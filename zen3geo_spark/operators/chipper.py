"""Fixed-stride chip/tile slicing: XbatcherSlicer re-expressed as grid math.

Reference semantics (/root/reference/zen3geo/datapipes/xbatcher.py:105-116):
``input_dims`` is the window size per dim, ``input_overlap`` the overlap
(stride = window − overlap); trailing partial windows are DROPPED —
chips-per-dim = floor((size − window)/stride) + 1. Goldens: a (3,128,128)
scene with window {y:64,x:64} → exactly 4 chips
(tests/test_datapipes_xbatcher.py:31); two (1024,1536) scenes at window 512
→ 12 chips, overlap 256 → 30 chips (docs/chipping.md:137-184).

Everything here is pure DataFrame math — ``explode(sequence(...))`` for the
chip grid, floor-division for non-overlapping pixel→chip assignment
(zero-shuffle until the per-chip aggregation), bounded candidate explode
for overlapping windows. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _n_chips(size: Column, window: int, stride: int) -> Column:
    """floor((size - window)/stride) + 1; 0 when the scene is too small."""
    return F.when(size < window, F.lit(0)).otherwise(
        F.floor((size - F.lit(window)) / F.lit(stride)).cast("int") + F.lit(1)
    )


def _chip_id(dims: list[str]) -> Column:
    """Row-major chip id over ``dims`` (xbatcher's nested generator
    order, xbatcher.py:105-110): chip_<d0> * n_chips_<d1> + chip_<d1> ..."""
    cid = F.col(f"chip_{dims[0]}")
    for d in dims[1:]:
        cid = cid * F.col(f"n_chips_{d}") + F.col(f"chip_{d}")
    return cid.cast("long").alias("chip_id")


def _strides(windows: dict[str, int],
             overlaps: dict[str, int] | None) -> dict[str, int]:
    strides = {d: w - (overlaps or {}).get(d, 0) for d, w in windows.items()}
    if any(s <= 0 for s in strides.values()):
        raise ValueError("input_overlap must be smaller than input_dims")
    return strides


def chip_grid_nd(scenes_meta: DataFrame, windows: dict[str, int],
                 overlaps: dict[str, int] | None = None) -> DataFrame:
    """N-dimensional chip grid — xbatcher's arbitrary ``input_dims``
    (reference xbatcher.py:105-110: any subset of dims may be windowed;
    unwindowed dims ride whole). ``scenes_meta`` needs one ``n_<dim>``
    size column per windowed dim. Output: (scene_id, chip_id, chip_<dim>
    per dim, <dim>0 per dim, n_chips_<dim> per dim) with a row-major
    ``chip_id`` over the dims in ``windows`` order. Pure
    explode(sequence(...)) — no UDF, no shuffle.
    """
    strides = _strides(windows, overlaps)
    dims = list(windows)
    g = scenes_meta.select(
        "*", *[_n_chips(F.col(f"n_{d}"), windows[d], strides[d])
               .alias(f"n_chips_{d}") for d in dims])
    for d in dims:
        g = g.select(
            "*", F.explode(F.sequence(F.lit(0), F.col(f"n_chips_{d}") - 1))
            .alias(f"chip_{d}"))
    return g.select(
        "scene_id", _chip_id(dims),
        *[f"chip_{d}" for d in dims],
        *[(F.col(f"chip_{d}") * F.lit(strides[d])).alias(f"{d}0")
          for d in dims],
        *[f"n_chips_{d}" for d in dims],
    )


def assign_chips_nd(pixels: DataFrame, scenes_meta: DataFrame,
                    windows: dict[str, int],
                    overlaps: dict[str, int] | None = None) -> DataFrame:
    """N-dim chip assignment: tag each long-form pixel row (one
    ``<dim>_idx`` column per windowed dim) with its containing chip(s),
    mirroring :func:`chip_grid_nd`'s row-major chip_id. Output: the pixel
    columns + chip_<dim> per dim, chip_id, in_chip_<dim> per dim.

    Non-overlapping dims are pure floor division (NO join fan-out beyond
    the broadcast meta and NO shuffle — chip assignment rides along with
    the scan); overlapping dims explode into their ≤ceil(window/stride)
    candidate chips. Pixels in dropped trailing partial windows get no
    chip.
    """
    strides = _strides(windows, overlaps)
    dims = list(windows)
    meta = scenes_meta.select(
        "scene_id",
        *[_n_chips(F.col(f"n_{d}"), windows[d], strides[d]).alias(f"n_chips_{d}")
          for d in dims],
    )
    px = pixels.join(F.broadcast(meta), "scene_id")
    for d in dims:
        w, s = windows[d], strides[d]
        # candidate chip range: ceil((idx - window + 1)/stride) .. idx//stride
        lo = F.greatest(F.ceil((F.col(f"{d}_idx") - F.lit(w) + 1) / F.lit(s)).cast("int"),
                        F.lit(0))
        hi = F.least(F.floor(F.col(f"{d}_idx") / F.lit(s)).cast("int"),
                     F.col(f"n_chips_{d}") - 1)
        # guard: Spark's sequence(a,b) runs BACKWARD when a > b; an empty
        # candidate range must yield no rows (explode of NULL drops the row)
        px = px.select(
            "*",
            F.explode(F.when(lo <= hi, F.sequence(lo, hi))).alias(f"chip_{d}"),
        )
    return px.select(
        pixels["*"],
        *[F.col(f"chip_{d}") for d in dims],
        _chip_id(dims),
        *[(F.col(f"{d}_idx") - F.col(f"chip_{d}") * F.lit(strides[d])).alias(f"in_chip_{d}")
          for d in dims],
    )


def chip_grid(scenes_meta: DataFrame, window_y: int, window_x: int,
              overlap_y: int = 0, overlap_x: int = 0) -> DataFrame:
    """2-D :func:`chip_grid_nd` over (scene_id, n_y, n_x) metadata.

    Output: (scene_id, chip_id, chip_y, chip_x, y0, x0, n_chips_y,
    n_chips_x) with chip_id = chip_y * n_chips_x + chip_x.
    """
    return chip_grid_nd(scenes_meta, {"y": window_y, "x": window_x},
                        {"y": overlap_y, "x": overlap_x})


def assign_chips(pixels: DataFrame, scenes_meta: DataFrame, window_y: int,
                 window_x: int, overlap_y: int = 0, overlap_x: int = 0) -> DataFrame:
    """2-D :func:`assign_chips_nd` over (y_idx, x_idx) pixel rows."""
    return assign_chips_nd(pixels, scenes_meta, {"y": window_y, "x": window_x},
                           {"y": overlap_y, "x": overlap_x})


def chip_stats(chipped: DataFrame) -> DataFrame:
    """Per-chip pixel count + value sum (the golden-check aggregation)."""
    return chipped.groupBy("scene_id", "chip_id").agg(
        F.count("*").alias("n_px"), F.sum("value").alias("sum_val")
    )
