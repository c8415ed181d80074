"""Vector→raster burn: the DatashaderRasterizer re-expressed for Spark.

Reference semantics (/root/reference/zen3geo/datapipes/datashader.py:28-259):
length contract (:176-185), CRS checks (:194-212), geometry-type dispatch
with default aggs points→count / lines→any / polygons→any (:49-55,228-242),
bool→uint8 (:244-246), north-up output affine e<0 (:249-253).

Pixel-exact kernels (reverse-engineered against the reference's golden sums
Point=3 / Line=13 / Polygon=15, tests/test_datapipes_datashader.py:77-104):

* points — ``floor((v - vmin)/(vmax - vmin) * n)`` with the max edge snapped
  to the last pixel (datashader ``map_onto_pixel``). Pure SQL: stays inside
  whole-stage codegen, shuffles once for the groupBy(pixel) count.
* lines — integer Bresenham between edge-snapped endpoint pixels
  (datashader ``draw_segment``), per-canvas grouped applyInPandas.
* polygons — winding-number test at the integer pixel lattice in canvas
  coordinates shifted by −0.5 (pixel centers), half-open edge rule
  ``y0c < yi <= y1c``, horizontal edges skipped (datashader
  ``draw_polygon``), per-canvas grouped applyInPandas.

Output is a long-form raster ``(canvas_id, row, col, value)`` where row 0 is
the NORTH row (equivalent to the reference's final reproject to affine
e=-0.5) plus pixel-center coordinates; use :func:`pixel_coords` to attach
them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RASTER_SCHEMA = "canvas_id long, row int, col int, value double"

DEFAULT_AGG = {"multipoint": "count", "point": "count",
               "linestring": "any", "line": "any",
               "polygon": "any", "multipolygon": "any"}

_POINT_TYPES = {"multipoint", "point"}
_LINE_TYPES = {"linestring", "line", "multilinestring"}
_POLY_TYPES = {"polygon", "multipolygon"}


def validate_rasterize_inputs(canvas_df: DataFrame, geoms_df: DataFrame) -> tuple[int, int, str]:
    """Plan-time contract checks mirroring the reference's errors.

    Returns (n_canvas, n_vector_sets, geom_kind). The reference raises these
    at stream-iteration time (datashader.py:176-226); Spark's analogue is
    plan-build time — same exception types and messages so tests transfer.
    ONE aggregated pass per input table (counts, null-crs tallies, distinct
    geometry kinds, vector-set count all ride one aggregate each) instead
    of a driver action per check — at 100 TB the checks cost two small
    jobs; ``validate=False`` skips the checks and runs one small job for
    the kinds and the vector-set count.
    """
    crow = canvas_df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.col("crs").isNull().cast("int")), F.lit(0)).alias("nullcrs"),
    ).collect()[0]
    n_canvas = crow["n"]
    vset = "vset_id" if "vset_id" in geoms_df.columns else None
    aggs = [
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.col("crs").isNull().cast("int")), F.lit(0)).alias("nullcrs"),
        F.collect_set("geom_type").alias("kinds"),
    ]
    if vset:
        aggs.append(F.countDistinct(vset).alias("nv"))
    grow = geoms_df.agg(*aggs).collect()[0]
    n_vec = grow["nv"] if vset else min(grow["n"], 1)
    if n_vec > 1 and n_vec != n_canvas:
        raise ValueError(
            f"Unmatched lengths for the canvas datapipe ({n_canvas}) and "
            f"vector datapipe ({n_vec})"
        )
    if crow["nullcrs"] > 0:
        raise AttributeError(
            "Missing crs information for datashader.Canvas; please set it "
            "(e.g. canvas.crs = 'OGC:CRS84')"
        )
    if grow["nullcrs"] > 0:
        raise AttributeError(
            "Missing crs information for input geometries (geopandas.GeoSeries)"
        )
    kinds = list(grow["kinds"])
    if any(k == "geometrycollection" for k in kinds):
        raise NotImplementedError(
            "Unsupported geometry type: GeometryCollection"
        )
    if not kinds:
        raise ValueError(
            "Cannot infer spatialpandas geometry type from empty input"
        )
    kind_sets = {("point" if k in _POINT_TYPES else "line" if k in _LINE_TYPES else
                  "polygon" if k in _POLY_TYPES else k) for k in kinds}
    if len(kind_sets) > 1:
        raise NotImplementedError(f"Unsupported mixed geometry types: {kinds}")
    return n_canvas, n_vec, kind_sets.pop()


def _paired(canvas_df: DataFrame, geoms_df: DataFrame, n_vec: int) -> DataFrame:
    """Broadcast-1 (zip_longest fill, datashader.py:188-191) or N:N pairing
    on vset_id == canvas_id."""
    if n_vec <= 1:
        from zen3geo_spark.operators._util import pair_all
        return pair_all(canvas_df, geoms_df.drop("vset_id", "crs"))
    return canvas_df.join(
        F.broadcast(geoms_df.drop("crs")),
        on=canvas_df["canvas_id"] == geoms_df["vset_id"],
    ).drop("vset_id")


def rasterize(canvas_df: DataFrame, geoms_df: DataFrame, agg: str | None = None,
              validate: bool = True, value_col: str | None = None) -> DataFrame:
    """Burn geometries onto canvases → long-form raster (north-up rows).

    ``agg`` mirrors the reference's pluggable datashader reduction
    (datashader.py:49-55,228-242) for EVERY geometry kind: points support
    count/any/sum/mean/max/min; lines/polygons support any (presence),
    count (geometries covering the pixel), and sum/mean/max/min of
    ``value_col`` — a per-geometry scalar (road speed, polygon attribute)
    reduced over the geometries whose burn covers each pixel, matching
    datashader's value-carrying reductions.
    """
    if validate:
        _, n_vec, kind = validate_rasterize_inputs(canvas_df, geoms_df)
    else:
        # one small job for the kinds and, as validate=True pairs them, the
        # number of vector sets (N:N on vset_id, else every canvas)
        aggs = [F.collect_set("geom_type").alias("kinds")]
        if "vset_id" in geoms_df.columns:
            aggs.append(F.countDistinct("vset_id").alias("nv"))
        row = geoms_df.agg(*aggs).collect()[0]
        n_vec = row["nv"] if "vset_id" in geoms_df.columns else 1
        kinds = row["kinds"]
        kind = ("point" if kinds[0] in _POINT_TYPES else
                "line" if kinds[0] in _LINE_TYPES else "polygon")
    agg = agg or DEFAULT_AGG.get(kind, "count" if kind == "point" else "any")
    pairs = _paired(canvas_df, geoms_df, n_vec)
    if kind == "point":
        return _rasterize_points_sql(pairs, agg, value_col)
    if agg in ("mean", "max", "min") and value_col is None:
        raise ValueError(f"line/polygon agg '{agg}' requires value_col "
                         "(a per-geometry scalar)")
    kernel = _line_kernel if kind == "line" else _polygon_kernel
    # group per (canvas, geometry): a canvas with many geometries burns in
    # parallel tasks and the pixel-level aggregate below merges them —
    # identical output to a per-canvas group, one less skew shape (a
    # single giant geometry would still need a row-block sub-key)
    vcol = value_col if agg in ("sum", "mean", "max", "min") else None
    burned = pairs.groupBy("canvas_id", "geom_id").applyInPandas(
        _make_grouped_kernel(kernel, vcol), schema=RASTER_SCHEMA
    )
    finals = {
        "any": F.lit(1.0),
        "count": F.count("*").cast("double"),
        "sum": F.sum("value"),
        "mean": F.avg("value"),
        "max": F.max("value"),
        "min": F.min("value"),
    }
    if agg not in finals:
        raise ValueError(f"unsupported line/polygon agg '{agg}'")
    # sum without value_col keeps the legacy coverage-count semantics
    # (each burned pixel row carries value 1.0)
    return burned.groupBy("canvas_id", "row", "col").agg(
        finals[agg].alias("value")
    )


_POINT_AGGS = {
    "count": lambda v: F.count("*").cast("double"),
    "any": lambda v: F.lit(1.0),
    "sum": lambda v: F.sum(v),
    "mean": lambda v: F.avg(v),
    "max": lambda v: F.max(v),
    "min": lambda v: F.min(v),
}


def _rasterize_points_sql(pairs: DataFrame, agg: str,
                          value_col: str | None = None) -> DataFrame:
    """Pure-SQL point binning: explode → affine floor-bin w/ edge snap →
    groupBy pixel. No Python in the hot path; one shuffle (map-side
    partial aggregation for every supported reduction)."""
    if agg not in _POINT_AGGS:
        raise ValueError(f"unsupported point agg '{agg}'")
    if agg in ("sum", "mean", "max", "min") and value_col is None:
        if agg == "sum":
            value_col = None  # sum of implicit ones == count
            agg = "count"
        else:
            raise ValueError(f"point agg '{agg}' requires value_col")
    vcols = [F.col(value_col).alias("_val")] if value_col else []
    pts = pairs.select(
        "canvas_id", "width", "height", "xmin", "ymin", "xmax", "ymax",
        *vcols,
        F.explode(F.flatten("parts")).alias("pt"),
    )
    fx = (F.col("pt.x") - F.col("xmin")) / (F.col("xmax") - F.col("xmin")) * F.col("width")
    fy = (F.col("pt.y") - F.col("ymin")) / (F.col("ymax") - F.col("ymin")) * F.col("height")
    xi = F.least(F.floor(fx).cast("int"), F.col("width") - 1)
    yi = F.least(F.floor(fy).cast("int"), F.col("height") - 1)
    binned = (
        pts.withColumn("col", xi)
        .withColumn("yi", yi)
        .filter((F.col("col") >= 0) & (F.col("col") < F.col("width"))
                & (F.col("yi") >= 0) & (F.col("yi") < F.col("height")))
        .withColumn("row", F.col("height") - 1 - F.col("yi"))
    )
    return binned.groupBy("canvas_id", "row", "col").agg(
        _POINT_AGGS[agg]("_val").alias("value")
    )


# ---------------------------------------------------------------------------
# numpy kernels (vectorized inside grouped applyInPandas)
# ---------------------------------------------------------------------------

def _snap_px(v: np.ndarray, vmin: float, vmax: float, n: int) -> np.ndarray:
    out = np.floor((v - vmin) / (vmax - vmin) * n).astype(np.int64)
    return np.minimum(out, n - 1)


def _bresenham(x0: int, y0: int, x1: int, y1: int) -> np.ndarray:
    """Integer Bresenham pixel walk, vectorized per segment (matches
    datashader draw_segment; verified against the Line=13 golden)."""
    dx, dy = abs(x1 - x0), abs(y1 - y0)
    sx, sy = (1 if x0 < x1 else -1), (1 if y0 < y1 else -1)
    if dx >= dy:
        k = np.arange(dx + 1)
        if dx == 0:
            return np.array([[x0, y0]])
        # err starts at dx//2, decremented by dy per step; y advances when
        # err < 0: after k steps y moved m(k) = ceil((k*dy - dx//2)/dx) times
        m = np.maximum(0, -(-(k * dy - dx // 2) // dx))
        xs = x0 + sx * k
        ys = y0 + sy * m
    else:
        k = np.arange(dy + 1)
        m = np.maximum(0, -(-(k * dx - dy // 2) // dy))
        ys = y0 + sy * k
        xs = x0 + sx * m
    return np.stack([xs, ys], axis=1)


def _line_kernel(width, height, xmin, ymin, xmax, ymax, parts) -> np.ndarray:
    """All pixels covered by the polyline parts → (col, yi) array."""
    out = []
    for part in parts:
        xs = np.fromiter((p["x"] for p in part), dtype=np.float64)
        ys = np.fromiter((p["y"] for p in part), dtype=np.float64)
        px = _snap_px(xs, xmin, xmax, width)
        py = _snap_px(ys, ymin, ymax, height)
        for i in range(len(px) - 1):
            out.append(_bresenham(px[i], py[i], px[i + 1], py[i + 1]))
    if not out:
        return np.empty((0, 2), dtype=np.int64)
    pix = np.concatenate(out)
    keep = (pix[:, 0] >= 0) & (pix[:, 0] < width) & (pix[:, 1] >= 0) & (pix[:, 1] < height)
    return np.unique(pix[keep], axis=0)


def _polygon_kernel(width, height, xmin, ymin, xmax, ymax, parts) -> np.ndarray:
    """Winding-number fill at the −0.5-shifted integer lattice (pixel
    centers), vectorized over the polygon's bbox pixels × edges.
    Verified against the Polygon=15 golden."""
    sx = width / (xmax - xmin)
    sy = height / (ymax - ymin)
    e0, e1, einc = [], [], []
    gxmin = gymin = np.inf
    gxmax = gymax = -np.inf
    for ring in parts:
        xs = np.fromiter((p["x"] for p in ring), dtype=np.float64)
        ys = np.fromiter((p["y"] for p in ring), dtype=np.float64)
        gxmin, gxmax = min(gxmin, xs.min()), max(gxmax, xs.max())
        gymin, gymax = min(gymin, ys.min()), max(gymax, ys.max())
        xc = (xs - xmin) * sx - 0.5
        yc = (ys - ymin) * sy - 0.5
        x0, y0 = xc, yc
        x1, y1 = np.roll(xc, -1), np.roll(yc, -1)
        up = y1 > y0
        dn = y1 < y0
        for lo_x, lo_y, hi_x, hi_y, inc in (
            (x0[up], y0[up], x1[up], y1[up], 1),
            (x1[dn], y1[dn], x0[dn], y0[dn], -1),
        ):
            for j in range(len(lo_x)):
                e0.append((lo_x[j], lo_y[j]))
                e1.append((hi_x[j], hi_y[j]))
                einc.append(inc)
    if not e0:
        return np.empty((0, 2), dtype=np.int64)
    e0 = np.asarray(e0)  # (E,2) lower-y endpoint
    e1 = np.asarray(e1)  # (E,2) upper-y endpoint
    einc = np.asarray(einc)

    startx, starty = _snap_px(np.array([max(gxmin, xmin)]), xmin, xmax, width)[0], \
        _snap_px(np.array([max(gymin, ymin)]), ymin, ymax, height)[0]
    stopx = _snap_px(np.array([min(gxmax, xmax)]), xmin, xmax, width)[0] + 1
    stopy = _snap_px(np.array([min(gymax, ymax)]), ymin, ymax, height)[0] + 1
    xi = np.arange(max(startx, 0), min(stopx, width))
    yi = np.arange(max(starty, 0), min(stopy, height))
    if len(xi) == 0 or len(yi) == 0:
        return np.empty((0, 2), dtype=np.int64)
    XI, YI = np.meshgrid(xi, yi)  # (Y,X)
    # (Y,X,E) eligibility: edge covers row if y0c < yi <= y1c
    y0c = e0[:, 1][None, None, :]
    y1c = e1[:, 1][None, None, :]
    x0c = e0[:, 0][None, None, :]
    x1c = e1[:, 0][None, None, :]
    Y = YI[:, :, None]
    X = XI[:, :, None]
    covers = (y0c < Y) & (Y <= y1c)
    left = (X > x0c) & (X > x1c)
    cross = (x1c - x0c) * (Y - y0c) - (y1c - y0c) * (X - x0c)
    hit = covers & (left | (cross < 0))
    wn = (hit * einc[None, None, :]).sum(axis=2)
    ys_in, xs_in = np.nonzero(wn != 0)
    return np.stack([XI[ys_in, xs_in], YI[ys_in, xs_in]], axis=1)


def _make_grouped_kernel(kernel, value_col: str | None = None):
    """Grouped burn kernel; with ``value_col`` each burned pixel row
    carries its geometry's scalar value (for sum/mean/max/min pixel
    reductions), else 1.0 (presence/count)."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for r in pdf.itertuples(index=False):
            pix = kernel(int(r.width), int(r.height), float(r.xmin), float(r.ymin),
                         float(r.xmax), float(r.ymax), r.parts)
            if len(pix):
                val = float(getattr(r, value_col)) if value_col else 1.0
                rows.append(
                    pd.DataFrame({
                        "canvas_id": np.full(len(pix), r.canvas_id, dtype=np.int64),
                        "row": (int(r.height) - 1 - pix[:, 1]).astype(np.int32),
                        "col": pix[:, 0].astype(np.int32),
                        "value": np.full(len(pix), val),
                    })
                )
        if not rows:
            return pd.DataFrame({"canvas_id": pd.Series([], dtype="int64"),
                                 "row": pd.Series([], dtype="int32"),
                                 "col": pd.Series([], dtype="int32"),
                                 "value": pd.Series([], dtype="float64")})
        return pd.concat(rows, ignore_index=True)

    return run


def pixel_coords(raster: DataFrame, canvas_df: DataFrame) -> DataFrame:
    """Attach pixel-center x/y coordinates (north-up affine, e<0)."""
    c = F.broadcast(canvas_df.select("canvas_id", "width", "height",
                                     "xmin", "ymin", "xmax", "ymax"))
    j = raster.join(c, "canvas_id")
    resx = (F.col("xmax") - F.col("xmin")) / F.col("width")
    resy = (F.col("ymax") - F.col("ymin")) / F.col("height")
    return j.select(
        "canvas_id", "row", "col", "value",
        (F.col("xmin") + (F.col("col") + F.lit(0.5)) * resx).alias("x"),
        (F.col("ymax") - (F.col("row") + F.lit(0.5)) * resy).alias("y"),
    )


# ---------------------------------------------------------------------------
# spread (datashader's post-rasterize pixel dilation)
# ---------------------------------------------------------------------------

SPREAD_HOWS = ("add", "max", "min")


def spread(img: DataFrame, width: int, height: int, px: int = 1,
           how: str = "add") -> DataFrame:
    """Datashader ``tf.spread`` semantics on a long-form sparse raster
    (``row``, ``col``, ``value``): every non-empty pixel contributes its
    value to all pixels within Chebyshev distance ``px``, combined with
    ``how`` (add/max/min — datashader's composite ops), clipped to the
    canvas. Empty pixels stay absent (sparse in, sparse out).

    Scale shape: a map-side (2px+1)² offset explode + one partial-
    aggregating groupBy(row, col) — same shuffle class as the rasterize
    bin itself; no join. Values are integer-valued doubles (bin counts),
    so the ``add`` sums are order-exact.
    """
    if how not in SPREAD_HOWS:
        # mirrors datashader's validate-early contract for bad kwargs
        raise ValueError(f"how must be one of {SPREAD_HOWS}, got {how!r}")
    if px < 0:
        raise ValueError(f"px must be >= 0, got {px}")
    offs = (f"flatten(transform(sequence({-px}, {px}), "
            f"dy -> transform(sequence({-px}, {px}), "
            f"dx -> struct(dy, dx))))")
    e = img.select("row", "col", "value",
                   F.explode(F.expr(offs)).alias("_o"))
    e = e.select((F.col("row") + F.col("_o.dy")).alias("row"),
                 (F.col("col") + F.col("_o.dx")).alias("col"), "value")
    e = e.filter((F.col("row") >= 0) & (F.col("row") < height)
                 & (F.col("col") >= 0) & (F.col("col") < width))
    agg = {"add": F.sum, "max": F.max, "min": F.min}[how]
    return e.groupBy("row", "col").agg(agg("value").alias("value"))


def spread_sql_duckdb(img_rel: str, width: int, height: int, px: int = 1,
                      how: str = "add") -> str:
    """DuckDB twin of :func:`spread` over a relation/CTE exposing
    (row, col, value) — same offsets, same clip, same combine."""
    if how not in SPREAD_HOWS:
        raise ValueError(f"how must be one of {SPREAD_HOWS}, got {how!r}")
    agg = {"add": "sum", "max": "max", "min": "min"}[how]
    return f"""
select s.row + dy.d as row, s.col + dx.d as col, {agg}(s.value) as value
from {img_rel} s,
     range({-px}, {px + 1}) dy(d), range({-px}, {px + 1}) dx(d)
where s.row + dy.d between 0 and {height - 1}
  and s.col + dx.d between 0 and {width - 1}
group by 1, 2
"""
