"""Geospatial scalar functions: geotag extraction, hierarchical cell index,
reprojection, geohash and hex binning.

Design rule: every function that participates in a DuckDB-oracle query is
defined ONCE as an engine-parameterized SQL template so the Spark plan
(`F.expr(...)`) and the oracle SQL are guaranteed to share the exact same
arithmetic (integer fixed-point where possible → bit-exact parity).

The cell index is an H3/S2-style hierarchical quad grid (SURVEY.md §7):
at resolution ``r`` the globe is a ``2^r × 2^r`` lat/lon grid;
``cell = 2^(2r) + iy * 2^r + ix`` (the leading term disambiguates
resolutions, like H3's resolution bits). Parent = integer-halve the (iy,ix)
pair. Exactness, not H3 bit-compatibility, is the contract
(reference semantics are grid math — /root/reference/zen3geo/datapipes/
datashader.py:352-368 canvas grids, xbatcher.py:105-116 chip grids).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic geotag grammar used by the synthetic pages table and the
# extractor. 6-decimal fixed point; the extractor must skip malformed tags.
LAT_LON_PATTERN = r"lat=(-?\d+\.\d{6}) lon=(-?\d+\.\d{6})"

# engine token: integer division differs between engines
_DIV = {"spark": " div ", "duckdb": " // "}


def sql_int_div(engine: str) -> str:
    return _DIV[engine]


# ---------------------------------------------------------------------------
# cell index (integer fixed-point: micro-degrees in, bigint cell out)
# ---------------------------------------------------------------------------

# the finest grid the engine serves: ~19 m x 38 m cells at the equator,
# still ~170 micro-degree input quanta per cell side; the integer math
# itself stays exact to res 30 (see cell_iy_sql)
MAX_RES = 20


def cell_iy_sql(lat_micro: str, res: int, engine: str) -> str:
    """Row index of the lat/lon quad grid at resolution ``res``.

    Integer-only: ((lat_micro + 90e6) * 2^res) // (180e6 + 1).  The +1
    denominator maps lat=+90 exactly to the last row without a clip.
    Safe for res <= 30 (1.8e8 * 2^30 < 2^63).
    """
    d = _DIV[engine]
    return f"(({lat_micro} + 90000000) * {1 << res}){d}180000001"


def cell_ix_sql(lon_micro: str, res: int, engine: str) -> str:
    d = _DIV[engine]
    return f"(({lon_micro} + 180000000) * {1 << res}){d}360000001"


def cell_id_sql(lat_micro: str, lon_micro: str, res: int, engine: str) -> str:
    iy = cell_iy_sql(lat_micro, res, engine)
    ix = cell_ix_sql(lon_micro, res, engine)
    return f"({1 << (2 * res)} + ({iy}) * {1 << res} + ({ix}))"


def split_antimeridian_bbox(
        min_lon_us: int, max_lon_us: int) -> list[tuple[int, int]]:
    """Normalize a possibly antimeridian-crossing longitude interval
    into 1–2 non-wrapping [lo, hi] intervals. A bbox given as
    (min_lon=170°, max_lon=-170°) means the 20° strip ACROSS the
    dateline; a naive BETWEEN silently matches the 340° complement
    instead. Planning-time (driver) helper — the output intervals feed
    ordinary pushdown-able range predicates."""
    if min_lon_us <= max_lon_us:
        return [(min_lon_us, max_lon_us)]
    return [(min_lon_us, 180_000_000), (-180_000_000, max_lon_us)]


def cell_parent_sql(cell: str, res: int, parent_res: int, engine: str) -> str:
    """Engine-neutral SQL twin of :func:`cell_parent` (non-negative
    bigint math only, so plain integer division is exact in both
    dialects)."""
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} must be <= res {res}")
    d = _DIV[engine]
    body = f"(({cell}) - {1 << (2 * res)})"
    iy = f"({body}{d}{1 << res})"
    ix = f"({body} - {iy} * {1 << res})"
    shift = res - parent_res
    piy = f"({iy}{d}{1 << shift})"
    pix = f"({ix}{d}{1 << shift})"
    return f"({1 << (2 * parent_res)} + {piy} * {1 << parent_res} + {pix})"


def cell_encode(lat_micro: Column | str, lon_micro: Column | str, res: int) -> Column:
    """Spark Column: hierarchical cell id from micro-degree ints."""
    if res > MAX_RES:
        raise ValueError(f"res {res} exceeds MAX_RES {MAX_RES}")
    lat_micro = F.col(lat_micro) if isinstance(lat_micro, str) else lat_micro
    lon_micro = F.col(lon_micro) if isinstance(lon_micro, str) else lon_micro
    # Spark's integer div, the operator cell_iy_sql / cell_ix_sql emit
    iy = F.call_function("div", (lat_micro + F.lit(90000000)).cast("long")
                         * F.lit(1 << res), F.lit(180000001))
    ix = F.call_function("div", (lon_micro + F.lit(180000000)).cast("long")
                         * F.lit(1 << res), F.lit(360000001))
    return (F.lit(1 << (2 * res)) + iy * F.lit(1 << res) + ix).cast("long")


def cell_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell at a coarser resolution (pure bigint math)."""
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} must be <= res {res}")
    body = cell - F.lit(1 << (2 * res))
    iy = F.call_function("div", body, F.lit(1 << res))
    ix = body - iy * F.lit(1 << res)
    shift = res - parent_res
    piy = F.call_function("div", iy, F.lit(1 << shift))
    pix = F.call_function("div", ix, F.lit(1 << shift))
    return (F.lit(1 << (2 * parent_res)) + piy * F.lit(1 << parent_res) + pix).cast(
        "long"
    )


def cell_iy_ix(cell: Column, res: int) -> tuple[Column, Column]:
    body = cell - F.lit(1 << (2 * res))
    iy = F.call_function("div", body, F.lit(1 << res))
    ix = (body - iy * F.lit(1 << res)).cast("long")
    return iy, ix


def cell_neighbors(cell: Column, res: int) -> Column:
    """Array of the 3x3 ring of cells around ``cell`` (kNN candidate ring).

    Edge rows clamp; longitude wraps (the grid is cylindrical).
    """
    n = 1 << res
    iy, ix = cell_iy_ix(cell, res)
    out = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            ny = F.greatest(F.lit(0), F.least(F.lit(n - 1), iy + F.lit(dy)))
            nx = (ix + F.lit(dx) + F.lit(n)) % F.lit(n)
            out.append(F.lit(1 << (2 * res)) + ny * F.lit(n) + nx)
    return F.array_distinct(F.array(*out))


# ---------------------------------------------------------------------------
# geotag extraction (the byte-identical-per-url invariant, BASELINE.json:15)
# ---------------------------------------------------------------------------

def extract_first_geotag(text: Column) -> tuple[Column, Column]:
    """JVM fast path: first well-formed geotag as (lat_str, lon_str).

    Returns empty string when no tag matches (regexp_extract contract).
    """
    return (
        F.regexp_extract(text, LAT_LON_PATTERN, 1),
        F.regexp_extract(text, LAT_LON_PATTERN, 2),
    )


def extract_all_geotags(text: Column) -> Column:
    """All well-formed geotags as array<struct<lat_str,lon_str>>."""
    pairs = F.regexp_extract_all(text, F.lit(LAT_LON_PATTERN), 0)
    return F.transform(
        pairs,
        lambda m: F.struct(
            F.regexp_extract(m, LAT_LON_PATTERN, 1).alias("lat_str"),
            F.regexp_extract(m, LAT_LON_PATTERN, 2).alias("lon_str"),
        ),
    )


def extract_points_arrow(pages):
    """Arrow-vectorized scan→points: (url, text) → (point_id, lat_us,
    lon_us) via mapInPandas.

    This is the 100 TB scan path the north star describes ("geolocations
    extracted from page text via vectorized Arrow UDFs"): the Python node
    materializes the extracted columns once, so downstream cell-encode /
    bbox / refine references are plain attribute reads.

    The JVM scan projects the page id and the first geotag SUBSTRING
    (``regexp_extract`` in whole-stage codegen) and drops tagless and
    id-less rows BEFORE the Arrow hop, so Python receives ~30 bytes per
    surviving row instead of the full page text — projection/selection
    pushdown applied to a UDF boundary (measured 2.4x end-to-end on 1.6M
    pages against shipping the full text). The semantic parse — group
    split + exact fixed-point conversion — runs in the vectorized Arrow
    kernel, which re-reads the JVM-matched tag with the same
    ``LAT_LON_PATTERN`` (ASCII digits, dot and minus only, so Java and
    Python ``re`` agree on it). No shuffle.
    """
    import re as _re

    import pandas as pd

    pat = _re.compile(LAT_LON_PATTERN)
    pre = pages.select(
        F.regexp_extract("url", r"/page/(\d+)", 1).try_cast("long")
        .alias("point_id"),
        F.regexp_extract("text", LAT_LON_PATTERN, 0).alias("tag"),
    ).filter((F.col("tag") != "") & F.col("point_id").isNotNull())

    def run_tag(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ext = pdf["tag"].str.extract(pat, expand=True)
            # exact for the grammar's -?\d+\.\d{6} strings in ±180:
            # double parse error ≤ ulp(180) ≈ 3e-14, ×1e6 → ≤ 3e-8, far
            # below the 0.5 rounding margin
            yield pd.DataFrame({
                "point_id": pdf["point_id"].to_numpy(),
                "lat_us": (pd.to_numeric(ext[0]) * 1e6).round()
                .astype("int64"),
                "lon_us": (pd.to_numeric(ext[1]) * 1e6).round()
                .astype("int64"),
            })

    return pre.mapInPandas(
        run_tag, schema="point_id long, lat_us long, lon_us long")


def micro_from_str(s: Column) -> Column:
    """'12.345678' -> 12345678 micro-degrees (exact fixed-point parse).

    Input contract: ``s`` must be an exact ``-?\\d+\\.\\d{6}`` string (the
    geotag grammar's capture groups) or '' / NULL → NULL. Strings with
    surrounding text yield NULL (no embedded-match extraction), and extra
    fractional digits would ROUND under the decimal cast — callers feed
    regexp capture groups, which can't produce either.

    References ``s`` exactly ONCE. Callers compose this onto expensive
    extraction expressions (regexp over the full page text) and Catalyst
    inlines every reference when collapsing projections — the previous
    sign/int/frac regexp split evaluated the upstream extraction 3x per
    coordinate (observed: 22 copies of the page regexp in one collapsed
    projection). decimal(10,6) holds +-180.000000 exactly; *1e6 and the
    bigint cast are exact; try_cast is ANSI-safe for '' (NULL).
    """
    return (s.try_cast("decimal(10,6)") * F.lit(1000000)).cast("long")


def micro_from_str_sql(s: str, engine: str) -> str:
    """Same parse as :func:`micro_from_str`, as engine SQL."""
    return f"cast(try_cast({s} as decimal(10,6)) * 1000000 as bigint)"


def geotag_points(pages: DataFrame, *keep: str | Column) -> DataFrame:
    """Pages → ``keep`` columns + (lat_us, lon_us) of the first
    well-formed geotag; pages without one are dropped. The one JVM
    geotag kernel every page-point query shares.

    The tag strings are projected and filtered on before the parse, so
    the page regexp is evaluated once per coordinate for the filter and
    once for the projection (see :func:`micro_from_str`).
    """
    lat_s, lon_s = extract_first_geotag(F.col("text"))
    tagged = (pages.select(*keep, lat_s.alias("lat_str"),
                           lon_s.alias("lon_str"))
              .filter(F.col("lat_str") != ""))
    return tagged.select(
        *tagged.columns[:-2],
        micro_from_str(F.col("lat_str")).alias("lat_us"),
        micro_from_str(F.col("lon_str")).alias("lon_us"),
    )


# ---------------------------------------------------------------------------
# reprojection (the pluggable CRS kernel; public spherical-mercator math)
# ---------------------------------------------------------------------------

WEB_MERCATOR_R = 6378137.0  # WGS84 semi-major axis (EPSG:3857 sphere radius)


def mercator_x(lon_deg: Column) -> Column:
    """EPSG:4326 lon → EPSG:3857 x metres (spherical mercator forward)."""
    return F.lit(WEB_MERCATOR_R) * F.radians(lon_deg)


def mercator_y(lat_deg: Column) -> Column:
    """EPSG:4326 lat → EPSG:3857 y metres. Valid for |lat| < 90; the
    standard web-mercator clip is |lat| <= 85.051129 (callers filter)."""
    return F.lit(WEB_MERCATOR_R) * F.log(F.tan(F.radians(F.lit(45.0) + lat_deg / 2)))


def mercator_inv_lon(x_m: Column) -> Column:
    return F.degrees(x_m / F.lit(WEB_MERCATOR_R))


def mercator_inv_lat(y_m: Column) -> Column:
    return F.degrees(F.lit(2.0) * F.atan(F.exp(y_m / F.lit(WEB_MERCATOR_R)))) - F.lit(90.0)


def mercator_x_sql(lon_deg: str, engine: str) -> str:
    return f"({WEB_MERCATOR_R!r} * radians({lon_deg}))"


def mercator_y_sql(lat_deg: str, engine: str) -> str:
    return f"({WEB_MERCATOR_R!r} * ln(tan(radians(45.0 + ({lat_deg}) / 2))))"


# ---------------------------------------------------------------------------
# ellipsoidal transverse mercator (UTM) — Karney/Krüger 6th-order series
# (public formulas: Karney, "Transverse Mercator with an accuracy of a few
# nanometers", J. Geodesy 2011; the same series PROJ's tmerc uses). The
# reference reprojects chips to EPSG:32631 and asserts exact bounds
# (/root/reference/zen3geo/tests/test_datapipes_geopandas.py:93-156).
# ---------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
_TM_N = WGS84_F / (2 - WGS84_F)
TM_A = WGS84_A / (1 + _TM_N) * (1 + _TM_N**2 / 4 + _TM_N**4 / 64 + _TM_N**6 / 256)
TM_E = (WGS84_F * (2 - WGS84_F)) ** 0.5
_n = _TM_N
TM_ALPHA = [
    1/2*_n - 2/3*_n**2 + 5/16*_n**3 + 41/180*_n**4 - 127/288*_n**5 + 7891/37800*_n**6,
    13/48*_n**2 - 3/5*_n**3 + 557/1440*_n**4 + 281/630*_n**5 - 1983433/1935360*_n**6,
    61/240*_n**3 - 103/140*_n**4 + 15061/26880*_n**5 + 167603/181440*_n**6,
    49561/161280*_n**4 - 179/168*_n**5 + 6601661/7257600*_n**6,
    34729/80640*_n**5 - 3418889/1995840*_n**6,
    212378941/319334400*_n**6,
]
UTM_K0 = 0.9996
UTM_FE = 500000.0


def utm_lon0(zone: int) -> float:
    """Central meridian of a UTM zone (zone 31 → 3°E)."""
    return zone * 6.0 - 183.0


def tmerc_np(lat_deg, lon_deg, lon0: float):
    """NumPy UTM/TM forward: (easting, northing) for WGS84. Vectorized;
    used by the reprojecting clip kernel and the warp-grid planner."""
    import numpy as np

    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - lon0)
    t = np.sinh(np.arctanh(np.sin(lat)) - TM_E * np.arctanh(TM_E * np.sin(lat)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t**2 + np.cos(lam) ** 2))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, aj in enumerate(TM_ALPHA, start=1):
        xi = xi + aj * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta = eta + aj * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    return UTM_FE + UTM_K0 * TM_A * eta, UTM_K0 * TM_A * xi


TM_BETA = [
    1/2*_n - 2/3*_n**2 + 37/96*_n**3 - 1/360*_n**4 - 81/512*_n**5 + 96199/604800*_n**6,
    1/48*_n**2 + 1/15*_n**3 - 437/1440*_n**4 + 46/105*_n**5 - 1118711/3870720*_n**6,
    17/480*_n**3 - 37/840*_n**4 - 209/4480*_n**5 + 5569/90720*_n**6,
    4397/161280*_n**4 - 11/504*_n**5 - 830251/7257600*_n**6,
    4583/161280*_n**5 - 108847/3991680*_n**6,
    20648693/638668800*_n**6,
]


def tmerc_inv_np(easting, northing, lon0: float):
    """NumPy UTM/TM inverse (Karney β series + Newton refinement of the
    conformal latitude): (easting, northing) → (lat_deg, lon_deg).
    Round-trips the forward to ~1e-9 degrees (property-tested)."""
    import numpy as np

    xi = np.asarray(northing, dtype=np.float64) / (UTM_K0 * TM_A)
    eta = (np.asarray(easting, dtype=np.float64) - UTM_FE) / (UTM_K0 * TM_A)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, bj in enumerate(TM_BETA, start=1):
        xi_p = xi_p - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    # conformal latitude chi = atan(sin(xi')/sqrt(sinh(eta')^2+cos(xi')^2))
    chi = np.arctan2(np.sin(xi_p),
                     np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2))
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    # invert the conformal latitude: chi = f(phi); Newton on
    # t(phi) = sinh(atanh(sin phi) - e atanh(e sin phi))
    phi = chi.copy()
    tchi = np.tan(chi)
    for _ in range(6):
        s = np.sin(phi)
        t = np.sinh(np.arctanh(s) - TM_E * np.arctanh(TM_E * s))
        dt = (np.sqrt(1 + t**2) * (1 - TM_E**2) /
              ((1 - (TM_E * s) ** 2) * np.cos(phi)))
        phi = phi - (t - tchi) / dt
    return np.degrees(phi), lon0 + np.degrees(lam)


def mercator_np(lat_deg, lon_deg):
    """NumPy EPSG:3857 forward (spherical, same formula as the Columns)."""
    import numpy as np

    lat = np.asarray(lat_deg, dtype=np.float64)
    lon = np.asarray(lon_deg, dtype=np.float64)
    return (WEB_MERCATOR_R * np.radians(lon),
            WEB_MERCATOR_R * np.log(np.tan(np.radians(45.0 + lat / 2))))


def crs_forward_np(crs: str):
    """Dispatch a CRS string to its NumPy forward transform
    (lat, lon) → (x, y); identity for geographic CRS84/4326."""
    import re

    c = crs.upper()
    if c in ("OGC:CRS84", "EPSG:4326"):
        return lambda lat, lon: (lon, lat)
    if c == "EPSG:3857":
        return lambda lat, lon: mercator_np(lat, lon)
    m = re.fullmatch(r"EPSG:326(\d\d)", c)
    if m and 1 <= int(m.group(1)) <= 60:
        # 5-digit UTM-north codes only: a bare prefix test would misparse
        # 4-digit codes like EPSG:3266 as "zone 6" and silently reproject
        # with the wrong transform
        lon0 = utm_lon0(int(m.group(1)))
        return lambda lat, lon: tmerc_np(lat, lon, lon0)
    raise NotImplementedError(f"unsupported CRS {crs!r} (CRS84/4326, "
                              "EPSG:3857, EPSG:326xx supported)")


# ---------------------------------------------------------------------------
# object-detection box helpers
# ---------------------------------------------------------------------------

def polygon_bounds(parts: Column) -> Column:
    """Named geometry→bbox helper: struct(minx, miny, maxx, maxy) over all
    vertices of every ring/part — the ``gdf.geometry.bounds`` step of the
    reference's object-detection-boxes pipeline
    (/root/reference/docs/object-detection-boxes.md:319). Pure JVM array
    aggregates over the typed coordinate arrays; no Python."""
    flat = F.flatten(parts)
    return F.struct(
        F.array_min(F.transform(flat, lambda p: p["x"])).alias("minx"),
        F.array_min(F.transform(flat, lambda p: p["y"])).alias("miny"),
        F.array_max(F.transform(flat, lambda p: p["x"])).alias("maxx"),
        F.array_max(F.transform(flat, lambda p: p["y"])).alias("maxy"),
    )


def geo_to_image_coords(x: Column, y: Column, xmin: Column, ymax: Column,
                        resx: Column, resy: Column) -> tuple[Column, Column]:
    """Geo→image-pixel coordinates under a north-up affine (e<0): the
    ``~chip.rio.transform() * (x, y)`` step of the reference's
    object-detection-boxes pipeline
    (/root/reference/docs/object-detection-boxes.md:364). Returns
    fractional (col, row) — row grows southward from ``ymax``."""
    return (x - xmin) / resx, (ymax - y) / resy


def polygon_measures(polys: DataFrame, parts_col: str = "parts",
                     id_col: str = "geom_id") -> DataFrame:
    """Per-polygon area / centroid / perimeter over the engine's ring
    representation (``parts: array<array<struct<x,y>>>`` in integer
    micro-degrees) — the ``GeoSeries.area`` / ``.centroid`` /
    ``.length`` measures of the reference's geopandas layer
    (/root/reference/zen3geo/datapipes/geopandas.py consumes exactly
    these on clipped outputs), re-expressed as ordered higher-order
    folds over the outer ring in whole-stage codegen.

    Output per geometry: ``area2_us`` = |shoelace| × 2 in micro-units²
    — INT64-EXACT (every cross product of micro-degree coords fits
    int64, so the headline measure is bit-identical on any engine and
    any cluster size); ``ccw`` (1 = counter-clockwise ring); centroid
    and perimeter in micro-units, computed as doubles in ring order and
    rounded to 4 (their magnitudes make FP noise ~1e-8 — far below the
    rounding quantum).
    """
    r = f"{parts_col}[0]"
    nxt = f"int((i + 1) % size({r}))"
    cross = (f"(cast({r}[i].x as bigint) * cast({r}[{nxt}].y as bigint)"
             f" - cast({r}[{nxt}].x as bigint) * cast({r}[i].y as bigint))")
    signed2 = (f"aggregate(sequence(0, size({r}) - 1), 0L,"
               f" (acc, i) -> acc + {cross})")
    per = (f"aggregate(sequence(0, size({r}) - 1), cast(0 as double),"
           f" (acc, i) -> acc + sqrt("
           f"   pow({r}[{nxt}].x - {r}[i].x, 2)"
           f" + pow({r}[{nxt}].y - {r}[i].y, 2)))")
    cxn = (f"aggregate(sequence(0, size({r}) - 1), cast(0 as double),"
           f" (acc, i) -> acc + cast({r}[i].x + {r}[{nxt}].x as double)"
           f" * cast({cross} as double))")
    cyn = (f"aggregate(sequence(0, size({r}) - 1), cast(0 as double),"
           f" (acc, i) -> acc + cast({r}[i].y + {r}[{nxt}].y as double)"
           f" * cast({cross} as double))")
    return polys.selectExpr(
        id_col,
        f"abs({signed2}) as area2_us",
        f"case when {signed2} > 0 then 1 else 0 end as ccw",
        f"round({cxn} / (3.0 * {signed2}), 4) as centroid_x_us",
        f"round({cyn} / (3.0 * {signed2}), 4) as centroid_y_us",
        f"round({per}, 4) as perimeter_us",
    )


def polygon_measures_sql_duckdb(edges_values: str) -> str:
    """DuckDB twin of :func:`polygon_measures` over the shared edge-list
    VALUES relation (ring order; same shoelace/centroid/perimeter
    arithmetic — area2 int64-exact, doubles rounded to 4)."""
    return f"""
with e0 as (select * from {edges_values}),
e as (
  select geom_id, cast(x1 as bigint) as x1, cast(y1 as bigint) as y1,
         cast(x2 as bigint) as x2, cast(y2 as bigint) as y2
  from e0
),
m as (
  select geom_id,
         sum(x1 * y2 - x2 * y1) as s2,
         sum(sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2)) as per,
         sum(cast(x1 + x2 as double) * cast(x1 * y2 - x2 * y1 as double))
             as cxn,
         sum(cast(y1 + y2 as double) * cast(x1 * y2 - x2 * y1 as double))
             as cyn
  from e group by geom_id
)
select geom_id,
       abs(s2) as area2_us,
       case when s2 > 0 then 1 else 0 end as ccw,
       round(cxn / (3.0 * s2), 4) as centroid_x_us,
       round(cyn / (3.0 * s2), 4) as centroid_y_us,
       round(per, 4) as perimeter_us
from m
"""


# ---------------------------------------------------------------------------
# geohash (canonical base32, exact integer bit math)
# ---------------------------------------------------------------------------

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_MAX_PRECISION = 12  # (360e6 * 2^30) < 2^63 — every step int64-exact


def _shr_sql(x: str, n: int, engine: str) -> str:
    if n == 0:
        return f"({x})"
    return f"shiftright({x}, {n})" if engine == "spark" else f"(({x}) >> {n})"


def geohash_lonint_sql(lon_micro: str, precision: int, engine: str) -> str:
    """First ceil(5p/2) longitude bits as one bigint: the classic
    binary-subdivision bits of [-180,180) equal
    floor((lon+180) * 2^nbits / 360) — one exact integer expression
    instead of a per-bit loop (micro-degree fixed point keeps every
    product < 2^63 up to precision 12). The +180 endpoint clamps into
    the last column, matching encoders that accept lon=180 as the
    antimeridian seam."""
    nlon = (5 * precision + 1) // 2
    d = _DIV[engine]
    return (f"least(cast({(1 << nlon) - 1} as bigint), "
            f"(cast({lon_micro} as bigint) + 180000000) * {1 << nlon}"
            f"{d}360000000)")


def geohash_latint_sql(lat_micro: str, precision: int, engine: str) -> str:
    nlat = (5 * precision) // 2
    d = _DIV[engine]
    return (f"least(cast({(1 << nlat) - 1} as bigint), "
            f"(cast({lat_micro} as bigint) + 90000000) * {1 << nlat}"
            f"{d}180000000)")


def geohash_interleave_sql(lon_int: str, lat_int: str, precision: int,
                           engine: str) -> str:
    """Interleave pre-computed lon/lat bit-ints (COLUMN NAMES — compute
    them once in an inner select; inlining the full expressions here
    would duplicate them per bit) into the 5p-bit geohash integer.
    Longitude takes the even bit positions from the MSB (the canonical
    geohash convention), so for odd total bits lon bit b lands at
    weight 2^(2b) and lat bit b at 2^(2b+1); parities swap for even
    totals."""
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    elon = 0 if nbits % 2 else 1
    elat = 1 - elon
    terms = [f"(({_shr_sql(lon_int, b, engine)} & 1) * {1 << (2 * b + elon)})"
             for b in range(nlon)]
    terms += [f"(({_shr_sql(lat_int, b, engine)} & 1) * {1 << (2 * b + elat)})"
              for b in range(nlat)]
    return "(" + " + ".join(terms) + ")"


def geohash_chars_sql(ghi: str, precision: int, engine: str) -> str:
    """Base32 string from the interleaved integer (column name ``ghi``):
    char c reads bits 5c..5c+4 from the MSB end. substr() is 1-based in
    both engines."""
    chars = []
    for c in range(precision):
        shift = 5 * (precision - 1 - c)
        idx = f"cast(({_shr_sql(ghi, shift, engine)} & 31) as int)"
        chars.append(f"substr('{GEOHASH_BASE32}', 1 + {idx}, 1)")
    return "concat(" + ", ".join(chars) + ")"


def with_geohash(df, lat_col: str, lon_col: str, precision: int,
                 out: str = "ghash"):
    """Append a canonical geohash column to ``df`` (micro-degree bigint
    coords in, base32 string out) — three narrow selects so each bit-int
    is computed once; everything stays in whole-stage codegen."""
    keep = df.columns
    step1 = df.selectExpr(
        *keep,
        f"{geohash_lonint_sql(lon_col, precision, 'spark')} as _gh_lon",
        f"{geohash_latint_sql(lat_col, precision, 'spark')} as _gh_lat",
    )
    step2 = step1.selectExpr(
        *keep,
        f"{geohash_interleave_sql('_gh_lon', '_gh_lat', precision, 'spark')}"
        f" as _gh_i",
    )
    return step2.selectExpr(
        *keep, f"{geohash_chars_sql('_gh_i', precision, 'spark')} as {out}")


def geohash_cte_sql_duckdb(points_rel: str, lat_col: str, lon_col: str,
                           precision: int, out: str = "ghash") -> str:
    """DuckDB twin of :func:`with_geohash`: SELECT wrapping ``points_rel``
    (a relation name or parenthesized subquery) with the same staged
    bit math, emitting all input columns plus ``out``."""
    e = "duckdb"
    return f"""
select * exclude (_gh_lon, _gh_lat, _gh_i),
       {geohash_chars_sql('_gh_i', precision, e)} as {out}
from (
  select *, {geohash_interleave_sql('_gh_lon', '_gh_lat', precision, e)} as _gh_i
  from (
    select *, {geohash_lonint_sql(lon_col, precision, e)} as _gh_lon,
           {geohash_latint_sql(lat_col, precision, e)} as _gh_lat
    from {points_rel}
  )
)
"""


def hex_bin_sql(x: str, y: str, a: int, b: int, engine: str) -> dict[str, str]:
    """EXACT integer hexagonal binning — the hex tessellation that makes
    the cell index family genuinely H3-flavored (squares: cell_encode /
    zorder / geohash / quadkeys; hexes: this).

    Tiling: flat-top stretched hexagons with vertices (±2a, 0),
    (±a, ±b) around each center; centers at (3a·q, b·q + 2b·r) for
    integer axial coords (q, r). Every edge is a rational line, so the
    assignment is three floor-divisions + one integer edge test:

    1. column q₀ = floor((x + a) / 3a) — rectangles [c−a, c+2a) per
       column; 2. row r from floor((y − b·q₀ + b) / 2b); 3. if the
       point lies past the hex's right slanted edges
       (b·du + a·|dv| > 2ab with du ∈ (a, 2a)), it belongs to the
       upper/lower-RIGHT neighbor (q₀+1, adjusted r). Points on edges
       tie-break to the left/own hex (≤). All floors use the shared
       non-negative rewrite so Spark ``div`` ≡ DuckDB ``//``.

    Returns exprs {"q", "r"}; the caller derives the center as
    (3a·q, b·q + 2b·r). Engine-parameterized, WholeStageCodegen on the
    Spark side, no trig, no irrationals — the inequality tests are the
    exact rational edges of the tiling.
    """
    from zen3geo_spark.operators.trajectory import floor_div_sql

    q0 = floor_div_sql(f"({x}) + {a}", str(3 * a), engine)
    cy0 = f"({b} * {q0})"
    r0 = floor_div_sql(f"({y}) - {cy0} + {b}", str(2 * b), engine)
    du = f"(({x}) - 3 * {a} * ({q0}))"
    dv = f"(({y}) - ({cy0} + 2 * {b} * ({r0})))"
    outside = (f"({du} > {a} and {b} * {du} + {a} * abs({dv})"
               f" > {2 * a * b})")
    q = f"(case when {outside} then ({q0}) + 1 else ({q0}) end)"
    # moving right-up (dv>=0): neighbor center y = cy + b ⇒ same r;
    # right-down (dv<0): center y = cy − b ⇒ r' = r − ... both neighbor
    # centers satisfy cy' = b·(q₀+1) + 2b·r' → r' = r when dv ≥ 0 else
    # r − 1  (cy' = cy ± b with cy = b·q₀ + 2b·r)
    r = (f"(case when {outside} and ({dv}) < 0 then ({r0}) - 1 "
         f"else ({r0}) end)")
    return {"q": q, "r": r}
