"""Seeded workloads: inputs, the timed job, the reference each job's output
is checked against, and the traced (layer by layer) variant of the job.

Every input is generated from the seed before timing starts, and the engine
only ever sees the generated tables. References are computed once per seed,
outside timing, by an engine other than the one under test (DuckDB) or in
closed form.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from probes import metric_sum, plan_nodes

PAGE_STRIDE = 1_000_000      # id-range offset per seed
CHECK_MOD = 1_000_000_007    # modulus of the pair-set fingerprint term


def materialize(df):
    """Full-consumption sink that keeps ``df``'s own executed plan (and so
    its SQL metrics): every column of every row is copied into blocks."""
    return df.localCheckpoint(eager=True)


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Workload:
    """One workload: ``generate`` (untimed, outside set-up), ``open``
    (part of set-up), ``job`` (timed), ``check`` and ``traced_job``."""

    name = ""
    unit = "rows"
    rows_per_job = 0

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.rng = np.random.default_rng(seed)
        self.sizes: dict = {}
        self.extra: dict[str, list[float]] = {}  # per-job end-to-end extras

    def generate(self, spark) -> None:
        raise NotImplementedError

    def open(self, spark) -> None:
        raise NotImplementedError

    def job(self, meter):
        """Run one job; the engine calls that count as the job's wall run
        inside ``with meter:``. Returns the output to check."""
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def traced_job(self, tr) -> tuple[object, dict]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pages: page_col_exprs over a seeded id range, DuckDB reference
# ---------------------------------------------------------------------------

def write_pages(spark, path: str, seed: int, n: int, parts: int) -> int:
    from zen3geo_spark.sources.pages import page_col_exprs

    off = (seed % 100_000) * PAGE_STRIDE
    exprs = page_col_exprs("spark")
    (spark.range(off, off + n, 1, parts)
     .selectExpr(*[f"{sql} as {name}" for name, sql in exprs.items()])
     .write.mode("overwrite").parquet(path))
    return off


def duck_pages_points(con, off: int, n: int) -> None:
    """DuckDB table ``pts(point_id, lat_us, lon_us)``: the first well-formed
    geotag of every page, parsed as the engine's extractor specifies."""
    from zen3geo_spark.functions.geo import LAT_LON_PATTERN, micro_from_str_sql
    from zen3geo_spark.sources.pages import page_col_exprs

    cols = ", ".join(f"{sql} as {name}"
                     for name, sql in page_col_exprs("duckdb").items())
    lat = micro_from_str_sql("lat_str", "duckdb")
    lon = micro_from_str_sql("lon_str", "duckdb")
    con.execute(f"""
    create or replace table pts as
    select point_id, {lat} as lat_us, {lon} as lon_us from (
      select cast(regexp_extract(url, '/page/([0-9]+)', 1) as bigint) as point_id,
             regexp_extract(text, '{LAT_LON_PATTERN}', 1) as lat_str,
             regexp_extract(text, '{LAT_LON_PATTERN}', 2) as lon_str
      from (select {cols} from range({off}, {off + n}) t(id)))
    where lat_str <> ''
    """)


def duck_fixture_pairs(con) -> None:
    """DuckDB table ``pairs``: pip_refine_sql of ``pts`` against the two
    fixture polygons the flagship joins."""
    import __spark_entry__ as E
    from zen3geo_spark.operators.spatial_join import pip_refine_sql

    con.execute("create or replace table edges as select * from "
                + E._edges_values())
    con.execute("create or replace table pairs as "
                + pip_refine_sql("pts", "edges"))


class PagesPip(Workload):
    """The flagship: pages → JVM tag prefilter → Arrow extract → cell encode
    → hot-cell planning on a sample → salted PIP against the fixture
    polygons → per-polygon counts."""

    name = "pages_pip"
    unit = "pages"
    n_pages = 150_000
    res = 4
    sample_frac = 0.02

    def generate(self, spark) -> None:
        self.path = os.path.join(self.work, "pages")
        off = write_pages(spark, self.path, self.seed, self.n_pages,
                          self.cores * 2)
        con = duckdb.connect()
        duck_pages_points(con, off, self.n_pages)
        duck_fixture_pairs(con)
        self.expect = dict(con.execute(
            "select geom_id, count(*) from pairs group by 1").fetchall())
        n_pts = con.execute("select count(*) from pts").fetchone()[0]
        con.close()
        self.rows_per_job = self.n_pages
        self.sizes = {"pages": self.n_pages, "page_id_offset": off,
                      "tagged_pages": n_pts,
                      "pages_bytes": dir_usage(self.path)[0],
                      "polygons": 2, "inside_pairs": sum(self.expect.values())}

    def open(self, spark) -> None:
        import __spark_entry__ as E

        self.spark = spark
        self.pages = spark.read.parquet(self.path)
        self.polys = E._polys_df(spark)

    def _hot_cells(self, pages):
        from zen3geo_spark.functions.geo import (
            extract_first_geotag, micro_from_str,
        )
        from zen3geo_spark.operators.spatial_join import find_hot_cells

        budget = max(50_000, self.n_pages // (self.cores * 4))
        lat_s, lon_s = extract_first_geotag(F.col("text"))
        sample = (pages.sample(self.sample_frac, seed=7)
                  .select(micro_from_str(lat_s).alias("lat_us"),
                          micro_from_str(lon_s).alias("lon_us"))
                  .filter(F.col("lat_us").isNotNull()))
        return find_hot_cells(sample, res=self.res,
                              threshold=max(1, int(budget * self.sample_frac)))

    def _pip(self, pts, hot):
        from zen3geo_spark.operators.spatial_join import points_in_polygons

        return points_in_polygons(pts, self.polys, res=self.res,
                                  salt_factor=self.cores, hot_cells=hot,
                                  broadcast_polys=True)

    def job(self, meter):
        from zen3geo_spark.functions.geo import extract_points_arrow

        with meter:
            hot = self._hot_cells(self.pages).localCheckpoint(eager=True)
            pip = self._pip(extract_points_arrow(self.pages), hot)
            return pip.groupBy("geom_id").count().collect()

    def check(self, result) -> bool:
        return {r[0]: r[1] for r in result} == self.expect

    def traced_job(self, tr):
        from zen3geo_spark.functions.geo import cell_encode, extract_points_arrow

        scan, nodes, _ = tr.layer("scan", self.spark.read.parquet(self.path))
        m = {"scan.rows": metric_sum(nodes, "Scan", "numOutputRows"),
             "scan.bytes": metric_sum(nodes, "Scan", "filesSize"),
             "scan.s": tr.last.dur}
        pts, nodes, stages = tr.layer("extract", extract_points_arrow(scan))
        m.update(extract_metrics(nodes, stages, m["scan.rows"]))
        tr.layer("cell_encode", pts.select(
            "*", cell_encode("lat_us", "lon_us", self.res).alias("cell")))
        m["cell_encode.s"] = tr.last.dur
        hot, _, _ = tr.layer("hot_cells", self._hot_cells(scan))
        m["hot_cells.s"] = tr.last.dur
        m["hot_cells.n"] = hot.count()
        pip, nodes, stages = tr.layer("pip", self._pip(pts, hot))
        m.update(pip_metrics(tr, nodes, stages))
        with tr.span("aggregate"):
            result = pip.groupBy("geom_id").count().collect()
        return result, m


def extract_metrics(nodes, stages, pages: int) -> dict:
    """Arrow extract layer: prefilter yield, bytes shipped to Python, and
    Python vs JVM time of the extract stages (task run time less the time
    tasks spent in Python)."""
    into_arrow = max((mm.get("numOutputRows", 0) for n, mm in nodes
                      if n == "Filter"), default=0)
    py_ms = metric_sum(nodes, "MapInPandas", "pythonTotalTime")
    run_ms = sum(s.executorRunTime() for s in stages)
    return {
        "prefilter.yield": into_arrow / max(pages, 1),
        "extract.arrow_bytes_per_row":
            metric_sum(nodes, "MapInPandas", "pythonDataSent") / max(into_arrow, 1),
        "extract.python_s": py_ms / 1e3,
        "extract.jvm_s": max(run_ms - py_ms, 0) / 1e3,
    }


def pip_metrics(tr, nodes, stages) -> dict:
    """PIP layer: cover rows and broadcast size of the polygon-cell side,
    candidates into the refine kernel, inside pairs, refine Python time,
    refine task skew and shuffle bytes."""
    # the refine kernel's input is the exchange right below it (nodes come
    # in plan order, parents first)
    names = [n for n, _ in nodes]
    below = names[names.index("FlatMapGroupsInPandas"):]
    cand = nodes[names.index("FlatMapGroupsInPandas") + below.index("Exchange")][1] \
        .get("shuffleRecordsWritten", 0)
    inside = metric_sum(nodes, "FlatMapGroupsInPandas", "pythonNumRowsReceived")
    cover = sum(mm.get("numOutputRows", 0) for n, mm in nodes
                if n == "BroadcastExchange")
    if not cover:   # shuffle join: polygon side rows enter its exchange
        cover = max((mm.get("numOutputRows", 0) for n, mm in nodes
                     if n == "Generate"), default=0)
    refine = [s for s in stages if s.shuffleReadBytes() > 0]
    skew = 0.0
    if refine:
        s = max(refine, key=lambda s: s.executorRunTime())
        q = tr.store.task_run_quantiles(s.stageId(), s.attemptId())
        if q and q[0] > 0:
            skew = q[1] / q[0]
    return {
        "pip.cover_rows": cover,
        "pip.broadcast_bytes": sum(mm.get("dataSize", 0) for n, mm in nodes
                                   if n == "BroadcastExchange"),
        "pip.candidates": cand,
        "pip.inside": inside,
        "pip.refine_yield": inside / max(cand, 1),
        "pip.refine_python_s":
            metric_sum(nodes, "FlatMapGroupsInPandas", "pythonTotalTime") / 1e3,
        "pip.refine_task_skew": skew,
        "pip.shuffle_bytes": sum(mm.get("shuffleBytesWritten", 0)
                                 for n, mm in nodes if n == "Exchange"),
    }


# ---------------------------------------------------------------------------
# skewed PIP: pre-extracted points, hundreds of many-vertex polygons
# ---------------------------------------------------------------------------

class SkewedPip(Workload):
    """Points whose large seeded share falls in a handful of res-4 cells
    under polygons, joined with hot-cell salting; no text, no Arrow
    extract."""

    name = "skewed_pip"
    unit = "points"
    n_points = 400_000
    n_polys = 200
    n_vertices = 48
    n_hot = 4
    hot_share = 0.6
    res = 4
    sample_frac = 0.02

    def generate(self, spark) -> None:
        rng = self.rng
        # star-shaped (hence simple) polygons, radius 1-3 degrees
        cy = rng.uniform(-60e6, 60e6, self.n_polys)
        cx = rng.uniform(-170e6, 170e6, self.n_polys)
        rad = rng.uniform(1e6, 3e6, self.n_polys)
        ang = np.sort(rng.uniform(0, 2 * np.pi, (self.n_polys, self.n_vertices)), axis=1)
        r = rad[:, None] * rng.uniform(0.6, 1.0, (self.n_polys, self.n_vertices))
        vx = np.round(cx[:, None] + r * np.cos(ang)).astype(np.int64)
        vy = np.round(cy[:, None] + r * np.sin(ang)).astype(np.int64)
        # skew: hot points crowd around a few polygon centres
        hot = rng.choice(self.n_polys, self.n_hot, replace=False)
        n_hot_pts = int(self.n_points * self.hot_share)
        which = rng.integers(0, self.n_hot, n_hot_pts)
        lat = np.concatenate([
            cy[hot][which] + rng.normal(0, 1, n_hot_pts) * rad[hot][which],
            rng.uniform(-80e6, 80e6, self.n_points - n_hot_pts)])
        lon = np.concatenate([
            cx[hot][which] + rng.normal(0, 1, n_hot_pts) * rad[hot][which],
            rng.uniform(-179e6, 179e6, self.n_points - n_hot_pts)])
        perm = rng.permutation(self.n_points)
        pts = pa.table({
            "point_id": np.arange(self.n_points, dtype=np.int64),
            "lat_us": np.round(lat[perm]).astype(np.int64),
            "lon_us": np.round(lon[perm]).astype(np.int64),
        })
        self.pts_path = os.path.join(self.work, "points")
        os.makedirs(self.pts_path, exist_ok=True)
        step = -(-self.n_points // (self.cores * 2))
        for i in range(0, self.n_points, step):
            pq.write_table(pts.slice(i, step),
                           os.path.join(self.pts_path, f"part-{i // step:03d}.parquet"))
        xy = pa.struct([("x", pa.float64()), ("y", pa.float64())])
        parts = [[[{"x": float(x), "y": float(y)} for x, y in zip(vx[g], vy[g])]]
                 for g in range(self.n_polys)]
        polys = pa.table({
            "geom_id": np.arange(self.n_polys, dtype=np.int64),
            "parts": pa.array(parts, type=pa.list_(pa.list_(xy))),
            "minx_us": vx.min(axis=1), "miny_us": vy.min(axis=1),
            "maxx_us": vx.max(axis=1), "maxy_us": vy.max(axis=1),
        })
        self.poly_path = os.path.join(self.work, "polys.parquet")
        pq.write_table(polys, self.poly_path)

        # reference: the refine formula of pip_refine_sql, behind a bbox and
        # geom_id prefilter so DuckDB does not pair every point with every edge
        gid = np.repeat(np.arange(self.n_polys), self.n_vertices)
        edges = pa.table({
            "geom_id": gid,
            "x1": vx.ravel(), "y1": vy.ravel(),
            "x2": np.roll(vx, -1, axis=1).ravel(),
            "y2": np.roll(vy, -1, axis=1).ravel(),
        })
        bbox = polys.drop(["parts"])
        con = duckdb.connect()
        con.register("p_in", pts)
        con.register("e_in", edges)
        con.register("b_in", bbox)
        self.expect = tuple(con.execute(f"""
        with pairs as (
          select p.point_id, e.geom_id, p.lat_us, p.lon_us
          from p_in p
          join b_in b on p.lat_us between b.miny_us and b.maxy_us
                     and p.lon_us between b.minx_us and b.maxx_us
          join e_in e on e.geom_id = b.geom_id
                     and ((e.y1 > p.lat_us) != (e.y2 > p.lat_us))
          group by p.point_id, e.geom_id, p.lat_us, p.lon_us
          having sum(case when p.lon_us < cast(e.x2 - e.x1 as double)
                                          * cast(p.lat_us - e.y1 as double)
                                          / cast(e.y2 - e.y1 as double) + e.x1
                          then 1 else 0 end) % 2 = 1)
        select count(*), sum(point_id), sum(geom_id),
               sum((point_id * (geom_id + 1)) % {CHECK_MOD}),
               sum(lat_us), sum(lon_us)
        from pairs""").fetchone())
        con.close()
        self.rows_per_job = self.n_points
        self.sizes = {"points": self.n_points, "polygons": self.n_polys,
                      "vertices_per_polygon": self.n_vertices,
                      "hot_share": self.hot_share, "inside_pairs": self.expect[0]}

    def open(self, spark) -> None:
        self.spark = spark
        self.points = spark.read.parquet(self.pts_path)
        self.polys = spark.read.parquet(self.poly_path)

    def _hot_cells(self, points):
        from zen3geo_spark.operators.spatial_join import find_hot_cells

        budget = max(50_000, self.n_points // (self.cores * 4))
        return find_hot_cells(points.sample(self.sample_frac, seed=7),
                              res=self.res,
                              threshold=max(1, int(budget * self.sample_frac)))

    def _pip(self, points, hot):
        from zen3geo_spark.operators.spatial_join import points_in_polygons

        return points_in_polygons(points, self.polys, res=self.res,
                                  salt_factor=self.cores, hot_cells=hot)

    @staticmethod
    def _fingerprint(pairs):
        return pairs.agg(
            F.count("*"), F.sum("point_id"), F.sum("geom_id"),
            F.sum(F.pmod(F.col("point_id") * (F.col("geom_id") + 1),
                         F.lit(CHECK_MOD))),
            F.sum("lat_us"), F.sum("lon_us")).collect()[0]

    def job(self, meter):
        with meter:
            hot = self._hot_cells(self.points).localCheckpoint(eager=True)
            return self._fingerprint(self._pip(self.points, hot))

    def check(self, result) -> bool:
        return tuple(result) == self.expect

    def traced_job(self, tr):
        m = {}
        hot, _, _ = tr.layer("hot_cells", self._hot_cells(self.points))
        m["hot_cells.s"] = tr.last.dur
        m["hot_cells.n"] = hot.count()
        pip, nodes, stages = tr.layer("pip", self._pip(self.points, hot))
        m.update(pip_metrics(tr, nodes, stages))
        with tr.span("aggregate"):
            result = self._fingerprint(pip)
        return result, m


# ---------------------------------------------------------------------------
# raster tiles: polygons and lines burned on canvases, overlapping chips
# ---------------------------------------------------------------------------

class RasterTiles(Workload):
    """Seeded rectangles (with extra collinear vertices) and axis-aligned
    polylines burned onto seeded canvases, then overlapping chips and
    per-chip stats. Integer coordinates on a canvas with one unit per
    pixel give each burn a closed form, the reference."""

    name = "raster_tiles"
    unit = "geometries"
    n_canvas = 3
    size = 384
    n_rect = 24
    side_vertices = 8
    n_lines = 12
    line_segments = 6
    window = 128
    overlap = 64

    def generate(self, spark) -> None:
        rng, W = self.rng, self.size
        canv = pa.table({
            "canvas_id": np.arange(self.n_canvas, dtype=np.int64),
            "width": pa.array([W] * self.n_canvas, pa.int32()),
            "height": pa.array([W] * self.n_canvas, pa.int32()),
            "xmin": [0.0] * self.n_canvas, "ymin": [0.0] * self.n_canvas,
            "xmax": [float(W)] * self.n_canvas, "ymax": [float(W)] * self.n_canvas,
            "crs": ["OGC:CRS84"] * self.n_canvas,
        })
        poly_rows, line_rows = [], []
        poly_mask = np.zeros((self.n_canvas, W, W), dtype=np.int64)
        line_mask = np.zeros((self.n_canvas, W, W), dtype=np.int64)
        gid = 0
        k = self.side_vertices
        # the same rectangle sizes on every canvas and seed (only positions
        # and pairing vary), so each seed burns the same kernel work
        sides = np.linspace(16, 96, self.n_rect).astype(int)
        for c in range(self.n_canvas):
            hit = np.zeros((W, W), dtype=bool)   # [yi, xi]
            for w, h in zip(rng.permutation(sides), rng.permutation(sides)):
                x0, y0 = rng.integers(0, W - w), rng.integers(0, W - h)
                x1, y1 = x0 + w, y0 + h
                ring = ([(x0 + (x1 - x0) * i // k, y0) for i in range(k)]
                        + [(x1, y0 + (y1 - y0) * i // k) for i in range(k)]
                        + [(x1 - (x1 - x0) * i // k, y1) for i in range(k)]
                        + [(x0, y1 - (y1 - y0) * i // k) for i in range(k)])
                poly_rows.append((gid, "polygon", c, ring))
                gid += 1
                hit[y0:y1, x0:x1] = True      # pixel centres strictly inside
            poly_mask[c] = hit[::-1]          # row 0 is the north row
            hit = np.zeros((W, W), dtype=bool)
            for _ in range(self.n_lines):
                x, y = (int(v) for v in rng.integers(0, W, 2))
                pts = [(x, y)]
                for s in range(self.line_segments):
                    if s % 2 == 0:
                        nx = int(rng.integers(0, W))
                        hit[y, min(x, nx):max(x, nx) + 1] = True
                        x = nx
                    else:
                        ny = int(rng.integers(0, W))
                        hit[min(y, ny):max(y, ny) + 1, x] = True
                        y = ny
                    pts.append((x, y))
                line_rows.append((gid, "linestring", c, pts))
                gid += 1
            line_mask[c] = hit[::-1]

        xy = pa.struct([("x", pa.float64()), ("y", pa.float64())])

        def geoms(rows):
            return pa.table({
                "geom_id": pa.array([r[0] for r in rows], pa.int64()),
                "geom_type": [r[1] for r in rows],
                "vset_id": pa.array([r[2] for r in rows], pa.int64()),
                "parts": pa.array(
                    [[[{"x": float(x), "y": float(y)} for x, y in r[3]]] for r in rows],
                    type=pa.list_(pa.list_(xy))),
                "crs": ["OGC:CRS84"] * len(rows),
            })

        self.paths = {n: os.path.join(self.work, f"{n}.parquet")
                      for n in ("canvas", "polys", "lines")}
        pq.write_table(canv, self.paths["canvas"])
        pq.write_table(geoms(poly_rows), self.paths["polys"])
        pq.write_table(geoms(line_rows), self.paths["lines"])

        # reference chip stats: every burned pixel of each raster counts once
        # in each chip window containing it
        s = self.window - self.overlap
        n_chips = (W - self.window) // s + 1
        burned = poly_mask + line_mask
        expect = {}
        for c in range(self.n_canvas):
            for cy in range(n_chips):
                for cx in range(n_chips):
                    npx = int(burned[c, cy * s:cy * s + self.window,
                                     cx * s:cx * s + self.window].sum())
                    if npx:
                        expect[(c, cy * n_chips + cx)] = npx
        self.expect = expect
        self.rows_per_job = len(poly_rows) + len(line_rows)
        self.sizes = {"canvases": self.n_canvas, "canvas_px": W * W,
                      "polygons": len(poly_rows), "lines": len(line_rows),
                      "burned_px": int(burned.sum()), "chips": len(expect)}

    def open(self, spark) -> None:
        self.spark = spark
        self.canvas = spark.read.parquet(self.paths["canvas"])
        self.polys = spark.read.parquet(self.paths["polys"])
        self.lines = spark.read.parquet(self.paths["lines"])
        self.meta = self.canvas.select(F.col("canvas_id").alias("scene_id"),
                                       F.col("height").alias("n_y"),
                                       F.col("width").alias("n_x"))

    def _raster(self):
        from zen3geo_spark.operators.rasterize import rasterize

        return rasterize(self.canvas, self.polys).unionByName(
            rasterize(self.canvas, self.lines))

    def _stats(self, raster):
        from zen3geo_spark.operators.chipper import assign_chips, chip_stats

        px = raster.select(F.col("canvas_id").alias("scene_id"),
                           F.col("row").alias("y_idx"),
                           F.col("col").alias("x_idx"), "value")
        return chip_stats(assign_chips(px, self.meta, self.window, self.window,
                                       self.overlap, self.overlap))

    def job(self, meter):
        with meter:
            return self._stats(self._raster()).collect()

    def check(self, result) -> bool:
        got = {}
        for r in result:
            if r["sum_val"] != r["n_px"]:
                return False
            got[(r["scene_id"], r["chip_id"])] = r["n_px"]
        return got == self.expect

    def traced_job(self, tr):
        raster, nodes, _ = tr.layer("rasterize", self._raster())
        m = {
            "rasterize.s": tr.last.dur,
            # one kernel group per (canvas, geometry) pair of the join
            "rasterize.groups": metric_sum(nodes, "BroadcastHashJoin",
                                           "numOutputRows"),
            "rasterize.burned_px": metric_sum(nodes, "FlatMapGroupsInPandas",
                                              "pythonNumRowsReceived"),
            "rasterize.python_s": metric_sum(
                nodes, "FlatMapGroupsInPandas", "pythonTotalTime") / 1e3,
        }
        stats_df = self._stats(raster)
        with tr.span("chips") as sp:
            result = stats_df.collect()
        chip_rows = max((mm.get("numOutputRows", 0) for n, mm in plan_nodes(stats_df)
                         if n == "Generate"), default=0)
        m["chips.s"] = sp.dur
        m["chips.fanout"] = chip_rows / max(raster.count(), 1)
        return result, m


# ---------------------------------------------------------------------------
# checkpointed pipeline and its resume
# ---------------------------------------------------------------------------

STAGES = ("extract", "cells", "pip", "rollup")


class CkptResume(Workload):
    """tools/run_pipeline.run over seeded pages into a fresh checkpoint root
    (four CheckpointRunner stages, one partitioned), then a second run()
    over the completed root."""

    name = "ckpt_resume"
    unit = "pages"
    n_pages = 50_000
    res = 12

    def generate(self, spark) -> None:
        from zen3geo_spark.functions.geo import cell_id_sql, cell_parent_sql

        self.path = os.path.join(self.work, "pages")
        off = write_pages(spark, self.path, self.seed, self.n_pages,
                          self.cores * 2)
        con = duckdb.connect()
        duck_pages_points(con, off, self.n_pages)
        duck_fixture_pairs(con)
        cell = cell_id_sql("lat_us", "lon_us", self.res, "duckdb")
        parent = cell_parent_sql(f"({cell})", self.res, 6, "duckdb")
        self.expect = {
            "extracted": con.execute("select count(*) from pts").fetchone()[0],
            "pip_pairs": con.execute("select count(*) from pairs").fetchone()[0],
            "rollup_cells": con.execute(
                f"select count(distinct {parent}) from pts").fetchone()[0],
        }
        con.close()
        self.rows_per_job = self.n_pages
        self.n_jobs = 0
        self.sizes = {"pages": self.n_pages, "page_id_offset": off,
                      "pages_bytes": dir_usage(self.path)[0], **self.expect}
        self.extra = {"resume_s": [], "stored_bytes_per_row": []}

    def open(self, spark) -> None:
        self.spark = spark
        # the pipeline reads the Parquet itself; opening lists its footers
        spark.read.parquet(self.path).schema

    def _fingerprints(self, root: str) -> dict:
        """Order-insensitive fingerprint of each stage table, after
        tools/check_oracle.table_fingerprint (columns in name order), as a
        Spark aggregate: row count plus a sum of bounded row hashes."""
        out = {}
        for s in STAGES:
            df = self.spark.read.parquet(os.path.join(root, s, "data"))
            cols = sorted(df.columns)
            h = F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))
            out[s] = tuple(df.agg(F.count("*"), F.sum(h)).collect()[0])
        return out

    def _pass(self, root: str):
        from tools.run_pipeline import run

        return run(self.spark, self.path, root, res=self.res)

    def job(self, meter):
        self.n_jobs += 1
        root = os.path.join(self.work, f"ckpt-{self.n_jobs}")
        with meter:
            clean = self._pass(root)
        clean_s = meter.wall
        fp = self._fingerprints(root)
        size, files = dir_usage(root)
        resume_start_ms = time.time() * 1e3
        with meter:
            resumed = self._pass(root)
        fp2 = self._fingerprints(root)
        shutil.rmtree(root, ignore_errors=True)
        self.extra["resume_s"].append(meter.wall - clean_s)
        self.extra["stored_bytes_per_row"].append(size / self.n_pages)
        self.last_pass = {"clean_s": clean_s, "resume_s": meter.wall - clean_s,
                          "bytes": size, "files": files, "clean": clean,
                          "resume_start_ms": resume_start_ms}
        return clean, resumed, fp, fp2

    def check(self, result) -> bool:
        clean, resumed, fp, fp2 = result
        keys = ("extracted", "pip_pairs", "rollup_cells")
        return (all(clean[k] == self.expect[k] for k in keys)
                and all(resumed[k] == clean[k] for k in keys)
                and fp == fp2)

    def traced_job(self, tr):
        """run() is one call, so its layers are read back from the SQL
        executions it ran (status store) and from its stage manifests; each
        execution becomes a child span of the pipeline span."""
        from probes import last_execution_id, sql_executions

        ex0 = last_execution_id(self.spark)
        with tr.span("pipeline") as sp:
            result = self.job(tr.meter())
        p = self.last_pass
        execs = sql_executions(self.spark, ex0)
        for e in execs:
            if e["end_ms"] is not None:
                tr.tracer.add(e["desc"], sp.id, e["start_ms"] / 1e3,
                              e["end_ms"] / 1e3, execution=e["id"])
        clean = [e for e in execs if e["start_ms"] < p["resume_start_ms"]]

        def first_with(node):
            return next(e for e in clean if any(n == node for n, _ in e["nodes"]))

        ext = first_with("MapInPandas")
        pip = first_with("FlatMapGroupsInPandas")
        m = {"scan.rows": metric_sum(ext["nodes"], "Scan parquet", "numOutputRows"),
             "scan.bytes": metric_sum(ext["nodes"], "Scan parquet", "filesSize"),
             "scan.s": metric_sum(ext["nodes"], "Scan parquet", "scanTime") / 1e3}
        m.update(extract_metrics(ext["nodes"], tr.store.stages(ext["stages"]),
                                 m["scan.rows"]))
        m.update(pip_metrics(tr, pip["nodes"], tr.store.stages(pip["stages"])))
        # each stage's write wall, as its CheckpointRunner manifest records it
        m.update({f"checkpoint.{s}.s": p["clean"]["stages"][s] / 1e3
                  for s in STAGES})
        m["cell_encode.s"] = m["checkpoint.cells.s"]
        m.update({"checkpoint.bytes_written": p["bytes"],
                  "checkpoint.files_written": p["files"],
                  "checkpoint.resume.s": p["resume_s"]})
        return result, m


WORKLOADS = {w.name: w for w in (PagesPip, SkewedPip, RasterTiles, CkptResume)}
