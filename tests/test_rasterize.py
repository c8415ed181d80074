"""Rasterizer goldens from the reference's own tests
(/root/reference/zen3geo/tests/test_datapipes_datashader.py)."""

import pytest
from pyspark.sql import functions as F

from zen3geo_spark.operators.canvas import canvas_from_grid
from zen3geo_spark.operators.rasterize import pixel_coords, rasterize
from zen3geo_spark.sources import fixtures


@pytest.mark.parametrize(
    ("geom_type", "sum_val"),
    [("multipoint", 3), ("linestring", 13), ("polygon", 15)],
)
def test_rasterize_golden_sums(spark, geom_type, sum_val):
    """Point=3 / Line=13 / Polygon=15 px on the 14x10 canvas
    (test_datapipes_datashader.py:77-104); two canvases like the reference's
    broadcast-1 contract — each must burn the same sum."""
    canvas = fixtures.canvas_rasterize(spark, n=2)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == geom_type
    )
    raster = rasterize(canvas, geoms)
    per_canvas = (
        raster.groupBy("canvas_id").agg(F.sum("value").alias("s")).collect()
    )
    assert len(per_canvas) == 2
    for r in per_canvas:
        assert r["s"] == sum_val


def test_rasterize_shape_and_affine(spark):
    """Output raster lives on a (10,14) north-up grid: rows in [0,10),
    cols in [0,14), and pixel_coords has descending y (affine e = -0.5)."""
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == "polygon"
    )
    r = pixel_coords(rasterize(canvas, geoms), canvas)
    rows = r.collect()
    assert all(0 <= x["row"] < 10 and 0 <= x["col"] < 14 for x in rows)
    # e = -0.5: y of row r is ymax - (r+0.5)*0.5
    for x in rows:
        assert x["y"] == pytest.approx(5.0 - (x["row"] + 0.5) * 0.5)
        assert x["x"] == pytest.approx(1.0 + (x["col"] + 0.5) * 0.5)


def test_rasterize_missing_canvas_crs(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1, crs=None)
    geoms = fixtures.geometries_datashader(spark)
    with pytest.raises(AttributeError, match="Missing crs information for datashader.Canvas"):
        rasterize(canvas, geoms.filter(F.col("geom_type") == "multipoint"))


def test_rasterize_missing_vector_crs(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).withColumn(
        "crs", F.lit(None).cast("string")
    )
    with pytest.raises(AttributeError, match="Missing crs information for input"):
        rasterize(canvas, geoms.filter(F.col("geom_type") == "multipoint"))


def test_rasterize_unmatched_lengths(spark):
    """3 canvases vs 2 vector sets → ValueError (datashader.py:176-185)."""
    canvas = fixtures.canvas_rasterize(spark, n=3)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == "multipoint"
    ).withColumn("vset_id", F.lit(0)).union(
        fixtures.geometries_datashader(spark).filter(
            F.col("geom_type") == "multipoint"
        ).withColumn("vset_id", F.lit(1))
    )
    with pytest.raises(ValueError, match="Unmatched lengths for the"):
        rasterize(canvas, geoms)


def test_rasterize_nn_pairing_same_without_validation(spark):
    """3 canvases, one distinct rectangle per vset_id: validate=False pairs
    vset_id == canvas_id exactly as validate=True does."""
    canvas = fixtures.canvas_rasterize(spark, n=3)
    rects = [(v, "polygon",
              [fixtures._xy([(1, 0), (2 + 2 * v, 0), (2 + 2 * v, 1 + v),
                             (1, 1 + v)])], "OGC:CRS84") for v in range(3)]
    geoms = fixtures.with_bbox(spark.createDataFrame(
        rects, fixtures.GEOM_SCHEMA)).withColumn("vset_id", F.col("geom_id"))
    checked = sorted(rasterize(canvas, geoms).collect())
    unchecked = sorted(rasterize(canvas, geoms, validate=False).collect())
    assert unchecked == checked
    sums = {}
    for r in checked:
        sums[r["canvas_id"]] = sums.get(r["canvas_id"], 0) + r["value"]
    assert len(set(sums.values())) == 3, sums


def test_rasterize_geometrycollection(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).withColumn(
        "geom_type", F.lit("geometrycollection")
    )
    with pytest.raises(NotImplementedError, match="Unsupported geometry type"):
        rasterize(canvas, geoms)


def test_rasterize_empty_vector(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).filter(F.col("geom_id") > 99)
    with pytest.raises(ValueError, match="Cannot infer spatialpandas geometry type"):
        rasterize(canvas, geoms)


def test_canvas_from_grid_golden(spark):
    """12x8 Dataset → plot_height=12 plot_width=8
    (test_datapipes_datashader.py:48-74): y linspace(6,0,12), x linspace(0,4,8)."""
    grid = (
        spark.range(12 * 8)
        .select(
            F.lit(0).alias("scene_id"),
            (F.col("id") % 8).alias("xi"),
            F.floor(F.col("id") / 8).alias("yi"),
        )
        .select(
            "scene_id",
            (F.lit(6.0) - F.col("yi") * (6.0 / 11)).alias("y"),
            (F.col("xi") * (4.0 / 7)).alias("x"),
            F.lit("OGC:CRS84").alias("crs"),
        )
    )
    c = canvas_from_grid(grid).collect()[0]
    assert c["height"] == 12
    assert c["width"] == 8
    assert c["crs"] == "OGC:CRS84"
    # pixel-edge bounds rule: center extremes ± half pixel
    assert c["xmin"] == pytest.approx(0 - (4.0 / 7) / 2)
    assert c["xmax"] == pytest.approx(4 + (4.0 / 7) / 2)


def test_spread_add_golden_and_clip(spark):
    """px=1 add-spread of two pixels: overlap cells sum, canvas edges
    clip (corner pixel spreads to 4 cells, not 9)."""
    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame(
        [(0, 0, 2.0), (1, 2, 5.0)], "row int, col int, value double")
    out = {(r["row"], r["col"]): r["value"]
           for r in spread(img, width=4, height=4, px=1).collect()}
    # corner (0,0) contributes to its clipped 2x2; (1,2) to a full 3x3
    assert out[(0, 0)] == 2.0
    assert out[(0, 1)] == 7.0   # 2 (from 0,0) + 5 (from 1,2)
    assert out[(1, 1)] == 7.0
    assert out[(2, 3)] == 5.0
    assert (3, 3) not in out    # beyond both neighborhoods
    assert sum(v for (r, c), v in out.items()) == 2.0 * 4 + 5.0 * 9


def test_spread_max_and_px0_identity(spark):
    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 5.0)], "row int, col int, value double")
    mx = {(r["row"], r["col"]): r["value"]
          for r in spread(img, width=4, height=4, px=1, how="max").collect()}
    assert mx[(1, 1)] == 5.0 and mx[(0, 0)] == 2.0
    ident = sorted((r["row"], r["col"], r["value"]) for r in
                   spread(img, width=4, height=4, px=0).collect())
    assert ident == [(1, 1, 2.0), (1, 2, 5.0)]


def test_spread_rejects_bad_kwargs(spark):
    import pytest

    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame([(0, 0, 1.0)], "row int, col int, value double")
    with pytest.raises(ValueError, match="how must be one of"):
        spread(img, width=2, height=2, how="mean")
    with pytest.raises(ValueError, match="px must be >= 0"):
        spread(img, width=2, height=2, px=-1)
