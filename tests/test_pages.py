"""Pages source + extraction invariants (BASELINE.json:15): byte-identical
extracted text per url across engines, extraction paths, and parallelism."""

import re

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import (
    LAT_LON_PATTERN, extract_all_geotags, extract_first_geotag,
    geotag_points, micro_from_str,
)
from zen3geo_spark.sources.pages import pages_cte_sql, synth_pages


def geotag_extract_pandas(texts: pd.Series) -> pd.DataFrame:
    """Reference extraction in pandas: first well-formed tag per text as
    (lat_str, lon_str), '' when none — the Python-side twin the JVM
    regexp path must match byte-for-byte."""
    ext = texts.str.extract(re.compile(LAT_LON_PATTERN), expand=True)
    ext = ext.fillna("")
    ext.columns = ["lat_str", "lon_str"]
    return ext


def test_pages_match_duckdb_bitexact(spark):
    n = 300
    sp = (
        synth_pages(spark, n)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
        .collect()
    )
    dd = duckdb.sql(
        f"select url, warc_ts, text, lang from ({pages_cte_sql(n)}) order by url"
    ).fetchall()
    assert [(r.url, r.warc_ts, r.text, r.lang) for r in sp] == [tuple(r) for r in dd]


def test_extraction_jvm_vs_pandas_byte_identical(spark):
    """The JVM regexp path and the Arrow/pandas path must agree byte-for-byte
    per url (the per-row invariant)."""
    pages = synth_pages(spark, 500)
    lat, lon = extract_first_geotag(F.col("text"))
    jvm = {
        r["url"]: (r["lat"], r["lon"])
        for r in pages.select("url", lat.alias("lat"), lon.alias("lon")).collect()
    }
    pdf = pages.select("url", "text").toPandas()
    pex = geotag_extract_pandas(pdf["text"])
    pand = dict(zip(pdf["url"], zip(pex["lat_str"], pex["lon_str"])))
    assert jvm == pand


def test_extraction_invariant_across_parallelism(spark):
    """Same extraction output at 1 vs 16 partitions (determinism under
    repartitioning — the two-cluster-size invariant at mini scale)."""
    pages = synth_pages(spark, 400)
    lat, lon = extract_first_geotag(F.col("text"))

    def run(df):
        return sorted(
            (r["url"], r["l1"], r["l2"])
            for r in df.select("url", lat.alias("l1"), lon.alias("l2")).collect()
        )

    assert run(pages.repartition(1)) == run(pages.repartition(16))


def test_extraction_skips_malformed_and_missing(spark):
    """Rows with id%7==3 have no tag; rows with id%11==5 carry a malformed
    tag that must not match; all other rows yield a parseable tag."""
    pages = synth_pages(spark, 231).withColumn(
        "id", F.regexp_extract("url", r"/page/(\d+)", 1).cast("long")
    )
    lat, _ = extract_first_geotag(F.col("text"))
    got = pages.select("id", lat.alias("lat")).collect()
    for r in got:
        if r["id"] % 7 == 3:
            assert r["lat"] == "", r
        else:
            assert r["lat"] != "", r
    # the malformed text never parses as a tag
    mal = pages.filter((F.col("id") % 11 == 5) & (F.col("id") % 7 == 3))
    assert mal.count() > 0
    for r in mal.select("id", lat.alias("lat")).collect():
        assert r["lat"] == ""


def test_micro_parse_roundtrip(spark):
    pages = synth_pages(spark, 100)
    lat, lon = extract_first_geotag(F.col("text"))
    parsed = (
        pages.select(lat.alias("lat_str"))
        .filter(F.col("lat_str") != "")
        .select("lat_str", micro_from_str(F.col("lat_str")).alias("us"))
        .collect()
    )
    for r in parsed:
        assert abs(r["us"]) <= 90_000_000
        sign = -1 if r["lat_str"].startswith("-") else 1
        ip, fp = r["lat_str"].lstrip("-").split(".")
        assert r["us"] == sign * (int(ip) * 1_000_000 + int(fp))


def test_all_geotags_counts(spark):
    """n_tags per row is 0 (id%7==3) else 1 + id%3."""
    pages = synth_pages(spark, 210).withColumn(
        "id", F.regexp_extract("url", r"/page/(\d+)", 1).cast("long")
    )
    got = pages.select(
        "id", F.size(extract_all_geotags(F.col("text"))).alias("n")
    ).collect()
    for r in got:
        expect = 0 if r["id"] % 7 == 3 else 1 + (r["id"] % 3)
        assert r["n"] == expect, r


def test_extract_points_arrow_matches_jvm(spark):
    """The Arrow scan path (mapInPandas) and the JVM expression path must
    produce identical (point_id, lat_us, lon_us) sets."""
    from zen3geo_spark.functions.geo import extract_points_arrow

    pages = synth_pages(spark, 500)
    arrow = {(r["point_id"], r["lat_us"], r["lon_us"])
             for r in extract_points_arrow(pages).collect()}
    jvm_df = geotag_points(
        pages, F.regexp_extract("url", r"/page/(\d+)", 1).cast("long")
        .alias("point_id"))
    jvm = {(r["point_id"], r["lat_us"], r["lon_us"]) for r in jvm_df.collect()}
    assert arrow == jvm and len(arrow) > 300
