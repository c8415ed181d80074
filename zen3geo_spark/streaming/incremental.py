"""Incremental (resumable) runs via Structured Streaming availableNow.

The reference is batch-only (no watermark/state anywhere under
/root/reference/zen3geo/) — resumability there means re-running the
pipeline. Here, incremental processing over a growing pages table is a
``readStream`` + ``availableNow`` trigger with a checkpointLocation: each
invocation processes exactly the new files and stops; Spark's offset log
is the resume token. The transformation plugged in is the same
extract→cell-encode plan the batch path uses (one code path, two drivers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from zen3geo_spark.functions.geo import cell_encode, geotag_points


def extract_and_encode(pages: DataFrame, res: int = 7) -> DataFrame:
    """The shared batch/streaming transformation: geotag extraction →
    micro-degree parse → cell encode. Pure JVM expressions."""
    return geotag_points(pages, "url", "warc_ts", "lang").withColumn(
        "cell", cell_encode("lat_us", "lon_us", res))


def run_incremental(spark: SparkSession, pages_dir: str, out_dir: str,
                    checkpoint_dir: str, res: int = 7) -> None:
    """Process new page files since the last run, then stop."""
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    result = extract_and_encode(stream, res)
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
