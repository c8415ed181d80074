"""The torchdata combinator surface re-expressed for DataFrames.

zen3geo's documented pipelines lean on torchdata built-ins
(SURVEY.md §2.2): IterableWrapper, Mapper, FlatMapper, Zipper, Forker,
Batcher, Collator. Each maps to a (usually trivial) DataFrame construct —
this module exists so a reference user can find every pipeline stage by
name. Non-trivial semantics preserved:

* zip is POSITIONAL in the reference — here it's an equi-join on an
  explicit pair key, or on ``row_number`` over a deterministic order
  (positional order does not exist in a distributed table).
* fork re-iterates (recomputes!) in the reference
  (docs/vector-segmentation-masks.md:153-157); ``fork`` here returns the
  same plan twice with an optional .cache() — strictly better.
* batch = floor((row_number-1)/size) bucketing over a deterministic order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_global_pos(df: DataFrame, order: list[str],
                    pos_col: str = "_pos") -> DataFrame:
    """Attach a 1-based global rank by ``order`` WITHOUT a single-task
    global Window (the zipWithIndex pattern, scale-safe):

    1. range-repartition on the order keys (equal keys co-locate, so
       cross-partition ties are impossible) + sortWithinPartitions;
    2. per-partition 0-based index from ``monotonically_increasing_id``'s
       low 33 bits — pure JVM, no shuffle, no Python;
    3. per-partition row counts (one #partitions-sized planning pass — the
       same extra pass RDD.zipWithIndex makes) → cumulative offsets
       broadcast as a literal map.

    Every task numbers its own partition in parallel; the only global
    state is the #partitions-integer offset map.

    The repartitioned frame is localCheckpoint-ed and materialized by the
    counts job before the numbering job reads it. This pins ONE physical
    partitioning: Spark's RangePartitioner seeds its reservoir sample
    with the per-execution RDD id, so two executions of the same
    repartitionByRange lineage can draw different range boundaries once
    partitions exceed the sample size — offsets computed from execution A
    against rows numbered in execution B would silently duplicate/skip
    global ranks at exactly the scale this function exists for. The
    checkpoint stores the blocks MEMORY_AND_DISK (eviction spills, it
    does not recompute) so both jobs see identical partitions — and,
    stronger than the previous persist(), the truncated lineage makes a
    silent re-draw IMPOSSIBLE (block loss fails the job instead of
    renumbering), and the blocks free on GC instead of accumulating in
    the CacheManager across calls.
    """
    cols = [F.col(c) for c in order]
    # explicit partition count: AQE never coalesces a user-numbered
    # repartition, so the counts job and the main job are guaranteed the
    # same partition COUNT (the persist below guarantees the same
    # partition BOUNDARIES)
    try:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some AQE setups
        n_part = df.sparkSession.sparkContext.defaultParallelism
    part = (df.repartitionByRange(n_part, *cols)
            .sortWithinPartitions(*cols).localCheckpoint(eager=False))
    local = part.select(
        "*", F.spark_partition_id().alias("_pid"),
        (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1
         ).alias("_lrn"),
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count("*").alias("n")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    if not any(offsets.values()):
        pos = F.col("_lrn")
    else:
        off_map = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv])
        pos = F.col("_lrn") + F.coalesce(off_map[F.col("_pid")], F.lit(0))
    return local.withColumn(pos_col, pos.cast("long")).drop("_pid", "_lrn")


def mapper(df: DataFrame, **exprs: Column) -> DataFrame:
    """Mapper ≙ withColumns (per-element scalar/array transform)."""
    return df.withColumns(dict(exprs))


def flat_mapper(df: DataFrame, out_name: str, arr: Column) -> DataFrame:
    """FlatMapper ≙ explode of an array-returning expression (1→N)."""
    return df.select("*", F.explode(arr).alias(out_name))


def zipper(left: DataFrame, right: DataFrame, order_left: list[str],
           order_right: list[str], suffix: str = "_r") -> DataFrame:
    """Zipper ≙ positional pairing via scale-safe global ranks on both
    sides (``with_global_pos`` — no single-task Window) + equi-join."""
    l = with_global_pos(left, order_left)
    r = with_global_pos(right, order_right)
    for c in set(l.columns) & set(r.columns) - {"_pos"}:
        r = r.withColumnRenamed(c, c + suffix)
    return l.join(r, "_pos").drop("_pos")


def forker(df: DataFrame, n: int = 2, cache: bool = True) -> list[DataFrame]:
    """Forker ≙ plan reuse; cache() avoids the reference's recompute."""
    if cache:
        df = df.cache()
    return [df] * n


def batcher(df: DataFrame, batch_size: int, order: list[str]) -> DataFrame:
    """Batcher ≙ deterministic global-rank bucketing into batch_id
    (scale-safe: per-partition numbering + broadcast offsets, no
    single-task global Window)."""
    return with_global_pos(df, order).withColumn(
        "batch_id",
        F.floor((F.col("_pos") - 1) / batch_size).cast("long"),
    ).drop("_pos")


def collator(pairs: DataFrame, value_cols: dict[str, str]) -> DataFrame:
    """Collator ≙ renaming/stacking joined columns into a wide record
    (xr.merge(join='override') ≙ keep-left-coords wide select)."""
    cols = [F.col(src).alias(dst) for dst, src in value_cols.items()]
    keep = [c for c in pairs.columns if c not in value_cols.values()]
    return pairs.select(*keep, *cols)
