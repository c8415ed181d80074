"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k as the exactness baseline (JVM-side
``aggregate``/``zip_with`` dot products — no Python), and an LSH-bucketed
variant (random-hyperplane signs from a deterministic seed) as the scale
path: queries and targets bucket on the sign signature; candidates come
from an equi-join on bucket, then the same top-k window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda v: v.cast("double"))


def cosine_topk_bruteforce(queries: DataFrame, targets: DataFrame, k: int,
                           q_id: str = "query_id", t_id: str = "vec_id",
                           q_vec: str = "embedding", t_vec: str = "embedding") -> DataFrame:
    """Exact top-k by cosine; ties broken by target id. Broadcast the query
    side (queries are few; targets are the 100 TB side)."""
    from zen3geo_spark.operators._util import ensure_parallelism

    from zen3geo_spark.operators._util import pair_all

    q = queries.select(F.col(q_id).alias("query_id"),
                       _as_double(F.col(q_vec)).alias("qv"))
    t = ensure_parallelism(targets.select(F.col(t_id).alias("target_id"),
                                          _as_double(F.col(t_vec)).alias("tv")))
    # all-pairs via constant-key equi-join (BroadcastHashJoin on the tiny
    # query side) — the exact baseline without a nested-loop plan node
    pairs = pair_all(t, q).select(
        "query_id", "target_id", cosine(F.col("qv"), F.col("tv")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("target_id").asc())
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "target_id", "cos", "rk"))


def cosine_near_dup_pairs(emb: DataFrame, threshold: float,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          max_left: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_id, b_id, cos) with
    a_id < b_id and cos >= threshold.

    This is the exactness baseline (all-pairs). It is deliberately a
    broadcast nested-loop: the id inequality is the only join condition, so
    use it when one side fits in memory or on bounded candidate sets; the
    100 TB path blocks candidates first (``cosine_topk_lsh``'s hyperplane
    buckets) and verifies pairs with this same cosine expression.
    ``max_left`` bounds the left side (a_id < max_left) to keep the pair
    count linear in the table size rather than quadratic.
    """
    from zen3geo_spark.operators._util import ensure_parallelism

    d = emb.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    left = d.select(F.col("_id").alias("a_id"), F.col("_v").alias("va"))
    if max_left is not None:
        left = left.filter(F.col("a_id") < max_left)
    # the streamed (non-broadcast) side carries the O(n^2) cosine work:
    # make sure it isn't a single scan partition
    right = ensure_parallelism(
        d.select(F.col("_id").alias("b_id"), F.col("_v").alias("vb"))
    )
    pairs = F.broadcast(left).join(right, F.col("a_id") < F.col("b_id"))
    return (
        pairs.select("a_id", "b_id", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_dup_pairs_blocked(emb: DataFrame, threshold: float,
                                  id_col: str = "vec_id", vec_col: str = "embedding",
                                  n_blocks: int | None = 8,
                                  target_block_rows: int = 4096) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via block-matrix
    decomposition — the distributed replacement for the all-pairs
    nested-loop baseline (identical output, no join in the plan).

    Each vector lands in block ``b = xxhash64(id) mod n_blocks`` and is
    exploded to its ``n_blocks`` unordered block pairs (min(b,k),
    max(b,k)); one grouped ``applyInPandas`` task per block pair computes
    the full cross-block cosine matrix with a single NumPy matmul and
    emits (a_id, b_id, cos) with a_id < b_id and cos >= threshold. Work is
    O(n²/P) per task with P = n_blocks·(n_blocks+1)/2 tasks — pick
    n_blocks so a block's vectors fit executor memory. Exact all-pairs is
    intrinsically quadratic; at 100 TB the candidate-bounded paths
    (``cosine_topk_lsh`` bucketing / IVF lists) replace it, but when the
    contract IS "every pair above t", this shape is the one that scales:
    sized tasks, vectorized scoring, no broadcast of the full table.

    ``n_blocks=None`` auto-sizes from a count (parquet-statistics fast)
    so each block holds ~``target_block_rows`` vectors — the matmul per
    task is then (target² · dim) FLOPs with bounded memory regardless of
    table size.
    """
    import math

    from zen3geo_spark.operators._util import ensure_parallelism

    if n_blocks is None:
        n_rows = emb.count()  # planning pass; parquet count is metadata-fast
        n_blocks = max(1, math.ceil(n_rows / target_block_rows))

    d = ensure_parallelism(emb.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_b"),
    ))
    mem = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda k: F.struct(F.least(F.col("_b"), k).alias("bi"),
                           F.greatest(F.col("_b"), k).alias("bj")),
    )
    exploded = d.select("_id", "_v", "_b", F.explode(mem).alias("_bp")).select(
        "_id", "_v", "_b", F.col("_bp.bi").alias("bi"), F.col("_bp.bj").alias("bj"))

    def score(key, pdf: pd.DataFrame):
        bi, bj = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy()
        V = np.array(pdf["_v"].tolist(), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        if bi == bj:
            S = Vn @ Vn.T
            iu, ju = np.triu_indices(len(ids), 1)
            cos = S[iu, ju]
            a, b = ids[iu], ids[ju]
        else:
            la = pdf["_b"].to_numpy() == bi
            A, B = Vn[la], Vn[~la]
            ia, ib = ids[la], ids[~la]
            S = A @ B.T
            ii, jj = np.nonzero(S >= threshold)
            cos = S[ii, jj]
            a, b = ia[ii], ib[jj]
        keep = cos >= threshold
        a, b, cos = a[keep], b[keep], cos[keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos": cos})

    return exploded.groupBy("bi", "bj").applyInPandas(
        score, schema="a_id long, b_id long, cos double")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_buckets_multi_pd(planes_list: list[list[list[float]]]):
    """All hash tables' buckets in ONE Arrow pass: returns an array of
    ``len(planes_list)`` bucket ids per vector (posexplode downstream).
    One UDF scan of the table instead of one per hash table."""
    Ps = np.stack([np.asarray(p, dtype=np.float64) for p in planes_list])
    n_planes = Ps.shape[1]
    shifts = np.arange(n_planes)

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        M = np.array(vecs.tolist(), dtype=np.float64)
        sims = np.einsum("bd,tpd->btp", M, Ps)
        bits = ((sims >= 0).astype(np.int64) << shifts).sum(axis=2)
        return pd.Series(list(bits))

    return buckets


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-signature bucket id from fixed random hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def _unit_rows(M: np.ndarray) -> np.ndarray:
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)


def cosine_topk_ivf(queries: DataFrame, targets: DataFrame, k: int,
                    n_lists: int = 16, n_probe: int = 4,
                    train_iters: int = 0,
                    q_id: str = "query_id", t_id: str = "vec_id",
                    q_vec: str = "embedding", t_vec: str = "embedding") -> DataFrame:
    """IVF-style ANN: partition targets into ``n_lists`` inverted lists by
    nearest centroid, probe the ``n_probe`` nearest lists per query, exact
    cosine + top-k window over the probed candidates.

    Centroids start as the first ``n_lists`` target vectors (by id,
    deterministic); ``train_iters`` Lloyd rounds of spherical k-means
    refine them — each round is ONE distributed pass (assign UDF →
    per-list per-dimension avg aggregate) plus an n_lists×dim collect, the
    legitimate codebook-training planning pattern at any scale.
    Assignment and probe-selection reuse the same Arrow matmul kernel as
    the LSH bucketing. Recall grows with n_probe and train_iters;
    candidates stay equi-join-shaped (never all-pairs).
    """
    from zen3geo_spark.operators._util import ensure_parallelism

    # localCheckpoint: the seed collect, every Lloyd round, and the final
    # list assignment all scan the parsed target table — without it each
    # pass re-reads the source and re-pays the repartition shuffle; the
    # checkpoint blocks are GC-freed after the query (a plain persist's
    # CacheManager entry never is). Caveat: lineage is truncated, so an
    # executor loss fails fast instead of recomputing — under dynamic
    # allocation swap for reliable checkpoint() (see dedup.py module doc)
    t = ensure_parallelism(
        targets.select(F.col(t_id).alias("target_id"),
                       _as_double(F.col(t_vec)).alias("tv"))
    ).localCheckpoint(eager=False)
    q = queries.select(F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv"))

    cents = [r["tv"] for r in
             t.orderBy("target_id").limit(n_lists).collect()]
    C_unit = _unit_rows(np.asarray(cents, dtype=np.float64))
    dim = C_unit.shape[1]

    def make_assign(cu: np.ndarray):
        @F.pandas_udf("long")
        def nearest_list(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="int64")
            M = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
            return pd.Series((M @ cu.T).argmax(axis=1).astype("int64"))
        return nearest_list

    for _ in range(train_iters):
        # one MAP-ONLY pass per Lloyd round: each task assigns its rows
        # with a single matmul and emits per-list partial (sum_vec, n) —
        # at most n_lists rows per partition — which the driver combines
        # into the new codebook (an n_lists×dim planning collect, same
        # size class as the codebook itself). No shuffle, no 64-wide
        # per-element aggregate walking tv[i] per row.
        cu = C_unit

        def lloyd(batches, _cu=cu):
            S = np.zeros((n_lists, dim), dtype=np.float64)
            n = np.zeros(n_lists, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(pdf["tv"].tolist(), dtype=np.float64)
                a = (_unit_rows(M) @ _cu.T).argmax(axis=1)
                for j in range(n_lists):
                    sel = a == j
                    if sel.any():
                        S[j] += M[sel].sum(axis=0)
                        n[j] += int(sel.sum())
            live = np.nonzero(n)[0]
            if len(live):
                yield pd.DataFrame({
                    "list_id": live.astype(np.int64),
                    "s": [S[j].tolist() for j in live],
                    "n": n[live],
                })

        part = t.mapInPandas(lloyd, schema="list_id long, s array<double>, n long")
        S_tot = np.zeros((n_lists, dim), dtype=np.float64)
        n_tot = np.zeros(n_lists, dtype=np.int64)
        for r in part.collect():
            S_tot[r["list_id"]] += np.asarray(r["s"], dtype=np.float64)
            n_tot[r["list_id"]] += r["n"]
        C_unit = _unit_rows(np.asarray(
            [(S_tot[i] / n_tot[i]) if n_tot[i] else C_unit[i]
             for i in range(n_lists)], dtype=np.float64))

    nearest_list = make_assign(C_unit)
    cu_final = C_unit

    @F.pandas_udf("array<long>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        M = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
        sims = M @ cu_final.T
        # stable sort → exact ties resolve to the LOWEST list id, matching
        # the oracle's (cos DESC, list_id ASC) ordering. argmax in the
        # assign/Lloyd kernels already picks the lowest index on ties.
        # Residual FP fragility (summation-order near-ties vs an oracle
        # computing cosine on raw vectors) is documented at the oracle.
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].astype("int64")
        return pd.Series(list(order))

    tl = t.select("target_id", "tv", nearest_list(F.col("tv")).alias("list_id"))
    ql = q.select("query_id", "qv",
                  F.explode(probe_lists(F.col("qv"))).alias("list_id"))
    cand = F.broadcast(ql).join(tl, "list_id")
    pairs = cand.select("query_id", "target_id",
                        cosine(F.col("qv"), F.col("tv")).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("target_id").asc())
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "target_id", "cos", "rk"))


def cosine_topk_lsh(queries: DataFrame, targets: DataFrame, k: int, dim: int,
                    n_planes: int = 8, n_tables: int = 4,
                    q_id: str = "query_id", t_id: str = "vec_id",
                    q_vec: str = "embedding", t_vec: str = "embedding") -> DataFrame:
    """ANN top-k: candidates = union over ``n_tables`` independent
    hyperplane tables of same-bucket targets, then exact cosine + window.
    Recall grows with n_tables; candidates stay equi-join-shaped."""
    from zen3geo_spark.operators._util import ensure_parallelism

    q = queries.select(F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv"))
    t = ensure_parallelism(
        targets.select(F.col(t_id).alias("target_id"), _as_double(F.col(t_vec)).alias("tv")))
    planes_list = [_hyperplanes(dim, n_planes, seed=42 + tbl)
                   for tbl in range(n_tables)]
    buckets_udf = lsh_buckets_multi_pd(planes_list)
    qb = q.select(
        "query_id", "qv",
        F.posexplode(buckets_udf(F.col("qv"))).alias("tbl", "bucket"))
    tb = t.select(
        "target_id", "tv",
        F.posexplode(buckets_udf(F.col("tv"))).alias("tbl", "bucket"))
    # dedupe on the id pair only — a distinct over rows carrying both
    # embedding arrays would hash 2x64 floats per candidate; reattach the
    # vectors afterwards (targets by shuffle join, queries broadcast)
    cand_ids = (F.broadcast(qb.select("query_id", "tbl", "bucket"))
                .join(tb.select("target_id", "tbl", "bucket"), ["tbl", "bucket"])
                .select("query_id", "target_id").distinct())
    cand = (cand_ids.join(t, "target_id")
            .join(F.broadcast(q), "query_id"))
    pairs = cand.select("query_id", "target_id", cosine(F.col("qv"), F.col("tv")).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("target_id").asc())
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "target_id", "cos", "rk"))


# ---------------------------------------------------------------------------
# int8 scalar quantization (memory-bandwidth path)
# ---------------------------------------------------------------------------

INT8_SCALE = 256  # power of two: v·256 is EXACT in FP, floor deterministic


def quantize_int8(vec: Column) -> Column:
    """Scalar-quantize a float vector to int8 range: q_i = clamp(floor(
    double(v_i) · 256), −128, 127). At 100 TB the quantized table is 4×
    smaller than float32 (8× vs float64) — the scan and shuffle win that
    makes re-ranking pipelines (int8 coarse pass → float fine pass)
    worth it. Every step is IEEE-exact (float→double exact, ×2^8 exact,
    floor deterministic), so the quantized vectors — and every integer
    dot product over them — are bit-identical across engines."""
    return F.transform(
        vec,
        lambda v: F.greatest(
            F.lit(-128),
            F.least(F.lit(127),
                    F.floor(v.cast("double") * F.lit(INT8_SCALE)))
        ).cast("int"))


def int8_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (≤ dim·2^14 —
    no overflow anywhere near int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int8_topk(queries: DataFrame, targets: DataFrame, k: int,
              q_id: str = "query_id", t_id: str = "vec_id",
              q_vec: str = "embedding", t_vec: str = "embedding") -> DataFrame:
    """Top-k by int8-quantized dot product — the coarse pass of a
    quantized re-ranking pipeline. Same plan shape as the float brute
    force (tiny query side broadcasts via the constant-key equi-join;
    per-query top-k window), but scores are exact int64, so ranking has
    no FP order-dependence at all: ties break on target id and the
    result is reproducible to the bit on any cluster size."""
    from zen3geo_spark.operators._util import ensure_parallelism, pair_all

    q = queries.select(F.col(q_id).alias("query_id"),
                       quantize_int8(F.col(q_vec)).alias("qq"))
    t = ensure_parallelism(targets.select(
        F.col(t_id).alias("target_id"),
        quantize_int8(F.col(t_vec)).alias("tq")))
    pairs = pair_all(t, q).select(
        "query_id", "target_id",
        int8_dot(F.col("qq"), F.col("tq")).alias("dot_q"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("target_id").asc())
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "target_id", "dot_q", "rk"))


def bitext_mine(src: DataFrame, tgt: DataFrame, margin: float = 1.01,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Margin-based bitext mining between two embedding groups (the
    LASER/CCMatrix parallel-corpus miner, simplified to forward ratio
    margin + mutual-best): a (src, tgt) pair is emitted iff tgt is src's
    best cosine match, src is tgt's best match back, and src's best
    score beats its SECOND-best by the ratio ``margin`` (filters hubs —
    vectors near everything — which mutual-best alone lets through).

    Returns ``(src_id, tgt_id)`` — ids only, no float scores, so the
    output is hash-stable cross-engine (ranking comparisons are the only
    FP dependence, as in the ANN queries).

    Scale shape: two brute-force top-k passes (each a broadcast of the
    smaller side — swap in ``cosine_topk_ivf`` for the forward pass when
    both sides are corpus-sized) + one broadcast semi-join for
    mutuality. No nested-loop plan nodes (pair_all constant-key join).
    """
    fwd = cosine_topk_bruteforce(src, tgt, 2, q_id=id_col, t_id=id_col,
                                 q_vec=vec_col, t_vec=vec_col)
    best = (fwd.filter(F.col("rk") == 1)
            .select(F.col("query_id").alias("src_id"),
                    F.col("target_id").alias("tgt_id"),
                    F.col("cos").alias("cos1")))
    second = (fwd.filter(F.col("rk") == 2)
              .select(F.col("query_id").alias("src_id"),
                      F.col("cos").alias("cos2")))
    # both rank tables are query-count-sized -> broadcast, no SMJ sort
    ok = (best.join(F.broadcast(second), "src_id", "left")
          .filter(F.col("cos2").isNull()
                  | (F.col("cos1") >= F.lit(margin) * F.col("cos2"))))
    bwd = (cosine_topk_bruteforce(tgt, src, 1, q_id=id_col, t_id=id_col,
                                  q_vec=vec_col, t_vec=vec_col)
           .filter(F.col("rk") == 1)
           .select(F.col("target_id").alias("src_id"),
                   F.col("query_id").alias("tgt_id")))
    return (ok.join(F.broadcast(bwd), ["src_id", "tgt_id"], "left_semi")
            .select("src_id", "tgt_id"))


def bitext_mine_sql_duckdb(emb_rel: str, src_label: int, tgt_label: int,
                           margin: float = 1.01) -> str:
    """DuckDB twin of :func:`bitext_mine` over a labeled embedding table
    (same ranking tie-breaks, same margin arithmetic)."""
    return f"""
with s as (select vec_id, embedding from {emb_rel} where label = {src_label}),
t as (select vec_id, embedding from {emb_rel} where label = {tgt_label}),
fwd as (
  select s.vec_id as src_id, t.vec_id as tgt_id,
         list_cosine_similarity(s.embedding, t.embedding) as cos,
         row_number() over (
             partition by s.vec_id
             order by list_cosine_similarity(s.embedding, t.embedding) desc,
                      t.vec_id asc) as rk
  from s, t
),
best as (select src_id, tgt_id, cos as cos1 from fwd where rk = 1),
second as (select src_id, cos as cos2 from fwd where rk = 2),
bwd as (
  select t.vec_id as tgt_id, s.vec_id as src_id,
         row_number() over (
             partition by t.vec_id
             order by list_cosine_similarity(t.embedding, s.embedding) desc,
                      s.vec_id asc) as rk
  from t, s
)
select b.src_id, b.tgt_id
from best b
left join second x using (src_id)
where (x.cos2 is null or b.cos1 >= {margin} * x.cos2)
  and exists (select 1 from bwd w
              where w.rk = 1 and w.src_id = b.src_id
                and w.tgt_id = b.tgt_id)
"""


# ---------------------------------------------------------------------------
# semantic dedup (cluster-then-prune, SemDeDup-style)
# ---------------------------------------------------------------------------

def semantic_dedup(emb: DataFrame, n_lists: int = 16, threshold: float = 0.6,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Cluster-then-prune embedding dedup (the SemDeDup recipe): assign
    every vector to its nearest of ``n_lists`` deterministic centroids
    (the first ``n_lists`` vectors by id — same seeding as the IVF
    index), then drop any vector that has a LOWER-id neighbor in the
    SAME cluster at cosine >= ``threshold``. Returns the kept rows as
    (vec_id, list_id).

    This is the 100 TB path for embedding dedup: the corpus-wide
    pairwise matmul (``cosine_near_dup_pairs_blocked``) is exact but
    touches every block pair; here the only pairwise work is the
    within-cluster equi-join on ``list_id``, so cost is sum of squared
    CLUSTER sizes — the published algorithm's knob is exactly the
    cluster count, and a skewed cluster can reuse the LSH ``max_bucket``
    guard. Everything is JVM codegen: centroid assignment is a
    broadcast join against the n_lists-row codebook + one window (no
    Python matmul — at 16 centroids the 16x fanout is cheaper than an
    Arrow hop), the prune is one self-equi-join + NOT-EXISTS anti-join.

    The keep rule is the anti-chain form ("drop x iff some y < x in the
    same cluster has cos(x,y) >= t"), not the sequential-greedy form —
    identical output to greedy when near-dup relations are transitive
    within a cluster, and expressible as one join instead of an
    iterative loop.
    """
    from zen3geo_spark.operators._util import ensure_parallelism, pair_all

    t = ensure_parallelism(
        emb.select(F.col(id_col).alias("vec_id"),
                   _as_double(F.col(vec_col)).alias("tv"))
    ).localCheckpoint(eager=False)
    cents = t.orderBy("vec_id").limit(n_lists).select(
        F.col("vec_id").alias("list_id"), F.col("tv").alias("cv"))

    scored = pair_all(t, cents).select(
        "vec_id", "tv", "list_id",
        cosine(F.col("tv"), F.col("cv")).alias("_cc"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_cc").desc(), F.col("list_id").asc())
    asg = (scored.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") == 1).select("vec_id", "list_id", "tv"))

    a = asg.select(F.col("vec_id").alias("a_id"), "list_id",
                   F.col("tv").alias("va"))
    b = asg.select(F.col("vec_id").alias("b_id"), "list_id",
                   F.col("tv").alias("vb"))
    drops = (a.join(b, "list_id")
             .filter(F.col("a_id") < F.col("b_id"))
             .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
             .select(F.col("b_id").alias("vec_id")).distinct())
    return asg.join(drops, "vec_id", "left_anti").select("vec_id", "list_id")


def semantic_dedup_sql_duckdb(emb_rel: str, n_lists: int = 16,
                              threshold: float = 0.6) -> str:
    """DuckDB twin of :func:`semantic_dedup`: same centroid seeding, same
    (cos DESC, list_id ASC) assignment tie-break, same lower-id keep
    rule. Cosine formula text differs (list_cosine_similarity vs the
    Spark fold) — summation-order ulps only; thresholds must stay far
    from any realized pair cosine (same accepted fragility as the other
    embedding oracles)."""
    return f"""
with t as (select vec_id, embedding::DOUBLE[] as tv from {emb_rel}),
c as (select vec_id as list_id, embedding::DOUBLE[] as cv
      from {emb_rel} where vec_id < {n_lists}),
asg as (
  select vec_id, list_id, tv from (
    select t.vec_id, c.list_id, t.tv,
           row_number() over (partition by t.vec_id
               order by list_cosine_similarity(t.tv, c.cv) desc,
                        c.list_id asc) as rk
    from t, c) where rk = 1
)
select a.vec_id, a.list_id from asg a
where not exists (
  select 1 from asg b
  where b.list_id = a.list_id and b.vec_id < a.vec_id
    and list_cosine_similarity(a.tv, b.tv) >= {threshold}
)
"""


# ---------------------------------------------------------------- PQ ---

def _pq_q8d(emb: DataFrame, dsub: int, vec_col: str,
            id_col: str) -> DataFrame:
    """(id, s, d, val): int8-quantized coordinates keyed by subspace."""
    return (emb.select(F.col(id_col).alias("id"),
                       F.posexplode(quantize_int8(F.col(vec_col)))
                       .alias("i", "val"))
            .selectExpr("id", f"i div {dsub} as s", f"i % {dsub} as d",
                        "cast(val as bigint) as val"))


def _pq_seed_cent(spark, m: int, dsub: int, k: int):
    return spark.sql(f"""
      select s.s, c.c, d.d,
             cast((s.s * 131 + c.c * 31 + d.d * 17) % 256 - 128 as bigint)
               as cval
      from range({m}) as s(s), range({k}) as c(c), range({dsub}) as d(d)""")


def _pq_lloyd(q8d: DataFrame, cent: DataFrame, rounds: int):
    """Shared join-based Lloyd loop → (codes, final centroids)."""
    from pyspark.sql.window import Window

    from zen3geo_spark.operators.trajectory import floor_div_sql

    w = Window.partitionBy("id", "s").orderBy("dist2", "c")
    codes = None
    for r in range(rounds + 1):
        codes = (q8d.join(F.broadcast(cent), ["s", "d"])
                 .groupBy("id", "s", "c")
                 .agg(F.sum((F.col("val") - F.col("cval"))
                            * (F.col("val") - F.col("cval"))).alias("dist2"))
                 .withColumn("_rk", F.row_number().over(w))
                 .filter("_rk = 1")
                 .select("id", "s", F.col("c").alias("code"))
                 .localCheckpoint(eager=False))
        if r == rounds:
            break
        cent = (q8d.join(codes, ["id", "s"])
                .groupBy("s", F.col("code").alias("c"), "d")
                .agg(F.sum("val").alias("_sv"), F.count("*").alias("_n"))
                .selectExpr("s", "c", "d",
                            floor_div_sql("_sv", "_n", "spark")
                            + " as cval")
                .localCheckpoint(eager=False))
    return codes, cent


def pq_train_codes(emb: DataFrame, m: int = 4, dsub: int = 16,
                   k: int = 16, rounds: int = 2,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Product quantization (Jégou, Douze & Schmid 2011) over
    int8-quantized vectors: split each vector into ``m`` subspaces of
    ``dsub`` dims, k-means each subspace, and emit every vector's code
    word per subspace → (vec_id, s, code). With ``m`` codes of
    ``log2(k)`` bits a 64-dim float vector compresses 256 B → 2 B — the
    memory structure behind IVF-PQ indexes at 10^12-vector scale.

    The Lloyd recurrence here is FULLY distributed, join-based, and
    integer-exact: assignment = coordinate explode ⋈ centroid table
    (m·k·dsub rows — dimension-sized, broadcastable) → per-(vector,
    subspace) squared-distance aggregate → argmin window keyed by
    (vector, subspace); update = one group-by producing the next
    m·k·dsub centroid table with FLOOR-division means (non-negative
    rewrite, Spark div ≡ DuckDB //). No driver collect anywhere —
    unlike the IVF trainer's codebook collect, the centroid state
    stays a DataFrame. Seeds are a deterministic int8 formula
    ((s·131 + c·31 + d·17) mod 256 − 128), so both engines start and
    therefore stay identical.
    """
    spark = emb.sparkSession
    q8d = _pq_q8d(emb, dsub, vec_col, id_col).localCheckpoint(eager=False)
    codes, cent = _pq_lloyd(q8d, _pq_seed_cent(spark, m, dsub, k),
                            rounds)
    return codes.selectExpr("id as vec_id", "s", "code")


def pq_train_sql_duckdb(rel: str, m: int = 4, dsub: int = 16,
                        k: int = 16, rounds: int = 2,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`pq_train_codes`: identical recurrence,
    unrolled; returns the CTE prefix ending in ``codes{rounds}`` and
    ``cent{rounds}`` so callers can select codes or compose ADC search
    on top."""
    from zen3geo_spark.operators.trajectory import floor_div_sql

    q8 = (f"select {id_col} as id, generate_subscripts(e, 1) - 1 as i, "
          f"cast(greatest(-128, least(127, "
          f"floor(cast(unnest(e) as double) * 256))) as bigint) as val "
          f"from (select {id_col}, {vec_col} as e from {rel})")
    parts = [
        f"q8d as (select id, i // {dsub} as s, i % {dsub} as d, val "
        f"from ({q8}))",
        f"""cent0 as (
      select s.s, c.c, d.d,
             cast((s.s * 131 + c.c * 31 + d.d * 17) % 256 - 128 as bigint)
               as cval
      from range({m}) as s(s), range({k}) as c(c), range({dsub}) as d(d))""",
    ]
    for r in range(rounds + 1):
        parts.append(f"""codes{r} as (
      select id, s, c as code from (
        select q.id, q.s, ct.c,
               sum((q.val - ct.cval) * (q.val - ct.cval)) as dist2,
               row_number() over (
                 partition by q.id, q.s
                 order by sum((q.val - ct.cval) * (q.val - ct.cval)),
                          ct.c) as rk
        from q8d q join cent{r} ct on q.s = ct.s and q.d = ct.d
        group by q.id, q.s, ct.c
      ) where rk = 1)""")
        if r == rounds:
            break
        cd = floor_div_sql("sv", "n", "duckdb")
        parts.append(f"""cent{r + 1} as (
      select s, code as c, d, {cd} as cval from (
        select q.s, cd.code, q.d, sum(q.val) as sv, count(*) as n
        from q8d q join codes{r} cd on q.id = cd.id and q.s = cd.s
        group by q.s, cd.code, q.d
      ))""")
    return "with " + ",\n".join(parts)


def pq_search_adc(emb: DataFrame, n_queries: int = 3, top_k: int = 5,
                  m: int = 4, dsub: int = 16, k: int = 16,
                  rounds: int = 2, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ codes: each
    query's exact int8 subvector computes one m·k distance TABLE
    against the trained centroids (dimension-sized join), target
    distances are then Σ_s table[s, code_s] — one join on the
    (s, code) pair + a per-query sum; the scan never touches raw
    vectors. Integer throughout ⇒ hash-exact. Queries are the first
    ``n_queries`` vec_ids (they remain in the corpus, so each query
    ranks ITSELF first — its own codes minimize every per-subspace
    term, so ADC(q,q) = the quantization error is the attainable
    minimum — the standard sanity anchor).
    """
    from pyspark.sql.window import Window

    spark = emb.sparkSession
    q8d = _pq_q8d(emb, dsub, vec_col, id_col).localCheckpoint(eager=False)
    codes, cent = _pq_lloyd(q8d, _pq_seed_cent(spark, m, dsub, k),
                            rounds)
    dtab = (q8d.filter(F.col("id") < n_queries)
            .join(F.broadcast(cent), ["s", "d"])
            .groupBy(F.col("id").alias("qid"), "s", "c")
            .agg(F.sum((F.col("val") - F.col("cval"))
                       * (F.col("val") - F.col("cval"))).alias("d2")))
    wq = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (codes.join(dtab.withColumnRenamed("c", "code"), ["s", "code"])
            .groupBy("qid", F.col("id").alias("vec_id"))
            .agg(F.sum("d2").alias("adc_dist"))
            .withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= top_k)
            .select("qid", "rk", "vec_id", "adc_dist"))


def pq_search_sql_duckdb(rel: str, n_queries: int = 3, top_k: int = 5,
                         m: int = 4, dsub: int = 16, k: int = 16,
                         rounds: int = 2, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`pq_search_adc` built on the training CTE
    prefix."""
    prefix = pq_train_sql_duckdb(rel, m, dsub, k, rounds, vec_col, id_col)
    return f"""{prefix},
    dtab as (
      select q.id as qid, q.s, ct.c,
             sum((q.val - ct.cval) * (q.val - ct.cval)) as d2
      from q8d q join cent{rounds} ct on q.s = ct.s and q.d = ct.d
      where q.id < {n_queries}
      group by q.id, q.s, ct.c
    ),
    adc as (
      select t.qid, cd.id as vec_id, sum(t.d2) as adc_dist
      from codes{rounds} cd join dtab t
        on cd.s = t.s and cd.code = t.c
      group by t.qid, cd.id
    )
    select qid, rk, vec_id, adc_dist from (
      select qid, vec_id, adc_dist,
             row_number() over (partition by qid
                                order by adc_dist, vec_id) as rk
      from adc
    ) where rk <= {top_k}
    """
