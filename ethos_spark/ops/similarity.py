"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline, pure ``zip_with``/``aggregate``
  Column expressions (JVM-side, no UDF), oracle-checked against DuckDB's
  ``list_cosine_similarity``.
- LSH-bucketed ANN: random-hyperplane signatures via a vectorized numpy
  pandas UDF → candidates bucket-join → exact re-rank. The scale path: at
  10^9 vectors only bucket-mates pay the dot product. (No SQL oracle —
  approximate; the driver records a rows-only check.)

  LSH caveat, measured: on ISOTROPIC random vectors (the driver's synthetic
  embeddings table: max pairwise cosine ≈ 0.37) hyperplane collisions are
  ≈ random and recall@k ≈ 0 — a property of the data, not the index; real
  embedding corpora are strongly clustered, where recall is high
  (demonstrated on clustered vectors in tests/test_similarity.py). For
  sparse-similarity corpora use the brute-force operator or raise probes.
- embedding near-duplicate pairs: cosine ≥ t over bucket-mates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import LongType


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# --- bit-exact numpy replicas of the Column-expression cosine -------------
#
# Spark evaluates _dot/_norm as an interpreted sequential left fold over the
# array (HigherOrderFunction lambdas are NOT codegen'd — ~100ns/element).
# np.cumsum along the last axis performs the IDENTICAL sequence of IEEE-754
# double additions (a prefix sum is by definition the sequential fold), and
# elementwise float32→float64 casts/multiplies are exact in both engines, so
# the kernels below produce bit-identical doubles to the JVM expressions
# while running vectorized across whole Arrow batches (guide §4.2). The
# trailing `+ 0.0` canonicalizes an all-(-0.0) fold to +0.0 exactly like the
# JVM's 0.0-seeded fold does.


def _np_fold_rows(prod64: "np.ndarray") -> "np.ndarray":
    """Sequential left-fold sum of each row of a float64 matrix."""
    return np.cumsum(prod64, axis=1)[:, -1] + 0.0


def _np_dots(vecs64: "np.ndarray", q64: "np.ndarray") -> "np.ndarray":
    return _np_fold_rows(vecs64 * q64[None, :])


def _np_norms(vecs64: "np.ndarray") -> "np.ndarray":
    return np.sqrt(_np_fold_rows(vecs64 * vecs64))


def _stack64(series: "pd.Series") -> "np.ndarray":
    """(n, dim) float64 matrix from an Arrow list column (float32 exact-cast)."""
    return np.stack(
        [np.asarray(v, dtype=np.float64) for v in series.to_numpy()]
    )


# unrounded-score slack that provably covers every row the final
# rounded-score window could rank into the top-k (round(·, 6) moves a value
# by ≤5e-7, so a kept row is within 1e-6 of the batch's kth-best; 2e-6 = 2×)
_ROUND_BAND = 2e-6


def _exact_candidate_rows(
    emb: DataFrame,
    queries: list[tuple[int, "np.ndarray"]],
    k: int,
    id_col: str,
    vec_col: str,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Per-partition exact-cosine top-k candidates against every query.

    Each corpus vector is shipped across the Arrow boundary ONCE (guide
    §4.1/§8: decide on light rows); per batch a vectorized kernel scores it
    against all Q queries and emits only rows that can still reach the
    global top-k (kth-best-per-batch minus _ROUND_BAND), so the downstream
    window sees ~Q·k rows per partition instead of the full n×Q pair
    blow-up. Scores are bit-identical to the Column-expression cosine (see
    the cumsum note above); the caller applies the same F.round + window."""
    q_ids = [int(q) for q, _ in queries]
    q_mat = np.stack([v for _, v in queries])  # (Q, dim) float64
    q_norms = _np_norms(q_mat)
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_id"].to_numpy()
            vecs = _stack64(pdf["_vec"])
            vnorms = _np_norms(vecs)
            out_q, out_n, out_s = [], [], []
            for qi, (qid, _) in enumerate(queries):
                dots = _np_dots(vecs, q_mat[qi])
                scores = dots / (q_norms[qi] * vnorms)
                keep = ids != qid
                s, nid = scores[keep], ids[keep]
                if len(s) > kk:
                    # Spark's desc ordering ranks NaN above every number —
                    # treat NaN as +inf for the pruning rank so such rows
                    # are never dropped before the authoritative window
                    s_rank = np.where(np.isnan(s), np.inf, s)
                    kth = np.partition(s_rank, len(s) - kk)[len(s) - kk]
                    sel = s_rank >= kth - _ROUND_BAND
                    s, nid = s[sel], nid[sel]
                out_q.append(np.full(len(s), qid, dtype=np.int64))
                out_n.append(nid)
                out_s.append(s)
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_score_raw": np.concatenate(out_s),
                }
            )

    src = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    if not pre_partitioned:
        src = src.repartition(
            emb.sparkSession.sparkContext.defaultParallelism
        )
    return src.mapInPandas(
        score, "q_id long, neighbor_id long, _score_raw double"
    )


def collect_query_vecs(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, "np.ndarray"]]:
    """Request-sized driver collect of the query vectors (float64 exact)."""
    rows = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    return sorted(
        (int(r[0]), np.asarray(r[1], dtype=np.float64)) for r in rows
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vecs: list[tuple[int, "np.ndarray"]] | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding itself).

    One vectorized corpus pass: each partition emits only its local
    top-k(+rounding band) candidates per query (bit-identical scores to the
    old per-pair Column expression — see the cumsum fold note), then the
    original F.round + row_number window picks the global top-k. Replaces a
    broadcast-nested-loop pair blow-up (n×Q rows, 3 interpreted array folds
    per pair, single-task on a one-row-group scan) with one repartitioned
    scan and ~Q·k rows per partition."""
    if query_vecs is None:
        query_vecs = collect_query_vecs(emb, query_ids, id_col, vec_col)
    scored = _exact_candidate_rows(
        emb, query_vecs, k, id_col, vec_col, pre_partitioned
    ).select(
        "q_id",
        "neighbor_id",
        F.round(F.col("_score_raw"), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


# target mean bucket population: bucket count tracks corpus size so the
# per-query candidate list stays ~constant as the corpus grows (at 10^9
# vectors this yields ~24 planes; a fixed plane count would leave millions
# of vectors per bucket)
TARGET_BUCKET = 64


def planes_for(corpus_rows: int) -> int:
    """#hyperplanes scaled to corpus size: 2^planes ≈ rows / TARGET_BUCKET,
    floor 4 (16 buckets), cap 30 (long bucket key)."""
    return int(
        min(30, max(4, np.ceil(np.log2(max(corpus_rows, 2) / TARGET_BUCKET))))
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (seeded, no RNG state)."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_bucket_udf(dim: int, n_planes: int):
    planes = _hyperplanes(dim, n_planes)

    @F.pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (n, dim)
        signs = (m.astype(np.float64) @ planes.T) > 0  # (n, planes)
        out = np.zeros(len(m), dtype=np.int64)
        for j in range(n_planes):
            out |= signs[:, j].astype(np.int64) << j
        return pd.Series(out)

    return bucket


def cosine_pairs_udf():
    """Vectorized exact pair cosine: bit-identical doubles to the Column
    expression ``cosine(a, b)`` (same sequential fold — see the cumsum
    note), one Arrow batch at a time instead of three interpreted array
    folds per row."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        va, vb = _stack64(a), _stack64(b)
        dots = _np_fold_rows(va * vb)
        return pd.Series(dots / (_np_norms(va) * _np_norms(vb)))

    return cos


def lsh_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    corpus_rows: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Approximate top-k: only vectors in the query's hyperplane bucket are
    scored (multi-probe: exact bucket ∪ distance-1 buckets).

    ``n_planes`` defaults to ``planes_for(corpus size)`` so buckets keep a
    roughly constant population as the corpus grows; pass ``corpus_rows``
    if known to avoid the count job."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if n_planes is None:
        n_planes = planes_for(
            corpus_rows if corpus_rows is not None else emb.count()
        )
    bucket = lsh_bucket_udf(dim, n_planes)
    src = emb
    if not pre_partitioned:
        src = src.repartition(
            emb.sparkSession.sparkContext.defaultParallelism
        )
    with_b = src.withColumn("bucket", bucket(F.col(vec_col))).cache()
    q = with_b.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    # multi-probe: flip each bit once → N_PLANES+1 probe buckets per query
    probes = q.select(
        "q_id",
        "q_vec",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[
                    F.col("q_bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    pairs = with_b.join(F.broadcast(probes), "bucket").where(
        F.col(id_col) != F.col("q_id")
    )
    # each corpus vector lives in exactly ONE bucket and a query's probe
    # buckets are pairwise distinct, so (q_id, neighbor_id) is already
    # unique — no dropDuplicates shuffle needed
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_pairs_udf()(F.col("q_vec"), F.col(vec_col)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def with_cluster_structure(
    emb: DataFrame,
    n_clusters: int = 8,
    alpha: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Impose deterministic cluster structure on an isotropic vector table:
    v' = (1-α)·centroid[v.id mod C] + α·v, centroids = the first C vectors.
    No RNG. Harness for evaluating the LSH index on data shaped like real
    embedding corpora — hyperplane LSH is provably uninformative on
    isotropic noise (max pairwise cosine ≈0.4 on the driver's synthetic
    table), which says nothing about the index.

    The centroid table is request-sized (C rows), so it rides into a
    mapInPandas closure and the mix is one vectorized numpy pass — the old
    broadcast-join + interpreted zip_with recomputed ~dim lambda evals per
    row in every consuming branch. Bit-identical floats: same f64 cast,
    same (c·(1-α)) + (v·α) operation order, same f64→f32 rounding."""
    cent_rows = (
        emb.where(F.col(id_col) < n_clusters)
        .select(id_col, vec_col)
        .collect()
    )
    if not cent_rows:  # no centroids → the old inner join produced no rows
        return emb.where(F.lit(False)).select(id_col, vec_col)
    cmat = np.zeros(
        (n_clusters, len(cent_rows[0][1])), dtype=np.float64
    )
    for r in cent_rows:
        cmat[int(r[0])] = np.asarray(r[1], dtype=np.float64)
    have = {int(r[0]) for r in cent_rows}
    w_c, w_v = 1.0 - alpha, alpha

    def mix(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_id"].to_numpy()
            vecs = _stack64(pdf["_vec"])
            cid = ids % n_clusters
            mixed = (cmat[cid] * w_c + vecs * w_v).astype(np.float32)
            yield pd.DataFrame({"_id": ids, "_vec": list(mixed)})

    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    out = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .where(F.pmod(F.col("_id"), F.lit(n_clusters)).isin(sorted(have)))
        # single-row-group inputs scan as ONE task; spread the mix (and
        # everything cached downstream) across the executors
        .repartition(n_parts)
        .mapInPandas(mix, "_id long, _vec array<float>")
        .select(
            F.col("_id").alias(id_col), F.col("_vec").alias(vec_col)
        )
    )
    return out


def kmeans_centroids(
    emb: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic coarse quantizer for IVF: centroids seeded with the
    first K vectors (no RNG), refined by ``iters`` Lloyd steps. Each step
    is one Spark pass: assign via a broadcast (K, dim) matrix inside a
    vectorized pandas UDF, re-center via groupBy mean — the standard IVF
    train loop. At 10^9 vectors one trains on a sample (emb.sample) with
    identical code; K scales ~sqrt(N)."""
    seed_rows = (
        emb.where(F.col(id_col) < n_clusters)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    cents = np.array([r[0] for r in seed_rows], dtype=np.float64)
    spark = emb.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    k = cents.shape[0]
    # r6 shape: each Lloyd step is ONE shuffle-free job — a mapInPandas
    # kernel emits per-partition (cluster, vector-sum, count) partials
    # (K rows each) and the driver merges the K×n_parts light rows. The
    # old step planned a 64-column F.sum aggregate per dimension (big
    # expression tree, analysis-dominated) plus a shuffle, three times
    # per training call.
    vecs_df = emb.select(F.col(vec_col).alias("_vec")).repartition(n_parts)
    for _ in range(iters):
        cn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )

        def partials(batches, cn=cn, k=k):
            sums = None
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = _stack64(pdf["_vec"])
                if sums is None:
                    sums = np.zeros((k, m.shape[1]), dtype=np.float64)
                mn = m / np.maximum(
                    np.linalg.norm(m, axis=1, keepdims=True), 1e-12
                )
                a = np.argmax(mn @ cn.T, axis=1)
                np.add.at(sums, a, m)
                counts += np.bincount(a, minlength=k)
            if sums is not None:
                yield pd.DataFrame(
                    {
                        "c": np.arange(k, dtype=np.int64),
                        "s": list(sums),
                        "n": counts,
                    }
                )

        rows = vecs_df.mapInPandas(
            partials, "c long, s array<double>, n long"
        ).collect()
        agg_s = np.zeros_like(cents)
        agg_n = np.zeros(k, dtype=np.int64)
        for r in rows:
            agg_s[int(r["c"])] += np.asarray(r["s"], dtype=np.float64)
            agg_n[int(r["c"])] += int(r["n"])
        new = cents.copy()
        nz = agg_n > 0
        new[nz] = agg_s[nz] / agg_n[nz, None]
        cents = new
    return cents


def _assign_udf(spark, cents: np.ndarray):
    """vec → nearest-centroid index by cosine (vectorized batch matmul)."""
    cents_b = spark.sparkContext.broadcast(
        cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    )

    @F.pandas_udf(LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        c = cents_b.value  # (K, dim), L2-normalized
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int64))

    return assign


def ivf_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: vectors are partitioned into centroid lists;
    each query scores only its ``nprobe`` nearest lists. The second
    scale path next to hyperplane LSH (lsh_ann_topk) — IVF adapts to the
    data distribution where LSH is data-oblivious.

    Scale shape: the list assignment is one vectorized pass; the probe
    join keys on list id, so per-query work is nprobe/K of the corpus. At
    10^9 vectors the lists are also the physical partitioning (write the
    corpus bucketed by list id) and probing prunes files, not just rows."""
    if centroids is None:
        centroids = kmeans_centroids(emb, n_clusters, 3, id_col, vec_col)
    spark = emb.sparkSession
    assign = _assign_udf(spark, centroids)
    n_parts = spark.sparkContext.defaultParallelism
    listed = (
        emb.repartition(n_parts)
        .withColumn("_list", assign(F.col(vec_col)))
        .cache()
    )
    q = listed.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    # nprobe nearest lists per query, computed driver-free: cross the tiny
    # query side with a literal centroid table and window-top-nprobe
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    cents_df = spark.createDataFrame(cent_rows, "_list long, _cvec array<double>")
    probes = (
        q.crossJoin(F.broadcast(cents_df))
        .withColumn("_sim", cosine(F.col("q_vec"), F.col("_cvec")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("_sim"), F.asc("_list"))
            ),
        )
        .where(F.col("_rk") <= nprobe)
        .select("q_id", "q_vec", "_list")
    )
    pairs = listed.join(F.broadcast(probes), "_list").where(
        F.col(id_col) != F.col("q_id")
    )
    # each corpus vector has exactly ONE list and a query's probe lists are
    # distinct (row_number over the centroid table) → pairs already unique
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_pairs_udf()(F.col("q_vec"), F.col(vec_col)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ann_recall_check(
    emb: DataFrame,
    query_ids: list[int],
    ann_topk: DataFrame,
    k: int = 10,
    min_recall: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Recall@k of any ANN result against the exact ``cosine_topk`` —
    one row (n_queries, recall_ok)."""
    exact = cosine_topk(
        emb, query_ids, k, id_col, vec_col, pre_partitioned=pre_partitioned
    )
    hits = (
        exact.join(ann_topk, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("hits"))
    )
    per_q = (
        exact.groupBy("q_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "q_id", "left")
        .fillna(0, ["hits"])
    )
    return per_q.agg(
        F.count("*").alias("n_queries"),
        (F.sum("hits") / F.sum("n_exact") >= min_recall).alias("recall_ok"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ t, bucket-blocked via LSH so the
    pair join is bucket-local instead of a cross join."""
    dim = len(emb.select(vec_col).first()[0])
    if n_planes is None:
        n_planes = planes_for(
            corpus_rows if corpus_rows is not None else emb.count()
        )
    bucket = lsh_bucket_udf(dim, n_planes)
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    with_b = emb.repartition(n_parts).withColumn(
        "bucket", bucket(F.col(vec_col))
    )
    a, b = with_b.alias("a"), with_b.alias("b")
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(
                cosine_pairs_udf()(
                    F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
                ),
                6,
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def _sq8_code(vec_col: str):
    """Column expr: v → round(127 · v/||v||) ∈ [-127, 127] (symmetric
    int8 codes of the unit vector — one global scale, no per-dim affine
    terms, so integer dots stay ∝ cosine)."""
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x / F.greatest(nrm, F.lit(1e-12)) * 127.0).cast(
            "int"
        ),
    )


# what write_sq8_ivf_store writes, recorded in the code store's layout
SQ8_SCHEMA = "vec_id long, code array<int>, _list long"


def write_sq8_ivf_store(
    emb: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """int8 code store in the IVF layout — the two compressions COMPOSE:
    IVF partition pruning cuts the directories a probe opens, SQ cuts the
    bytes per row inside them (4-8× vs full precision). At 10^9 vectors
    this is the serving store: a probe reads nprobe/K of the directories,
    each holding only codes; full-precision vectors stay in the cold
    float store and are touched only by the shortlist refine. One shuffle
    at ingest (repartition by list) buys one directory per list."""
    spark = emb.sparkSession
    assign = _assign_udf(spark, centroids)
    (
        emb.select(
            F.col(id_col),
            _sq8_code(vec_col).alias("code"),
            assign(F.col(vec_col)).alias("_list"),
        )
        .repartition("_list")
        .write.mode("overwrite")
        .partitionBy("_list")
        .parquet(path)
    )


def sq8_ivf_topk(
    spark,
    path: str,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    refine_with: DataFrame | None = None,
    shortlist_frac: float = 0.05,
    min_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k served from the partitioned int8 code store (VERDICT r4
    item 3 — the composition that removes a flat code scan's weakness):

    1. probe lists are picked driver-side from the centroids, and the
       ``_list IN (...)`` filter is a PARTITION filter — only the probed
       directories of the CODE store are listed/read (plan-asserted in
       tests/test_similarity_store.py);
    2. the coarse rank is the exact integer dot of int8 codes over those
       pruned rows only;
    3. the shortlist width SCALES WITH THE PROBED-LIST SIZE —
       ``max(min_candidates, shortlist_frac · probed_rows)`` instead of a
       fixed 5k multiple — so a 100× larger/tighter corpus widens the
       shortlist proportionally and the quantization-noise band cannot
       silently swallow true neighbors (the fixed-multiplier recall
       cliff). The sizing count runs on the pruned scan (parquet
       row-group metadata, no data read);
    4. ``refine_with`` joins the shortlist back to full-precision vectors
       for exact-cosine final ordering (queries carry their own
       full-precision vectors).
    """
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    probe_rows = []
    q_vec_rows = []
    needed: set[int] = set()
    for q_id, vec in queries:
        v = np.asarray(vec, dtype=np.float64)
        u = v / max(np.linalg.norm(v), 1e-12)
        # HALF_UP (round half away from zero) to match _sq8_code's
        # F.round exactly — np.rint is half-to-even and would give the
        # same vector different codes on the query vs corpus side
        scaled = u * 127.0
        q_code = [
            int(x) for x in np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
        ]
        q_vec_rows.append((int(q_id), [float(x) for x in vec]))
        sims = cn @ u
        order = np.lexsort((np.arange(len(sims)), -sims))[:nprobe]
        for li in order:
            probe_rows.append((int(q_id), q_code, int(li)))
            needed.add(int(li))
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_code array<int>, _list int"
    )
    scan = spark.read.parquet(path).where(F.col("_list").isin(sorted(needed)))
    n_probed = scan.count()  # metadata-only over the pruned partitions
    n_cand = max(
        min_candidates if min_candidates is not None else 4 * k,
        int(shortlist_frac * n_probed),
    )
    pairs = scan.join(F.broadcast(probes), "_list").where(
        F.col(id_col) != F.col("q_id")
    )
    dot = F.aggregate(
        F.zip_with("code", "q_code", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = pairs.select(
        "q_id", F.col(id_col).alias("neighbor_id"), dot.alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    if refine_with is None:
        return (
            coarse.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("q_id", "rank")
        )
    shortlist = (
        coarse.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_cand)
        .select("q_id", "neighbor_id")
    )
    qv = spark.createDataFrame(q_vec_rows, "q_id long, q_vec array<double>")
    nv = refine_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    refined = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(nv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                cosine_pairs_udf()(F.col("q_vec"), F.col("n_vec")), 6
            ).alias("score"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )
