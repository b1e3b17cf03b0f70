"""Deduplication operators over document corpora (training-data pipeline).

All variants are expressed with built-in DataFrame ops (shuffle-on-key
group-bys and joins; no Python in the hot path) and have exact DuckDB-SQL
oracles. The cross-engine shared hash is ``H(x) = bigint(md5(x)[0:14])``
(56 bits) — computable identically in Spark (``conv(...,16,10)``) and
DuckDB (``('0x'||substr(md5(x),1,14))::ubigint``).

- exact dedup: hash-groupBy on a normalized-text digest, keep min id
- SimHash: 56-bit sign-aggregated token hash + Hamming-distance pairs

The near-dup family is ONE relation, two producers and one verify:

- relation: (doc_id, n_sh, shs[, mh]) — each document's set of word
  n-gram ``h56`` hashes, plus its MinHash signature for the LSH path.
  ``shingle_sets`` is the only place the n-gram expression is built
  (decontamination reads it too).
- producers: computed (``shingle_sets``, ``with_minhash``) or stored
  (the artifact read: the computed relation written once per input
  fingerprint as an ``ethos_spark.artifacts`` dir, read back with
  ``SETS_SCHEMA``).
- candidates: n-gram Jaccard pairs every two docs sharing a shingle;
  MinHash + LSH pairs every two docs sharing a band bucket (64 hashes,
  32 bands × 2 rows: a pair with J=0.6 is missed with prob
  (1-0.6²)^32 ≈ 7e-7).
- verify: one exact ``array_intersect`` Jaccard over both sides' sets,
  so the two operators give identical pairs whenever LSH recall is 1.

Scale notes: the shingle-set relation is per row (no shuffle); the
n-gram candidate join explodes it ~50× and shuffles on shingle hash.
Band join keys are (band_idx, band_hash) — hot buckets (boilerplate
shingles) are the skew risk; the LSH path salts wide buckets
(``max_bucket``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

P61 = (1 << 61) - 1  # Mersenne prime for affine rehash
# banding sized for recall ≈ 1 down to J=0.6: miss prob (1-J²)^32 ≈ 7e-7
N_HASHES = 64
N_BANDS = 32  # × 2 rows
# the near-dup relation as stored: with_minhash(shingle_sets(...)) rows
SETS_SCHEMA = "doc_id bigint, n_sh int, shs array<bigint>, mh array<bigint>"


def h56(c: Column) -> Column:
    """Shared 56-bit hash: bigint of the first 14 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("long")


def normalized(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest id per identical normalized text; emit group size."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"), F.md5(normalized(F.col(text_col))).alias("digest")
        )
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("group_size"),
        )
        .select("keep_id", "group_size")
        .orderBy("keep_id")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, text) → (doc_id, n_sh, shs): each document's SET of normalized
    word n-gram hashes (``h56``) — the one relation the near-dup family
    and decontamination read. Built per row, JVM-side (no UDF, no
    shuffle); ``id_col`` is a key. A text shorter than ``n`` words is one
    shingle, so every set is non-empty."""
    words = F.split(normalized(F.col(text_col)), " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    shs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: h56(F.array_join(F.slice(words, i, n), " ")),
        )
    )
    return df.select(F.col(id_col).alias("doc_id"), shs.alias("shs")).select(
        "doc_id", F.size("shs").alias("n_sh"), "shs"
    )


def _jaccard_verify(
    candidates: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs (doc_a < doc_b): join each side's
    shingle set back on and count |A∩B| JVM-side with ``array_intersect``."""
    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("shs").alias(f"sh_{s}"),
            F.col("n_sh").alias(f"n_{s}"),
        )

    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(n_common / (F.col("n_a") + F.col("n_b") - n_common), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(sets: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Brute-force near-duplicate pairs (the oracle-exact baseline): every
    pair sharing ≥1 shingle is a candidate, verified exactly."""
    rows = sets.select("doc_id", F.explode("shs").alias("sh"))
    a, b = rows.alias("a"), rows.alias("b")
    candidates = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _jaccard_verify(candidates, sets, threshold)


def _sig_udf():
    """The minhash signature kernel as a reusable pandas UDF.

    NOT an affine family ((a·s+b) mod p): with a ≪ p the product never
    wraps, the map is order-preserving, and every hash would pick the same
    min shingle — zero independence (a real bug this module had). splitmix64
    re-mixes all 64 bits per hash index; per-row deterministic and
    order-independent (min over a set), so the result does not depend on
    partitioning or collect order."""
    from pyspark.sql.types import ArrayType, LongType

    n_hashes = N_HASHES

    @F.pandas_udf(ArrayType(LongType()))
    def sig(shs: pd.Series) -> pd.Series:
        # Batch-vectorized: concatenate every doc's shingle set, run each of
        # the 64 splitmix64 mixes over the WHOLE batch at once, then take
        # per-doc minima with np.minimum.reduceat over the doc boundaries.
        # Python-loop count drops from 64×n_docs to 64 per Arrow batch;
        # values are bit-identical to the per-doc kernel (same seeds, same
        # wraparound), so oracle hashes are unchanged. Working set stays
        # O(total_shingles) — no (N, 64) blowup.
        C1 = np.uint64(0xBF58476D1CE4E5B9)
        C2 = np.uint64(0x94D049BB133111EB)
        GOLD = np.uint64(0x9E3779B97F4A7C15)
        n_docs = len(shs)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(a) for a in shs), dtype=np.int64, count=n_docs)
        with np.errstate(over="ignore"):
            s_all = np.concatenate(
                [np.asarray(a, dtype=np.uint64) for a in shs]
            )
            # shingle_sets guarantees ≥1 shingle per doc (k ≥ 1), so every
            # reduceat segment is non-empty
            bounds = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=bounds[1:])
            mins = np.empty((n_docs, n_hashes), dtype=np.uint64)
            for i in range(n_hashes):
                z = s_all + np.uint64(i + 1) * GOLD
                z = (z ^ (z >> np.uint64(30))) * C1
                z = (z ^ (z >> np.uint64(27))) * C2
                z = z ^ (z >> np.uint64(31))
                mins[:, i] = np.minimum.reduceat(z, bounds)
            # >>1 keeps values in signed-long range for the LongType col
            out = (mins >> np.uint64(1)).astype(np.int64)
        return pd.Series(list(out))

    return sig


def with_minhash(sets: DataFrame) -> DataFrame:
    """A ``shingle_sets`` relation plus its MinHash signature ``mh`` (the
    signature pass — the dominant cost of the dedup pipeline at corpus
    scale)."""
    return sets.withColumn("mh", _sig_udf()(F.col("shs")))


_MAX_SALTS = 64  # cap the per-doc replication factor in pathological buckets


def _salted_bucket_pairs(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs from LSH buckets with the wide buckets salted.

    Narrow buckets (width ≤ max_bucket) self-join directly. A wide bucket
    of width w is split into S = ceil(w/max_bucket) (≤ ``_MAX_SALTS``)
    salt groups on pmod(xxhash64(doc_id), S); each doc fans out to the S
    triangle cells (min(i,salt), max(i,salt)), and the self-join runs on
    (band, sig, cell) so no single task ever holds more than ~2·max_bucket
    rows of one bucket. Pair uniqueness per bucket: diagonal cells emit
    only same-salt pairs, off-diagonal cells only cross-salt pairs — every
    unordered pair lands in exactly one cell."""
    widths = buckets.groupBy("band", "sig").agg(F.count("*").alias("w"))
    bw = buckets.join(widths, ["band", "sig"])

    def _pairs(side: DataFrame, join_cols: list[str], extra) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        cond = (F.col("a.doc_id") < F.col("b.doc_id")) & extra
        for c in join_cols:
            cond &= F.col(f"a.{c}") == F.col(f"b.{c}")
        return a.join(b, cond).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )

    narrow = _pairs(
        bw.where(F.col("w") <= max_bucket).select("band", "sig", "doc_id"),
        ["band", "sig"],
        F.lit(True),
    )
    n_salts = F.least(
        F.ceil(F.col("w") / F.lit(max_bucket)).cast("int"), F.lit(_MAX_SALTS)
    )
    salted = (
        bw.where(F.col("w") > max_bucket)
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), n_salts).cast("int"))
        .select(
            "band",
            "sig",
            "doc_id",
            "salt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_salts - 1),
                    lambda i: F.struct(
                        F.least(i, F.col("salt")).alias("ci"),
                        F.greatest(i, F.col("salt")).alias("cj"),
                    ),
                )
            ).alias("cell"),
        )
        .select(
            "band", "sig", "doc_id", "salt",
            F.col("cell.ci").alias("ci"), F.col("cell.cj").alias("cj"),
        )
        # the S cells {(min(i,salt), max(i,salt))} are pairwise distinct
        # per doc (i sweeps 0..S-1 once), so no dedup shuffle is needed
    )
    wide = _pairs(
        salted,
        ["band", "sig", "ci", "cj"],
        # diagonal cell: same-salt pairs; off-diagonal: cross-salt only
        F.when(
            F.col("a.ci") == F.col("a.cj"),
            F.col("a.salt") == F.col("b.salt"),
        ).otherwise(F.col("a.salt") != F.col("b.salt")),
    )
    return narrow.unionByName(wide).distinct()


def minhash_lsh_pairs(
    sets: DataFrame, threshold: float = 0.8, max_bucket: int | None = None
) -> DataFrame:
    """MinHash+LSH candidates (banded buckets over ``mh``), exact-Jaccard
    verified. ``sets`` is the near-dup relation with signatures, computed
    (``with_minhash(shingle_sets(...))``) or stored (the artifact read,
    ``SETS_SCHEMA``). Output identical to
    ``ngram_jaccard_pairs`` whenever LSH recall is 1 — which the band
    sizing guarantees up to ~1e-7 per pair at J ≥ 0.6.

    ``max_bucket``: skew guard for web-scale boilerplate clusters — a
    bucket of B docs yields B² candidate pairs, and the plain self-join
    puts all of them in ONE task. Buckets wider than this are routed
    through a SALTED TWO-STAGE pair generation instead (round-3 VERDICT
    item 7; the old behavior dropped wide buckets and lost their recall):
    each wide bucket is split into S = ceil(w / max_bucket) salt groups by
    doc-id hash, every doc is replicated to the S triangle cells (i, j)
    touching its group, and pairs are generated per cell — within-group
    pairs on the diagonal cell only, cross-group pairs where the salts
    differ. Every pair of the bucket is still produced exactly once
    (recall 1.0, pytest pins equality with the unsalted plan), but the B²
    work is spread over S(S+1)/2 cells of ≈max_bucket² pairs each. Off by
    default (None): small corpora don't need the extra width join.

    Shuffle-lean shape (the sf0.1 bench was stage-latency-bound at ~13
    shuffles): the band self-join runs on light (doc_id, band, sig) rows,
    and candidate pairs go through the same ``array_intersect`` verify as
    ``ngram_jaccard_pairs``. Carrying a doc's shingle-hash array through
    the two verify joins costs ~0.5-4 KB/row of shuffle IO, the standard
    trade in production minhash dedup (candidates are a tiny fraction of
    the corpus)."""
    rows_per_band = N_HASHES // N_BANDS
    # ONE compact higher-order expression instead of 32 unrolled struct
    # columns (~200 expression nodes): the unrolled form cost more in
    # per-invocation driver analysis than the whole query's task time
    # (same pathology as the old 56-column simhash aggregate). Values are
    # identical: element_at is 1-based, so element_at(mh, b·r + j + 1)
    # ≡ mh[b·r + j], and concat_ws(":") over the same elements.
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws(
                ":",
                *[
                    F.element_at(
                        F.col("mh"), b * rows_per_band + (r + 1)
                    )
                    for r in range(rows_per_band)
                ],
            ).alias("sig"),
        ),
    )
    buckets = sets.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    if max_bucket is None:
        a, b2 = buckets.alias("a"), buckets.alias("b")
        candidates = (
            a.join(
                b2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig")),
            )
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    else:
        candidates = _salted_bucket_pairs(buckets, max_bucket)
    return _jaccard_verify(candidates, sets, threshold)


SIMHASH_BITS = 56


def _simhash_sig_udf():
    """Per-doc SimHash from the doc's token-hash list, batch-vectorized
    exactly like ``_sig_udf``: concatenate every doc's hashes, per-bit
    popcounts via ``np.add.reduceat`` over the doc boundaries. Pure integer
    arithmetic (votes_b = 2·ones_b − n, bit set iff votes_b > 0) — value-
    identical to the old 56-column sum(±1) aggregate, whose ~170-node
    expression tree cost more in per-invocation analysis/planning time than
    the whole query's task work (measured: 0.11 s of job time inside a
    0.97 s wall)."""
    from pyspark.sql.types import LongType

    n_bits = SIMHASH_BITS

    @F.pandas_udf(LongType())
    def sig(hws: pd.Series) -> pd.Series:
        n_docs = len(hws)
        if n_docs == 0:
            return pd.Series([], dtype=np.int64)
        lens = np.fromiter((len(a) for a in hws), dtype=np.int64, count=n_docs)
        h_all = np.concatenate([np.asarray(a, dtype=np.uint64) for a in hws])
        bounds = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=bounds[1:])
        out = np.zeros(n_docs, dtype=np.int64)
        one = np.uint64(1)
        for b in range(n_bits):
            ones = np.add.reduceat(
                ((h_all >> np.uint64(b)) & one).astype(np.int64), bounds
            )
            out |= ((2 * ones - lens) > 0).astype(np.int64) << b
        return pd.Series(out)

    return sig


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """56-bit SimHash over word tokens (sign-aggregated bit votes): token
    hashes stay JVM-side (codegen'd md5/conv), the sign-vote fold runs in
    one Arrow-batched numpy kernel per doc set — identically expressible
    in DuckDB SQL (the oracle unrolls the 56 bit votes)."""
    words = F.split(normalized(F.col(text_col)), " ")
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words).alias("w")
    ).select("doc_id", h56(F.col("w")).alias("hw"))
    agg = toks.groupBy("doc_id").agg(F.collect_list("hw").alias("hws"))
    return agg.select(
        "doc_id", _simhash_sig_udf()(F.col("hws")).alias("simhash")
    ).orderBy("doc_id")


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k. Pair generation uses
    (k+1)-segment pigeonhole blocking: a pair within distance k must agree
    exactly on ≥1 of k+1 disjoint segments — the scalable alternative to a
    cross join."""
    sigs = simhash(df, id_col, text_col)
    n_segs = max_hamming + 1
    width = SIMHASH_BITS // n_segs
    seg_cols = [
        F.struct(
            F.lit(s).alias("seg"),
            F.shiftright(F.col("simhash"), s * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for s in range(n_segs)
    ]
    blocked = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*seg_cols)).alias("bk")
    ).select("doc_id", "simhash", "bk.seg", "bk.key")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, (F.col("a.seg") == F.col("b.seg")) & (F.col("a.key") == F.col("b.key")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs → one row per doc
    appearing in any pair: (doc_id, cluster_id) with cluster_id = the
    smallest doc id reachable through the pair graph. The step after pair
    generation in every dedup pipeline: pick ONE canonical doc (min id)
    per duplicate cluster and drop the rest.

    Algorithm: iterative min-label propagation (the shuffle-on-key core of
    large-star/small-star CC) plus a pointer-doubling shortcut each
    iteration (label := label(label)), so chains of diameter d converge in
    O(log d) rounds instead of O(d) — long boilerplate dup chains at corpus
    scale stay cheap. Convergence is detected with a changed-count
    aggregate; if ``max_iter`` rounds pass without converging the function
    RAISES rather than silently returning wrong cluster ids. All shuffles
    key on doc id — no driver-side graph.

    Each round's labels are a ``localCheckpoint``; a round releases the
    one it supersedes, so the result reads exactly one. Its caller owns
    that one: ``release_checkpoints(result)`` once the rows are consumed.
    """
    edges = pairs.select("doc_a", "doc_b")
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).cache()
    # eager localCheckpoint truncates lineage each round — the shortcut's
    # self-join would otherwise DOUBLE the logical plan per iteration and
    # blow up driver analysis (classic iterative-algorithm pitfall).
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nl"))
        )
        propagated = labels.join(
            neigh_min, labels["doc_id"] == neigh_min["doc_a"], "left"
        ).select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
        )
        # pointer-doubling shortcut: label := label(label). Labels are
        # always doc ids in the node set, so the self-join resolves; this
        # halves remaining chain depth every round (O(log d) convergence).
        lab2 = propagated.select(
            F.col("doc_id").alias("l_doc"), F.col("label").alias("l_lab")
        )
        new_labels = (
            propagated.join(lab2, propagated["label"] == lab2["l_doc"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("l_lab", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "doc_id"
            )
            .where(F.col("label") != F.col("old"))
            .count()
        )
        release_checkpoints(labels)
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        release_checkpoints(labels)
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id")).orderBy(
        "doc_id"
    )


def release_checkpoints(df: DataFrame) -> None:
    """Unpersist the RDD of every ``localCheckpoint`` that ``df`` reads.
    A local checkpoint is a persisted RDD under a ``LogicalRDD`` leaf, which
    ``DataFrame.unpersist`` does not see (it drops cached queries only), so
    without this the blocks stay registered until garbage collection
    reaches the RDD. ``df`` must not be read afterwards."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def with_near_dup_copies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test-harness helper: union deterministic near-duplicate copies
    (drop the last word; id + 10_000_000) so near-dup operators have
    positives to find. Same expression exists in the SQL oracles."""
    copies = df.select(
        (F.col(id_col) + 10_000_000).alias(id_col),
        F.regexp_replace(F.col(text_col), r"\s+\S+\s*$", "").alias(text_col),
    )
    return df.select(id_col, text_col).unionByName(copies)
