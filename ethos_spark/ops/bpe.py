"""Distributed BPE vocabulary learning (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public paper; the
tokenizer-prep step of every LLM training-data pipeline).

Scale shape — the part that matters at 100 TB: BPE statistics live on the
WORD HISTOGRAM, not the corpus. One shuffle folds the corpus to
(word, count) — vocabulary-sized (Heaps' law: ~10^6 rows at web scale,
versus 10^12 tokens) — and every merge round is then an explode+agg over
that small table. The corpus text is touched exactly once.

Determinism — the part that makes it oracle-checkable: each round picks
the globally most-frequent adjacent symbol pair with a TOTAL tie-break
(count DESC, left ASC, right ASC), and merge application is the standard
left-to-right non-overlapping fold. Integer counts + total order = the
merge table is bit-identical across engines; the DuckDB oracle unrolls
the same rounds as CTEs (the pagerank_hosts pattern).

Merge application is a pure Column fold (``aggregate`` over the symbol
array) — JVM-side, no Python in the loop; the driver collects ONE row per
round (the winning pair), never data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ethos_spark.ops.dedup import normalized


def word_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """corpus → (w, count): the one corpus-wide shuffle."""
    return (
        df.select(
            F.explode(F.split(normalized(F.col(text_col)), " ")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("count"))
    )


def _chars(col):
    # split-by-empty-regex has engine-specific edge behavior; explicit
    # substring indexing is identical everywhere
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.substring(col, i, 1),
    )


def _merge_adjacent(sym_col, left: str, right: str):
    """Left-to-right non-overlapping merge of adjacent (left, right) →
    left+right, as a pure Column fold: after a merge the combined symbol
    becomes the new 'last', so an overlapping occurrence ('aaa' under
    (a,a)) correctly yields [aa, a] — reference BPE semantics."""
    merged = left + right

    def step(acc, x):
        # guarded last-element read (ANSI mode: element_at on an empty
        # array would throw; CASE WHEN short-circuits)
        last = F.when(F.size(acc) > 0, F.element_at(acc, -1))
        return F.when(
            (last == F.lit(left)) & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym_col, F.array().cast("array<string>"), step)


def learn_bpe(
    df: DataFrame, text_col: str, n_merges: int
) -> list[dict]:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the merge
    table as a list of rows ``{step, left, right, merged, pair_count}`` —
    metadata-sized by definition (the driver holds K rows, never data)."""
    hist = word_histogram(df, text_col)
    syms = hist.select(
        "count", _chars(F.col("w")).alias("s")
    ).cache()
    syms.count()
    out: list[dict] = []
    try:
        for step in range(1, n_merges + 1):
            pairs = (
                syms.select(
                    "count",
                    # 0-based null-safe F.get: the i = size-1 slot pairs
                    # with null and is filtered — no ANSI OOB, no
                    # descending-sequence edge on 1-char words
                    F.explode(
                        F.filter(
                            F.transform(
                                F.sequence(F.lit(0), F.size("s") - 1),
                                lambda i: F.struct(
                                    F.get("s", i).alias("l"),
                                    F.get("s", i + 1).alias("r"),
                                ),
                            ),
                            lambda p: p["r"].isNotNull(),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("count").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            top = pairs[0]
            out.append(
                {
                    "step": step,
                    "left": top.l,
                    "right": top.r,
                    "merged": top.l + top.r,
                    "pair_count": int(top.cnt),
                }
            )
            new_syms = syms.select(
                "count", _merge_adjacent(F.col("s"), top.l, top.r).alias("s")
            ).cache()
            new_syms.count()
            syms.unpersist()
            syms = new_syms
    finally:
        syms.unpersist()
    return out


def bpe_encode_udf(merges: list[dict]):
    """Tokenizer from a learned merge table: the standard rank-greedy BPE
    apply (repeatedly merge the lowest-rank adjacent pair) as an
    Arrow-batched pandas UDF over whole documents. Words are encoded
    independently (merges never cross whitespace) with an lru cache —
    Zipf's law makes the cache hit rate ~word-frequency mass."""
    ranks = {(m["left"], m["right"]): m["step"] for m in merges}

    from pyspark.sql.types import ArrayType, StringType

    # word memo in the FACTORY closure (not the UDF body) so it survives
    # across Arrow batches for the lifetime of each python worker — the
    # UDF deserializes once per worker and the dict then grows in place.
    # A plain dict, not functools.lru_cache: wrapped functions don't
    # survive cloudpickle. Zipf's law makes the hit rate ≈ frequency mass.
    _cache: dict = {}
    _CACHE_MAX = 65536

    def enc_word(w: str) -> tuple:
        hit = _cache.get(w)
        if hit is not None:
            return hit
        s = list(w)
        while len(s) > 1:
            best = None
            for i in range(len(s) - 1):
                r = ranks.get((s[i], s[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                break
            # merge ALL non-overlapping occurrences of the winning
            # pair left-to-right (reference BPE apply)
            a, b = s[best[1]], s[best[1] + 1]
            t, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    t.append(a + b)
                    i += 2
                else:
                    t.append(s[i])
                    i += 1
            s = t
        out = tuple(s)
        if len(_cache) < _CACHE_MAX:
            _cache[w] = out
        return out

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts):
        import re

        import pandas as pd

        ws = re.compile(r"\s+")
        out = []
        for text in texts:
            toks: list[str] = []
            for w in ws.sub(" ", (text or "").strip().lower()).split(" "):
                if w:
                    toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return encode

