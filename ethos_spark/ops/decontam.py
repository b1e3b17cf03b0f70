"""Benchmark decontamination — eval-set n-gram overlap (the method of
the GPT-3 appendix C and the C4 paper, both public): a training document
sharing any long word n-gram (13 by convention) with a held-out
evaluation set must be flagged/removed, or downstream benchmark numbers
are contaminated.

Scale shape: the two sides are wildly asymmetric — the corpus is 100 TB,
the benchmark suite is eval-set-sized (10^4-10^6 grams). The benchmark's
distinct n-gram hash set BROADCASTS; the corpus side explodes each doc
to (doc_id, gram-hash) rows once and a broadcast semi/inner join + agg
flags documents. No corpus-side self-join, no shuffle of text — the
same one-pass explode+join shape as the LM-familiarity op.

Gram hashing reuses dedup.shingle_sets (h56 over normalized word
windows) so the DuckDB oracle reproduces the overlap bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ethos_spark.ops.dedup import shingle_sets

DEFAULT_N = 13  # the GPT-3/C4 decontamination window


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
) -> DataFrame:
    """(doc_id, n_contaminated_grams) for every training doc sharing at
    least one word n-gram with the benchmark table — the audit artifact
    a curation run stores alongside the drop decision."""
    def grams(df: DataFrame) -> DataFrame:
        return shingle_sets(df, id_col, text_col, n).select(
            "doc_id", F.explode("shs").alias("sh")
        )

    b = grams(bench).select("sh").distinct()
    return (
        grams(docs)
        .join(F.broadcast(b), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
) -> DataFrame:
    """Training corpus minus contaminated documents (anti-join against
    the report ids) — the drop policy both papers apply."""
    flagged = contamination_report(docs, bench, id_col, text_col, n).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(F.broadcast(flagged), id_col, "left_anti")
