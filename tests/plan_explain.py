"""Plan-inspection helpers for the plan tests: assert that the physical
plan is the one we want (pushdown reached the scan, column pruning, no
stray shuffles) — ``.explain("formatted")`` then grep, per the repo's
plan-review discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def scan_pushed_filters(df: DataFrame) -> str:
    """Return the PushedFilters line(s) of the scan nodes."""
    plan = formatted_plan(df)
    return "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(p.split(":")[0] for p in inner.split(",") if ":" in p)
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Number of SHUFFLE Exchange nodes in the physical plan (broadcast
    exchanges move a dim table, not the data — not counted)."""
    plan = formatted_plan(df)
    return sum(
        1
        for l in plan.splitlines()
        if "Exchange" in l and "Broadcast" not in l and "Reused" not in l
    )


def runtime_shuffles(df: DataFrame) -> int:
    """Shuffles the executed query needs: collect ``df``, then walk the
    AQE final plan (the query stages that actually ran, after AQE dropped
    or coalesced what it could). A reused exchange is not counted again,
    and a cached relation's own plan is counted once however many scans
    read it — so, unlike ``count_exchanges``, a cache referenced from
    three plan branches does not triple its shuffles."""
    df.collect()
    jvm = df._sc._jvm  # type: ignore[attr-defined]
    seen: set[int] = set()

    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def walk(node) -> int:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind == "ReusedExchangeExec":
            return 0
        if kind.endswith("QueryStageExec"):  # a leaf holding its stage
            return walk(node.plan())
        if kind == "InMemoryTableScanExec":
            relation = node.relation()
            key = jvm.System.identityHashCode(relation.cacheBuilder())
            if key in seen:
                return 0
            seen.add(key)
            return walk(relation.cachedPlan())
        own = 1 if kind == "ShuffleExchangeExec" else 0
        return own + sum(walk(c) for c in children(node))

    return walk(df._jdf.queryExecution().executedPlan())
