"""Plan-inspection helpers: assert that the physical plan is the one we
want (pushdown reached the scan, codegen spans the expression work, no
stray shuffles). Used by perf tests and by hand while iterating —
``.explain("formatted")`` then grep, per the repo's plan-review discipline.
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


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    lines = scan_pushed_filters(df)
    assert column in lines, (
        f"filter on {column!r} did not reach the scan; PushedFilters: {lines}"
    )


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

