"""Physical-plan inspection helpers.

The scale contract isn't just "right answer" — it's "right plan": filters
reaching the parquet scan, projections pruned, small dims broadcast. These
helpers make those properties assertable in tests and greppable during
development (`explain("formatted")` as data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the scan node reports non-empty PushedFilters."""
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "[]" not in line.split("PushedFilters:")[1]:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema) — column-pruning check."""
    plan = physical_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            inner = line.split("struct<", 1)
            if len(inner) == 2:
                body = inner[1].rsplit(">", 1)[0]
                cols.extend(f.split(":")[0] for f in body.split(",") if f)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)

