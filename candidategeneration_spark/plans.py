"""Physical-plan inspection: the optimizer evidence layer.

The reference hand-schedules its execution (fixed 4 threads, hand-rolled
buffers); this engine instead DECLARES plans and relies on Catalyst for
pushdown, pruning, broadcast selection and whole-stage codegen (SURVEY.md
§4). These helpers make that reliance testable: every headline pipeline has
a test asserting its physical plan actually contains the shapes we designed
for — a scan that reads all columns for a 2-column projection, or a big
join that should have broadcast but shuffled, fails CI rather than only
showing up as a 100 TB regression.

It also holds what the serving path reads of plans and writes into them
without a job or a py4j call per value: the optimizer's row and size
statistics, and predicates built as one SQL string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The .explain() text as a string (explain() only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode)


def row_count_stat(df: DataFrame) -> int | None:
    """The optimizer's row-count statistic of ``df``'s plan, or None when
    the plan has none (a parquet scan without catalog stats, a filter).
    Runs no job. Read it to size partitions only, never as a count: a
    ``limit`` reports its limit, an upper bound of the rows it returns."""
    rows = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return int(str(rows.get())) if rows.isDefined() else None


def size_in_bytes_stat(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``'s plan, in bytes: what
    Spark compares with ``spark.sql.autoBroadcastJoinThreshold`` to pick a
    broadcast join. Runs no job. A file scan reports the size of the files
    it lists after partition pruning; a plan Spark cannot size (a Python
    RDD scan) reports ``spark.sql.defaultSizeInBytes``."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size))


def sql_literal(value: str | int) -> str:
    """``value`` as a Spark SQL literal. A string keeps ``[A-Za-z0-9_]``
    and writes every other character as ``\\uXXXX`` UTF-16 units, so no
    quote, backslash or ``${...}`` (SQL text is variable-substituted
    before it is parsed) reaches the parser as such. Assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    if isinstance(value, int):
        return str(value)
    out = ["'"]
    for c in value:
        if c.isascii() and (c.isalnum() or c == "_"):
            out.append(c)
        else:
            units = c.encode("utf-16-be", "surrogatepass")
            out.extend(f"\\u{units[i]:02X}{units[i + 1]:02X}"
                       for i in range(0, len(units), 2))
    out.append("'")
    return "".join(out)


def sql_in(column: str, values) -> str:
    """A ``column IN (...)`` predicate as one SQL string (``false`` for no
    values): one ``where`` call, where ``Column.isin`` makes two py4j
    round trips per value."""
    values = list(values)
    if not values:
        return "false"
    return f"{column} IN ({', '.join(map(sql_literal, values))})"


def scan_read_schema(plan: str) -> list[str]:
    """Column names in every parquet scan's ReadSchema, flattened."""
    cols: list[str] = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            for field in inner.split(","):
                if ":" in field:
                    cols.append(field.split(":")[0].strip())
    return cols

def assert_columns_pruned(df: DataFrame, allowed: set[str]) -> None:
    """Every parquet scan reads a subset of ``allowed`` columns."""
    plan = explain_str(df)
    read = set(scan_read_schema(plan))
    extra = read - allowed
    assert not extra, f"scan reads unpruned columns {sorted(extra)}:\n{plan}"


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Some scan's PushedFilters mentions ``fragment`` (e.g. a column name
    of a filter that must reach the parquet reader)."""
    plan = explain_str(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(fragment in ln for ln in pushed), \
        f"no pushed filter mentions {fragment!r}:\n" + "\n".join(pushed)


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
        f"expected a broadcast join:\n{plan}"


def assert_no_shuffle_join_of(df: DataFrame, forbidden: str = "SortMergeJoin"
                              ) -> None:
    plan = explain_str(df, "simple")
    assert forbidden not in plan, f"plan contains {forbidden}:\n{plan}"


def assert_wholestage_codegen(df: DataFrame) -> None:
    # AQE reports no codegen subtrees until the adaptive plan finalizes,
    # so execute first and read the final physical plan; codegen stages
    # print as "*(<id>) Operator" (the * prefix = WholeStageCodegen)
    import re
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\*\(\d+\)", plan) or "WholeStageCodegen" in plan, \
        f"no codegen span:\n{plan[:2000]}"
