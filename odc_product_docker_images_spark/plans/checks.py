"""Physical-plan assertions (SURVEY.md §4).

The reference's optimizations (Postgres predicate pushdown, band selection,
extent-index pruning) correspond to properties VISIBLE in Spark's physical
plan.  These helpers make them testable invariants instead of hopes:
a scan that stops pushing filters, a dim join that stops broadcasting, or
a kernel that silently falls back to row-at-a-time Python shows up as a
test failure — plan regressions are perf regressions at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


_OPTIMIZED_OUT = "\n===== Adaptively Optimized Out Exchanges ====="
_NODE_ID = re.compile(r"\((\d+)\)(?:$|[ ,])")
_CODEGEN_ID = re.compile(r" \[codegen id : \d+\]")


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as planned, whether or not it has run.

    Once an adaptive plan (the query's, or a persisted subtree's) has
    executed, Spark prints its final plan beside its initial one, with new
    node ids, and tags the shared nodes with codegen ids.  This keeps the
    initial plans only, the details of the nodes they print, and a codegen
    id only where the tree shows the node codegen'd, so a fresh frame, the
    same frame after an action and a new frame over a warm cache all read
    the same counts."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    ).split(_OPTIMIZED_OUT)[0]
    out, ids, starred = [], set(), set()
    # every adaptive plan prints "Final Plan", its final tree, "Initial
    # Plan", its initial tree: the markers nest like brackets (their
    # indentation does not), and a final tree is skipped whole
    final = 0
    block = None  # node id of the details block being read
    for line in text.split("\n"):
        if line.endswith("+- == Final Plan =="):
            final += 1
            continue
        if line.endswith("+- == Initial Plan =="):
            final -= 1
            continue
        if final:
            continue
        head = re.match(r"\((\d+)\) ", line)
        if head:
            block = head.group(1)
        elif not line:
            block = None
        if block is None:  # a tree line: each tree precedes its details
            node = _NODE_ID.search(line)
            if node:
                ids.add(node.group(1))
                if re.search(r"\* \w", line):
                    starred.add(node.group(1))
            out.append(line)
        elif block in ids:
            out.append(line if block in starred else _CODEGEN_ID.sub("", line))
    return "\n".join(out)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line(s) of every parquet scan in the plan."""
    return "\n".join(re.findall(r"PushedFilters: \[[^\]]*\]", formatted_plan(df)))


def read_schema_columns(df: DataFrame) -> set[str]:
    """Union of columns actually read from parquet (ReadSchema lines)."""
    cols: set[str] = set()
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols |= {part.split(":")[0].strip() for part in m.split(",") if part.strip()}
    return cols


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pf = pushed_filters(df)
    assert column in pf, f"no pushed filter on {column!r}; got: {pf or '<none>'}"


def assert_columns_pruned(df: DataFrame, expected: set[str]) -> None:
    got = read_schema_columns(df)
    assert got == expected, f"scan reads {sorted(got)}, want {sorted(expected)}"


def assert_broadcast_join(df: DataFrame) -> None:
    assert "BroadcastHashJoin" in formatted_plan(df), "expected a broadcast hash join"


def assert_no_python_row_path(df: DataFrame) -> None:
    """Arrow-batched pandas ops are fine; row-at-a-time Python is not."""
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in the plan"


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of explicit broadcast HINTS in the optimized logical plan.

    Distinguishes a broadcast the query DEMANDS (``F.broadcast(...)`` — the
    driver must collect that side no matter how big it turns out) from one
    the optimizer merely PICKS off its size estimate (safe: estimate-gated
    by autoBroadcastJoinThreshold, revisited by AQE at runtime)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    return plan.count("strategy=broadcast")


def exchange_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange ")


def scan_count(df: DataFrame) -> int:
    """Number of DISTINCT parquet scans (formatted plans print each node
    twice: once in the tree, once in the details section)."""
    return len(set(re.findall(r"\((\d+)\) Scan parquet", formatted_plan(df))))


def codegen_stage_count(df: DataFrame) -> int:
    ids = re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df))
    return len(set(ids))


def partitionless_window_inputs(df: DataFrame) -> list[str]:
    """The Input line of every Window node whose spec has no partition
    (its window spec opens on a sort order, not a partition key): a
    single-task window, harmless only over a small table."""
    inputs = []
    for block in formatted_plan(df).split("\n\n"):
        if re.match(r"\(\d+\) Window\n", block) and re.search(
            r"windowspecdefinition\([^,()]+ (ASC|DESC) ", block
        ):
            inputs.append(re.search(r"Input \[\d+\]: (.*)", block).group(1))
    return inputs
