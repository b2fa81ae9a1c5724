"""Physical-plan inspection: make scale properties machine-checkable.

The reference has no optimizer to inspect (SURVEY.md §4 — its performance
surface is zero-copy passthrough and cursor caching, e.g.
kafka-impl/.../format/KafkaV1EntryFormatter.java:40-64). On Spark the
equivalent discipline is: filters reach the parquet scan, projections prune
columns, small dimensions broadcast, and aggregations combine map-side
before their single shuffle. These helpers parse `explain("formatted")`
output so tests can assert those properties instead of hoping for them —
the plan contract that keeps a query viable at 100 TB is pinned the same
way row-level correctness is.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def without_aqe(spark: SparkSession):
    """Disable AQE while building a DataFrame so the static physical plan
    (with codegen annotations) is visible pre-execution; AQE wraps the plan
    in AdaptiveSparkPlan(isFinalPlan=false) until the first job runs."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (modes: simple, extended, codegen,
    cost, formatted). AQE plans that have (partially) executed print a
    duplicate subtree under an "== Initial Plan ==" marker — this can
    appear MID-output, e.g. when a cached InMemoryRelation embeds an
    already-executed adaptive plan, so a naive split would also discard
    the node-detail sections that follow. Strip only the Initial-Plan
    SUBTREE lines (tree art rows) and keep everything else."""
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    plan = df._jdf.queryExecution().explainString(explain_mode)
    out: list[str] = []
    skip_indent: int | None = None
    for line in plan.splitlines():
        if "== Initial Plan ==" in line:
            skip_indent = len(line) - len(line.lstrip())
            continue
        if skip_indent is not None:
            indent = len(line) - len(line.lstrip())
            # the duplicate subtree is the contiguous deeper-indented block
            # under the marker; anything at or above the marker's indent
            # (an outer tree row, a blank, a detail header) ends it
            if line.strip() and indent > skip_indent:
                continue
            skip_indent = None
        out.append(line)
    # initial-plan nodes can still own detail sections ("(16) Exchange ...");
    # drop any detail block whose id no longer appears in the kept tree
    tree_ids = set()
    for line in out:
        if not re.match(r"^\(\d+\) ", line):
            tree_ids.update(re.findall(r"\((\d+)\)", line))
    kept: list[str] = []
    dropping = False
    for line in out:
        m = re.match(r"^\((\d+)\) ", line)
        if m:
            dropping = m.group(1) not in tree_ids
        elif dropping and (not line.strip() or line.startswith("=")):
            dropping = False
        if not dropping:
            kept.append(line)
    return "\n".join(kept)


def _node_ids(plan: str, node: str) -> set[str]:
    """Unique plan-node ids for ``node``. Pre-execution formatted mode
    prints "(5) Exchange"; the executed tree prints "Exchange <args> (5)"
    with the id last on the line. Word-anchored so Exchange never matches
    BroadcastExchange."""
    pre = set(re.findall(rf"\((\d+)\) {node}\b", plan))
    post = set(re.findall(rf"(?<!\w){node}\b[^\n]*\((\d+)\)\s*$", plan, re.M))
    return pre | post


def plan_shape(plan: str) -> dict:
    """Node counts of a formatted plan string (:func:`plan_string`): each
    node once by its id, as :func:`exchange_count` counts exchanges (a
    formatted plan names every node twice, as a tree row and as the
    header of its detail block), plus whether AQE wraps the plan."""

    def count(*nodes: str) -> int:
        return len(set().union(*(_node_ids(plan, n) for n in nodes)))

    return {
        "exchanges": count("Exchange"),
        "broadcast_exchanges": count("BroadcastExchange"),
        "sort_merge_joins": count("SortMergeJoin"),
        "broadcast_hash_joins": count("BroadcastHashJoin"),
        "shuffled_hash_joins": count("ShuffledHashJoin"),
        "nested_loop_joins": count("BroadcastNestedLoopJoin", "CartesianProduct"),
        "batch_eval_python": count("BatchEvalPython"),
        "arrow_eval_python": count("ArrowEvalPython"),
        "map_in_arrow_or_pandas": count(
            "MapInPandas", "MapInArrow", "PythonMapInArrow",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
        ),
        "sorts": count("Sort"),
        "window_nodes": count("Window"),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty PushedFilters entry across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_read_columns(df: DataFrame, table_path_fragment: str) -> list[str]:
    """Column names in the ReadSchema of the scan whose file location
    contains ``table_path_fragment`` — asserts column pruning reached
    the reader."""
    plan = plan_string(df)
    scans = re.split(r"\(\d+\) Scan parquet", plan)[1:]
    for scan in scans:
        if table_path_fragment in scan:
            m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
            if m:
                return [c.split(":")[0] for c in m.group(1).split(",") if c]
    return []


def partition_filters(df: DataFrame) -> list[str]:
    """Every non-empty PartitionFilters entry — proves partition pruning
    reached the scan (directory-level skipping, no file even opened)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def exchange_count(df: DataFrame) -> int:
    """Number of distinct shuffle boundaries (unique Exchange node ids;
    reused exchanges counted once, stable before and after execution)."""
    return len(_node_ids(plan_string(df), "Exchange"))


def broadcast_join_count(df: DataFrame) -> int:
    plan = plan_string(df)
    return len(
        _node_ids(plan, "BroadcastHashJoin") | _node_ids(plan, "BroadcastNestedLoopJoin")
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return broadcast_join_count(df) > 0


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (simple-mode ``*(N)`` markers) —
    zero means the whole plan fell off the codegen path."""
    return len(set(re.findall(r"\*\((\d+)\)", plan_string(df, "simple"))))
