"""Physical-plan audit helpers: the ".explain() and iterate" loop
(task brief / SURVEY.md §4) made assertable.

Tests use these to pin the *plan shape*, not just results: filters
reach the parquet scan (PushedFilters), column pruning happens
(ReadSchema), small dims broadcast, shuffles don't multiply, and the
hot path stays inside WholeStageCodegen.  A plan regression then fails
CI even while results remain correct.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


# one parquet scan's details in a formatted plan (``explain_str``, or an
# execution's ``physicalPlanDescription``)
PARQUET_SCAN = re.compile(r"^\(\d+\) Scan parquet.*?(?=^\(\d+\) |\Z)",
                          re.M | re.S)


def _scan_entries(plan: str, entry: str) -> list[str]:
    """The ``entry`` list (e.g. ``PartitionFilters``) of every parquet
    scan in a formatted plan, '' for a scan without one: the formatted
    plan omits an empty entry, so a scan that is not pruned still
    counts.  An entry is read to the end of its line, since a filter
    such as ``In(id, [1,3])`` nests brackets in the list."""
    pattern = re.compile(rf"^{entry}: \[(.*)\]$", re.M)
    return [m.group(1) if m else ""
            for scan in PARQUET_SCAN.findall(plan)
            for m in [pattern.search(scan)]]


def final_scans(plan: str) -> list[str]:
    """The parquet scans of a formatted plan as it ran.  For an
    adaptive plan those are the ones in its Final Plan: its Initial Plan
    also lists the scans that exchange reuse removed at run time."""
    scans = PARQUET_SCAN.findall(plan)
    if "== Final Plan ==" not in plan:
        return scans
    tree = plan.split("== Final Plan ==", 1)[1].split(
        "== Initial Plan ==", 1)[0]
    ids = set(re.findall(r"Scan parquet [^\n(]*\((\d+)\)", tree))
    return [s for s in scans if re.match(r"\((\d+)\)", s).group(1) in ids]


def partition_filters(plans: list[str]) -> list[str]:
    """The partition filters of every parquet scan in ``plans``."""
    return [f for plan in plans
            for f in _scan_entries(plan, "PartitionFilters")]


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True iff the plan has parquet scans and every one of them has
    ``fragment`` in its PushedFilters."""
    entries = _scan_entries(explain_str(df), "PushedFilters")
    return bool(entries) and all(fragment in e for e in entries)


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (pruning check)."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        out.append(cols)
    return out


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    """True iff the plan has parquet scans and every one of them has
    ``fragment`` in its PartitionFilters — i.e. the filter prunes whole
    partitions, not just row groups, on every read of the table."""
    filters = partition_filters([explain_str(df)])
    return bool(filters) and all(fragment in f for f in filters)


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, mode="simple")


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle (hash/range) exchanges in the plan — the thing
    to MINIMIZE; broadcast exchanges are not counted."""
    plan = explain_str(df, mode="simple")
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def wholestage_codegen_count(df: DataFrame) -> int:
    plan = explain_str(df, mode="simple")
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def executed_plan_str(df: DataFrame) -> str:
    """The FINAL adaptive plan, after running the query — the only
    place AQE decisions (runtime ReusedExchange, coalesced reads,
    skew-join splits) are visible; the pre-execution explain shows
    isFinalPlan=false without them."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def executed_plans(spark, thunk) -> list[str]:
    """The physical plan of every SQL execution ``thunk()`` runs, in
    order: the jobs a query runs while it is built (a checkpoint, say)
    as well as the ones its actions run.  Read from the session's SQL
    status store, which is kept with the UI off too and lists
    executions by ascending id."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    seq = store.executionsList()
    before = seq.apply(seq.size() - 1).executionId() if seq.size() else -1
    thunk()
    bus.waitUntilEmpty()
    seq = store.executionsList()
    plans = []
    for i in reversed(range(seq.size())):
        e = seq.apply(i)
        if e.executionId() <= before:
            break
        plans.append(e.physicalPlanDescription())
    return plans[::-1]
