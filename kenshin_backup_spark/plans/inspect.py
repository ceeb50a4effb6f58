"""Physical-plan inspection utilities.

These parse ``df._jdf.queryExecution().explainString(...)`` output — the
same text ``df.explain("formatted")`` prints — into checkable facts:

- :func:`pushed_filters` — predicates that reached the parquet scan
  (``PushedFilters: [...]``); an empty list on a filtered scan means the
  filter is being evaluated post-scan (a 100 TB regression).
- :func:`scan_read_schema` — columns actually read (``ReadSchema``);
  verifies column pruning.
- :func:`has_broadcast_join` — a ``BroadcastHashJoin`` is present
  (dims must never sort-merge).
- :func:`wholestage_codegen_spans` — count of WholeStageCodegen subtrees;
  expressions falling out of codegen (UDFs in the hot path) show up here.
- :func:`spark_jobs` — Spark jobs a block of Python code launched (plan
  building that runs jobs pays them on every request).
"""

from __future__ import annotations

import re
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def without_aqe(spark: SparkSession):
    """AQE wraps plans in AdaptiveSparkPlan(isFinalPlan=false), hiding
    codegen/join-strategy detail until runtime; disable it while *building*
    a plan whose static shape is under test."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@contextmanager
def spark_jobs(spark: SparkSession):
    """Count the Spark jobs the block runs; the yielded dict holds
    ``jobs`` once the block has finished. Jobs are tagged with a fresh job
    group and read back from the status tracker. A sentinel job in a
    second group closes the count: the listener bus delivers job events
    in order, so once the tracker has seen the sentinel it has seen every
    job of the block."""
    sc = spark.sparkContext
    gid = f"counted-{uuid.uuid4().hex}"
    out = {"jobs": 0}
    try:
        sc.setJobGroup(gid, gid)
        yield out
        sc.setJobGroup(gid + "-end", gid)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(gid + "-end"):
        if time.monotonic() > deadline:
            raise RuntimeError("status tracker never reported the sentinel job")
        time.sleep(0.01)
    out["jobs"] = len(tracker.getJobIdsForGroup(gid))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            # split on commas OUTSIDE parens: "EqualTo(a,b), IsNotNull(a)"
            out.extend(p.strip() for p in re.split(r",\s*(?![^()]*\))", body))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Count WholeStageCodegen subtrees (build the df under
    :func:`without_aqe` for a static answer)."""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", explain_str(df, "codegen"))
    if m:
        return int(m.group(1))
    return len(re.findall(r"WholeStageCodegen", explain_str(df, "simple")))


def _top_level_bracket_groups(line: str) -> list[str]:
    """Top-level ``[...]`` groups of one plan line (brackets nest)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start >= 0:
                groups.append(line[start + 1 : i])
                start = -1
    return groups


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """ORDER-BY specs of every Window node with an EMPTY partition spec in
    the optimized logical plan. An unpartitioned window moves its ENTIRE
    input through one task (``WindowExec: No Partition Defined``) — the
    single worst 100 TB anti-pattern. Legitimate uses are windows over
    provably bounded inputs: a ``limit(k)`` result, or the per-partition
    offsets frame inside ``scalepat.with_global_prefix`` (which orders by
    ``__scalepat_pid`` — partition-count rows).

    Detection: a logical ``Window [funcs], [part], [order]`` line has three
    top-level bracket groups; the unpartitioned form has two (funcs, order).
    Returns the order-spec text of each unpartitioned window so tests can
    whitelist the bounded ones.
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    out: list[str] = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window ["):
            continue
        groups = _top_level_bracket_groups(stripped)
        # first group is the function list (contains windowspecdefinition);
        # fully-specified windows carry [part] + [order] after it. Two
        # trailing forms are ambiguous at the bracket level: an
        # UNPARTITIONED ordered window prints [funcs], [order] while a
        # partition-only (no ORDER BY) window prints [funcs], [part] —
        # an order spec always carries a sort direction, a partition spec
        # never does. A single-group node is a global unordered window
        # (whole input, one task) — flagged too.
        if len(groups) == 1:
            out.append("")
        elif len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            out.append(groups[1])
    return out
