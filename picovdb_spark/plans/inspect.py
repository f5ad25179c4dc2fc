"""Physical-plan introspection: the engine's scale guarantees, checkable.

The reference hard-codes its physical optimizations inside `query()`
(prefilter-before-scan, candidate slicing, top-k strategy choice —
/root/reference/picovdb/pico_vdb.py:613-713); this engine delegates them
to Catalyst and then ASSERTS they happened (tests/test_plans.py), so a
regression that silently de-optimizes a plan (a filter that stops
pushing down, a scan that starts reading the vector column for a
metadata-only query, a broadcast that becomes a shuffle) fails CI
instead of becoming a 100×-at-scale surprise.
"""

from __future__ import annotations

import contextlib
import io
import re
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain(mode)` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def optimized_plan_str(df: DataFrame) -> str:
    """The Catalyst OPTIMIZED logical plan as a string — the level where
    projection collapsing / expression inlining decisions are visible
    (explain("extended") prints it too, but buried in four plans)."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur.strip())
    return parts


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", explain_str(df)):
        out.extend(_split_top_level(m.group(1)))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings for each file scan in the plan."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", explain_str(df))


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Column-name sets actually read by each file scan (pruning check)."""
    cols: list[set[str]] = []
    for schema in read_schemas(df):
        inner = schema[len("struct<") : schema.rfind(">")]
        names = set()
        depth = 0
        field = ""
        for ch in inner:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                names.add(field.split(":", 1)[0].strip())
                field = ""
                continue
            field += ch
        if field.strip():
            names.add(field.split(":", 1)[0].strip())
        cols.append(names)
    return cols


def job_tasks(spark: SparkSession, fn: Callable[[], Any]) -> tuple[Any, list[list[int]]]:
    """Run `fn()`; return its result and, for each Spark job it
    launched, the tasks each of the job's stages ran. The jobs are found
    through a job group. A stage skipped because its shuffle output was
    reused ran 0 tasks. Waits for Spark's listener bus first, so every
    finished task is counted."""
    sc = spark.sparkContext
    group = f"job_tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(jid)
        stages = [tracker.getStageInfo(s) for s in info.stageIds]
        jobs.append([s.numCompletedTasks for s in stages if s is not None])
    return out, jobs
