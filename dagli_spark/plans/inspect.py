"""Plan inspection: make "is the filter pushed down / is the bytes column
pruned / how many shuffles" assertable in tests instead of eyeballed.

The reference's optimizer surface is graph reducers applied at DAG
construction (core/.../dag/DAGReducer.java:33-130); on Spark the optimizer
is Catalyst, so the engine's job is to *not defeat it* — these helpers are
the regression harness for that (SURVEY.md §4.1)."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (excluding broadcasts/reused)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\n\s*[^(]*\(\d+\) Exchange\b", plan))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def _struct_body(line: str) -> str:
    """The bracket-balanced body of 'struct<...>' (a greedy single-'>' stop
    truncates at the first nested type like array<float>). An UNCLOSED
    struct means Spark truncated the metadata line
    (spark.sql.maxMetadataStringLength) — fail loudly rather than return a
    partial field list: a pruning audit fed a truncated schema could
    false-pass on the very column it exists to catch."""
    start = line.index("struct<") + len("struct<")
    depth = 1
    for i in range(start, len(line)):
        if line[i] == "<":
            depth += 1
        elif line[i] == ">":
            depth -= 1
            if depth == 0:
                return line[start:i]
    raise ValueError(
        "truncated ReadSchema line (ends without closing '>'): raise "
        "spark.sql.maxMetadataStringLength (session.py sets 10000) — "
        f"got: {line[:120]}...")


def _top_level_fields(body: str) -> list[str]:
    """Field names of a struct body, splitting on commas only at depth 0
    (commas inside decimal(10,2) / nested structs are type syntax)."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [f.split(":")[0].strip() for f in out if f.strip()]


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — the column-pruning audit: a scan
    reading `bytes` outside a decode stage is a bug. Parses nested /
    parameterized types correctly (array<...>, decimal(p,s), struct<...>)."""
    plan = formatted_plan(df)
    out = []
    for line in plan.splitlines():
        if "ReadSchema: struct<" in line:
            out.append(_top_level_fields(_struct_body(line)))
    return out


def final_adaptive_plan(df: DataFrame) -> str:
    """The post-execution (AQE-final) physical plan string. Runtime-only
    facts — exchange/stage reuse, AQE skew splits, coalesced partition
    counts — are invisible in the pre-execution plan (AdaptiveSparkPlan
    prints isFinalPlan=false), so this MATERIALIZES the frame via collect()
    and then reads its own query execution. Small frames / tests only."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "isFinalPlan=false" in plan:
        raise ValueError("plan did not finalize — collect() did not run "
                         "this frame's own query execution?")
    return plan


def observed(df, name: str, *metrics):
    """Side-channel metrics without an extra action — the frame-level form
    of the reference's Logged identity transformer (common/.../object/
    Logged.java:34): attach aggregate expressions that are computed during
    the NEXT action on the frame and retrieved from the listener-visible
    observation (df.observe). Example::

        df = observed(df, "ingest", F.count(F.lit(1)).alias("rows"),
                      F.sum("value").alias("total"))

    Retrieve via a QueryExecutionListener / StreamingQueryListener, or
    `Observation` for the blocking variant."""
    return df.observe(name, *metrics)
