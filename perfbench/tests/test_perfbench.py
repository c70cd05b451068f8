"""Self-tests of the benchmark's own machinery: output digests, the
event-log reader on a canned log, span self-time arithmetic, host sizing,
the reaping of leftover processes, and the agreement of BENCHMARK.json with the code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, host  # noqa: E402
from perfbench.digest import (  # noqa: E402
    allclose_tables, arrow_digest, norm_value, rows_digest)
from perfbench.trace import (  # noqa: E402
    SPAN_PROPERTY, Span, Tracer, descendants, self_times, unattributed)

# ------------------------------------------------------------- digests


def test_rows_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", float("nan")), (3, None, -1.25)]
    n, d = rows_digest(["k", "s", "v"], rows)
    assert n == 3
    assert rows_digest(["k", "s", "v"], rows[::-1]) == (n, d)
    swapped = [(v, k, s) for k, s, v in rows]
    assert rows_digest(["v", "k", "s"], swapped) == (n, d)


def test_rows_digest_sees_values_counts_and_names():
    rows = [(1, 0.5), (2, 0.25)]
    base = rows_digest(["k", "v"], rows)
    assert rows_digest(["k", "v"], [(1, 0.5), (2, 0.26)]) != base
    assert rows_digest(["k", "v"], rows + [(2, 0.25)]) != base  # a multiset
    assert rows_digest(["k", "w"], rows) != base


def test_norm_value_matches_the_oracle_parity_rule():
    assert norm_value(0.1 + 0.2) == norm_value(0.3) == "0.300000"
    assert norm_value(float("nan")) == "nan"
    aware = dt.datetime(2026, 1, 1, 2, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert norm_value(aware) == norm_value(dt.datetime(2026, 1, 1, 0))


def test_arrow_digest_equals_rows_digest():
    t = pa.table({"k": [2, 1], "v": [0.25, 0.5]})
    assert arrow_digest(t) == rows_digest(["k", "v"], [(1, 0.5), (2, 0.25)])


def test_allclose_tables():
    exp = pa.table({"id": ["a", "b", "c"], "pos": [0, 1, 0],
                    "value": [1.0, float("nan"), 3.0]})
    got = exp.take([2, 0, 1])
    assert allclose_tables(got, exp, ["id", "pos"], "value") is None
    off = pa.table({"id": ["a", "b", "c"], "pos": [0, 1, 0],
                    "value": [1.0, float("nan"), 3.001]})
    assert "1 values differ" in allclose_tables(off, exp, ["id", "pos"], "value")
    assert "row count" in allclose_tables(exp.slice(1), exp, ["id", "pos"], "value")
    moved = pa.table({"id": ["a", "b", "d"], "pos": [0, 1, 0],
                      "value": [1.0, float("nan"), 3.0]})
    assert "key column id" in allclose_tables(moved, exp, ["id", "pos"], "value")


def test_frame_digest_is_order_and_partition_independent():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from perfbench.digest import frame_digest

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        F.array(F.col("id") * 0.5, F.lit(1.0)).alias("vec"))
    n, d, extra = frame_digest(
        df, parts={"g": [F.col("g")]}, counts={"even": F.col("id") % 2 == 0})
    assert n == 500 and extra["even"] == 250
    shuffled = df.repartition(7, "g").orderBy(F.col("id").desc())
    assert frame_digest(shuffled, parts={"g": [F.col("g")]},
                        counts={"even": F.col("id") % 2 == 0}) == (n, d, extra)
    changed = df.withColumn("g", F.when(F.col("id") == 3, 99).otherwise(F.col("g")))
    n2, d2, extra2 = frame_digest(changed, parts={"g": [F.col("g")]})
    assert n2 == n and d2 != d and extra2["g"] != extra["g"]
    assert frame_digest(df.select(*reversed(df.columns)))[1] == d


# ----------------------------------------------------------- event log


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


CANNED = [
    _ev("SparkListenerApplicationStart", **{"App Name": "t"}),
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                    "Properties": {SPAN_PROPERTY: "3"}}),
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2],
                                    "Properties": {SPAN_PROPERTY: "4"}}),
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [5],
                                    "Properties": {}}),
] + [
    _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + wall,
                      "Accumulables": [
                          {"ID": 7, "Name": "sort time", "Update": "5",
                           "Metadata": "sql"},
                          {"ID": 8, "Name": "internal.metrics.foo",
                           "Update": 9}]},
        "Task Metrics": {"JVM GC Time": 2,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                                  "Local Bytes Read": 5},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                         "Disk Bytes Spilled": 1, "Memory Bytes Spilled": 4,
                         "Input Metrics": {"Bytes Read": 100}}})
    for stage, wall in [(0, 100), (0, 100), (0, 400), (1, 50), (2, 30), (5, 1)]
] + [
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": s}})
    for s in (0, 1, 2, 5)
] + ['{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task In']  # torn tail


def test_eventlog_attributes_tasks_to_spans():
    log = eventlog.parse_lines(CANNED)
    c = log.counters({3})
    # stage 1 belongs to job 0 (the first job that lists it)
    assert c["task_s"] == pytest.approx((100 + 100 + 400 + 50) / 1e3)
    assert c["gc_s"] == pytest.approx(4 * 2 / 1e3)
    assert c["shuffle_read_bytes"] == 4 * 15
    assert c["shuffle_write_bytes"] == 4 * 20
    assert c["spill_bytes"] == 4
    assert c["input_bytes"] == 400
    assert c["jobs"] == 1 and c["stages"] == 2
    assert log.counters({4})["task_s"] == pytest.approx(0.03)
    assert log.counters({3, 4})["jobs"] == 2
    assert log.sql_metric({3}, "sort time") == 4 * 5
    assert log.sql_metric({3}, "internal.metrics.foo") == 0  # not a SQL metric
    assert log.counters({99})["task_s"] == 0


def test_eventlog_task_skew_uses_the_heaviest_stage():
    log = eventlog.parse_lines(CANNED)
    # stage 0 (walls 100, 100, 400) outweighs stage 1: max 400 / median 100
    assert log.task_skew({3}) == pytest.approx(4.0)
    assert log.task_skew({99}) == 0.0


def test_eventlog_reads_a_directory(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(CANNED) + "\n")
    assert eventlog.read_dir(str(tmp_path)).counters({3})["jobs"] == 1


# ---------------------------------------------------------------- spans


def _spans():
    # root 0..10 with children a 1..4 (child c 2..3) and b 5..9
    return [Span(0, "root", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 4.0),
            Span(2, "c", 1, 2.0, 3.0), Span(3, "b", 0, 5.0, 9.0)]


def test_self_times_subtract_direct_children_only():
    st = self_times(_spans())
    assert st == {0: pytest.approx(10 - 3 - 4), 1: pytest.approx(3 - 1),
                  2: pytest.approx(1.0), 3: pytest.approx(4.0)}
    # self times of a tree sum to its root's duration
    assert math.isclose(sum(st.values()), 10.0)


def test_descendants_and_unattributed():
    assert descendants(_spans(), 1) == {1, 2}
    assert descendants(_spans(), 0) == {0, 1, 2, 3}
    assert unattributed(10.0, [3.0, 4.5]) == pytest.approx(2.5)
    assert unattributed(1.0, [3.0]) == pytest.approx(-2.0)


class _FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_nests_spans_and_tags_spark_jobs(tmp_path):
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    # the innermost open span tags jobs; closing restores the parent's tag
    assert sc.props == [(SPAN_PROPERTY, "0"), (SPAN_PROPERTY, "1"),
                        (SPAN_PROPERTY, "0"), (SPAN_PROPERTY, None)]
    assert tr.by_name("inner") is inner
    tr.dump(str(tmp_path / "spans.json"))
    assert [s["name"] for s in json.loads((tmp_path / "spans.json").read_text())] \
        == ["outer", "inner"]


# ----------------------------------------------------------------- host


def test_heap_is_a_quarter_of_available_memory_in_steps():
    gib = 1 << 30
    assert host.heap_mb(2 * gib) == 1024           # floor
    assert host.heap_mb(5 * gib) == 1024           # 1280 MiB rounds down
    assert host.heap_mb(6 * gib) == 1536
    assert host.heap_mb(15 * gib) == 1536          # cap
    assert host.heap_mb(6 * gib + (100 << 20)) == host.heap_mb(6 * gib)


# ------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_matches_the_code():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])


def test_reap_descendants_ends_orphans_that_ignore_sigterm():
    # in a process of its own: becoming a subreaper is for the whole process
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {ROOT!r})
from perfbench import host
host.become_subreaper()
stubborn = ("import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
            "print(flush=True); time.sleep(60)")
# the child starts the stubborn grandchild and exits, orphaning it
subprocess.run([sys.executable, "-c", "import subprocess, sys; "
                "p = subprocess.Popen([sys.executable, '-c', %r], stdout=subprocess.PIPE); "
                "p.stdout.readline()" % stubborn], check=True)
before = len(host.descendants(os.getpid()))
signalled = host.reap_descendants(grace_s=0.2, term_s=0.2)
print(before, len(signalled), len(host.descendants(os.getpid())))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, check=True, timeout=60)
    assert out.stdout.split() == ["1", "1", "0"]
