#!/usr/bin/env python3
"""The engine's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run sizes a ``local[nproc]`` session to
this host, builds the workload's inputs from ``--seed``, sets up, runs a
cold iteration, warm-up iterations and then steady iterations for
``--seconds``, verifies
every output outside the timed loop, and prints one JSON object as the
last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also makes a traced fused iteration and a staged
iteration under spans with Spark's event log on, and the metrics are the
per-layer ledger. A full record of each run (host facts, samples,
digests, spans) is written under ``.perfbench_cache/results``.

Other modes (not workload runs; no result line in the format above):

    --scaling     backfill_pixels at local[1] and local[nproc], each in a
                  fresh JVM, next to the pure-Python machine ceiling
    --preflight   the flagship against its DuckDB oracle at the
                  correctness tier (10k images)

See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.workloads import DRIVER_SUITE  # noqa: E402
CACHE = os.path.join(ROOT, ".perfbench_cache")
DATA = os.path.join(HERE, "data", "sf0.01")
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "steady_s": "s", "fv_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYER_SPAN_METRIC = {
    "decode": "decode.s", "window": "window.s", "asof": "asof.s",
    "assemble": "assemble.s", "audit": "audit.s",
}
PER_LAYER = {
    "session.start_s": "s", "fixtures.materialize_s": "s",
    "fixtures.warm_scan_s": "s",
    "scan.s": "s", "scan.bytes": "bytes",
    "decode.s": "s", "decode.images": "count", "decode.null_rows": "count",
    "decode.floor_s": "s", "decode.over_floor": "ratio",
    "decode.py_bytes_sent": "bytes",
    "window.s": "s", "window.sort_s": "s", "window.spill_bytes": "bytes",
    "skew.detect_s": "s", "skew.window_s": "s", "skew.asof_s": "s",
    "skew.hot_entities": "count", "skew.task_max_over_median": "ratio",
    "asof.s": "s", "asof.shuffle_bytes": "bytes", "asof.no_history_rows": "count",
    "assemble.s": "s", "audit.s": "s", "audit.violations": "count",
    "ckpt.event_features_s": "s", "ckpt.asof_assemble_s": "s",
    "ckpt.bytes_written": "bytes", "ckpt.write_amp": "ratio",
    "ckpt.resume_s": "s",
    **{f"query.{q}_s": "s" for q in DRIVER_SUITE},
    "spark.task_s": "s", "spark.gap_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_s": "s", "spark.python_exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="backfill_pixels")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: this host's nproc)")
    p.add_argument("--scaling", action="store_true")
    p.add_argument("--preflight", action="store_true")
    return p.parse_args(argv)


# ------------------------------------------------------------- session


def start_session(name: str, cores: int, sizing: dict, event_dir: str | None = None):
    from dagli_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": sizing["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Xms{sizing['heap_mb']}m -Djava.io.tmpdir={sizing['tmp_dir']}"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------- measuring


def attempt(fn, *a, **kw):
    """(seconds, outcome or the exception raised)."""
    t0 = time.perf_counter()
    try:
        out = fn(*a, **kw)
    except Exception as e:  # a failed iteration is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        out = e
    return time.perf_counter() - t0, out


def measure(wl, ctx, seconds: float, sizing: dict, log: dict) -> dict:
    """Set-up repetitions, the cold iteration, the workload's warm-up
    iterations, and steady iterations for ``seconds``; every outcome is
    kept for verification."""
    from perfbench.host import RssSampler

    with RssSampler() as rss:
        t0 = time.perf_counter()
        ctx.spark = start_session(wl.name, ctx.cores, sizing)
        log["session_start_s"] = time.perf_counter() - t0
        log["materialize_s"] = wl.prepare(ctx)
        # the first get_spark launches the JVM (session.start_s); set-up is
        # then repeated SETUP_REPS times alike: get_spark on the live
        # session, materialize (a cache hit) and the input warm scan
        setups, scans = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            ctx.spark = start_session(wl.name, ctx.cores, sizing)
            scans.append(wl.setup(ctx))
            setups.append(time.perf_counter() - t0)
        log["setup_samples"], log["warm_scan_samples"] = setups, scans

        cold = attempt(wl.iteration, ctx)
        # warm-up iterations bring the JIT and the Python workers to their
        # plateau; every iteration that starts within the window is steady
        warmup = [attempt(wl.iteration, ctx) for _ in range(wl.warmup_iterations)]
        steady = []
        t_start = time.perf_counter()
        while not steady or time.perf_counter() - t_start < seconds:
            steady.append(attempt(wl.iteration, ctx))
        log["cold"] = _sample(cold)
        log["warmup"] = [_sample(s) for s in warmup]
        log["steady"] = [_sample(s) for s in steady]
        verified = attempt(wl.verify, ctx)
    log["peak_rss_bytes"] = rss.peak
    return {"cold": cold, "warmup": warmup, "steady": steady,
            "verified": verified}


def _sample(s) -> dict:
    t, o = s
    if isinstance(o, Exception):
        return {"s": t, "error": repr(o)}
    return {"s": t, "rows": o.rows, "digest": o.digest}


def judge(wl, runs: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems). Each iteration fails on an
    exception, on a failed check, or on a digest other than the verified
    reference; verification itself is one more attempt."""
    problems: list[str] = []
    _, verified = runs["verified"]
    failed_verify = isinstance(verified, Exception)
    ref = None
    if failed_verify:
        problems.append(f"verification raised {verified!r}")
    else:
        ref_outcome, vproblems = verified
        problems += vproblems
        failed_verify = bool(vproblems)
        ref = ref_outcome.digest if ref_outcome is not None else None
    iters = [runs["cold"], *runs["warmup"], *runs["steady"]]
    failed = 0
    for i, (_, o) in enumerate(iters):
        if isinstance(o, Exception):
            bad = [f"iteration {i} raised {o!r}"]
        else:
            ref = ref if ref is not None else o.digest
            bad = wl.check(o)
            if o.digest != ref:
                bad.append(f"iteration {i} digest differs from the reference")
        problems += bad
        failed += bool(bad)
    return len(iters) + 1, failed + failed_verify, problems


def end_to_end(runs: dict, log: dict) -> dict:
    ok = [(t, o) for t, o in runs["steady"] if not isinstance(o, Exception)]
    if not ok or isinstance(runs["cold"][1], Exception):
        raise RuntimeError("no successful iteration to measure")
    steady_s = statistics.median(t for t, _ in ok)
    rows = statistics.median(o.rows for _, o in ok)
    return {
        "setup_s": statistics.median(log["setup_samples"]),
        "cold_s": runs["cold"][0],
        "steady_s": steady_s,
        "fv_per_s": rows / steady_s,
        "peak_rss_mb": log["peak_rss_bytes"] / (1 << 20),
    }


# --------------------------------------------------------------- trace


def traced(wl, ctx, sizing: dict, steady_s: float, log: dict) -> tuple[dict, list[str]]:
    """The per-layer ledger and its problems: a warm-up and a traced fused
    iteration, then the staged sections, all with Spark's event log on."""
    from perfbench import eventlog
    from perfbench.trace import Tracer, descendants, self_times, unattributed

    event_dir = os.path.join(CACHE, "eventlog", str(os.getpid()))
    shutil.rmtree(event_dir, ignore_errors=True)
    ctx.spark.stop()
    ctx.spark = start_session(wl.name, ctx.cores, sizing, event_dir=event_dir)
    tr = Tracer(ctx.spark.sparkContext)
    per = {k: 0 for k in PER_LAYER}  # layers a workload never calls stay 0
    problems = []
    with tr.span("warm"):
        wl.setup(ctx)
        wl.iteration(ctx)
    with tr.span("fused"):
        fused = wl.iteration(ctx, tr)
    if fused.digest != log["reference_digest"]:
        problems.append("traced fused digest differs from the untraced one")
    staged, staged_problems = wl.staged(ctx, tr, fused)
    per.update(staged)
    problems += staged_problems
    ctx.spark.stop()
    tr.dump(os.path.join(CACHE, "results", f"{log['run_id']}.spans.json"))

    ev = eventlog.read_dir(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    spans = tr.spans
    selfs = self_times(spans)

    def ids(name):
        return descendants(spans, tr.by_name(name).id)

    fused_ids = ids("fused")
    fused_wall = tr.by_name("fused").seconds
    c = ev.counters(fused_ids)
    per.update({
        "scan.s": ev.sql_metric(fused_ids, "scan time") / 1e3,
        "scan.bytes": c["input_bytes"],
        "spark.task_s": c["task_s"],
        "spark.gap_s": ctx.cores * fused_wall - c["task_s"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.gc_s": c["gc_s"],
        # Python operators (mapInPandas, Arrow UDFs): a timing metric, in ms
        "spark.python_exec_s": ev.sql_metric(fused_ids, "time to run Python workers") / 1e3,
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
    })
    layer_self = []
    for name in wl.layers:
        self_s = selfs[tr.by_name(name).id]
        per[LAYER_SPAN_METRIC.get(name, f"{name}_s")] = self_s
        layer_self.append(self_s)
    if "decode" in wl.layers:
        d = ids("decode")
        per["decode.py_bytes_sent"] = ev.sql_metric(d, "data sent to Python workers")
        per["decode.floor_s"] = decode_floor(ctx)
        per["decode.over_floor"] = per["decode.s"] / per["decode.floor_s"]
    if "window" in wl.layers:
        w = ids("window")
        per["window.sort_s"] = ev.sql_metric(w, "sort time") / 1e3
        per["window.spill_bytes"] = ev.counters(w)["spill_bytes"]
    if "asof" in wl.layers:
        per["asof.shuffle_bytes"] = ev.counters(ids("asof"))["shuffle_write_bytes"]
    if any(s.name == "skew" for s in spans):
        for name in ("skew.detect", "skew.window", "skew.asof"):
            per[f"{name}_s"] = selfs[tr.by_name(name).id]
        per["skew.task_max_over_median"] = ev.task_skew(ids("skew.window"))
    if any(s.name == "ckpt" for s in spans):
        per["ckpt.resume_s"] = tr.by_name("ckpt.resume").seconds
    per["trace.unattributed_s"] = unattributed(steady_s, layer_self)
    per["trace.overhead_s"] = fused_wall - steady_s
    per["session.start_s"] = log["session_start_s"]
    per["fixtures.materialize_s"] = log["materialize_s"]
    per["fixtures.warm_scan_s"] = statistics.median(log["warm_scan_samples"])
    return per, problems


def decode_floor(ctx) -> float:
    import pyarrow.dataset as ds

    from perfbench.floor import decode_floor_s

    ids = ds.dataset(ctx.paths["image_events"]).to_table(columns=["image_id"])
    wanted = sorted(set(ids.column("image_id").to_pylist()))
    return decode_floor_s(ctx.paths["images"], wanted, ctx.cores)


# ---------------------------------------------------------------- modes


def run_workload(args) -> dict:
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    sizing = host.size_environment(CACHE)
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    import __spark_entry__ as entry  # fails outside a full source tree

    # before any session exists: the flagship oracle builder would
    # otherwise materialize the correctness tier outside this tree
    oracles = entry.oracle_sql()
    cores = args.cores or host.nproc()
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark=None, seed=args.seed, cores=cores, cache_dir=CACHE,
              data_dir=DATA, oracles=oracles)
    run_id = f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    log: dict = {"run_id": run_id, "workload": wl.name, "seed": args.seed,
                 "seconds": args.seconds, "cores": cores,
                 "heap_mb": sizing["heap_mb"], "source": host.source_id(ROOT),
                 "versions": host.versions()}
    try:
        with host.HostBracket() as hb:
            runs = measure(wl, ctx, args.seconds, sizing, log)
            attempted, failed, problems = judge(wl, runs)
            e2e = end_to_end(runs, log)
            _, verified = runs["verified"]
            ref = None if isinstance(verified, Exception) else verified[0]
            log["reference_digest"] = (ref.digest if ref is not None
                                       else log["steady"][0].get("digest"))
            log["verify_detail"] = ref.detail if ref is not None else {}
            if args.trace:
                metrics, traced_problems = traced(wl, ctx, sizing, e2e["steady_s"], log)
                units = PER_LAYER
                problems += traced_problems
                failed += bool(traced_problems)
                attempted += 1
            else:
                metrics, units = e2e, END_TO_END
    finally:
        stop_jvm()
        wl.cleanup(ctx)
    log["host"] = hb.facts()
    log["end_to_end"] = e2e
    log["problems"] = problems
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    log["result"] = result
    with open(os.path.join(CACHE, "results", f"{run_id}.json"), "w") as f:
        json.dump(log, f, indent=1, default=str)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: {wl.name} seed={args.seed} cores={cores} "
          f"heap={sizing['heap_mb']}MB steady n={len(runs['steady'])} "
          f"load={hb.load_before:.2f}->{hb.load_after:.2f} "
          f"steal={hb.steal_delta}", file=sys.stderr)
    return result


def run_scaling(args) -> dict:
    """backfill_pixels at local[1] and local[nproc], each in a fresh JVM."""
    from perfbench.floor import machine_ceiling_eff

    n = host.nproc()
    steady = {}
    for cores in (1, n):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             "backfill_pixels", "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0", "--cores", str(cores)],
            capture_output=True, text=True, check=True, cwd=ROOT)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            raise RuntimeError(f"local[{cores}] run failed verification")
        steady[cores] = res["metrics"]["steady_s"]["value"]
    return {
        f"scale_eff_1_{n}": steady[1] / steady[n] / n,
        f"machine_ceiling_eff_1_{n}": machine_ceiling_eff(n),
        "steady_s": {f"local[{c}]": v for c, v in steady.items()},
    }


def run_preflight(args) -> dict:
    """The flagship against its DuckDB oracle at the correctness tier."""
    from perfbench.workloads import BackfillPixels, Ctx

    sizing = host.size_environment(CACHE)
    import __spark_entry__ as entry

    from dagli_spark import fixtures

    ctx = Ctx(spark=None, seed=42, cores=host.nproc(), cache_dir=CACHE,
              data_dir=DATA, oracles=entry.oracle_sql())
    try:
        ctx.spark = start_session("preflight", ctx.cores, sizing)
        ctx.paths = fixtures.materialize(ctx.spark, "correctness",
                                         base_dir=os.path.join(CACHE, "fixtures"))
        ref, problems = BackfillPixels().verify(ctx)
    finally:
        stop_jvm()
    return {"correct": not problems, "problems": problems, "rows": ref.rows,
            "oracle_rows": ref.detail["oracle_rows"]}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    host.become_subreaper()
    try:
        if args.scaling:
            out = run_scaling(args)
        elif args.preflight:
            out = run_preflight(args)
        else:
            out = run_workload(args)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 2
    finally:
        # no process this run started (the JVM, its Python workers, pool
        # workers and their resource tracker) outlives it
        for pid in host.reap_descendants():
            print(f"perfbench: process {pid} had to be signalled", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
