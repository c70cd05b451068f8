#!/usr/bin/env python
"""Benchmark harness: headline queries + the north-rule feature job.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "feature_vectors_per_sec": N, "cpus": N}

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default: the CPUs this process may use)
  BENCH_QUERIES       comma-list to restrict (default: headline set)

Each query is materialized with the noop writer (computes every column —
a bare count() would let Catalyst prune the feature columns).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# northrule (the headline fv/sec metric) runs first after warmup so the
# measurement is not skewed by JVM/worker state left by unrelated queries
HEADLINE = [
    "northrule_features",
    "asof_strict",
    "asof_bucketed",
    "sessionize",
    "rolling_rows",
    "forward_fill",
    "pricing_summary",
    "region_revenue",
    "top_tokens",
    "exact_dedup",
    "minhash_pairs",
    "simhash_pairs",
    "kfold_target_encode",
    "knn_bruteforce",
]

_FIXTURE_SCALE = {"sf0.001": "smoke", "sf0.01": "correctness", "sf0.1": "bench"}


def _noop_write(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    sf = float(sf_name.replace("sf", "") or 0.1) if sf_name.startswith("sf") else 0.1

    from dagli_spark import get_spark
    from dagli_spark.fixtures import SCALES, materialize
    from dagli_spark.northrule import run as northrule_run
    from dagli_spark.session import default_cores
    import __spark_entry__ as entrymod

    cpus = default_cores()
    spark = get_spark("dagli-spark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    wanted = os.environ.get("BENCH_QUERIES")
    names = ([n.strip() for n in wanted.split(",") if n.strip()]
             if wanted else HEADLINE)

    scale = _FIXTURE_SCALE.get(sf_name, "correctness")
    paths = materialize(spark, scale)  # cached one-time generation
    n_queries = SCALES[scale][3]

    qmap = entrymod.queries()
    unknown = [n for n in names
               if n != "northrule_features" and n not in qmap]
    if unknown:  # fail fast, not mid-suite with a KeyError
        raise SystemExit(f"BENCH_QUERIES names not in queries(): {unknown}")
    timings: dict[str, float] = {}
    fv_per_sec = None

    # one warmup pass at smoke scale: JIT + codegen + Python worker spin-up
    # (steady-state throughput is the metric; cold-start is reported too)
    warm_paths = materialize(spark, "smoke")
    t0 = time.time()
    _noop_write(northrule_run(spark, warm_paths))
    cold_start_sec = round(time.time() - t0, 3)
    # warm the measured tier's input files too (footers + OS page cache):
    # steady-state scan is the metric — a real cluster's scan bandwidth
    # scales with nodes, the sandbox's single cold disk does not. This
    # covers the northrule fixture AND every sf_dir table the headline
    # queries scan (so single-shot queries run warm, same protocol as the
    # best-of-2 flagship).
    for p in paths.values():
        spark.read.parquet(p).write.format("noop").mode("overwrite").save()
    for t in ("events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation", "region"):
        tp = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(tp):
            spark.read.parquet(tp).write.format("noop").mode("overwrite").save()

    northrule_cold_sec = None
    for name in names:
        t0 = time.time()
        if name == "northrule_features":
            # steady-state fv/sec is the headline metric; the cold first
            # execution (JIT + first-scan effects) is reported separately.
            # The JVM tiers whole-stage-codegen up to C2 over the first few
            # executions (measured warmup curve at sf0.1/32: 38 s -> 21 s ->
            # 5.2 s -> 5.3 s), so a FIXED 4 passes, best counts — the same
            # protocol as BENCH/run_scaling.py. An improvement-threshold
            # early stop is biased: a slow C2 ramp (38 -> 36 -> 5.2) fails
            # the threshold while still half-warmed and reports the 36.
            _noop_write(northrule_run(spark, paths))
            northrule_cold_sec = round(time.time() - t0, 3)
            best = northrule_cold_sec
            for _ in range(3):
                t1 = time.time()
                _noop_write(northrule_run(spark, paths))
                best = min(best, time.time() - t1)
            dt = best
            fv_per_sec = round(n_queries / dt, 1)
        else:
            _noop_write(qmap[name](spark, sf_dir))
            dt = time.time() - t0
        timings[name] = round(dt, 3)
        # queries are independent: drop persisted intermediates (e.g. the
        # dedup candidate sets) so no query pays for a predecessor's cache,
        # and force a JVM GC — Spark's ContextCleaner only removes dead
        # shuffle files when the driver GCs, which a mostly-idle driver
        # heap never triggers on its own (files otherwise accumulate and
        # slow later shuffle-heavy queries)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall time (asof+window+dedup+ann+northrule)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "feature_vectors_per_sec": fv_per_sec,
        "northrule_scale": scale,
        "northrule_queries": n_queries,
        "northrule_cold_sec": northrule_cold_sec,
        "warmup_smoke_sec": cold_start_sec,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
