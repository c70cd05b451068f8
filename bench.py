#!/usr/bin/env python
"""Benchmark harness: headline queries + the north-rule feature job.

Prints ONE JSON line:
  {"metric": "...", "value": <sum of steady sec>, "unit": "sec",
   "queries": {name: steady sec, ...}, "queries_cold": {name: sec, ...},
   "sf": <sf>, "feature_vectors_per_sec": N, "cpus": N, ...}

Every query runs once cold, then 3 steady passes; the best steady pass
is its ``queries`` time.

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

STEADY_PASSES = 3


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
    from dagli_spark.sources.readers import parquet_reader
    import __spark_entry__ as entrymod

    cpus = default_cores()
    spark = get_spark("dagli-spark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    wanted = os.environ.get("BENCH_QUERIES")
    names = ([n.strip() for n in wanted.split(",") if n.strip()]
             if wanted else HEADLINE)

    scale = entrymod.northrule_tier(sf_dir)
    paths = materialize(spark, scale)  # cached one-time generation
    n_queries = SCALES[scale][3]

    qmap = {**entrymod.queries(),
            "northrule_features": lambda s, _: northrule_run(s, paths)}
    unknown = [n for n in names if n not in qmap]
    if unknown:  # fail fast, not mid-suite with a KeyError
        raise SystemExit(f"BENCH_QUERIES names not in queries(): {unknown}")

    # one warmup pass at smoke scale: JVM, Python worker spin-up
    warm_paths = materialize(spark, "smoke")
    t0 = time.time()
    _noop_write(northrule_run(spark, warm_paths))
    cold_start_sec = round(time.time() - t0, 3)
    # warm the measured tier's input files too (footers + OS page cache):
    # a real cluster's scan bandwidth scales with nodes, the sandbox's
    # single cold disk does not. This covers the northrule fixture AND
    # every sf_dir table the headline queries scan.
    for p in paths.values():
        _noop_write(parquet_reader(spark, p))
    for t in ("events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation", "region"):
        tp = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(tp):
            _noop_write(parquet_reader(spark, tp))

    # Every query runs once cold, then STEADY_PASSES more times; the best
    # steady pass counts. The JVM compiles each query's generated code on
    # its first execution and tiers it up to C2 over the next few (measured
    # warmup curve of the flagship at sf0.1/32: 38 s -> 21 s -> 5.2 s ->
    # 5.3 s; a single-shot query reads about 2x its steady time). A fixed
    # pass count, not an improvement-threshold early stop: a slow C2 ramp
    # (38 -> 36 -> 5.2) fails the threshold while still half-warmed.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        passes = []
        for _ in range(1 + STEADY_PASSES):
            t0 = time.time()
            _noop_write(qmap[name](spark, sf_dir))
            passes.append(time.time() - t0)
            # passes are independent: drop persisted intermediates (e.g.
            # the dedup candidate sets) so no pass reads a predecessor's
            # cache, and force a JVM GC — Spark's ContextCleaner only
            # removes dead shuffle files when the driver GCs, which a
            # mostly-idle driver heap never triggers on its own (files
            # otherwise accumulate and slow later shuffle-heavy queries)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        cold[name] = round(passes[0], 3)
        timings[name] = round(min(passes[1:]), 3)

    fv_per_sec = (round(n_queries / timings["northrule_features"], 1)
                  if "northrule_features" in timings else None)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall time (asof+window+dedup+ann+northrule)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "sf": sf,
        "cpus": cpus,
        "feature_vectors_per_sec": fv_per_sec,
        "northrule_scale": scale,
        "northrule_queries": n_queries,
        "northrule_cold_sec": cold.get("northrule_features"),
        "warmup_smoke_sec": cold_start_sec,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
