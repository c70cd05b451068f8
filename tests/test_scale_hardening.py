"""Round-2 scale-hardening pins (VERDICT.md items 3-6, 8, 10):

- RankModel.apply completes on 1M continuous (all-missing) probes — the
  round-1 nested-loop fallback was O(misses x boundaries) and would never
  finish here.
- fit_isotonic / fit_bucket_index bound their driver collects via
  quantile pre-binning on continuous inputs (~1M distinct values).
- KMeansModel.apply / knn_ivf routing stay O(1) plan size in the
  centroid count (1024 centroids compile + run instantly).
- Two-phase fit ranking: the data path goes through a RangePartitioning
  exchange + pid-partitioned window (never a single-partition sort of
  the dictionary), and ids are identical to the naive global window.
"""

import os
import time

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dagli_spark.operators.fit import (
    fit_bucket_index,
    fit_index,
    fit_rank,
)
from dagli_spark.operators.models import KMeansModel, fit_isotonic
from dagli_spark.operators.twophase import global_row_number


def _continuous_df(spark, n):
    """n rows with a continuous, effectively-all-distinct double column."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 0.001 + (F.col("id") % 97) * 1e-7).alias("v"),
    )


def test_rank_apply_continuous_probes_1m(spark):
    # fit on a 10k population, probe with 1M continuous values that
    # almost never hit an exact boundary -> round-1 fallback was
    # O(1M x 10k) broadcast nested loop; searchsorted path is O(n log k)
    pop = spark.range(10_000).select((F.col("id") % 1000).cast("double").alias("v"))
    m = fit_rank(pop, "v")
    probes = _continuous_df(spark, 1_000_000)
    t0 = time.time()
    out = m.apply(probes, out="r")
    got = out.agg(F.sum("r").alias("s"), F.count(F.lit(1)).alias("n")).first()
    assert got["n"] == 1_000_000
    # cross-check a handful of ranks against numpy on the driver
    sample = out.where(F.col("id") % 250_000 == 17).orderBy("id").collect()
    vals = np.repeat(np.arange(1000, dtype=np.float64), 10)
    vals.sort()
    for r in sample:
        assert r["r"] == int(np.searchsorted(vals, r["v"], side="left"))
    assert time.time() - t0 < 120


def test_rank_limit_caps_state(spark):
    pop = spark.range(100_000).select(F.col("id").cast("double").alias("v"))
    m = fit_rank(pop, "v", limit=100)
    # fitted state is limit-capped, not |distinct|-sized (Rank.java:21-22)
    assert m.cumulative.count() <= 100
    probe = spark.createDataFrame(
        [(50.0,), (1e9,), (-5.0,)], "v double")
    got = {r["v"]: r["r"] for r in m.apply(probe, out="r").collect()}
    assert got[50.0] == 50 and got[1e9] == 100 and got[-5.0] == 0


def test_isotonic_continuous_prebins(spark):
    df = _continuous_df(spark, 1_000_000).select(
        F.col("v").alias("s"),
        ((F.col("id") % 7) < 3).cast("double").alias("y"),
    )
    t0 = time.time()
    m = fit_isotonic(df, "s", "y", max_bins=4096)
    # driver-side state bounded by the bin budget, monotone by PAV
    assert len(m.xs) <= 4096
    ys = np.asarray(m.ys)
    assert (np.diff(ys) >= -1e-12).all()
    out = m.apply(df.limit(10), out="cal")
    assert out.where(F.col("cal").isNull()).count() == 0
    assert time.time() - t0 < 120


def test_bucket_index_continuous_prebins(spark):
    df = _continuous_df(spark, 1_000_000)
    t0 = time.time()
    m = fit_bucket_index(df, "v", 8, max_bins=1024)
    assert len(m.boundaries) == 7
    # roughly equi-depth: every bucket within 3x of the ideal fill
    counts = (m.apply(df, out="b").groupBy("b").count()
              .orderBy("b").collect())
    assert len(counts) == 8
    for r in counts:
        assert r["count"] > 1_000_000 / 8 / 3
    assert time.time() - t0 < 180


def test_bucket_apply_large_k_matches_when_chain(spark):
    """BucketModel.apply switches from a when-chain to the broadcast +
    searchsorted Arrow UDF above k=64 (plan O(1) in k); both paths must
    agree on every probe, including exact-boundary hits, out-of-range
    probes and nulls (null -> last bucket, the when-chain fallthrough)."""
    from dagli_spark.operators.fit import BucketModel

    bounds = [float(i) for i in range(0, 400, 2)]  # k-1 = 200 boundaries
    big = BucketModel("v", bounds)
    small = BucketModel("v", bounds[:50])
    probes = ([None, -5.0, 0.0, 1.0, 2.0, 398.0, 399.0, 1e9]
              + [float(x) for x in range(-3, 405, 7)])
    df = spark.createDataFrame([(p,) for p in probes], "v double")
    got = {r["v"]: r["b"] for r in big.apply(df, out="b").collect()}
    # oracle: the when-chain semantics, computed in python
    for p in probes:
        if p is None:
            exp = len(bounds)
        else:
            exp = next((i for i, b in enumerate(bounds) if p <= b),
                       len(bounds))
        assert got[p] == exp, (p, got[p], exp)
    # small-k stays a pure-JVM plan (no Arrow batch eval)
    plan = small.apply(df, out="b")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan


def test_kmeans_apply_1024_centroids_plan_sane(spark):
    dim, k = 16, 1024
    rng = [[float(((i * 31 + j * 17) % 101) - 50) for j in range(dim)]
           for i in range(k)]
    m = KMeansModel("vec", rng)
    df = spark.range(2_000).select(
        "id",
        F.array(*[(F.col("id") % (j + 3)).cast("float")
                  for j in range(dim)]).alias("vec"),
    )
    t0 = time.time()
    out = m.apply(df, out="c")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # O(1) plan: centroids live in a broadcast matrix, not the plan text
    assert len(plan) < 100_000
    assert out.select(F.countDistinct("c")).first()[0] > 1
    assert time.time() - t0 < 60


def test_kmeans_assignment_matches_numpy(spark):
    centers = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    m = KMeansModel("vec", centers)
    rows = [([float(i % 12), float((i * 7) % 12)],) for i in range(100)]
    df = spark.createDataFrame(rows, "vec array<float>")
    got = [r["c"] for r in m.apply(df, out="c").collect()]
    C = np.asarray(centers)
    for (vec,), g in zip(rows, got):
        d = ((np.asarray(vec)[None, :] - C) ** 2).sum(axis=1)
        assert g == int(np.argmin(d))


def test_two_phase_matches_global_window(spark):
    df = spark.range(100_000).select(
        (F.xxhash64("id") % 1_000_003).alias("key"))
    counts = df.groupBy(F.col("key").alias("value")).count()
    naive = counts.withColumn(
        "id", F.row_number().over(
            Window.orderBy(F.col("count").desc(), F.col("value").asc())) - 1)
    two = global_row_number(
        counts, [F.col("count").desc(), F.col("value").asc()], "id")
    a = {r["value"]: r["id"] for r in naive.collect()}
    b = {r["value"]: r["id"] for r in two.collect()}
    assert a == b


def test_fit_plans_have_no_data_sized_single_partition_sort(spark):
    ev = spark.range(50_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id"))
    m = fit_index(ev, "k")
    plan = m.mapping._jdf.queryExecution().executedPlan().toString()
    # the data path range-partitions and windows by pid; the only
    # single-partition exchange feeds the P-row partition-count table
    assert "rangepartitioning" in plan.lower()
    assert "__tp_pid" in plan


def test_continuous_guard_skips_non_numeric(spark):
    """continuous_bin_expr must take the exact path on string columns: they
    cannot be range-quantized, and the stats probe's double cast would
    throw CAST_INVALID_INPUT under an ANSI-enabled caller session (the
    correctness driver brings its own). fit_rank over strings — supported
    since round 1, RankModel handles object-dtype populations — must keep
    working end to end."""
    from dagli_spark.operators.fit import continuous_bin_expr, fit_rank

    df = spark.createDataFrame(
        [(f"w{i:04d}",) for i in range(300)] * 2, "s string")
    assert continuous_bin_expr(df, "s", 100) is None
    m = fit_rank(df, "s")
    got = {r["s"]: r["r"] for r in m.apply(df, out="r").collect()}
    assert got["w0000"] == 0 and got["w0002"] == 4  # 2 instances per value


def test_continuous_guard_threshold_is_max_bins(spark):
    """The binning approximation must not fire while the exact state still
    fits: 80 distinct values with max_bins=100 stays exact (the earlier
    0.7x gate silently approximated ranks for exact-feasible columns — a
    latent oracle-parity break at bigger tiers); 300 distinct with
    max_bins=100 bins."""
    from dagli_spark.operators.fit import continuous_bin_expr

    exact = spark.createDataFrame([(float(i),) for i in range(80)], "v double")
    assert continuous_bin_expr(exact, "v", 100) is None
    wide = spark.createDataFrame([(float(i),) for i in range(300)], "v double")
    assert continuous_bin_expr(wide, "v", 100) is not None


def test_bucket_apply_large_k_exact_for_big_longs(spark):
    """The large-k searchsorted path must compare integral probes in int64:
    a float64 detour rounds values near 2^53 and can land a probe in a
    different bucket than the small-k when-chain's exact long comparison."""
    from dagli_spark.operators.fit import BucketModel

    base = 1 << 53
    bounds = [base + 2 * i for i in range(80)]  # k-1 = 80 integer bounds
    m = BucketModel("v", bounds)
    probes = [base + d for d in range(-2, 161)] + [None, base + 10**6]
    df = spark.createDataFrame([(p,) for p in probes], "v long")
    got = {r["v"]: r["b"] for r in m.apply(df, out="b").collect()}
    for p in probes:
        exp = (len(bounds) if p is None else
               next((i for i, b in enumerate(bounds) if p <= b), len(bounds)))
        assert got[p] == exp, (p, got[p], exp)


def test_rank_apply_exact_for_big_longs_with_null_probes(spark):
    """Same Arrow hazard for RankModel.apply: an int64 probe batch
    containing a null reaches pandas as float64, which rounded probes
    beyond 2^53 and shunted the whole batch onto the float comparison
    path. Integral probes now ride null-free (coalesce in, when() out)."""
    from dagli_spark.operators.fit import fit_rank

    base = 1 << 53
    pop = [base + 2 * i for i in range(40)]
    fitted = spark.createDataFrame([(v,) for v in pop], "v long")
    m = fit_rank(fitted, "v")
    probes = [base + d for d in range(-1, 82)] + [None]
    df = spark.createDataFrame([(p,) for p in probes], "v long")
    got = {r["v"]: r["r"] for r in m.apply(df, out="r").collect()}
    for p in probes:
        exp = 0 if p is None else sum(1 for v in pop if v < p)
        assert got[p] == exp, (p, got[p], exp)


def test_keepset_strategies_agree_and_scale_k10k(spark):
    """KeepSetModel.apply: the three membership strategies (literal
    array_contains, O(1) dense mask, explode+broadcast-join regroup)
    produce identical kept entries — including empty-map and null-map
    rows — and the auto pick at k=10^4 avoids the per-entry linear scan
    (round-3 advice: array_contains over a 10^4 literal was O(K) per
    map key)."""
    from dagli_spark.operators.vector_select import fit_top_by_value

    k = 10_000
    n_rows = 2_000
    # sparse vectors over a 40k index space; values weight low indices so
    # top-k by summed value is deterministic
    df = spark.range(n_rows).select(
        F.col("id"),
        F.map_from_arrays(
            F.array(*[((F.col("id") % 6_000) * 6 + i).cast("long")
                      for i in range(6)]),
            F.array(*[F.lit(float(100 - i)) for i in range(6)]),
        ).alias("vec"),
    )
    # add an empty-map row and a null-map row (edge semantics must agree)
    edge = spark.createDataFrame(
        [(1_000_001, {}), (1_000_002, None)], "id long, vec map<long,double>")
    df = df.unionByName(edge)

    m = fit_top_by_value(df, "vec", k)
    outs = {}
    for strat in ("literal", "mask", "join"):
        rows = m.apply(df, out="top", strategy=strat).select(
            "id",
            F.to_json(F.sort_array(F.map_entries("top"))).alias("j"),
        ).collect()
        outs[strat] = sorted((r["id"], r["j"]) for r in rows)
    assert outs["literal"] == outs["mask"] == outs["join"]
    # auto pick at k=10^4 with dense-ish indices must be the mask path
    stats = m.keep.agg(F.count(F.lit(1)).alias("k"),
                       F.max("idx").alias("mx")).first()
    assert int(stats["k"]) == k
    assert int(stats["mx"]) + 1 <= max(64 * k, 1 << 20)  # mask-eligible
    auto = m.apply(df, out="top")  # must compose+run without error
    assert auto.where(F.col("id") == 1_000_002).first()["top"] is None
    assert auto.count() == n_rows + 2
    # a typo'd strategy must raise, not silently run a different plan
    with pytest.raises(ValueError, match="unknown keep-set strategy"):
        m.apply(df, strategy="msak")
    # indices past int32 must stay correct (literal path at small K) and an
    # explicit mask override there is an error, not a silent wrap of the
    # try_element_at position cast
    from dagli_spark.operators.vector_select import KeepSetModel

    wide_keep = spark.createDataFrame(
        [(0,), (7,), (5_000_000_000,)], "idx long")
    wide = KeepSetModel("vec", wide_keep)
    wdf = spark.createDataFrame(
        [(1, {0: 1.0, 5_000_000_000: 2.0, 9: 3.0})],
        "id long, vec map<long,double>")
    got = wide.apply(wdf, out="top").first()["top"]
    assert got == {0: 1.0, 5_000_000_000: 2.0}
    with pytest.raises(ValueError, match="int32"):
        wide.apply(wdf, strategy="mask")
    # the auto pick must never build an unbounded mask literal: a dense
    # keep-set past the absolute cap (64*k exceeds _MASK_CAP here) must
    # route to the join path — the mask would be a 4.5M-slot driver list
    # growing linearly in k with no ceiling
    big_keep = spark.range(70_000).select((F.col("id") * 64).alias("idx"))
    big = KeepSetModel("vec", big_keep)
    plan = big.apply(wdf, out="top")._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" in plan  # join path, not mask


def test_decode_kernel_weak_scaling_1_to_4(spark):
    """The PORTABLE face of the north-rule N->4N scaling criterion: the
    job's own decode+stat kernel (``perfbench.floor.decode_floor_s``: no
    Spark, no JVM, plain spawned processes), weak-scaled with per-process
    work held constant, must reach 0.8 of the host's own parallel
    ceiling (``machine_ceiling_eff``) from 1 to 4 processes, both measured
    in the same attempt. This is the claim a real 4N-executor cluster
    inherits; the 8->32 sessions of the same kernel on a 32-CPU host are
    in BENCH/HISTORY.md. Skips (never fails) when the host is visibly
    loaded."""
    import pyarrow.dataset as ds

    from dagli_spark.fixtures import materialize
    from perfbench.floor import decode_floor_s, machine_ceiling_eff

    load1 = os.getloadavg()[0]
    if load1 > 2.0:
        pytest.skip(f"host not quiet (load {load1:.2f}) — bench discipline")
    images = materialize(spark, "correctness")["images"]
    ids = sorted(ds.dataset(images).to_table(columns=["image_id"])
                 .column("image_id").to_pylist())
    k = 2_000
    readings = []
    for _ in range(3):  # best of 3 absorbs an ambient burst
        # decode_floor_s's spawn pools may print "leaked semaphore" /
        # sem_unlink warnings when called repeatedly in one process
        t1 = decode_floor_s(images, ids[:k], 1)
        t4 = decode_floor_s(images, ids[:4 * k], 4)
        ceiling = machine_ceiling_eff(4)
        readings.append((t1 / t4, ceiling))
        if t1 / t4 >= 0.8 * ceiling:
            break
    print("kernel 1->4 weak scaling (eff, ceiling):", readings)
    assert max(eff / ceiling for eff, ceiling in readings) >= 0.8, (
        f"kernel 1->4 weak-scaling efficiency below 0.8 of the machine "
        f"ceiling in every attempt: {readings}")


def test_keepset_duplicate_keep_rows_and_column_order(spark):
    """Round-4 advice: (a) a keep DataFrame with REPEATED idx rows must
    behave identically on all three strategies — the join path's
    map_from_entries raised DUPLICATED_MAP_KEY before the distinct; (b)
    when ``out`` names an existing column, every strategy must replace it
    IN PLACE (withColumn semantics) so output column ORDER cannot depend
    on the auto-picked strategy."""
    from dagli_spark.operators.vector_select import KeepSetModel

    dup_keep = spark.createDataFrame(
        [(2,), (2,), (5,), (5,), (5,)], "idx long")
    m = KeepSetModel("vec", dup_keep)
    df = spark.createDataFrame(
        [(1, {2: 1.0, 3: 9.0, 5: 2.0}, "x"), (2, {7: 4.0}, "y")],
        "id long, vec map<long,double>, tag string")
    for strat in ("literal", "mask", "join"):
        out = m.apply(df, out="vec", strategy=strat)
        assert out.columns == ["id", "vec", "tag"], (strat, out.columns)
        got = {r["id"]: r["vec"] for r in out.collect()}
        assert got == {1: {2: 1.0, 5: 2.0}, 2: {}}, (strat, got)
        # a NEW output name appends last on every strategy
        assert m.apply(df, out="top", strategy=strat).columns == \
            ["id", "vec", "tag", "top"], strat
