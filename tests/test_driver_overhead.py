"""The fixed driver cost of a query, pinned by counts the JVM and py4j
report: Janino compilations on a repeated pass (the generated-code cache
must hold the driver queries' working set), py4j round trips while a
dedup or flagship DataFrame is built (loop-generated expression families
are one SQL-text expression per output column, not one Column call per
bit), the Spark jobs a run starts besides its own action (no schema
inference, no hot-entity aggregate that cannot fire), and the zip and jar
directories a Python task re-reads before it runs (none)."""

import re
from collections import Counter

import pytest

import __spark_entry__ as entrymod
from bench import HEADLINE
from dagli_spark.fixtures import materialize
from dagli_spark.northrule import run as northrule_run
from dagli_spark.plans.inspect import final_adaptive_plan

# bench.py's 13 non-flagship headline queries
SUITE = [q for q in HEADLINE if q != "northrule_features"]


def test_repeated_pass_compiles_nothing(spark, sf01_dir):
    """Three passes over the 13 queries in one session: the third adds no
    Janino compilation. At Spark's default cache of 100 classes the ~225
    of one pass evicted each other and every pass recompiled all of them;
    with codegen stage ids in class names, a pass now and then recompiled
    the stages AQE had numbered in another order."""
    qs = entrymod.queries()
    compilations = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())
    added = []
    for _ in range(3):
        before = compilations.getCount()
        for q in SUITE:
            qs[q](spark, sf01_dir).toArrow()
            spark.catalog.clearCache()
        added.append(compilations.getCount() - before)
    assert added[2] == 0, f"compilations added per pass: {added}"


@pytest.mark.parametrize("hash_method", ["xxhash64", "poly31"])
@pytest.mark.parametrize("op, bound", [
    # parent per-bit Column formulation: 10,026 (xxhash64), 5,641 (poly31)
    ("simhash_dup_pairs", 2_000),
    # parent: 1,923 (xxhash64), 3,010 (poly31)
    ("minhash_lsh_pairs", 1_500),
])
def test_dedup_build_round_trips(spark, sf01_dir, monkeypatch, op, bound,
                                 hash_method):
    from dagli_spark.operators import dedup

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    sent = _round_trips(monkeypatch, lambda: getattr(dedup, op)(
        docs, "text", "doc_id", hash_method=hash_method))
    assert sent["c"] + sent["r"] <= bound, dict(sent)


@pytest.mark.parametrize("op", ["knn_lsh", "embedding_dup_pairs"])
def test_lsh_build_round_trips(spark, sf01_dir, monkeypatch, op):
    """The LSH tables are one SQL-text key per table; the per-coordinate
    Column build (one F.lit per hyperplane coordinate, one full scan per
    table) made 20,397 (knn_lsh) and 13,720 (embedding_dup_pairs)."""
    from pyspark.sql import functions as F

    from dagli_spark.operators import similarity

    e = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    build = {
        "knn_lsh": lambda: similarity.knn_lsh(
            e.where(F.col("vec_id") < 10), e, dim=64, k=3),
        "embedding_dup_pairs": lambda: similarity.embedding_dup_pairs(
            e, dim=64, threshold=0.35),
    }[op]
    sent = _round_trips(monkeypatch, build)
    assert sent["c"] + sent["r"] <= 1_500, dict(sent)


def _round_trips(monkeypatch, build) -> Counter:
    """py4j commands by kind sent while ``build()`` runs: calls ('c') and
    reflection ('r') are what a DataFrame build costs. Delete ('m')
    commands follow Python's garbage-collection timing."""
    from py4j.java_gateway import GatewayClient

    sent = Counter()
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent[command[:1]] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    return sent


def _job_names(spark, action) -> list[str]:
    """Call sites of every Spark job ``action()`` starts, by job group."""
    sc = spark.sparkContext
    group = f"driver-overhead-{id(action)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return [jsc.statusStore().job(j).name()
            for j in sorted(sc.statusTracker().getJobIdsForGroup(group))]


def _driver_side_jobs(names: list[str]) -> list[str]:
    """Schema-inference jobs (call site ``parquet at ...``) and the
    hot-entity detection's ``collect at northrule.py``."""
    return [n for n in names if n.startswith("parquet at ")
            or re.match(r"collect at .*northrule\.py", n)]


def test_flagship_runs_only_its_action(spark):
    """One default ``northrule.run`` iteration over the smoke tier (4,000
    events, below the default hot_min_rows of 500,000): the parent ran
    three schema-inference jobs and the two-job detection aggregate
    before its action."""
    paths = materialize(spark, "smoke")
    names = _job_names(spark, lambda: northrule_run(spark, paths).toArrow())
    assert names and not _driver_side_jobs(names), names


def test_driver_suite_runs_no_inference_job(spark, sf01_dir):
    """One pass of the benchmark's 13 driver queries at sf0.01 (the parent
    ran one inference job per table read: 16 of its 62 jobs)."""
    qs = entrymod.queries()

    def one_pass():
        for q in SUITE:
            qs[q](spark, sf01_dir).toArrow()
            spark.catalog.clearCache()

    names = _job_names(spark, one_pass)
    assert names and not _driver_side_jobs(names), names


# 2,788 before the one-projection rewrite (smoke tier and the benchmark's
# inputs alike, schema inference and the detection aggregate included),
# 1,345 after it
FLAGSHIP_BUILD_ROUND_TRIPS = 1_600


def test_flagship_build_round_trips(spark, monkeypatch):
    """c + r commands while ``northrule.run``'s DataFrame is built: the
    window block, session id + cnt_1h, the as-of value struct and
    projections, and the feature vector are each one projection of
    SQL-text or Column expressions, not a withColumn chain."""
    paths = materialize(spark, "smoke")
    northrule_run(spark, paths)  # first build resolves py4j classes
    sent = _round_trips(monkeypatch, lambda: northrule_run(spark, paths))
    assert sent["c"] + sent["r"] <= FLAGSHIP_BUILD_ROUND_TRIPS, dict(sent)


# AQE-final node counts of the whole flagship on the smoke tier, recorded
# before the one-projection rewrite: the two window sorts and the as-of
# sort; the distinct-image-id, window and as-of exchanges; the broadcasts
# of the distinct ids and of the decoded stats; one Arrow decode (a
# MapInPandas); the scans of images, queries and (twice) image_events
FLAGSHIP_PLAN_NODES = dict(Sort=3, Exchange=3, BroadcastExchange=2,
                           MapInPandas=1, ArrowEvalPython=0, FileScan=4)


def test_flagship_final_plan_shape(spark):
    paths = materialize(spark, "smoke")
    final = final_adaptive_plan(northrule_run(spark, paths)) \
        .split("== Initial Plan ==")[0]
    got = {node: len(re.findall(rf"^[\s:|+-]*(?:\*\(\d+\) )?{node}\b",
                                final, re.M))
           for node in FLAGSHIP_PLAN_NODES}
    assert got == FLAGSHIP_PLAN_NODES


def test_hot_detection_runs_only_when_it_can_fire(spark):
    """``detect_hot_entities`` answers [] from the footers, without a job,
    only for a bare Parquet scan holding fewer rows than the threshold;
    at the threshold, or over any other plan, it runs its aggregate."""
    from pyspark.sql import functions as F

    from dagli_spark.northrule import detect_hot_entities
    from dagli_spark.sources.readers import footer_rows, parquet_reader

    events = parquet_reader(spark, materialize(spark, "smoke")["image_events"])
    rows = footer_rows(events)
    filtered = events.where(F.col("label") >= 0)
    for df in (events, filtered):
        found = []
        assert not _job_names(spark, lambda: found.extend(
            detect_hot_entities(df, rows + 1))) and found == []
    assert _job_names(spark, lambda: detect_hot_entities(events, rows))
    doubled = events.unionByName(events)
    assert _job_names(spark, lambda: detect_hot_entities(doubled, rows + 1))
    top = events.groupBy("entity_id").count().agg(F.max("count")).first()[0]
    assert [r["entity_id"] for r in detect_hot_entities(events, top)] \
        == [r["entity_id"] for r in detect_hot_entities(doubled, 2 * top)]
    assert detect_hot_entities(events, top)  # the aggregate still fires


@pytest.mark.parametrize("bad", [0, -5, 2.5, "500", True])
def test_hot_min_rows_is_none_or_positive_int(spark, bad):
    """``hot_min_rows=0`` used to disable detection silently (a falsy
    threshold); only None disables it now, and a non-threshold raises."""
    from dagli_spark.northrule import detect_hot_entities, event_features
    from dagli_spark.sources.readers import parquet_reader

    paths = materialize(spark, "smoke")
    events = parquet_reader(spark, paths["image_events"])
    images = parquet_reader(spark, paths["images"])
    with pytest.raises(ValueError, match="hot_min_rows"):
        event_features(events, images, with_pixels=False, hot_min_rows=bad)
    with pytest.raises(ValueError, match="hot_min_rows"):
        detect_hot_entities(events, bad)
    event_features(events, images, with_pixels=False, hot_min_rows=None)



def test_python_task_rereads_no_archive(spark):
    """Two ``mapInArrow`` passes: each task repeats the
    ``importlib.invalidate_caches()`` that pyspark's per-task set-up ends
    with and counts the zip and jar directory reads it makes: none, on
    either pass. Spark's own daemon re-read every zip and jar on the
    worker path in every task (16 reads, 200-300 ms per task at local[4]
    on Python 3.11). The count follows the set-up's own invalidation, so
    a fresh worker's first task (the stamps the daemon records before it
    forks) is pinned by tests/test_pyworker.py."""
    from dagli_spark.session import PYWORKER_MODULE

    def archive_reads(batches):  # nested: pickled by value
        import importlib
        import zipimport

        import pyarrow as pa

        count = [0]
        read = zipimport._read_directory

        def counting(archive):
            count[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [count[0]]})

    assert spark.conf.get("spark.python.daemon.module") == PYWORKER_MODULE
    df = spark.range(0, 16, 1, 4)
    for _ in range(2):
        reads = [r["reads"] for r in df.mapInArrow(
            archive_reads, "reads long").collect()]
        assert len(reads) == 4 and set(reads) == {0}, reads
