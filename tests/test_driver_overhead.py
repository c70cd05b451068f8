"""The fixed driver cost of a query, pinned by two counts the JVM and py4j
report: Janino compilations on a repeated pass (the generated-code cache
must hold the driver queries' working set) and py4j round trips while a
dedup DataFrame is built (loop-generated expression families are one
SQL-text expression per output column, not one Column call per bit)."""

from collections import Counter

import pytest

import __spark_entry__ as entrymod
from bench import HEADLINE

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
    """py4j call ('c') and reflection ('r') commands sent while the
    DataFrame is built, before any action. Delete ('m') commands are not
    counted: they follow Python's garbage-collection timing."""
    from py4j.java_gateway import GatewayClient

    from dagli_spark.operators import dedup

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    sent = Counter()
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent[command[:1]] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    getattr(dedup, op)(docs, "text", "doc_id", hash_method=hash_method)
    monkeypatch.undo()
    assert sent["c"] + sent["r"] <= bound, dict(sent)
