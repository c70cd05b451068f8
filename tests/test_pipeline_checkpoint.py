"""Pipeline DSL semantics (fit lifecycle, CSE, manifest round-trip) and
checkpoint/resume (FIXTURES §5 resume_probe)."""

import os
import shutil

from pyspark.sql import functions as F

from dagli_spark.checkpoint import Checkpointer, checkpointed_northrule, content_key
from dagli_spark.fixtures import materialize
from dagli_spark.northrule import run as northrule_run
from dagli_spark.operators.fit import fit_index
from dagli_spark.pipeline import (
    FittedPipeline,
    Pipeline,
    PreparableStage,
    Stage,
)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_pipeline_fit_apply_and_cse(spark, sf_dir):
    ev = _events(spark, sf_dir)

    filt = Stage("filter_purchases", lambda df: df.where(F.col("value") > 50))
    index = PreparableStage(
        "index_event_type",
        fit_fn=lambda df: fit_index(df, "event_type"),
        apply_fn=lambda m, df: m.apply(df, out="type_id"),
    )
    # Every occurrence runs: in a linear chain the second `filt`'s input
    # is the index stage's output, so it is NOT value-equal to the first
    # (Dagli @ValueEquality compares fields + inputs) — the round-1 CSE
    # dropped it, silently breaking non-idempotent repeats
    p = Pipeline([filt, index, filt])
    assert len(p.stages) == 3

    fp, out = p.fit_transform(ev)
    assert "type_id" in out.columns
    # the dictionary was fitted on the FILTERED frame (phase semantics:
    # preparables consume upstream stage output, documentation/dag.md:83)
    fitted_model = fp.fitted_stages[1].state
    fitted_types = {r["value"] for r in fitted_model.mapping.collect()}
    raw_types = {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    assert fitted_types <= raw_types
    assert all(m["fit_sec"] >= 0 for m in fp.metrics)


def test_fitted_pipeline_save_load(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    p = Pipeline([
        PreparableStage(
            "index_event_type",
            fit_fn=lambda df: fit_index(df, "event_type"),
            apply_fn=lambda m, df: m.apply(df, out="type_id"),
        ),
    ])
    fp = p.fit(ev)
    before = sorted(str(r) for r in fp.transform(ev).select("event_id", "type_id").collect())

    path = str(tmp_path / "fitted")
    # fitted state contains a DataFrame (mapping) — collect it to rows for
    # pickling via the model's own state; here we exercise manifest + pickle
    fp.fitted_stages[0] = _picklable_index_stage(fp.fitted_stages[0], spark)
    fp.save(path)
    assert os.path.exists(os.path.join(path, "manifest.json"))

    loaded = FittedPipeline.load(path)
    after = sorted(str(r) for r in loaded.transform(ev).select("event_id", "type_id").collect())
    assert before == after


def _picklable_index_stage(fitted_stage, spark):
    """Convert the IndexModel's mapping DataFrame to plain rows so the
    fitted stage pickles; apply rebuilds the broadcast frame."""
    from dagli_spark.pipeline import FittedStage

    model = fitted_stage.state
    rows = [(r["value"], r["id"]) for r in model.mapping.collect()]
    col, unk = model.col, model.unknown_id

    def apply_fn(state, df):
        from pyspark.sql import functions as F
        from pyspark.sql import SparkSession
        s = SparkSession.getActiveSession()
        mapping = s.createDataFrame(state["rows"], f"{state['col']} string, type_id int")
        j = df.join(F.broadcast(mapping), on=state["col"], how="left")
        return j.withColumn("type_id", F.coalesce(F.col("type_id"), F.lit(state["unk"])))

    return FittedStage(
        fitted_stage.name, apply_fn,
        {"rows": rows, "col": col, "unk": unk}, fitted_stage.params,
    )


def test_checkpoint_resume(spark, tmp_path):
    """Fresh run vs resumed run: identical outputs, second run recomputes
    nothing (resume_hit events in metrics)."""
    paths = materialize(spark, "smoke")
    root = str(tmp_path / "ckpt")

    out1 = checkpointed_northrule(spark, paths, root)
    r1 = sorted(str(x) for x in out1.select("entity_id", "asof_time", "qseq",
                                            "feature_vector").collect())
    ck = Checkpointer(root)
    computed = [m for m in ck.metrics() if m["event"] == "computed"]
    assert len(computed) == 2
    assert all(m["rows"] > 0 and m["partitions"] for m in computed)

    out2 = checkpointed_northrule(spark, paths, root)
    r2 = sorted(str(x) for x in out2.select("entity_id", "asof_time", "qseq",
                                            "feature_vector").collect())
    assert r1 == r2
    hits = [m for m in ck.metrics() if m["event"] == "resume_hit"]
    assert len(hits) == 2  # both stages resumed, zero recompute

    # partial resume: nuke stage 2 only -> stage 1 still resumes
    for d in os.listdir(root):
        if d.startswith("asof_assemble"):
            shutil.rmtree(os.path.join(root, d))
    out3 = checkpointed_northrule(spark, paths, root)
    r3 = sorted(str(x) for x in out3.select("entity_id", "asof_time", "qseq",
                                            "feature_vector").collect())
    assert r1 == r3

    # checkpointed output matches the direct pipeline byte-for-byte
    direct = northrule_run(spark, paths)
    rd = sorted(str(x) for x in direct.select("entity_id", "asof_time", "qseq",
                                              "feature_vector").collect())
    assert r1 == rd


def test_checkpointed_northrule_rejects_unknown_option(spark, tmp_path):
    import pytest

    paths = materialize(spark, "smoke")
    with pytest.raises(TypeError, match="with_pixel"):
        checkpointed_northrule(spark, paths, str(tmp_path / "ckpt"),
                               with_pixel=False)


def test_checkpointed_northrule_passes_every_option(spark, tmp_path,
                                                   monkeypatch):
    """The skew options reach event_features: with the hot path forced
    (the smoke-scale values of test_hot_entity_bucketed_windows_match_plain)
    the checkpointed output equals the direct pipeline's, columns and rows."""
    import dagli_spark.northrule as nr

    thresholds = []
    detect = nr.detect_hot_entities

    def spy(events, min_rows, **kw):
        thresholds.append(min_rows)
        return detect(events, min_rows, **kw)

    monkeypatch.setattr(nr, "detect_hot_entities", spy)
    paths = materialize(spark, "smoke")
    opts = {"with_pixels": False, "hot_min_rows": 100, "hot_target_rows": 20}
    got = checkpointed_northrule(spark, paths, str(tmp_path / "ckpt"), **opts)
    want = northrule_run(spark, paths, **opts)
    assert thresholds == [100, 100]
    assert got.columns == want.columns
    assert (sorted(str(r) for r in got.collect())
            == sorted(str(r) for r in want.collect()))


def test_content_key_stability():
    assert content_key("a", 1, [2, 3]) == content_key("a", 1, [2, 3])
    assert content_key("a", 1) != content_key("a", 2)


def test_pipeline_cse_keeps_distinct_same_named_stages(spark, sf_dir):
    """Stages sharing name+params but different computations must BOTH
    survive (CSE merges value-equal producers only)."""
    from pyspark.sql import functions as F2

    from dagli_spark.pipeline import Pipeline, Stage, identity_stage

    s1 = Stage("scale", lambda df: df.withColumn("x", F2.col("x") * 2))
    s2 = Stage("scale", lambda df: df.withColumn("x", F2.col("x") + 1))
    p = Pipeline([s1, identity_stage(), s2, s1])
    assert len(p.stages) == 3          # identity removed, EVERY repeat runs
    df = spark.createDataFrame([(3,)], "x int")
    assert p.fit_transform(df)[1].first()["x"] == 14   # ((3*2)+1)*2


def test_pipeline_composes_fitted_stage(spark):
    """A FittedStage from a loaded model composes with fresh stages
    (round-2 review fix: construction used to crash on non-Stage types)."""
    from pyspark.sql import functions as F2

    from dagli_spark.pipeline import FittedStage, Pipeline, Stage

    fitted = FittedStage("add_k", lambda st, df: df.withColumn("x", F2.col("x") + st), 10)
    p = Pipeline([fitted, Stage("double", lambda df: df.withColumn("x", F2.col("x") * 2))])
    df = spark.createDataFrame([(1,)], "x int")
    assert p.fit_transform(df)[1].first()["x"] == 22   # (1+10)*2


def test_checkpoint_invalidated_when_input_rewritten(spark, tmp_path):
    """Rewriting input data at the SAME path must change the stage key
    (path-only keys would resume from stale outputs)."""
    from dagli_spark.checkpoint import content_key, input_signature

    import time as _time

    p = tmp_path / "data"
    p.mkdir()
    (p / "part-0.parquet").write_bytes(b"aaaa")
    k1 = content_key("stage", str(p), input_signature(str(p)))
    _time.sleep(1.1)
    (p / "part-0.parquet").write_bytes(b"bbbbbb")
    k2 = content_key("stage", str(p), input_signature(str(p)))
    assert k1 != k2


def test_asof_requires_bucket_width(spark, sf_dir):
    import pytest as _pytest

    from dagli_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.select("user_id", F.col("ts").alias("asof_time"))
    e = ev.select("user_id", "ts", F.col("value").alias("v"))
    with _pytest.raises(ValueError, match="bucket_width"):
        asof_join(q, e, on="user_id", left_time="asof_time",
                  right_time="ts", values=["v"], time_buckets=8)


def test_input_signature_sees_partition_dirs(tmp_path):
    """Hive-style partition dirs (they contain '='), including the iceberg
    fallback's '__p_<col>_bucket=N' layout, must contribute to the
    signature: pruning them yielded an EMPTY signature, so a rewrite at the
    same path no longer invalidated the checkpoint — the exact stale-resume
    input_signature exists to prevent."""
    import time as _time

    from dagli_spark.checkpoint import input_signature

    root = tmp_path / "tbl"
    part = root / "__p_user_bucket=3"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"AAA")
    (root / "_SUCCESS").write_bytes(b"")
    sig1 = input_signature(str(root))
    assert len(sig1) == 1  # the partition-dir data file is seen
    _time.sleep(0.01)
    (part / "part-0.parquet").write_bytes(b"BBBB")
    sig2 = input_signature(str(root))
    assert sig2 != sig1
    # metadata markers still excluded: adding one (data files untouched)
    # must leave the signature unchanged
    (root / "_dagli_schema.json").write_bytes(b"{}")
    assert input_signature(str(root)) == sig2
