"""The footer-schema Parquet reader (sources/readers.parquet_reader): its
schema must be the one Spark's inference job would give, for every table
the engine reads; where it cannot know that schema it must fall back to
the inference. And the footer row count behind the hot-entity short
circuit."""

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dagli_spark.checkpoint import Checkpointer
from dagli_spark.fixtures import SCALES, fixture_root, materialize
from dagli_spark.sources.readers import (
    footer_rows,
    footer_schema,
    parquet_reader,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_TABLES = sorted(glob.glob(os.path.join(ROOT, "perfbench", "data", "sf0.01",
                                             "*.parquet")))


def _same_as_inference(spark, path):
    got = footer_schema(spark, path)
    assert got is not None, f"{path}: fell back to inference"
    assert got == spark.read.parquet(path).schema
    assert parquet_reader(spark, path).schema == got


@pytest.mark.parametrize("path", BENCH_TABLES, ids=os.path.basename)
def test_benchmark_tables(spark, path):
    _same_as_inference(spark, path)


def test_every_fixture_tier_present(spark):
    materialize(spark, "smoke")
    tiers = [s for s in SCALES if os.path.isdir(fixture_root(s))]
    assert "smoke" in tiers
    for tier in tiers:
        for table in ("images", "image_events", "queries"):
            _same_as_inference(spark, os.path.join(fixture_root(tier), table))


def test_checkpoint_stage_output(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id"), F.col("id").cast("string").alias("s"),
        F.array(F.col("id").cast("double")).alias("arr"),
        F.struct(F.col("id").alias("a")).alias("st"),
        F.timestamp_seconds(F.col("id")).alias("ts"))
    ck = Checkpointer(str(tmp_path / "ck"))
    ck.stage(spark, "st", "k", lambda: df)
    _same_as_inference(spark, str(tmp_path / "ck" / "st_k"))


def test_timestamp_mappings(spark, tmp_path):
    """The 3 testdata NTZ columns and the 2 Spark-written INT96 inputs are
    each wrong under one of the two plain Arrow mappings: Spark-written
    INT96 must read as TimestampType, pyarrow's zone-less timestamps as
    TimestampNTZType, also nested, and an INT96 file without Spark's
    schema JSON still counts as adjusted to UTC."""
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    spark_dir = str(tmp_path / "spark_int96")
    spark.createDataFrame([(ts,)], "t timestamp").write.parquet(spark_dir)
    part = sorted(glob.glob(f"{spark_dir}/*.parquet"))[0]
    assert pq.read_metadata(part).schema.column(0).physical_type == "INT96"
    _same_as_inference(spark, spark_dir)
    assert footer_schema(spark, spark_dir)["t"].dataType == T.TimestampType()

    table = pa.table({
        "ntz": pa.array([ts], pa.timestamp("us")),
        "utc": pa.array([ts], pa.timestamp("us", "UTC")),
        "ms": pa.array([ts], pa.timestamp("ms")),
        "nested": pa.array([[ts]], pa.list_(pa.timestamp("us"))),
        "m": pa.array([[("k", ts)]], pa.map_(pa.string(), pa.timestamp("us"))),
        "st": pa.array([{"x": 1, "t": ts}],
                       pa.struct([("x", pa.int32()), ("t", pa.timestamp("us", "UTC"))])),
    })
    arrow_file = str(tmp_path / "arrow.parquet")
    pq.write_table(table, arrow_file)
    _same_as_inference(spark, arrow_file)
    got = footer_schema(spark, arrow_file)
    assert got["ntz"].dataType == T.TimestampNTZType()
    assert got["utc"].dataType == T.TimestampType()
    assert got["nested"].dataType.elementType == T.TimestampNTZType()
    assert got["m"].dataType.valueType == T.TimestampNTZType()

    int96_file = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": pa.array([ts], pa.timestamp("us"))}), int96_file,
                   use_deprecated_int96_timestamps=True)
    assert pq.read_metadata(int96_file).schema.column(0).physical_type == "INT96"
    _same_as_inference(spark, int96_file)


def test_fallbacks(spark, tmp_path):
    """Hive-partitioned directories (typed partition columns), non-local
    URIs, types whose Spark mapping differs from Arrow's, and files that
    disagree go to Spark's inference."""
    hive = str(tmp_path / "hive")
    spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(hive)
    assert footer_schema(spark, hive) is None
    assert parquet_reader(spark, hive).schema == spark.read.parquet(hive).schema

    for uri in ("hdfs://namenode:8020/data/t", "s3a://bucket/t.parquet"):
        assert footer_schema(spark, uri) is None

    unsigned = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), unsigned)
    assert footer_schema(spark, unsigned) is None

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(mixed / "a.parquet"))
    pq.write_table(pa.table({"b": ["x"]}), str(mixed / "b.parquet"))
    assert footer_schema(spark, str(mixed)) is None

    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"a": [1], "b": [b"x"]}), plain)
    _same_as_inference(spark, "file://" + plain)  # a local URI is local
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:  # a conf that changes Spark's mapping of non-Spark files
        assert footer_schema(spark, plain) is None
        assert parquet_reader(spark, plain).schema["b"].dataType == T.StringType()
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_footer_rows_bare_scans_only(spark):
    paths = materialize(spark, "smoke")
    events = parquet_reader(spark, paths["image_events"])
    n = events.count()
    assert footer_rows(events) == n
    assert footer_rows(events.where(F.col("label") > 0).select("entity_id")) == n
    assert footer_rows(events.unionByName(events)) is None
    assert footer_rows(events.groupBy("entity_id").count()) is None
    assert footer_rows(events.join(events.select("entity_id").distinct(),
                                   "entity_id")) is None
    assert footer_rows(spark.range(3)) is None
