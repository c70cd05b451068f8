"""Source/reader mappings (SURVEY.md §2.1) — the reference's objectio
family re-expressed on Spark's readers. Each function documents which
reference reader it covers; formats the environment lacks (Avro, Kryo)
are gated with a clear error instead of a stub import.

| reference | here |
|---|---|
| DSVReader (data/.../dsv/DSVReader.java:28-49) | :func:`dsv_reader` |
| AvroReader (objectio-avro/.../AvroReader.java:29) | :func:`avro_reader` |
| MultiplexedReader (objectio-core/.../MultiplexedReader.java:11-13) | :func:`multiplexed_union` |
| ConcatenatedReader (objectio-core/.../ConcatenatedReader.java:8-12) | :func:`concat_columns` |
| SampleReader/SampleSegment (objectio-core/.../SampleReader.java:8-11) | :func:`sample_reader` |
| LazyShuffledBufferReader (objectio-core/.../LazyShuffledBufferReader.java:9-14) | :func:`shuffled_reader` |
| LazyMapped/Filtered/FlatMappedReader | select / where / explode (Spark lazy plans are the exact analogue) |
| KryoFileReader / BigListReader (spill & cache) | df.persist(DISK_ONLY) / df.cache() + dagli_spark.checkpoint |

Engine Parquet goes through :func:`parquet_reader`, which takes the schema
from the files' footers on the driver instead of running Spark's
single-task schema-inference job per read.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dagli_spark.functions.rand import sample_segment, shuffle_key

# Footers read on the driver per table; a table of more files falls back
# to Spark's inference (one job, paid against a large input).
MAX_FOOTERS = 256
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
# the Parquet confs under whose defaults the Arrow mapping equals Spark's
_SCHEMA_CONFS = {"spark.sql.parquet.binaryAsString": "false",
                 "spark.sql.parquet.int96AsTimestamp": "true",
                 "spark.sql.parquet.inferTimestampNTZ.enabled": "true"}


class _NoMapping(Exception):
    """A footer type whose Spark mapping this module does not reproduce."""


def parquet_reader(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema Spark would infer,
    taken from the footers on the driver (:func:`footer_schema`) — no
    inference job. Non-local paths, Hive-partitioned or nested
    directories, tables of more than ``MAX_FOOTERS`` files and footers
    that disagree fall back to Spark's own inference."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, from pyarrow reads
    of the footers, or None where that cannot be reproduced.

    Spark-written files carry their StructType as JSON under
    ``org.apache.spark.sql.parquet.row.metadata``, which Spark's inference
    reads first. Other files go through ``from_arrow_schema`` with each
    timestamp mapped by its Parquet column: ``isAdjustedToUTC`` (and
    INT96, which Spark reads as adjusted) gives TimestampType, otherwise
    TimestampNTZType. Neither plain mapping alone is right: Arrow's
    zone-less default misreads pyarrow's NTZ columns, and
    ``prefer_timestamp_ntz`` misreads INT96."""
    files = _local_data_files(spark, path)
    if not files:
        return None
    import pyarrow.parquet as pq

    try:
        metas = [pq.read_metadata(f) for f in files]
        if any(_SPARK_SCHEMA not in (m.metadata or {}) for m in metas) and any(
                spark.conf.get(k, v).lower() != v for k, v in _SCHEMA_CONFS.items()):
            return None
        schemas = {_schema_json(m) for m in metas}
    except (_NoMapping, OSError, ValueError):
        return None
    return StructType.fromJson(_nullable(json.loads(schemas.pop()))) \
        if len(schemas) == 1 else None


def _nullable(schema_json):
    """A schema JSON with every field and element nullable, as Spark makes
    any file source's schema."""
    if isinstance(schema_json, dict):
        return {k: True if k in ("nullable", "containsNull", "valueContainsNull")
                else v if k == "metadata" else _nullable(v)
                for k, v in schema_json.items()}
    if isinstance(schema_json, list):
        return [_nullable(v) for v in schema_json]
    return schema_json


def footer_rows(df: DataFrame) -> int | None:
    """Summed footer ``num_rows`` of the Parquet files ``df`` scans when
    ``df`` is a bare file scan — Project and Filter nodes over one local
    Parquet file relation of at most ``MAX_FOOTERS`` files — so an upper
    bound on ``df.count()``; None for any other plan."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().apply(0)
    if node.nodeName() != "LogicalRelation":
        return None
    relation = node.relation()
    if (relation.getClass().getSimpleName() != "HadoopFsRelation"
            or relation.fileFormat().shortName() != "parquet"
            or relation.partitionSchema().size()):
        return None
    uris = list(relation.location().inputFiles())  # qualified URIs
    if len(uris) > MAX_FOOTERS \
            or any(urlparse(u).scheme != "file" for u in uris):
        return None
    import pyarrow.parquet as pq

    try:
        return sum(pq.read_metadata(unquote(urlparse(u).path)).num_rows
                   for u in uris)
    except (OSError, ValueError):
        return None


def _local_fs(spark: SparkSession) -> bool:
    """Does a scheme-less path name the driver's own filesystem?"""
    default = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
    return urlparse(default or "file:///").scheme == "file"


def _local_data_files(spark: SparkSession, path: str) -> list[str] | None:
    """The files Spark's listing would scan under ``path``: the file
    itself, or a flat directory's entries that do not start with ``_`` or
    ``.``. None for a non-local path, a directory with subdirectories
    (Hive partitions carry typed partition columns) or Parquet summary
    files, or more than ``MAX_FOOTERS`` files."""
    url = urlparse(path)
    if url.scheme == "file":
        path = unquote(url.path)
    elif url.scheme or not _local_fs(spark):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in os.scandir(path):
        name = entry.name
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
            continue
        if not entry.is_file():
            return None
        files.append(entry.path)
    return sorted(files) if len(files) <= MAX_FOOTERS else None


def _schema_json(meta) -> str:
    """One footer's Spark schema as JSON (see :func:`footer_schema`)."""
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA)
    if spark_json is not None:
        return spark_json.decode()
    from pyspark.sql.pandas.types import from_arrow_schema
    import pyarrow as pa

    leaves = iter(meta.schema.column(i) for i in range(len(meta.schema)))
    arrow = meta.schema.to_arrow_schema()
    zoned = pa.schema([f.with_type(_zoned(f.type, leaves)) for f in arrow])
    return from_arrow_schema(zoned, prefer_timestamp_ntz=True).json()


def _zoned(at, leaves):
    """``at`` with each timestamp leaf zoned (UTC) or zone-less by its
    Parquet column, consuming ``leaves`` (the footer's leaf columns, in
    the depth-first order Arrow's leaves follow). Raises :class:`_NoMapping`
    for a type whose Spark mapping differs from ``from_arrow_type``'s
    (unsigned ints, nanosecond timestamps, times, dictionaries, ...)."""
    import pyarrow as pa
    import pyarrow.types as t

    if t.is_struct(at):
        return pa.struct([f.with_type(_zoned(f.type, leaves)) for f in at])
    if t.is_list(at) or t.is_large_list(at):
        return pa.list_(at.value_field.with_type(_zoned(at.value_type, leaves)))
    if t.is_map(at):
        key = _zoned(at.key_type, leaves)
        return pa.map_(key, at.item_field.with_type(_zoned(at.item_type, leaves)))
    col = next(leaves)
    if t.is_timestamp(at):
        if col.physical_type == "INT96":
            return pa.timestamp("us", "UTC")
        logical = json.loads(col.logical_type.to_json())
        if logical.get("timeUnit") not in ("milliseconds", "microseconds"):
            raise _NoMapping(f"timestamp unit of {col.path}")
        return pa.timestamp("us", "UTC" if logical["isAdjustedToUTC"] else None)
    plain = (t.is_boolean, t.is_signed_integer, t.is_float32, t.is_float64,
             t.is_string, t.is_large_string, t.is_binary, t.is_large_binary,
             t.is_date32, t.is_decimal128)
    if any(is_type(at) for is_type in plain):
        return at
    raise _NoMapping(f"{at} at {col.path}")


def dsv_reader(
    spark: SparkSession, path: str, *, schema: str | None = None,
    delimiter: str = ",", header: bool = True,
) -> DataFrame:
    """CSV/TSV with explicit schema (the reference's RowSchema is mandatory
    typing; schema inference is opt-in only for exploration)."""
    reader = spark.read.option("delimiter", delimiter).option("header", header)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def avro_reader(spark: SparkSession, path: str) -> DataFrame:
    """Avro container files. Requires the spark-avro package on the
    classpath (not bundled in this sandbox)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "spark-avro is not on the classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        ) from e


def avro_writer(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Avro sink (objectio-avro/.../AvroWriter); same classpath gate as
    :func:`avro_reader`."""
    try:
        df.write.mode(mode).format("avro").save(path)
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "spark-avro is not on the classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        ) from e


def multiplexed_union(*dfs: DataFrame) -> DataFrame:
    """Round-robin union of readers -> unordered unionAll (row order is
    never load-bearing in this engine, §1.4)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def concat_columns(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Zip readers into tuples — row alignment by explicit key (positional
    zip does not survive distribution; the key IS the example identity)."""
    on = [on] if isinstance(on, str) else list(on)
    return left.join(right, on, "inner")


def sample_reader(df: DataFrame, key, lo: float, hi: float, *, seed: int = 0) -> DataFrame:
    """Deterministic [lo, hi) segment sample by hashed key."""
    return df.where(sample_segment(key, lo, hi, seed))


def shuffled_reader(df: DataFrame, key, *, seed: int = 0) -> DataFrame:
    """Full deterministic shuffle (stronger than the reference's partial
    K-buffer shuffle): order by a seeded hash of the key, with the key
    itself as tiebreak — a hash collision (or duplicate key) must not
    leave relative order to the partition layout."""
    k = F.col(key) if isinstance(key, str) else key
    return df.orderBy(shuffle_key(key, seed), k)


def stratified_sample(
    df: DataFrame, label_col: str, fractions: dict, key, *,
    seed: int = 0, method: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-class sampling (class rebalancing for training-data
    pipelines): keep a row iff hash(key) falls under its label's fraction.

    Unlike ``df.sampleBy`` (RNG per partition, result depends on partition
    layout) this is a pure function of (seed, key) — partition-count
    invariant (§1.4), reproducible across runs, and a plain filter: it
    pushes into the scan, no shuffle. ``method='lcg'`` uses the portable
    Knuth multiplicative hash so an ANSI-SQL oracle can reproduce it
    exactly; 'xxhash64' is the engine default.
    """
    k = F.col(key) if isinstance(key, str) else key
    if method == "xxhash64":
        u = (F.pmod(F.xxhash64(k, F.lit(seed)), F.lit(1 << 32))
             / F.lit(float(1 << 32)))
    elif method == "lcg":
        from dagli_spark.functions.rand import random_double_lcg

        # one definition of the portable uniform (oracle parity depends on
        # the exact formula — a hand-copied twin would drift)
        u = random_double_lcg(k, seed)
    else:
        raise ValueError(method)
    frac = None
    for label, f in sorted(fractions.items()):
        cond = F.col(label_col) == F.lit(label)
        frac = F.when(cond, F.lit(float(f))) if frac is None \
            else frac.when(cond, F.lit(float(f)))
    frac = frac.otherwise(F.lit(0.0))
    return df.where(u < frac)
