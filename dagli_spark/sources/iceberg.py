"""Iceberg table integration (north-rule storage layer), gated on runtime
availability with a parquet fallback.

The north rule targets "Iceberg tables of image + caption pairs"; this
sandbox ships no iceberg-spark runtime jar (re-probed round 5: full-disk
``find`` for ``*iceberg*`` jars — none; no package network), so the module
degrades to plain parquet paths while keeping the table-level API (and the
design) identical:

- **Snapshot checkpoints** — ``Checkpointer`` (dagli_spark.checkpoint) keys
  stage outputs by content hash; on Iceberg the same key becomes a snapshot
  tag (``table.snapshot_id``) and resume = time-travel read
  (``spark.read.option("snapshot-id", ...)``).
- **Partition layout** — feature tables are written partitioned by
  ``bucket(entity_id, N)`` (or ``days(event_time)`` for event history) so
  the as-of join's shuffle aligns with the table layout; with Iceberg's
  hidden partitioning + storage-partitioned joins (Spark 3.4+/4.x SPJ,
  ``spark.sql.sources.v2.bucketing.enabled``) the union+LOCF sort-merge
  reads both sides pre-partitioned and skips the exchange entirely.
- **Column pruning** — the fat ``bytes`` column lives in the same table;
  Iceberg/Parquet column projection means scans that do not decode never
  read it (verified by tests/test_plans_skew_sources.py).

To enable on a real cluster::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
        --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.lake.type=hadoop \
        --conf spark.sql.catalog.lake.warehouse=<warehouse-uri> ...
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dagli_spark.sources.readers import parquet_reader


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog class is on the JVM classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def catalog_ready(spark: SparkSession, identifier: str) -> bool:
    """True iff writing ``identifier`` through Iceberg can actually work:
    the runtime class is present AND the identifier's catalog has a
    ``spark.sql.catalog.<name>`` configuration. A classpath-only gate
    (common on cluster images that bundle the jar but configure no
    catalog) would raise AnalysisException instead of falling back."""
    if identifier.startswith("/") or "." not in identifier:
        return False
    if not iceberg_available(spark):
        return False
    cat = identifier.split(".")[0]
    try:
        return spark.conf.get(f"spark.sql.catalog.{cat}", None) is not None
    except Exception:
        return False


def catalog_conf(catalog: str, warehouse: str) -> dict[str, str]:
    """The spark-submit --conf pairs for a Hadoop-type Iceberg catalog."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        # storage-partitioned joins: co-located as-of join without exchange
        "spark.sql.sources.v2.bucketing.enabled": "true",
    }


def _fallback_path(identifier: str) -> str:
    """One mapping for BOTH write and read fallbacks: absolute paths are
    used as-is, dotted table identifiers go under /tmp/dagli_spark_tables
    (an asymmetric mapping would break write/read round trips)."""
    if identifier.startswith("/"):
        return identifier
    return "/tmp/dagli_spark_tables/" + identifier.replace(".", "/")


_TRANSFORM_RE = None  # compiled lazily


def _parse_partition(entry: str):
    """A partition_by entry: a plain column name (identity), or the
    Iceberg hidden-partition transforms 'bucket(N, col)' / 'days(col)' the
    module docstring's layout design uses."""
    import re

    m = re.fullmatch(r"bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)", entry)
    if m:
        return ("bucket", int(m.group(1)), m.group(2))
    m = re.fullmatch(r"days\(\s*(\w+)\s*\)", entry)
    if m:
        return ("days", m.group(1))
    return ("identity", entry)


def write_table(
    df: DataFrame, identifier: str, *,
    partition_by: list[str] | None = None, mode: str = "overwrite",
) -> str:
    """Write to an Iceberg table when a catalog is actually configured
    (:func:`catalog_ready`), else to a parquet directory named by
    ``identifier`` (dots -> path separators). ``partition_by`` entries are
    column names or the transforms 'bucket(N, col)' / 'days(col)' — on
    Iceberg these map to hidden partitioning (F.bucket/F.days); the
    fallback materializes them as extra ``__p_*`` columns (documented in
    the read-back schema). The fallback also writes a schema sidecar so
    the read path restores exact column types (parquet partition-column
    type inference would otherwise turn a '01' string key into int 1).
    Returns the storage identifier actually used."""
    import json

    from pyspark.sql import functions as F

    spark = df.sparkSession
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    parts = [_parse_partition(p) for p in (partition_by or [])]
    if catalog_ready(spark, identifier):
        w = df.writeTo(identifier)
        if parts:
            cols = []
            for p in parts:
                if p[0] == "bucket":
                    cols.append(F.bucket(p[1], F.col(p[2])))
                elif p[0] == "days":
                    cols.append(F.days(F.col(p[1])))
                else:
                    cols.append(F.col(p[1]))
            w = w.partitionedBy(*cols)
        (w.createOrReplace() if mode == "overwrite" else w.append())
        return identifier
    path = _fallback_path(identifier)
    out_df, part_cols = df, []
    for p in parts:
        if p[0] == "bucket":
            name = f"__p_{p[2]}_bucket"
            out_df = out_df.withColumn(
                name, F.pmod(F.xxhash64(F.col(p[2])), F.lit(p[1])))
        elif p[0] == "days":
            name = f"__p_{p[1]}_day"
            out_df = out_df.withColumn(name, F.to_date(F.col(p[1])))
        else:
            name = p[1]
        part_cols.append(name)
    w = out_df.write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(path)
    with open(os.path.join(path, "_dagli_schema.json"), "w") as f:
        f.write(json.dumps({"schema": out_df.schema.jsonValue()}))
    return path


def read_table(spark: SparkSession, identifier: str, *,
               snapshot_id: int | None = None) -> DataFrame:
    """Read an Iceberg table (optionally at a snapshot — the resume path),
    or the parquet fallback written by :func:`write_table` (applying the
    schema sidecar so partition-column types survive the round trip)."""
    import json

    from pyspark.sql.types import StructType

    if catalog_ready(spark, identifier):
        r = spark.read
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.table(identifier)
    if snapshot_id is not None:
        raise NotImplementedError(
            "snapshot time-travel requires the Iceberg runtime; the parquet "
            "fallback exposes content-keyed checkpoints instead "
            "(dagli_spark.checkpoint.Checkpointer)")
    path = _fallback_path(identifier)
    sidecar = os.path.join(path, "_dagli_schema.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            schema = StructType.fromJson(json.load(f)["schema"])
        return spark.read.schema(schema).parquet(path)
    return parquet_reader(spark, path)
