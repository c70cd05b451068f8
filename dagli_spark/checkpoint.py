"""Checkpoint/resume with per-partition lineage and metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's analogue is LocalStorage spill of
intermediate node values (core/.../dag/LocalStorage.java:12-45) plus the
prepared DAG's serializability; on Spark the natural unit is a **stage
output table**: parquet keyed by a content hash of
(stage name, params, upstream key), so re-running a pipeline skips every
stage whose inputs and definition are unchanged — the Iceberg-snapshot
pattern in plain parquet.

Every checkpoint write also records lineage: the input files that fed it,
per-partition row counts, and wall time — appended to ``metrics.jsonl``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagli_spark.sources.readers import parquet_reader


def content_key(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def input_signature(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every data file under ``path``
    (recursive — partitioned datasets nest like fmt=png/d=1/part-*.parquet
    and a top-level-only listing would miss leaf rewrites), or of the file
    itself for a plain-file input. Folded into the checkpoint key so data
    REWRITTEN at the same path invalidates the checkpoint (a path-only key
    would resume from stale outputs); nanosecond mtimes avoid the
    same-second blind spot. On Iceberg this role is played by the snapshot
    id."""
    if not os.path.isdir(path):
        if os.path.isfile(path):
            st = os.stat(path)
            return (path, st.st_size, st.st_mtime_ns)
        return (path,)
    out = []
    for root, dirs, files in os.walk(path):
        # Prune hidden/metadata dirs — but NEVER Hive-style partition dirs
        # (they contain '='): iceberg.write_table's parquet fallback names
        # partitions '__p_<col>_bucket=N', and pruning those would yield an
        # empty signature, so a rewrite at the same path would no longer
        # invalidate the checkpoint (the exact stale-resume this function
        # exists to prevent).
        dirs[:] = sorted(
            d for d in dirs if "=" in d or not d.startswith((".", "_"))
        )
        for fn in sorted(files):
            if fn.startswith(("_", ".")):
                continue
            full = os.path.join(root, fn)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size,
                        st.st_mtime_ns))
    return tuple(out)


class Checkpointer:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._metrics_path = os.path.join(root, "metrics.jsonl")

    def _dir(self, name: str, key: str) -> str:
        return os.path.join(self.root, f"{name}_{key}")

    def has(self, name: str, key: str) -> bool:
        return os.path.exists(os.path.join(self._dir(name, key), "_SUCCESS"))

    def stage(self, spark: SparkSession, name: str, key: str,
              build: "callable") -> DataFrame:
        """Return the stage output, computing + persisting it only if this
        (name, key) has never completed. ``build()`` is called lazily."""
        path = self._dir(name, key)
        if self.has(name, key):
            self._log({"stage": name, "key": key, "event": "resume_hit",
                       "path": path, "ts": time.time()})
            return parquet_reader(spark, path)
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        out = parquet_reader(spark, path)
        # per-partition lineage + row counts (spark_partition_id of the
        # written table's read-back layout) — cheap second pass over footer
        # metadata + a count by partition.
        part_counts = [
            {"partition": int(r["pid"]), "rows": int(r["rows"])}
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
                        .agg(F.count(F.lit(1)).alias("rows")).collect()
        ]
        files = sorted(
            fn for fn in os.listdir(path) if fn.endswith(".parquet")
        )
        self._log({
            "stage": name, "key": key, "event": "computed", "path": path,
            "wall_sec": round(time.time() - t0, 3),
            "rows": sum(p["rows"] for p in part_counts),
            "partitions": part_counts, "files": files, "ts": time.time(),
        })
        return out

    def _log(self, rec: dict) -> None:
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]


def checkpointed_northrule(
    spark: SparkSession, paths: dict[str, str], ckpt_root: str, *,
    seed_key: str = "v1", **opts,
) -> DataFrame:
    """The north-rule pipeline cut into resumable stages:
    (1) event_features (the expensive decode+window pass) and
    (2) the as-of join + assembly. Killing the job between stages and
    re-running resumes from the stage-1 parquet. ``opts`` are
    :func:`~dagli_spark.northrule.build_features`'s options, each passed
    to the stage it configures; an unknown one raises TypeError."""
    import inspect

    from dagli_spark.northrule import asof_features, assemble_vector, event_features

    def kwonly(fn):
        return {n for n, p in inspect.signature(fn).parameters.items()
                if p.kind is p.KEYWORD_ONLY}

    ev_opts, asof_opts = kwonly(event_features), kwonly(asof_features)
    unknown = sorted(set(opts) - ev_opts - asof_opts)
    if unknown:
        raise TypeError(f"checkpointed_northrule got unknown options {unknown}")

    ck = Checkpointer(ckpt_root)
    k1 = content_key("event_features", seed_key, paths["images"],
                     input_signature(paths["images"]),
                     paths["image_events"],
                     input_signature(paths["image_events"]),
                     sorted(opts.items()))

    def build_feats():
        return event_features(
            parquet_reader(spark, paths["image_events"]),
            parquet_reader(spark, paths["images"]),
            **{k: v for k, v in opts.items() if k in ev_opts},
        )

    feats = ck.stage(spark, "event_features", k1, build_feats)

    k2 = content_key("asof", k1, paths["queries"],
                     input_signature(paths["queries"]), sorted(opts.items()))

    def build_out():
        out = asof_features(
            parquet_reader(spark, paths["queries"]), feats,
            **{k: v for k, v in opts.items() if k in asof_opts},
        )
        return assemble_vector(out)

    return ck.stage(spark, "asof_assemble", k2, build_out)
