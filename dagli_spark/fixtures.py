"""Deterministic synthetic fixtures for the north-rule input table.

Generates the BASELINE.json input_hint shape —
``images(image_id, bytes, w, h, fmt, caption, phash)`` plus the as-of-join
sides ``image_events(entity_id, image_id, event_time, label)`` and
``queries(entity_id, asof_time)`` — per FIXTURES.md. Every value is a pure
function of ``splitmix64(seed, key)``, so the tables are bit-identical at
any partition count / parallelism level (the reference's
executor-equivalence property, /root/reference/core/src/test/java/com/linkedin/dagli/dag/DAGTest.java:45-97).

Generation is distributed (mapInPandas over spark.range) and cached as
parquet under a content-keyed directory; no external data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagli_spark.features.image_features import _decode_one
from dagli_spark.images.codec import encode_image
from dagli_spark.sources.readers import parquet_reader

_SM = np.uint64(0x9E3779B97F4A7C15)

VOCAB = [
    "amber", "anchor", "basket", "beacon", "bridge", "candle", "canyon",
    "cedar", "circle", "cloud", "copper", "coral", "crystal", "delta",
    "drift", "ember", "fable", "falcon", "feather", "fjord", "garden",
    "glacier", "grove", "harbor", "hazel", "horizon", "island", "jasper",
    "juniper", "lagoon", "lantern", "ledge", "linden", "marble", "meadow",
    "mesa", "mirror", "mosaic", "moss", "needle", "north", "ocean",
    "opal", "orchard", "pebble", "pine", "prism", "quarry", "quill",
    "raven", "reef", "ridge", "river", "saddle", "shadow", "signal",
    "slate", "spruce", "summit", "thicket", "timber", "tundra", "violet",
    "willow",
]
assert len(VOCAB) == 64

HOT_ENTITIES = 4
HOT_SHARE = 0.20
SESSION_GAP_S = 30 * 60
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in epoch micros


def _mix(*keys) -> np.ndarray:
    """Vectorized splitmix64 over combined integer keys (arrays or ints).
    uint64 wraparound is the algorithm — numpy's scalar path raises a
    RuntimeWarning for it (the array path doesn't), so silence it here
    rather than spam every executor log."""
    with np.errstate(over="ignore"):
        z = np.uint64(0)
        for k in keys:
            z = np.bitwise_xor(z, np.asarray(k, dtype=np.uint64))
            z = (z + _SM)
            z = np.bitwise_xor(z, z >> np.uint64(30)) * np.uint64(0xBF58476D1CE4E5B9)
            z = np.bitwise_xor(z, z >> np.uint64(27)) * np.uint64(0x94D049BB133111EB)
            z = np.bitwise_xor(z, z >> np.uint64(31))
        return z


def _u01(*keys) -> np.ndarray:
    return _mix(*keys).astype(np.float64) / float(2**64)


# --------------------------------------------------------------- images

def _make_pixels(seed: int, i: int, w: int, h: int) -> np.ndarray:
    """4x4-tile gradient + noise pattern, pure function of (seed, i)."""
    p = _mix(seed, 1000 + i, np.arange(16))  # 16 tile params
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    ty = (yy * 4 / h).astype(np.int64).clip(0, 3)
    tx = (xx * 4 / w).astype(np.int64).clip(0, 3)
    tile = (ty * 4 + tx)
    base = (p.astype(np.float64) / 2**64 * 200)[tile]  # per-tile base level
    gx = _u01(seed, 2000 + i) * 2 - 1
    gy = _u01(seed, 3000 + i) * 2 - 1
    grad = (gx * xx / w + gy * yy / h) * 80
    chan_off = (_u01(seed, 4000 + i + np.arange(3) * 7919) * 56)
    noise_key = _mix(seed, 5000 + i, (yy * w + xx).astype(np.uint64))
    noise = (noise_key.astype(np.float64) / 2**64 - 0.5) * 20
    img = base[..., None] + grad[..., None] + noise[..., None] + chan_off[None, None, :]
    return np.clip(img, 0, 255).astype(np.uint8)


_SIZES = np.array([32, 64, 128])


def _gen_image_rows(seed: int, ids: np.ndarray) -> pd.DataFrame:
    rows = []
    ws = _SIZES[(_mix(seed, 10, ids) % np.uint64(3)).astype(np.int64)]
    hs = _SIZES[(_mix(seed, 11, ids) % np.uint64(3)).astype(np.int64)]
    fmt_png = _u01(seed, 12, ids) < 0.8
    n_words = 3 + (_mix(seed, 13, ids) % np.uint64(10)).astype(np.int64)
    for j, i in enumerate(ids):
        i = int(i)
        arr = _make_pixels(seed, i, int(ws[j]), int(hs[j]))
        fmt = "png" if fmt_png[j] else "jpeg"
        data = encode_image(arr, fmt, quality=90)
        # phash AND pixel stats of the DECODED bytes (lossy path included)
        # so features are verifiable from the bytes column alone
        # (FIXTURES.md §1): stored via the single-image oracle path
        # (features/image_features._decode_one); the pipeline recomputes
        # them from ``bytes`` through the batched Arrow kernel, so a
        # DuckDB oracle reading the stored columns checks the full
        # decode+reduction round trip end to end.
        mr, mg, mb, std, bright, edge, ph = _decode_one(data)
        widx = (_mix(seed, 14, i, np.arange(int(n_words[j]))) % np.uint64(64)).astype(np.int64)
        caption = " ".join(VOCAB[k] for k in widx)
        rows.append((f"img_{i:012d}", data, int(ws[j]), int(hs[j]), fmt,
                     caption, ph, mr, mg, mb, std, bright, edge))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption",
                       "phash", "px_mean_r", "px_mean_g", "px_mean_b",
                       "px_std", "px_brightness", "px_edge_energy"]
    )


IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "caption string, phash long, px_mean_r double, "
                 "px_mean_g double, px_mean_b double, px_std double, "
                 "px_brightness double, px_edge_energy double")


def generate_images(spark: SparkSession, n: int, *, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    parts = partitions or max(8, min(256, n // 500))

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _gen_image_rows(seed, pdf["id"].to_numpy())

    return (
        spark.range(0, n, numPartitions=parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


# --------------------------------------------------------------- events

def _entity_event_count(seed: int, k: int, n_entities: int, n_events: int) -> int:
    if k < HOT_ENTITIES:
        return max(1, int(n_events * HOT_SHARE / HOT_ENTITIES))
    rest = n_events * (1 - HOT_SHARE) / max(1, n_entities - HOT_ENTITIES)
    jitter = 0.5 + _u01(seed, 20, k)  # 0.5x..1.5x
    return max(1, int(rest * jitter))


def _entity_times_us(seed: int, k: int, cnt: int) -> np.ndarray:
    """Event times: gaps 1-10 min in-session (80%), 2-48 h between
    sessions (20%); ~1% duplicated timestamps to pin tiebreaks."""
    u = _u01(seed, 21, k, np.arange(cnt))
    in_sess = _u01(seed, 22, k, np.arange(cnt)) < 0.8
    gaps = np.where(
        in_sess,
        (60 + u * 540) * 1e6,                   # 1-10 min
        (2 * 3600 + u * 46 * 3600) * 1e6,       # 2-48 h
    ).astype(np.int64)
    dup = _u01(seed, 23, k, np.arange(cnt)) < 0.01
    gaps = np.where(dup, 0, gaps)
    start = np.int64(T0_US + (_u01(seed, 24, k) * 86400e6))
    return start + np.cumsum(gaps)


EVENTS_SCHEMA = "entity_id string, image_idx long, event_time_us long, noise double, eseq long"
QUERIES_SCHEMA = "entity_id string, asof_time_us long, qseq long"


def generate_events_and_queries(
    spark: SparkSession, images: DataFrame, n_images: int, n_entities: int,
    n_events: int, n_queries: int, *, seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Events carry (entity, image FK, time, hash-noise); the label is
    attached by joining images' phash (label = f(phash bits) + noise,
    FIXTURES.md §2) — a broadcastable dimension join."""
    parts = max(8, min(256, n_entities // 4))
    n_extra = max(1, n_queries // 20)  # ~5% of queries hit no-event entities

    def gen_events(batches):
        for pdf in batches:
            out = []
            for k in pdf["id"].to_numpy():
                k = int(k)
                cnt = _entity_event_count(seed, k, n_entities, n_events)
                times = _entity_times_us(seed, k, cnt)
                img = (_mix(seed, 25, k, np.arange(cnt)) % np.uint64(n_images)).astype(np.int64)
                noise = _u01(seed, 26, k, np.arange(cnt))
                out.append(pd.DataFrame({
                    "entity_id": f"e_{k:06d}",
                    "image_idx": img,
                    "event_time_us": times,
                    "noise": noise,
                    "eseq": np.arange(cnt, dtype=np.int64),
                }))
            if out:
                yield pd.concat(out)

    def gen_queries(batches):
        for pdf in batches:
            out = []
            for k in pdf["id"].to_numpy():
                k = int(k)
                if k >= n_entities:  # no-event entity: query before anything
                    out.append(pd.DataFrame({
                        "entity_id": [f"e_{k:06d}"],
                        "asof_time_us": [np.int64(T0_US + int(_u01(seed, 31, k) * 30 * 86400e6))],
                        "qseq": [np.int64(0)],
                    }))
                    continue
                cnt = _entity_event_count(seed, k, n_entities, n_events)
                times = _entity_times_us(seed, k, cnt)
                nq = max(1, int(round(n_queries * cnt / n_events)))
                j = (_mix(seed, 27, k, np.arange(nq)) % np.uint64(cnt)).astype(np.int64)
                mode = _u01(seed, 28, k, np.arange(nq))
                t_event = times[j]
                nxt = times[np.minimum(j + 1, cnt - 1)]
                between = t_event + ((nxt - t_event) * 0.5).astype(np.int64) + 1
                before = np.int64(T0_US) - (_u01(seed, 29, k, np.arange(nq)) * 86400e6).astype(np.int64)
                asof = np.where(mode < 0.5, between,
                                np.where(mode < 0.75, t_event, before))
                out.append(pd.DataFrame({
                    "entity_id": f"e_{k:06d}",
                    "asof_time_us": asof.astype(np.int64),
                    "qseq": np.arange(nq, dtype=np.int64),
                }))
            if out:
                yield pd.concat(out)

    ev_raw = spark.range(0, n_entities, numPartitions=parts) \
        .mapInPandas(gen_events, schema=EVENTS_SCHEMA)
    q_raw = spark.range(0, n_entities + n_extra, numPartitions=parts) \
        .mapInPandas(gen_queries, schema=QUERIES_SCHEMA)

    dim = images.select(
        F.regexp_extract("image_id", r"(\d+)", 1).cast("long").alias("image_idx"),
        "image_id", "phash",
    )
    events = (
        ev_raw.join(F.broadcast(dim), "image_idx")
        .select(
            "entity_id", "image_id",
            F.timestamp_micros(F.col("event_time_us")).alias("event_time"),
            # label: deterministic function of phash bits + hash noise
            (F.pmod(F.col("phash"), F.lit(256)).cast("double") / 255.0
             + F.col("noise") * 0.1).alias("label"),
            "eseq",
        )
    )
    queries = q_raw.select(
        "entity_id", F.timestamp_micros(F.col("asof_time_us")).alias("asof_time"),
        "qseq",
    )
    return events, queries


# --------------------------------------------------------------- caching

# bump when any generator function changes output for the same
# (seed, scale): the materialize cache key includes it
GEN_VERSION = 2

SCALES = {
    # images, entities, events, queries — mirroring TESTDATA sf tiers
    "smoke": (1_000, 100, 4_000, 2_000),
    "correctness": (10_000, 1_000, 60_000, 30_000),
    "bench": (60_000, 6_000, 600_000, 300_000),
    # compute-dominant tier for the N-vs-4N scaling-efficiency evidence
    # (fixed scheduling overhead must be small against per-row work, as it
    # is on a real cluster at 10^12 rows)
    "scale": (240_000, 12_000, 2_400_000, 1_200_000),
    # 4x the scale tier: supplementary 8->32 evidence where per-stage
    # fixed costs (~2-3 s/level) fall under ~5% of the 32-core wall —
    # the sandbox stand-in for "on a real input, fixed costs vanish"
    "scale4x": (960_000, 48_000, 9_600_000, 4_800_000),
}


def fixture_root(scale: str, *, seed: int = 42,
                 base_dir: str = "/tmp/dagli_spark_fixtures") -> str:
    """Deterministic cache directory for a (seed, scale) fixture — shared
    by :func:`materialize` and the driver-contract oracle SQL (which reads
    the same parquet from DuckDB), so the two can never drift."""
    n_img, n_ent, n_ev, n_q = SCALES[scale]
    return os.path.join(
        base_dir,
        f"seed{seed}_{scale}_{n_img}x{n_ent}x{n_ev}x{n_q}_g{GEN_VERSION}")


def materialize(spark: SparkSession, scale: str, *, seed: int = 42,
                base_dir: str = "/tmp/dagli_spark_fixtures") -> dict[str, str]:
    """Generate-once, cache-as-parquet. Returns table name -> path.

    Cache check and write target assume a filesystem shared between driver
    and executors (local[N], or a cluster with a shared mount); on a real
    multi-node cluster point base_dir at shared storage (HDFS/S3 via an
    appropriate path) or pre-generate the fixture once — the driver-local
    ``os.path`` check cannot see a cluster-default filesystem."""
    n_img, n_ent, n_ev, n_q = SCALES[scale]
    # cache key folds in the tier's row counts and a generator version:
    # editing SCALES or the generators must never silently reuse stale
    # parquet (the checkpointer solves the same problem with
    # content_key + input_signature)
    root = fixture_root(scale, seed=seed, base_dir=base_dir)
    paths = {t: os.path.join(root, t) for t in ("images", "image_events", "queries")}
    if all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths.values()):
        return paths
    images = generate_images(spark, n_img, seed=seed)
    images.write.mode("overwrite").parquet(paths["images"])
    images = parquet_reader(spark, paths["images"])
    events, queries = generate_events_and_queries(
        spark, images, n_img, n_ent, n_ev, n_q, seed=seed
    )
    events.write.mode("overwrite").parquet(paths["image_events"])
    queries.write.mode("overwrite").parquet(paths["queries"])
    return paths
