"""The north-rule pipeline: point-in-time feature vectors for
(entity_id, asof_time) requests over an image+caption event stream.

Dataflow (each step one declarative DataFrame stage; Catalyst fuses):

1. ``image_events ⋈ images[image_id, phash]`` — narrow dimension join
   (phash only; the fat ``bytes`` column is never read here — column
   pruning keeps it out of the scan).
2. Per-entity windowed features over ``(event_time, eseq)``: lag(label),
   phash Hamming distance to previous image, rolling label mean (5 rows),
   trailing 1h event count, gap sessionization, seconds-since-previous.
   One window spec -> one sort serves all (SURVEY.md §2.6).
3. As-of join of the query table onto the featured events (union + LOCF
   sort-merge; optional time-bucketed path for hot entities).
4. Decode-stage pixel stats (Arrow UDF) ride along from step 1: each
   DISTINCT image referenced by events is decoded once and its stats
   carried through the as-of join (``with_pixels=False`` skips them).
5. Assemble ``feature_vector`` (array<double>) + the 64-dim phash
   embedding; keep ``__asof_matched_time`` for the leakage audit.

Zero-temporal-leakage contract: every window frame ends at the current
row and the as-of join only admits event_time <= asof_time; the audit
query (:func:`leakage_audit`) verifies max(matched event_time) <= asof_time
over the output — the event-time generalization of the reference's
KFoldCrossTrained anti-leakage contract
(/root/reference/common/src/main/java/com/linkedin/dagli/meta/KFoldCrossTrained.java:30-63).
"""

from __future__ import annotations

import numbers

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dagli_spark.features.image_features import (
    phash_embedding_col,
    with_decode_features,
)
from dagli_spark.operators import window_features as wf
from dagli_spark.operators.asof import (
    MATCHED_TIME,
    _join_null_safe,
    asof_join,
)
from dagli_spark.operators.dedup import hamming64
from dagli_spark.sources.readers import footer_rows, parquet_reader

FEATURE_NAMES = [
    "label_locf", "label_lag1", "label_avg5", "cnt_1h", "session_id",
    "secs_since_prev", "hamming_prev",
    "px_mean_r", "px_mean_g", "px_mean_b", "px_std", "px_brightness",
    "px_edge_energy",
]


def image_stats(events: DataFrame, images: DataFrame) -> DataFrame:
    """Decode-stage stats for every DISTINCT image referenced by events —
    each image decoded exactly once, in one massively parallel Arrow-UDF
    pass over the images scan (the distinct id set is broadcast onto it, so
    the fat bytes column never crosses a shuffle)."""
    needed = events.select("image_id").distinct()
    to_decode = images.select("image_id", "bytes", "phash").join(
        F.broadcast(needed), "image_id"
    )
    return with_decode_features(to_decode, "bytes").drop("bytes")


_SESSION_GAP = "INTERVAL 30 MINUTES"
_RANGE_LOOKBACK_S = 3600  # cnt_1h trailing window; also the carry horizon
_TAIL_ROWS = 4  # label_avg5's frame: the deepest row lookback


def _is_new(prev_t, t):
    """1 where an event at ``t`` opens a session (no previous event time,
    or more than ``_SESSION_GAP`` after ``prev_t``), else 0."""
    return F.when(prev_t.isNull() | (t > prev_t + F.expr(_SESSION_GAP)), 1) \
        .otherwise(0)


def _window_block(df: DataFrame, pkeys: list[str]):
    """The shared per-entity feature block over partition keys ``pkeys``
    (``["entity_id"]`` for the plain path, ``["entity_id", "__b"]`` for the
    hot-entity bucketed path) — ONE definition so the two paths cannot
    drift. Emits ``__is_new`` (session-start flag) instead of a finished
    session id: the two paths turn it into session_id differently (plain
    cumulative sum vs per-bucket sum + stitched offsets). One projection:
    every column is one window spec's expression, so no column reads
    another (a lag of a derived value lags its expression)."""
    w = wf.spec(pkeys, ["event_time", "eseq"])
    epoch_s = F.floor(
        F.unix_micros(F.col("event_time").cast("timestamp")) / 1_000_000)
    out = df.withColumns({
        "label_lag1": F.lag("label").over(w),
        "hamming_prev": F.coalesce(
            hamming64("phash", F.lag("phash").over(w)), F.lit(-1)
        ).cast("double"),
        "label_avg5": F.avg("label").over(w.rowsBetween(-_TAIL_ROWS, 0)),
        "epoch_s": epoch_s,
        "__is_new": _is_new(F.lag("event_time").over(w), F.col("event_time")),
        "secs_since_prev": F.coalesce(
            (epoch_s - F.lag(epoch_s).over(w)).cast("double"), F.lit(-1.0)),
    })
    return out, w


def _plain_event_windows(ev: DataFrame) -> DataFrame:
    out, w = _window_block(ev, ["entity_id"])
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # The one differently-ordered window comes LAST: every (event_time,
    # eseq)-ordered window above shares a single sort, and cnt_1h's
    # (epoch_s)-ordered range frame adds exactly one more — interleaving it
    # mid-chain (as round 2 did) made the planner re-sort the full event
    # table a THIRD time (2 sorts total now, pinned by
    # tests/test_images_northrule.py).
    w_range = wf.spec("entity_id", ["epoch_s"]).rangeBetween(
        -_RANGE_LOOKBACK_S, 0)
    return out.select(
        *[c for c in out.columns if c != "__is_new"],
        (F.sum("__is_new").over(cum) - 1).alias("session_id"),
        F.count(F.lit(1)).over(w_range).alias("cnt_1h"),
    )


def _hot_carry_rows(events: DataFrame, is_hot, width_us: int) -> DataFrame:
    """Carry-in rows for the bucketed window path: for every occupied
    hot-entity bucket d, the part of the entity's history before d that
    the window frames read — the last ``_TAIL_ROWS`` rows (lag-1, the
    5-row mean) or every row inside d's trailing ``_RANGE_LOOKBACK_S``
    horizon (the cnt_1h range frame), whichever is longer: a contiguous
    suffix of that history. Derived from the RAW events (narrow pruned
    scan) — never from the image-joined frame, so the decode stage is not
    re-evaluated per consumer.

    The suffix is split by TIME into two disjoint routes, so every carried
    row arrives once and nothing is deduplicated:

    - recent rows, ``floor(us/1e6) >= start_s(d) - _RANGE_LOOKBACK_S``.
      ``width_us >= _RANGE_LOOKBACK_S`` puts all of them in bucket d-1,
      so each row goes to its own bucket + 1 when that bucket is occupied
      (a broadcast equi-join);
    - older rows among the last ``_TAIL_ROWS`` before d. This route is
      TRANSITIVE: when the previous occupied bucket holds fewer than
      ``_TAIL_ROWS`` rows, d's first frames reach through it into earlier
      buckets (B0=5 rows, B1=1 row: B2's first frame needs B1's row AND
      B0's tail). With per-(entity, bucket) prefix counts, the row at
      global position ``rn`` feeds d iff ``rows_before(d) ∈ [rn,
      rn+_TAIL_ROWS-1]``, expressed as ``_TAIL_ROWS`` generated join keys
      so the broadcast lookup stays a hash equi-join (one row may feed
      several thin destinations). Only a bucket's own last ``_TAIL_ROWS``
      rows can qualify.

    Null event times form a bucket of their own that sorts first, as they
    do in the plain window; the prefix-count join is null-safe, so those
    rows reach the later buckets too."""
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    e = events.where(is_hot).withColumn("__b", F.floor(us / width_us))
    # per-(entity, bucket) prefix counts — dictionary-sized (occupied
    # buckets only), window runs over the aggregated frame, not events
    ct = e.groupBy("entity_id", "__b").agg(F.count(F.lit(1)).alias("__cnt"))
    ct = ct.withColumn("__thru", F.sum("__cnt").over(
        Window.partitionBy("entity_id").orderBy("__b")))
    dsts = ct.select("entity_id", F.col("__b").alias("__dst"),
                     (F.col("__thru") - F.col("__cnt")).alias("__k"))
    recent = F.floor(us / 1_000_000) >= (
        F.col("__dst") * (width_us // 1_000_000) - _RANGE_LOOKBACK_S)
    horizon = (
        e.withColumn("__dst", F.col("__b") + 1).where(recent)
        .join(F.broadcast(dsts.drop("__k")), ["entity_id", "__dst"])
    )
    w_desc = Window.partitionBy("entity_id", "__b").orderBy(
        F.col("event_time").desc(), F.col("eseq").desc())
    last = e.withColumn("__rid", F.row_number().over(w_desc)) \
        .where(F.col("__rid") <= _TAIL_ROWS)
    tails = (
        _join_null_safe(last, F.broadcast(ct.drop("__cnt")),
                        ["entity_id", "__b"], "__ct_", "inner")
        .withColumn("__k", F.explode(F.array(
            *[F.col("__thru") - F.col("__rid") + 1 + j
              for j in range(_TAIL_ROWS)])))
        .join(F.broadcast(dsts), ["entity_id", "__k"])
        # the older rows only (null times are the oldest): the horizon
        # route carries the recent ones
        .where(F.col("event_time").isNull() | ~recent)
        .drop("__rid", "__thru", "__k")
    )
    return (
        tails.unionByName(horizon).drop("__b")
        .withColumnRenamed("__dst", "__b").withColumn("__carry", F.lit(True))
    )


def _session_offsets(events: DataFrame, is_hot, width_us: int) -> DataFrame:
    """Per-(hot entity, bucket) EXCLUSIVE running session-start counts —
    the cross-bucket stitch for the session-id cumulative sum. Computed
    without carry rows on a narrow pruned scan of the raw events
    (entity/time/eseq only): using the image-joined window output here
    would re-evaluate the decode stage for a tiny aggregate.

    An in-bucket lag counts every bucket's first row as a start; the true
    flag of that row compares it with the last time of the previous
    occupied bucket, so a bucket opens ``starts - 1 + is_new(previous
    max, own min)`` sessions. The null-time bucket sorts first, as null
    times do in the plain window."""
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    w = wf.spec(["entity_id", "__b"], ["event_time", "eseq"])
    per_bucket = (
        events.select("entity_id", "event_time", "eseq").where(is_hot)
        .withColumn("__b", F.floor(us / width_us))
        .withColumn("__is_new",
                    _is_new(F.lag("event_time").over(w), F.col("event_time")))
        .groupBy("entity_id", "__b")
        .agg(F.sum("__is_new").alias("__starts"),
             F.min("event_time").alias("__mn"),
             F.max("event_time").alias("__mx"))
    )
    w_ent = Window.partitionBy("entity_id").orderBy("__b")
    starts = per_bucket.withColumn(
        "__starts", F.col("__starts") - 1
        + _is_new(F.lag("__mx").over(w_ent), F.col("__mn")))
    before = w_ent.rowsBetween(Window.unboundedPreceding, -1)
    return starts.select(
        "entity_id", "__b",
        F.coalesce(F.sum("__starts").over(before), F.lit(0)).alias("__off"))


def _bucketed_event_windows(events: DataFrame, dim: DataFrame,
                            hot_ids: list, width_us: int) -> DataFrame:
    """Windowed features with hot entities time-bucketed: the window-
    function analogue of the as-of join's hot-entity path (operators/
    asof.py, time_buckets).

    A window partitioned by entity alone puts a hot entity's entire
    history in ONE task (AQE can split skewed joins, not skewed window
    partitions — SURVEY.md §4.3); at the scale tier the fixture's hot
    entities make the window stage a measured 7x straggler tail. Here
    EVERY entity goes through ONE window pass partitioned by
    (entity, __b): cold entities get the constant bucket 0 (bit-identical
    work to the plain path), hot entities split into time buckets, each
    preceded by its carry-in rows (:func:`_hot_carry_rows`: the suffix of
    the entity's earlier history that the lag-1, 5-row and 1h range frames
    read, which also covers the 30-min session gap), so every
    bounded-lookback feature reproduces the global window EXACTLY. The
    one unbounded feature — the session-id cumulative sum — stitches
    across buckets via broadcast per-bucket offsets
    (:func:`_session_offsets`). The fat image/decode dimension is joined
    exactly ONCE, after the carry union: carry rows and offsets derive
    from narrow scans of the raw events.

    ``width_us`` must be a whole number of seconds and at least the range
    lookback, so a bucket's horizon lies inside the bucket before it."""
    assert (width_us % 1_000_000 == 0
            and width_us >= _RANGE_LOOKBACK_S * 1_000_000)
    is_hot = F.col("entity_id").isin(hot_ids)
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    own = events.withColumn(
        "__b", F.when(is_hot, F.floor(us / width_us)).otherwise(F.lit(0))
    ).withColumn("__carry", F.lit(False))
    carry = _hot_carry_rows(events, is_hot, width_us)
    u = own.unionByName(carry.select(*own.columns))
    ev = u.join(dim, "image_id", "left")  # the ONE image/decode join

    out, w = _window_block(ev, ["entity_id", "__b"])
    own_start = F.when(~F.col("__carry"), F.col("__is_new")).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = out.withColumn("__sess_local", F.sum(own_start).over(cum))
    w_range = wf.spec(["entity_id", "__b"], ["epoch_s"])
    out = wf.rolling(out, {"cnt_1h": F.count(F.lit(1))}, w_range,
                     range_=(-_RANGE_LOOKBACK_S, 0))
    out = out.where(~F.col("__carry"))
    offsets = _session_offsets(events, is_hot, width_us)
    # cold entities and the null-time bucket (it sorts first) match no
    # offset row and start from 0
    out = out.join(F.broadcast(offsets), ["entity_id", "__b"], "left")
    out = out.withColumn(
        "session_id",
        (F.coalesce(F.col("__off"), F.lit(0)) + F.col("__sess_local") - 1))
    return out.drop("__is_new", "__sess_local", "__off", "__b", "__carry")


def _hot_threshold(min_rows):
    """``min_rows`` if it is a usable hot-entity threshold: None (detection
    disabled) or an int >= 1; anything else raises ValueError."""
    if min_rows is None or (isinstance(min_rows, numbers.Integral)
                            and not isinstance(min_rows, bool)
                            and min_rows >= 1):
        return min_rows
    raise ValueError(
        f"hot_min_rows must be None or an int >= 1, got {min_rows!r}")


def detect_hot_entities(events: DataFrame, min_rows: int | None, *,
                        top: int = 64) -> list:
    """Entities whose event count makes a single window partition a
    straggler (the fixture's hot entities own ~5% of all events each at
    the scale tier). One column-pruned aggregate; returns at most ``top``
    ids with their counts and time spans (driver-side, tiny).

    Returns ``[]`` without the aggregate when ``min_rows`` is None or when
    ``events`` is a bare Parquet scan whose footers hold fewer than
    ``min_rows`` rows in all (:func:`~dagli_spark.sources.readers.footer_rows`),
    since then no entity can reach it."""
    if _hot_threshold(min_rows) is None:
        return []
    rows = footer_rows(events)
    if rows is not None and rows < min_rows:
        return []
    t = F.unix_micros(F.col("event_time").cast("timestamp"))
    return (
        events.groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.min(t).alias("mn"), F.max(t).alias("mx"))
        .where(F.col("cnt") >= min_rows)
        # entity_id tiebreak: equal counts at the `top` boundary must pick
        # the same hot set every run (plans and perf stay reproducible)
        .orderBy(F.col("cnt").desc(), F.col("entity_id").asc()).limit(top)
        .collect()
    )


def event_features(events: DataFrame, images: DataFrame,
                   *, with_pixels: bool = True,
                   hot_min_rows: int | None = 500_000,
                   hot_target_rows: int = 65_536,
                   hot_rows: list | None = None) -> DataFrame:
    """Steps 1-2: per-event windowed features. With ``with_pixels`` the
    per-image decode stats ride along from the start (computed once per
    distinct image), so the whole pipeline is a single forward pass.

    Skew: entities with >= ``hot_min_rows`` events (an int >= 1; ``None``
    disables; anything else raises ValueError) are routed through the
    time-bucketed two-phase window path (:func:`_bucketed_event_windows`)
    — identical results, no single-task-per-entity straggler. The bucket
    width targets ~``hot_target_rows`` rows per (entity, bucket) task.

    Threshold calibration (history: scale tier on a 32-CPU VM, local[32],
    with an earlier carry that took two row routes plus a second carry
    for the session stitch; not re-measured since): a 120k-row entity's
    window task was only ~0.7 s (sort+6 window exprs are cheap), while the
    bucketing machinery — the detection aggregate plus the narrow carry
    scan and the per-bucket session aggregate — cost ~2-3 s, so bucketing
    a 120k-row entity was a net LOSS locally; the crossover was around
    several 10^5 rows per entity. At 10^12-row scale a hot entity owning even 0.1% of
    events is ~10^9 rows in ONE task — hours — so the default fires long
    before that; set it to match your cluster's per-task comfort zone.

    Detection (:func:`detect_hot_entities`) costs no job when ``events``
    is a bare Parquet scan whose footers hold fewer than ``hot_min_rows``
    rows in all; any other ``events`` runs its aggregate and a collect()
    while this plan is composed. ``hot_rows`` (the detection's output,
    possibly ``[]``) skips detection altogether — pass a precomputed list
    when building the same pipeline repeatedly over such inputs (tests,
    a feature service re-planning per request)."""
    hot_min_rows = _hot_threshold(hot_min_rows)
    if with_pixels:
        dim = image_stats(events, images)
    else:
        dim = images.select("image_id", "phash")  # narrow -> prunable
    # LEFT join: an event whose image is missing/late must NOT silently
    # vanish — dropping it would shift every downstream lag/session/count
    # feature for its neighbors; unresolved rows just get null phash/pixel
    # stats (hamming_prev already coalesces null -> -1)
    hot = hot_rows if hot_rows is not None \
        else detect_hot_entities(events, hot_min_rows)
    if not hot:
        return _plain_event_windows(events.join(dim, "image_id", "left"))
    span_us = max(int(r["mx"]) - int(r["mn"]) for r in hot) + 1_000_000
    n_buckets = max(2, min(512, max(int(r["cnt"]) for r in hot)
                           // max(1, hot_target_rows)))
    width_us = max(2 * _RANGE_LOOKBACK_S * 1_000_000,
                   -(-span_us // n_buckets))
    width_us = -(-width_us // 1_000_000) * 1_000_000  # whole seconds
    hot_ids = [r["entity_id"] for r in hot]
    return _bucketed_event_windows(events, dim, hot_ids, width_us)


PX_COLS = ["px_mean_r", "px_mean_g", "px_mean_b", "px_std", "px_brightness",
           "px_edge_energy"]


def asof_features(
    queries: DataFrame, featured_events: DataFrame, *,
    strict: bool = False, time_buckets: int = 0, bucket_width=None,
) -> DataFrame:
    """Step 3: attach the latest visible event's features to each query."""
    vals = ["image_id", "label", "label_lag1", "label_avg5", "cnt_1h",
            "session_id", "secs_since_prev", "hamming_prev"]
    vals += [c for c in ("phash", *PX_COLS) if c in featured_events.columns]
    ev = featured_events.selectExpr(
        "entity_id", "event_time", "eseq", *[f"`{v}` AS `ev_{v}`" for v in vals])
    return asof_join(
        queries, ev, on="entity_id", left_time="asof_time",
        right_time="event_time",
        values=[f"ev_{v}" for v in vals], tiebreak="eseq", strict=strict,
        keep_matched_time=True, time_buckets=time_buckets,
        bucket_width=bucket_width,
    )


def assemble_vector(df: DataFrame) -> DataFrame:
    """Step 5 over :func:`asof_features` output: ``feature_vector`` (a
    feature absent from the frame — px_* without pixels — is NaN) and the
    64-dim phash embedding, in one projection. Each slot's source is SQL
    text; the NaN stays a Column literal, which (unlike SQL's nullable
    ``CAST('NaN' AS DOUBLE)``) keeps the vector's elements non-null."""
    present = set(df.columns)

    def source(n):
        col = "ev_label" if n == "label_locf" else f"ev_{n}"
        v = f"`{col}`" if col in present else "NULL"
        return f"CAST({v} AS DOUBLE)" if n in ("cnt_1h", "session_id") else v

    nan = F.lit(float("nan"))
    vec = F.array(*[F.coalesce(F.expr(source(n)), nan).cast("double")
                    for n in FEATURE_NAMES])
    return df.withColumns({
        "feature_vector": vec,
        "phash_embedding": F.when(F.col("ev_phash").isNotNull(),
                                  phash_embedding_col("ev_phash")),
    })


def build_features(
    queries: DataFrame, events: DataFrame, images: DataFrame, *,
    strict: bool = False, time_buckets: int = 0, bucket_width=None,
    with_pixels: bool = True,
    hot_min_rows: int | None = 500_000, hot_target_rows: int = 65_536,
    hot_rows: list | None = None,
) -> DataFrame:
    """Full pipeline; returns one row per query row with feature_vector,
    phash_embedding, and the leakage-audit matched-time column. One
    forward pass: every distinct image referenced by events is decoded
    once (``with_pixels``) and its stats carried through the as-of join;
    without pixels the px_* slots of feature_vector are NaN."""
    feats = event_features(events, images, with_pixels=with_pixels,
                           hot_min_rows=hot_min_rows,
                           hot_target_rows=hot_target_rows, hot_rows=hot_rows)
    out = asof_features(queries, feats, strict=strict,
                        time_buckets=time_buckets, bucket_width=bucket_width)
    return assemble_vector(out)


def leakage_audit(result: DataFrame, *, strict: bool = False) -> dict:
    """Runtime zero-leakage proof: no feature row used an event newer than
    its asof_time (with ``strict=True``, newer OR EQUAL — an equality
    match is a leak under the strict contract). Returns counters; raises
    AssertionError on violation."""
    leak = (F.col(MATCHED_TIME) >= F.col("asof_time") if strict
            else F.col(MATCHED_TIME) > F.col("asof_time"))
    agg = result.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(leak, 1).otherwise(0)).alias("violations"),
        F.sum(F.when(F.col(MATCHED_TIME).isNull(), 1).otherwise(0))
         .alias("no_history_rows"),
    ).first()
    out = {k: (int(agg[k]) if agg[k] is not None else 0)
           for k in ("rows", "violations", "no_history_rows")}
    if out["violations"]:
        raise AssertionError(f"temporal leakage detected: {out}")
    return out


def run(spark: SparkSession, paths: dict[str, str], **opts) -> DataFrame:
    images = parquet_reader(spark, paths["images"])
    events = parquet_reader(spark, paths["image_events"])
    queries = parquet_reader(spark, paths["queries"])
    return build_features(queries, events, images, **opts)
