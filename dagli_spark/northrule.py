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
    phash_hamming_col,
    with_decode_features,
)
from dagli_spark.operators import window_features as wf
from dagli_spark.operators.asof import MATCHED_TIME, asof_join
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
    prev_t = F.lag("event_time").over(w)
    out = df.withColumns({
        "label_lag1": F.lag("label").over(w),
        "hamming_prev": F.coalesce(
            phash_hamming_col("phash", F.lag("phash").over(w)), F.lit(-1)
        ).cast("double"),
        "label_avg5": F.avg("label").over(w.rowsBetween(-4, 0)),
        "epoch_s": epoch_s,
        "__is_new": F.when(
            prev_t.isNull()
            | (F.col("event_time") > prev_t + F.expr(_SESSION_GAP)), 1
        ).otherwise(0),
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


def _hot_carry_rows(events: DataFrame, is_hot, width_us: int, *,
                    last_n: int, with_horizon: bool) -> DataFrame:
    """Carry-in rows for the bucketed window path: for every hot-entity
    bucket, the last ``last_n`` rows GLOBALLY preceding the bucket's first
    row, plus (``with_horizon``) everything inside the bucket's trailing
    ``_RANGE_LOOKBACK_S`` horizon. Derived from the RAW events (narrow
    pruned scan) — never from the image-joined frame, so the decode stage
    is not re-evaluated per consumer.

    The tail must be TRANSITIVE: when the previous non-empty bucket holds
    fewer than ``last_n`` rows, a rows(-last_n,0) frame in the destination
    still reaches through it into earlier buckets (B0=5 rows, B1=1 row,
    B2: B2's first frame needs B1's row AND B0's tail). A single-hop
    "previous bucket's tail" silently under-fills such frames, so
    destinations are resolved by GLOBAL row position instead: with
    per-(entity, bucket) prefix counts, row r (global position ``rn``)
    feeds bucket d iff ``rows_before(d) ∈ [rn, rn+last_n-1]`` — expressed
    as ``last_n`` generated join keys so the broadcast lookup stays a hash
    equi-join (one source row may feed SEVERAL thin destinations). Only a
    bucket's own last ``last_n`` rows can ever qualify, so the explode is
    bounded at ``last_n`` rows per occupied bucket.

    The horizon stays single-hop on the immediately previous occupied
    bucket: ``width_us >= 2 * _RANGE_LOOKBACK_S`` means a destination's
    horizon window lies entirely inside the bucket directly before it by
    TIME, so any occupied earlier bucket either is that bucket or holds no
    horizon rows. A row selected by both routes is deduplicated (frames
    must see each carried row exactly once)."""
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    # __rid: per-(entity, bucket) positional surrogate computed ONCE on the
    # source — the tail/horizon routes may select the same source ROW for
    # the same destination, and the dedup below must collapse exactly that
    # (route duplicates), never two genuinely identical source rows (two
    # events equal in every column are two real rows; dropDuplicates() over
    # data columns would silently undercount cnt_1h/label_avg5 for them)
    # the ordering must be a TOTAL order up to fully-identical rows: the
    # tail and horizon subtrees each re-evaluate this window after their
    # own shuffles, so a tie on (event_time, eseq) with differing payload
    # columns could get its row_numbers swapped BETWEEN the two routes and
    # the route-key dedup below would then drop one payload and keep the
    # other twice. Appending the remaining data columns as tiebreaks makes
    # the assignment reproducible; fully-identical rows may still swap,
    # which is observationally invisible.
    # tiebreak columns restricted to ORDERABLE types (Spark's sense:
    # everything except maps, recursively — binary and arrays/structs of
    # orderables DO sort and DO disambiguate, so they stay in the key; a
    # map column would make the window sort throw AnalysisException).
    # Dropping an orderable payload column here would reintroduce the
    # route-swap corruption this sort exists to prevent: two rows equal
    # on every kept column but different in the dropped one could take
    # swapped __rid values between the tail and horizon routes.
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    tiebreaks = [F.col(f.name).desc() for f in events.schema.fields
                 if f.name not in ("entity_id", "event_time", "eseq")
                 and _orderable(f.dataType)]
    w_desc = Window.partitionBy("entity_id", "__b").orderBy(
        F.col("event_time").desc(), F.col("eseq").desc(), *tiebreaks)
    e = (events.where(is_hot).withColumn("__b", F.floor(us / width_us))
         .withColumn("__rid", F.row_number().over(w_desc)))
    # per-(entity, bucket) prefix counts — dictionary-sized (occupied
    # buckets only), window runs over the aggregated frame, not events
    ct = e.groupBy("entity_id", "__b").agg(F.count(F.lit(1)).alias("__cnt"))
    w_ent = Window.partitionBy("entity_id").orderBy("__b")
    ct = (ct.withColumn("__thru", F.sum("__cnt").over(w_ent))
            .withColumn("__before", F.col("__thru") - F.col("__cnt")))
    dsts = ct.select("entity_id", F.col("__b").alias("__dst"),
                     F.col("__before").alias("__k"))
    tails = (
        e.where(F.col("__rid") <= last_n)
        .join(F.broadcast(ct.select("entity_id", "__b", "__thru")),
              ["entity_id", "__b"])
        .withColumn("__rn", F.col("__thru") - F.col("__rid") + 1)
        .withColumn("__k", F.explode(F.array(
            *[F.col("__rn") + j for j in range(last_n)])))
        .join(F.broadcast(dsts), ["entity_id", "__k"])
        .where(F.col("__dst") > F.col("__b"))
        .drop("__thru", "__rn", "__k")
    )
    carried = tails
    if with_horizon:
        carry_map = (
            ct.withColumn("__src", F.lag("__b").over(w_ent))
            .where(F.col("__src").isNotNull())
            .select("entity_id", F.col("__src").alias("__b"),
                    F.col("__b").alias("__dst"))
        )
        dst_start_s = (F.col("__dst") * width_us / 1_000_000).cast("long")
        horizon = (
            e.join(F.broadcast(carry_map), ["entity_id", "__b"])
            .where(F.floor(us / 1_000_000) >= dst_start_s - _RANGE_LOOKBACK_S)
        )
        # dedupe on the ROUTE key (source row identity x destination), not
        # the data columns: a row picked by both routes appears once per
        # destination; identical source rows keep their multiplicity
        carried = carried.unionByName(horizon).dropDuplicates(
            ["entity_id", "__b", "__rid", "__dst"])
    return (
        carried.drop("__b", "__rid").withColumnRenamed("__dst", "__b")
        .withColumn("__carry", F.lit(True))
    )


def _session_offsets(events: DataFrame, is_hot, width_us: int) -> DataFrame:
    """Per-(hot entity, bucket) EXCLUSIVE running session-start counts —
    the cross-bucket stitch for the session-id cumulative sum. Computed on
    a narrow pruned scan of the raw events (entity/time/eseq only): using
    the image-joined window output here would re-evaluate the decode stage
    for a tiny aggregate. Carry = last 1 row (is_new needs only lag-1)."""
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    slim = events.select("entity_id", "event_time", "eseq").where(is_hot)
    own = slim.withColumn("__b", F.floor(us / width_us)) \
        .withColumn("__carry", F.lit(False))
    carry = _hot_carry_rows(slim, F.lit(True), width_us,
                            last_n=1, with_horizon=False)
    u = own.unionByName(carry.select(*own.columns))
    w = wf.spec(["entity_id", "__b"], ["event_time", "eseq"])
    prev_t = F.lag("event_time").over(w)
    is_new = F.when(prev_t.isNull()
                    | (F.col("event_time") > prev_t + F.expr(_SESSION_GAP)), 1) \
        .otherwise(0)
    starts = (
        u.withColumn("__is_new", is_new)
        .where(~F.col("__carry"))
        .groupBy("entity_id", "__b").agg(F.sum("__is_new").alias("__starts"))
    )
    w_off = (Window.partitionBy("entity_id").orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    return starts.withColumn(
        "__off", F.coalesce(F.sum("__starts").over(w_off), F.lit(0))
    ).select("entity_id", "__b", "__off")


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
    work to the plain path), hot entities split into time buckets with
    carry-in tails (last 4 rows for lag1/5-row rolling + the trailing
    ``_RANGE_LOOKBACK_S`` seconds for the cnt_1h range frame, which also
    covers the 30-min session gap), so every bounded-lookback feature
    reproduces the global window EXACTLY. The one unbounded feature — the
    session-id cumulative sum — stitches across buckets via broadcast
    per-bucket offsets (:func:`_session_offsets`). The fat image/decode
    dimension is joined exactly ONCE, after the carry union: carry rows
    and offsets derive from narrow scans of the raw events.

    ``width_us`` must be a whole-second multiple >= 2x the range lookback
    so cross-bucket range frames never reach past one carry hop."""
    assert (width_us % 1_000_000 == 0
            and width_us >= 2 * _RANGE_LOOKBACK_S * 1_000_000)
    is_hot = F.col("entity_id").isin(hot_ids)
    us = F.unix_micros(F.col("event_time").cast("timestamp"))
    own = events.withColumn(
        "__b", F.when(is_hot, F.floor(us / width_us)).otherwise(F.lit(0))
    ).withColumn("__carry", F.lit(False))
    carry = _hot_carry_rows(events, is_hot, width_us,
                            last_n=4, with_horizon=True)
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

    Threshold calibration (measured, scale tier, local[32]): a 120k-row
    entity's window task is only ~0.7 s (sort+6 window exprs are cheap),
    while the bucketing machinery — the detection aggregate plus two
    narrow carry/offset scans — costs ~2-3 s, so bucketing a 120k-row
    entity is a net LOSS locally; the crossover is around several 10^5
    rows per entity. At 10^12-row scale a hot entity owning even 0.1% of
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
