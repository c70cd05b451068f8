"""Point-in-time (as-of) join.

Spark SQL has no ASOF JOIN; this module implements it natively on the
DataFrame API as a **single-shuffle range-partitioned sort-merge**: both
sides are unioned, hash-partitioned by entity, sorted by
(time, side, tiebreak) inside each partition, and the last event row at or
before each query row is carried forward with one
``last(struct, ignorenulls=True)`` window scan. That is one shuffle + one
sort — the minimum any keyed temporal join needs — and Catalyst/Tungsten
execute the scan inside whole-stage codegen (no Python in the hot path).

Semantics (the engine's temporal-leakage contract, generalizing the
reference's KFoldCrossTrained anti-leakage rule,
/root/reference/common/src/main/java/com/linkedin/dagli/meta/KFoldCrossTrained.java:30-63):
for each query row (entity, asof_time) attach the value columns of the
single event row with the greatest event_time such that

    event_time <= asof_time        (strict=False, default)
    event_time <  asof_time        (strict=True)

ties between events at the same event_time are broken by ``tiebreak``
(the largest tiebreak wins — deterministic, per the reference's
quasi-determinism rule, documentation/transformers.md:11-17). Matched
values are taken **row-wise** (the whole matched event row, even if some
of its columns are null) — not per-column LOCF.

Scale notes (100 TB / 1000 executors):

- The union+window path shuffles each side exactly once on the entity key;
  partition count is governed by AQE.
- A *hot entity* (one key with a history larger than an executor's memory)
  serializes into one partition's sort. ``time_buckets`` splits each
  entity's timeline into N coarse buckets processed in parallel:
  pass 1 computes each bucket's final state (a tiny per-(entity,bucket)
  aggregate), pass 2 LOCFs those states across buckets (rows = entities x
  buckets, trivially small), pass 3 joins the carried-in state back and
  runs the in-bucket scan — hot entities now parallelize across time.
- For a small event side (dimension-like), ``asof_join_broadcast`` avoids
  the shuffle entirely with a broadcast range join + max_by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_TIME = "__asof_time"
_TIE = "__asof_tie"
_STATE = "__asof_state"
MATCHED_TIME = "__asof_matched_time"


def _normalize_on(on) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def _default_values(events, keys, right_time, values):
    if values is None:
        return [c for c in events.columns if c not in keys and c != right_time]
    return values


def _check_clash(values, queries):
    clash = set(values) & set(queries.columns)
    if clash:
        raise ValueError(
            f"value columns {sorted(clash)} collide with query columns; "
            "rename one side before the as-of join"
        )


def _q(name: str) -> str:
    """``name`` as a SQL identifier. Per-value column families are built
    as SQL text (one expression, not ~20 py4j round trips per value)."""
    return "`" + name.replace("`", "``") + "`"


def _event_state(right_time, values, tiebreak):
    """(state struct, tie column) — ONE definition shared by the union
    path (_sides) and the bucketed pass-1 aggregate, so the
    ``coalesce(state, carry)`` in pass 3 can never see two drifted struct
    layouts."""
    fields = [(right_time, MATCHED_TIME)] + [(v, v) for v in values]
    state = F.expr("struct(" + ", ".join(
        f"{_q(c)} AS {_q(name)}" for c, name in fields) + ")")
    tie = F.col(tiebreak) if tiebreak else F.lit(0)
    return state, tie


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str],
                    prefix: str, how: str = "left") -> DataFrame:
    """``left`` joined to ``right`` on NULL-SAFE equality of ``keys``: the
    window paths group null keys (and null-time buckets) into one
    partition, and an equi-join would strand their rows. ``right``'s keys
    are renamed ``{prefix}{i}`` for the join and dropped after it."""
    names = [f"{prefix}{i}" for i in range(len(keys))]
    r = right.select(*[F.col(k).alias(n) for k, n in zip(keys, names)],
                     *[c for c in right.columns if c not in keys])
    cond = F.col(keys[0]).eqNullSafe(F.col(names[0]))
    for k, n in zip(keys[1:], names[1:]):
        cond = cond & F.col(k).eqNullSafe(F.col(n))
    return left.join(r, cond, how).drop(*names)


def asof_join(
    queries: DataFrame,
    events: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    values: list[str] | None = None,
    *,
    strict: bool = False,
    tolerance: Column | None = None,
    tiebreak: str | None = None,
    keep_matched_time: bool = False,
    time_buckets: int = 0,
    bucket_width: Column | None = None,
) -> DataFrame:
    """As-of join ``queries`` (left, at ``left_time``) against ``events``
    (right, at ``right_time``), attaching ``values`` columns from the last
    event at or before each query time.

    Parameters
    ----------
    on: entity key column(s), present in both frames.
    left_time / right_time: timestamp (or orderable) columns.
    values: event columns to attach (default: all non-key, non-time).
    strict: if True an event at exactly asof_time is NOT visible.
    tolerance: max allowed ``left_time - matched event time`` (a Column
        interval/numeric delta); matches older than this become null.
    tiebreak: column breaking ties among equal-time events (max wins).
        With no tiebreak, equal-time events for the same entity have NO
        defined order (the sort key degenerates to a constant) and the
        match falls to shuffle order — always supply one when duplicate
        timestamps are possible (quasi-determinism contract §1.4).
    keep_matched_time: also emit the matched event time column
        (``__asof_matched_time``) — used by the leakage auditor.
    time_buckets / bucket_width: any truthy ``time_buckets`` enables the
        3-pass hot-entity path (see module docstring); the actual bucket
        COUNT is determined by the data's time range divided by
        ``bucket_width``, not by this value — pick the width so the
        hottest entity's per-bucket rows fit a partition.
        ``bucket_width`` is a Column in the time column's NATIVE units
        after normalization: epoch MICROSECONDS for timestamp columns
        (e.g. ``F.lit(86_400 * 1_000_000)`` for 1 day), plain numeric
        delta for numeric time columns.
    """
    keys = _normalize_on(on)
    if time_buckets and bucket_width is None:
        raise ValueError(
            "time_buckets requires bucket_width — silently falling back to "
            "the single-partition-per-entity path would defeat the "
            "requested hot-entity mitigation")
    values = _default_values(events, keys, right_time, values)
    _check_clash(values, queries)
    if time_buckets and bucket_width is not None:
        return _asof_join_bucketed(
            queries, events, keys, left_time, right_time, values,
            strict=strict, tolerance=tolerance, tiebreak=tiebreak,
            keep_matched_time=keep_matched_time, bucket_width=bucket_width,
        )

    out_cols = list(queries.columns)
    ev, qr = _sides(queries, events, keys, left_time, right_time, values, tiebreak)
    merged = ev.unionByName(qr, allowMissingColumns=True)

    scanned = _locf_scan(merged, keys, strict)
    return _finish(scanned, out_cols, values, left_time, tolerance, keep_matched_time)


def _sides(queries, events, keys, left_time, right_time, values, tiebreak):
    """Project both sides onto the union schema.

    Event rows carry their values packed in one struct (so a whole matched
    row — including its nulls — travels as one non-null unit through the
    ``last(..., ignorenulls=True)`` scan) plus the sort columns; query rows
    carry their full payload plus nulls for the struct.
    """
    state, tie = _event_state(right_time, values, tiebreak)
    ev = events.select(
        *[F.col(k) for k in keys],
        F.col(right_time).alias(_TIME),
        F.lit(0).alias(_SIDE),
        tie.alias(_TIE),
        state.alias(_STATE),
    )
    qr = queries.select(
        "*",
        F.col(left_time).alias(_TIME),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(ev.schema[_TIE].dataType).alias(_TIE),
    )
    return ev, qr


def _locf_scan(merged: DataFrame, keys: list[str], strict: bool) -> DataFrame:
    # Sort order decides <= vs < at equal timestamps:
    #   strict=False: events (side 0) sort BEFORE queries (side 1) -> visible.
    #   strict=True : queries sort BEFORE events -> not visible.
    side_order = F.col(_SIDE) if not strict else (F.lit(1) - F.col(_SIDE))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TIME).asc(), side_order.asc(), F.col(_TIE).asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return merged.withColumn(_STATE, F.last(_STATE, ignorenulls=True).over(w))


def _finish(scanned, out_cols, values, left_time, tolerance, keep_matched_time):
    res = scanned.where(F.col(_SIDE) == 1)
    if tolerance is not None:
        state = F.col(_STATE)
        in_tol = state[MATCHED_TIME] >= (F.col(left_time) - tolerance)
        res = res.withColumn(_STATE, F.when(in_tol, state))
    fields = values + ([MATCHED_TIME] if keep_matched_time else [])
    return res.selectExpr(*[_q(c) for c in out_cols],
                          *[f"{_q(_STATE)}.{_q(v)} AS {_q(v)}" for v in fields])


def _asof_join_bucketed(
    queries, events, keys, left_time, right_time, values,
    *, strict, tolerance, tiebreak, keep_matched_time, bucket_width,
):
    """Hot-entity-parallel as-of join (3 passes, see module docstring).

    Correct for any bucket width; pick a width so the hottest entity's
    per-bucket row count fits a partition (e.g. 1 day over years of data).
    """
    _B = "__asof_bucket"

    def bucketize(df, tcol):
        # integer bucket index: floor(time/width). Width units match the
        # normalized time column: epoch MICROSECONDS for timestamps,
        # the column's own units for numeric time.
        t = F.col(tcol)
        if dict(df.dtypes)[tcol].startswith("timestamp"):
            # session TZ is UTC, so ntz -> tz cast is identity
            t = F.unix_micros(t.cast("timestamp"))
            width = bucket_width.cast("long")
        else:
            width = bucket_width
        return df.withColumn(_B, F.floor(t / width))

    ev = bucketize(events, right_time)
    qr = bucketize(queries, left_time)

    # Pass 1: final event state per (entity, bucket) — max_by over tiny groups.
    state, tie = _event_state(right_time, values, tiebreak)
    order = F.struct(F.col(right_time), tie)
    bucket_last = ev.groupBy(*keys, _B).agg(
        F.max_by(state, order).alias(_STATE)
    )

    # Pass 2: carry-in for each bucket = last state of any PRIOR bucket.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_B).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Buckets that contain only queries must also receive carry-in; build the
    # bucket universe from both sides.
    buckets = (
        ev.select(*keys, _B).unionByName(qr.select(*keys, _B)).distinct()
    )
    # null-safe: distinct() groups null keys, and the window below treats
    # them as one partition
    carry = (
        _join_null_safe(buckets, bucket_last, keys + [_B], "__bl_")
        .withColumn("__carry", F.last(_STATE, ignorenulls=True).over(w))
        .select(*keys, _B, "__carry")
    )

    # Pass 3: in-bucket scan, partitioned by (entity, bucket) — hot entities
    # now spread across buckets — seeded with the carry-in.
    out_cols = list(queries.columns)
    ev_side, qr_side = _sides(qr, ev, keys + [_B], left_time, right_time, values, tiebreak)
    merged = ev_side.unionByName(qr_side, allowMissingColumns=True)
    scanned = _locf_scan(merged, keys + [_B], strict)
    # null-safe: an equi-join would drop carry-in for null keys and
    # null-time buckets, and the bucketed path would diverge from the
    # single-pass path
    scanned = (
        _join_null_safe(scanned.where(F.col(_SIDE) == 1), carry,
                        keys + [_B], "__c_")
        .withColumn(_STATE, F.coalesce(F.col(_STATE), F.col("__carry")))
        .drop("__carry")
    )
    return _finish(scanned, out_cols, values, left_time, tolerance, keep_matched_time)


def asof_join_broadcast(
    queries: DataFrame,
    events: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    values: list[str] | None = None,
    *,
    strict: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join for a SMALL event side: packed-history broadcast join.

    Truly zero shuffle of the (large) query side: each entity's event
    history is pre-aggregated into ONE time-sorted array (on the small
    side), broadcast-hash-joined onto the queries (broadcast joins
    preserve the stream side's partitioning — no exchange), and the match
    is picked per row with a pure array scan (filter + last element).
    The round-1 design exploded candidates with a broadcast range join and
    regrouped by the query payload — that regroup was itself a full
    query-side shuffle, crashed on map-typed payload columns, and
    float-normalized -0.0/NaN payloads through the grouping.

    Use when events fit the broadcast threshold (dimension-style
    histories). ``tiebreak`` breaks equal-time events (max wins), exactly
    like :func:`asof_join` — null-key grouping, null-tiebreak ordering
    (nulls first) and null-event-time visibility (sorts before every
    time) all mirror the union path's window semantics, pinned by
    tests/test_asof_robustness.py.
    """
    keys = _normalize_on(on)
    values = _default_values(events, keys, right_time, values)
    _check_clash(values, queries)
    state, tie = _event_state(right_time, values, tiebreak)
    entry = F.struct(
        F.col(right_time).alias("__t"), tie.alias("__tb"),
        state.alias(_STATE),
    )

    def _nf_lt(a, b):
        # null-first less-than (the union path sorts asc_nulls_first)
        return (a.isNull() & b.isNotNull()) | (a < b)

    def order_cmp(left, right):
        # compare on (__t, __tb) ONLY — the state payload never enters the
        # comparison, so unorderable value types (maps) are fine; nulls
        # order FIRST so the comparator stays total (an inconsistent
        # comparator would make the matched row depend on input row order)
        t_eq = left["__t"].eqNullSafe(right["__t"])
        lt = (_nf_lt(left["__t"], right["__t"])
              | (t_eq & _nf_lt(left["__tb"], right["__tb"])))
        eq = t_eq & left["__tb"].eqNullSafe(right["__tb"])
        return F.when(lt, F.lit(-1)).when(eq, F.lit(0)).otherwise(F.lit(1))

    packed = events.groupBy(*keys).agg(
        F.array_sort(F.collect_list(entry), order_cmp).alias("__hist"))
    j = _join_null_safe(queries, F.broadcast(packed), keys, "__pk_")

    # Visibility mirrors the union path's sort: a null event time sorts
    # before every time (visible at minus-infinity), and a null QUERY time
    # sees only null-time events (and under strict, not even those).
    # 1-arg lambdas closing over the query time (a 2-arg callable would be
    # sniffed as (element, index) — the CLAUDE.md F.filter arity trap).
    lt_col = F.col(left_time)
    if strict:
        vis = F.filter(
            F.col("__hist"),
            lambda e: (e["__t"].isNull() & lt_col.isNotNull())
            | (e["__t"] < lt_col))
    else:
        vis = F.filter(
            F.col("__hist"),
            lambda e: e["__t"].isNull() | (e["__t"] <= lt_col))
    match = F.when(F.size(vis) > 0, F.element_at(vis, F.size(vis)))
    sel = [F.col(c) for c in queries.columns] + [
        match[_STATE][v].alias(v) for v in values
    ]
    return j.select(*sel)
