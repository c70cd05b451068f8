"""Streaming temporal operators.

The reference is single-machine batch (documentation/comparison.md:17-21);
these are the engine's Structured Streaming extensions of the same
semantics:

- :func:`streaming_session_agg` — gap-based sessionization as
  ``F.session_window`` (the built-in streaming-native equivalent of the
  batch cumulative-sum formulation in
  dagli_spark.operators.window_features.sessionize), with watermarked
  late-data handling.
- :func:`streaming_locf_features` — per-entity last-observation state via
  ``applyInPandasWithState`` (custom stateful operator): the streaming
  as-of join — each incoming query row is answered from the entity's
  carried state, which only ever contains events with
  event_time <= the watermark frontier, preserving the zero-leakage
  contract online.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def streaming_session_agg(
    events: DataFrame, *, entity_col: str = "entity_id",
    time_col: str = "event_time", gap: str = "30 minutes",
    watermark: str = "1 hour", value_col: str = "label",
) -> DataFrame:
    """Per-(entity, session) aggregate over a gap-defined session window.

    Works on both streaming and batch frames (session_window is available
    in batch too, which is how the batch-equivalence test pins semantics).
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(time_col, watermark)
    return (
        src.groupBy(
            F.col(entity_col),
            F.session_window(F.col(time_col), gap).alias("session"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias(f"sum_{value_col}"),
        )
        .select(
            entity_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events", f"sum_{value_col}",
        )
    )


def streaming_windowed_agg(
    events: DataFrame, *, entity_col: str = "entity_id",
    time_col: str = "event_time", window: str = "1 hour",
    slide: str | None = None, watermark: str = "1 hour",
    value_col: str = "label",
) -> DataFrame:
    """Per-(entity, time-window) aggregate — tumbling (default) or sliding
    (``slide`` < ``window``) — the streaming counterpart of the batch
    rolling range frame (dagli_spark.operators.window_features.rolling).
    Watermarking bounds state: windows older than the frontier finalize and
    evict, so state is O(entities × open windows), not history-sized."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(time_col, watermark)
    win = (F.window(F.col(time_col), window, slide) if slide
           else F.window(F.col(time_col), window))
    return (
        src.groupBy(F.col(entity_col), win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias(f"sum_{value_col}"),
        )
        .select(
            entity_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events", f"sum_{value_col}",
        )
    )


_LOCF_OUTPUT = StructType([
    StructField("entity_id", StringType()),
    StructField("event_time", TimestampType()),
    StructField("label_locf", DoubleType()),
])

_LOCF_STATE = StructType([
    StructField("last_time", TimestampType()),
    StructField("last_label", DoubleType()),
])


def _locf_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Carry (last_time, last_label) per entity; emit LOCF per event.

    The whole micro-batch is concatenated before ONE stable time sort
    (the iterator chunks split at the Arrow batch size — sorting chunks
    independently would fold later chunks out of order), the fold is
    vectorized pandas ffill (no per-row Python), and the carried state
    never regresses: a late event older than the carried state updates
    nothing. Zero-leakage for late rows: a row OLDER than the carried
    state must not read that state (it was observed at last_time > the
    row's own time) — it takes only same-batch observations at or before
    its own position in the time sort, else null. Already-emitted newer
    rows cannot be revised in append mode; the watermark bounds how late
    such rows can be. Ties at equal event_time keep arrival order
    (stable sort) — the streaming feed's file order is the tiebreak."""
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("event_time", kind="stable")
    if state.exists:
        last_time, last_label = state.get
    else:
        last_time, last_label = None, None

    # float64 up front: an all-null batch arrives as object dtype, whose
    # ffill relies on pandas' deprecated silent downcast
    label = pdf["label"].astype("float64")
    obs_all = label.notna()
    obs = obs_all
    if last_time is not None:
        # observations older than the carried state never advance non-late
        # rows (the state is newer) nor the state itself
        obs = obs_all & (pdf["event_time"] >= last_time)
    locf = label.where(obs).ffill()
    if last_label is not None:
        locf = locf.fillna(last_label)
    if last_time is not None:
        late = pdf["event_time"] < last_time
        if late.any():
            # leak-free value for late rows: in-batch LOCF over ALL
            # observations (each row sees only obs <= its own time)
            locf = locf.where(~late, label.where(obs_all).ffill())
    out = pd.DataFrame({
        "entity_id": key[0],
        "event_time": pdf["event_time"].values,
        # rows before any observation are NULL, not NaN
        "label_locf": locf.astype(object).where(locf.notna(), None).values,
    })
    if obs.any():
        newest = pdf.index[obs.values][-1]  # last in stable time order
        cand_t, cand_l = pdf["event_time"][newest], float(label[newest])
        if last_time is None or cand_t >= last_time:
            last_time, last_label = cand_t, cand_l
    state.update((last_time, last_label))
    yield out


def streaming_locf_features(
    events: DataFrame, *, watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming LOCF over (entity_id, event_time, label)."""
    src = events.withWatermark("event_time", watermark) if events.isStreaming else events
    return src.groupBy("entity_id").applyInPandasWithState(
        _locf_fn,
        outputStructType=_LOCF_OUTPUT,
        stateStructType=_LOCF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
