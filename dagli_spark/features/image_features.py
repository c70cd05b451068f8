"""Image featurizers over the binary ``bytes`` column.

All heavy per-row work is Arrow-batched (``mapInPandas`` iterator form —
init once per task, process record batches), never row-at-a-time Python:
this is the Spark shape of the reference's stateful minibatched transformer
API (AbstractPreparedStatefulTransformerX: createExecutionCache +
preferredMinibatchSize + bulk applyAllUnsafe,
/root/reference/core/src/main/java/com/linkedin/dagli/transformer/internal/PreparedTransformerInternalAPI.java:96-165),
which is exactly how the reference wraps heavy models like XGBoost
(SURVEY.md §2.13).

Column-pruning contract: call :func:`with_decode_features` as late as
possible and only on rows that need pixels — upstream stages must never
select ``bytes`` (Parquet then skips the fat column entirely).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from dagli_spark.images.codec import DECODE_ERRORS, decode_image
from dagli_spark.images.phash import phash64

DECODE_FIELDS = [
    StructField("px_mean_r", DoubleType()),
    StructField("px_mean_g", DoubleType()),
    StructField("px_mean_b", DoubleType()),
    StructField("px_std", DoubleType()),
    StructField("px_brightness", DoubleType()),
    StructField("px_edge_energy", DoubleType()),
    StructField("phash_check", LongType()),
]


def _decode_one(data: bytes) -> tuple:
    """Single-image oracle path — same integer-exact reductions as
    :func:`_features_batch` (bit-identical by construction); corrupt
    payloads degrade to an all-null row like the batch path."""
    try:
        arr = decode_image(data)
    except DECODE_ERRORS:
        return (None,) * len(DECODE_FIELDS)
    h, w, _ = arr.shape
    npx = h * w * 3
    sums = arr.sum(axis=(0, 1), dtype=np.float64)        # exact int sums
    means = sums / (h * w)
    mean_all = sums.sum() / npx
    s2 = np.einsum("hwc,hwc->", arr, arr, dtype=np.float64)  # exact
    std = float(np.sqrt(max(s2 / npx - mean_all * mean_all, 0.0)))
    bright = float(means.mean())
    gray3 = arr.sum(axis=2, dtype=np.int16)              # 3x gray, exact
    gx = float(np.abs(np.diff(gray3, axis=1)).mean(dtype=np.float64) / 3.0)
    gy = float(np.abs(np.diff(gray3, axis=0)).mean(dtype=np.float64) / 3.0)
    return (
        float(means[0]), float(means[1]), float(means[2]),
        std, bright, gx + gy, phash64(arr),
    )


# Per-stack chunking. Bit-identity across chunk splits is the pinned
# contract (integer-exact reductions), so the chunk size is purely a
# bandwidth knob: at 32 concurrent workers the machine's DRAM bus — not
# CPU — limits scaling, and with a large chunk every post-decode pass
# (channel sums, square-sum einsum, gray build, dx/dy gradients, the
# phash float64 gray + resize) re-streams the whole chunk from DRAM.
# Sizing the chunk so the per-chunk transient set (~20 B/px: cf 3 +
# gray3 2 + float64 gray 8 + |d| planes 4 + decode scratch) fits in a
# core's private cache turns those re-reads into cache hits; each byte
# then crosses the bus ~once (decode write + first read) instead of
# ~6x. _STACK_CHUNK stays the upper bound for tiny images where per-call
# numpy overhead would dominate.
_STACK_CHUNK = 1024
_CHUNK_BUDGET_BYTES = 1 << 21      # ~2 MiB transients -> L2-resident
_TRANSIENT_BYTES_PER_PX = 20


def _chunk_for(hh: int, ww: int) -> int:
    by_budget = _CHUNK_BUDGET_BYTES // (_TRANSIENT_BYTES_PER_PX * hh * ww)
    return max(4, min(_STACK_CHUNK, by_budget))

# Decompression-bomb guard: the channel-first stack is preallocated from
# container-HEADER dims alone, so a corrupt payload whose header parses but
# declares absurd dimensions (a truncated PNG claiming 65535x65535 would be
# a ~12.9 GB np.empty) must be rejected BEFORE allocation — one bad image
# must never fail the Spark stage. An image is implausible when its raw
# plane bytes exceed either a hard cap or max_compression x payload size
# (PNG/QJPG of real pixel data never reaches 2048:1; the fixtures' worst
# constant-tile images are ~50:1).
_MAX_PLANE_BYTES = 1 << 28  # 256 MiB raw per image (~9.5k x 9.5k RGB)
_MAX_COMPRESSION = 2048


def _features_batch(datas: "pd.Series") -> list[tuple]:
    """Per-Arrow-batch featurization: group payloads by shape from the
    container HEADER alone (no decompression), then decode each image
    straight into its slice of a preallocated channel-first (B, 3, H, W)
    stack and compute pixel stats + phash as BATCHED numpy over it.

    Bandwidth discipline (this stage is the wall-time leader of the whole
    benchmark, and at 32 concurrent workers the machine's memory bandwidth
    — not CPU — is the scaling limit): header-first grouping means the
    decode -> np.stack -> transpose chain (3 reads + 3 writes per byte)
    collapses into ONE gather per plane directly into the reduction
    layout (codec.decode_into_planes), and all statistics are
    integer-exact reductions computed straight off the uint8 planes with
    float64 ACCUMULATORS (sums, einsum square-sum, int16 gray-plane
    diffs) — an 8x-sized float64 image copy never materializes. Every
    reduction input is an exact integer below 2^53, so results are
    bit-identical across batch/chunk splits and parallelism levels (grid
    test); px_std and edge energy are numpy-allclose to the naive
    two-pass float formulas (~1e-12 relative), and phash is bit-identical
    to the fixture's stored hashes. Pinned by
    tests/test_images_northrule.py."""
    from dagli_spark.images.codec import decode_into_planes, image_shape
    from dagli_spark.images.phash import phash64_stack

    nulls = (None,) * len(DECODE_FIELDS)
    vals = list(datas)
    n = len(vals)
    out: list = [None] * n
    by_shape: dict[tuple, list[int]] = {}
    for i, b in enumerate(vals):
        if b is None:
            out[i] = nulls
            continue
        try:
            hw = image_shape(bytes(b))
            # degenerate dims (0xN headers from truncated payloads) must be
            # rejected here too: they pass the size gate trivially and would
            # hit zero divides in _chunk_for and the per-pixel means below
            if hw[0] <= 0 or hw[1] <= 0:
                raise ValueError("degenerate header dims")
            if (hw[0] * hw[1] * 3
                    > min(_MAX_PLANE_BYTES, len(b) * _MAX_COMPRESSION)):
                raise ValueError("implausible header dims for payload size")
        except DECODE_ERRORS:
            # corrupt/truncated payload: emit an all-null feature row —
            # one bad image must never fail the whole Spark stage (same
            # contract as the audio/video featurizers, features/multimodal)
            out[i] = nulls
            continue
        by_shape.setdefault(hw, []).append(i)
    for (hh, ww), all_idxs in by_shape.items():
        chunk = _chunk_for(hh, ww)
        for c0 in range(0, len(all_idxs), chunk):
            idxs = all_idxs[c0:c0 + chunk]
            try:
                cf = np.empty((len(idxs), 3, hh, ww), dtype=np.uint8)
            except MemoryError:
                # belt-and-braces behind the plausibility gate: degrade the
                # affected rows, never the stage
                for i in idxs:
                    out[i] = nulls
                continue
            for j, i in enumerate(idxs):
                try:
                    decode_into_planes(vals[i], cf[j])
                except DECODE_ERRORS:
                    # header parsed but the body is corrupt: null row; the
                    # zeroed slice still flows through the batched math
                    # (per-image reductions are independent) and is
                    # discarded below
                    cf[j] = 0
                    out[i] = nulls
            npx = hh * ww * 3
            sums = cf.reshape(len(idxs), 3, -1).sum(
                axis=2, dtype=np.float64)                     # (B, 3) exact
            means = sums / (hh * ww)
            mean_all = sums.sum(axis=1) / npx
            s2 = np.einsum("bchw,bchw->b", cf, cf,
                           dtype=np.float64)                  # exact
            std = np.sqrt(np.maximum(s2 / npx - mean_all * mean_all, 0.0))
            bright = means.mean(axis=1)
            gray3 = cf[:, 0].astype(np.int16)                 # exact 3x gray
            gray3 += cf[:, 1]
            gray3 += cf[:, 2]
            dx = gray3[:, :, 1:] - gray3[:, :, :-1]           # |d| <= 765
            np.abs(dx, out=dx)
            gx = dx.mean(axis=(1, 2), dtype=np.float64) / 3.0
            dy = gray3[:, 1:, :] - gray3[:, :-1, :]
            np.abs(dy, out=dy)
            gy = dy.mean(axis=(1, 2), dtype=np.float64) / 3.0
            hashes = phash64_stack(gray3=gray3)
            for j, i in enumerate(idxs):
                if out[i] is None:
                    out[i] = (
                        float(means[j, 0]), float(means[j, 1]),
                        float(means[j, 2]), float(std[j]), float(bright[j]),
                        float(gx[j] + gy[j]), int(hashes[j]),
                    )
    return out


def append_binary_features(
    df: DataFrame, bytes_col: str, fields, batch_fn, *,
    drop_bytes: bool = True,
) -> DataFrame:
    """Shared mapInPandas scaffold for binary-column featurizers (image /
    audio / video): Arrow-batched, appends ``fields``, optionally consumes
    the payload inside the UDF (never echo fat columns back — the double
    Arrow crossing costs ~10x the feature math). ``batch_fn(series) ->
    list[tuple]`` returns one feature tuple (or all-None) per row."""
    keep = [f for f in df.schema.fields
            if not (drop_bytes and f.name == bytes_col)]
    out_schema = StructType(keep + list(fields))
    names = [f.name for f in fields]
    keep_names = [f.name for f in keep]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            feats = batch_fn(pdf[bytes_col])
            fdf = pd.DataFrame(feats, columns=names, index=pdf.index)
            yield pd.concat([pdf[keep_names], fdf], axis=1)

    return df.mapInPandas(gen, schema=out_schema)


def with_decode_features(df: DataFrame, bytes_col: str = "bytes",
                         *, drop_bytes: bool = True) -> DataFrame:
    """Decode + pixel statistics + recomputed phash, appended to every row.

    mapInPandas iterator-of-batches: per-task constants are initialized
    once; each Arrow batch is processed as a unit. With ``drop_bytes``
    (default) the binary payload is consumed inside the UDF and NOT echoed
    back — otherwise every image crosses the Arrow boundary twice, and the
    JVM->Python->JVM round trip of the fat column costs ~10x the actual
    decode at scale."""
    return append_binary_features(df, bytes_col, DECODE_FIELDS,
                                  _features_batch, drop_bytes=drop_bytes)


def phash_embedding_col(phash_col: str = "phash") -> F.Column:
    """64-dim ±1.0 float embedding from the phash bits — pure Catalyst
    (no Python): the 'phash-derived embedding' of the north star, usable
    by every downstream vector op without touching pixels."""
    return F.expr(
        f"transform(sequence(0, 63), "
        f"i -> cast(cast(shiftright({phash_col}, i) & 1 as float) * 2.0 - 1.0 "
        f"as float))"
    ).cast(ArrayType(FloatType()))

