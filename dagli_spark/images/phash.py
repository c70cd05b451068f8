"""64-bit perceptual hash (pHash) and phash-derived embeddings, pure numpy.

Standard public construction: grayscale -> area-mean resize to 32x32 ->
2D DCT-II -> top-left 8x8 coefficient block -> median threshold (DC
excluded) -> 64 bits. Deterministic; the fixture generator stores this
exact hash so feature parity is verifiable from the bytes column
(FIXTURES.md §1).

This fills the slot of the reference's opaque trainable embeddings
(Word2VecEmbedding, NN layers — SURVEY.md §2.13): a vectorized,
per-executor-initialized heavy stage over the binary payload.
"""

from __future__ import annotations

import numpy as np

_DCT_CACHE: dict = {}


def _dct_matrix(n: int = 32) -> np.ndarray:
    m = _DCT_CACHE.get(n)
    if m is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
        m[0, :] = np.sqrt(1.0 / n)
        _DCT_CACHE[n] = m
    return m


def _resize_32(gray: np.ndarray) -> np.ndarray:
    """Exact area-mean downsample; fixture sizes {32,64,128} are all
    multiples of 32. Non-multiple sizes fall back to strided sampling."""
    h, w = gray.shape
    if h % 32 == 0 and w % 32 == 0:
        return gray.reshape(32, h // 32, 32, w // 32).mean(axis=(1, 3))
    ys = (np.arange(32) * h // 32)
    xs = (np.arange(32) * w // 32)
    return gray[np.ix_(ys, xs)]


def phash64(arr: np.ndarray) -> int:
    """arr: (h, w, 3) uint8 -> 64-bit int (signed int64 range)."""
    gray = arr.astype(np.float64).mean(axis=2)
    small = _resize_32(gray)
    d = _dct_matrix()
    coef = d @ small @ d.T
    block = coef[:8, :8].copy()
    flat = block.flatten()
    med = np.median(flat[1:])  # exclude DC term
    bits = (flat > med).astype(np.uint64)
    h = np.uint64(0)
    for i in range(64):
        h |= bits[i] << np.uint64(i)
    return int(h.astype(np.int64))  # store as signed (Spark LongType)


def phash64_stack(stack: np.ndarray | None = None, *,
                  gray3: np.ndarray | None = None) -> np.ndarray:
    """Batched phash over a (B, h, w, 3) uint8 stack of SAME-SHAPE images —
    one batched matmul instead of B Python round-trips; bit-identical to
    :func:`phash64` per image (each reduction covers the same elements in
    the same order). ``gray3`` optionally supplies the precomputed integer
    channel-sum plane (sum over axis 3): gray = gray3 / 3.0 is bit-identical
    to astype(float64).mean(axis=3) because the 3-term integer sum is exact
    in float64 — and skips the 8x float64 image copy (bandwidth, see
    features/image_features._features_batch). With ``gray3`` given the
    interleaved stack is not consulted at all and may be omitted (the
    fused plane-decode path never materializes one)."""
    if gray3 is None:
        gray3 = stack.sum(axis=3, dtype=np.int16)
    b, h, w = gray3.shape
    gray = gray3.astype(np.float64) / 3.0
    if h % 32 == 0 and w % 32 == 0:
        small = gray.reshape(b, 32, h // 32, 32, w // 32).mean(axis=(2, 4))
    else:
        ys = (np.arange(32) * h // 32)
        xs = (np.arange(32) * w // 32)
        small = gray[:, ys][:, :, xs]
    d = _dct_matrix()
    coef = np.matmul(np.matmul(d, small), d.T)       # (B, 32, 32)
    flat = coef[:, :8, :8].reshape(b, 64)
    med = np.median(flat[:, 1:], axis=1)
    bits = (flat > med[:, None]).astype(np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return (bits * weights).sum(axis=1).astype(np.int64)


def phash_to_vector(h) -> np.ndarray:
    """64-dim float32 ±1 embedding from the hash bits — the 'phash-derived
    embedding' of the north star. Works on scalars or arrays."""
    hs = np.asarray(h, dtype=np.int64).astype(np.uint64)
    bits = ((hs[..., None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
    return (bits.astype(np.float32) * 2.0 - 1.0)


def hamming64_np(a, b) -> np.ndarray:
    x = (np.asarray(a, np.int64).astype(np.uint64)
         ^ np.asarray(b, np.int64).astype(np.uint64))
    cnt = np.zeros(x.shape, dtype=np.int64)
    for i in range(64):
        cnt += ((x >> np.uint64(i)) & np.uint64(1)).astype(np.int64)
    return cnt
