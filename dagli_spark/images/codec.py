"""Pure-numpy image codecs (no PIL/libjpeg/libpng in this environment).

- ``png``: REAL PNG (8-bit RGB, zlib DEFLATE, filters 0-4 on decode,
  filter 0 on encode) — interoperable with any PNG reader; lossless, so
  decoded-pixel parity is exact.
- ``jpeg``: **deterministic lossy STAND-IN** (documented stub): the
  container has no JPEG codec, so ``fmt='jpeg'`` bytes here are a
  quantize+DEFLATE format ("QJPG") that reproduces JPEG's *contract* for
  the pipeline — lossy, quality-parameterized, PSNR >= 40 dB at q90
  (BASELINE.json input_hint) — with a magic header so a real libjpeg
  implementation can be swapped in behind the same encode/decode API.
  Swapping requires only replacing _encode_qjpg/_decode_qjpg.

All functions are numpy-vectorizable per Arrow batch; none require Spark.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QJPG_SIG = b"QJPG"

# Everything the decoders raise on a corrupt payload: their own checks
# raise ValueError, truncated headers fail struct.unpack and garbled bodies
# fail inflation. Featurizers catch exactly these, so a bug (TypeError,
# AttributeError, ...) still fails the stage instead of nulling rows.
DECODE_ERRORS = (ValueError, struct.error, zlib.error)


# ------------------------------------------------------------------- PNG

def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter type 0 per scanline."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = arr.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + _png_chunk(b"IEND", b""))


def _paeth(a, b, c):
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _png_raw(data: bytes) -> tuple[int, int, np.ndarray]:
    """Chunk walk + inflate shared by :func:`decode_png` and
    :func:`decode_into_planes`: returns (w, h, raw) with ``raw`` the
    (h, 1 + 3w) filtered scanline buffer."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h = 8, 0, None
    idat = []
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
            # compression / filter-method / interlace bytes: only 0/0/0 is
            # supported — an Adam7-interlaced file would otherwise reshape
            # to garbage or raise an opaque ValueError downstream
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG methods")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if h is None or not idat:
        # a catchable, meaningful error for truncated/garbled chunk walks
        # (an unbound h would otherwise surface as an opaque NameError)
        raise ValueError("corrupt PNG: missing IHDR/IDAT chunk")
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    return w, h, raw.reshape(h, 1 + w * 3)


def _png_defilter(raw: np.ndarray, h: int, w: int) -> np.ndarray:
    """General PNG filter reconstruction (filters 1-4 present)."""
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for y in range(h):
        f, line = raw[y, 0], raw[y, 1:].copy()
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub
            for x in range(bpp, w * 3):
                line[x] = (int(line[x]) + int(line[x - bpp])) & 0xFF
            out[y] = line
        elif f == 2:  # Up
            out[y] = (line + (out[y - 1] if y else 0)) & 0xFF
        elif f == 3:  # Average
            prev = out[y - 1] if y else np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
            out[y] = line
        elif f == 4:  # Paeth
            prev = out[y - 1] if y else np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                a = line[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + int(_paeth(np.uint8(a), prev[x], np.uint8(c)))) & 0xFF
            out[y] = line
        else:
            raise ValueError(f"unknown PNG filter {f}")
    return out.reshape(h, w, 3)


def decode_png(data: bytes) -> np.ndarray:
    w, h, raw = _png_raw(data)
    if not raw[:, 0].any():
        # all scanlines filter 0 (what encode_png writes): one strided copy
        # instead of h Python-level row iterations — 4-5x faster decode,
        # and decode is half the Python-stage cost of the image pipeline
        return np.ascontiguousarray(raw[:, 1:]).reshape(h, w, 3)
    return _png_defilter(raw, h, w)


# ------------------------------------------------------- QJPG (lossy stub)

def _quant_step(quality: int) -> int:
    # q90 -> step 4 (max error 2 per channel -> PSNR ~42-48 dB), q50 -> 16
    return max(1, int(round((100 - quality) * 0.4)))


def encode_qjpg(arr: np.ndarray, quality: int = 90) -> bytes:
    """Deterministic lossy stand-in for JPEG (see module docstring)."""
    h, w, c = arr.shape
    step = _quant_step(quality)
    q = (arr.astype(np.int32) + step // 2) // step
    q = np.clip(q, 0, 255 // step + 1).astype(np.uint8)
    head = _QJPG_SIG + struct.pack(">IIBB", w, h, quality, c)
    return head + zlib.compress(q.tobytes(), 6)


def decode_qjpg(data: bytes) -> np.ndarray:
    if data[:4] != _QJPG_SIG:
        raise ValueError("not a QJPG")
    w, h, quality, c = struct.unpack(">IIBB", data[4:14])
    step = _quant_step(quality)
    q = np.frombuffer(zlib.decompress(data[14:]), dtype=np.uint8)
    # uint16 in-place dequantize (q*step <= 10200 fits; 4x less transient
    # traffic than the equivalent int32 clip) — bit-identical output
    x = q.astype(np.uint16)
    x *= np.uint16(step)
    np.minimum(x, 255, out=x)
    return x.astype(np.uint8).reshape(h, w, c)


# ------------------------------------------------------------- unified API

def encode_image(arr: np.ndarray, fmt: str, quality: int = 90) -> bytes:
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpeg":
        return encode_qjpg(arr, quality)
    raise ValueError(f"unsupported fmt {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    if data[:8] == _PNG_SIG:
        return decode_png(bytes(data))
    if data[:4] == _QJPG_SIG:
        return decode_qjpg(bytes(data))
    raise ValueError("unknown image container")


def image_shape(data: bytes) -> tuple[int, int]:
    """(h, w) from the container header alone — no decompression. Lets a
    batch featurizer group payloads by shape BEFORE decoding, so each
    image can then be decoded straight into its slice of a preallocated
    channel-first stack (:func:`decode_into_planes`)."""
    if data[:8] == _PNG_SIG:
        if data[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: first chunk not IHDR")
        w, h = struct.unpack(">II", data[16:24])
        return int(h), int(w)
    if data[:4] == _QJPG_SIG:
        w, h = struct.unpack(">II", data[4:12])
        return int(h), int(w)
    raise ValueError("unknown image container")


def decode_into_planes(data: bytes, out: np.ndarray) -> None:
    """Decode into a preallocated (3, h, w) uint8 channel-first view with
    one strided gather per plane — no intermediate (h, w, 3) image, no
    stack copy, no transpose. DRAM traffic is the 32-worker scaling limit
    of the decode stage: after inflation this path moves each byte once
    (strided read -> contiguous write) vs three times for the
    decode -> np.stack -> transpose chain it replaces. Values are
    bit-identical to ``decode_image(data).transpose(2, 0, 1)``."""
    data = bytes(data)
    _, h, w = out.shape[0], out.shape[1], out.shape[2]
    if data[:8] == _PNG_SIG:
        pw, ph, raw = _png_raw(data)
        if (ph, pw) != (h, w):
            raise ValueError("payload shape does not match destination")
        if not raw[:, 0].any():
            body = raw[:, 1:]
            for c in range(3):
                out[c] = body[:, c::3]
        else:
            out[:] = _png_defilter(raw, ph, pw).transpose(2, 0, 1)
        return
    if data[:4] == _QJPG_SIG:
        qw, qh, quality, nc = struct.unpack(">IIBB", data[4:14])
        if (qh, qw) != (h, w) or nc != 3:
            raise ValueError("payload shape does not match destination")
        step = _quant_step(quality)
        q = np.frombuffer(zlib.decompress(data[14:]),
                          dtype=np.uint8).reshape(h, w, 3)
        for c in range(3):
            # per-plane uint16 dequantize (q*step <= 10200 fits): the
            # transient is plane-sized, and the result lands directly in
            # the destination plane — bit-identical to decode_qjpg
            x = q[:, :, c].astype(np.uint16)
            x *= np.uint16(step)
            np.minimum(x, 255, out=x)
            out[c] = x
        return
    raise ValueError("unknown image container")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)
