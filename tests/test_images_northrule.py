"""Image codec, phash parity, and the north-rule pipeline: feature parity
vs a pandas oracle, zero-leakage proof (poison test), parallelism
invariance, and PSNR gate for the lossy path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dagli_spark.fixtures import materialize
from dagli_spark.images.codec import (
    decode_image,
    encode_image,
    encode_png,
    decode_png,
    encode_qjpg,
    decode_qjpg,
    psnr,
)
from dagli_spark.images.phash import hamming64_np, phash64, phash_to_vector
from dagli_spark.northrule import (
    FEATURE_NAMES,
    build_features,
    event_features,
    leakage_audit,
)


@pytest.fixture(scope="module")
def paths(spark):
    return materialize(spark, "smoke")


# ------------------------------------------------------------- codec unit

def test_png_roundtrip_exact():
    rng = np.random.RandomState(7)
    for shape in [(32, 32, 3), (64, 128, 3)]:
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a)), a)


def test_png_nonzero_filters_still_decode():
    """decode_png's vectorized path only covers all-filter-0 files (what
    encode_png writes); foreign PNGs using Sub/Up/Average/Paeth per
    scanline must still decode exactly via the general row loop."""
    import struct
    import zlib

    rng = np.random.RandomState(13)
    a = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    flat = a.reshape(5, 21).astype(np.int32)

    def paeth(l, u, ul):
        p = l + u - ul
        pa, pb, pc = abs(p - l), abs(p - u), abs(p - ul)
        return l if (pa <= pb and pa <= pc) else (u if pb <= pc else ul)

    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        raw.append(f)
        for x in range(21):
            cur = int(flat[y, x])
            left = int(flat[y, x - 3]) if x >= 3 else 0
            up = int(flat[y - 1, x]) if y else 0
            upl = int(flat[y - 1, x - 3]) if (y and x >= 3) else 0
            if f == 0:
                raw.append(cur)
            elif f == 1:
                raw.append((cur - left) & 0xFF)
            elif f == 2:
                raw.append((cur - up) & 0xFF)
            elif f == 3:
                raw.append((cur - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((cur - paeth(left, up, upl)) & 0xFF)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), a)


def test_batch_features_bit_match_single():
    """_features_batch (channel-first batched kernels) is bit-identical to
    the single-image oracle _decode_one across mixed shapes, formats, nulls
    and corrupt payloads — the exact-integer-reduction contract."""
    from dagli_spark.features.image_features import _decode_one, _features_batch

    rng = np.random.RandomState(5)
    blobs = []
    for shape in [(32, 32, 3), (64, 32, 3), (128, 128, 3), (32, 32, 3)]:
        arr = rng.randint(0, 256, shape, dtype=np.uint8)
        blobs.append(encode_png(arr))
        blobs.append(encode_qjpg(arr, 90))
    blobs.append(None)
    blobs.append(b"garbage-not-an-image")
    got = _features_batch(pd.Series(blobs))
    for blob, row in zip(blobs, got):
        single = _decode_one(blob) if blob is not None else (None,) * 7
        assert row == single, (row, single)


def test_decompression_bomb_degrades_to_null_row():
    """A payload whose header parses but declares absurd dims (truncated
    PNG claiming 60000x60000 -> ~10.8 GB stack slice) must yield a null
    feature row, never an allocation failure that kills the stage — the
    stack is preallocated from header dims alone (round-3 advice)."""
    import struct
    import zlib

    from dagli_spark.features.image_features import _features_batch

    ihdr = struct.pack(">II", 60000, 60000) + bytes([8, 2, 0, 0, 0])
    bomb = (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
            + b"\x00" * 64)  # truncated body
    ok = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    got = _features_batch(pd.Series([ok, bomb, ok]))
    assert got[1] == (None,) * 7
    assert got[0] == got[2] and got[0][0] is not None  # neighbors intact


def test_zero_dim_header_degrades_to_null_row():
    """A corrupt header declaring width=0 (or height=0) sails past the
    size gate (0 bytes is never 'too big') but must still yield a null
    row — it would otherwise hit zero divides in the chunk sizing and the
    per-pixel means and kill the stage (round-4 review)."""
    import struct
    import zlib

    from dagli_spark.features.image_features import _features_batch

    ok = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    for w, h in [(0, 16), (16, 0), (0, 0)]:
        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        zero = (b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13) + b"IHDR" + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
                + b"\x00" * 64)
        got = _features_batch(pd.Series([ok, zero]))
        assert got[1] == (None,) * 7, (w, h, got[1])
        assert got[0][0] is not None


def test_decoder_bug_fails_instead_of_nulling(monkeypatch):
    """Degrade on bad data, fail on bad code: the featurizers catch only
    what the codec raises on a corrupt payload (codec.DECODE_ERRORS), so a
    planted bug in the decoder (a TypeError) propagates out of both the
    batched and the single-image path instead of becoming null rows."""
    from dagli_spark.features import image_features
    from dagli_spark.images import codec

    def buggy(*args):
        raise TypeError("planted decoder bug")

    ok = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    monkeypatch.setattr(codec, "decode_into_planes", buggy)
    with pytest.raises(TypeError, match="planted decoder bug"):
        image_features._features_batch(pd.Series([ok]))
    monkeypatch.setattr(image_features, "decode_image", buggy)
    with pytest.raises(TypeError, match="planted decoder bug"):
        image_features._decode_one(ok)


def test_corrupt_ihdr_raises_decode_error():
    """Unsupported or truncated IHDR fields raise one of
    codec.DECODE_ERRORS (ValueError here), never an AssertionError or
    IndexError that the featurizers would treat as a bug."""
    import struct
    import zlib

    from dagli_spark.images.codec import DECODE_ERRORS

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    ihdr_at = good.index(b"IHDR") + 4
    for patch in ([(8, 16)],              # 16-bit depth
                  [(9, 6)],               # RGBA
                  [(12, 1)]):             # Adam7 interlace
        body = bytearray(good[ihdr_at:ihdr_at + 13])
        for off, val in patch:
            body[off] = val
        bad = (good[:ihdr_at] + bytes(body)
               + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF)
               + good[ihdr_at + 17:])
        with pytest.raises(ValueError):
            decode_image(bad)
    short = (good[:8] + struct.pack(">I", 11) + b"IHDR"
             + good[ihdr_at:ihdr_at + 11])
    with pytest.raises(DECODE_ERRORS):
        decode_image(short)

def test_qjpg_psnr_gate():
    """input_hint: PSNR >= 40 dB for the lossy path at q90."""
    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, (64, 64, 3), dtype=np.uint8)
    d = decode_qjpg(encode_qjpg(a, 90))
    assert psnr(a, d) >= 40.0


def test_phash_properties():
    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, (64, 64, 3), dtype=np.uint8)
    h1 = phash64(a)
    # deterministic
    assert phash64(a.copy()) == h1
    # robust to mild lossy re-encode (the perceptual property)
    lossy = decode_qjpg(encode_qjpg(a, 90))
    assert int(hamming64_np(h1, phash64(lossy))[()]) <= 8
    v = phash_to_vector(h1)
    assert v.shape == (64,) and set(np.unique(v)) <= {-1.0, 1.0}


def test_stored_phash_matches_bytes(spark, paths):
    """FIXTURES §1: phash is the actual hash of the decoded bytes."""
    img = spark.read.parquet(paths["images"]).limit(64).toPandas()
    for _, r in img.iterrows():
        assert phash64(decode_image(r["bytes"])) == r["phash"], r["image_id"]


# ------------------------------------------------------------- pipeline

def _run(spark, paths, **opts):
    return build_features(
        spark.read.parquet(paths["queries"]),
        spark.read.parquet(paths["image_events"]),
        spark.read.parquet(paths["images"]),
        **opts,
    )


def _key(r):
    return (r["entity_id"], str(r["asof_time"]), int(r["qseq"]))


def test_feature_parity_vs_pandas_oracle(spark, paths):
    """numpy-allclose parity of every feature vector against an independent
    pandas implementation of the same semantics (the translation of the
    reference's SimpleDAGExecutor single-threaded oracle,
    core/.../dag/SimpleDAGExecutor.java:33-41)."""
    out = _run(spark, paths).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    ).toPandas()

    ev = spark.read.parquet(paths["image_events"]).toPandas()
    img = spark.read.parquet(paths["images"]).toPandas().set_index("image_id")
    qs = spark.read.parquet(paths["queries"]).toPandas()

    ev = ev.merge(img[["phash"]], left_on="image_id", right_index=True)
    ev = ev.sort_values(["entity_id", "event_time", "eseq"]).reset_index(drop=True)

    # pandas oracle features per event
    def per_entity(g):
        g = g.copy()
        g["label_lag1"] = g["label"].shift(1)
        ph = g["phash"].to_numpy()
        ham = np.full(len(g), -1.0)
        if len(g) > 1:
            ham[1:] = hamming64_np(ph[1:], ph[:-1]).astype(float)
        g["hamming_prev"] = ham
        g["label_avg5"] = g["label"].rolling(5, min_periods=1).mean()
        es = (g["event_time"].astype("int64") // 10**9 // 1)  # ns -> s
        g["epoch_s"] = (g["event_time"].astype("int64") // 10**6 // 10**3) // 1000
        g["epoch_s"] = g["event_time"].astype("int64") // 10**9
        cnt = np.array([
            ((g["epoch_s"] >= t - 3600) & (g["epoch_s"] <= t)).sum()
            for t in g["epoch_s"]
        ])
        g["cnt_1h"] = cnt.astype(float)
        gap = g["event_time"].diff()
        is_new = (gap > pd.Timedelta(minutes=30)) | gap.isna()
        g["session_id"] = is_new.cumsum().astype(float) - 1
        g["secs_since_prev"] = (g["epoch_s"].diff()).fillna(-1.0)
        return g

    ev = ev.groupby("entity_id", group_keys=False)[ev.columns].apply(per_entity)

    checked = 0
    for _, q in qs.iterrows():
        hist = ev[(ev["entity_id"] == q["entity_id"])
                  & (ev["event_time"] <= q["asof_time"])]
        row = out[(out["entity_id"] == q["entity_id"])
                  & (out["asof_time"] == q["asof_time"])
                  & (out["qseq"] == q["qseq"])]
        assert len(row) == 1, f"query row missing/dup: {q}"
        vec = np.array(row.iloc[0]["feature_vector"], dtype=float)
        if hist.empty:
            assert np.isnan(vec[:7]).all(), f"expected NaN features: {q} {vec}"
            continue
        m = hist.sort_values(["event_time", "eseq"]).iloc[-1]
        expected = [
            m["label"],
            m["label_lag1"] if pd.notna(m["label_lag1"]) else np.nan,
            m["label_avg5"], m["cnt_1h"], m["session_id"],
            float(m["secs_since_prev"]), m["hamming_prev"],
        ]
        got = vec[:7]
        for name, e, g in zip(FEATURE_NAMES[:7], expected, got):
            if pd.isna(e):
                assert np.isnan(g), (q["entity_id"], name, e, g)
            else:
                assert np.isclose(e, g, rtol=1e-9, atol=1e-9), \
                    (q["entity_id"], str(q["asof_time"]), name, e, g)
        # pixel features match a direct decode of the matched image
        arr = decode_image(img.loc[m["image_id"], "bytes"])
        f = arr.astype(np.float64)
        assert np.isclose(vec[7], f[..., 0].mean())
        assert np.isclose(vec[10], f.std())
        checked += 1
    assert checked > 50


def test_zero_leakage_poison(spark, paths):
    """FIXTURES §5 leak_probe: poison every event strictly after each
    query's asof_time — feature vectors must be identical."""
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])

    base = build_features(qs, ev, img).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    )
    # poison: any event AFTER the entity's max asof_time gets label + time-shifted
    max_asof = qs.groupBy("entity_id").agg(F.max("asof_time").alias("mx"))
    poisoned = (
        ev.join(max_asof, "entity_id", "left")
        .withColumn(
            "label",
            F.when(F.col("event_time") > F.col("mx"), F.lit(9999.0))
            .otherwise(F.col("label")),
        )
        .drop("mx")
    )
    pois = build_features(qs, poisoned, img).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    )
    a = sorted(map(str, base.collect()))
    b = sorted(map(str, pois.collect()))
    assert a == b

    audit = leakage_audit(build_features(qs, ev, img))
    assert audit["violations"] == 0 and audit["rows"] > 0


def test_parallelism_invariance(spark, paths):
    """DAGTest executor grid analogue: results identical at different
    partition counts (core/.../dag/DAGTest.java:45-97)."""
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])
    a = build_features(qs.repartition(3), ev.repartition(5), img,
                       with_pixels=False)
    b = build_features(qs.repartition(64), ev.repartition(37), img,
                       with_pixels=False)
    ra = sorted(str(r) for r in a.select("entity_id", "asof_time", "qseq",
                                         "feature_vector").collect())
    rb = sorted(str(r) for r in b.select("entity_id", "asof_time", "qseq",
                                         "feature_vector").collect())
    assert ra == rb


def test_bucketed_path_matches(spark, paths):
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])
    a = build_features(qs, ev, img, with_pixels=False)
    b = build_features(qs, ev, img, with_pixels=False,
                       time_buckets=8, bucket_width=F.lit(12 * 3600 * 1_000_000))
    cols = ["entity_id", "asof_time", "qseq", "feature_vector"]
    ra = sorted(str(r) for r in a.select(*cols).collect())
    rb = sorted(str(r) for r in b.select(*cols).collect())
    assert ra == rb


def test_hot_entity_bucketed_windows_match_plain(spark, paths):
    """The time-bucketed two-phase window path for hot entities (skew
    handling at the WINDOW stage, not just joins) must reproduce the plain
    per-entity windows exactly — forced at smoke scale by dropping the hot
    threshold so the fixture's hot entities route through bucketing."""
    from dagli_spark.northrule import event_features

    ev = spark.read.parquet(paths["image_events"])
    im = spark.read.parquet(paths["images"])
    plain = event_features(ev, im, with_pixels=False, hot_min_rows=None)
    forced = event_features(ev, im, with_pixels=False,
                            hot_min_rows=100, hot_target_rows=20)
    cols = sorted(plain.columns)
    assert sorted(forced.columns) == cols
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in forced.select(*cols).collect())
    assert a == b
    # and end-to-end through the as-of join + vector assembly
    qs = spark.read.parquet(paths["queries"])
    base = build_features(qs, ev, im, with_pixels=False, hot_min_rows=None)
    skewed = build_features(qs, ev, im, with_pixels=False,
                            hot_min_rows=100, hot_target_rows=20)
    keys = ["entity_id", "asof_time", "qseq", "feature_vector"]
    ra = sorted(str(r) for r in base.select(*keys).collect())
    rb = sorted(str(r) for r in skewed.select(*keys).collect())
    assert ra == rb


def test_event_features_two_sorts_one_exchange(spark, paths):
    """Stage-shape pin (round-3 scaling work): the windowed-feature pass
    sorts the event table exactly TWICE — once for every (event_time,
    eseq)-ordered window (lag/rolling/session/secs share it) and once for
    the epoch_s range frame (cnt_1h) — behind ONE entity exchange.
    Interleaving the range window mid-chain regresses this to 3 sorts."""
    import re

    ev = spark.read.parquet(paths["image_events"])
    im = spark.read.parquet(paths["images"])
    df = event_features(ev, im, with_pixels=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sorts = [l for l in plan.splitlines() if re.match(r"[\s:+-]*\+- Sort ", l)]
    assert len(sorts) == 2, sorts
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_bucketed_windows_thin_buckets_transitive_carry(spark):
    """Regression: the bucketed path's tail carry must be TRANSITIVE.
    When the previous occupied bucket holds fewer than 4 rows, a
    rows(-4,0) frame in the destination reaches through it into earlier
    buckets — the original single-hop carry (last 4 rows of the previous
    non-empty bucket only) under-filled such frames and label_avg5
    silently depended on the hot threshold. Cases: the review's 5-1-3
    repro, a 4-deep chain of 1-row buckets, an empty bucket gap,
    boundary-adjacent rows where the tail and horizon routes meet, and
    null event times (their bucket sorts first and must reach the later
    buckets, as null times do in the plain window)."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    cases = {
        "5-1-3": [100, 200, 300, 400, 500, 7300, 14500, 14600, 14700],
        "2-1-1-1-2": [100, 200, 7300, 14500, 21700, 28900, 29000],
        "5-gap-3": [100, 200, 300, 400, 500, 14500, 14600, 14700],
        "horizon-overlap": [7000, 7100, 7190, 7300, 14350, 14390, 14500],
        "null-times": [None, None, 100, 8000],
    }
    base = dt.datetime(2026, 1, 1)
    for name, ts in cases.items():
        rows = [("E", None if s is None else base + dt.timedelta(seconds=s),
                 i, f"img{i % 3}", float(i + 1)) for i, s in enumerate(ts)]
        ev = spark.createDataFrame(rows, schema)
        plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
        buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
        cols = sorted(plain.columns)
        a = sorted(str(r) for r in plain.select(*cols).collect())
        b = sorted(str(r) for r in buck.select(*cols).collect())
        assert a == b, f"{name}: bucketed diverges from plain"


def test_bucketed_windows_match_plain_seeded_layouts(spark):
    """The bucketed path equals the plain window on 12 seeded layouts of
    2 hot entities each (1-40 events; 15% null times in the odd seeds;
    rows on the 1h horizon boundary and on bucket edges; thin and empty
    buckets), at the smallest legal bucket width and at twice it. All
    layouts share one frame, one entity pair per seed."""
    import datetime as dt
    import random

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(5)],
        ["image_id", "phash"])
    base = dt.datetime(2026, 1, 1)
    rows = []
    for seed in range(12):
        rng = random.Random(seed)
        for ent in (f"s{seed}a", f"s{seed}b"):
            n_buckets = rng.choice([2, 6, 12])  # of 7,200 s
            for i in range(rng.randint(1, 40)):
                b = rng.randrange(n_buckets)
                kind = rng.random()
                if seed % 2 and kind < 0.15:
                    t = None
                elif kind < 0.4:  # the next bucket's horizon boundary
                    t = b * 7200 + 3600 + rng.choice([-1, 0, 1])
                elif kind < 0.55:  # a bucket edge
                    t = b * 7200 + rng.choice([-1, 0])
                else:
                    t = b * 7200 + rng.randrange(7200)
                rows.append((ent, None if t is None else
                             base + dt.timedelta(seconds=max(t, 0)), i,
                             f"img{rng.randrange(5)}", float(rng.randrange(9))))
    ev = spark.createDataFrame(rows, schema)
    hot = sorted({r[0] for r in rows})
    plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
    cols = sorted(plain.columns)
    a = sorted(str(r) for r in plain.select(*cols).collect())
    for width_s in (3600, 7200):
        buck = _bucketed_event_windows(ev, dim, hot, width_s * 1_000_000)
        b = sorted(str(r) for r in buck.select(*cols).collect())
        assert a == b, f"width {width_s} s: bucketed diverges from plain"


def test_bucketed_windows_duplicate_source_rows_survive(spark):
    """Two source rows identical in EVERY column are two real events and
    must both be carried: the carry's two routes are disjoint by time, so
    nothing is deduplicated, and genuine duplicates keep their
    multiplicity — a dropDuplicates() over data columns collapsed them and
    undercounted cnt_1h/label_avg5 in the bucketed path (round-3
    advice)."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    base = dt.datetime(2026, 1, 1)
    # bucket 0: 100, 200, then TWO fully identical rows at 7190 s (same
    # eseq/image/label) sitting in both bucket 0's 4-row tail and bucket
    # 1's 1h horizon; bucket 1: 7300, 7400 read them through both frames
    rows = [
        ("E", base + dt.timedelta(seconds=100), 0, "img0", 1.0),
        ("E", base + dt.timedelta(seconds=200), 1, "img1", 2.0),
        ("E", base + dt.timedelta(seconds=7190), 5, "img2", 3.0),
        ("E", base + dt.timedelta(seconds=7190), 5, "img2", 3.0),
        ("E", base + dt.timedelta(seconds=7300), 6, "img0", 4.0),
        ("E", base + dt.timedelta(seconds=7400), 7, "img1", 5.0),
    ]
    ev = spark.createDataFrame(rows, schema)
    plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
    buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
    cols = sorted(plain.columns)
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in buck.select(*cols).collect())
    assert a == b, "bucketed path diverges from plain on duplicate rows"
    # and the duplicate really is load-bearing: cnt_1h at t=7300 must see
    # BOTH 7190 rows (undercount is exactly the old dropDuplicates bug)
    c73 = [r for r in buck.collect()
           if r["eseq"] == 6][0]["cnt_1h"]
    assert c73 == 3, f"cnt_1h at 7300 saw {c73} rows, want 3"


def test_bucketed_windows_tolerate_non_orderable_payload(spark):
    """Round-4 advice: map and binary payload columns ride through the
    carry untouched — a map-typed column in a carry sort key made the
    per-bucket window sort throw AnalysisException (and a fat binary
    payload was dragged into the sort key). Results must match the plain
    path."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
        T.StructField("meta", T.MapType(T.StringType(), T.LongType())),
        T.StructField("blob", T.BinaryType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    base = dt.datetime(2026, 1, 1)
    rows = [("E", base + dt.timedelta(seconds=s), i, f"img{i % 3}",
             float(i + 1), {"k": i}, bytes([i]))
            for i, s in enumerate(
                [100, 200, 300, 400, 500, 7300, 14500, 14600, 14700])]
    ev = spark.createDataFrame(rows, schema)
    plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
    buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
    cols = sorted(c for c in plain.columns if c != "meta") + ["meta"]
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in buck.select(*cols).collect())
    assert a == b, "bucketed path diverges with map/binary payloads"


def test_detect_hot_entities_tiebreak(spark):
    """Equal counts at the `top` boundary resolve by entity_id — the hot
    set (and therefore the plan) is identical run to run."""
    import datetime as dt

    from dagli_spark.northrule import detect_hot_entities

    base = dt.datetime(2026, 1, 1)
    rows = [(e, base + dt.timedelta(seconds=i), i)
            for e in ("b", "a", "d", "c") for i in range(3)]
    ev = spark.createDataFrame(rows, "entity_id string, event_time timestamp_ntz, eseq long")
    got = [r["entity_id"] for r in detect_hot_entities(ev, 1, top=2)]
    assert got == ["a", "b"]


def test_decode_into_planes_matches_decode_image():
    """The fused plane decoder must be bit-identical to
    decode_image().transpose(2,0,1) for PNG (filter-0 and general-filter
    files), QJPG, and must reject shape mismatches and unknown containers
    — it is the only decode path the batch featurizer uses."""
    from dagli_spark.images.codec import (
        decode_image,
        decode_into_planes,
        image_shape,
    )

    rng = np.random.RandomState(11)
    payloads = []
    a = rng.randint(0, 256, (48, 64, 3), dtype=np.uint8)
    payloads.append(encode_png(a))
    payloads.append(encode_qjpg(a, 90))
    # a general-filter PNG (Sub on every row) via the hand-built route
    import struct
    import zlib

    h, w = 8, 8
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 1  # Sub filter
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int16)
        enc = line.copy()
        enc[3:] = (line[3:] - line[:-3]) % 256
        raw[y, 1:] = enc.astype(np.uint8)
    from dagli_spark.images.codec import _png_chunk, _PNG_SIG
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payloads.append(_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                    + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
                    + _png_chunk(b"IEND", b""))
    for data in payloads:
        hh, ww = image_shape(data)
        ref = decode_image(data)
        assert ref.shape == (hh, ww, 3)
        out = np.empty((3, hh, ww), dtype=np.uint8)
        decode_into_planes(data, out)
        assert np.array_equal(out, ref.transpose(2, 0, 1))
    wrong = np.empty((3, 5, 5), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_into_planes(payloads[0], wrong)
    with pytest.raises(ValueError):
        image_shape(b"not an image at all")
