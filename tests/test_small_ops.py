"""Round-2 closures of the last SURVEY §2 'no' rows: RankingEvaluationResult,
Sparse/DenseVectorFromDistribution, MaxNonZeroVectorElementIndex,
DenseVectorCapacity, AllTransformationsMap."""

import pytest
from pyspark.sql import functions as F

from dagli_spark.functions.distribution import (
    dense_vector_from_distribution,
    sparse_vector_from_distribution,
)
from dagli_spark.functions.vector import dense_capacity, max_nonzero_index
from dagli_spark.operators.evaluation import ranking_evaluation
from dagli_spark.operators.meta import all_transformations_map


def test_ranking_evaluation_reference_semantics(spark):
    # (truth, ranked list): correct@2 -> rr 1/2; correct@1 -> rr 1;
    # non-empty miss -> incorrect, rr 0; empty -> no prediction
    rows = [
        ("a", ["b", "a", "c"]),
        ("b", ["b", "x"]),
        ("z", ["a", "b", "c"]),
        ("q", []),
    ]
    df = spark.createDataFrame(rows, "truth string, ranked array<string>")
    r = ranking_evaluation(df, "truth", "ranked", 3)
    assert r["total_count"] == 4
    assert r["correct_count"] == 2 and r["incorrect_count"] == 1
    assert r["no_prediction_count"] == 1
    assert r["unweighted_mrr"] == pytest.approx((0.5 + 1.0) / 4)
    assert r["unweighted_accuracy"] == pytest.approx(0.5)
    # weighted variant (RankingEvaluationResultBase.java:32,60-64)
    dfw = df.withColumn("w", F.when(F.col("truth") == "a", 3.0).otherwise(1.0))
    rw = ranking_evaluation(dfw, "truth", "ranked", 3, weight="w")
    assert rw["total_weight"] == pytest.approx(6.0)
    assert rw["weighted_mrr"] == pytest.approx((3 * 0.5 + 1.0) / 6.0)
    assert rw["no_prediction_weight"] == pytest.approx(1.0)
    # top-k restriction: correct@2 stops counting at k=1
    r1 = ranking_evaluation(df, "truth", "ranked", 1)
    assert r1["correct_count"] == 1 and r1["incorrect_count"] == 2


def test_distribution_vector_bridges(spark):
    df = spark.createDataFrame(
        [({"x": 0.7, "y": 0.3},), ({},)], "dist map<string,double>")
    out = df.select(
        sparse_vector_from_distribution("dist").alias("sv"),
        dense_vector_from_distribution("dist", ["y", "x", "missing"]).alias("dv"),
    ).collect()
    sv = out[0]["sv"]
    assert set(sv.values()) == {0.7, 0.3} and len(sv) == 2
    assert all(isinstance(k, int) for k in sv)  # hashed label indices
    assert list(out[0]["dv"]) == [0.3, 0.7, 0.0]  # known-label order, 0-fill
    assert out[1]["sv"] == {} and list(out[1]["dv"]) == [0.0, 0.0, 0.0]


def test_max_nonzero_and_capacity(spark):
    df = spark.createDataFrame(
        [({5: 1.0, 9: 2.0, 12: 0.0}, [1.0, 2.0, 3.0]),
         ({3: 0.0}, []),
         ({}, [0.0])],
        "sv map<bigint,double>, dv array<double>")
    rows = df.select(
        max_nonzero_index("sv").alias("mx"),
        max_nonzero_index("sv", on_zero=-1).alias("mx0"),
        dense_capacity("dv").alias("cap"),
    ).collect()
    assert rows[0]["mx"] == 9 and rows[0]["mx0"] == 9  # 12 has value 0
    assert rows[1]["mx"] is None and rows[1]["mx0"] == -1
    assert rows[2]["mx"] is None and rows[2]["mx0"] == -1
    assert [r["cap"] for r in rows] == [3, 0, 1]


def test_all_transformations_map(spark):
    df = spark.createDataFrame([(2.0,), (3.0,)], "v double")
    out = all_transformations_map(
        df, {"sq": F.col("v") * F.col("v"),
             "neg": -F.col("v"),
             "plus1": lambda d: F.col("v") + 1},
        out="m",
    ).orderBy("v").collect()
    assert out[0]["m"] == {"sq": 4.0, "neg": -2.0, "plus1": 3.0}
    assert out[1]["m"]["sq"] == 9.0


def test_kmeans_apply_null_and_ragged_vectors(spark):
    """Null / wrong-dimension vectors yield null cluster+distance instead
    of crashing the Arrow stage (round-2 review fix)."""
    from dagli_spark.operators.models import KMeansModel

    m = KMeansModel("vec", [[0.0, 0.0], [10.0, 10.0]])
    df = spark.createDataFrame(
        [([0.5, 0.5],), (None,), ([1.0],), ([9.0, 9.0],)],
        "vec array<float>")
    rows = m.apply(df, out="c").collect()
    got = [(r["c"], r["c_dist2"] is not None) for r in rows]
    assert got[0] == (0, True) and got[3] == (1, True)
    assert got[1] == (None, False) and got[2] == (None, False)


def test_rank_string_population(spark):
    """Rank over a string column (reference Rank accepts any Comparable;
    the searchsorted apply must not force float64)."""
    from dagli_spark.operators.fit import fit_rank

    pop = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",)], "v string")
    m = fit_rank(pop, "v")
    probe = spark.createDataFrame(
        [("a",), ("b",), ("bb",), ("z",), (None,)], "v string")
    got = [r["r"] for r in m.apply(probe, out="r").collect()]
    assert got == [0, 2, 3, 4, 0]


def test_rank_big_long_population_exact(spark):
    """int64 values beyond 2^53 must not collapse in a float64 cast."""
    from dagli_spark.operators.fit import fit_rank

    base = 1 << 60
    pop = spark.createDataFrame(
        [(base,), (base + 1,), (base + 2,)], "v long")
    m = fit_rank(pop, "v")
    probe = spark.createDataFrame([(base + 1,), (base + 2,)], "v long")
    got = [r["r"] for r in m.apply(probe, out="r").collect()]
    assert got == [1, 2]


def test_lcg_uniform_nonnegative_for_negative_keys(spark):
    from dagli_spark.functions.rand import random_double_lcg
    from pyspark.sql import functions as F2

    df = spark.range(-500, 500).select(random_double_lcg(F2.col("id"), 3)
                                       .alias("u"))
    mn, mx = df.agg(F2.min("u"), F2.max("u")).first()
    assert 0.0 <= mn and mx < 1.0


def test_corrupt_image_degrades_to_null_row(spark):
    """One bad payload must never fail the stage (multimodal contract)."""
    from dagli_spark.features.image_features import with_decode_features
    from dagli_spark.images.codec import encode_png
    import numpy as np

    good = encode_png(np.zeros((32, 32, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, good), (2, b"\x89PNG\r\n\x1a\nGARBAGE"), (3, b"not an image")],
        "img_id long, bytes binary")
    rows = {r["img_id"]: r["px_std"]
            for r in with_decode_features(df, "bytes").collect()}
    assert rows[1] is not None and rows[2] is None and rows[3] is None


def test_many_hot_duplicate_indices_idempotent(spark):
    from dagli_spark.functions.vector import many_hot

    df = spark.createDataFrame([(1,)], "x int")
    out = df.select(many_hot(F.array(
        F.lit(3).cast("long"), F.lit(3).cast("long"),
        F.lit(5).cast("long"))).alias("m")).first()
    assert out["m"] == {3: 1.0, 5: 1.0}


def test_nearest_vector_cosine_zero_vectors(spark):
    from dagli_spark.functions.vector import nearest_vector

    df = spark.createDataFrame([([1.0, 0.0],), ([0.0, 0.0],)],
                               "v array<double>")
    nn = nearest_vector(F.col("v"), [[0.0, 0.0], [1.0, 0.0]],
                        metric="cosine")
    rows = df.select(nn.alias("nn")).collect()
    # a zero-vector CANDIDATE must not win on its null similarity
    assert rows[0]["nn"]["idx"] == 1
    # a zero-vector INPUT has no defined nearest -> null result
    assert rows[1]["nn"] is None


def test_vec_clip_preserves_null_elements(spark):
    from dagli_spark.functions.vector import vec_clip

    df = spark.createDataFrame([([None, 5.0, -1.0],)], "v array<double>")
    out = df.select(vec_clip("v", 0.0, 1.0).alias("c")).first()["c"]
    assert list(out) == [None, 1.0, 0.0]


def test_phone_regex_dates_and_short_runs_not_phones(spark):
    from dagli_spark.functions.text import contains_phone

    df = spark.createDataFrame(
        [("released 2026-08-17",), ("see 12345 units",),
         ("call 123-4567",), ("+1 (555) 123-4567 ext 22",)], "t string")
    # default leniency 'valid' bars local numbers AND numbers whose
    # exchange code starts with 0/1 (NANP structure) — the last two rows
    # only pass the length-only 'possible' check
    valid = [r[0] for r in df.select(contains_phone("t")).collect()]
    assert valid == [False, False, False, False]
    poss = [r[0] for r in
            df.select(contains_phone("t", leniency="possible")).collect()]
    assert poss == [False, False, True, True]


def test_ngrams_null_text_propagates_null(spark):
    from dagli_spark.functions.text import char_ngrams, word_ngrams

    df = spark.createDataFrame([(None,), ("a b c",)], "t string")
    rows = df.select(word_ngrams("t", 2).alias("w"),
                     char_ngrams("t", 2).alias("c")).collect()
    assert rows[0]["w"] is None and rows[0]["c"] is None
    assert list(rows[1]["w"]) == ["a b", "b c"]


def test_most_likely_label_empty_distribution_null(spark):
    from dagli_spark.functions.distribution import most_likely_label

    df = spark.createDataFrame([({},), ({"a": 0.9},)],
                               "d map<string,double>")
    got = [r[0] for r in df.select(most_likely_label("d")).collect()]
    assert got == [None, "a"]


def test_vec_sum_missing_index_zero(spark):
    """Reference VectorSum: missing indices are 0, not null."""
    from dagli_spark.functions.vector import vec_sum

    df = spark.createDataFrame([([1.0, 2.0, 3.0], [10.0, 20.0])],
                               "a array<double>, b array<double>")
    out = df.select(vec_sum("a", "b").alias("s")).first()["s"]
    assert list(out) == [11.0, 22.0, 3.0]


def test_nearest_vector_l2_dimension_mismatch(spark):
    from dagli_spark.functions.vector import nearest_vector

    df = spark.createDataFrame([([1.0, 1.0, 1.0],)], "v array<double>")
    nn = nearest_vector(F.col("v"), [[0.0, 0.0], [1.0, 1.0, 1.0]])
    got = df.select(nn.alias("nn")).first()["nn"]
    assert got["idx"] == 1 and got["dist"] == 0.0


def test_binary_evaluation_null_scores_consistent(spark):
    """Null scores are outside BOTH the confusion and the AUC population."""
    from dagli_spark.operators.evaluation import binary_evaluation

    df = spark.createDataFrame(
        [(True, 0.9), (False, 0.1), (True, None), (True, 0.8), (False, 0.2)],
        "y boolean, s double")
    r = binary_evaluation(df, "y", "s")
    assert r["tp"] + r["fn"] == 2.0
    assert r["auc"] == 1.0  # perfect separation among scored rows


def test_simhash_width_guard(spark):
    import pytest as _pytest
    from dagli_spark.operators.dedup import simhash_dup_pairs

    df = spark.createDataFrame([("x", "a b c")], "doc_id string, text string")
    with _pytest.raises(ValueError, match="block width"):
        simhash_dup_pairs(df, "text", "doc_id", max_hamming=32,
                          hash_method="poly31")


def _simhash_corpus(spark):
    rows = []
    for i in range(24):
        # varied lengths incl. repeated tokens (multiset semantics), even
        # token counts (tie s_i == 0 -> bit 0 must match across paths)
        words = [f"w{(i * 7 + j * 3) % 11}" for j in range(2 + (i % 9))]
        if i % 4 == 0:
            words += words[:2]
        rows.append((f"d{i:02d}", " ".join(words)))
    rows.append(("empty", ""))  # must keep a NULL simhash on every path
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("hash_method", ["xxhash64", "poly31"])
def test_simhash_packed_matches_signed_sums(spark, hash_method):
    """The packed 32-bit-lane aggregate (round-5 rewrite) is bit-identical
    to the wide signed-sum reference formulation `_signed_bit_sums` —
    including repeated tokens (multiset), even token counts (tie
    s_i == 0 -> bit 0), the sign bit, and multi-row ids (groups span
    rows)."""
    from dagli_spark.functions.text import tokens
    from dagli_spark.operators.dedup import _signed_bit_sums, simhash

    df = _simhash_corpus(spark)
    # duplicate a few ids across extra rows: the group is the id, not the row
    extra = df.where(F.col("doc_id").isin("d01", "d05")).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zz yy zz")))
    df = df.unionByName(extra)
    packed = {r["doc_id"]: r["simhash"]
              for r in simhash(df, "text", id_col="doc_id",
                               hash_method=hash_method).collect()}
    nbits = 32 if hash_method == "poly31" else 64
    tok = df.select("doc_id",
                    F.explode(tokens(F.lower(F.col("text")))).alias("__t"))
    if hash_method == "poly31":
        from dagli_spark.operators.dedup import (
            _POLY_M,
            _poly31,
            poly_hash_params,
        )
        (a1, b1), (a2, b2) = poly_hash_params(2, 11)
        ph = _poly31(F.col("__t"))
        h = F.pmod(ph * F.lit(a1) + F.lit(b1), F.lit(_POLY_M)).bitwiseOR(
            F.shiftleft(F.pmod(ph * F.lit(a2) + F.lit(b2), F.lit(_POLY_M))
                        .bitwiseAND(F.lit(1)), 31))
    else:
        h = F.xxhash64(F.lit(11), F.col("__t"))
    ref = {r["doc_id"]: r["__sim"]
           for r in _signed_bit_sums(tok.withColumn("__h", h),
                                     "doc_id", nbits).collect()}
    # reference agg has no row for the token-less doc; simhash leaves NULL
    assert packed.pop("empty") is None
    assert packed == ref


@pytest.mark.parametrize("hash_method", ["xxhash64", "poly31"])
def test_simhash_max_hamming_zero_pairs_equal_hashes(spark, hash_method):
    """max_hamming=0 is one block the width of the hash: the key is the
    whole hash (a 64-bit block mask overflows a long literal), and the
    pairs are exactly the equal-simhash pairs."""
    from dagli_spark.operators.dedup import simhash, simhash_dup_pairs

    df = _simhash_corpus(spark)
    # reordered token multisets hash alike
    perm = df.where(F.col("doc_id").isin("d01", "d02", "d03")).select(
        F.concat(F.lit("p"), "doc_id").alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"))
    df = df.unionByName(perm)
    sims = [(r["doc_id"], r["simhash"])
            for r in simhash(df, "text", id_col="doc_id",
                             hash_method=hash_method).collect()
            if r["simhash"] is not None]
    want = {(a, b) for a, ha in sims for b, hb in sims if a < b and ha == hb}
    got = simhash_dup_pairs(df, "text", "doc_id", max_hamming=0,
                            hash_method=hash_method).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == want
    assert len(want) >= 3 and len(got) == len(want)
    assert {r["hamming"] for r in got} == {0}
