"""Direct translations of the reference's per-operator golden unit tests
(Tester builders, SURVEY.md §5.1 / FIXTURES.md §4). Each case cites the
reference test it mirrors; inputs/outputs are the reference's own."""

import math

import pytest
from pyspark.sql import functions as F

from dagli_spark.functions import core as C
from dagli_spark.functions import distribution as D
from dagli_spark.operators.evaluation import (
    binary_evaluation,
    multinomial_evaluation,
    topk_evaluation,
)
from dagli_spark.operators.fit import (
    fit_bucket_index,
    fit_index,
    fit_multiplicity,
    fit_rank,
    kfold_column,
)
from dagli_spark.operators.models import fit_isotonic, fit_kmeans
from dagli_spark.operators.vector_select import (
    fit_densify,
    fit_top_by_pmi,
    fit_top_by_value,
)


def _vals(spark, xs, t="int"):
    return spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                                 f"i int, v {t}")


def _apply_order(df, out):
    return [r[out] for r in df.orderBy("i").collect()]


# -------- Rank (common/src/test/.../transformer/RankTest.java) ----------

def test_rank_duplicates1(spark):
    """Tester.of(new Rank().withLimit(3)) inputs [2,1,3,1] -> [2,0,3,0];
    prepared.apply(4) == 3."""
    df = _vals(spark, [2, 1, 3, 1])
    m = fit_rank(df, "v", limit=3)
    assert _apply_order(m.apply(df, out="r"), "r") == [2, 0, 3, 0]
    probe = _vals(spark, [4])
    assert _apply_order(m.apply(probe, out="r"), "r") == [3]


def test_rank_ignore_duplicates(spark):
    """RankTest.testDuplicates2: fit [2,1,1,1,1,3,1,4] ignoreDuplicates;
    apply: 0->0, 1->0, 2->1, 3->2, 4->3 (limit 3)."""
    fitdf = _vals(spark, [2, 1, 1, 1, 1, 3, 1, 4])
    m = fit_rank(fitdf, "v", limit=3, ignore_duplicates=True)
    probe = _vals(spark, [0, 1, 2, 3, 4, 4])
    assert _apply_order(m.apply(probe, out="r"), "r") == [0, 0, 1, 2, 3, 3]


# -------- Multiplicity (.../MultiplicityTest.java) -----------------------

def test_multiplicity_golden(spark):
    """[a,a,a,b,b,c] -> [3,3,3,2,2,1]; unseen 'd' -> 0."""
    df = _vals(spark, ["a", "a", "a", "b", "b", "c"], t="string")
    m = fit_multiplicity(df, "v")
    assert _apply_order(m.apply(df, out="m"), "m") == [3, 3, 3, 2, 2, 1]
    probe = _vals(spark, ["d"], t="string")
    assert _apply_order(m.apply(probe, out="m"), "m") == [0]


# -------- Index + UnknownItemPolicy (.../IndexTests.java) ----------------

def test_index_unknown_policies(spark):
    """maxUniqueObjects(2): [F,E,B,D,C,A,A,A,B] -> A(3x)->0, B(2x)->1,
    others -> unknown id 2 (policy NEW)."""
    xs = ["F", "E", "B", "D", "C", "A", "A", "A", "B"]
    df = _vals(spark, xs, t="string")
    m = fit_index(df, "v", max_unique=2, unknown_policy="new")
    assert _apply_order(m.apply(df, out="id"), "id") == [2, 2, 1, 2, 2, 0, 0, 0, 1]

    ys = [1, 2, 2, 3, 3, 3, 4, 4, 4, 4]
    dfy = _vals(spark, ys)
    m_mf = fit_index(dfy, "v", max_unique=2, unknown_policy="most_frequent")
    assert _apply_order(m_mf.apply(dfy, out="id"), "id") == [0, 0, 0, 1, 1, 1, 0, 0, 0, 0]
    m_lf = fit_index(dfy, "v", max_unique=2, unknown_policy="least_frequent")
    assert _apply_order(m_lf.apply(dfy, out="id"), "id") == [1, 1, 1, 1, 1, 1, 0, 0, 0, 0]


# -------- BucketIndex (.../object/BucketIndexTest.java) ------------------

@pytest.mark.parametrize("k,expected", [
    (3, [1, 1, 1, 0, 0, 2, 2, 2, 2]),
    (2, [0, 0, 0, 0, 0, 1, 1, 1, 1]),
    (1, [0, 0, 0, 0, 0, 0, 0, 0, 0]),
])
def test_bucket_index_golden(spark, k, expected):
    xs = [2, 2, 2, 1, 1, 3, 3, 3, 3]
    df = _vals(spark, xs)
    m = fit_bucket_index(df, "v", k)
    assert _apply_order(m.apply(df, out="b"), "b") == expected


def test_bucket_index_out_of_range_clamps(spark):
    df = _vals(spark, [2, 2, 2, 1, 1, 3, 3, 3, 3])
    m = fit_bucket_index(df, "v", 3)
    probe = _vals(spark, [-100, 100])
    assert _apply_order(m.apply(probe, out="b"), "b") == [0, 2]


# -------- KFoldCrossTrained fold discipline (.../meta/KFoldCrossTrainedTest.java)

def test_kfold_no_group_crosses_folds(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    folded = kfold_column(ev, "user_id", 5, seed=3)
    crossings = (
        folded.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .where(F.col("nf") > 1).count()
    )
    assert crossings == 0
    nfolds = folded.select("fold").distinct().count()
    assert 1 < nfolds <= 5


# -------- ConditionalValue / FirstNonNull (.../object/*Test.java) --------

def test_conditional_and_coalesce(spark):
    df = spark.createDataFrame(
        [(True, 1, 2, None), (False, 1, 2, 7)],
        "c boolean, a int, b int, n int",
    )
    out = df.select(
        C.conditional_value("c", F.col("a"), F.col("b")).alias("cv"),
        C.first_non_null("n", "a").alias("fnn"),
    ).collect()
    assert [(r["cv"], r["fnn"]) for r in out] == [(1, 1), (2, 7)]


def test_tuple_pack_unpack(spark):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    out = df.select(C.tupled("a", "b").alias("t")).select(
        C.value_from_tuple("t", 0).alias("v0"),
        C.value_from_tuple("t", 1).alias("v1"),
    ).first()
    assert (out["v0"], out["v1"]) == (1, "x")


def test_list_ops(spark):
    df = spark.createDataFrame([([3, 1, 2, 9],)], "xs array<int>")
    r = df.select(
        C.size("xs").alias("n"),
        C.truncated_list("xs", 2).alias("t"),
        C.filtered_list_exclude("xs", [9]).alias("fx"),
        C.array_element("xs", 1).alias("e1"),
        C.mapped_iterable("xs", lambda x: x * 10).alias("m"),
    ).first()
    assert r["n"] == 4 and r["t"] == [3, 1] and r["fx"] == [3, 1, 2]
    assert r["e1"] == 1 and r["m"] == [30, 10, 20, 90]


# -------- Distributions (.../distribution/*.java) ------------------------

def test_distribution_ops(spark):
    df = spark.createDataFrame(
        [({"cat": 0.2, "dog": 0.7, "eel": 0.1},)],
        "d map<string,double>",
    )
    r = df.select(
        D.most_likely_label("d").alias("top"),
        D.most_likely_labels("d", 2).alias("top2"),
        D.label_probability("d", "cat").alias("p_cat"),
        D.label_probability("d", "zzz").alias("p_zzz"),
    ).first()
    assert r["top"] == "dog" and r["top2"] == ["dog", "cat"]
    assert abs(r["p_cat"] - 0.2) < 1e-12 and r["p_zzz"] == 0.0


def test_sampled_with_replacement_deterministic(spark):
    df = spark.createDataFrame(
        [(i, {"a": 0.5, "b": 0.5}) for i in range(200)],
        "k int, d map<string,double>",
    )
    s1 = df.select(D.sampled_with_replacement("d", F.col("k"), seed=1).alias("s"))
    s2 = df.select(D.sampled_with_replacement("d", F.col("k"), seed=1).alias("s"))
    a = [r["s"] for r in s1.collect()]
    assert a == [r["s"] for r in s2.collect()]
    # both labels drawn
    assert {"a", "b"} == set(a)


# -------- Evaluation (.../evaluation/*EvaluatorTest.java) ----------------

def test_binary_evaluation_auc(spark):
    # perfectly separable -> AUC 1; random-ish -> 0.5 on symmetric ties
    df = spark.createDataFrame(
        [(True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1)],
        "y boolean, s double",
    )
    ev = binary_evaluation(df, "y", "s")
    assert ev["auc"] == 1.0 and ev["accuracy"] == 1.0 and ev["f1"] == 1.0

    df2 = spark.createDataFrame(
        [(True, 0.5), (False, 0.5), (True, 0.5), (False, 0.5)],
        "y boolean, s double",
    )
    assert abs(binary_evaluation(df2, "y", "s")["auc"] - 0.5) < 1e-12


def test_multinomial_and_topk(spark):
    df = spark.createDataFrame(
        [("a", "a", ["a", "b"]), ("b", "a", ["a", "b"]), ("b", "b", ["b", "a"])],
        "truth string, pred string, ranked array<string>",
    )
    m = multinomial_evaluation(df, "truth", "pred")
    assert abs(m["accuracy"] - 2 / 3) < 1e-12
    t = topk_evaluation(df, "truth", "ranked", 2)
    assert t["hit@2"] == 1.0
    assert abs(t["mrr@2"] - (1 + 0.5 + 1) / 3) < 1e-12


# -------- Vector selection (.../vector/*Test.java) -----------------------

def _sparse_df(spark):
    rows = [
        (1, {0: 1.0, 5: 2.0, 9: 1.0}),
        (1, {0: 2.0, 5: 1.0}),
        (0, {5: 1.0, 7: 4.0}),
        (0, {7: 1.0}),
    ]
    return spark.createDataFrame(rows, "label int, vec map<bigint,double>")


def test_densify(spark):
    df = _sparse_df(spark)
    m = fit_densify(df, "vec")
    assert m.size == 4  # indices {0,5,7,9} -> 0..3
    out = m.apply(df, out="d").collect()
    keys = set()
    for r in out:
        keys |= set(r["d"].keys())
    assert keys == {0, 1, 2, 3}


def test_top_by_value_and_pmi(spark):
    df = _sparse_df(spark)
    top = fit_top_by_value(df, "vec", 2)
    kept = {int(r["idx"]) for r in top.keep.collect()}
    assert kept == {5, 7}  # sums: 0->3, 5->4, 7->5, 9->1
    out = top.apply(df, out="t").collect()
    for r in out:
        assert set(r["t"].keys()) <= {5, 7}

    pmi = fit_top_by_pmi(df, "vec", "label", 2)
    kept_pmi = {int(r["idx"]) for r in pmi.keep.collect()}
    assert 0 in kept_pmi or 9 in kept_pmi  # label-1-associated indices win


# -------- Models ---------------------------------------------------------

def test_kmeans_separates_clusters(spark):
    import numpy as np
    rows = []
    for i in range(50):
        rows.append(([0.0 + (i % 5) * 0.01, 0.0],))
        rows.append(([10.0 + (i % 5) * 0.01, 10.0],))
    df = spark.createDataFrame(rows, "v array<double>")
    m = fit_kmeans(df, "v", 2, max_iter=5, seed=1)
    out = m.apply(df, out="c")
    # rows near origin all share a cluster; rows near (10,10) the other
    got = out.select(F.element_at("v", 1).alias("x"), "c").collect()
    c_lo = {r["c"] for r in got if r["x"] < 5}
    c_hi = {r["c"] for r in got if r["x"] >= 5}
    assert len(c_lo) == 1 and len(c_hi) == 1 and c_lo != c_hi


def test_isotonic_monotone_and_calibrated(spark):
    rows = [(0.1, 0.0), (0.2, 0.0), (0.3, 1.0), (0.4, 0.0),
            (0.5, 1.0), (0.6, 1.0), (0.7, 1.0)]
    df = spark.createDataFrame(rows, "s double, y double")
    m = fit_isotonic(df, "s", "y")
    assert all(b >= a - 1e-12 for a, b in zip(m.ys, m.ys[1:]))
    out = m.apply(df, out="cal").orderBy("s").collect()
    cals = [r["cal"] for r in out]
    assert all(b >= a - 1e-12 for a, b in zip(cals, cals[1:]))
    assert 0.0 <= cals[0] <= cals[-1] <= 1.0


def test_normalized_double_reference_example(spark):
    """The reference's canonical end-to-end example, all five Tester cases
    (examples/assorted/.../NormalizedDouble.java + NormalizedDoubleTest.java),
    run through the Pipeline DSL."""
    import math

    from dagli_spark.operators.fit import fit_normalized
    from dagli_spark.pipeline import Pipeline, PreparableStage

    def frame(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "v double")

    def apply_vals(model, vals):
        rows = model.apply(frame(vals), out="n").collect()
        return [r["n"] for r in rows]

    # 1: prepared with no inputs -> default (min, max) = (0, 1)
    m = fit_normalized(frame([]).where("v > 1"), "v")
    assert (m.mn, m.mx) == (0.0, 1.0)

    # 2: single distinct value -> everything maps to 0.0
    m = fit_normalized(frame([5.0, 5.0]), "v")
    assert apply_vals(m, [-3.0, 5.0, 9.0]) == [0.0, 0.0, 0.0]

    # 3: both infinities fitted -> all outputs NaN
    m = fit_normalized(frame([5.0, float("-inf"), float("inf")]), "v")
    assert all(math.isnan(x)
               for x in apply_vals(m, [5.0, float("-inf"), float("inf")]))

    # 4: positive infinity only -> finite inputs 0.0, +inf input NaN
    m = fit_normalized(frame([5.0, -5.0, float("inf")]), "v")
    got = apply_vals(m, [5.0, -5.0, float("inf")])
    assert got[0] == 0.0 and got[1] == 0.0 and math.isnan(got[2])

    # 5: finite inputs (and out-of-range probes clip), via the Pipeline DSL
    stage = PreparableStage(
        "normalize", lambda d: fit_normalized(d, "v"),
        lambda m_, d: m_.apply(d, out="n"))
    fitted, train_out = Pipeline([stage]).fit_transform(frame([5.0, 1.0, -5.0]))
    assert sorted(r["n"] for r in train_out.collect()) == [0.0, 0.6, 1.0]
    probe = fitted.transform(frame([-8.0, 8.0])).collect()
    assert sorted(r["n"] for r in probe) == [0.0, 1.0]


def test_ngram_vector_reference_counts(spark):
    """NgramVector padding/size semantics — every count from the
    reference's NGramVectorTest.java ('Mary had a little lamb', all
    ngrams distinct so vector size == ngram count)."""
    from dagli_spark.functions.text import ngram_vector

    df = spark.createDataFrame(
        [(["Mary", "had", "a", "little", "lamb"],)], "toks array<string>")

    def n_of(**kw):
        return df.select(
            F.size(F.array_distinct(ngram_vector("toks", **kw))).alias("n")
        ).first()["n"]

    # Tester cases (default SINGLE padding)
    assert n_of() == 5                                      # unigrams
    assert n_of(min_size=3, max_size=3) == 5                # trigrams
    assert n_of(max_size=3) == 5 + 6 + 5                    # uni+bi+tri
    assert n_of(padding="none", max_size=3) == 5 + 4 + 3
    assert n_of(padding="none", min_size=2, max_size=3) == 4 + 3
    # testFullPadding cases
    assert n_of(padding="full") == 5
    assert n_of(padding="full", min_size=3, max_size=3) == 7
    assert n_of(padding="full", max_size=3) == 5 + 6 + 7
    assert n_of(padding="full", min_size=2, max_size=3) == 6 + 7


def test_order_statistic_per_row_golden(spark):
    """Per-row OrderStatistic over a weighted multiset — every case from
    the reference's OrderStatisticTest.java (items A,B,C with cumulative
    counts 1,3,7 = multiset ABBCCCC)."""
    df = spark.createDataFrame(
        [(["A", "B", "C"], [1, 3, 7])], "items array<string>, cc array<long>")

    def got(fn, *args):
        return df.select(fn("items", "cc", *args).alias("o")).first()["o"]

    assert [got(C.kth_largest, k) for k in (1, 5, 7)] == ["C", "B", "A"]
    assert [got(C.kth_smallest, k) for k in (7, 4, 2, 1)] == \
        ["C", "C", "B", "A"]
    assert [got(C.order_percentile, p)
            for p in (1.0, 0.5, 0.22, 0.1, 0.0)] == ["C", "C", "B", "A", "A"]


def test_prepared_by_group_multiplicity_golden(spark):
    """Reference PreparedByGroupTest.testMultiplicityByGroup: per-group
    value counts; unknown group -> null (RETURN_NULL), known group with
    unseen value -> 0."""
    from dagli_spark.operators.meta import fit_multiplicity_by_group

    groups = ["A"] * 5 + ["B"] * 5
    items = [1, 1, 1, 1, 2, 1, 2, 3, 3, 3]
    df = spark.createDataFrame(list(zip(groups, items)), "g string, v int")
    m = fit_multiplicity_by_group(df, "g", "v")

    probe = spark.createDataFrame(
        [("A", 1), ("C", 3), ("A", 3), ("B", 3)], "g string, v int")
    got = {(r["g"], r["v"]): r["n"]
           for r in m.apply(probe, out="n").collect()}
    assert got[("A", 1)] == 4     # four 1s in group A
    assert got[("C", 3)] is None  # unknown group
    assert got[("A", 3)] == 0     # known group, unseen value
    assert got[("B", 3)] == 3


def test_null_filtered_rank_golden(spark):
    """Reference NullFilteredTest.testPreparationAndApplication: Rank
    fitted only on non-null inputs; null inputs yield null outputs, one
    result per row. inputs [null,3,2,null,1,3,null] ->
    outputs [null,2,1,null,0,2,null]."""
    from dagli_spark.operators.fit import fit_rank, null_filtered_fit

    rows = list(enumerate([None, 3, 2, None, 1, 3, None]))
    df = spark.createDataFrame(rows, "id int, v int")
    m = null_filtered_fit(df, ["v"], lambda d: fit_rank(d, "v"))
    ranked = m.apply(df.where(F.col("v").isNotNull()), out="r")
    # NullFiltered contract: null inputs still emit one (null) result
    out = df.join(ranked.select("id", "r"), "id", "left")
    got = [r["r"] for r in out.orderBy("id").collect()]
    assert got == [None, 2, 1, None, 0, 2, None]


def test_densify_nondeterministic_upstream(spark):
    """DensifyModel.apply over a shuffle-output (non-deterministic row
    order) upstream: every row keeps ITS OWN densified vector. The round-2
    join-back design evaluated monotonically_increasing_id on two plan
    branches, so rows could silently swap vectors; the single-linear-plan
    shape has exactly one consumer of the row id."""
    rows = [(i, {i: float(i) + 0.5}) for i in range(200)]
    df = spark.createDataFrame(rows, "i int, vec map<bigint,double>")
    m = fit_densify(df, "vec")
    shuffled = df.repartition(7)  # round-robin shuffle: order != source
    out = m.apply(shuffled, out="d").collect()
    assert len(out) == 200
    for r in out:
        assert list(r["d"].values()) == [float(r["i"]) + 0.5], r


def test_contains_phone_reference_golden(spark):
    """Translation of text-phone's ContainsPhoneNumberTest.java: the
    POSSIBLE-leniency assertions verbatim, plus the VALID default barring
    the local (area-code-less) forms exactly as the reference's
    withLeniency docstring describes."""
    from dagli_spark.functions.text import contains_phone

    cases = [
        ("My number is 442-253-2131, okay?", True, True),
        ("My number is (442)253-2131, okay?", True, True),
        ("My number is 253-2131, okay?", True, False),   # local: VALID bars
        ("My number is 2532131, okay?", True, False),     # local: VALID bars
        ("I'm 234 years old", False, False),
        ("The cost is $500,000/year", False, False),
        ("The cost is $500000 per year", False, False),
        ("I have 50000 of them sitting in stock", False, False),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in cases], "t string")
    rows = df.select(
        contains_phone("t", leniency="possible").alias("p"),
        contains_phone("t").alias("v"),
    ).collect()
    for (t, want_p, want_v), r in zip(cases, rows):
        assert r["p"] == want_p, (t, "possible")
        assert r["v"] == want_v, (t, "valid")


def test_contains_phone_intl_region_golden(spark):
    """GB/DE/FR region plans (round-4 extension of the NANP port): golden
    numbers mirror libphonenumber's public example constants
    (PhoneNumberUtilTest GB_NUMBER +44 20 7031 3000, DE_NUMBER
    +49 30 123456, FR_NUMBER +33 1 42 68 53 00) plus mobile/paren
    national forms; VALID bars trunk-less local digit runs that POSSIBLE
    accepts, exactly like the US plan."""
    from dagli_spark.functions.text import contains_phone

    cases = {
        "GB": [
            ("+44 20 7031 3000", True, True),
            ("020 7946 0958", True, True),
            ("(020) 7946 0958", True, True),
            ("07912 345678", True, True),
            ("0161 496 0000", True, True),
            ("1234 5678", True, False),       # local run: VALID bars
            ("It was 2026-01-02", True, False),  # date digits: len-only
            ("$500,000", False, False),
        ],
        "DE": [
            ("+49 30 123456", True, True),
            ("030 123456", True, True),
            ("(030) 123456", True, True),
            ("0171 2345678", True, True),
            ("030-12345678", True, True),
            ("30 123456", True, False),       # trunk-less: VALID bars
            ("12345", False, False),
        ],
        "FR": [
            ("+33 1 42 68 53 00", True, True),
            ("01 42 68 53 00", True, True),
            ("0142685300", True, True),
            ("1 42 68 53 00", True, False),   # trunk-less 9: VALID bars
            ("42 68 53 00", False, False),    # 8 digits: below possible
            ("$0142685300", False, False),
        ],
    }
    for region, rows_spec in cases.items():
        df = spark.createDataFrame([(t,) for t, _, _ in rows_spec],
                                   "t string")
        rows = df.select(
            contains_phone("t", region=region, leniency="possible")
            .alias("p"),
            contains_phone("t", region=region).alias("v"),
        ).collect()
        for (t, want_p, want_v), r in zip(rows_spec, rows):
            assert r["p"] == want_p, (region, t, "possible")
            assert r["v"] == want_v, (region, t, "valid")


def test_contains_phone_intl2_region_golden(spark):
    """JP/IN/BR/AU plans (round-5 extension): goldens mirror
    libphonenumber's public example constants (PhoneNumberUtilTest
    JP fixed +81 3-3777-1111 / mobile +81 90-1234-5678, IN mobile
    +91 74104 10123 / Delhi fixed +91 11 2345 6789, BR fixed
    +55 11 2345-6789 / mobile +55 11 96123-4567, AU fixed
    +61 2 3661 8300 / mobile +61 412 345 678). Paren-area national
    forms stay inside POSSIBLE (valid ⊆ possible invariant); trunk-less
    digit runs of a possible length are POSSIBLE-only, like the US plan's
    7-digit locals."""
    from dagli_spark.functions.text import contains_phone

    cases = {
        "JP": [
            ("+81 3-3777-1111", True, True),
            ("03-3777-1111", True, True),
            ("(03) 3777-1111", True, True),
            ("+81 90-1234-5678", True, True),
            ("090-1234-5678", True, True),
            ("3777-1111", False, False),      # 8 digits: below possible
            ("cost 500000 yen", False, False),
        ],
        "IN": [
            ("+91 74104 10123", True, True),
            ("74104 10123", True, True),      # bare mobile: valid in IN
            ("7410410123", True, True),
            ("+91 11 2345 6789", True, True),
            ("011-2345-6789", True, True),
            ("1123456789", True, False),      # trunk-less fixed: len-only
            ("order 12345", False, False),
        ],
        "BR": [
            ("+55 11 2345-6789", True, True),
            ("(11) 2345-6789", True, True),
            ("+55 11 96123-4567", True, True),
            ("(11) 96123-4567", True, True),
            ("11 96123-4567", True, False),   # unparenthesized: len-only
            ("item 999", False, False),
        ],
        "AU": [
            ("+61 2 3661 8300", True, True),
            ("(02) 3661 8300", True, True),
            ("02 3661 8300", True, True),
            ("+61 412 345 678", True, True),
            ("0412 345 678", True, True),
            ("3661 8300", True, False),       # 8-digit local: len-only
            ("price $123", False, False),
        ],
    }
    for region, rows_spec in cases.items():
        df = spark.createDataFrame([(t,) for t, _, _ in rows_spec],
                                   "t string")
        rows = df.select(
            contains_phone("t", region=region, leniency="possible")
            .alias("p"),
            contains_phone("t", region=region).alias("v"),
        ).collect()
        for (t, want_p, want_v), r in zip(rows_spec, rows):
            assert r["p"] == want_p, (region, t, "possible")
            assert r["v"] == want_v, (region, t, "valid")


def test_contains_phone_intl3_region_golden(spark):
    """CN/IT/ES/MX plans (round-5 second session): goldens mirror
    libphonenumber's public example constants (CN fixed +86 10 1234 5678
    / mobile +86 131 2345 6789, IT fixed +39 02 3661 8300 / mobile
    +39 312 345 6789, ES fixed +34 810 123 456 / mobile +34 612 345 678,
    MX fixed +52 200 123 4567 / legacy mobile +52 1 222 123 4567).
    Region quirks under test: IT keeps the fixed-line leading 0 as part
    of the number (no trunk stripping); ES and post-2019 MX have no trunk
    prefix at all, so grouped bare national forms are VALID."""
    from dagli_spark.functions.text import contains_phone

    cases = {
        "CN": [
            ("+86 10 1234 5678", True, True),
            ("010 1234 5678", True, True),
            ("(010) 6552 9988", True, True),
            ("+86 131 2345 6789", True, True),
            ("13123456789", True, True),
            ("+86 755 8202 1234", True, True),
            ("1234 5678", True, False),       # 8-digit local: len-only
            ("total 123456 yuan", False, False),
        ],
        "IT": [
            ("+39 02 3661 8300", True, True),
            ("02 3661 8300", True, True),     # leading 0 IS the number
            ("(02) 3661 8300", True, True),
            ("+39 312 345 6789", True, True),
            ("312 345 6789", True, True),
            ("123456", True, False),          # 6-digit run: len-only
            ("pay 4321 euro", False, False),
        ],
        "ES": [
            ("+34 810 123 456", True, True),
            ("810 123 456", True, True),      # no trunk prefix in ES
            ("+34 612 345 678", True, True),
            ("91 234 56 78", True, True),     # 2-3-2-2 grouping
            ("123 456 789", True, False),     # 9 digits, bad leading: len
            ("room 404", False, False),
        ],
        "MX": [
            ("+52 200 123 4567", True, True),
            ("+52 1 222 123 4567", True, True),   # legacy mobile 1
            ("(55) 1234 5678", True, True),
            ("55 1234 5678", True, True),     # post-2019: no trunk
            ("0123456789", True, False),      # leading-0 run: len-only
            ("order 123456789", False, False),
        ],
    }
    for region, rows_spec in cases.items():
        df = spark.createDataFrame([(t,) for t, _, _ in rows_spec],
                                   "t string")
        rows = df.select(
            contains_phone("t", region=region, leniency="possible")
            .alias("p"),
            contains_phone("t", region=region).alias("v"),
        ).collect()
        for (t, want_p, want_v), r in zip(rows_spec, rows):
            assert r["p"] == want_p, (region, t, "possible")
            assert r["v"] == want_v, (region, t, "valid")


def test_contains_phone_intl4_region_golden(spark):
    """KR/RU/NL/TR plans (round-5 third session): goldens use each plan's
    documented national formatting conventions (KR Seoul 02 + 7-8sd /
    mobile 010-XXXX-XXXX; RU trunk 8 — not 0 — with 3-digit area grouped
    XXX XX-XX; NL 9 significant digits, mobile 06 + 8sd; TR 3-digit
    [25]XX area + XXX XX XX). Region quirks under test: RU's non-zero
    trunk digit; KR's variable 7-8 digit subscriber blocks; TR's
    paren form accepting both (0212) and (212)."""
    from dagli_spark.functions.text import contains_phone

    cases = {
        "KR": [
            ("+82 2 312 3456", True, True),
            ("02-312-3456", True, True),
            ("(02) 312-3456", True, True),
            ("010-1234-5678", True, True),
            ("+82 10-1234-5678", True, True),
            ("12345678", True, False),        # 8-digit run: len-only
            ("room 101", False, False),
        ],
        "RU": [
            ("+7 912 345-67-89", True, True),
            ("8 (495) 123-45-67", True, True),
            ("(495) 123-45-67", True, True),
            ("8 495 123-45-67", True, True),
            ("912 345-67-89", True, False),   # no trunk: len-only
            ("kvartira 42", False, False),
        ],
        "NL": [
            ("+31 10 123 4567", True, True),
            ("020 624 1111", True, True),
            ("(020) 624 1111", True, True),
            ("06 12345678", True, True),
            ("+31 6 12345678", True, True),
            ("123 456 789", True, False),     # 9-digit run: len-only
            ("gate B12", False, False),
        ],
        "TR": [
            ("+90 212 345 67 89", True, True),
            ("0212 345 67 89", True, True),
            ("(0212) 345 67 89", True, True),
            ("0532 123 45 67", True, True),
            ("212 345 67 89", True, False),   # no trunk/paren: len-only
            ("oda 1907", False, False),
        ],
    }
    for region, rows_spec in cases.items():
        df = spark.createDataFrame([(t,) for t, _, _ in rows_spec],
                                   "t string")
        rows = df.select(
            contains_phone("t", region=region, leniency="possible")
            .alias("p"),
            contains_phone("t", region=region).alias("v"),
        ).collect()
        for (t, want_p, want_v), r in zip(rows_spec, rows):
            assert r["p"] == want_p, (region, t, "possible")
            assert r["v"] == want_v, (region, t, "valid")


def test_phone_valid_subset_of_possible_all_regions():
    """Property pin for the libphonenumber invariant every plan claims
    'by construction': any text VALID under a region plan is POSSIBLE
    under it. Pure-regex fuzz (no Spark) over phone-shaped strings —
    digits, separators, +cc prefixes, paren areas — across all 16
    hand-ported regions; a counterexample means a plan's possible
    pattern lost a grouping its valid pattern accepts."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dagli_spark.functions.text import (
        _PHONE_REGION_PLANS,
        phone_pattern,
    )

    compiled = {
        r: (re.compile(phone_pattern(r, "valid")),
            re.compile(phone_pattern(r, "possible")))
        for r in _PHONE_REGION_PLANS
    }

    atoms = st.sampled_from(
        ["0", "1", "2", "3", "5", "6", "7", "8", "9", "4",
         " ", "-", ".", "(", ")", "+",
         "+44", "+49", "+33", "+81", "+91", "+55", "+61",
         "+86", "+39", "+34", "+52", "+1", "+82", "+7", "+31", "+90",
         "(020)", "(030)", "(03)", "(11)", "(02)", "(55)", "(010)",
         "(495)", "(0212)",
         "call ", " now"])

    @settings(max_examples=400, deadline=None, derandomize=True)
    @given(st.lists(atoms, min_size=1, max_size=14).map("".join))
    def check(text):
        for region, (valid, possible) in compiled.items():
            if valid.search(text):
                assert possible.search(text), (region, text)

    check()
