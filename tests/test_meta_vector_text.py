"""Golden tests for the meta operators (PreparedByGroup / KFoldCrossTrained /
BestModel), NearestVector / AveragedDenseVector, and the remaining text ops.
Modeled on the reference's Tester-style per-operator checks (SURVEY.md §5)."""

import math

import numpy as np
from pyspark.sql import functions as F

from dagli_spark.functions.text import (
    accentless,
    contains_phone,
    normalized_unicode,
    replaced_substrings,
)
from dagli_spark.functions.vector import composite_sparse, nearest_vector
from dagli_spark.operators.meta import (
    best_model,
    fit_by_group,
    kfold_cross_trained,
    kfold_target_encode,
)
from dagli_spark.operators.vector_select import averaged_dense_vector


def _events(spark):
    rows = [
        (i, ["a", "b", "c"][i % 3], float(i), i % 7)
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "id int, key string, y double, grp int")


# ---------------------------------------------------------- PreparedByGroup

def test_fit_by_group_matches_plain_groupby(spark):
    df = _events(spark)
    m = fit_by_group(df, "key", {"mu": F.avg("y"), "n": F.count(F.lit(1))})
    got = {r["key"]: (r["mu"], r["n"]) for r in m.state.collect()}
    pdf = df.toPandas()
    for k, g in pdf.groupby("key"):
        assert math.isclose(got[k][0], g["y"].mean())
        assert got[k][1] == len(g)
    applied = m.apply(df)
    row = applied.where(F.col("id") == 0).first()
    assert math.isclose(row["mu"], got["a"][0])


def test_fit_by_group_unseen_group_is_null(spark):
    df = _events(spark)
    m = fit_by_group(df, "key", {"mu": F.avg("y")})
    probe = spark.createDataFrame([(99, "zzz")], "id int, key string")
    assert m.apply(probe).first()["mu"] is None


# ------------------------------------------------------- KFoldCrossTrained

def test_kfold_target_encode_is_leave_one_fold_out(spark):
    df = _events(spark)
    enc = kfold_target_encode(df, "key", "y", k=3, group_col="grp",
                              seed=5, out="enc").toPandas()
    for _, r in enc.iterrows():
        others = enc[(enc["key"] == r["key"]) & (enc["fold"] != r["fold"])]
        assert math.isclose(r["enc"], others["y"].mean()), r


def test_kfold_target_encode_zero_leakage(spark):
    """Perturbing targets inside fold i must not move fold-i encodings —
    the event-time analogue of KFoldCrossTrained's anti-leakage contract."""
    df = _events(spark)
    base = kfold_target_encode(df, "key", "y", k=3, group_col="grp",
                               seed=5, out="enc")
    fold_of = {r["id"]: r["fold"] for r in base.select("id", "fold").collect()}
    poisoned_fold = 1
    df2 = df.withColumn(
        "y",
        F.when(F.lit(True) & F.col("id").isin(
            [i for i, f in fold_of.items() if f == poisoned_fold]),
            F.col("y") + 1000.0).otherwise(F.col("y")),
    )
    enc1 = {r["id"]: r["enc"] for r in base.collect()}
    enc2 = {r["id"]: r["enc"]
            for r in kfold_target_encode(df2, "key", "y", k=3, group_col="grp",
                                         seed=5, out="enc").collect()}
    for i, f in fold_of.items():
        if f == poisoned_fold:
            assert math.isclose(enc1[i], enc2[i]), (i, enc1[i], enc2[i])
        else:
            assert not math.isclose(enc1[i], enc2[i])


def test_kfold_target_encode_smoothing(spark):
    df = _events(spark)
    prior = df.agg(F.avg("y")).first()[0]
    enc = kfold_target_encode(df, "key", "y", k=3, group_col="grp", seed=5,
                              smoothing=10.0, out="enc").toPandas()
    r = enc.iloc[0]
    others = enc[(enc["key"] == r["key"]) & (enc["fold"] != r["fold"])]
    want = (others["y"].sum() + 10.0 * prior) / (len(others) + 10.0)
    assert math.isclose(r["enc"], want)


def test_kfold_cross_trained_generic(spark):
    df = _events(spark)

    def fit(d):
        return d.agg(F.avg("y")).first()[0]

    def apply(mu, d):
        return d.withColumn("pred", F.lit(float(mu)))

    applied, full_model = kfold_cross_trained(df, "grp", 3, fit, apply, seed=5)
    pdf = applied.toPandas()
    assert len(pdf) == 60
    for f in pdf["fold"].unique():
        want = pdf[pdf["fold"] != f]["y"].mean()
        got = pdf[pdf["fold"] == f]["pred"].iloc[0]
        assert math.isclose(got, want)
    assert math.isclose(full_model, pdf["y"].mean())


# ----------------------------------------------------------------- BestModel

def test_best_model_picks_lower_mse(spark):
    df = _events(spark)

    def fit_mean(d):
        return d.agg(F.avg("y")).first()[0]

    def fit_const(d):
        return -100.0  # deliberately bad

    def apply(m, d):
        return d.withColumn("pred", F.lit(float(m)))

    def score(pred):  # higher is better
        return -pred.agg(F.avg((F.col("y") - F.col("pred")) ** 2)).first()[0]

    name, model, scores = best_model(
        df, {"mean": fit_mean, "const": fit_const}, apply, score,
        group_col="grp", k=3, seed=5)
    assert name == "mean"
    assert scores["mean"] > scores["const"]
    assert math.isclose(model, df.agg(F.avg("y")).first()[0])


# ------------------------------------------------------------------ vectors

def test_nearest_vector_l2_and_cosine(spark):
    cands = [[0.0, 0.0], [1.0, 0.0], [0.0, 2.0]]
    df = spark.createDataFrame(
        [(0, [0.9, 0.1]), (1, [0.1, 1.5]), (2, [0.0, 0.0])],
        "id int, v array<double>")
    out = {r["id"]: r["nn"]
           for r in df.select("id", nearest_vector("v", cands).alias("nn")).collect()}
    vecs = {0: [0.9, 0.1], 1: [0.1, 1.5], 2: [0.0, 0.0]}
    for i, v in vecs.items():
        d = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cands]
        assert out[i]["idx"] == int(np.argmin(d))
        assert math.isclose(out[i]["dist"], min(d), abs_tol=1e-12)
    cos = df.where(F.col("id") == 0).select(
        nearest_vector("v", [[1.0, 0.0], [0.0, 1.0]], metric="cosine").alias("nn")
    ).first()["nn"]
    assert cos["idx"] == 0


def test_averaged_dense_vector(spark):
    arrs = [[1.0, 2.0, 3.0], [3.0, 4.0, 5.0], [5.0, 6.0, 1.0]]
    df = spark.createDataFrame([(a,) for a in arrs], "v array<double>")
    got = averaged_dense_vector(df, "v")
    np.testing.assert_allclose(got, np.array(arrs).mean(axis=0))


def test_composite_sparse_keeps_constituents_distinct(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        composite_sparse(
            F.create_map(F.lit(7).cast("long"), F.lit(1.0)),
            F.create_map(F.lit(7).cast("long"), F.lit(2.0)),
        ).alias("m"))
    m = df.first()["m"]
    assert len(m) == 2 and sorted(m.values()) == [1.0, 2.0]


# --------------------------------------------------------------------- text

def test_accentless_and_unicode_norm(spark):
    df = spark.createDataFrame([("Café Zürich naïve",), ("Café",)],
                               "t string")
    got = [r["a"] for r in df.select(accentless("t").alias("a")).collect()]
    assert got[0] == "Cafe Zurich naive"
    nfc = [r["n"] for r in
           df.select(normalized_unicode("t", "NFC").alias("n")).collect()]
    assert nfc[1] == "Café"  # combining accent composed


def test_replaced_substrings_and_phone(spark):
    # (442) 253-2131 is the reference test's number — structurally valid
    # NANP, so it passes the default 'valid' leniency
    df = spark.createDataFrame(
        [("call +1 (442) 253-2131 now", "foo bar")], "a string, b string")
    r = df.select(
        replaced_substrings("b", {"foo": "X", "bar": "Y"}).alias("rb"),
        contains_phone("a").alias("ph"),
        contains_phone("b").alias("nph"),
    ).first()
    assert r["rb"] == "X Y"
    assert r["ph"] is True and r["nph"] is False


# --------------------------------------------------- Indices / MappedIterable

def test_fit_indices_golden(spark):
    """Reference Indices semantics (common/.../object/Indices.java:12-29):
    per-element dictionary ids, order preserved, empty lists -> [],
    unseen elements -> unknown_id, null elements stay null."""
    from dagli_spark.operators.fit import fit_indices

    df = spark.createDataFrame(
        [(0, ["a", "b", "a"]), (1, []), (2, ["c", None, "a"]), (3, None)],
        "id int, toks array<string>")
    m = fit_indices(df, "toks")
    probe = spark.createDataFrame(
        [(0, ["a", "zzz", "b"]), (1, [])], "id int, toks array<string>")
    got = {r["id"]: r["out"]
           for r in m.apply(probe, out="out").collect()}
    # counts: a=3, b=1, c=1 -> ids a=0, b=1, c=2; unknown=3
    assert got[0] == [0, 3, 1]
    assert got[1] == []
    train_got = {r["id"]: r["out"] for r in m.apply(df, out="out").collect()}
    assert train_got[0] == [0, 1, 0]
    assert train_got[1] == []
    assert train_got[2] == [2, None, 0]
    assert train_got[3] == []


# ---------------------------------------------------------------- IVF ANN

def test_knn_ivf_recall_vs_bruteforce(spark):
    """IVF with n_probe == n_centroids is exhaustive (must equal brute
    force); with fewer probes recall@3 stays high on clustered data."""
    import os

    from dagli_spark.operators.similarity import knn_bruteforce, knn_ivf

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    e = spark.read.parquet(f"{sf}/sf0.001/embeddings.parquet")
    probes = e.where(F.col("vec_id") < 8)
    exact = knn_bruteforce(probes, e, k=3)
    full = knn_ivf(probes, e, k=3, n_centroids=4, n_probe=4, seed=7)
    a = sorted(map(str, exact.select("query_id", "neighbor_id", "rank").collect()))
    b = sorted(map(str, full.select("query_id", "neighbor_id", "rank").collect()))
    assert a == b
    approx = knn_ivf(probes, e, k=3, n_centroids=4, n_probe=2, seed=7)
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.5 * exact.count()  # clustered fixture -> decent recall


# ----------------------------------------------- review-found regressions

def test_rank_apply_keeps_duplicate_probe_rows(spark):
    """Range-fallback path must emit one result per probe ROW, even for
    identical rows (the one-result-per-row contract)."""
    from dagli_spark.operators.fit import fit_rank

    fit = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    m = fit_rank(fit, "v")
    probe = spark.createDataFrame([(5.0,), (5.0,), (1.5,)], "v double")
    got = sorted(r["r"] for r in m.apply(probe, out="r").collect())
    assert got == [1, 2, 2]  # 1.5 -> one below; both 5.0 rows -> two below


def test_kfold_target_encode_null_target_fold(spark):
    """A fold whose targets are all null must still receive the other
    folds' mean, not null."""
    from dagli_spark.operators.meta import kfold_target_encode

    rows = [(i, "k", None if i % 3 == 2 else float(i), i % 3)
            for i in range(12)]
    df = spark.createDataFrame(rows, "id int, key string, y double, grp int")
    out = kfold_target_encode(df, "key", "y", k=3, group_col="grp",
                              method="lcg", out="enc")
    pdf = out.toPandas()
    # grp routing with lcg on 0..2 spreads folds; every row whose OTHER
    # folds contain at least one non-null target must be encoded
    import math
    for _, r in pdf.iterrows():
        others = pdf[(pdf["fold"] != r["fold"]) & pdf["y"].notna()]
        if len(others):
            assert r["enc"] is not None and not math.isnan(r["enc"]), r
            assert math.isclose(r["enc"], others["y"].mean()), r


def test_minhash_rejects_degenerate_banding(spark, sf_dir):
    import pytest as _pytest

    from dagli_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError):
        minhash_lsh_pairs(d, "text", "doc_id", num_hashes=16, bands=32)
    with _pytest.raises(ValueError):
        minhash_lsh_pairs(d, "text", "doc_id", num_hashes=16, bands=5)


def test_knn_ivf_small_corpus(spark):
    """Corpus smaller than n_centroids must not crash (k clamps)."""
    from dagli_spark.operators.similarity import knn_ivf

    rows = [(i, [float(i), 1.0]) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = knn_ivf(e.where("vec_id < 2"), e, k=2, n_centroids=16, n_probe=16)
    assert out.count() > 0


def test_jaccard_dup_pairs_blocking_and_threshold(spark):
    """Exact n-gram Jaccard dedup: same-block near-dups pair with the
    exact set-Jaccard value; identical docs in DIFFERENT blocks are
    invisible to each other; sub-threshold and shingle-less (<n tokens)
    docs never appear."""
    from dagli_spark.operators.dedup import jaccard_dup_pairs

    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base, "en"),
        (2, base + " tonight", "en"),        # 7 shared of 8-gram union
        (3, base, "de"),                      # identical but other block
        (4, "completely different words entirely here now", "en"),
        (5, "too short", "en"),               # < 3 tokens -> no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_dup_pairs(df, "text", "doc_id", n=3,
                                      threshold=0.5,
                                      block_col="lang").collect()}
    # doc1 has 7 trigram shingles, doc2 has 8 (7 shared + 1 new) -> 7/8
    assert got == {(1, 2): 7 / 8}
    # without blocking, the cross-lang identical pair becomes visible
    unblocked = {(r["id_a"], r["id_b"])
                 for r in jaccard_dup_pairs(df, "text", "doc_id", n=3,
                                            threshold=0.5).collect()}
    assert unblocked == {(1, 2), (1, 3), (2, 3)}


def test_embedding_dup_pairs_matches_exact_above_threshold(spark):
    """LSH near-dup pairs: a near-identical vector pair (same sign
    pattern under EVERY hyperplane table) is always recalled with its
    exact cosine; every reported pair is a true >=threshold pair with
    id_a < id_b and no multi-table duplicates."""
    import numpy as np

    from dagli_spark.operators.similarity import embedding_dup_pairs

    rng = [float(x) for x in range(1, 9)]
    rows = [
        (1, rng),
        (2, [x * 1.0001 for x in rng]),       # cosine ~ 1.0
        (3, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # orthogonal to 3
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = embedding_dup_pairs(df, dim=8, id_col="vec_id",
                              threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    assert (1, 2) in got and got[(1, 2)] > 0.999
    V = {i: np.array(v) for i, v in rows}
    for (a, b), c in got.items():
        assert a < b
        exact = float(V[a] @ V[b]
                      / (np.linalg.norm(V[a]) * np.linalg.norm(V[b])))
        assert abs(c - exact) < 1e-9 and exact >= 0.95
    assert len(out) == len(got)  # dropDuplicates across tables held


def test_lsh_bucket_null_and_short_vectors(spark):
    """Each bucket bit is the sign of embedding . plane; a null, short or
    empty vector has a null dot and buckets to 0 on every plane, so it
    keeps a band key in every LSH table (a null key would drop the row
    from the bucket join)."""
    import numpy as np

    from dagli_spark.operators.similarity import (_hyperplanes, knn_lsh,
                                                  lsh_bucket)

    v = [0.5, -1.0, 2.0, 0.25, -0.75, 1.5, -2.0, 1.0]
    rows = [(1, v), (2, None), (3, [1.0, 2.0]), (4, [])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {r["vec_id"]: r["b"] for r in lsh_bucket(
        df, "embedding", 8, num_planes=6, seed=5, out="b").collect()}
    dots = _hyperplanes(8, 6, 5) @ np.array(v)
    assert got == {1: sum(1 << p for p, d in enumerate(dots) if d >= 0),
                   2: 0, 3: 0, 4: 0}
    out = knn_lsh(df, df, dim=8, k=3, num_planes=6, seed=5).collect()
    nbrs = {}
    for r in out:
        nbrs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert {3, 4} <= nbrs[2] and {2, 4} <= nbrs[3] and {2, 3} <= nbrs[4]


def test_mapped_iterable_payload_alignment_after_shuffle(spark):
    """Row payloads must stay aligned with their mapped arrays even when
    the source is shuffle output."""
    from dagli_spark.operators.fit import fit_indices

    rows = [(i, [f"w{i % 5}", f"w{(i + 1) % 5}"]) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, toks array<string>") \
        .repartition(7, "id")  # shuffle upstream of the lift
    m = fit_indices(df, "toks")
    out = m.apply(df, out="ids").collect()
    lookup = {r["value"]: r["id"] for r in m.mapping.collect()}
    for r in out:
        assert r["ids"] == [lookup[t] for t in r["toks"]], r
