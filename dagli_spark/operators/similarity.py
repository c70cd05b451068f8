"""Similarity search over embedding columns (array<float>).

- :func:`knn_bruteforce` — exact cosine top-k via broadcast join; the
  baseline and the oracle-checkable path (probe set is small, corpus is
  streamed — no shuffle of the corpus at all).
- :func:`knn_lsh` — random-hyperplane LSH bucketing: corpus and probes
  hash into sign-pattern buckets; candidates = bucket equi-join (shuffle
  bounded by bucket sizes), verified with exact cosine. The scale path for
  probe sets too large to broadcast.
- :func:`embedding_dup_pairs` — near-duplicate pairs by cosine >= threshold
  via the same LSH bucketing.

The LSH tables band through dedup's one banding path (band_keys /
band_pairs / with_payload): each table's bucket is one ``long`` key of a
single projection, the bucket join carries ids only, and vectors are
attached to candidate ids alone.

Reference analogue: NearestVector (argmin distance vs a fixed candidate
list, /root/reference/common/src/main/java/com/linkedin/dagli/vector/NearestVector.java:14-22)
is exactly the broadcast-probe pattern of knn_bruteforce.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dagli_spark.functions.vector import cosine
from dagli_spark.operators.dedup import band_keys, band_pairs, with_payload


def knn_bruteforce(
    probes: DataFrame, corpus: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 10, exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors of each probe row against the corpus.

    Plan shape: broadcast(probes) x corpus scan -> per-(probe,corpus) cosine
    -> window top-k. The big side (corpus) is never shuffled before the
    rank; only (|probes| x k)-sized results move."""
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    joined = c.crossJoin(F.broadcast(p))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    return _cosine_top_k(joined, k)


def _cosine_top_k(cand: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id) candidates of each query by
    the exact cosine of ``__qv`` and ``__cv``; ties rank the lower
    neighbor id first. The top-k of every kNN path."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("cosine", cosine("__qv", "__cv"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int):
    """Deterministic pseudo-random hyperplanes from a seeded integer hash
    (partition-count invariant; no numpy RNG state)."""
    # splitmix64-style generator, pure function of (seed, plane, coord)
    off = (seed * 0x9E3779B97F4A7C15) % (1 << 64)  # wraparound intended
    idx = np.arange(num_planes * dim, dtype=np.uint64) + np.uint64(off)
    z = idx + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    u = z.astype(np.float64) / float(2**64)
    return (u.reshape(num_planes, dim) * 2.0 - 1.0)


def _bucket_sql(vec_col: str, planes) -> str:
    """Sign-pattern bucket of ``vec_col`` over ``planes`` as one SQL text:
    bit p is set when the vector's dot product with plane p, summed from
    ``0D`` in index order, is >= 0. A null or short vector (a null dot)
    buckets to 0 on that plane. Coordinates are ``D`` literals: a plain
    decimal literal is a DECIMAL in Spark SQL."""
    bits = []
    for p_i, plane in enumerate(planes):
        coords = ", ".join(repr(float(x)) + "D" for x in plane)
        dot = (f"aggregate(zip_with(`{vec_col}`, array({coords}), "
               f"(a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)")
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << p_i} ELSE 0 END")
    return " | ".join(bits)


def lsh_bucket(df: DataFrame, vec_col: str, dim: int, *,
               num_planes: int = 8, seed: int = 13, out: str = "lsh_bucket") -> DataFrame:
    """Sign-pattern bucket id from random hyperplanes — pure Catalyst, one
    SQL-text expression (the dot products run as JVM expressions over the
    array column)."""
    return df.withColumn(
        out, F.expr(_bucket_sql(vec_col, _hyperplanes(dim, num_planes, seed))))


def _lsh_keys(vec_col: str, dim: int, num_planes: int, num_tables: int,
              seed: int) -> list[str]:
    """One ``long`` band key per LSH table: ``t * 2^num_planes + bucket``,
    table ``t`` hashing with its own hyperplanes (``seed + 101 * t``).
    The bucket fits ``num_planes`` bits, so the key is collision-free by
    construction — knn_lsh ranks every candidate, so a collision would
    change its output."""
    return [f"{t << num_planes}L + ("
            f"{_bucket_sql(vec_col, _hyperplanes(dim, num_planes, seed + 101 * t))})"
            for t in range(num_tables)]


def knn_lsh(
    probes: DataFrame, corpus: DataFrame, dim: int, *, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 10, num_planes: int = 6,
    num_tables: int = 4, seed: int = 13,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing an LSH bucket in ANY of
    ``num_tables`` independent hash tables, then exact cosine + window
    top-k. The bucket join moves (id, key) rows only; vectors join the
    candidate pairs afterwards — the IVF-style scale path."""
    keys = _lsh_keys(vec_col, dim, num_planes, num_tables, seed)
    cand = band_pairs(band_keys(probes, keys, id_col), id_col,
                      band_keys(corpus, keys, id_col),
                      names=("query_id", "neighbor_id"))
    cand = with_payload(cand, probes, id_col, vec_col, "query_id", "__qv")
    cand = with_payload(cand, corpus, id_col, vec_col, "neighbor_id", "__cv")
    return _cosine_top_k(cand, k)


def knn_ivf(
    probes: DataFrame, corpus: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 10, n_centroids: int = 16,
    n_probe: int = 4, max_iter: int = 5, seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer partitions the
    corpus into inverted lists; each probe scans only its ``n_probe``
    nearest lists (exact cosine + window top-k within them).

    Scale shape: the quantizer fit is the distributed Lloyd loop
    (operators.models.fit_kmeans); corpus assignment and probe-to-list
    routing both run through ONE Arrow-batched pandas UDF over a broadcast
    centroid matrix — plan size stays O(1) in the centroid count, so real
    IVF sizes (2^14..2^16 lists) compile instantly (the round-1 design
    inlined every centroid as a Catalyst literal: plan size O(k*dim));
    the candidate join shuffles only (probe x n_probe lists) — the
    fraction scanned is n_probe / n_centroids of brute force, and the
    centroid count scales with corpus size like a real IVF index."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    from dagli_spark.operators.models import (_sq_dists, _stack_vectors,
                                              fit_kmeans)

    km = fit_kmeans(corpus, vec_col, n_centroids, max_iter=max_iter,
                    seed=seed, id_col=id_col)
    assigned = km.apply(corpus.select(id_col, vec_col), out="__c").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"), "__c",
    )

    # one shared centroid-matrix broadcast with km.apply (not a second copy)
    bc = km.matrix_broadcast(probes.sparkSession)
    np_lists = min(n_probe, len(km.centers))
    dim = len(km.centers[0])

    @pandas_udf(ArrayType(IntegerType()))
    def _route(v: pd.Series) -> pd.Series:
        cm = bc.value
        mask, X = _stack_vectors(v, dim)
        out = np.full(len(v), None, dtype=object)
        if len(X):
            D = _sq_dists(X, cm)
            # stable argsort == the old array_sort over (dist, centroid)
            # structs: ties break toward the lower centroid id
            idx = np.argsort(D, axis=1, kind="stable")[:, :np_lists]
            # per-slot assignment: a vectorized out[mask] = list-of-arrays
            # re-stacks to 2-D and numpy rejects it
            for i, row in zip(np.nonzero(mask)[0], idx.astype("int32")):
                out[i] = row
        return pd.Series(out)

    routed = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        F.explode(_route(F.col(vec_col))).alias("__c"),
    )
    cand = routed.join(assigned, "__c").where(
        F.col("query_id") != F.col("neighbor_id"))
    return _cosine_top_k(cand, k)


def embedding_dup_pairs(
    df: DataFrame, dim: int, *, id_col: str = "vec_id",
    vec_col: str = "embedding", threshold: float = 0.95,
    num_planes: int = 8, num_tables: int = 4, seed: int = 17,
) -> DataFrame:
    """Near-duplicate (id_a < id_b, cosine >= threshold) pairs via LSH
    candidate generation + exact verification."""
    keys = _lsh_keys(vec_col, dim, num_planes, num_tables, seed)
    cand = band_pairs(band_keys(df, keys, id_col), id_col)
    cand = with_payload(cand, df, id_col, vec_col, "id_a", "va")
    cand = with_payload(cand, df, id_col, vec_col, "id_b", "vb")
    return (
        cand.withColumn("cosine", cosine("va", "vb"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
