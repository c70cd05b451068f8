"""Tie-margin pins for the fitted-literal parity rows (round-3 ADVICE).

The kmeans / knn_ivf / nearest_centroid driver rows compare an engine that
sums squared distances with numpy einsum (pairwise/SIMD order) against a
DuckDB oracle that folds list_sum sequentially. The two orders differ by
~1e-13 relative — harmless UNLESS an argmin/argsort/rounding decision sits
within that noise, in which case the parity row becomes flaky rather than
deterministic.

Rather than perturbing either side's semantics, these tests PROVE the
decisions are stable at the oracle scale (sf0.01): every argmin margin,
probe-routing boundary, top-k adjacent-cosine gap and round(...,4) edge
distance must exceed thresholds that sit ~6+ orders of magnitude above
summation noise (measured minima at generation time: assign 4.8e-4,
routing 7.0e-4, adjacent cosine 2.0e-3, rounding edge 3.1e-6, LSH bucket
sign 4.8e-5). If a data
or centroid regeneration ever erodes a margin, this fails loudly and the
affected query must be made tie-tolerant before shipping.

Pure numpy/pyarrow — no Spark session needed.
"""

import numpy as np
import pyarrow.parquet as pq
import pytest

from dagli_spark.oracle_literals import (
    IVF_CENTERS,
    KMEANS_CENTERS,
    ORACLE_SF_DIR,
)

DIST_MARGIN = 1e-6      # squared-L2 argmin / routing decisions
COS_MARGIN = 1e-7       # adjacent top-k cosine gap
EDGE_MARGIN = 1e-3      # distance from a x1e4 rounding boundary, in x1e4 units


@pytest.fixture(scope="module")
def emb():
    t = pq.read_table(f"{ORACLE_SF_DIR}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    ids = np.array(t["vec_id"].to_pylist())
    return ids, X


def _sq_dists(X, centers):
    C = np.asarray(centers, dtype=np.float64)
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)


def test_kmeans_assignment_margins(emb):
    _, X = emb
    S = np.sort(_sq_dists(X, KMEANS_CENTERS), axis=1)
    assert float((S[:, 1] - S[:, 0]).min()) > DIST_MARGIN


def test_ivf_assignment_and_routing_margins(emb):
    ids, X = emb
    S = np.sort(_sq_dists(X, IVF_CENTERS), axis=1)
    assert float((S[:, 1] - S[:, 0]).min()) > DIST_MARGIN
    # probe routing: the q_knn_ivf probes (vec_id < 10) take the top-3 of 8
    # lists — the boundary between the 3rd and 4th nearest center decides
    # WHICH lists are scanned, so it must not be a near-tie either
    P = X[ids < 10]
    SP = np.sort(_sq_dists(P, IVF_CENTERS), axis=1)
    assert float((SP[:, 3] - SP[:, 2]).min()) > DIST_MARGIN


def test_ivf_topk_and_rounding_margins(emb):
    """Replicates q_knn_ivf's candidate generation (k=3, n_probe=3) and
    checks (a) the gap between every adjacent pair among each query's top-4
    cosines — a swap there changes the emitted `rank` — and (b) each
    emitted cosine's distance from a round(.,4) half-way boundary."""
    ids, X = emb
    D = _sq_dists(X, IVF_CENTERS)
    assign = np.argmin(D, axis=1)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    P = X[ids < 10]
    order = np.argsort(_sq_dists(P, IVF_CENTERS), axis=1)
    for qi in range(len(P)):
        cand = np.isin(assign, order[qi, :3])
        qn = P[qi] / np.linalg.norm(P[qi])
        cos = np.sort(Xn[cand] @ qn)[::-1]
        top = cos[:4]
        assert float(np.min(top[:-1] - top[1:])) > COS_MARGIN, qi
        edge = np.abs((cos[:3] * 1e4) % 1.0 - 0.5).min()
        assert float(edge) > EDGE_MARGIN, qi


def test_nearest_centroid_margins(emb):
    """q_nearest_centroid: argmin L2 against the 3 basis vectors — same
    engine-vs-oracle summation-order exposure, same margin proof."""
    _, X = emb
    dim = X.shape[1]
    C = np.zeros((3, dim))
    for i in range(3):
        C[i, i] = 1.0
    S = np.sort(_sq_dists(X, C), axis=1)
    assert float((S[:, 1] - S[:, 0]).min()) > DIST_MARGIN


def test_embedding_dedup_bucket_sign_margins(emb):
    """q_embedding_dedup (dim=64, num_planes=8, num_tables=4, seed=17):
    every bucket bit is the sign of embedding . plane, summed in index
    order by the engine's aggregate and by the oracle's list_sum, so no
    dot product may sit within float noise of 0 (measured minimum at
    sf0.01: 4.77e-5)."""
    from dagli_spark.operators.similarity import _hyperplanes

    _, X = emb
    dots = np.stack([X @ _hyperplanes(64, 8, 17 + 101 * t).T
                     for t in range(4)])
    assert float(np.abs(dots).min()) >= DIST_MARGIN
