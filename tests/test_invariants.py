"""Quantitative invariant gates for every rows-only query (VERDICT r03
item 3): the driver's value-hash cannot bind these (float geometry /
probabilistic recall / streaming accumulation order), so each one gets
a numeric invariant asserted here instead of a bare row count.

stream_running_totals' gate lives in tests/test_streaming_multimodal.py
(exact equality with the batch aggregate)."""
from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_transformation_2022_spark.queries import REGISTRY
from data_transformation_2022_spark.operators.steps import RID

SAMPLE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _run(spark, sf_dir, name):
    return REGISTRY[name].spark(spark, sf_dir).collect()


def _coret_input(spark, sf_dir, cap):
    """Replicate ml.coret.transform_sample's min-max-scaled matrix for
    the coret_* queries' sample (same RID order, same cap)."""
    from data_transformation_2022_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem", rid=True)
    pdf = (
        li.select(RID, *SAMPLE_COLS).orderBy(RID).limit(cap).toPandas()
    )
    x = pdf[SAMPLE_COLS].to_numpy(dtype=float)
    lo, hi = x.min(axis=0), x.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    return pdf[RID].to_numpy(), (x - lo) / span


def _trustworthiness(x: np.ndarray, y: np.ndarray, k: int = 10) -> float:
    """Venna & Kaski trustworthiness: penalizes embedding neighbors that
    are not input-space neighbors, 1.0 = perfect."""
    n = len(x)
    dx = ((x[:, None, :] - x[None, :, :]) ** 2).sum(-1)
    dy = ((y[:, None, :] - y[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(dx, np.inf)
    np.fill_diagonal(dy, np.inf)
    rank_x = np.argsort(np.argsort(dx, axis=1), axis=1)  # 0 = nearest
    nn_y = np.argsort(dy, axis=1)[:, :k]
    t = 0.0
    for i in range(n):
        for j in nn_y[i]:
            r = rank_x[i, j]
            if r >= k:
                t += r - k + 1
    return 1.0 - 2.0 / (n * k * (2 * n - 3 * k - 1)) * t


# ---------------------------------------------------------------------------
# core-T embeddings
# ---------------------------------------------------------------------------


def _embedding_rows(rows, c1, c2):
    return (
        np.array([r[RID] for r in rows]),
        np.array([[r[c1], r[c2]] for r in rows], dtype=float),
    )


def test_coret_tsne_trustworthy_and_deterministic(spark, sf_dir):
    rows = _run(spark, sf_dir, "coret_tsne")
    rid, y = _embedding_rows(rows, "tSNE-1", "tSNE-2")
    rid_in, x = _coret_input(spark, sf_dir, 400)
    order = np.argsort(rid)
    y = y[order]
    assert np.array_equal(np.sort(rid), np.sort(rid_in)[: len(rid)])
    t = _trustworthiness(x[np.argsort(rid_in)][: len(rid)], y, k=10)
    assert t >= 0.75, f"t-SNE trustworthiness {t:.3f} < 0.75"
    rows2 = _run(spark, sf_dir, "coret_tsne")
    _, y2 = _embedding_rows(rows2, "tSNE-1", "tSNE-2")
    assert np.array_equal(y, y2[np.argsort([r[RID] for r in rows2])])


def test_coret_umap_trustworthy_and_deterministic(spark, sf_dir):
    rows = _run(spark, sf_dir, "coret_umap")
    rid, y = _embedding_rows(rows, "UMAP-1", "UMAP-2")
    rid_in, x = _coret_input(spark, sf_dir, 400)
    order = np.argsort(rid)
    y = y[order]
    t = _trustworthiness(x[np.argsort(rid_in)][: len(rid)], y, k=10)
    assert t >= 0.75, f"UMAP trustworthiness {t:.3f} < 0.75"
    rows2 = _run(spark, sf_dir, "coret_umap")
    _, y2 = _embedding_rows(rows2, "UMAP-1", "UMAP-2")
    assert np.array_equal(y, y2[np.argsort([r[RID] for r in rows2])])


def test_coret_mds_preserves_distances(spark, sf_dir):
    rows = _run(spark, sf_dir, "coret_mds")
    rid, y = _embedding_rows(rows, "MDS-1", "MDS-2")
    rid_in, x = _coret_input(spark, sf_dir, 400)
    y = y[np.argsort(rid)]
    x = x[np.argsort(rid_in)][: len(rid)]
    dx = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    dy = np.sqrt(((y[:, None, :] - y[None, :, :]) ** 2).sum(-1))
    iu = np.triu_indices(len(x), 1)
    r = np.corrcoef(dx[iu], dy[iu])[0, 1]
    # 2 of 4 scaled dims carry ~2/3 of the metric structure here
    # (measured 0.68); random embeddings sit near 0
    assert r >= 0.6, f"MDS distance correlation {r:.3f} < 0.6"
    # exact classical-MDS structure: components are centered and
    # mutually orthogonal (eigenvector property of the Gram factor)
    assert np.allclose(y.mean(axis=0), 0.0, atol=1e-8)
    gram = y.T @ y
    assert abs(gram[0, 1]) <= 1e-6 * max(gram[0, 0], gram[1, 1])


def test_coret_dbscan_definitional_invariants(spark, sf_dir):
    """Check DBSCAN's DEFINITION on the scaled sample, independent of
    the clustering code path: every core point's eps-neighbors share its
    cluster; every noise point has < min_samples points within eps."""
    from data_transformation_2022_spark.ml.coret import (
        DBSCAN_EPS,
        DBSCAN_MIN_SAMPLES,
        run_dbscan,
    )
    from data_transformation_2022_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem", rid=True)
    sample = li.select(RID, *SAMPLE_COLS).orderBy(RID).limit(400)
    out = run_dbscan(sample).collect()
    labels = {r[RID]: r["Category by DBSCAN"] for r in out}
    rid_in, x = _coret_input(spark, sf_dir, 400)
    lab = np.array([labels[r] for r in rid_in])
    dist = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    within = dist <= DBSCAN_EPS
    n_neigh = within.sum(axis=1)  # includes self
    core = n_neigh >= DBSCAN_MIN_SAMPLES
    for i in range(len(x)):
        if core[i]:
            # core points are clustered, and core points within eps of
            # each other are density-connected -> same cluster
            assert lab[i] != "-1"
            for j in np.where(within[i] & core)[0]:
                assert lab[j] == lab[i], f"core-core pair {i},{j} split"
        elif lab[i] != "-1":
            # border point: must touch >=1 core point of its own cluster
            touch = np.where(within[i] & core)[0]
            assert any(lab[j] == lab[i] for j in touch), f"border {i} unsupported"
        else:
            # noise: touches no core point at all
            assert not (within[i] & core).any(), f"noise {i} touches a core"
    # histogram query agrees with the runner labels
    hist = {r["Category by DBSCAN"]: r["n"] for r in _run(spark, sf_dir, "coret_dbscan")}
    from collections import Counter

    assert hist == dict(Counter(lab))


def test_coret_lda_histogram_invariants(spark, sf_dir):
    rows = _run(spark, sf_dir, "coret_lda")
    total = sum(r["n"] for r in rows)
    n_expected = min(
        500,
        REGISTRY["coret_lda"].spark(spark, sf_dir).sparkSession.read.parquet(
            f"{sf_dir}/lineitem.parquet"
        ).count(),
    )
    assert total == n_expected  # every sampled row gets exactly one topic
    assert all(r["n"] > 0 for r in rows)
    assert 1 <= len(rows) <= 5
    rows2 = _run(spark, sf_dir, "coret_lda")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))  # deterministic


# ---------------------------------------------------------------------------
# scagnostics
# ---------------------------------------------------------------------------


def test_scoring_scagnostics_bounded_and_deterministic(spark, sf_dir):
    r1 = _run(spark, sf_dir, "scoring_scagnostics")[0].asDict()
    assert set(r1) == {
        "outlying", "skew", "striated", "stringy", "straight", "clumpy", "monotonic"
    }
    for k, v in r1.items():
        assert 0.0 <= v <= 1.0, (k, v)
    assert any(0.0 < v < 1.0 for v in r1.values())  # non-degenerate geometry
    r2 = _run(spark, sf_dir, "scoring_scagnostics")[0].asDict()
    assert r1 == r2


# ---------------------------------------------------------------------------
# similarity: recall against the exact twins
# ---------------------------------------------------------------------------


def _neighbor_sets(rows):
    d: dict = {}
    for r in rows:
        d.setdefault(r["query_id"], set()).add(r["cand_id"])
    return d


def _recall(approx: dict, exact: dict) -> float:
    return float(
        np.mean([len(approx.get(q, set()) & s) / len(s) for q, s in exact.items()])
    )


@pytest.fixture(scope="module")
def exact_topk(spark, sf_dir):
    return _neighbor_sets(_run(spark, sf_dir, "sim_cosine_topk"))


def test_sim_ann_topk_fast_recall(spark, sf_dir, exact_topk):
    fast = _neighbor_sets(_run(spark, sf_dir, "sim_ann_topk_fast"))
    r = _recall(fast, exact_topk)
    assert r >= 0.99, f"fast-path recall {r:.3f}"  # same math, float noise only


def test_sim_ivf_topk_recall(spark, sf_dir, exact_topk):
    ivf = _neighbor_sets(_run(spark, sf_dir, "sim_ivf_topk"))
    r = _recall(ivf, exact_topk)
    # n_probe=4/16 operating point. HONEST floor: before round 6 the
    # centroid fit silently degenerated (every vector in ONE list —
    # ml._lloyd returns centers, not labels) so recall measured a
    # vacuous 1.0; with real 16-way partitioning the measured recall is
    # 0.66 at 4/16 probes (0.86 at 8/16) — gate the real number with
    # margin.
    assert r >= 0.55, f"IVF recall {r:.3f}"


def test_sim_ivf_persisted_recall_and_live_equality(spark, sf_dir, exact_topk):
    pers = _run(spark, sf_dir, "sim_ivf_persisted")
    r = _recall(_neighbor_sets(pers), exact_topk)
    # same honest 4/16 operating point as test_sim_ivf_topk_recall
    assert r >= 0.55, f"persisted IVF recall {r:.3f}"
    live = _run(spark, sf_dir, "sim_ivf_topk")
    assert sorted((x["query_id"], x["cand_id"], x["rank"]) for x in pers) == sorted(
        (x["query_id"], x["cand_id"], x["rank"]) for x in live
    )


def test_sim_lsh_neardup_subset_of_exact(spark, sf_dir):
    """Banded hyperplane LSH: every emitted pair must be a TRUE
    near-dup (precision 1.0 — exact numpy cosine recheck of every
    emitted pair); recall at the registered 4-band × 8-plane /
    0.4-threshold operating point is low by design (collision prob
    1-(1-(1-θ/π)^8)^4) — gate the measured floor on the anchor's
    deterministic slice."""
    from data_transformation_2022_spark.sources.readers import load_table

    lsh = {(r["id_a"], r["id_b"]) for r in _run(spark, sf_dir, "sim_lsh_neardup")}
    assert lsh, "LSH returned nothing"
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for a, b in lsh:
        va, vb = vecs[a], vecs[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert cos >= 0.4 - 1e-9, f"false positive ({a},{b}) cos={cos:.3f}"
    # recall floor on the exact anchor's slice (even ids < 1000)
    exact = {(r["id_a"], r["id_b"]) for r in _run(spark, sf_dir, "emb_neardup_pairs")}
    lsh_slice = {
        (a, b) for a, b in lsh if a < 1000 and b < 1000 and a % 2 == 0 and b % 2 == 0
    }
    assert len(lsh_slice & exact) / len(exact) >= 0.02
    lsh2 = {(r["id_a"], r["id_b"]) for r in _run(spark, sf_dir, "sim_lsh_neardup")}
    assert lsh == lsh2  # seeded hyperplanes: deterministic


# ---------------------------------------------------------------------------
# engine_recommend: golden full-payload snapshot (closes the showtest gap)
# ---------------------------------------------------------------------------

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "recommend_sf0001.json")


def _normalized_payload(spark):
    from data_transformation_2022_spark.engine import recommend
    from data_transformation_2022_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem", rid=True)
    res = recommend(li, dm_ts=["pca", "kmeans"], sample_cap=500)
    payload = json.loads(res.to_json())

    def walk(o):
        if isinstance(o, float):
            return round(o, 6)
        if isinstance(o, list):
            return [walk(v) for v in o]
        if isinstance(o, dict):
            return {k: walk(v) for k, v in o.items()}
        return o

    return walk(payload)


def test_engine_recommend_golden_payload(spark):
    """Byte-stable full recommend payload (ranked charts + provenance
    DAG) vs the committed golden. Regenerate on INTENDED ranking /
    presentation changes: delete tests/golden/recommend_sf0001.json and
    re-run this test once (it self-primes), then commit the diff."""
    payload = _normalized_payload(spark)
    text = json.dumps(payload, sort_keys=True, indent=1)
    if not os.path.exists(GOLDEN):
        with open(GOLDEN, "w") as f:
            f.write(text)
        pytest.skip("golden primed — rerun to assert")
    with open(GOLDEN) as f:
        want = f.read()
    assert text == want, "recommend payload drifted from golden snapshot"
    # ranking invariant: scores non-increasing
    scores = [c["score"] for c in payload["charts"]]
    assert scores == sorted(scores, reverse=True)
