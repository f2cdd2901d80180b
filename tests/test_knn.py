"""kNN: ring-expansion result must equal the brute-force result, which must
equal the sequential numpy oracle (ties by image_id asc)."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_scripts_spark import cells, fixtures, knn

N_IMG = 500
N_Q = 80
K = 5


def np_knn_oracle(qdf, pdf, k=K):
    out = {}
    pid = pdf["image_id"].to_numpy()
    for _, q in qdf.iterrows():
        d = cells.np_haversine_m(
            q["lon"], q["lat"], pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        )
        order = sorted(range(len(d)), key=lambda i: (d[i], pid[i]))[:k]
        out[int(q["qid"])] = [(r + 1, pid[i], float(d[i])) for r, i in enumerate(order)]
    return out


@pytest.fixture(scope="module")
def data(spark):
    images = fixtures.images_spark(spark, n=N_IMG).persist()
    queries = fixtures.query_points_spark(spark, q=N_Q).persist()
    images.count(), queries.count()
    return (
        images,
        queries,
        fixtures.make_images_pdf(N_IMG),
        fixtures.make_query_points_pdf(N_Q),
    )


def _as_map(rows):
    m = {}
    for r in rows:
        m.setdefault(r["qid"], []).append((r["rank"], r["image_id"], r["dist_m"]))
    return {q: sorted(v) for q, v in m.items()}


def test_bruteforce_matches_numpy_oracle(data):
    images, queries, ipdf, qpdf = data
    got = _as_map(knn.knn_bruteforce(queries, images, k=K).collect())
    exp = np_knn_oracle(qpdf, ipdf)
    assert set(got) == set(exp)
    for q in exp:
        assert [(r, i) for r, i, _ in got[q]] == [(r, i) for r, i, _ in exp[q]], q
        for (_, _, dg), (_, _, de) in zip(got[q], exp[q]):
            assert abs(dg - de) < 1e-6


def test_ring_expansion_matches_bruteforce(data):
    images, queries, ipdf, qpdf = data
    got = _as_map(knn.knn_join(queries, images, k=K, z=8).collect())
    exp = np_knn_oracle(qpdf, ipdf)
    assert set(got) == set(exp)
    for q in exp:
        assert [(r, i) for r, i, _ in got[q]] == [(r, i) for r, i, _ in exp[q]], q


def test_ring_expansion_small_zoom_forces_fallback(data):
    # z=2 world is 4x4 tiles: rect covers world quickly -> exercises the
    # brute-force fallback branch; result must still be exact.
    images, queries, ipdf, qpdf = data
    got = _as_map(knn.knn_join(queries.limit(10), images, k=K, z=2, ring=1).collect())
    exp = np_knn_oracle(qpdf.head(10), ipdf)
    for q in got:
        assert [(r, i) for r, i, _ in got[q]] == [(r, i) for r, i, _ in exp[q]], q
