"""KMV distinct-count sketch (sketches.py) — estimator accuracy, the
exact-below-k contract, and merge-invariance of the partial combine."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import sketches


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "grp string, key long")


def test_kmv_exact_when_below_k(spark):
    # 40 distinct keys < k=64 -> the sketch IS the exact count
    df = _df(spark, [("a", i % 40) for i in range(400)])
    row = sketches.kmv_distinct(df, ["grp"], "key", k=64).collect()[0]
    assert row["est_distinct"] == 40
    assert row["n_kept"] == 40


def test_kmv_accuracy_and_python_reference(spark):
    # 5000 distinct keys at k=256: KMV std error ~ 1/sqrt(k-2) ~ 6.3%;
    # the md5 stream is fixed so the estimate is deterministic — assert the
    # exact value against an independent pure-Python reference AND a
    # generous 3-sigma accuracy band.
    n, k = 5000, 256
    df = _df(spark, [("a", i) for i in range(n)])
    row = sketches.kmv_distinct(df, ["grp"], "key", k=k).collect()[0]

    hs = sorted(hashlib.md5(str(i).encode()).hexdigest() for i in range(n))
    kth = int(hs[k - 1][:12], 16)
    want = int(round((k - 1) * float(16**12) / kth))
    assert row["est_distinct"] == want
    assert abs(row["est_distinct"] - n) / n < 3 / (k - 2) ** 0.5
    assert row["n_kept"] == k


def _kmv_ref(keys, k):
    """(est_distinct, n_kept) of a KMV sketch over ``keys``, in numpy."""
    h = np.sort(np.array(
        [int(hashlib.md5(str(x).encode()).hexdigest()[:12], 16) for x in set(keys)],
        dtype=np.float64))
    if len(h) < k:
        return len(h), len(h)
    return int(np.round((k - 1) * 16.0**12 / h[k - 1])), k


def test_kmv_partial_combine_is_invariant(spark):
    # mergeable-sketch property: the Arrow per-partition top-k combine must
    # not change the estimate, for any partitioning; group "c" stays below
    # k and the NULL group is a group like any other
    rows = [(g, i * 7 + j) for g in ("a", "b") for i in range(300) for j in (0, 1)]
    rows += [("c", i % 5) for i in range(40)] + [(None, i) for i in range(50)]
    df = _df(spark, rows)
    want = {
        (g, *_kmv_ref([key for gg, key in rows if gg == g], 32))
        for g in ("a", "b", "c", None)
    }
    for parts in (1, 7):
        got = {
            (r["grp"], r["est_distinct"], r["n_kept"])
            for r in sketches.kmv_distinct(
                df.repartition(parts), ["grp"], "key", k=32
            ).collect()
        }
        assert got == want, parts


def _sets_df(spark, sets):
    rows = [(s, k) for s, keys in sets.items() for k in keys]
    return spark.createDataFrame(rows, "s string, key long")


def test_kmv_set_ops_exact_regime(spark):
    # every set below k -> theta = 1 -> union/intersection are EXACT
    sets = {
        "a": range(0, 30),
        "b": range(20, 50),           # |a&b|=10, |a|b|=50
        "c": range(100, 110),         # disjoint from a and b
    }
    out = {
        (r["set_a"], r["set_b"]): r
        for r in sketches.kmv_set_ops(_sets_df(spark, sets), "s", "key", k=64).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["est_a"], ab["est_b"]) == (30, 30)
    assert ab["est_union"] == 50 and ab["est_inter"] == 10
    ac = out[("a", "c")]
    assert ac["est_union"] == 40 and ac["est_inter"] == 0
    bc = out[("b", "c")]
    assert bc["est_union"] == 40 and bc["est_inter"] == 0


def test_kmv_set_ops_sketch_regime_accuracy(spark):
    # 4000/4000 keys with 2000 shared at k=256: theta intersection std err
    # ~ 1/sqrt(k_retained); assert a generous 4-sigma band plus the exact
    # consistency identities est >= 0 and union <= est_a + est_b
    n, k = 4000, 256
    sets = {"a": range(0, n), "b": range(n // 2, n + n // 2)}
    row = sketches.kmv_set_ops(_sets_df(spark, sets), "s", "key", k=k).collect()[0]
    union, inter = 2 * n - n // 2, n // 2
    assert abs(row["est_union"] - union) / union < 4 / (k - 2) ** 0.5
    # intersection retains ~k * inter/union hashes -> wider band
    kr = k * inter / union
    assert abs(row["est_inter"] - inter) / inter < 4 / kr**0.5
    assert row["est_inter"] <= min(row["est_a"], row["est_b"]) * 1.25
    assert row["est_union"] <= row["est_a"] + row["est_b"]


def test_kmv_set_ops_matches_python_reference(spark):
    # deterministic md5 stream -> assert the exact estimates against an
    # independent pure-Python theta-sketch reference
    n, k = 1000, 64
    sets = {"a": range(0, n), "b": range(n // 3, n + n // 3)}
    row = sketches.kmv_set_ops(_sets_df(spark, sets), "s", "key", k=k).collect()[0]

    scale = float(16**12)
    hs = {
        s: sorted(hashlib.md5(str(i).encode()).hexdigest() for i in keys)
        for s, keys in sets.items()
    }
    sk = {s: h[:k] for s, h in hs.items()}
    theta = {s: int(h[k - 1][:12], 16) if len(h) >= k else scale
             for s, h in hs.items()}
    t = min(theta["a"], theta["b"])
    common = set(sk["a"]) & set(sk["b"])
    n_ret = sum(1 for h in common if int(h[:12], 16) < t)
    want_inter = int(round(n_ret * scale / t))
    uh = sorted(set(sk["a"]) | set(sk["b"]))[:k]
    want_union = int(round((k - 1) * scale / int(uh[k - 1][:12], 16)))
    assert row["est_inter"] == want_inter
    assert row["est_union"] == want_union


def test_kmv_set_ops_validation_and_plan(spark):
    df = _sets_df(spark, {"a": [1]})
    with pytest.raises(ValueError, match="k >= 2"):
        sketches.kmv_set_ops(df, "s", "key", k=1)
    plan = (
        sketches.kmv_set_ops(df, "s", "key", k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_kmv_validation_and_plan(spark):
    df = _df(spark, [("a", 1)])
    with pytest.raises(ValueError, match="k >= 2"):
        sketches.kmv_distinct(df, ["grp"], "key", k=1)
    # the estimate path is Column arithmetic; the only Python node is the
    # Arrow-batched partial combine (MapInArrow), never row-Python
    plan = sketches.kmv_distinct(df, ["grp"], "key", k=8)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def _vals_df(spark, vals):
    return spark.createDataFrame([("g", float(v)) for v in vals],
                                 "grp string, v double")


def test_binned_quantiles_hand_computed(spark):
    # 10 values 0.5..9.5, width=1 bins -> one per bin, cnt=1 each.
    # q=0.5: t=5, bin b=4 (cum 5, cum_prev 4) -> est = 1*(4 + (5-4)/1) = 5.0
    df = _vals_df(spark, [i + 0.5 for i in range(10)])
    out = {
        r["q"]: r
        for r in sketches.binned_quantiles(
            df, ["grp"], "v", qs=(0.5, 0.9), lo=0.0, width=1.0, nbins=16
        ).collect()
    }
    assert out[0.5]["n"] == 10 and out[0.5]["est"] == 5.0
    assert out[0.9]["est"] == 9.0


def test_binned_quantiles_interpolation_and_clamp(spark):
    # 8 values in one bin [0,5) -> q=0.5 t=4: est = 5 * 4/8 = 2.5;
    # out-of-range values clamp into the edge bins instead of erroring
    df = _vals_df(spark, [1.0] * 8)
    row = sketches.binned_quantiles(df, ["grp"], "v", qs=(0.5,),
                                    lo=0.0, width=5.0, nbins=4).collect()[0]
    assert row["est"] == 2.5
    df2 = _vals_df(spark, [-10.0, 1000.0])
    rows = sketches.binned_quantiles(df2, ["grp"], "v", qs=(0.5, 1.0),
                                     lo=0.0, width=5.0, nbins=4).collect()
    ests = {r["q"]: r["est"] for r in rows}
    assert 0.0 <= ests[0.5] <= 5.0      # clamped low bin
    assert 15.0 <= ests[1.0] <= 20.0    # clamped high bin


def test_binned_quantiles_partition_invariant_and_bounded_error(spark):
    # estimate within one bin width of the exact quantile, identical for
    # any input partitioning (mergeable-histogram property)
    vals = [((i * 37) % 200) + 0.25 for i in range(500)]
    df = _vals_df(spark, vals)
    base = sorted(
        sketches.binned_quantiles(df, ["grp"], "v", qs=(0.5, 0.95),
                                  lo=0.0, width=5.0, nbins=64).collect())
    for parts in (1, 13):
        got = sorted(
            sketches.binned_quantiles(df.repartition(parts), ["grp"], "v",
                                      qs=(0.5, 0.95), lo=0.0, width=5.0,
                                      nbins=64).collect())
        assert got == base
    sv = sorted(vals)
    for r in base:
        exact = sv[int(r["q"] * len(sv)) - 1]
        assert abs(r["est"] - exact) <= 5.0 + 1e-9


def test_binned_quantiles_validation(spark):
    df = _vals_df(spark, [1.0])
    with pytest.raises(ValueError, match="nbins"):
        sketches.binned_quantiles(df, ["grp"], "v", nbins=1)
    with pytest.raises(ValueError, match="width"):
        sketches.binned_quantiles(df, ["grp"], "v", width=0.0)
    with pytest.raises(ValueError, match="q must be"):
        sketches.binned_quantiles(df, ["grp"], "v", qs=(0.0,))


def _ps_expected(rows, k):
    """Pure-Python priority-sampling reference: md5 12-hex-prefix uniform,
    q = w/u, top-k per group by (q desc, id asc), w_hat = max(w, tau)."""
    import hashlib
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, i, w in rows:
        hv = int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)
        u = (float(hv) + 1.0) / 16**12
        by_g[g].append((w / u, i, w))
    out = {}
    for g, lst in by_g.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        tau = lst[k][0] if len(lst) > k else None
        for q, i, w in lst[:k]:
            out[(g, i)] = (round(q, 6), w if tau is None else max(w, tau))
    return out


def test_priority_sample_matches_pure_python_reference(spark):
    rows = [("a", i, 1.0 + (i * 7) % 13) for i in range(40)] + [
        ("b", 100 + i, 0.5 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    got = sketches.priority_sample(df, ["g"], "id", "w", k=8).collect()
    exp = _ps_expected(rows, 8)
    assert {(r["g"], r["id"]) for r in got} == set(exp)
    for r in got:
        eq, ew = exp[(r["g"], r["id"])]
        assert r["q"] == eq and r["w_hat"] == ew
    # group b has n=5 <= k: every row kept, w_hat exactly w
    assert sorted(r["id"] for r in got if r["g"] == "b") == list(
        range(100, 105))
    assert all(r["w_hat"] == r["w"] for r in got if r["g"] == "b")


def test_priority_sample_partition_invariant_and_estimator(spark):
    rows = [("g", i, float(1 + (i * 31) % 97)) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    base = sorted(
        sketches.priority_sample(df, ["g"], "id", "w", k=64).collect())
    for parts in (1, 17):
        got = sorted(
            sketches.priority_sample(
                df.repartition(parts), ["g"], "id", "w", k=64).collect())
        assert got == base
    # subset-sum estimator: sum(w_hat) approximates the true total
    # (JACM'07 unbiasedness; at k=64/600 deterministic fixture, loose band)
    total = sum(w for _, _, w in rows)
    est = sum(r["w_hat"] for r in base)
    assert 0.5 * total <= est <= 2.0 * total


def test_priority_sample_validation(spark):
    df = spark.createDataFrame([("g", 1, 1.0)], "g string, id long, w double")
    with pytest.raises(ValueError, match="k >= 1"):
        sketches.priority_sample(df, ["g"], "id", "w", k=0)
    bad = spark.createDataFrame(
        [("g", 1, 0.0)], "g string, id long, w double")
    with pytest.raises(Exception, match="weight must be > 0"):
        sketches.priority_sample(bad, ["g"], "id", "w", k=2).collect()


def test_cm_sketch_guarantee_and_exactness_when_sparse(spark):
    from gdal_scripts_spark import sketches

    # 3 distinct keys in a 512-wide sketch: collisions are possible but the
    # one-sided bound est >= exact must hold; with no collision est == exact
    df = spark.createDataFrame(
        [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1, "k string")
    rows = sketches.cm_heavy_hitters(df, "k", depth=4, width=512).collect()
    got = {r["k"]: (r["exact"], r["est"], r["est_ge"]) for r in rows}
    assert got["a"][0] == 7 and got["b"][0] == 3 and got["c"][0] == 1
    assert all(v[2] for v in got.values())          # CM guarantee
    assert all(v[1] >= v[0] for v in got.values())
    # the min over 4 independent rows of width 512 with 3 keys: at least
    # one collision-free row is near-certain -> est == exact
    assert all(v[1] == v[0] for v in got.values())


def test_embedding_pca_matches_eigh(spark):
    from gdal_scripts_spark import vectorops
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(9)
    X = (rng.standard_normal((400, 12)) @ np.diag(np.linspace(2.5, 0.2, 12))
         ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400),
                        "embedding": [v.tolist() for v in X]})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = {r["comp"]: r for r in vectorops.embedding_pca(df, k=3).collect()}
    Xd = X.astype(np.float64)
    C = np.cov(Xd.T, bias=True)
    ev = np.sort(np.linalg.eigh(C)[0])[::-1]
    for c in range(3):
        assert abs(got[c]["eigenvalue"] - round(float(ev[c]), 4)) < 2e-4
        assert abs(got[c]["explained_var_ratio"]
                   - round(float(ev[c] / np.trace(C)), 4)) < 2e-4


def test_pca_power_near_degenerate_spectrum_matches_eigh():
    """Eigenvalues 1.00/0.99/0.98/0.97 plus a tail: power iteration must
    run to convergence, or the top eigenvectors come back mixed."""
    from gdal_scripts_spark import vectorops
    import numpy as np

    rng = np.random.default_rng(7)
    d = 16
    Q, _ = np.linalg.qr(rng.standard_normal((d, d)))
    ev = np.r_[1.0, 0.99, 0.98, 0.97, np.linspace(0.5, 0.05, d - 4)]
    C = (Q * ev) @ Q.T
    C = (C + C.T) / 2
    vals, vecs = vectorops.pca_power(C, k=4)
    w, U = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:4]
    assert np.allclose(vals, w[order], rtol=0, atol=1e-9)
    for c, j in enumerate(order):
        u = U[:, j] * np.sign(U[:, j] @ vecs[c])
        assert np.allclose(vecs[c], u, rtol=0, atol=1e-6), c


def test_covariance_moments_partition_invariance(spark):
    from gdal_scripts_spark import vectorops
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(2)
    X = rng.standard_normal((100, 5))
    pdf = pd.DataFrame({"embedding": [v.tolist() for v in X]})
    d1 = spark.createDataFrame(pdf, "embedding array<double>").repartition(1)
    d8 = spark.createDataFrame(pdf, "embedding array<double>").repartition(8)
    n1, s1, ss1 = vectorops.covariance_moments(d1)
    n8, s8, ss8 = vectorops.covariance_moments(d8)
    assert n1 == n8 == 100
    assert np.allclose(s1, s8, atol=1e-9) and np.allclose(ss1, ss8, atol=1e-9)
    assert np.allclose(s1, X.sum(axis=0)) and np.allclose(ss1, X.T @ X)
    # NULL vectors are skipped, also in a partition that holds only NULLs
    nulls = spark.createDataFrame([(None,)] * 3, "embedding array<double>")
    n0, s0, ss0 = vectorops.covariance_moments(d1.unionByName(nulls.coalesce(1)))
    assert n0 == 100 and np.array_equal(s0, s1) and np.array_equal(ss0, ss1)
