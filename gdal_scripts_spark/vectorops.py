"""Embedding similarity over the ``embeddings`` table (driver prompt:
similarity search as a first-class component).

- brute-force cosine top-k: the exactness baseline. Dot products as native
  ``F.zip_with``/``F.aggregate`` array expressions (JVM-side, codegen) —
  no Python in the loop; top-k via the W2 window.
- LSH-bucketed ANN: random-hyperplane signatures (sign of dot with seeded
  deterministic pseudo-random planes) -> bucket equi-join; the scale path
  that avoids the n^2 cross join. Recall measured against brute force in
  tests.
- cosine near-dup: pairs above a cosine threshold (embedding-space dedup).

Scale notes: brute-force is O(Q*N) — at 10^9 rows it is a broadcast of the
QUERY side only (points side never shuffles); IVF/LSH prunes candidates by
bucket. Sums are double-precision in array order so results are
reproducible run-to-run.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_cols(a: Column, b: Column) -> Column:
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """(qid, rank, neighbor_id, cos) exact top-k; self-match excluded;
    ties by neighbor id asc."""
    q = queries.select(F.col(qid).alias("qid"), F.col(vec).alias("qv"))
    c = corpus.select(F.col(cid).alias("neighbor_id"), F.col(vec).alias("cv"))
    wnd = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def _planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane bit signature as a long (<=63 planes)."""
    v = vec.cast("array<double>")
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return sig


def cosine_topk_lsh(
    queries: DataFrame, corpus: DataFrame, k: int = 5, n_planes: int = 16,
    bands: int = 4, dim: int = 64, seed: int = 7,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share at least one signature band.

    Recall < 1 by construction; tests measure it against brute force.
    Bucket join keeps the candidate set ~ N * P(band match) per query.

    Shuffle discipline (the round-1 fix): the band join and the candidate
    dedupe carry ONLY (qid, neighbor_id) ids — never embedding payloads.
    Vectors re-attach afterwards: the deduped candidate set (small, query-
    bounded) broadcasts against the corpus, so corpus vectors are scanned
    in place and never shuffled; query vectors broadcast (query side is the
    small side by contract, as in the brute baseline)."""
    assert n_planes % bands == 0
    r = n_planes // bands
    planes = _planes(dim, n_planes, seed)
    mask = (1 << r) - 1

    def banded(df, idc, vc, side):
        sig = lsh_signature(F.col(vc), planes)
        return df.select(
            F.col(idc).alias(side), sig.alias("sig")
        ).select(
            side,
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("sig"), b * r).bitwiseAND(F.lit(mask)).alias("bh"),
                )
                for b in range(bands)
            ])).alias("p"),
        ).select(side, "p.band", "p.bh")

    qb = banded(queries, qid, vec, "qid")
    cb = banded(corpus, cid, vec, "neighbor_id")
    cand = (
        qb.join(cb, ["band", "bh"])
        .filter(F.col("qid") != F.col("neighbor_id"))
        .select("qid", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(qid).alias("qid"), F.col(vec).alias("qv"))
    cv = corpus.select(F.col(cid).alias("neighbor_id"), F.col(vec).alias("cv"))
    wnd = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "qid")
        .withColumn("cos", cosine_cols(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def cosine_near_dup_pairs(
    corpus: DataFrame, threshold: float = 0.95,
    cid: str = "vec_id", vec: str = "embedding", group: str | None = None,
) -> DataFrame:
    """(id_a, id_b) with cosine >= threshold (embedding dedup). Optional
    blocking column `group` turns the cross join into a per-group join."""
    a = corpus.select(F.col(cid).alias("id_a"), F.col(vec).alias("va"),
                      *( [F.col(group).alias("g")] if group else [] ))
    b = corpus.select(F.col(cid).alias("id_b"), F.col(vec).alias("vb"),
                      *( [F.col(group).alias("g")] if group else [] ))
    j = a.join(b, "g") if group else a.crossJoin(b)
    return (
        j.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_cols(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path next to LSH
# ---------------------------------------------------------------------------

def _kmeans_lite(sample: np.ndarray, k: int, iters: int = 10,
                 seed: int = 11) -> np.ndarray:
    """Tiny driver-side Lloyd's k-means on a bounded sample (deterministic
    seeding): the coarse quantizer. Public textbook algorithm; a few
    thousand sample rows x small k is millisecond work on the driver."""
    rng = np.random.default_rng(seed)
    k = min(k, len(sample))
    cent = sample[rng.choice(len(sample), k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k):
            m = a == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def _nearest_centroids_arrow(vec: Column, cent: np.ndarray, n: int) -> Column:
    """Arrow-batched twin of :func:`_nearest_centroids_col` for REAL
    centroid counts (IVF at 10^9 vectors wants thousands): one BLAS matmul
    per Arrow batch against the closure-captured centroid matrix instead
    of an unrolled per-centroid Column expression (whose codegen blows up
    past ~64 centroids). Ties broken by ascending centroid id (stable
    argsort), same rule as the Column path's struct sort."""
    c = np.ascontiguousarray(cent, dtype=np.float64)
    c2 = (c * c).sum(axis=1)

    @F.pandas_udf("array<int>")
    def kern(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype=object)
        m = np.array(s.tolist(), dtype=np.float64)
        # |v-c|^2 = |v|^2 - 2 v.c + |c|^2 ; |v|^2 constant per row, skip it
        d2 = c2[None, :] - 2.0 * (m @ c.T)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series([row.tolist() for row in idx])

    return kern(vec.cast("array<double>"))


def nearest_centroids(vec: Column, cent: np.ndarray, n: int) -> Column:
    """Dispatch: codegen Column expression for small coarse quantizers,
    Arrow matmul kernel beyond 64 centroids."""
    if len(cent) > 64:
        return _nearest_centroids_arrow(vec, cent, n)
    return _nearest_centroids_col(vec, cent, n)


def _nearest_centroids_col(vec: Column, cent: np.ndarray, n: int) -> Column:
    """Array of the ``n`` nearest centroid ids — native Column expressions
    (per-centroid squared distance via aggregate/zip_with, then argsort by
    constructing (dist, id) structs and array_sort), zero UDF."""
    v = vec.cast("array<double>")
    structs = []
    for ci, c in enumerate(cent):
        carr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        structs.append(F.struct(d.alias("d"), F.lit(ci).alias("cid")))
    ranked = F.array_sort(F.array(*structs))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cid"])


def cosine_topk_ivf(
    queries: DataFrame, corpus: DataFrame, k: int = 5, n_centroids: int = 16,
    n_probe: int = 4, sample_n: int = 2048, seed: int = 11,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in the bucket of their
    nearest coarse centroid; each query probes its ``n_probe`` nearest
    buckets and ranks only those candidates.

    Scale shape: centroids come from a bounded driver-side sample (one
    ``limit(sample_n)`` collect); bucket assignment is a NATIVE column
    expression, so the corpus is scanned in place and partitions by a plain
    equi-join key; candidate volume ~= corpus * n_probe / n_centroids per
    query. Recall measured against brute force in tests; exactness is the
    brute path's job."""
    # orderBy before limit: an unordered limit's row order is partition-
    # layout-dependent, which would make the seeded k-means (and therefore
    # the committed goldens) vary with core count
    sample = np.array(
        [r[1] for r in corpus.select(cid, vec).orderBy(cid).limit(sample_n).collect()],
        dtype=np.float64,
    )
    cent = _kmeans_lite(sample, n_centroids, seed=seed)
    cb = corpus.select(
        F.col(cid).alias("neighbor_id"), F.col(vec).alias("cv"),
        nearest_centroids(F.col(vec), cent, 1)[0].alias("bucket"),
    )
    qb = queries.select(
        F.col(qid).alias("qid"), F.col(vec).alias("qv"),
        F.explode(
            nearest_centroids(F.col(vec), cent, n_probe)
        ).alias("bucket"),
    )
    wnd = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — the 100 TB storage/compute path: a
# D-dim float vector becomes m small codes (m bytes at ksub<=256), so the
# search scan reads ~100x fewer bytes and never shuffles vectors at all
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame, m: int = 8, ksub: int = 16, sample_n: int = 2048,
    seed: int = 13, cid: str = "vec_id", vec: str = "embedding",
) -> np.ndarray:
    """Driver-side PQ codebooks: ``(m, ksub, D/m)`` float64 from a bounded
    ORDERED sample (Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — public textbook method). Each of the m
    subspaces gets its own k-means codebook; training is milliseconds on
    a few thousand rows and, like the IVF coarse quantizer, is amortized
    exactly like building any deployed dim table."""
    sample = np.array(
        [r[1] for r in corpus.select(cid, vec).orderBy(cid).limit(sample_n).collect()],
        dtype=np.float64,
    )
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack([
        _kmeans_lite(sample[:, j * dsub:(j + 1) * dsub], ksub, seed=seed + j)
        for j in range(m)
    ])


def pq_encode(vec: Column, books: np.ndarray) -> Column:
    """``binary`` of m PACKED uint8 codebook indices per vector (requires
    ksub <= 256) — ONE Arrow-batched kernel, argmin per subspace. The
    packed layout is the design point of the PQ path: m bytes/row in the
    codes scan (8 at the default m=8) vs 4*D for float32 vectors — the
    ~100x storage shrink Jegou et al. TPAMI'11 builds on. All products go
    through np.einsum with default optimize=False (fixed C-loop order, NO
    BLAS dispatch): BLAS picks kernels by CPUID and its last-ulp drift
    already broke one committed golden in this repo (see SURVEY round-4
    pansharpen note) — argmin near-ties would amplify that into different
    CODES."""
    b = np.ascontiguousarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = b.shape
    if ksub > 256:
        raise ValueError(f"pq_encode: ksub={ksub} > 256 does not fit uint8 codes")
    b2 = np.einsum("mkd,mkd->mk", b, b)

    @F.pandas_udf("binary")
    def kern(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype=object)
        x = np.array(s.tolist(), dtype=np.float64).reshape(len(s), m, dsub)
        codes = np.empty((len(s), m), dtype=np.uint8)
        for j in range(m):
            # |x-c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 constant per row
            d2 = b2[j][None, :] - 2.0 * np.einsum("nd,kd->nk", x[:, j], b[j])
            codes[:, j] = d2.argmin(axis=1)  # first-min: deterministic ties
        return pd.Series([row.tobytes() for row in codes])

    return kern(vec.cast("array<double>"))


def _codes_matrix(col: pd.Series, m: int) -> np.ndarray:
    """(n, m) int64 codes from either the packed-binary layout (bytes per
    row) or the legacy ``array<int>`` layout — one frombuffer for the
    packed path, no per-row Python beyond the join."""
    first = col.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        return np.frombuffer(
            b"".join(col), dtype=np.uint8
        ).reshape(len(col), m).astype(np.int64)
    return np.array(col.tolist(), dtype=np.int64)


def _check_rerank(k: int, rerank: int) -> None:
    """``0 < rerank < k`` would cut the ADC shortlist below k rows and the
    exact pass would silently return fewer than k neighbors per query."""
    if rerank and rerank < k:
        raise ValueError(
            f"rerank={rerank} must be >= k={k} (the exact pass re-ranks "
            f"only the ADC shortlist; a shortlist narrower than k cannot "
            f"yield k results)"
        )


def pq_topk(
    queries: DataFrame, corpus: DataFrame, books: np.ndarray, k: int = 5,
    rerank: int = 0, codes: DataFrame | None = None,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: the corpus is scanned
    as CODES ONLY, each query carries an (m, ksub) lookup table of exact
    query-subvector-to-centroid squared distances, and a row's distance is
    m table lookups — no vector arithmetic in the scan at all.

    ``rerank > 0`` is the production deployment shape (ADC shortlist of
    that size per query, then EXACT L2 on the shortlist only): quantization
    error is on the order of within-cluster distances, so raw ADC ranks
    coarsely — it finds the right neighborhood cheaply, and the exact pass
    touches just q*rerank vectors (an equi-join on the shortlist ids, JVM
    fold arithmetic). Measured on clustered 64-dim data: recall@5 0.24 raw
    -> >=0.85 with a 50-wide shortlist (tests/test_textops.py).

    Scale shape: at 10^12 vectors the encoded corpus is ~m bytes/row
    (vs 4*D), queries are the broadcast-small side (collected once to
    build LUTs), the scan emits only (qid, neighbor_id, dist) candidates
    pruned to a per-batch top-k — id-only shuffle, exactly like the kNN
    and LSH paths. Per-batch pruning uses the SAME (dist, neighbor_id)
    lexicographic key as the final window rank, so the global result is
    independent of partitioning and core count. Recall vs the brute
    oracle is measured in tests; exactness remains the brute path's job."""
    _check_rerank(k, rerank)
    b = np.ascontiguousarray(books, dtype=np.float64)
    m, ksub, dsub = b.shape
    q = queries.select(qid, vec).orderBy(qid).collect()
    if not q:
        raise ValueError("pq_topk: empty query side")
    qids = np.array([r[0] for r in q], dtype=np.int64)
    qv = np.array([r[1] for r in q], dtype=np.float64).reshape(len(q), m, dsub)
    # lut[i, j, c] = ||q_i[j] - books[j, c]||^2 (exact, fixed-order einsum)
    diff = qv[:, :, None, :] - b[None, :, :, :]
    lut = np.einsum("nmkd,nmkd->nmk", diff, diff)
    nq = len(qids)
    kk = int(max(k, rerank) if rerank else k)

    # production ingest shape: codes are written once next to the corpus
    # (pass them via ``codes`` as a (neighbor_id, codes) table) and the
    # search never touches vectors except in the optional re-rank join
    cb = codes if codes is not None else corpus.select(
        F.col(cid).alias("neighbor_id"), pq_encode(F.col(vec), b).alias("codes")
    )

    def scan(batches):
        for bt in batches:
            if not len(bt):
                continue
            codes = _codes_matrix(bt["codes"], m)  # (n, m)
            nid = bt["neighbor_id"].to_numpy(dtype=np.int64)
            d = np.zeros((nq, len(codes)), dtype=np.float64)
            for j in range(m):
                d += lut[:, j, :][:, codes[:, j]]
            out_q, out_n, out_d = [], [], []
            for i in range(nq):
                keep = nid != qids[i]
                di, ni = d[i][keep], nid[keep]
                top = np.lexsort((ni, di))[:kk]  # same key as the window
                out_q.append(np.full(len(top), qids[i]))
                out_n.append(ni[top])
                out_d.append(di[top])
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "dist": np.concatenate(out_d),
            })

    cand = cb.mapInPandas(scan, schema="qid long, neighbor_id long, dist double")
    wnd = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    if rerank:
        shortlist = (
            cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= int(rerank))
            .select("qid", "neighbor_id")
        )
        qvdf = queries.select(
            F.col(qid).alias("qid"), F.col(vec).cast("array<double>").alias("qv")
        )
        cvdf = corpus.select(
            F.col(cid).alias("neighbor_id"),
            F.col(vec).cast("array<double>").alias("cv"),
        )
        exact_d = F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, c: (a - c) * (a - c)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return (
            shortlist.join(cvdf, "neighbor_id")
            .join(F.broadcast(qvdf), "qid")
            .withColumn("dist", exact_d)
            .withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= int(k))
            .select("qid", "rank", "neighbor_id", F.round("dist", 6).alias("dist"))
        )
    return (
        cand.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= kk)
        .select("qid", "rank", "neighbor_id", F.round("dist", 6).alias("dist"))
    )


def pq_topk_ivf(
    queries: DataFrame, corpus: DataFrame, books: np.ndarray, k: int = 5,
    n_centroids: int = 16, n_probe: int = 4, rerank: int = 0,
    sample_n: int = 2048, seed: int = 11,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """IVFADC (Jegou et al. TPAMI 2011 §V): IVF coarse buckets prune the
    candidate set, PQ codes price what remains — the canonical production
    ANN shape at 10^12 vectors. The corpus scan reads (bucket, codes) only;
    each query carries its ADC lookup tables plus the id set of its
    ``n_probe`` nearest coarse buckets, and the kernel masks rows to the
    probed buckets before any table lookups, so the ADC work per batch is
    ~n_probe/n_centroids of the full scan while the bytes stay ~m/row.
    Same partitioning-independent (dist, id) pruning key and optional
    exact re-rank as :func:`pq_topk`; recall vs brute pinned in tests."""
    _check_rerank(k, rerank)
    sample = np.array(
        [r[1] for r in corpus.select(cid, vec).orderBy(cid).limit(sample_n).collect()],
        dtype=np.float64,
    )
    cent = _kmeans_lite(sample, n_centroids, seed=seed)
    b = np.ascontiguousarray(books, dtype=np.float64)
    m, ksub, dsub = b.shape
    q = queries.select(qid, vec).orderBy(qid).collect()
    if not q:
        raise ValueError("pq_topk_ivf: empty query side")
    qids = np.array([r[0] for r in q], dtype=np.int64)
    qraw = np.array([r[1] for r in q], dtype=np.float64)
    qv = qraw.reshape(len(q), m, dsub)
    diff = qv[:, :, None, :] - b[None, :, :, :]
    lut = np.einsum("nmkd,nmkd->nmk", diff, diff)
    # probed bucket ids per query: exact distances to the coarse centroids
    # (fixed-order einsum, stable argsort — same tie rule as the kernels)
    cdiff = qraw[:, None, :] - cent[None, :, :]
    cd2 = np.einsum("nkd,nkd->nk", cdiff, cdiff)
    probed = np.argsort(cd2, axis=1, kind="stable")[:, :n_probe]
    nq = len(qids)
    kk = int(max(k, rerank) if rerank else k)

    cb = corpus.select(
        F.col(cid).alias("neighbor_id"),
        nearest_centroids(F.col(vec), cent, 1)[0].alias("bucket"),
        pq_encode(F.col(vec), b).alias("codes"),
    )

    def scan(batches):
        for bt in batches:
            if not len(bt):
                continue
            codes = _codes_matrix(bt["codes"], m)
            nid = bt["neighbor_id"].to_numpy(dtype=np.int64)
            bkt = bt["bucket"].to_numpy(dtype=np.int64)
            out_q, out_n, out_d = [], [], []
            for i in range(nq):
                keep = np.isin(bkt, probed[i]) & (nid != qids[i])
                if not keep.any():
                    continue
                ci, ni = codes[keep], nid[keep]
                d = np.zeros(len(ci), dtype=np.float64)
                for j in range(m):
                    d += lut[i, j, :][ci[:, j]]
                top = np.lexsort((ni, d))[:kk]
                out_q.append(np.full(len(top), qids[i]))
                out_n.append(ni[top])
                out_d.append(d[top])
            if not out_q:
                continue
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "dist": np.concatenate(out_d),
            })

    cand = cb.mapInPandas(scan, schema="qid long, neighbor_id long, dist double")
    wnd = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    if rerank:
        shortlist = (
            cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= int(rerank))
            .select("qid", "neighbor_id")
        )
        qvdf = queries.select(
            F.col(qid).alias("qid"), F.col(vec).cast("array<double>").alias("qv")
        )
        cvdf = corpus.select(
            F.col(cid).alias("neighbor_id"),
            F.col(vec).cast("array<double>").alias("cv"),
        )
        exact_d = F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, c: (a - c) * (a - c)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return (
            shortlist.join(cvdf, "neighbor_id")
            .join(F.broadcast(qvdf), "qid")
            .withColumn("dist", exact_d)
            .withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= int(k))
            .select("qid", "rank", "neighbor_id", F.round("dist", 6).alias("dist"))
        )
    return (
        cand.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= kk)
        .select("qid", "rank", "neighbor_id", F.round("dist", 6).alias("dist"))
    )


# ---------------------------------------------------------------------------
# PCA via distributed moments + fixed-order power iteration — the standard
# embedding-pipeline whitening/compression step (public algorithm; cf.
# Halko et al. SIAM Rev. 2011 for the randomized large-d variants).
# ---------------------------------------------------------------------------

def covariance_moments(emb: DataFrame, vec_col: str = "embedding"):
    """(n, sum_vec (d,), sum_outer (d,d)) accumulated distributively: one
    Arrow pass emits per-partition partial moments (d + d^2 doubles per
    partition, NOT per row), the driver combines them. At 10^12 rows the
    shuffle is n_partitions tiny rows — the covariance of a 100-TB
    embedding table costs one scan."""
    def partials(batches):
        n = 0
        s = None
        ss = None
        for b in batches:
            m = np.stack(b[vec_col].values).astype(np.float64)
            n += len(m)
            cs = m.sum(axis=0)
            co = m.T @ m
            s = cs if s is None else s + cs
            ss = co if ss is None else ss + co
        if n:
            yield pd.DataFrame({
                "n": [n],
                "s": [s.tolist()],
                "ss": [ss.ravel().tolist()],
            })

    rows = emb.select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, ss array<double>"
    ).collect()  # driver-bounded: one row per partition
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:
        s += np.array(r["s"])
        ss += np.array(r["ss"]).reshape(d, d)
    return n, s, ss


def _matvec_fixed(A: np.ndarray, v: np.ndarray) -> np.ndarray:
    """A @ v accumulated column-by-column in fixed order — elementwise
    IEEE ops only, no BLAS reduction, so results are bit-identical on any
    machine (the committed-golden requirement)."""
    out = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        out += A[:, j] * v[j]
    return out


# power-iteration stop: Rayleigh residual <= _PCA_TOL x the largest
# eigenvalue; the sf0.01 embedding spectrum (ratio ~0.99) needs ~1.2k
# iterations per component
_PCA_TOL = 1e-10
_PCA_MAX_ITERS = 20_000


def pca_power(cov: np.ndarray, k: int = 4) -> tuple[np.ndarray, np.ndarray]:
    """Top-k eigenpairs of a symmetric PSD matrix by power iteration with
    deflation. Deterministic start vectors (unit basis of the largest
    diagonal entry, then subsequent basis vectors), fixed-order matvec.
    Each component iterates until its Rayleigh residual ``|Av - lam v|``
    falls to ``_PCA_TOL`` times the largest eigenvalue: on a
    near-degenerate spectrum (ratio 0.99) a fixed iteration count returns
    mixed eigenvectors. Sign convention: the component's largest-|coordinate|
    entry is positive. Returns (eigvals (k,), eigvecs (k, d))."""
    A = cov.astype(np.float64).copy()
    d = A.shape[0]
    vals = np.zeros(k)
    vecs = np.zeros((k, d))
    for c in range(k):
        v = np.zeros(d)
        v[int(np.argmax(np.diag(A)))] = 1.0
        for _ in range(_PCA_MAX_ITERS):
            w = _matvec_fixed(A, v)
            lam = float(np.sum(v * w))
            r = w - lam * v
            # also stops on w == 0, before the division
            if math.sqrt(float(np.sum(r * r))) <= _PCA_TOL * (vals[0] if c else lam):
                break
            v = w / math.sqrt(float(np.sum(w * w)))
        lam = float(np.sum(v * _matvec_fixed(A, v)))
        i_max = int(np.argmax(np.abs(v)))
        if v[i_max] < 0:
            v = -v
        vals[c] = lam
        vecs[c] = v
        A = A - lam * np.outer(v, v)  # deflate
    return vals, vecs


def embedding_pca(
    emb: DataFrame, vec_col: str = "embedding", k: int = 4,
) -> DataFrame:
    """Top-k PCA summary of an embedding table:
    (comp, eigenvalue, explained_var_ratio, top_coord) — eigenvalues of
    the exact covariance (distributed moments, driver eigensolve on the
    tiny d x d matrix), rounded to 4 decimals for cross-machine
    stability. ``top_coord`` is the dominant coordinate of each
    component (sign-normalized)."""
    n, s, ss = covariance_moments(emb, vec_col)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    vals, vecs = pca_power(cov, k=k)
    total = float(np.trace(cov))
    spark = emb.sparkSession
    rows = [
        (c, round(float(vals[c]), 4), round(float(vals[c]) / total, 4),
         int(np.argmax(np.abs(vecs[c]))))
        for c in range(k)
    ]
    return spark.createDataFrame(
        rows, "comp int, eigenvalue double, explained_var_ratio double, top_coord int"
    )
