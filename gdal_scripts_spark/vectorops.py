"""Embedding similarity over the ``embeddings`` table (driver prompt:
similarity search as a first-class component).

Five top-k searches, self-match excluded: ``cosine_topk_bruteforce``
(the exactness baseline: native ``zip_with``/``aggregate`` dot products
over a broadcast cross join), ``cosine_topk_lsh`` (random-hyperplane band
equi-join), ``cosine_topk_ivf`` (coarse-centroid buckets), ``pq_topk``
(product-quantization codes ranked by asymmetric distance, optional exact
re-rank) and ``pq_topk_ivf`` (the same ADC scan over the probed buckets
only). The cosine searches share one ranking tail, the PQ searches one ADC
scan, and every squared distance to a centroid (k-means, IVF buckets and
probes, PQ codes and lookup tables) is one kernel, :func:`_sq_dists`.
Also here: cosine near-dup pairs and PCA (distributed moments +
fixed-order power iteration).

Scale notes: brute-force is O(Q*N) — at 10^9 rows it is a broadcast of the
QUERY side only (points side never shuffles); IVF/LSH prunes candidates by
bucket. Sums are double-precision in array order so results are
reproducible run-to-run.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import arrowrows


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


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-``k`` per ``qid`` of candidate ``(qid, qv, neighbor_id, cv)``
    rows: cosine desc, ties by neighbor id asc."""
    wnd = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("cos", cosine_cols(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def cosine_topk_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """(qid, rank, neighbor_id, cos) exact top-k; self-match excluded;
    ties by neighbor id asc."""
    q = queries.select(F.col(qid).alias("qid"), F.col(vec).alias("qv"))
    c = corpus.select(F.col(cid).alias("neighbor_id"), F.col(vec).alias("cv"))
    return _cosine_topk(
        F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("neighbor_id")),
        k,
    )


def _planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane bit signature as a long (<=63 planes)."""
    v = vec.cast("array<double>")
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = _dot(v, F.array(*[F.lit(x) for x in p]))
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
    return _cosine_topk(
        cv.join(F.broadcast(cand), "neighbor_id").join(F.broadcast(qv), "qid"), k
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
# The centroid kernel shared by IVF and PQ: training sample, k-means, and
# squared distances from vectors to centroids
# ---------------------------------------------------------------------------

def _sq_dists(m: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances of the rows of ``m`` (n, d) to the
    centroids ``cent`` (k, d): squared differences summed over the
    dimensions in order from 0.0, the same IEEE operations as an
    ``F.aggregate`` fold over ``zip_with``. Elementwise ops only, no BLAS:
    BLAS picks kernels by CPUID and its last-ulp drift already broke one
    committed golden in this repo (see SURVEY round-4 pansharpen note) —
    argmin near-ties would amplify that into different buckets and codes."""
    d = np.zeros((len(m), len(cent)), dtype=np.float64)
    for j in range(cent.shape[1]):
        t = m[:, j, None] - cent[None, :, j]
        d += t * t
    return d


def _rows_matrix(s: pa.Array, d: int) -> np.ndarray:
    """(n, d) float64 matrix of the non-NULL rows of a list column whose
    rows all hold ``d`` values (``d = -1``: ``d`` taken from the rows)."""
    return s.flatten().to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False).reshape(len(s) - s.null_count, d)


def _vector_udf(vec: Column, kern, d: int, ddl: str) -> Column:
    """Scalar Arrow UDF over the vector column ``vec``: ``kern`` maps the
    (n, d) float64 matrix of a batch's non-NULL rows to one Arrow value per
    row; a NULL vector gives NULL."""
    def udf(s: pa.Array) -> pa.Array:
        out = kern(_rows_matrix(s, d))
        if not s.null_count:
            return out
        valid = s.is_valid().to_numpy(zero_copy_only=False)
        return out.take(pa.array(np.cumsum(valid) - 1, mask=~valid))

    return F.arrow_udf(udf, ddl)(vec.cast("array<double>"))


def _sample(corpus: DataFrame, n: int, cid: str, vec: str) -> np.ndarray:
    """Bounded driver-side training sample: the first ``n`` non-NULL
    vectors by ``cid``. orderBy before limit: an unordered limit's row
    order is partition-layout-dependent, which would make the seeded
    k-means (and therefore the committed goldens) vary with core count."""
    rows = (corpus.select(cid, vec).where(F.col(vec).isNotNull())
            .orderBy(cid).limit(n).collect())
    return np.array([r[1] for r in rows], dtype=np.float64)


def _kmeans_lite(sample: np.ndarray, k: int, iters: int = 10,
                 seed: int = 11) -> np.ndarray:
    """Tiny driver-side Lloyd's k-means on a bounded sample (deterministic
    seeding): the coarse quantizer. Public textbook algorithm; a few
    thousand sample rows x small k is millisecond work on the driver."""
    rng = np.random.default_rng(seed)
    k = min(k, len(sample))
    cent = sample[rng.choice(len(sample), k, replace=False)].astype(np.float64)
    for _ in range(iters):
        a = _sq_dists(sample, cent).argmin(axis=1)
        for c in range(k):
            m = a == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def nearest_centroids(vec: Column, cent: np.ndarray, n: int) -> Column:
    """``array<int>`` of the ``n`` nearest centroid ids per vector, nearest
    first, ties to the lower id (stable argsort); NULL for a NULL vector.
    One scalar Arrow UDF over :func:`_sq_dists` against the
    closure-captured centroid matrix, at any centroid count."""
    c = np.ascontiguousarray(cent, dtype=np.float64)

    def ids(m: np.ndarray) -> pa.Array:
        idx = np.argsort(_sq_dists(m, c), axis=1, kind="stable")[:, :n].astype(np.int32)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(idx) + 1, dtype=np.int32) * idx.shape[1]),
            pa.array(idx.ravel()))

    return _vector_udf(vec, ids, c.shape[1], "array<int>")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path next to LSH
# ---------------------------------------------------------------------------

def cosine_topk_ivf(
    queries: DataFrame, corpus: DataFrame, k: int = 5, n_centroids: int = 16,
    n_probe: int = 4, sample_n: int = 2048, seed: int = 11,
    qid: str = "vec_id", cid: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in the bucket of their
    nearest coarse centroid; each query probes its ``n_probe`` nearest
    buckets and ranks only those candidates.

    Scale shape: centroids come from a bounded driver-side sample (one
    ``limit(sample_n)`` collect); bucket assignment is the
    :func:`nearest_centroids` Arrow UDF, so the corpus is scanned in place
    and partitions by a plain equi-join key; candidate volume ~= corpus *
    n_probe / n_centroids per query. A NULL vector has no bucket and drops
    out of the join. Recall measured against brute force in tests;
    exactness is the brute path's job."""
    cent = _kmeans_lite(_sample(corpus, sample_n, cid, vec), n_centroids, seed=seed)
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
    return _cosine_topk(
        cb.join(F.broadcast(qb), "bucket").filter(F.col("qid") != F.col("neighbor_id")),
        k,
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
    sample = _sample(corpus, sample_n, cid, vec)
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack([
        _kmeans_lite(sample[:, j * dsub:(j + 1) * dsub], ksub, seed=seed + j)
        for j in range(m)
    ])


def _pq_dists(x: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, m, ksub) squared distances of the m subvectors of each row of
    ``x`` (n, m * dsub) to the codebooks ``b`` (m, ksub, dsub)."""
    m, _, dsub = b.shape
    x = x.reshape(len(x), m, dsub)
    return np.stack([_sq_dists(x[:, j], b[j]) for j in range(m)], axis=1)


def pq_encode(vec: Column, books: np.ndarray) -> Column:
    """``binary`` of m PACKED uint8 codebook indices per vector (requires
    ksub <= 256), NULL for a NULL vector — ONE Arrow-batched kernel,
    argmin of :func:`_sq_dists` per subspace (first minimum on ties). The
    packed layout is the design point of the PQ path: m bytes/row in the
    codes scan (8 at the default m=8) vs 4*D for float32 vectors — the
    ~100x storage shrink Jegou et al. TPAMI'11 builds on."""
    b = np.ascontiguousarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = b.shape
    if ksub > 256:
        raise ValueError(f"pq_encode: ksub={ksub} > 256 does not fit uint8 codes")

    def codes(x: np.ndarray) -> pa.Array:
        c = _pq_dists(x, b).argmin(axis=2).astype(np.uint8)
        return pa.array([row.tobytes() for row in c], pa.binary())

    return _vector_udf(vec, codes, m * dsub, "binary")


def _codes_matrix(col: pa.Array, m: int) -> np.ndarray:
    """(n, m) int64 codes from the packed ``binary`` column of
    :func:`pq_encode` (m bytes per row)."""
    return np.frombuffer(
        b"".join(col.to_pylist()), dtype=np.uint8
    ).reshape(len(col), m).astype(np.int64)


def pq_topk(
    queries: DataFrame, corpus: DataFrame, books: np.ndarray, k: int = 5,
    rerank: int = 0,
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
    independent of partitioning and core count. NULL vectors take no
    part. Recall vs the brute oracle is measured in tests; exactness
    remains the brute path's job."""
    return _adc_topk(queries, corpus, books, k, rerank, qid, cid, vec)


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
    The same ADC scan, (dist, id) pruning key and optional exact re-rank
    as :func:`pq_topk`; recall vs brute pinned in tests."""
    cent = _kmeans_lite(_sample(corpus, sample_n, cid, vec), n_centroids, seed=seed)
    return _adc_topk(queries, corpus, books, k, rerank, qid, cid, vec,
                     cent=cent, n_probe=n_probe)


def _ids(col: pa.Array) -> np.ndarray:
    return col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _adc_topk(queries, corpus, books, k, rerank, qid, cid, vec,
              cent=None, n_probe=0):
    """The ADC search of :func:`pq_topk`; with coarse centroids ``cent``
    each query scans only the rows of its ``n_probe`` nearest buckets
    (:func:`pq_topk_ivf`). Queries and corpus rows with a NULL vector
    take no part."""
    if rerank and rerank < k:
        raise ValueError(
            f"rerank={rerank} must be >= k={k} (the exact pass re-ranks "
            f"only the ADC shortlist; a shortlist narrower than k cannot "
            f"yield k results)"
        )
    b = np.ascontiguousarray(books, dtype=np.float64)
    m = b.shape[0]
    q = queries.select(qid, vec).where(F.col(vec).isNotNull()).orderBy(qid).collect()
    if not q:
        raise ValueError("empty query side")
    qids = np.array([r[0] for r in q], dtype=np.int64)
    qv = np.array([r[1] for r in q], dtype=np.float64)
    lut = _pq_dists(qv, b)  # lut[i, j, c] = ||q_i[j] - books[j, c]||^2
    kk = int(max(k, rerank) if rerank else k)
    ddl = "qid long, neighbor_id long, dist double"
    schema = arrowrows.arrow_schema(ddl)
    cols = [F.col(cid).alias("neighbor_id"), pq_encode(F.col(vec), b).alias("codes")]
    probed = None
    if cent is not None:
        probed = np.argsort(_sq_dists(qv, cent), axis=1, kind="stable")[:, :n_probe]
        cols.append(nearest_centroids(F.col(vec), cent, 1)[0].alias("bucket"))

    def scan(batches):
        for bt in batches:
            if not len(bt):
                continue
            codes = _codes_matrix(bt.column("codes"), m)  # (n, m)
            nid = _ids(bt.column("neighbor_id"))
            if probed is not None:
                bkt = _ids(bt.column("bucket"))
            out_q, out_n, out_d = [], [], []
            for i in range(len(qids)):
                keep = nid != qids[i]
                if probed is not None:
                    keep &= np.isin(bkt, probed[i])
                ci, ni = codes[keep], nid[keep]
                d = np.zeros(len(ci), dtype=np.float64)
                for j in range(m):
                    d += lut[i, j, :][ci[:, j]]
                top = np.lexsort((ni, d))[:kk]  # same key as the window
                out_q.append(np.full(len(top), qids[i]))
                out_n.append(ni[top])
                out_d.append(d[top])
            yield from arrowrows.columns_table(
                [np.concatenate(c) for c in (out_q, out_n, out_d)], schema
            ).to_batches()

    cand = (corpus.where(F.col(vec).isNotNull()).select(*cols)
            .mapInArrow(scan, schema=ddl))
    return _rank_candidates(cand, queries, corpus, k, rerank, qid, cid, vec)


def _rank_candidates(cand, queries, corpus, k, rerank, qid, cid, vec):
    """Final top-``k`` per query of the ADC candidates ``cand``, ranked by
    (dist, neighbor_id). With ``rerank`` the ``rerank``-wide ADC shortlist
    is ranked again by exact L2 against the corpus vectors."""
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
        cand = (
            shortlist.join(cvdf, "neighbor_id")
            .join(F.broadcast(qvdf), "qid")
            .withColumn("dist", exact_d)
        )
    return (
        cand.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= int(k))
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
    embedding table costs one scan. NULL vectors are skipped."""
    def partials(batches):
        n = 0
        s = None
        ss = None
        for b in batches:
            if len(b) == b.column(0).null_count:
                continue
            m = _rows_matrix(b.column(0), -1)
            n += len(m)
            cs = m.sum(axis=0)
            co = m.T @ m
            s = cs if s is None else s + cs
            ss = co if ss is None else ss + co
        if n:
            yield pa.RecordBatch.from_pydict(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]})

    rows = emb.select(vec_col).mapInArrow(
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
