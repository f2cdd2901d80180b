"""Mergeable sketches (distinct-count, set ops, quantiles) as DataFrame plans.

KMV (k-minimum-values) distinct-count estimation — Bar-Yossef et al.,
"Counting distinct elements in a data stream" (RANDOM 2002); the
Theta-sketch family's base estimator (Dasgupta et al., "Theta-Sketch
Framework", 2016). Engine parity target: the GDAL/OGR utility family has no
sketch surface; this is an engine extra for the 100-TB training-pipeline
story where COUNT(DISTINCT) per group is a full shuffle of every key but a
KMV sketch shuffles at most ``k`` 8-byte hash mins per group per partition.

Why KMV and not HyperLogLog here: Spark's built-in
``approx_count_distinct`` (HLL++) is a black box whose estimate no second
engine reproduces, so a driver-style independent oracle cannot exist for
it. KMV over md5 is ENGINE-PORTABLE ARITHMETIC — any SQL engine with md5,
row_number and fixed-width hex can re-derive the exact same estimate — so
the sketch gets a true cross-engine oracle instead of a committed golden
(same doctrine as the md5-bucket deterministic sampler, textops.py).

Estimator: hash every key to a uniform point in (0,1) via the first 12 hex
chars of md5 (48 bits — collision-free fractions at any realistic k);
keep the k smallest distinct hash values per group. If fewer than k
distinct hashes exist the sketch is exact (est = count). Otherwise
est = (k-1) / h_(k) where h_(k) is the k-th minimum normalized by 16^12
(the classic unbiased KMV form).

Scale shape: distinct(group, hash) partial-aggregates map-side; an
Arrow-batched per-partition combine then cuts each partition's
contribution to <= k rows per group BEFORE the per-group shuffle — the
mergeable-sketch property, expressed as mapInArrow — so the
global window sorts at most k * n_partitions rows per group no matter how
hot the group is. No row-Python anywhere; the estimate itself is pure
Column arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_PREFIX = 12                      # 48 bits of the md5 -> exact in double
_HEX_SCALE = float(16 ** _HEX_PREFIX)  # 281474976710656.0


def _kmv_partial_topk(group_cols: Sequence[str], k: int):
    """Per-partition combine: keep the k smallest hashes per group seen in
    this partition (across all of its Arrow batches). State is
    k * groups-in-partition rows — bounded regardless of group heat."""
    order = [(c, "ascending") for c in (*group_cols, "_h")]

    def fn(batches):
        acc = None
        for b in batches:
            t = pa.Table.from_batches([b])
            t = (t if acc is None else pa.concat_tables([acc, t])).sort_by(order)
            # sorted by group, then hash: row i opens a group when a key
            # differs from row i-1's (NULL equal to NULL; a NaN key opens
            # a group per row, which only keeps more rows)
            n = t.num_rows
            new = np.zeros(n, dtype=bool)
            new[:1] = True
            for c in group_cols:
                x, y = t.column(c).slice(1), t.column(c).slice(0, n - 1)
                new[1:] |= pc.or_(
                    pc.fill_null(pc.not_equal(x, y), False),
                    pc.xor(pc.is_null(x), pc.is_null(y)),
                ).to_numpy()
            i = np.arange(n)
            rank = i - np.maximum.accumulate(np.where(new, i, 0))
            acc = t.filter(pa.array(rank < k))
        if acc is not None:
            yield from acc.to_batches()

    return fn


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Approximate COUNT(DISTINCT key) per group via a k-minimum-values
    sketch. Returns one row per group: ``est_distinct`` (long; exact when
    the group holds < k distinct keys), ``n_kept`` (long, min(d, k))."""
    if k < 2:
        raise ValueError(f"kmv_distinct: need k >= 2 (got {k})")
    group_cols = list(group_cols)
    h = F.md5(F.col(key_col).cast("string"))
    dh = df.select(*group_cols, h.alias("_h")).distinct()
    dh = dh.mapInArrow(_kmv_partial_topk(group_cols, k), dh.schema)
    w = Window.partitionBy(*group_cols).orderBy("_h")
    ranked = (
        dh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("n_kept"), F.max("_h").alias("_kth")
    )
    return agg.select(
        *group_cols,
        _kmv_estimate(F.col("n_kept"), F.col("_kth"), k).alias("est_distinct"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def _kmv_estimate(n_kept: Column, kth_hex: Column, k: int) -> Column:
    """(k-1)/h_(k) when the sketch is full, exact count otherwise. The
    12-hex prefix value is an exact integer in a double (< 2^48 < 2^53), so
    the division and round reproduce bit-identically in any IEEE engine."""
    kth_val = F.conv(F.substring(kth_hex, 1, _HEX_PREFIX), 16, 10).cast("double")
    full = F.round(F.lit(float(k - 1)) * F.lit(_HEX_SCALE) / kth_val, 0)
    return F.when(n_kept < F.lit(k), n_kept.cast("double")).otherwise(full).cast("long")


def _hval(h: Column) -> Column:
    """Normalizable numeric value of a hash: the 12-hex prefix as an exact
    double integer in [0, 16^12)."""
    return F.conv(F.substring(h, 1, _HEX_PREFIX), 16, 10).cast("double")


def kmv_set_ops(
    df: DataFrame,
    set_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Theta-sketch style set operations over per-set KMV sketches
    (Dasgupta et al., "Theta-Sketch Framework: Practice and Theory", 2016;
    the a-priori-theta form specialized to KMV, theta = h_(k)).

    For every unordered pair of values of ``set_col`` (``set_a < set_b``),
    estimate from the two k-minimum-values sketches alone:

    - ``est_a`` / ``est_b`` — per-set distinct counts ((k-1)/h_(k));
    - ``est_union`` — KMV over the combined sketch contents. The k smallest
      hashes of A ∪ B are each within the k smallest of their own set, so
      the merged-sketch estimate EQUALS the estimate a single sketch built
      over the concatenated input would give — the mergeability property
      that lets 1000 executors sketch independently and combine at k rows
      per set per partition;
    - ``est_inter`` — theta intersection: theta = min(theta_a, theta_b),
      retained = sketch hashes present in BOTH sketches with value < theta,
      estimate = |retained| / theta. When both sketches are exact
      (fewer than k distinct keys) theta = 1 and the estimate degrades to
      the exact distinct-intersection count.

    All arithmetic is engine-portable (md5 + row_number + fixed-width hex +
    IEEE double divide/round), so a DuckDB oracle re-derives the exact same
    numbers — the same doctrine as :func:`kmv_distinct`.

    Scale shape: one scan -> distinct(set, hash) (map-side partial) -> one
    per-set window over <= distinct rows; everything pairwise downstream
    operates on <= k rows per set — broadcast-sized no matter how hot the
    sets are. The exact pairwise-intersection alternative is a self-join of
    the full key sets (quadratic in hot-set overlap); the sketch path never
    shuffles more than k * n_sets hash rows.
    """
    if k < 2:
        raise ValueError(f"kmv_set_ops: need k >= 2 (got {k})")
    h = F.md5(F.col(key_col).cast("string"))
    dh = df.select(F.col(set_col).alias("s"), h.alias("_h")).distinct()
    w = Window.partitionBy("s").orderBy("_h")
    sk = (
        dh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
        .select("s", "_h", _hval(F.col("_h")).alias("_hv"))
    )
    agg = sk.groupBy("s").agg(
        F.count("*").alias("n_kept"), F.max("_hv").alias("_kth")
    )
    st = agg.select(
        "s",
        F.when(F.col("n_kept") < F.lit(k), F.lit(_HEX_SCALE))
        .otherwise(F.col("_kth")).alias("theta"),
        F.when(F.col("n_kept") < F.lit(k), F.col("n_kept").cast("double"))
        .otherwise(
            F.round(F.lit(float(k - 1)) * F.lit(_HEX_SCALE) / F.col("_kth"), 0)
        ).cast("long").alias("est"),
    )
    # All-pairs over the per-set sketch summaries (one row per set — group
    # cardinality, not data cardinality). A bare `a.s < b.s` join would plan
    # as BroadcastNestedLoopJoin; joining on a NON-FOLDABLE constant bucket
    # (pmod(xxhash64(s), 1) == 0 for every row, but Catalyst cannot fold an
    # expression over a real column) gives ExtractEquiJoinKeys a key, so the
    # plan is a single-key BroadcastHashJoin with the `<` as its residual
    # condition — same O(n_sets^2) semantics, hash-join machinery.
    kb = F.pmod(F.xxhash64(F.col("s")), F.lit(1)).alias("_kb")
    a = st.select("*", kb).alias("a")
    b = st.select("*", kb).alias("b")
    pairs = a.join(
        b,
        (F.col("a._kb") == F.col("b._kb")) & (F.col("a.s") < F.col("b.s")),
    ).select(
        F.col("a.s").alias("set_a"), F.col("b.s").alias("set_b"),
        F.col("a.est").alias("est_a"), F.col("b.est").alias("est_b"),
        F.least(F.col("a.theta"), F.col("b.theta")).alias("_theta"),
    )
    # intersection: hashes in both sketches, below the pair theta
    x, y = sk.alias("x"), sk.alias("y")
    common = x.join(
        y, (F.col("x._h") == F.col("y._h")) & (F.col("x.s") < F.col("y.s"))
    ).select(
        F.col("x.s").alias("set_a"), F.col("y.s").alias("set_b"),
        F.col("x._hv").alias("_hv"),
    )
    inter = (
        common.join(F.broadcast(pairs.select("set_a", "set_b", "_theta")),
                    ["set_a", "set_b"])
        .groupBy("set_a", "set_b", "_theta")
        .agg(F.sum(F.when(F.col("_hv") < F.col("_theta"), 1).otherwise(0))
             .alias("_n_ret"))
        .select(
            "set_a", "set_b",
            F.round(F.col("_n_ret").cast("double") * F.lit(_HEX_SCALE)
                    / F.col("_theta"), 0).cast("long").alias("est_inter"),
        )
    )
    # union: KMV over the combined sketch contents per pair. The pair list
    # unpivots to one row per (pair, member set) so the sketch lookup is a
    # plain equi join on the set id (an OR-condition join would fall back
    # to a nested loop).
    uh = (
        pairs.select("set_a", "set_b")
        .withColumn("s", F.explode(F.array(F.col("set_a"), F.col("set_b"))))
        .join(sk.select("s", "_h"), "s")
        .select("set_a", "set_b", "_h").distinct()
    )
    wu = Window.partitionBy("set_a", "set_b").orderBy("_h")
    uest = (
        uh.withColumn("_rn", F.row_number().over(wu))
        .filter(F.col("_rn") <= F.lit(k))
        .groupBy("set_a", "set_b")
        .agg(F.count("*").alias("_n_u"), F.max("_h").alias("_kth_u"))
        .select(
            "set_a", "set_b",
            _kmv_estimate(F.col("_n_u"), F.col("_kth_u"), k).alias("est_union"),
        )
    )
    return (
        pairs.join(uest, ["set_a", "set_b"])
        .join(inter, ["set_a", "set_b"], "left")
        .select(
            "set_a", "set_b", "est_a", "est_b", "est_union",
            F.coalesce(F.col("est_inter"), F.lit(0).cast("long"))
            .alias("est_inter"),
        )
    )


def binned_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float] = (0.5, 0.95),
    lo: float = 0.0,
    width: float = 5.0,
    nbins: int = 128,
) -> DataFrame:
    """Approximate per-group quantiles from a MERGEABLE equi-width
    histogram — the fixed-bin special case of the mergeable-summary
    quantile family (Agarwal et al., "Mergeable Summaries", PODS 2012).

    Why not Spark's ``percentile`` (exact: buffers every value per group)
    or ``approx_percentile`` (GK sketch whose summary depends on encounter
    order, so no second engine reproduces it): the histogram shuffles at
    most ``nbins`` (group, bin, count) rows per group per partition —
    map-side partial aggregation makes a hot group cost the same as a cold
    one — and every step after the count is deterministic IEEE arithmetic
    that a DuckDB oracle re-derives exactly.

    Estimator: bin b = clamp(floor((v - lo)/width), 0, nbins-1); target
    rank t = ceil(q*n); the answer lies in the first bin whose cumulative
    count reaches t, uniform-within-bin interpolated:
    est = lo + width * (b + (t - cum_prev)/cnt). Error is bounded by one
    bin width. Values outside [lo, lo + nbins*width) clamp into the edge
    bins (their estimates saturate, as with any fixed-range histogram).

    Returns one row per (group, q): ``n`` (long), ``q``, ``est``
    (double, 1e-6 rounded).
    """
    if nbins < 2 or width <= 0:
        raise ValueError(f"binned_quantiles: need nbins >= 2 and width > 0 "
                         f"(got nbins={nbins}, width={width})")
    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"binned_quantiles: each q must be in (0, 1] (got {qs!r})")
    group_cols = list(group_cols)
    b = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
                   F.lit(0).cast("long")),
        F.lit(nbins - 1).cast("long"),
    ).cast("int")
    hist = df.groupBy(*group_cols, b.alias("_b")).agg(F.count("*").alias("_cnt"))
    w_ord = (
        Window.partitionBy(*group_cols).orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    h = (
        hist.withColumn("_cum", F.sum("_cnt").over(w_ord))
        .withColumn("n", F.sum("_cnt").over(w_all))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
    )
    t = F.ceil(F.col("q") * F.col("n"))
    est = F.round(
        F.lit(lo) + F.lit(width) * (
            F.col("_b")
            + (t.cast("double") - (F.col("_cum") - F.col("_cnt")))
            / F.col("_cnt")
        ),
        6,
    )
    return (
        h.filter((F.col("_cum") >= t) & (F.col("_cum") - F.col("_cnt") < t))
        .select(*group_cols, F.col("n").cast("long").alias("n"), "q",
                est.alias("est"))
    )


def priority_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    weight_col: str,
    k: int = 32,
) -> DataFrame:
    """Weighted sampling without replacement by PRIORITY SAMPLING
    (Duffield, Lund, Thorup, "Priority sampling for estimation of
    arbitrary subset sums", JACM 2007) — the one-pass weighted sample a
    training pipeline draws per stratum when rows carry importance
    weights (quality scores, dedup multiplicities).

    Each row gets a uniform u_i in (0, 1] derived from md5(id) (the
    12-hex prefix + 1, scaled — an exact 48-bit integer, exactly
    representable in an IEEE double) and priority q_i = w_i / u_i. The
    sample is the k highest-priority rows per group; with threshold
    tau = q_(k+1), the estimator w_hat_i = max(w_i, tau) makes
    sum(w_hat) an (near-)unbiased estimate of the group's total weight —
    off by at most one effective sample (JACM 2007, Thm 1). Groups with
    n <= k keep every row with w_hat = w exactly.

    Every step is hash + IEEE divide/compare — no ln(), no pow() — so a
    DuckDB oracle reproduces the SAME sample and the SAME estimates
    bit-for-bit: the cross-engine-determinism doctrine of
    :func:`kmv_distinct`, which ordinary exponential-key weighted
    reservoirs (Efraimidis-Spirakis u^(1/w)) cannot satisfy because
    pow() is libm-dependent in its last ulp.

    Scale shape: priorities are embarrassingly parallel column math; the
    per-group top-(k+1) is a mergeable summary (the k+1 largest of a
    union are within the union of per-part k+1 largest). Implemented as
    one rank window per group — the same shuffle unit as every
    window_topk in the registry; rows never widen.

    Returns the sampled rows: group cols, ``id``, ``w``, ``q`` (priority,
    1e-6 rounded for canon), ``w_hat`` (subset-sum estimator weight).
    Weights must be > 0, enforced by a per-row runtime guard that
    raises on the first offending row.
    """
    if k < 1:
        raise ValueError(f"priority_sample: need k >= 1 (got {k})")
    group_cols = list(group_cols)
    w = F.col(weight_col).cast("double")
    wchk = F.when(w > 0, w).otherwise(
        F.raise_error(F.concat(
            F.lit("priority_sample: weight must be > 0, got "),
            w.cast("string"),
        ))
    )
    u = (_hval(F.md5(F.col(id_col).cast("string"))) + F.lit(1.0)) \
        / F.lit(_HEX_SCALE)
    pri = df.select(
        *group_cols,
        F.col(id_col).alias("id"),
        wchk.alias("w"),
        (wchk / u).alias("_q"),
    )
    win = Window.partitionBy(*group_cols).orderBy(
        F.desc("_q"), F.asc("id"))
    ranked = pri.withColumn("_rn", F.row_number().over(win))
    tau = ranked.filter(F.col("_rn") == k + 1).select(
        *group_cols, F.col("_q").alias("_tau"))
    return (
        ranked.filter(F.col("_rn") <= k)
        .join(tau, group_cols, "left")
        .select(
            *group_cols, "id", "w",
            F.round(F.col("_q"), 6).alias("q"),
            F.when(F.col("_tau").isNull(), F.col("w"))
            .otherwise(F.greatest(F.col("w"), F.col("_tau")))
            .alias("w_hat"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch — Cormode & Muthukrishnan, "An improved data stream
# summary: the count-min sketch and its applications", J. Algorithms 2005.
# ---------------------------------------------------------------------------

def _cm_bucket(key: Column, j: int, width: int) -> Column:
    """Row-j counter index for a key: 12-hex md5 prefix (exact in a
    double/long) mod width — the same engine-portable-arithmetic doctrine
    as the KMV hash, so a SQL oracle replays the sketch bit-for-bit."""
    h = F.md5(F.concat(F.lit(f"cm{j}|"), key).cast("binary"))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % width


def cm_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    topn: int = 40,
) -> DataFrame:
    """Heavy hitters via a count-min sketch, with the exact counts kept
    alongside to surface the one-sided error: (key, exact, est, est_ge)
    for the ``topn`` keys by exact count. ``est_ge`` (est >= exact) is the
    CM guarantee and must be uniformly true.

    Scale shape: the sketch IS a hash aggregate over (row, bucket) — at
    any input size the shuffled state is at most ``depth * width``
    counters (map-side partial aggregation collapses each partition to
    that bound first), which is the whole point of sketching a 100-TB
    stream. Queries probe the broadcast counter table with ``depth``
    equi-join rows per distinct key."""
    keyed = df.select(F.col(key_col).cast("string").alias("k"))
    jb = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 _cm_bucket(F.col("k"), j, width).alias("b"))
        for j in range(depth)
    ])).alias("jb")
    counters = (
        keyed.select(jb)
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    exact = keyed.groupBy("k").agg(F.count("*").alias("exact"))
    probes = exact.select("k", "exact", jb).select(
        "k", "exact", F.col("jb.j").alias("j"), F.col("jb.b").alias("b")
    )
    est = (
        probes.join(F.broadcast(counters), ["j", "b"])
        .groupBy("k", "exact")
        .agg(F.min("c").cast("long").alias("est"))
    )
    return (
        est.orderBy(F.desc("exact"), F.asc("k"))
        .limit(int(topn))
        .select("k", F.col("exact").cast("long").alias("exact"), "est",
                (F.col("est") >= F.col("exact")).alias("est_ge"))
    )
