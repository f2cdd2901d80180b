"""Distributed connected components — the clustering step of near-dup dedup.

A training-data dedup pipeline is pairs -> clusters -> one keeper per
cluster: candidate edges come from MinHash-LSH / SimHash / n-gram Jaccard
(textops.py), and the cluster id of a document is the minimum doc id
reachable through those edges. The reference world's analog is the label-
equivalence merge inside `alg/polygonize.cpp : GDALRasterPolygonEnumerator`
(two-pass CCL) — same fixpoint, lifted from pixel runs to documents.

HYBRID execution, sized by the (already-materialized) edge count:

1. **Small graphs finish in ONE task.** Every distributed CC round costs a
   driver-synchronized barrier over a tiny label table; measured on this
   box, ~8 rounds over a 1.3M-edge graph cost 30-300 s of pure
   synchronization while a single-task union-find over the same edges
   costs seconds. So when the symmetrized edge set is at most
   ``local_edges_threshold`` rows it is coalesced into one partition and
   solved by a path-halving union-find inside ``mapInArrow`` — no driver
   collect, no rounds. This is the common case for dedup: LSH candidate
   pairs are orders of magnitude fewer than corpus rows.
2. **Big graphs run alternating large-star / small-star** (Kiveris et
   al., "Connected Components in MapReduce and Beyond", SoCC'14). A
   label-propagation fixpoint re-shuffles the FULL edge table against a
   label table every round (measured: 9 rounds x 20-65 s at 40M
   symmetrized edges on this box); the star algorithm instead rewrites
   the edge set itself toward a star forest, so after the first pass the
   giant components have collapsed and later rounds touch a shrinking
   fraction of the data. Both steps are groupBy + equi-join (map-side
   partial aggregation absorbs the giant-star hot key; AQE splits the
   skewed join side), and convergence is detected exactly: the state is
   final iff it is a star forest (one parent per child, no node both
   child and parent), checked with one aggregate + one join over the
   already-small final edge set.

Edge payloads are two longs — document text never enters either path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# above this many symmetrized edges the distributed fixpoint runs; below,
# one union-find task beats ~log(diameter) driver-synchronized rounds.
# Re-measured (round 4, BENCH/cc_threshold_ab_r4.json) after the union-find
# kernel was vectorized (12.3x): interleaved A/B on the same cached edge
# tables at local[32] put the crossover between 20M (local 37 s vs
# distributed 70 s) and 40M (local 74 s vs distributed 48 s) symmetrized
# rows — the old 5M setting predated the fast kernel and left a 2-4x win
# on the table across the 5M-20M band.
LOCAL_EDGES_THRESHOLD = 25_000_000


def _cc_local(e: DataFrame) -> DataFrame:
    """Single-task union-find (path halving) over a coalesced edge list."""

    def kernel(batches):
        parts = list(batches)
        if not parts:
            return
        edges = pa.Table.from_batches(parts)
        u = edges.column("u").to_numpy()
        ids, inv = np.unique(np.concatenate([u, edges.column("v").to_numpy()]),
                             return_inverse=True)
        m = len(u)
        uu, vv = inv[:m], inv[m:]
        # vectorized min-label propagation with pointer jumping — no
        # per-edge Python loop. Invariants: labels are node INDICES within
        # the same component, labels[x] <= x, and np.unique sorts ids so
        # index order == id order; at the fixpoint every edge has equal
        # endpoint labels, hence comp == min id of the component — the
        # identical canonical labels the distributed path produces.
        labels = np.arange(len(ids), dtype=np.int64)
        while True:
            emin = np.minimum(labels[uu], labels[vv])
            new = labels.copy()
            np.minimum.at(new, uu, emin)
            np.minimum.at(new, vv, emin)
            while True:  # pointer jumping: comp <- comp[comp]
                hop = new[new]
                if np.array_equal(hop, new):
                    break
                new = hop
            if np.array_equal(new, labels):
                break
            labels = new
        yield from pa.table({"id": ids, "comp": ids[labels]}).to_batches()

    return e.coalesce(1).mapInArrow(kernel, schema="id long, comp long")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star step (Kiveris et al., SoCC'14 "Connected Components
    in MapReduce and Beyond", Alg. 2): every node connects its
    strictly-LARGER neighbors to the minimum of its closed neighborhood.

    Specialized (round 5) to strictly child>parent-ORIENTED input —
    ``a > b`` on every row, which holds for the canonical undirected
    orientation the loop starts from and for every small-star output, so
    it holds on every round. The textbook step symmetrizes the edge table
    first; under the orientation invariant that is redundant: a row
    (a, b) is the only place node b sees its larger neighbor a, so the
    whole step reduces to the per-row rewrite (a, b) -> (a, m(b)) with
    ``m(b) = min(b, min of b's children)`` — b's parents are all > b and
    can never move its closed-neighborhood min. The output multiset is
    IDENTICAL to the symmetrized form (pinned by
    tests/test_graph.py::test_oriented_large_star_matches_symmetrized)
    while the round's shuffle volume HALVES: one edge-width exchange (the
    join on b) instead of two double-width ones, and the groupBy ships
    node-sized after map-side partial aggregation. The giant component's
    star center is a hot join key either way; AQE skew-join splits it
    (same defense as before — the old form's symmetrized join carried the
    identical hot key on its stream side)."""
    mn = e.groupBy("a").agg(F.min("b").alias("m"))
    # NO trailing distinct: the algorithm is multiset-safe (small-star's
    # groupBy-min ignores duplicates and its own output IS deduped), and
    # a distinct here would be a full-width shuffle per iteration
    return (
        e.join(mn.select(F.col("a").alias("b"), "m"), "b", "left")
        .select("a", F.least(F.col("b"), F.col("m")).alias("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star step: every node links its smaller-or-equal
    neighborhood (and itself) to the neighborhood minimum. Input edges
    must be oriented child > parent (large-star output); so is the
    output — STRICTLY (m = min(b) < a, and linked rows have b > m by the
    != filter), which is the invariant the oriented large-star relies
    on."""
    mn = e.groupBy("a").agg(F.min("b").alias("m"))
    linked = (
        e.join(mn, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    return linked.union(
        mn.select(F.col("a"), F.col("m").alias("b"))
    ).distinct()


def _cc_distributed(
    e: DataFrame,
    max_rounds: int,
    local_edges_threshold: int = 0,
) -> DataFrame:
    """Alternating large-star / small-star over a monotonically shrinking
    edge set -> (id, comp) star edges for every NON-isolated node.

    Unlike a label-propagation fixpoint (whose every round re-shuffles the
    FULL edge table against a label table), each iteration here rewrites
    the edge set itself toward a star forest: after the first pass the
    giant components collapse and subsequent rounds touch a fraction of
    the data. Convergence is exact, not probabilistic: a state is final
    iff it is a star forest — every child has exactly one parent and no
    node is both child and parent (such a state is invariant under both
    steps, and since both steps preserve connectivity its stars are the
    input's components, centered on each component's minimum id because
    children always exceed parents). O(log^2 n) iterations worst case;
    2-4 in practice.

    Tail cutoff: both star steps preserve the non-isolated node set (every
    node re-emerges as a child of, or the parent in, its group's output),
    so once the per-round count shows the rewritten edge set has shrunk
    under ``local_edges_threshold`` the remaining rounds collapse into ONE
    single-task union-find (``_cc_local``) — connectivity is invariant
    under the steps, so components (and their min ids) are unchanged. The
    late rounds are exactly the driver-synchronization-bound ones (a tiny
    star table, 2-4 barriers), so cutting them helps wall AND the N->4N
    efficiency, which fixed per-round costs dilute.

    Round-5 barrier fusion: each round's result is localCheckpoint-ed
    NON-eagerly and materialized BY the convergence aggregate itself —
    one driver-synchronized job per round instead of two (eager
    checkpoint job + agg job), while still truncating lineage every
    round (a pure persist() accumulates the whole iteration history in
    the logical plan and OOMs the driver on long-diameter graphs).
    Driver-sync fixed costs are exactly the core-count-invariant term
    that was diluting N->4N efficiency (0.419 in
    BENCH/cc_scaling_r4.json)."""
    cur = e
    prev = None
    for _ in range(max_rounds):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        # exact convergence check every round (a star forest: one parent
        # per child, no node on both sides). This agg IS the round's
        # materialization barrier — it fills the cache and returns the
        # counts in one job; any deferred-trigger scheme pays one EXTRA
        # full large+small round (~15 s at 20M edges) to detect the
        # fixpoint a round late.
        n, n_children = cur.agg(
            F.count("*").alias("n"),
            F.count_distinct("a").alias("d"),
        ).collect()[0]
        if prev is not None:
            prev.unpersist()
        prev = cur
        # tail cutoff: the star steps shrank the graph under the hybrid
        # threshold (same symmetrized-row scale as the wrapper's routing
        # metric) — finish in one union-find task instead of 2-4 more
        # driver-synchronized rounds over a tiny table
        if 0 < 2 * n <= local_edges_threshold:
            return _cc_local(
                cur.select(F.col("a").alias("u"), F.col("b").alias("v"))
            )
        if n == n_children:
            both = (
                cur.select("a")
                .join(cur.select(F.col("b").alias("a")), "a")
                .limit(1)
                .count()
            )
            if both == 0:
                return cur.select(
                    F.col("a").alias("id"), F.col("b").alias("comp")
                )
    raise RuntimeError(
        f"connected_components: star-forest fixpoint not reached after "
        f"{max_rounds} alternating rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 50,
    local_edges_threshold: int = LOCAL_EDGES_THRESHOLD,
) -> DataFrame:
    """(id long, comp long) for every node appearing in ``edges``.

    ``comp`` is the minimum node id of the node's connected component —
    deterministic, independent of partitioning, round order, and of which
    of the two execution paths (single-task union-find vs distributed
    alternating-star) the edge count selects.
    """
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    nodes = (
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )
    # canonical undirected orientation, self-loops dropped (isolated nodes
    # re-enter through the final left join against ``nodes``). NOT deduped:
    # both execution paths are duplicate-safe, and a distinct here would be
    # a full-width shuffle spent before any real work
    und = (
        raw.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .persist()
    )
    # routing metric: symmetrized row count (each undirected row = 2
    # directed rows), same scale the threshold was calibrated against;
    # duplicate input pairs now count toward it, which can only route a
    # borderline graph to the distributed path (the safe direction)
    n_edges = 2 * und.count()

    if n_edges <= local_edges_threshold:
        part = _cc_local(
            und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        )
    else:
        part = _cc_distributed(und, max_rounds, local_edges_threshold)

    out = (
        nodes.join(part, nodes["id"] == part["id"], "left")
        .select(
            nodes["id"], F.coalesce(part["comp"], nodes["id"]).alias("comp")
        )
        .localCheckpoint()
    )
    und.unpersist()
    nodes.unpersist()
    return out


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, is_keeper).

    ``cluster_id`` = min doc id in the component; ``is_keeper`` marks the
    one document per cluster a dedup pipeline retains. Only documents that
    appear in at least one pair are returned (singletons are trivially
    their own keepers and never shuffle)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_keeper"),
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts by DEGREE-ORIENTED wedge counting (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
    WWW 2011; Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009).

    The naive wedge join keys on every node and the hottest vertex owns
    deg^2 wedges — the "last reducer" that stalls a 1000-executor job.
    Orienting each undirected edge from the LOWER (degree, id) endpoint to
    the higher makes every triangle a wedge at its lowest-ranked vertex
    plus one closing edge, and caps any vertex's out-degree at O(sqrt(m)):
    the wedge join's worst key shrinks from deg_max^2 to m, with plain
    equi-joins all the way (no skew salting needed by construction).

    Input may contain duplicates, self-loops, or both orientations; it is
    canonicalized to distinct undirected edges first. All arithmetic is
    integer (degrees, ids), so any engine reproduces the counts exactly.

    Returns (node long, n_tri long) for nodes in at least one triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    # total order for orientation: rank = (degree, id) packed into one
    # long; ids >= 2^32 would corrupt the pack, so the expression guards
    # the contract with a per-row raise instead of silently mis-orienting
    rk = F.when(
        F.col("n") < F.lit(2**32),
        F.col("d").cast("long") * F.lit(2**32) + F.col("n"),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("triangle_counts: node id >= 2^32 breaks the "
                  "(degree,id) rank pack, got "),
            F.col("n").cast("string"),
        ))
    ).alias("rk")
    dega = deg.select(F.col("n").alias("a"), rk.alias("rka"))
    degb = deg.select(F.col("n").alias("b"), rk.alias("rkb"))
    ranked = e.join(dega, "a").join(degb, "b")
    oriented = ranked.select(
        F.when(F.col("rka") < F.col("rkb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("rka") < F.col("rkb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("rka") < F.col("rkb"), F.col("rkb")).otherwise(F.col("rka")).alias("rkv"),
    )
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"), F.col("rkv").alias("rkx"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("rkv").alias("rky"))
    wedges = (
        o1.join(o2, "u")
        .filter(F.col("rkx") < F.col("rky"))
        .select("u", "x", "y")
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"])
    return (
        tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node").agg(F.count("*").cast("long").alias("n_tri"))
    )


def pagerank_fixed(
    edges: DataFrame,
    n_iters: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank with a FIXED iteration count in FIXED-POINT integer
    arithmetic (Page, Brin, Motwani, Winograd 1999; the synchronous power
    iteration every Pregel-style engine runs).

    Ranks are carried as integers r_scaled = r * scale. Each round:

        r'(v) = (100-damping_pct)% * scale / N
                + damping_pct% * sum over in-edges of floor(r(u) / outdeg(u))

    with every product/divide in integer floor arithmetic. Why fixed
    point: float PageRank sums an unordered stream of per-edge
    contributions, so its low bits depend on aggregation order — no two
    engines (or two RUNS on the same engine) agree bit-for-bit. Integer
    sums are associative-commutative EXACTLY, so a 1000-executor Spark
    job, a single DuckDB recursive CTE, and a numpy loop all produce the
    identical table, while staying within 1/scale per edge per round of
    the real-valued iteration.

    Nodes = every distinct endpoint; dangling nodes (no out-edges)
    contribute nothing (their mass exits, the standard "remove dangling"
    variant). Plan per round: one equi-join of the rank table against the
    static out-degree-annotated edge table, one groupBy sum — the rank
    table is ids+longs only; localCheckpoint every round bounds lineage.

    Returns (node long, r_scaled long) — r_scaled / scale is the rank.
    """
    if n_iters < 1:
        raise ValueError(f"pagerank_fixed: need n_iters >= 1 (got {n_iters})")
    if not 0 < damping_pct < 100:
        raise ValueError(
            f"pagerank_fixed: damping_pct in (0,100) (got {damping_pct})")
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).filter(F.col("s") != F.col("d")).distinct()
    outdeg = e.groupBy("s").agg(F.count("*").alias("od"))
    # The edge table is STATIC across rounds but each round is a separate
    # query, so ReusedExchange never applies — without pre-partitioning,
    # every round re-shuffles all m edge rows. Caching the table ALREADY
    # hash-partitioned on the join key (InMemoryRelation preserves
    # outputPartitioning) makes each round shuffle only the n-row rank
    # table; same for the nodes table and its `node` key.
    nparts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ed = e.join(outdeg, "s").repartition(int(nparts), "s").persist()
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
        .repartition(int(nparts), "node").persist()
    )
    n_nodes = nodes.count()  # one scalar to the driver: the base rank
    base = scale // n_nodes
    ranks = nodes.select("node", F.lit(base).cast("long").alias("r_scaled"))
    ranks = ranks.localCheckpoint()
    for it in range(n_iters):
        contrib = (
            ed.join(ranks, ed["s"] == ranks["node"])
            .select(
                F.col("d").alias("node"),
                # `div` is INTEGER division on longs; `/` would route
                # through an IEEE double whose rounding can cross the
                # floor boundary when od approaches 1/ulp(r_scaled)
                F.expr("r_scaled div od").alias("c"),
            )
            .groupBy("node").agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit((100 - damping_pct) * scale // (100 * n_nodes))
                    + F.expr(
                        f"({damping_pct} * coalesce(in_mass, 0L)) div 100")
                ).cast("long").alias("r_scaled"),
            )
        )
        # truncate lineage every few rounds (and always on the last): each
        # eager localCheckpoint is a driver barrier, and 6-deep join plans
        # are well within Catalyst's comfort zone
        if it % 3 == 2 or it == n_iters - 1:
            ranks = ranks.localCheckpoint()
    ed.unpersist()
    nodes.unpersist()
    return ranks
