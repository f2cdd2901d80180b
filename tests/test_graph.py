"""connected_components vs a sequential union-find oracle."""

import random

import pytest

from gdal_scripts_spark import graph

def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical: min node id per component
    comp = {}
    for n in parent:
        root = find(n)
        comp.setdefault(root, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {
        r["id"]: r["comp"]
        for r in graph.connected_components(df, **kw).collect()
    }
    assert got == _uf_oracle(edges)


def test_chain_log_rounds_distributed(spark):
    # force the DISTRIBUTED fixpoint (threshold=0): a 200-node chain has
    # diameter 199, so plain neighbor propagation needs ~200 rounds;
    # pointer jumping must finish well inside max_rounds=50
    edges = [(i, i + 1) for i in range(200)]
    _run(spark, edges, local_edges_threshold=0)


def test_local_and_distributed_paths_agree(spark):
    # same canonical labels from the single-task union-find and the
    # distributed pointer-jumping fixpoint
    rng = random.Random(3)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    local = {
        r["id"]: r["comp"] for r in graph.connected_components(df).collect()
    }
    dist = {
        r["id"]: r["comp"]
        for r in graph.connected_components(
            df, local_edges_threshold=0
        ).collect()
    }
    assert local == dist == _uf_oracle(edges)


def test_random_components(spark):
    rng = random.Random(7)
    edges = []
    # 20 disjoint blobs of 1..30 nodes with random internal edges
    base = 0
    for _ in range(20):
        n = rng.randint(1, 30)
        ids = list(range(base, base + n))
        base += n + 3  # gap so blobs stay disjoint
        for _ in range(max(n - 1, 1)):
            edges.append((rng.choice(ids), rng.choice(ids)))
        # guarantee connectivity inside the blob
        for a, b in zip(ids, ids[1:]):
            edges.append((a, b))
    _run(spark, edges)


def test_self_loops_and_dupes(spark):
    edges = [(1, 1), (1, 2), (2, 1), (1, 2), (5, 5)]
    _run(spark, edges)


def test_dedup_keeper_flags(spark):
    df = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], schema="id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in graph.dedup_clusters(df).collect()
    }
    assert rows == {
        10: (10, True), 20: (10, False), 30: (10, False),
        40: (40, True), 50: (40, False),
    }


def test_distributed_tail_cutoff(spark):
    # route to the distributed path (initial symmetrized count exceeds the
    # threshold) but let the post-round-1 shrunken star set fall UNDER it,
    # exercising the mid-loop single-task finish; labels must still match
    # the oracle exactly
    rng = random.Random(11)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(400)]
    # symmetrized count = 2*undirected ~ 800 > 500 -> distributed; after
    # one large+small star round the ~150-node graph is near-stars, so the
    # per-round count drops under 500 -> _cc_local tail
    _run(spark, edges, local_edges_threshold=500)


def test_oriented_large_star_matches_symmetrized(spark):
    """The round-5 oriented large-star (no symmetrization, half the
    shuffle volume) emits the EXACT output multiset of the textbook
    symmetrized form, on strictly child>parent-oriented inputs —
    including nodes with no children (left-join null -> m(b)=b) and
    duplicate rows."""
    from collections import Counter

    rng = random.Random(99)
    edges = set()
    while len(edges) < 400:
        u, v = rng.randrange(1000), rng.randrange(1000)
        if u != v:
            edges.add((max(u, v), min(u, v)))
    rows = list(edges) + list(edges)[:50]  # duplicates are in-contract

    def sym_reference(rows):
        """Textbook large-star (the pre-round-5 implementation)."""
        sym = rows + [(b, a) for a, b in rows]
        mn = {}
        for a, b in sym:
            mn[a] = min(mn.get(a, a), b, a)
        return Counter((b, mn[a]) for a, b in sym if b > a)

    e = spark.createDataFrame(rows, schema="a long, b long")
    got = Counter((r["a"], r["b"]) for r in graph._large_star(e).collect())
    assert got == sym_reference(rows)
    # output stays strictly oriented (the loop invariant)
    assert all(a > b for a, b in got)


def test_distributed_cc_chain_and_duplicates(spark):
    """The distributed alternating-star loop reaches the oracle's
    (id, comp) star forest on a long-diameter chain (forces several
    rounds) joined with a random multi-component graph with duplicate
    rows."""
    rng = random.Random(7)
    rows = [(i + 1, i) for i in range(200)]  # 201-node chain
    for _ in range(500):
        u, v = rng.randrange(300, 1300), rng.randrange(300, 1300)
        if u != v:
            rows.append((max(u, v), min(u, v)))
    rows += rows[:40]  # duplicates are in-contract
    e = spark.createDataFrame(rows, "a long, b long")
    # the raw distributed loop emits star EDGES: component roots never
    # appear as children (connected_components re-adds them via its
    # nodes left-join), so compare against the oracle's non-root rows
    expected = {
        n: c for n, c in _uf_oracle([(a, b) for a, b in rows]).items()
        if n != c
    }
    got = {r["id"]: r["comp"] for r in graph._cc_distributed(e, 50).collect()}
    assert got == expected


def _tri_oracle(edges):
    """Brute-force per-node triangle counts over undirected edges."""
    from itertools import combinations

    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # each triangle once as a<b<c (und has a<b)
                for n in (a, b, c):
                    counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_counts_vs_bruteforce(spark):
    random.seed(7)
    edges = [(random.randrange(30), random.randrange(30)) for _ in range(120)]
    # include duplicates and both orientations deliberately
    edges += [(b, a) for a, b in edges[:20]]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_tri"]
           for r in graph.triangle_counts(df).collect()}
    assert got == _tri_oracle(edges)


def test_triangle_counts_known_shapes(spark):
    # K4 has 4 triangles, each node in 3; a pendant node is in none
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r["node"]: r["n_tri"]
           for r in graph.triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def _pr_oracle(edges, n_iters, scale=10**12, damping_pct=85):
    """Pure-Python fixed-point PageRank replaying the exact integer rule."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({n for p in e for n in p})
    od = {}
    for s, _ in e:
        od[s] = od.get(s, 0) + 1
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    tele = (100 - damping_pct) * scale // (100 * n)
    for _ in range(n_iters):
        mass = {v: 0 for v in nodes}
        for s, d in e:
            mass[d] += r[s] // od[s]
        r = {v: tele + damping_pct * mass[v] // 100 for v in nodes}
    return r


def test_pagerank_fixed_matches_integer_oracle_and_partitioning(spark):
    random.seed(11)
    edges = [(random.randrange(25), random.randrange(25)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    exp = _pr_oracle(edges, 4)
    for parts in (1, 9):
        got = {r["node"]: r["r_scaled"]
               for r in graph.pagerank_fixed(
                   df.repartition(parts), n_iters=4).collect()}
        assert got == exp


def test_pagerank_fixed_sink_and_validation(spark):
    # star into a sink: the sink accumulates, spokes keep teleport-only
    edges = [(i, 9) for i in range(9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["r_scaled"]
           for r in graph.pagerank_fixed(df, n_iters=3).collect()}
    assert got == _pr_oracle(edges, 3)
    assert got[9] > got[0] and len({got[i] for i in range(9)}) == 1
    with pytest.raises(ValueError, match="n_iters"):
        graph.pagerank_fixed(df, n_iters=0)
    with pytest.raises(ValueError, match="damping_pct"):
        graph.pagerank_fixed(df, damping_pct=100)


def test_triangle_counts_id_pack_guard(spark):
    big = spark.createDataFrame(
        [(2**32 + 1, 1), (1, 2), (2, 2**32 + 1)], "src long, dst long")
    with pytest.raises(Exception, match="rank pack"):
        graph.triangle_counts(big).collect()
