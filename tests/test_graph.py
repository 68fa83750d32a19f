"""N1/N2 — integer PageRank and triangle counting vs sequential
references."""

from __future__ import annotations

import random

import pytest

from engine.graph import (pagerank_int, pagerank_py, triangle_count,
                          triangles_py)


def _edf(spark, edges, parts=None):
    df = spark.createDataFrame(edges, "src long, dst long")
    return df.repartition(parts) if parts else df


def test_pagerank_matches_reference_random(spark):
    rng = random.Random(23)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
    exp = pagerank_py(edges, iters=4)
    for parts in (1, 8):
        got = {r.node: r.rank
               for r in pagerank_int(_edf(spark, edges, parts),
                                     iters=4).collect()}
        assert got == exp


def test_pagerank_star_hub_dominates(spark):
    edges = [(0, i) for i in range(1, 9)]
    got = {r.node: r.rank for r in pagerank_int(_edf(spark, edges)).collect()}
    assert got == pagerank_py(edges)
    assert got[0] > max(got[i] for i in range(1, 9))
    # leaves are symmetric: identical ranks
    assert len({got[i] for i in range(1, 9)}) == 1


def test_pagerank_mass_conservation_bound(spark):
    """Floors only shed mass: total rank never exceeds the exact-
    rational fixed total n*s0 after any round."""
    edges = [(i, (i + 1) % 10) for i in range(10)]  # 10-cycle
    got = {r.node: r.rank for r in pagerank_int(_edf(spark, edges)).collect()}
    s0 = 1 << 30
    assert sum(got.values()) <= 10 * s0
    # cycle is vertex-transitive: all ranks equal
    assert len(set(got.values())) == 1


def test_pagerank_guards(spark):
    with pytest.raises(Exception):
        pagerank_int(_edf(spark, [(1, 1)]))  # only a self-loop -> empty
    with pytest.raises(ValueError):
        pagerank_int(_edf(spark, [(0, 1)]), s0=1 << 62)


def test_triangles_k4_and_path(spark):
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {r.node: r.n_triangles
           for r in triangle_count(_edf(spark, k4)).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    path = [(i, i + 1) for i in range(6)]
    assert triangle_count(_edf(spark, path)).count() == 0


def test_triangles_random_matches_brute(spark):
    rng = random.Random(31)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
    exp = triangles_py(edges)
    for parts in (1, 8):
        got = {r.node: r.n_triangles
               for r in triangle_count(_edf(spark, edges, parts)).collect()}
        assert got == exp


def test_triangles_duplicate_and_reversed_edges_collapse(spark):
    tri = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (0, 2), (2, 0)]
    got = {r.node: r.n_triangles
           for r in triangle_count(_edf(spark, tri)).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


# ---------------------------------------------------------------- SSSP

import heapq
import random

from engine.graph import sssp_int, sssp_py


def _dijkstra(edge_list, sources):
    adj = {}
    for u, v, w in edge_list:
        adj.setdefault(u, []).append((v, w))
    dist = {s: 0 for s in sources}
    pq = [(0, s) for s in sources]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 62):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def _rand_graph(rng, n=60, m=180):
    return [(rng.randrange(n), rng.randrange(n), rng.randrange(1, 20))
            for _ in range(m)]


def test_sssp_matches_hop_bounded_reference(spark):
    rng = random.Random(11)
    edges = _rand_graph(rng)
    srcs = [0, 7, 13]
    for hops in (1, 3, 6):
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        sdf = spark.createDataFrame([(s,) for s in srcs], "node long")
        got = {r["node"]: r["dist"]
               for r in sssp_int(df, sdf, max_hops=hops).collect()}
        assert got == sssp_py(edges, srcs, max_hops=hops)


def test_sssp_converges_to_dijkstra(spark):
    """max_hops >= n-1 gives true SSSP on positive weights."""
    rng = random.Random(23)
    edges = _rand_graph(rng, n=30, m=90)
    srcs = [0, 5]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in srcs], "node long")
    got = {r["node"]: r["dist"]
           for r in sssp_int(df, sdf, max_hops=29).collect()}
    assert got == _dijkstra(edges, srcs)


# --------------------------------------------------------------- k-core

from engine.graph import kcore, kcore_py


def _kcore_rows(spark, edges, k, parts=None, max_rounds=32):
    got = kcore(_edf(spark, edges, parts), k=k, max_rounds=max_rounds)
    return {(r["node"], r["core_deg"]) for r in got.collect()}


def test_kcore_matches_reference_random(spark):
    rng = random.Random(41)
    for trial in range(3):
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(90)]
        for k in (2, 3, 4):
            want = set(kcore_py(edges, k=k).items())
            assert _kcore_rows(spark, edges, k) == want, (trial, k)


def test_kcore_clique_survives_pendant_trees_peel(spark):
    # K5 (nodes 0-4) with a pendant path 4-10-11-12: the path peels
    # away round by round, the clique stays intact with core_deg 4.
    edges = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    edges += [(4, 10), (10, 11), (11, 12)]
    got = _kcore_rows(spark, edges, k=3)
    assert got == {(n, 4) for n in range(5)}


def test_kcore_path_peels_to_empty(spark):
    edges = [(i, i + 1) for i in range(12)]
    assert _kcore_rows(spark, edges, k=2) == set()


def test_kcore_cycle_is_its_own_2core(spark):
    edges = [(i, (i + 1) % 9) for i in range(9)]
    assert _kcore_rows(spark, edges, k=2) == {(n, 2) for n in range(9)}


def test_kcore_duplicate_reversed_selfloop_edges_collapse(spark):
    tri = [(0, 1), (1, 2), (2, 0)]
    noisy = tri + [(1, 0), (2, 1), (0, 0), (2, 2)] + tri
    assert _kcore_rows(spark, noisy, k=2) == \
        _kcore_rows(spark, tri, k=2) == {(0, 2), (1, 2), (2, 2)}


def test_kcore_partitioning_invariance(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(70)]
    assert _kcore_rows(spark, edges, 3, parts=1) == \
        _kcore_rows(spark, edges, 3, parts=13)


def test_kcore_max_rounds_raises_loudly(spark):
    # a 12-path needs ~6 peel rounds at k=2; cap at 2 must raise, not
    # silently emit a truncated "core"
    edges = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="max_rounds"):
        kcore(_edf(spark, edges), k=2, max_rounds=2).collect()


# ---- neighborhood-Jaccard link prediction ---------------------------

def _jaccard_py(edges, min_common=1):
    """Brute reference: neighbor sets per node, all pairs."""
    from itertools import combinations
    und = {tuple(sorted((u, v))) for u, v in edges if u != v}
    nbr = {}
    for u, v in und:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    out = {}
    for a, b in combinations(sorted(nbr), 2):
        n_common = len(nbr[a] & nbr[b])
        if n_common >= min_common:
            out[(a, b)] = (n_common, len(nbr[a]), len(nbr[b]),
                           int((a, b) in und))
    return out


def test_jaccard_matches_brute_random(spark):
    from engine.graph import jaccard_links
    rng = random.Random(5)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    got = {(r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.is_edge)
           for r in jaccard_links(_edf(spark, edges)).collect()}
    assert got == _jaccard_py(edges)


def test_jaccard_min_common_filter(spark):
    from engine.graph import jaccard_links
    rng = random.Random(9)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    got = {(r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.is_edge)
           for r in jaccard_links(_edf(spark, edges),
                                  min_common=3).collect()}
    assert got == _jaccard_py(edges, min_common=3)


def test_jaccard_square_closed_form(spark):
    from engine.graph import jaccard_links
    # 4-cycle 0-1-2-3-0: opposite corners share BOTH neighbors and are
    # NOT edges (the canonical link-prediction hit); adjacent corners
    # share none.
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = {(r.a, r.b): (r.n_common, r.is_edge)
           for r in jaccard_links(_edf(spark, edges)).collect()}
    assert got == {(0, 2): (2, 0), (1, 3): (2, 0)}


def test_jaccard_duplicate_reversed_selfloop_edges_collapse(spark):
    from engine.graph import jaccard_links
    base = [(0, 1), (0, 2), (1, 2), (2, 3)]
    noisy = base + [(1, 0), (0, 1), (3, 3), (2, 1)]
    a = sorted(map(tuple, jaccard_links(_edf(spark, base)).collect()))
    b = sorted(map(tuple, jaccard_links(_edf(spark, noisy, 7)).collect()))
    assert a == b


# ---- local clustering coefficient -----------------------------------

def _clustering_py(edges):
    """Brute reference: neighbor sets, count connected neighbor pairs."""
    from itertools import combinations
    und = {tuple(sorted((u, v))) for u, v in edges if u != v}
    nbr = {}
    for u, v in und:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    out = {}
    for n, s in nbr.items():
        t = sum(1 for a, b in combinations(sorted(s), 2)
                if (min(a, b), max(a, b)) in und)
        d = len(s)
        out[n] = (d, t, 2 * t, d * (d - 1))
    return out


def test_clustering_matches_brute_random(spark):
    from engine.graph import clustering_coeff
    rng = random.Random(17)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(140)]
    got = {r.node: (r.degree, r.n_triangles, r.cc_num, r.cc_den)
           for r in clustering_coeff(_edf(spark, edges)).collect()}
    assert got == _clustering_py(edges)


def test_clustering_closed_forms(spark):
    from engine.graph import clustering_coeff
    # K4: every node has degree 3, sits in C(3,2)=3 triangles, cc = 1.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {r.node: (r.degree, r.n_triangles, r.cc_num, r.cc_den)
           for r in clustering_coeff(_edf(spark, k4)).collect()}
    assert got == {n: (3, 3, 6, 6) for n in range(4)}
    # Star K1,4: hub degree 4 with no closed wedge (cc 0/12); leaves
    # are degree-1 so the undefined case is the explicit 0/0 pair.
    star = [(0, i) for i in range(1, 5)]
    got = {r.node: (r.degree, r.n_triangles, r.cc_num, r.cc_den)
           for r in clustering_coeff(_edf(spark, star)).collect()}
    assert got == {0: (4, 0, 0, 12), **{i: (1, 0, 0, 0)
                                        for i in range(1, 5)}}


def test_clustering_triangle_with_pendant(spark):
    from engine.graph import clustering_coeff
    # Triangle 0-1-2 plus pendant 2-3: node 2's neighbor pairs are
    # {0,1},{0,3},{1,3} of which only {0,1} closes -> 2/6.
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    got = {r.node: (r.degree, r.n_triangles, r.cc_num, r.cc_den)
           for r in clustering_coeff(_edf(spark, edges)).collect()}
    assert got == {0: (2, 1, 2, 2), 1: (2, 1, 2, 2),
                   2: (3, 1, 2, 6), 3: (1, 0, 0, 0)}


def test_clustering_duplicate_reversed_selfloop_edges_collapse(spark):
    from engine.graph import clustering_coeff
    base = [(0, 1), (0, 2), (1, 2), (2, 3)]
    noisy = base + [(1, 0), (0, 1), (3, 3), (2, 1)]
    a = sorted(map(tuple, clustering_coeff(_edf(spark, base)).collect()))
    b = sorted(map(tuple,
                   clustering_coeff(_edf(spark, noisy, 7)).collect()))
    assert a == b


# ---- synchronous label propagation ----------------------------------

def test_lpa_matches_reference_random(spark):
    from engine.graph import label_propagation, lpa_py
    rng = random.Random(29)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    got = {r.node: r.label
           for r in label_propagation(_edf(spark, edges),
                                      rounds=3).collect()}
    assert got == lpa_py(edges, rounds=3)


def test_lpa_two_cliques_converge_to_min_ids(spark):
    from engine.graph import label_propagation
    # two disjoint 4-cliques: every neighbor vote inside a clique is a
    # tie among the others' labels, so round 1 sends everyone to the
    # clique's lowest-or-second-lowest id and the min label floods.
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a + 10, b + 10) for a, b in k4a]
    got = {r.node: r.label
           for r in label_propagation(_edf(spark, k4a + k4b),
                                      rounds=4).collect()}
    from engine.graph import lpa_py
    assert got == lpa_py(k4a + k4b, rounds=4)
    # communities never bleed across components
    assert {got[n] for n in range(4)}.isdisjoint(
        {got[n + 10] for n in range(4)})


def test_lpa_bipartite_two_cycle_is_deterministic(spark):
    from engine.graph import label_propagation
    # a single edge 0-1 oscillates: after odd rounds labels swap,
    # after even rounds they return — the documented fixed-round
    # contract, exact either way.
    got1 = {r.node: r.label
            for r in label_propagation(_edf(spark, [(0, 1)]),
                                       rounds=1).collect()}
    got2 = {r.node: r.label
            for r in label_propagation(_edf(spark, [(0, 1)]),
                                       rounds=2).collect()}
    assert got1 == {0: 1, 1: 0}
    assert got2 == {0: 0, 1: 1}


def test_lpa_partitioning_invariance(spark):
    from engine.graph import label_propagation
    rng = random.Random(37)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    a = sorted(map(tuple,
                   label_propagation(_edf(spark, edges)).collect()))
    b = sorted(map(tuple,
                   label_propagation(_edf(spark, edges, 7)).collect()))
    assert a == b


# ------------------------------------------------ minimum spanning forest

def _wedf(spark, edges, parts=None):
    df = spark.createDataFrame(edges, "u long, v long, w long")
    return df.repartition(parts) if parts else df


def test_msf_matches_kruskal_random(spark):
    from engine.graph import msf_boruvka, msf_py
    rng = random.Random(41)
    edges = [(rng.randrange(50), rng.randrange(50), rng.randrange(20))
             for _ in range(130)]
    got = sorted(map(tuple, msf_boruvka(_wedf(spark, edges)).collect()))
    assert got == msf_py(edges)


def test_msf_forest_laws_random(spark):
    """|F| = V - C, acyclicity, and spanning: replaying the forest
    through an independent union-find must touch every node and never
    close a cycle; total weight equals Kruskal's."""
    from engine.graph import msf_boruvka, msf_py
    rng = random.Random(99)
    edges = [(rng.randrange(40), rng.randrange(40), rng.randrange(8))
             for _ in range(70)]
    forest = sorted(map(tuple, msf_boruvka(_wedf(spark, edges)).collect()))
    nodes = {u for u, v, _ in edges if u != v} | {
        v for u, v, _ in edges if u != v}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _ in forest:
        ru, rv = find(u), find(v)
        assert ru != rv, "cycle in forest"
        parent[ru] = rv
    n_comp = len({find(n) for n in nodes})
    assert len(forest) == len(nodes) - n_comp
    assert sum(w for _, _, w in forest) == sum(
        w for _, _, w in msf_py(edges))


def test_msf_disconnected_and_parallel_edges(spark):
    from engine.graph import msf_boruvka, msf_py
    # two components + parallel edges with different weights + self loop
    edges = [(0, 1, 5), (1, 0, 3), (1, 2, 9), (0, 2, 9),
             (3, 3, 1), (4, 5, 2), (5, 6, 2), (4, 6, 2)]
    got = sorted(map(tuple, msf_boruvka(_wedf(spark, edges)).collect()))
    assert got == msf_py(edges)
    # the parallel (0,1) pair resolved to the lighter w=3 edge
    assert (0, 1, 3) in got and (0, 1, 5) not in got


def test_msf_partitioning_invariance(spark):
    from engine.graph import msf_boruvka
    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30), rng.randrange(6))
             for _ in range(60)]
    a = sorted(map(tuple, msf_boruvka(_wedf(spark, edges)).collect()))
    b = sorted(map(tuple, msf_boruvka(_wedf(spark, edges, 5)).collect()))
    assert a == b


def test_msf_driver_fixture_matches_kruskal(spark):
    """The exact q_graph_msf fixture vs sequential Kruskal — the
    independent verification behind the committed golden pin."""
    from engine.graph import msf_boruvka, msf_py
    edges = [((k * 37) % 700, (k * 91 + 13) % 700, (k * 48271) % 1000)
             for k in range(2100)]
    got = sorted(map(tuple, msf_boruvka(_wedf(spark, edges)).collect()))
    assert got == msf_py(edges)


# ------------------------------------------------ topological layering

def test_toposort_matches_reference_random_dag(spark):
    from engine.graph import toposort_layers, toposort_py
    rng = random.Random(13)
    # random DAG: edges always ascend, depth bounded by node count
    edges = []
    for _ in range(120):
        u = rng.randrange(40)
        v = rng.randrange(u + 1, 42)
        edges.append((u, v))
    got = {r.node: r.level
           for r in toposort_layers(_edf(spark, edges).toDF("u", "v"),
                                    max_depth=45).collect()}
    assert got == toposort_py(edges, max_depth=45)


def test_toposort_levels_are_a_valid_schedule(spark):
    """Every edge goes strictly up in level, and every non-source node
    has a predecessor exactly one level below (tightness of the
    longest-path characterization)."""
    from engine.graph import toposort_layers
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (0, 4), (5, 4)]
    got = {r.node: r.level
           for r in toposort_layers(
               _edf(spark, edges).toDF("u", "v")).collect()}
    assert got == {0: 0, 5: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    for u, v in edges:
        assert got[v] > got[u]
    preds = {}
    for u, v in edges:
        preds.setdefault(v, []).append(u)
    for v, ps in preds.items():
        assert got[v] == 1 + max(got[u] for u in ps)


def test_toposort_detects_cycle(spark):
    from engine.graph import toposort_layers
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    with pytest.raises(Exception, match="cycle"):
        toposort_layers(_edf(spark, edges).toDF("u", "v"), max_depth=10)


def test_msf_small_and_distributed_contraction_agree(spark, monkeypatch):
    """The bounded-collect union-find contraction and the distributed
    pointer-jumping CC produce the identical forest (same min-label
    fixpoint) — forcing the distributed path via threshold 0."""
    import engine.graph as graph
    rng = random.Random(77)
    edges = [(rng.randrange(40), rng.randrange(40), rng.randrange(12))
             for _ in range(90)]
    fast = sorted(map(tuple, graph.msf_boruvka(_wedf(spark, edges)).collect()))
    monkeypatch.setattr(graph, "_SMALL_CC_ROWS", 0)
    dist = sorted(map(tuple, graph.msf_boruvka(_wedf(spark, edges)).collect()))
    assert fast == dist


def test_msf_completes_in_exactly_max_rounds(spark):
    """One edge merges everything in round 1; the probe that finds no
    further edge must still run, so max_rounds=1 returns the forest."""
    from engine.graph import msf_boruvka
    got = msf_boruvka(_wedf(spark, [(1, 2, 5)]), max_rounds=1).collect()
    assert sorted(map(tuple, got)) == [(1, 2, 5)]


@pytest.mark.parametrize("small", [True, False],
                         ids=["small", "distributed"])
def test_connected_components_string_ids_keep_type(spark, monkeypatch,
                                                   small):
    """Both CC paths return `id`/`cluster_id` in the input's type; the
    small path materializes its edge frame once and runs no round."""
    import engine.graph as graph
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y"), ("a", "d")],
        "id_a string, id_b string")
    calls = []
    orig = graph.materialize
    monkeypatch.setattr(graph, "materialize",
                        lambda *a, **kw: calls.append(1) or orig(*a, **kw))
    if not small:
        monkeypatch.setattr(graph, "_SMALL_CC_ROWS", 0)
    cc = graph.connected_components(pairs)
    assert cc.dtypes == [("id", "string"), ("cluster_id", "string")]
    assert {(r.id, r.cluster_id) for r in cc.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x")}
    assert (len(calls) == 1) == small


@pytest.mark.parametrize("small", [True, False],
                         ids=["small", "distributed"])
def test_connected_components_empty_pairs(spark, monkeypatch, small):
    """No pairs -> no components, in the input's id type, on both paths
    (the distributed rounds converge at once on an empty label frame)."""
    import engine.graph as graph
    if not small:
        monkeypatch.setattr(graph, "_SMALL_CC_ROWS", -1)
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    cc = graph.connected_components(pairs)
    assert cc.dtypes == [("id", "bigint"), ("cluster_id", "bigint")]
    assert cc.collect() == []
