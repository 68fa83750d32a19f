"""Graph analytics in the exact integer domain — connected components
(`connected_components`, the one CC engine that dedup_clusters,
grid-density clustering, the polygonize stitch and msf_boruvka share)
and the iterative family beside it:

* `pagerank_int` — damped PageRank with FIXED-POINT integer mass.
  Every step is integer floor arithmetic (contribution = rank DIV
  out-degree, damping = (85 * in-mass) DIV 100), so the trajectory is
  a pure function of the edge set: bit-identical under repartition,
  retry, or engine — the property that lets a relational DuckDB twin
  (the same recurrence unrolled as chained CTEs) be an EXACT oracle,
  where float PageRank would be addition-order-dependent.  Dangling
  mass vanishes and floors shed sub-unit mass; both are documented
  variants (ranks are for ORDERING, the absolute scale is arbitrary).

* `triangle_count` — per-node triangle counts via the classical
  degree-ordered orientation: orient each undirected edge from the
  lower (degree, id) endpoint to the higher, so every triangle has
  exactly one node with two out-edges into its other two corners;
  wedges are an equi-join on that node and the closing edge is one
  more equi-join.  Join sizes are Σ outdeg² with outdeg <= O(sqrt(m))
  after orientation — the standard scale-out bound — vs the naive
  Σ deg² which a hub explodes.

Scale shape: pagerank keeps two static relations (edges+outdeg, nodes)
and shuffles one skinny (node, mass) frame per round, localCheckpointed
each round to cut the lineage (the dedup_clusters pattern); triangles
are two equi-joins over the oriented half-edges, no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from engine.ckpt import materialize
from engine.localdf import local_df

S0_DEFAULT = 1 << 30
DAMP_NUM, DAMP_DEN = 85, 100
# connected_components: pair count up to which the components finish on
# the driver (one bounded collect), and the distributed round cap
_SMALL_CC_ROWS = 2_000_000
_CC_MAX_ROUNDS = 25


def _undirect(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edge set, self-loops dropped, normalized
    u < v."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    return (e.select(F.least("u", "v").alias("u"),
                     F.greatest("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def pagerank_int(edges: DataFrame, src: str = "src", dst: str = "dst",
                 iters: int = 4, s0: int = S0_DEFAULT,
                 broadcast_ranks: bool | None = None,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Undirected integer PageRank: every edge (u, v) carries mass both
    ways.  -> (node, rank) after `iters` rounds from the uniform start
    rank = s0.

    Overflow guard: per-node rank is bounded by the total mass n*s0,
    and the damping multiply needs DAMP_NUM * n * s0 < 2^63 — checked
    with one tiny count() job and raised loudly."""
    und = _undirect(edges, src, dst)
    bi = und.unionByName(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
    nodes = bi.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank_int: empty graph")
    if DAMP_NUM * n * s0 >= 1 << 63:
        raise ValueError("pagerank_int: n * s0 too large for the exact "
                         "int64 audit — lower s0")
    deg = bi.groupBy("u").agg(F.count("*").alias("outdeg"))
    ed = materialize(bi.join(deg, "u"), eager=True,
                     checkpoint_dir=checkpoint_dir)

    # broadcast_ranks=True avoids reshuffling the edge frame each
    # round by broadcasting the node-sized rank frame — MEASURED SLOWER
    # at 10 M edges / 1 M nodes (204 s vs 56 s): rebuilding and
    # shipping a 1 M-row broadcast every round costs more than the
    # all-JVM hash shuffle it saves.  Worth flipping only when ranks
    # are tiny relative to a huge, expensively-shuffled edge frame
    # (e.g. <100 k nodes vs billions of edges); default off.
    if broadcast_ranks is None:
        broadcast_ranks = False

    r = nodes.withColumn("rank", F.lit(s0).cast("long"))
    base = (15 * s0) // 100  # (1 - d) * s0, exact for DAMP 85/100
    for _ in range(iters):
        rr = F.broadcast(r) if broadcast_ranks else r
        contrib = (ed.join(rr, ed["u"] == rr["node"])
                   .select(ed["v"].alias("node"),
                           F.expr("rank DIV outdeg").alias("c")))
        sums = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        r = (nodes.join(sums, "node", "left")
             .select("node",
                     (F.lit(base)
                      + F.expr(f"({DAMP_NUM} * coalesce(m, 0)) "
                               f"DIV {DAMP_DEN}")).cast("long")
                     .alias("rank")))
        r = materialize(r, eager=True, checkpoint_dir=checkpoint_dir)
    return r


def pagerank_py(edge_list, iters: int = 4, s0: int = S0_DEFAULT) -> dict:
    """Sequential reference of the identical integer recurrence."""
    und = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    bi = list(und) + [(v, u) for u, v in und]
    nodes = sorted({u for u, _ in bi} | {v for _, v in bi})
    deg = {}
    for u, _ in bi:
        deg[u] = deg.get(u, 0) + 1
    r = {x: s0 for x in nodes}
    base = (15 * s0) // 100
    for _ in range(iters):
        s = {x: 0 for x in nodes}
        for u, v in bi:
            s[v] += r[u] // deg[u]
        r = {x: base + (DAMP_NUM * s[x]) // DAMP_DEN for x in nodes}
    return r


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts -> (node, n_triangles),
    nodes in no triangle omitted."""
    und = _undirect(edges, src, dst)
    bi = und.unionByName(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
    deg = bi.groupBy("u").agg(F.count("*").alias("d"))
    # orient u -> v iff (deg_u, u) < (deg_v, v): a DAG where each
    # triangle has exactly one wedge node
    dd = (bi.join(deg, "u")
          .join(deg.select(F.col("u").alias("v"),
                           F.col("d").alias("dv")), "v"))
    # ori feeds THREE subtrees (both wedge sides + the closing-edge
    # set); materialize it once or Catalyst recomputes the
    # degree-join per consumer (measured: 82 s -> 46 s at 10 M edges).
    ori = (dd.filter((F.col("d") < F.col("dv"))
                     | ((F.col("d") == F.col("dv"))
                        & (F.col("u") < F.col("v"))))
           .select("u", "v")
           .localCheckpoint(eager=False))
    e1 = ori.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = ori.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    # closing edge between b and c in EITHER orientation
    closer = ori.select(F.least("u", "v").alias("b"),
                        F.greatest("u", "v").alias("c"))
    tri = wedges.join(closer, ["b", "c"])
    corners = (tri.select(F.col("a").alias("node"))
               .unionAll(tri.select(F.col("b").alias("node")))
               .unionAll(tri.select(F.col("c").alias("node"))))
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles"))


def triangles_py(edge_list) -> dict:
    """Brute-force reference: per-node triangle counts."""
    und = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c exactly once
                for x in (a, b, c):
                    out[x] = out.get(x, 0) + 1
    return out


def sssp_int(edges: DataFrame, sources: DataFrame, src: str = "src",
             dst: str = "dst", weight: str = "w",
             max_hops: int = 8,
             checkpoint_dir: str | None = None) -> DataFrame:
    """N3 — multi-source shortest paths with integer weights, bounded
    to paths of at most `max_hops` edges (Bellman-Ford rounds; set
    max_hops >= n-1 for true SSSP on a positive-weight graph).
    `sources` is a one-column (node) frame; -> (node, dist) for every
    node reachable within the bound, dist = min total weight from ANY
    source.  Directed; weights must be non-negative int64.

    Exact by construction — min over integer path sums is order-free —
    so the DuckDB twin (hop-bounded recursive-CTE path enumeration +
    MIN) is an exact oracle; the engine never enumerates paths, it
    relaxes frontiers.

    Scale shape: the pagerank pattern — the edge frame is static (hash-
    partitioned once by src and localCheckpointed); each round shuffles
    only the skinny (node, dist) frame through one equi-join + one
    map-side-combined MIN, and the frame is localCheckpointed per round
    to keep lineage flat.  Rounds = max_hops = O(graph diameter) for
    the convergent case.  A frontier-delta optimization (relax only
    nodes improved last round) is the documented next step for graphs
    whose diameter >> average path length; the bounded form keeps
    every round's input deterministic."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"),
                     F.col(weight).cast("long").alias("w"))
    e = materialize(e.repartition("u"), eager=True,
                    checkpoint_dir=checkpoint_dir)
    dist = sources.select(F.col(sources.columns[0]).cast("long")
                          .alias("node"),
                          F.lit(0).cast("long").alias("dist"))
    for _ in range(max_hops):
        cand = (dist.join(e, dist.node == e.u)
                .select(F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist")))
        dist = materialize(
            dist.unionByName(cand)
                .groupBy("node").agg(F.min("dist").alias("dist")),
            eager=False, checkpoint_dir=checkpoint_dir)
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


def sssp_py(edge_list, sources, max_hops: int = 8) -> dict:
    """Sequential reference: hop-bounded Bellman-Ford."""
    dist = {s: 0 for s in sources}
    for _ in range(max_hops):
        nxt = dict(dist)
        for u, v, w in edge_list:
            if u in dist and dist[u] + w < nxt.get(v, 1 << 62):
                nxt[v] = dist[u] + w
        dist = nxt
    return dist


def kcore(edges: DataFrame, k: int = 3, src: str = "src",
          dst: str = "dst", max_rounds: int = 32,
          checkpoint_dir: str | None = None) -> DataFrame:
    """k-core extraction -> (node, core_deg): the maximal subgraph in
    which every node has degree >= k, plus each surviving node's degree
    WITHIN that subgraph (r4 cont.).

    The k-core is UNIQUE and peeling-order-independent (it is the
    greatest fixpoint of "drop nodes with degree < k"), which is what
    makes an exact relational twin possible: both engines run the same
    monotone round function, and any round count >= the convergence
    round yields the identical set.  The engine iterates to an ASSERTED
    fixpoint (raises after `max_rounds`, never silently truncates);
    the DuckDB twin unrolls a fixed round budget, so a fixture that
    converged under the engine's assert is bit-identical by theorem.

    Round body: degree = one map-side-combined agg over the skinny
    (u, v) edge frame; keep = filter; edge restriction = two semi-joins
    on the endpoint.  Keep sets shrink monotonically (e_{i+1} subset of
    e_i => degrees nonincreasing), so an unchanged KEPT-NODE COUNT
    proves an unchanged set — the O(1)-driver-byte convergence test.
    Each round localCheckpoints the shrunken edge frame (the
    dedup_clusters lineage pattern).  At scale: O(rounds) shuffles of
    edge-sized skinny frames, no all-pairs anywhere; real-world graphs
    peel in few rounds (degeneracy ordering), adversarial paths in
    O(n/2) — bound it with max_rounds and pre-filter leaves if needed."""
    e = materialize(_undirect(edges, src, dst), eager=False,
                    checkpoint_dir=checkpoint_dir)
    prev = -1
    for _ in range(max_rounds):
        deg = (e.select(F.col("u").alias("n"))
               .unionAll(e.select(F.col("v").alias("n")))
               .groupBy("n").agg(F.count("*").alias("deg")))
        keep = deg.filter(F.col("deg") >= k).select("n")
        n_keep = keep.count()
        if n_keep == prev:
            return (e.select(F.col("u").alias("node"))
                    .unionAll(e.select(F.col("v").alias("node")))
                    .groupBy("node")
                    .agg(F.count("*").cast("long").alias("core_deg")))
        prev = n_keep
        e = materialize(
            e.join(keep.withColumnRenamed("n", "u"), "u", "semi")
             .join(keep.withColumnRenamed("n", "v"), "v", "semi")
             .select("u", "v"),
            eager=False, checkpoint_dir=checkpoint_dir)
    raise RuntimeError(
        f"kcore: no fixpoint within max_rounds={max_rounds}")


def kcore_py(edge_list, k: int = 3) -> dict:
    """Sequential reference: naive repeated peeling."""
    adj: dict = {}
    for u, v in edge_list:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def jaccard_links(edges: DataFrame, src: str = "src", dst: str = "dst",
                  min_common: int = 1) -> DataFrame:
    """Neighborhood-Jaccard link prediction: every node pair (a < b)
    sharing >= `min_common` neighbors, with the exact integer
    components of their Jaccard similarity ->
    (a, b, n_common, deg_a, deg_b, is_edge).

    Jaccard = n_common / (deg_a + deg_b - n_common) is a trivial
    driver-side division, so the wire format stays BIGINT-exact (the
    components convention).  `is_edge` marks pairs that are already
    edges — link-prediction consumers filter is_edge = 0.

    Scale shape: candidate pairs come from the wedge join (two copies
    of the symmetric adjacency equi-joined on the shared center), then
    ONE map-side-combined count per (a, b) and two broadcast-able
    degree probes.  The wedge join is output-bound by construction —
    a center of degree d contributes C(d, 2) candidate pairs, which IS
    the result multiset being counted, so no algorithm does less work;
    `min_common` caps what survives the count, and hub-heavy graphs
    should pre-filter centers the same way the LSH bucket guard does.
    """
    und = _undirect(edges, src, dst)
    sym = und.union(und.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    a = sym.select(F.col("u").alias("w"), F.col("v").alias("a"))
    b = sym.select(F.col("u").alias("w"), F.col("v").alias("b"))
    common = (a.join(b, "w")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count("*").cast("long").alias("n_common"))
              .filter(F.col("n_common") >= min_common))
    out = (common
           .join(deg.select(F.col("u").alias("a"),
                            F.col("deg").alias("deg_a")), "a")
           .join(deg.select(F.col("u").alias("b"),
                            F.col("deg").alias("deg_b")), "b")
           .join(und.select(F.col("u").alias("a"), F.col("v").alias("b"),
                            F.lit(1).alias("_e")), ["a", "b"], "left"))
    return out.select("a", "b", "n_common", "deg_a", "deg_b",
                      F.coalesce(F.col("_e"), F.lit(0)).cast("int")
                      .alias("is_edge"))


def clustering_coeff(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient (SURVEY.md §2.N7, r5
    post-window), the exact-rational form: for every node of the
    undirected simple graph (self-loops dropped, duplicates collapsed)

        (node, degree, n_triangles, cc_num, cc_den)

    with cc = cc_num / cc_den = 2*T(v) / (d(v)*(d(v)-1)) — the share
    of the node's neighbor pairs that are themselves connected
    (Watts-Strogatz).  The operator NEVER divides: degree-1 nodes get
    0/0, so the undefined case is explicit rather than a NaN
    convention.  Every node with degree >= 1 appears (triangle-free
    nodes report n_triangles = 0 through the LEFT join).

    Scale shape: degrees are one map-side-combined agg over the
    symmetric adjacency; triangle counts ride triangle_count's
    degree-ordered orientation (Sigma outdeg^2 <= O(m^1.5) wedge
    bound — never the naive hub-exploding join); one LEFT join
    aligns them.  Integer codegen; the only Python is plan
    construction."""
    und = _undirect(edges, src, dst)
    bi = und.unionByName(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
    deg = (bi.groupBy(F.col("u").alias("node"))
           .agg(F.count("*").cast("long").alias("degree")))
    tri = triangle_count(edges, src, dst)
    d = F.col("degree")
    return (deg.join(tri, "node", "left")
            .select(
                "node", "degree",
                F.coalesce("n_triangles", F.lit(0)).cast("long")
                .alias("n_triangles"),
                (F.lit(2) * F.coalesce("n_triangles", F.lit(0)))
                .cast("long").alias("cc_num"),
                (d * (d - F.lit(1))).cast("long").alias("cc_den")))


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 3,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Synchronous label propagation (SURVEY.md §2.N8, r5 post-window)
    — the community-detection classic, made DETERMINISTIC the pagerank
    way: over the undirected simple graph every node starts with label
    = its own id, and each of exactly `rounds` synchronous steps
    replaces every node's label with the most frequent label among its
    NEIGHBORS (pure neighbor vote, own label excluded), ties broken to
    the LOWEST label.  Fixed rounds + total tie order make the
    trajectory a pure function of the edge set — bit-identical under
    repartition or engine, which is what lets a DuckDB twin (the same
    mode/tie-break unrolled per round) be an EXACT oracle; classical
    LPA's random update order could never be twinned.  Synchronous LPA
    may 2-cycle on bipartite structure; the fixed-round contract makes
    that a documented, deterministic outcome rather than
    non-termination.  -> (node, label).

    Scale shape: the symmetric adjacency is hash-partitioned once and
    checkpointed; per round ONE equi-join fans neighbor labels, then
    TWO map-side-combined aggs — (node, label) vote counts (hot nodes
    ship per-label partials) and the min(struct(-cnt, label)) argmax
    fold (the house idiom, never a per-node window sort) — with the
    skinny (node, label) frame materialized per round to keep lineage
    flat.  Integer codegen; the only Python is plan construction."""
    und = _undirect(edges, src, dst)
    bi = und.unionByName(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
    bi = materialize(bi.repartition("u"), eager=True,
                     checkpoint_dir=checkpoint_dir)
    lab = (bi.select(F.col("u").alias("node")).distinct()
           .withColumn("label", F.col("node")))
    for _ in range(rounds):
        votes = (bi.join(lab, bi["v"] == lab["node"])
                 .select(bi["u"].alias("node"), "label"))
        cnt = (votes.groupBy("node", "label")
               .agg(F.count("*").alias("cnt")))
        lab = (cnt.groupBy("node")
               .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                                   F.col("label").alias("lab")))
                    .alias("t"))
               .select("node", F.col("t.lab").cast("long").alias("label")))
        lab = materialize(lab, eager=False,
                          checkpoint_dir=checkpoint_dir)
    return lab


def lpa_py(edge_list, rounds: int = 3) -> dict:
    """Sequential reference of the identical synchronous recurrence."""
    und = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    nbr: dict = {}
    for u, v in und:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    lab = {n: n for n in nbr}
    for _ in range(rounds):
        nxt = {}
        for n, ns in nbr.items():
            cc: dict = {}
            for m in ns:
                cc[lab[m]] = cc.get(lab[m], 0) + 1
            nxt[n] = min(cc, key=lambda L: (-cc[L], L))
        lab = nxt
    return lab


def _minlabel_unionfind(pairs) -> dict:
    """Driver-side union-find with min-reachable-id labels — the
    bounded-collect finish of connected_components (same fixpoint as
    its distributed rounds)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for x in list(parent):
        r = find(x)
        roots[r] = min(roots.get(r, r), x)
    return {x: roots[find(x)] for x in parent}


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over a pair list -> (id, cluster_id) with
    cluster_id = min reachable id; `id` keeps the input column's type.

    The symmetrized distinct edge frame is materialized once.  When it
    holds at most `_SMALL_CC_ROWS` undirected pairs, the components are
    finished on the driver: one bounded collect, a union-find
    (`_minlabel_unionfind`), and a broadcast (id, cluster_id) frame —
    no per-round job latency.  Larger graphs run distributed min-label
    propagation PLUS pointer jumping (label <- min(label,
    label-of-label), the hash-to-min move): each round is two skinny
    (id, label) shuffle joins, and the jump step doubles the
    propagation horizon, so convergence is O(log diameter) rounds
    instead of O(diameter).  Labels only decrease and every label is a
    reachable node id, so both paths reach the same fixpoint (labels
    constant across edges = component min id).  The per-round
    convergence check is a driver-side scalar count; each round is
    materialized (engine/ckpt.py: localCheckpoint, or reliable
    checkpoint under `checkpoint_dir` for executor-loss-tolerant
    clusters) so the plan does not grow with iterations."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct())
    edges = materialize(edges, eager=True, checkpoint_dir=checkpoint_dir)
    once = edges.filter(F.col("src") <= F.col("dst"))
    if once.count() <= _SMALL_CC_ROWS:
        labels = _minlabel_unionfind(once.collect())
        id_type = edges.schema["src"].dataType
        schema = StructType([StructField("id", id_type),
                             StructField("cluster_id", id_type)])
        return F.broadcast(local_df(
            edges.sparkSession, list(labels.items()), schema))
    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct()
             .withColumn("label", F.col("id")),
        eager=True, checkpoint_dir=checkpoint_dir)
    for _ in range(_CC_MAX_ROUNDS):
        nbr = (edges.join(labels, edges.dst == labels.id)
               .groupBy("src").agg(F.min("label").alias("nbr_label")))
        stepped = (labels.join(nbr, labels.id == nbr.src, "left")
                   .select(labels.id, F.col("label").alias("old_label"),
                           F.least("label", "nbr_label").alias("label")))
        # pointer jumping: follow one hop through the label table so a
        # min label crosses 2^k edges after k rounds, not k
        par = stepped.select(F.col("id").alias("pid"),
                             F.col("label").alias("plabel"))
        # the change flag rides the checkpointed frame, so convergence
        # detection is a metadata-cheap count over materialized rows, not
        # a second old-vs-new join that recomputes the round
        new_labels = (stepped.join(par, stepped.label == par.pid, "left")
                      .select(stepped.id,
                              F.least(stepped.label, par.plabel)
                              .alias("label"),
                              (F.least(stepped.label, par.plabel)
                               < F.col("old_label")).alias("chg")))
        new_labels = materialize(new_labels, eager=True,
                                 checkpoint_dir=checkpoint_dir)
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            return labels.select("id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components: no convergence in {_CC_MAX_ROUNDS} rounds")


def msf_boruvka(edges: DataFrame, src: str = "u", dst: str = "v",
                w: str = "w", max_rounds: int = 24,
                checkpoint_dir: str | None = None) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka -> the MSF edge
    relation (u, v, w) with u < v.

    Weights need not be unique: edges are totally ordered by
    (w, u, v), and every component selects its minimum outgoing edge
    under that order each round — a consistent total order makes the
    per-round selection cycle-free and the forest DETERMINISTIC (the
    classic Borůvka argument: the heaviest edge of any would-be cycle
    of chosen edges would not have been the minimum for either of its
    endpoint components).  That determinism is what lets a sequential
    Kruskal under the same order (`msf_py`) be an exact oracle.

    Scale shape: each round is (a) two partitioned hash joins tagging
    edge endpoints with component labels, (b) ONE map-side-combined
    min(struct(w, u, v, other)) agg per component — the only wide
    shuffle over the edge frame, (c) connected_components over the
    CHOSEN edge pairs only (at most one pair per surviving component,
    so it usually takes the bounded-collect union-find finish), and (d)
    a relabel join.  Active components at least halve per round, so
    rounds <= ceil(log2 V).  The edge frame `e` is materialized once
    and rescanned every round — it does not shrink; the label joins
    drop the intra-component edges on the fly.  Round state is
    materialized via engine/ckpt.py (localCheckpoint, or reliable
    checkpoint under `checkpoint_dir`).  The round after the last merge
    chooses nothing; that probe runs even after `max_rounds` merging
    rounds, so a forest completed in exactly `max_rounds` is returned.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
                      F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
                      F.col(w).cast("long").alias("w"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    e = materialize(e, eager=True, checkpoint_dir=checkpoint_dir)
    comp = materialize(
        e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
         .withColumn("comp", F.col("node")),
        eager=True, checkpoint_dir=checkpoint_dir)
    msf = None
    for rnd in range(max_rounds + 1):
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        live = (e.join(cu, "u").join(cv, "v")
                .filter(F.col("cu") != F.col("cv")))
        pick = F.struct(F.col("w"), F.col("u"), F.col("v"))
        cand = (live.select(F.col("cu").alias("c"), pick.alias("p"))
                .union(live.select(F.col("cv").alias("c"), pick.alias("p"))))
        chosen = (cand.groupBy("c").agg(F.min("p").alias("p"))
                  .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"),
                          F.col("p.w").alias("w"))
                  .distinct())
        chosen = materialize(chosen, eager=True,
                             checkpoint_dir=checkpoint_dir)
        if chosen.isEmpty():
            break
        if rnd == max_rounds:
            raise RuntimeError(
                f"msf_boruvka: no convergence in {max_rounds} rounds")
        msf = chosen if msf is None else msf.union(chosen)
        msf = materialize(msf, eager=True, checkpoint_dir=checkpoint_dir)
        # contract: components over the chosen pairs, then relabel
        merge_pairs = (chosen.join(cu, "u").join(cv, "v")
                       .select(F.col("cu").alias("id_a"),
                               F.col("cv").alias("id_b")))
        cc = connected_components(merge_pairs, checkpoint_dir=checkpoint_dir)
        comp = materialize(
            comp.join(cc.select(F.col("id").alias("comp"),
                                F.col("cluster_id")), "comp", "left")
                .select("node",
                        F.coalesce("cluster_id", "comp").alias("comp")),
            eager=True, checkpoint_dir=checkpoint_dir)
    if msf is None:
        return e.select("u", "v", "w").limit(0)
    return msf


def msf_py(edge_list) -> list:
    """Sequential Kruskal under the SAME (w, u, v) total order — an
    algorithmically independent oracle for msf_boruvka (sort +
    union-find vs per-component argmin + contraction)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    seen = set()
    norm = set()
    for a, b, ww in edge_list:
        u2, v2 = (a, b) if a < b else (b, a)
        if u2 != v2:
            norm.add((ww, u2, v2))
    for ww, u2, v2 in sorted(norm):
        ru, rv = find(u2), find(v2)
        if ru != rv:
            parent[ru] = rv
            out.append((u2, v2, ww))
            seen.add((u2, v2))
    return sorted(out)


def toposort_layers(edges: DataFrame, src: str = "u", dst: str = "v",
                    max_depth: int = 32,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """N8 (r5 cont.) — topological layering of a DAG -> (node, level)
    with level = the LONGEST path length (in edges) from any source —
    Kahn's algorithm's strip-rounds, computed by max-plus relaxation
    (the sssp_int skeleton with max instead of min): level(v) =
    max(0, max over incoming (level(u) + 1)).  Level is the
    scheduling primitive: nodes of one level have no dependencies
    among themselves and can run concurrently; the level count is the
    critical-path length.

    CYCLE DETECTION is part of the contract: on a cyclic input the
    relaxation never reaches a fixpoint (levels grow without bound),
    so non-convergence within `max_depth` rounds raises — callers
    pass max_depth >= the graph's true depth + 1 (the fixpoint round
    is the proof of acyclicity within the bound).

    Scale shape: static edge frame hash-partitioned once by dst;
    each round shuffles only the skinny (node, level) frame through
    one equi-join + one map-side-combined MAX, materialized per round
    (localCheckpoint, or reliable under `checkpoint_dir`)."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    e = materialize(e.repartition("v"), eager=True,
                    checkpoint_dir=checkpoint_dir)
    lvl = (e.select(F.col("u").alias("node"))
           .union(e.select("v")).distinct()
           .withColumn("level", F.lit(0).cast("long")))
    lvl = materialize(lvl, eager=True, checkpoint_dir=checkpoint_dir)
    for _ in range(max_depth):
        cand = (lvl.join(e, lvl.node == e.u)
                .select(F.col("v").alias("node"),
                        (F.col("level") + 1).alias("level")))
        new = materialize(
            lvl.unionByName(cand)
               .groupBy("node").agg(F.max("level").alias("level")),
            eager=True, checkpoint_dir=checkpoint_dir)
        changed = (new.alias("n")
                   .join(lvl.alias("o"), "node")
                   .filter("n.level != o.level").limit(1).count())
        lvl = new
        if changed == 0:
            return lvl.select("node", "level")
    raise RuntimeError(
        f"toposort_layers: no fixpoint in {max_depth} rounds — "
        "the graph has a cycle or is deeper than max_depth")


def toposort_py(edge_list, max_depth: int = 32) -> dict:
    """Sequential reference: iterate level(v) = max(level(u)+1) to the
    fixpoint; raises on cycles like the engine."""
    nodes = {u for u, _ in edge_list} | {v for _, v in edge_list}
    lvl = {n: 0 for n in nodes}
    for _ in range(max_depth):
        nxt = dict(lvl)
        for u, v in edge_list:
            nxt[v] = max(nxt[v], lvl[u] + 1)
        if nxt == lvl:
            return lvl
        lvl = nxt
    raise RuntimeError("toposort_py: cycle or depth > max_depth")
