"""Grid-density clustering (D21, r4 cont.) — the distributed form of
DBSCAN that actually scales: GriT/GridDBSCAN-style CELL-level density
clustering.  Points are quantized to a 2^g x 2^g Web-Mercator grid (the
same integer quantization every index in engine/geo uses); a cell is
CORE iff it holds >= min_pts points; 8-adjacent core cells merge into
clusters via connected components.

Why cell-level and not point-level DBSCAN: point-level epsilon-graphs
need an all-pairs-within-eps join (quadratic in dense areas) and their
cluster shape depends on float distance ties.  The grid form is the
standard scale-out surrogate (grid side ~ eps): candidate generation is
a hash agg, adjacency is a FIXED 8-neighbor equi-join on integer keys,
and the result is exactly reproducible — every step stays in the
integer domain, so the DuckDB twin (recursive CTE over the same core
cells + adjacency) is an exact oracle, the same strategy that verified
`dedup_clusters` (its min-label CC engine is reused verbatim).

Scale shape: ONE full-table map-side-combined hash agg (the quantize +
count), then everything downstream touches only aggregated cells
(<= 4^g rows): an explode-9 equi-join for adjacency and O(diameter)
skinny (id,label) rounds inside engine/graph.py::connected_components
(or one bounded collect when the adjacency fits the driver).  No range join,
no crossJoin, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle.geo import LEVEL

from .cells import merc_xy_sql
from engine.graph import connected_components


def grid_cells(df: DataFrame, grid_bits: int = 5, lat: str = "lat",
               lon: str = "lon") -> DataFrame:
    """Per-cell point counts on the 2^g grid: (gx, gy, n) — the one
    full-table exchange of the whole operator."""
    xi, yi = merc_xy_sql(lon, lat)
    s = LEVEL - grid_bits
    return (df.select(F.expr(f"({xi}) >> {s}").alias("gx"),
                      F.expr(f"({yi}) >> {s}").alias("gy"))
            .groupBy("gx", "gy").agg(F.count("*").alias("n")))


def grid_density_clusters(df: DataFrame, grid_bits: int = 5,
                          min_pts: int = 3, lat: str = "lat",
                          lon: str = "lon") -> DataFrame:
    """Cell-level density clustering.  Output one row per CORE cell:
    (gx, gy, n, cluster_id) with cluster_id = min packed key
    (gx << g | gy) over the cell's 8-connected core component —
    deterministic, partition-count independent.
    """
    g = grid_bits
    core = (grid_cells(df, g, lat, lon)
            .filter(F.col("n") >= min_pts)
            .withColumn("key", F.expr(f"(gx << {g}) | gy"))
            .localCheckpoint(eager=False))
    # adjacency: each core cell claims its 8 neighbors (explode of fixed
    # offsets -> EQUI-join on the packed key; never a range join)
    offs = F.array(*[
        F.struct(F.lit(dx).cast("long").alias("dx"),
                 F.lit(dy).cast("long").alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)])
    # range guard: without it, gy = 2^g - 1 with dy = +1 carries into
    # the gx bits and fabricates an adjacency to cell (gx+1, 0) — the
    # grid does NOT wrap (neither does the recursive-CTE twin's
    # abs-diff adjacency)
    nbr = (core.select("key", "gx", "gy", F.explode(offs).alias("o"))
           .filter((F.col("gx") + F.col("o.dx")).between(0, (1 << g) - 1)
                   & (F.col("gy") + F.col("o.dy")).between(0, (1 << g) - 1))
           .select(F.col("key").alias("src"),
                   F.expr(f"((gx + o.dx) << {g}) | (gy + o.dy)").alias("dst")))
    other = core.select(F.col("key").alias("dst"))
    pairs = (nbr.join(other, "dst")
             .filter(F.col("src") < F.col("dst"))
             .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")))
    labels = connected_components(pairs)
    return (core.join(labels, core.key == labels.id, "left")
            .select("gx", "gy", "n",
                    F.coalesce("cluster_id", "key").alias("cluster_id")))


def cluster_density_sql(pts_with_xy: str, grid_bits: int = 5,
                        min_pts: int = 3) -> str:
    """DuckDB twin: same grid, same core rule, recursive-CTE components
    (the exact oracle for the distributed min-label propagation).
    `pts_with_xy` must expose columns (xi, yi)."""
    g, s = grid_bits, LEVEL - grid_bits
    return (
        f"grid AS (SELECT xi >> {s} AS gx, yi >> {s} AS gy, "
        f"COUNT(*) AS n FROM {pts_with_xy} GROUP BY 1, 2), "
        f"core AS (SELECT gx, gy, n, (gx << {g}) | gy AS key FROM grid "
        f"WHERE n >= {min_pts}), "
        "e AS (SELECT a.key AS src, b.key AS dst FROM core a JOIN core b "
        "ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1 "
        "AND a.key <> b.key), "
        "r(key, lbl) AS (SELECT key, key FROM core "
        "UNION SELECT e.src, r.lbl FROM e JOIN r ON e.dst = r.key) "
        "SELECT c.gx, c.gy, c.n, MIN(r.lbl) AS cluster_id "
        "FROM core c JOIN r ON r.key = c.key GROUP BY 1, 2, 3"
    )


def assign_cluster_points(df: DataFrame, grid_bits: int = 5,
                          min_pts: int = 3, id_col: str = "id",
                          lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Point-level DBSCAN labels (D21b) — the classic core/border/noise
    trichotomy on top of the cell-level clusters: a point in a CORE cell
    is a core member of that cell's cluster; a point whose cell is not
    core but is 8-adjacent to one is a BORDER member of the min adjacent
    cluster (the deterministic stand-in for DBSCAN's arbitrary border
    tie-break — plain DBSCAN's border assignment is famously order-
    dependent, this one is reproducible); everything else is NOISE
    (NULL cluster).

    Scale shape: the cluster map is cell-level (bounded by the grid,
    <= 4^g rows).  Each core cell explodes its 9-neighborhood once into
    a REACH map (key -> own-cluster / min adjacent cluster), and the
    full point table is touched by exactly ONE broadcast-joinable
    equi-join on the packed cell key — no shuffle of the big side at
    all beyond the count agg inside grid_density_clusters.
    """
    g, s = grid_bits, LEVEL - grid_bits
    cells = grid_density_clusters(df, g, min_pts, lat, lon)
    offs9 = F.array(*[
        F.struct(F.lit(dx).cast("long").alias("dx"),
                 F.lit(dy).cast("long").alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    reach = (cells.select("gx", "gy", "cluster_id",
                          F.explode(offs9).alias("o"))
             .filter((F.col("gx") + F.col("o.dx")).between(0, (1 << g) - 1)
                     & (F.col("gy") + F.col("o.dy"))
                     .between(0, (1 << g) - 1))
             .select(F.expr(f"((gx + o.dx) << {g}) | (gy + o.dy)")
                     .alias("key"),
                     F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0),
                            F.col("cluster_id")).alias("own_c"),
                     F.col("cluster_id").alias("adj_c"))
             .groupBy("key").agg(F.min("own_c").alias("own_c"),
                                 F.min("adj_c").alias("adj_c")))
    xi, yi = merc_xy_sql(lon, lat)
    pts = df.select(F.col(id_col).alias("id"),
                    F.expr(f"((({xi}) >> {s}) << {g}) | (({yi}) >> {s})")
                    .alias("key"))
    return (pts.join(F.broadcast(reach), "key", "left")
            .select("id",
                    F.coalesce("own_c", "adj_c").alias("cluster_id"),
                    F.when(F.col("own_c").isNotNull(), F.lit("core"))
                    .when(F.col("adj_c").isNotNull(), F.lit("border"))
                    .otherwise(F.lit("noise")).alias("role")))


def cluster_points_sql(pts_with_xy: str, grid_bits: int = 5,
                       min_pts: int = 3) -> str:
    """DuckDB twin of assign_cluster_points: the cluster_density_sql
    CTE chain extended with the same 9-neighborhood reach map and one
    point-side left join.  `pts_with_xy` must expose (id, xi, yi)."""
    g, s = grid_bits, LEVEL - grid_bits
    hi = (1 << g) - 1
    return (
        cluster_density_sql(pts_with_xy, grid_bits, min_pts).rsplit(
            "SELECT c.gx", 1)[0]
        + ", cc AS (SELECT c.gx, c.gy, MIN(r.lbl) AS cluster_id "
        "FROM core c JOIN r ON r.key = c.key GROUP BY 1, 2), "
        "reach AS (SELECT ((cc.gx + dx.x) << "
        f"{g}) | (cc.gy + dy.y) AS key, "
        "MIN(CASE WHEN dx.x = 0 AND dy.y = 0 THEN cluster_id END) AS own_c, "
        "MIN(cluster_id) AS adj_c "
        "FROM cc CROSS JOIN generate_series(-1, 1) dx(x) "
        "CROSS JOIN generate_series(-1, 1) dy(y) "
        f"WHERE cc.gx + dx.x BETWEEN 0 AND {hi} "
        f"AND cc.gy + dy.y BETWEEN 0 AND {hi} GROUP BY 1), "
        f"p AS (SELECT id, ((xi >> {s}) << {g}) | (yi >> {s}) AS key "
        f"FROM {pts_with_xy}) "
        "SELECT p.id, COALESCE(own_c, adj_c) AS cluster_id, "
        "CASE WHEN own_c IS NOT NULL THEN 'core' "
        "WHEN adj_c IS NOT NULL THEN 'border' ELSE 'noise' END AS role "
        "FROM p LEFT JOIN reach ON p.key = reach.key"
    )
