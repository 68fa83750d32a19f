"""D10 — kNN join via cell-ring expansion + per-group top-k (SURVEY.md §2.D10).

BASELINE.json:6,14 — "kNN is answered by cell-ring expansion plus a
per-partition sort".  Shape:

  1. queries get a per-query disk of cells (radius r), exploded natively
     to (qid, cell_p) candidate cells (``cells.explode_disk``);
  2. equi-join against the point table's cell prefix (the only shuffle
     that touches the big side);
  3. exact haversine + Window(partitionBy qid, orderBy dist,id) row_number
     <= k — the "per-partition sort";
  4. correctness guarantee: the k-th distance must be strictly less than
     the provably-safe radius of the covered block (min spherical distance
     from the query to the block boundary: meridian cross-track for the
     east/west edges, meridian arc for the parallel edges).  Queries that
     fail the guarantee are retried with doubled r — a driver loop that
     collects only the failing qids, never data.

At 10^12 points the expansion loop re-scans only for the (rare) failing
queries, and the point side can be pre-partitioned/bucketed by cell_p so
the candidate join co-locates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from engine.ckpt import materialize

from oracle.geo import EARTH_RADIUS_M

from .cells import cell_parent_col, demorton_np, explode_disk, with_cell
from .dist import haversine_expr, haversine_udf
from .layer import inv_mercy


def block_guarantee_np(la: np.ndarray, lo: np.ndarray, x: np.ndarray,
                       y: np.ndarray, rr: np.ndarray, level: int) -> np.ndarray:
    """Safe radius in metres of the cell block [x-r, x+r] x [y-r, y+r]
    at `level` around each (lat, lon) query (inf if unbounded): any
    point OUTSIDE the block is at spherical distance >= the returned
    value.  Parallel (latitude) edges: exact meridian arc; meridian
    (longitude) edges: cross-track distance."""
    n = 1 << level

    y_top = y - rr          # grid row of the top edge (smaller y = north)
    y_bot = y + rr + 1      # edge below the bottom row
    top_bounded = y_top > 0
    bot_bounded = y_bot < n
    lat_top = np.array([inv_mercy(v / n) if b else 90.0
                        for v, b in zip(y_top, top_bounded)])
    lat_bot = np.array([inv_mercy(v / n) if b else -90.0
                        for v, b in zip(y_bot, bot_bounded)])
    # points north of the mercator clamp all encode into row 0, so a
    # block touching row 0 is unbounded north (same south).
    d_top = np.where(top_bounded,
                     EARTH_RADIUS_M * np.radians(np.abs(lat_top - la)), np.inf)
    d_bot = np.where(bot_bounded,
                     EARTH_RADIUS_M * np.radians(np.abs(la - lat_bot)), np.inf)

    # meridian (longitude) edges: cross-track distance
    wrap_all = (2 * rr + 1) >= n
    lon_w = ((x - rr) % n) / n * 360.0 - 180.0
    lon_e = ((x + rr + 1) % n) / n * 360.0 - 180.0

    def meridian_dist(dlam_deg):
        d = np.abs((dlam_deg + 180.0) % 360.0 - 180.0)  # [0, 180]
        d = np.minimum(d, 90.0)  # beyond 90 deg the meridian is farther
        return EARTH_RADIUS_M * np.arcsin(
            np.abs(np.cos(np.radians(la))) * np.sin(np.radians(d))
        )

    d_w = np.where(wrap_all, np.inf, meridian_dist(lo - lon_w))
    d_e = np.where(wrap_all, np.inf, meridian_dist(lon_e - lo))

    return np.minimum.reduce([d_top, d_bot, d_w, d_e])


def make_guarantee_udf(level: int):
    """(lat, lon, cell_p, r) -> safe radius in metres (inf if unbounded).

    Block = cells [x-r, x+r] x [y-r, y+r] at `level` (x wrapped, y
    clamped).  Any point outside the block is at distance >= the returned
    value, so kth_dist < guarantee proves the top-k is exact.
    """

    @F.pandas_udf(DoubleType())
    def guarantee(lat: pd.Series, lon: pd.Series, cell: pd.Series,
                  r: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        c = cell.to_numpy(np.int64)
        rr = r.to_numpy(np.int64)
        x, y = demorton_np(c)
        return pd.Series(block_guarantee_np(la, lo, x, y, rr, level))

    return guarantee


def safe_ring_radius_np(la: np.ndarray, lo: np.ndarray, x: np.ndarray,
                        y: np.ndarray, radius_m: np.ndarray, level: int,
                        r0: int = 1) -> np.ndarray:
    """Minimal ring radius r (per query) whose cell block provably
    contains EVERY point within `radius_m` metres: grow r until
    block_guarantee > radius_m or the block is unbounded in all
    directions (guarantee inf).  Pure function of the query — no data
    scan, no retry loop; terminates because r doubling reaches the
    whole-grid wrap (guarantee inf) in <= level+2 steps."""
    r = np.full(la.shape, r0, dtype=np.int64)
    for _ in range(level + 3):
        guar = block_guarantee_np(la, lo, x, y, r, level)
        need = ~(guar > radius_m)  # inf > R is True -> satisfied
        if not need.any():
            break
        r = np.where(need, r * 2 + 1, r)
    else:
        raise RuntimeError("safe_ring_radius_np: failed to converge")
    return r


def make_safe_r_udf(level: int, r0: int = 1):
    """(lat, lon, cell_p, radius_m) -> minimal safe ring radius."""

    @F.pandas_udf(LongType())
    def safe_r(lat: pd.Series, lon: pd.Series, cell: pd.Series,
               radius_m: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        c = cell.to_numpy(np.int64)
        rm = radius_m.to_numpy(np.float64)
        x, y = demorton_np(c)
        return pd.Series(safe_ring_radius_np(la, lo, x, y, rm, level, r0))

    return safe_r


def knn_join(queries: DataFrame, points: DataFrame, k: int, level: int,
             r0: int = 1, max_rounds: int = 12,
             qid_col: str = "qid", id_col: str = "image_id",
             cache_points: bool = False,
             checkpoint_dir: str | None = None) -> DataFrame:
    """Exact kNN: for each query row, the k nearest points (dist asc, id
    tiebreak).  Returns (qid, image_id, dist_m, rn).

    `queries` needs (qid, lat, lon); `points` needs (id, lat, lon) and
    reuses a `cell` column if present.  Build driver-side queries with
    `engine.localdf.local_df`: a LocalRelation has a size the planner
    reads, so each round broadcasts the exploded query side against the
    point table.  A `createDataFrame` of Python rows has none, and above
    `autoBroadcastJoinThreshold` every round shuffles the point table.

    Candidates are scored with the JVM-trig haversine (codegen).
    `cache_points=True` persists the narrow prepared points side so
    retry rounds don't rescan the base table — the right call when the
    points table fits cluster memory (benchmarks, dimension-sized
    sides).  The DEFAULT is False (r4, scale-safe per the r3 audit):
    at 10^12 rows a blanket persist would evict everything else and
    spill; rounds after the first are rare (r0 sizes the first disk to
    satisfy ~all queries) and rescans prune to (id, lat, lon, cell_p)
    at the parquet scan anyway — pre-bucket/partition the points table
    by cell_p to make retry rescans partition-pruned instead of cached.
    """
    pts = points if "cell" in points.columns else with_cell(points)
    pts = (
        pts.withColumn("cell_p", cell_parent_col("cell", level))
        .select(F.col(id_col), F.col("lat").alias("p_lat"),
                F.col("lon").alias("p_lon"), "cell_p")
    )
    if cache_points:
        pts = pts.persist()
    q = queries if "cell" in queries.columns else with_cell(queries)
    q = q.select(qid_col, "lat", "lon",
                 cell_parent_col("cell", level).alias("q_cell"))

    guar_udf = make_guarantee_udf(level)
    w = Window.partitionBy(qid_col).orderBy(F.asc("dist_m"), F.asc(id_col))

    pending = q.withColumn("r", F.lit(r0))
    done_parts: list[DataFrame] = []

    for _ in range(max_rounds):
        scored = (
            explode_disk(pending, level, "r", "q_cell", "cell_p")
            .join(pts, "cell_p", "inner")
            .withColumn("dist_m", haversine_expr(
                F.col("lon"), F.col("lat"), F.col("p_lon"), F.col("p_lat")))
        )
        topk = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
        )
        # one execution of the big candidates join per round: topk is at
        # most |pending| x k rows, so materializing it locally is cheap
        # and the stats / verdict / output reads below all reuse it
        # NOTE: the default localCheckpoint pins the materialized round
        # to EXECUTOR storage — on a real cluster an executor loss after
        # truncation cannot recompute (lineage is gone) and the job
        # fails; acceptable for a bounded retry loop (rounds are cheap
        # to re-run).  Pass checkpoint_dir to switch every round to a
        # reliable DFS checkpoint when the cluster churns executors.
        topk = materialize(topk, eager=True, checkpoint_dir=checkpoint_dir)
        stats = topk.groupBy(qid_col).agg(
            F.count("*").alias("cnt"),
            F.max("dist_m").alias("kth"),
        )
        # guarantee computed on the pending side so queries with ZERO
        # candidates still get a verdict (left join -> cnt null -> retry
        # unless the block already covers every existing point).
        pstats = pending.withColumn(
            "guar", guar_udf(F.col("lat"), F.col("lon"),
                             F.col("q_cell"), F.col("r"))
        ).select(qid_col, "guar")
        merged = pstats.join(stats, qid_col, "left")
        # satisfied: k candidates found and k-th strictly inside the safe
        # radius, OR the block is unbounded in every direction (covers all
        # points that exist).
        satisfied = (
            (F.col("cnt").isNotNull() & (F.col("cnt") >= k)
             & (F.col("kth") < F.col("guar")))
            | (F.col("guar") == F.lit(float("inf")))
        )
        # Retry routing as JOINS, not a collected literal (r3): at
        # millions of queries an `isin(failed_ids)` filter would embed an
        # unbounded literal list in the plan and ship the ids through the
        # driver.  `failed` is at most |pending| skinny rows; it is
        # materialized once (localCheckpoint) because three consumers
        # read it, and the only driver-side scalar is its count.
        failed = materialize(merged.filter(~satisfied).select(qid_col),
                             eager=True, checkpoint_dir=checkpoint_dir)
        n_failed = failed.count()
        ok = topk.select(qid_col, id_col, "dist_m", "rn")
        if n_failed:
            ok = ok.join(failed, qid_col, "left_anti")
        done_parts.append(ok)
        if not n_failed:
            pending = None
            break
        pending = pending.join(failed.hint("broadcast"), qid_col, "left_semi") \
                         .withColumn("r", F.col("r") * 2 + 1)
    else:
        raise RuntimeError(f"knn_join: queries unsatisfied after {max_rounds} rounds")

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    if cache_points:
        pts.unpersist()  # per-round results are already checkpointed
    return out


def dwithin_join(queries: DataFrame, points: DataFrame, level: int,
                 radius_m: float | None = None,
                 qid_col: str = "qid", id_col: str = "image_id",
                 radius_col: str = "radius_m") -> DataFrame:
    """D13 — radius (distance-within) join: for each query row, EVERY
    point within its radius (metres, great-circle).  Returns
    (qid, image_id, dist_m).

    `queries` needs (qid, lat, lon) plus a per-query `radius_col`
    (or pass a uniform `radius_m`).  Exactness without any retry loop:
    the kNN block-guarantee function is INVERTED — each query computes,
    as a pure function of its own coordinates (no data scan), the
    minimal cell-ring radius whose block provably contains every point
    within R (block_guarantee > R).  Then one disk-cell explode + one
    cell-prefix equi-join (the only shuffle that touches the big side)
    + an exact native haversine filter.

    Scale shape: identical to the kNN candidate join — pre-bucket the
    point table by cell_p to co-locate; per-query fan-out is the disk
    size (2r+1)^2, minimal by construction (high-latitude queries
    expand more because mercator cells shrink east-west).  No window,
    no per-query state beyond the exploded candidate rows.
    """
    pts = points if "cell" in points.columns else with_cell(points)
    pts = (
        pts.withColumn("cell_p", cell_parent_col("cell", level))
        .select(F.col(id_col), F.col("lat").alias("p_lat"),
                F.col("lon").alias("p_lon"), "cell_p")
    )
    q = queries if "cell" in queries.columns else with_cell(queries)
    if radius_m is not None:
        q = q.withColumn(radius_col, F.lit(float(radius_m)))
    q = q.select(qid_col, "lat", "lon", F.col(radius_col).alias("_rad"),
                 cell_parent_col("cell", level).alias("q_cell"))

    safe_r = make_safe_r_udf(level)
    q = q.withColumn("r", safe_r(F.col("lat"), F.col("lon"),
                                 F.col("q_cell"), F.col("_rad")))
    return (explode_disk(q, level, "r", "q_cell", "cell_p")
            .join(pts, "cell_p", "inner")
            .withColumn("dist_m", haversine_expr(
                F.col("lon"), F.col("lat"), F.col("p_lon"), F.col("p_lat")))
            .filter(F.col("dist_m") <= F.col("_rad"))
            .select(qid_col, id_col, "dist_m"))


def dwithin_bruteforce_df(queries: DataFrame, points: DataFrame,
                          qid_col: str = "qid", id_col: str = "image_id",
                          radius_col: str = "radius_m") -> DataFrame:
    """O(Q x P) cross-join baseline — test oracle for dwithin_join."""
    pts = points.select(F.col(id_col), F.col("lat").alias("p_lat"),
                        F.col("lon").alias("p_lon"))
    return (
        queries.select(qid_col, "lat", "lon", radius_col)
        .crossJoin(F.broadcast(pts))
        .withColumn("dist_m", haversine_udf(F.col("lon"), F.col("lat"),
                                            F.col("p_lon"), F.col("p_lat")))
        .filter(F.col("dist_m") <= F.col(radius_col))
        .select(qid_col, id_col, "dist_m")
    )


def knn_bruteforce_df(queries: DataFrame, points: DataFrame, k: int,
                      qid_col: str = "qid", id_col: str = "image_id") -> DataFrame:
    """O(Q x P) cross-join baseline — test oracle + small-input fallback."""
    pts = points.select(F.col(id_col), F.col("lat").alias("p_lat"),
                        F.col("lon").alias("p_lon"))
    w = Window.partitionBy(qid_col).orderBy(F.asc("dist_m"), F.asc(id_col))
    return (
        queries.select(qid_col, "lat", "lon")
        .crossJoin(F.broadcast(pts))
        .withColumn("dist_m", haversine_udf(F.col("lon"), F.col("lat"),
                                            F.col("p_lon"), F.col("p_lat")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "dist_m", "rn")
    )
