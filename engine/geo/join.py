"""D1/D2/D7 — the spatial containment join (SURVEY.md §2.D).

BASELINE.json:6,14 — geotagged rows are "joined to polygon layers with a
broadcast-or-partitioned hash join on cell prefix followed by an exact
Shapely/GEOS PIP refinement".

Plan shape (scale rationale, SURVEY.md §4):
  probe:  images -> native `shiftright` cell prefix (no UDF, codegen)
  build:  polygon covering as (cell_p, poly_id, full, edges) rows, a
          driver-side LocalRelation (no Python worker when it runs)
  join:   BROADCAST when the covering is small (almost always — it is
          bounded by the planner's cell budget), else SHUFFLE_HASH with
          both sides repartitioned on cell_p; explicit hot-cell salting
          is layered on by engine/geo/skew.py.
  refine: exact PIP as a native even-odd expression over each partial
          cell's edges (engine/geo/pip.py::refine_native, the default);
          `refine_mode="pandas"` runs the numpy reference instead.
          `full` covering cells bypass it.

The bytes column (image payload) must be pruned *before* this join —
callers select narrow columns; tests/test_plans.py asserts the scan's
ReadSchema excludes `bytes` for count-style pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import cell_parent_col, with_cell
from .layer import PolygonLayer
from .pip import refine, refine_native
from .skew import salted_equijoin

BROADCAST_MAX_BUILD_ROWS = 2_000_000  # ~2M (cell_p, poly_id) rows ≈ 50 MB


def candidates_join(
    probe: DataFrame,
    build: DataFrame,
    key: str | list[str] = "cell_p",
    mode: str = "auto",
    hot_keys: list[int] | None = None,
    salt: int = 8,
    probe_salt_col: str = "image_id",
    build_rows: int | None = None,
) -> DataFrame:
    """Coarse equi-join on the cell prefix (or a composite key such as
    (blevel, cell_p) for the compacted multi-level build); broadcast /
    shuffle / salted."""
    keys = [key] if isinstance(key, str) else list(key)
    if mode == "auto":
        n = build_rows if build_rows is not None else build.count()
        mode = "broadcast" if n <= BROADCAST_MAX_BUILD_ROWS else "shuffle"
    if hot_keys:
        # salted path (D4): only meaningful for the shuffle join — under a
        # broadcast there is no shuffle to skew, but we keep it exercisable.
        assert len(keys) == 1, "salted path joins on the single cell key"
        return salted_equijoin(probe, build, key=keys[0], hot_keys=hot_keys,
                               salt=salt, probe_id_col=probe_salt_col,
                               broadcast_build=(mode == "broadcast"))
    if mode == "broadcast":
        return probe.join(F.broadcast(build), keys, "inner")
    return (
        probe.repartition(*[F.col(k) for k in keys])
        .join(build.hint("SHUFFLE_HASH"), keys, "inner")
    )


def spatial_join(
    images: DataFrame,
    layer: PolygonLayer,
    level: int,
    mode: str = "auto",
    hot_keys: list[int] | None = None,
    salt: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
    probe_salt_col: str = "image_id",
    refine_mode: str = "native",
    compact_min_level: int | None = None,
) -> DataFrame:
    """images x layer containment join -> image rows + poly_id.

    `compact_min_level`: when set, the build side is the COMPACTED
    covering (PolygonLayer.build_df_compact — full interior quads merge
    down to this level, boundary cells stay at `level`), and the probe
    explodes its ancestor cell at each level present in the build (a
    native shiftright array, fan-out <= level - compact_min_level + 1).
    The join becomes an equi-join on (blevel, cell_p).  Same exact
    output as the uncompacted join: compacted cells of one polygon are
    disjoint, so a point still matches each polygon at most once before
    refinement.  Use for fine join levels where the O(4^z) uncompacted
    covering would blow the broadcast budget — the compacted build is
    O(perimeter), e.g. 12x smaller at level 12 on the test layer.
    Incompatible with hot_keys salting (the salted path targets the
    single-level hot-cell shuffle).

    `images` needs lat/lon; a `cell` column is reused if present, else
    encoded (native codegen expression).

    `refine_mode`: "native" (default since r2) expresses the exact PIP
    as an even-odd higher-order-function column over per-cell edge
    arrays — ZERO Python stages; "pandas" ships candidates through one
    Arrow batch to a vectorized numpy ray cast.  Both produce
    bit-identical verdicts (same IEEE arithmetic; asserted by
    tests/test_pip_native.py).  The default is measured, and
    scale-dependent: an early 64M-row local[8] run had the HOF form ~2x
    slower (HOFs are interpreted and disable codegen for their fused
    stage), but at 512M rows on the r2 protocol the native form is
    2.2-2.5x FASTER at both local[2] and local[8] (6.9M / 23.8M rows/s
    vs 3.1M / 9.4M) — eliminating the per-slot Python worker removes
    the second hardware thread each task occupies, which dominates once
    the scan is long enough to amortize compile cost.  It also scales
    at 0.867 N->4N (>= 0.8 target) where the pandas form is host-bound
    at ~0.75 (BASELINE.md).  Re-measure before changing this default.
    """
    df = images if "cell" in images.columns else with_cell(images, lat_col, lon_col)
    if compact_min_level is not None:
        assert hot_keys is None, "compact join does not compose with salting"
        build, levels = layer.build_df_compact(
            df.sparkSession, level, compact_min_level,
            with_edges=(refine_mode == "native"))
        anc = F.explode(F.array(*[
            F.struct(F.lit(lv).cast("int").alias("blevel"),
                     cell_parent_col("cell", lv).alias("cell_p"))
            for lv in levels]))
        probe = df.withColumn("_anc", anc).select(
            *df.columns, F.col("_anc.blevel").alias("blevel"),
            F.col("_anc.cell_p").alias("cell_p"))
        cands = candidates_join(
            probe, build, key=["blevel", "cell_p"], mode=mode,
            build_rows=build.count(),
        ).drop("blevel")
    else:
        probe = df.withColumn("cell_p", cell_parent_col("cell", level))
        build = layer.build_df(df.sparkSession, level,
                               with_edges=(refine_mode == "native"))
        build_rows = build.count()  # driver-built covering: count is free-ish
        cands = candidates_join(
            probe, build, mode=mode, hot_keys=hot_keys, salt=salt,
            probe_salt_col=probe_salt_col, build_rows=build_rows,
        )
    if refine_mode == "native":
        return refine_native(cands, lon_col=lon_col, lat_col=lat_col)
    return refine(cands, layer.parts(), lon_col=lon_col, lat_col=lat_col)


def covering_overlap_join(
    layer_a: PolygonLayer,
    layer_b: PolygonLayer | None,
    spark,
    level: int,
    mode: str = "broadcast",
) -> DataFrame:
    """D11 — layer x layer overlap-candidate join (OSM-conflation shape:
    which polygons of two layers — admin vs landuse, old vs new extract —
    potentially intersect).

    Candidates = polygon pairs whose level-`level` coverings share a
    cell.  This is a SUPERSET of the truly-intersecting pairs for any
    polygon shapes: a common point lies in some level-`level` cell, and
    a covering contains every cell its polygon touches, so that cell is
    in both coverings.  Exact geometry refinement is the caller's
    concern (for axis-aligned rect layers it is a native strict bbox
    predicate; see __spark_entry__.q_poly_overlap).

    `layer_b=None` means self-conflation: pairs within `layer_a`, each
    unordered pair emitted once as poly_a < poly_b.

    Scale shape: both sides are covering metadata (O(cells), never the
    fact table).  The join is a hash equi-join on the cell id —
    broadcast by default, `mode='shuffle'` repartitions both sides for
    layers too large to broadcast — and the distinct collapses the
    multi-cell matches with one map-side-combined shuffle of skinny
    (poly_a, poly_b) rows."""
    a = layer_a.build_df(spark, level).select(
        F.col("cell_p").alias("cell"), F.col("poly_id").alias("poly_a"))
    self_join = layer_b is None
    b = (layer_a if self_join else layer_b).build_df(spark, level).select(
        F.col("cell_p").alias("cell"), F.col("poly_id").alias("poly_b"))
    pairs = candidates_join(a, b, key="cell", mode=mode)
    if self_join:
        pairs = pairs.filter(F.col("poly_a") < F.col("poly_b"))
    return pairs.select("poly_a", "poly_b").distinct()


def zonal_stats(
    points: DataFrame,
    layer: PolygonLayer,
    level: int,
    value_col: str,
    mode: str = "broadcast",
    lat_col: str = "lat",
    lon_col: str = "lon",
    **join_kwargs,
) -> DataFrame:
    """Zonal statistics — the aggregate half of the raster<->vector
    bridge: per-polygon-zone aggregates of a point/pixel value column
    (count / sum / min / max), zone membership decided by the exact
    containment join (covering candidates + PIP refine).

    The classic GIS op is "aggregate raster cells per polygon zone";
    here the rasterized side is any point table (each pixel/point row
    carries its value), so the same function serves per-zone image
    counts, per-zone pixel sums from `rasterize_tiles` output, or
    per-zone attribute stats.

    Scale shape: the containment join's shape (broadcast covering or
    salted shuffle — all `spatial_join` modes compose), then ONE
    map-side-combined hash aggregation on poly_id: a hot zone ships at
    most one partial row per task through the shuffle, so zone skew is
    bounded the same way the salted join bounds cell skew.  Only
    (poly_id, value) survive the join projection."""
    joined = spatial_join(points, layer, level=level, mode=mode,
                          lat_col=lat_col, lon_col=lon_col, **join_kwargs)
    v = F.col(value_col)
    return (joined.select("poly_id", value_col)
            .groupBy("poly_id")
            .agg(F.count("*").alias("n"),
                 F.sum(v).alias("sum_v"),
                 F.min(v).alias("min_v"),
                 F.max(v).alias("max_v")))


def zonal_majority(
    points: DataFrame,
    layer: PolygonLayer,
    level: int,
    class_col: str,
    mode: str = "broadcast",
    lat_col: str = "lat",
    lon_col: str = "lon",
    **join_kwargs,
) -> DataFrame:
    """Zonal MAJORITY (r5, post-window) — the categorical companion to
    zonal_stats: per polygon zone the modal value of a CLASS column,
    deterministic tie-break (highest count, then LOWEST class — the
    house min(struct) argmax, never a window sort over the zone).
    -> (poly_id, maj_class, maj_n, n_classes, n).

    The classic landcover question ("which class dominates each
    parcel"); zone membership is the same exact containment join as
    zonal_stats.

    Scale shape: the containment join's shape, then TWO map-side-
    combined hash aggs — (zone, class) counts first, so a hot zone
    ships one partial row per class per task, then the zone-level
    argmax folds |classes| rows per zone; the modal pick is
    min(struct(-cnt, class)), one agg expression, no per-zone window
    sort.  Only (poly_id, class) survive the join projection."""
    joined = spatial_join(points, layer, level=level, mode=mode,
                          lat_col=lat_col, lon_col=lon_col, **join_kwargs)
    per = (joined.select("poly_id", F.col(class_col).cast("long")
                         .alias("cls"))
           .groupBy("poly_id", "cls")
           .agg(F.count("*").alias("cnt")))
    return (per.groupBy("poly_id")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                                F.col("cls").alias("cls"))).alias("top"),
                 F.sum("cnt").alias("n"),
                 F.count("*").cast("long").alias("n_classes"))
            .select("poly_id",
                    F.col("top.cls").alias("maj_class"),
                    (-F.col("top.neg")).cast("long").alias("maj_n"),
                    "n_classes", F.col("n").cast("long").alias("n")))


def bbox_range_join(points: DataFrame, rects: DataFrame,
                    lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """D7 — non-equi bbox-overlap theta join (BNLJ).

    `rects` columns: minlon/minlat/maxlon/maxlat (+ id cols).  In the
    engine's hot path this is always *bounded* by a cell-prefix equi
    pre-join (candidates_join); the raw form exists for the operator
    inventory and for tiny dimension tables.
    """
    cond = (
        (points[lon_col] >= rects["minlon"]) & (points[lon_col] < rects["maxlon"])
        & (points[lat_col] >= rects["minlat"]) & (points[lat_col] < rects["maxlat"])
    )
    return points.join(F.broadcast(rects), cond, "inner")


def nearest_polygon(points: DataFrame, covering_xy: DataFrame,
                    level: int = 8, radius: int = 2,
                    lon: str = "lon", lat: str = "lat",
                    id_col: str = "id") -> DataFrame:
    """D30 — nearest-polygon assignment (the reverse-geocode fallback
    for points no polygon CONTAINS): per point, the closest covering
    cell of any polygon within Chebyshev `radius` on the level-`level`
    grid, distance = L1 cells, ties to the smallest poly_id; points
    with no covering cell inside the bound report poly_id NULL and the
    sentinel distance 2*radius + 1 (bounded search reports absence).
    -> (id, poly_id, d_l1).

    Scale shape: the raster_proximity idiom against LAYER METADATA —
    the point grid coords are native mercator expressions (the
    cell_encode formula family, driver-green since r1), each point
    explodes the fixed (2R+1)^2 offsets, and candidates meet the
    covering in ONE broadcast hash equi-join (coverings are polygon
    metadata — thousands of rows, never fact-table-sized); min-struct
    argmin, left join back for the sentinel.  Zero theta-joins, zero
    Python."""
    from engine.geo.cells import merc_xy_sql

    R = int(radius)
    xi, yi = merc_xy_sql(lon, lat, level)
    pts = points.select(F.col(id_col).alias("id"),
                        F.expr(xi).alias("px"), F.expr(yi).alias("py"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(abs(dx) + abs(dy)).alias("d"))
        for dx in range(-R, R + 1) for dy in range(-R, R + 1)])
    probe = (pts.select("id", "px", "py", F.explode(offs).alias("_o"))
             .select("id",
                     (F.col("px") + F.col("_o.dx")).alias("cx"),
                     (F.col("py") + F.col("_o.dy")).alias("cy"),
                     F.col("_o.d").alias("d")))
    hit = (probe.join(F.broadcast(covering_xy), ["cx", "cy"])
           .groupBy("id")
           .agg(F.min(F.struct("d", "poly_id")).alias("_m")))
    return (pts.join(hit, "id", "left")
            .select("id",
                    F.col("_m.poly_id").alias("poly_id"),
                    F.coalesce(F.col("_m.d"), F.lit(2 * R + 1))
                    .cast("long").alias("d_l1")))
