"""Plan-shape assertions (SURVEY.md §4): pushdown, pruning, join strategy,
and native-vs-Python expression placement. These guard the properties that
make the engine viable at 100 TB — a regression here is a silent 10-100x
slowdown that small-data correctness tests can never catch."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from engine.geo.bbox import bbox_filter
from engine.geo.cells import cell_parent_col, with_cell, with_cell_prefix
from engine.geo.join import candidates_join
from engine.geo.layer import PolygonLayer, rect_polygon
from engine.image.phash import phash_prefilter
from engine.synth import gen_images


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "images")
    gen_images(spark, 200, seed=42).write.parquet(path)
    return path


def test_bbox_predicates_push_to_parquet(spark, images_parquet):
    df = bbox_filter(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"),
        (-30.0, -20.0, 60.0, 45.0))
    plan = plan_of(df)
    assert "PushedFilters" in plan
    # all four range bounds reach the scan
    for frag in ("GreaterThanOrEqual(lon,-30.0)", "LessThanOrEqual(lon,60.0)",
                 "GreaterThanOrEqual(lat,-20.0)", "LessThanOrEqual(lat,45.0)"):
        assert frag in plan, f"missing pushed filter {frag}\n{plan}"


def test_antimeridian_bbox_still_pushes(spark, images_parquet):
    df = bbox_filter(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"),
        (170.0, -10.0, -170.0, 10.0))  # minlon > maxlon: crosses +/-180
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "Or(GreaterThanOrEqual(lon,170.0),LessThanOrEqual(lon,-170.0))" in plan


def test_narrow_projection_prunes_bytes(spark, images_parquet):
    df = with_cell(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"))
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "bytes" not in read_schema[0], read_schema
    assert "caption" not in read_schema[0]


def _probe_and_build(spark, images_parquet, level=7):
    layer = PolygonLayer([rect_polygon("R", -30.0, 0.0, 60.0, 60.0)])
    probe = with_cell(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"))
    probe = probe.withColumn("cell_p", cell_parent_col("cell", level))
    return probe, layer.build_df(spark, level)


def test_broadcast_mode_plans_broadcast_hash_join(spark, images_parquet):
    probe, build = _probe_and_build(spark, images_parquet)
    plan = plan_of(candidates_join(probe, build, mode="broadcast",
                                   build_rows=10), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_mode_plans_shuffled_hash_join(spark, images_parquet):
    probe, build = _probe_and_build(spark, images_parquet)
    plan = plan_of(candidates_join(probe, build, mode="shuffle",
                                   build_rows=10), "simple")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_cell_prefix_is_native_no_python_eval(spark, images_parquet):
    # cell encode needs Python (Arrow batch), but prefix/tile-key math on an
    # existing cell column must stay JVM-side (shiftright, codegen).
    df = spark.read.parquet(images_parquet).select("image_id") \
        .withColumn("cell", F.monotonically_increasing_id())
    plan = plan_of(with_cell_prefix(df, 8), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(" in plan  # whole-stage-codegen stage marker


def test_phash_prefilter_is_native(spark, images_parquet):
    df = spark.read.parquet(images_parquet).select("image_id", "phash")
    plan = plan_of(phash_prefilter(df, 12345, 10), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bucketed_join_plans_no_shuffle(spark, images_parquet, tmp_path):
    """Same-bucketed tables co-locate: the equi-join must plan with ZERO
    Exchange operators (the 100 TB big-big join pattern)."""
    from engine.bucketing import bucketed_join, write_bucketed
    imgs = spark.read.parquet(images_parquet).select("image_id", "lat", "lon")
    feats = imgs.select("image_id", (F.length("image_id")).alias("feat"))
    write_bucketed(imgs, "b_imgs", "image_id", 8,
                   path=str(tmp_path / "b_imgs"))
    write_bucketed(feats, "b_feats", "image_id", 8,
                   path=str(tmp_path / "b_feats"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # tiny test tables would auto-broadcast; at big-big scale the
        # planner picks SMJ on its own — force it here to expose the
        # bucketed no-shuffle property
        j = bucketed_join(spark, "b_imgs", "b_feats", "image_id")
        plan = plan_of(j, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS b_imgs")
        spark.sql("DROP TABLE IF EXISTS b_feats")


def test_cell_encode_native_has_zero_python_stages(spark, images_parquet):
    df = with_cell(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"))
    plan = plan_of(df, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(" in plan  # stays inside whole-stage codegen


def test_native_and_udf_cell_encode_agree(spark, images_parquet):
    from oracle import geo as og
    src = spark.read.parquet(images_parquet).select("image_id", "lat", "lon")
    rows = with_cell(src).collect()
    assert len(rows) == 200
    for r in rows:
        assert r["cell"] == og.cell_encode(r["lon"], r["lat"]), r


def test_native_and_udf_tiles_agree(spark, images_parquet):
    from engine.geo.tiles import with_tile
    from oracle import geo as og
    src = with_cell(
        spark.read.parquet(images_parquet).select("image_id", "lat", "lon"))
    rows = with_tile(src, z=12, quadkey_col=True).collect()
    assert len(rows) == 200
    for r in rows:
        _, tx, ty = og.tile(r["lon"], r["lat"], 12)
        assert (r["tile_z"], r["tile_x"], r["tile_y"]) == (12, tx, ty), r
        assert r["quadkey"] == og.quadkey(12, tx, ty)


def _plan_nodes(node):
    """Physical plan nodes under `node`, depth first; adaptive plans are
    read at their current form, descending through each query stage."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


def _first_knn_round_plan(monkeypatch, queries, points):
    """The executed plan of the first knn_join round's top-k frame."""
    import engine.geo.knn as knn
    rounds = []
    real = knn.materialize

    def spy(df, *a, **kw):
        if "rn" in df.columns:
            rounds.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(knn, "materialize", spy)
    knn.knn_join(queries, points, k=3, level=3, r0=1)
    return rounds[0]._jdf.queryExecution().executedPlan()


def test_knn_round_query_side_is_native_broadcast_build(
        spark, images_parquet, monkeypatch):
    """One knn_join round's candidate join: the disk explode of the
    query side runs with no Python worker, and with the query side the
    smaller input it stays the broadcast (build) side, so the point
    table is never shuffled for the join."""
    # spark.range gives the query side a known (small) size estimate
    queries = spark.range(4).select(
        F.col("id").alias("qid"), (F.col("id") * 20.0 - 30.0).alias("lat"),
        (F.col("id") * 80.0 - 150.0).alias("lon"))
    pts = spark.read.parquet(images_parquet).select("image_id", "lat", "lon")
    plan = _first_knn_round_plan(monkeypatch, queries, pts)
    names = [n.getClass().getSimpleName() for n in _plan_nodes(plan)]
    assert not any("EvalPython" in n for n in names), names
    join = next(n for n in _plan_nodes(plan)
                if n.getClass().getSimpleName() == "BroadcastHashJoinExec")
    build, probe = ((join.left(), join.right())
                    if join.buildSide().toString() == "BuildLeft"
                    else (join.right(), join.left()))
    build_names = [n.getClass().getSimpleName() for n in _plan_nodes(build)]
    probe_names = [n.getClass().getSimpleName() for n in _plan_nodes(probe)]
    assert "GenerateExec" in build_names, build_names
    assert "FileSourceScanExec" in probe_names, probe_names


@pytest.mark.parametrize("source, shuffles_points", [
    ("local_df", False), ("python_rows", True)])
def test_knn_round_with_driver_queries_does_not_shuffle_points(
        spark, images_parquet, monkeypatch, source, shuffles_points):
    """Driver-side queries built with local_df are a LocalRelation with a
    size estimate, so with the point table above the broadcast threshold
    a knn_join round still broadcasts the exploded query side and never
    shuffles the points on cell_p.  A createDataFrame of Python rows has
    no estimate: the round plans a SortMergeJoin, and the exchange stays
    in the final plan after AQE demotes it to a broadcast join."""
    from engine.localdf import local_df
    rows = [(i, i * 20.0 - 30.0, i * 80.0 - 150.0) for i in range(4)]
    schema = "qid long, lat double, lon double"
    queries = (local_df(spark, rows, schema) if source == "local_df"
               else spark.createDataFrame(rows, schema))
    pts = spark.read.parquet(images_parquet).select("image_id", "lat", "lon")
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try:
        plan = _first_knn_round_plan(monkeypatch, queries, pts).toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert ("Exchange hashpartitioning(cell_p" in final) == shuffles_points, \
        plan
    assert ("SortMergeJoin" in plan) == shuffles_points, plan


def test_cell_ring_has_no_python_node(spark, sf_dir):
    import __spark_entry__ as m
    df = m.queries()["cell_ring"](spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "Python" not in plan, plan
    assert "Generate explode" in plan


def test_near_dup_lsh_path_is_equi_join_not_nested_loop(spark):
    # The Hamming-1 candidate step must plan as a hash equi-join on the
    # exploded bucket key — a BroadcastNestedLoopJoin/CartesianProduct
    # here is the all-pairs scale-killer the LSH exists to avoid.
    import numpy as np
    import pandas as pd
    from engine.ml.ann import cosine_near_dup_pairs
    r = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "vec_id": np.arange(40, dtype=np.int64),
        "embedding": [v.tolist() for v in r.normal(size=(40, 16)).astype(np.float32)],
    })
    df = spark.createDataFrame(pdf)
    plan = plan_of(cosine_near_dup_pairs(df, 0.99, bits=6, dim=16), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_auto_mode_picks_broadcast_for_small_build(spark, images_parquet):
    probe, build = _probe_and_build(spark, images_parquet)
    plan = plan_of(candidates_join(probe, build, mode="auto", build_rows=10),
                   "simple")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_auto_mode_picks_shuffle_for_huge_build(spark, images_parquet):
    probe, build = _probe_and_build(spark, images_parquet)
    plan = plan_of(candidates_join(probe, build, mode="auto",
                                   build_rows=10**9), "simple")
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_minhash_dedup_plan_has_no_nested_loop(spark):
    from engine.text.dedup import minhash_dedup
    docs = spark.createDataFrame(
        [(i, f"text body {i % 5} common words") for i in range(60)],
        "doc_id long, text string")
    plan = plan_of(minhash_dedup(docs, threshold=0.6), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_raster_stats_path_has_zero_python_stages(spark, images_parquet):
    from engine.geo.raster import rasterize_tiles
    df = rasterize_tiles(
        spark.read.parquet(images_parquet).select("lat", "lon"), z=6)
    plan = plan_of(df, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    # exactly two exchanges: (tile,pixel) partial-agg shuffle + tile regroup
    assert plan.count("Exchange") == 2, plan


def test_emb_centroid_partial_agg_before_exchange(spark, sf_dir):
    """Shuffle volume must be O(partitions * labels * dim), not O(rows):
    the partial HashAggregate has to sit BELOW the Exchange."""
    from engine.ml.centroid import label_centroids
    df = label_centroids(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    plan = plan_of(df)
    assert "partial_sum(FLOOR(" in plan  # map-side combine of the int sums
    # simple mode prints root-first: final agg, then Exchange, then partial
    simple = plan_of(df, "simple")
    assert simple.index("HashAggregate") < simple.index("Exchange") \
        < simple.rindex("HashAggregate")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_area_centroid_no_shuffle_no_python(spark):
    """Per-ring shoelace is a pure projection: no Exchange, no Python."""
    from engine.geo.layer import PolygonLayer
    from engine.geo.measure import area_centroid, rings_df
    df = area_centroid(rings_df(PolygonLayer.from_json(), spark))
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_top_terms_shuffles_key_on_doc(spark, sf_dir):
    from engine.text.ops import top_terms
    df = top_terms(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_data_split_zero_shuffle_one_arrow_stage(spark, sf_dir):
    """Split assignment is a pure Arrow-batched projection: no Exchange,
    exactly one Python stage (the splitmix64 kernel)."""
    from engine.ml.split import assign_splits
    df = assign_splits(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert plan_of(df, "simple").count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_compact_cells_no_python_bounded_shuffles(spark):
    """Compaction is all-native window work on the skinny covering frame:
    zero Python stages, one window exchange per level step."""
    from engine.geo.cells import compact_cells
    layer = PolygonLayer.from_json()
    cov = layer.build_df(spark, 8).select(
        "poly_id", F.col("cell_p").alias("cell"))
    plan = plan_of(compact_cells(cov, level=8, min_level=4))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") >= 4  # one count-window per level 8..5


def test_phash_near_dups_native_equijoin(spark):
    """Image near-dup: zero Python stages (hash is already a column) and
    candidates from a hash equi-join — never a nested-loop/cartesian."""
    from engine.image.phash import phash_near_dups
    df = spark.range(0, 500).select(
        F.concat(F.lit("i"), F.col("id")).alias("image_id"),
        (F.xxhash64("id")).alias("phash"))
    plan = plan_of(phash_near_dups(df, max_dist=3))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_diff_is_metadata_diff_plus_one_shuffle(spark, sf_dir, tmp_path):
    """The bounded-spatial-diff composite: changed rows come from the
    snapshot manifests (a plain scan of the delta files — no EXCEPT/
    anti-join shuffle), the bbox is pushed to that scan, tiling is
    native, and the only Exchange is the final partial-combined agg."""
    from engine.geo.bbox import bbox_filter
    from engine.geo.cells import with_cell
    from engine.geo.tiles import with_tile
    from engine.icelite import IceliteTable
    pts = spark.range(0, 3000).select(
        F.col("id"),
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 160 - 80.0).alias("lat"))
    t = IceliteTable(str(tmp_path / "t"))
    s1 = t.commit_append(pts.filter("id % 3 <> 0"), stage="base")
    s2 = t.commit_append(pts.filter("id % 3 = 0"), stage="delta")
    df = (with_tile(with_cell(bbox_filter(
            t.diff(spark, s1, s2), (-120.0, -60.0, 120.0, 60.0))), z=6)
          .groupBy("tile_z", "tile_x", "tile_y")
          .agg(F.count("*").alias("n_changed")))
    plan = plan_of(df)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(lon,-120.0)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    simple = plan_of(df, "simple")
    assert simple.count("Exchange") == 1  # only the agg shuffle
    assert "partial_count" in plan  # map-side combine below it


def test_compact_join_is_broadcast_hash_on_composite_key(spark, images_parquet):
    """Compact containment join: probe ancestor fan-out is a native
    explode (no Python), the join is a BroadcastHashJoin on the
    composite (blevel, cell_p) key, and the native refine keeps the
    whole flagship path at zero Python stages."""
    from engine.geo.join import spatial_join
    imgs = spark.read.parquet(images_parquet).select("image_id", "lat", "lon")
    df = spatial_join(imgs, PolygonLayer.from_json(), level=10,
                      mode="broadcast", compact_min_level=5)
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "blevel" in plan and "cell_p" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_focal_sum_is_native_two_agg_shuffles(spark, images_parquet):
    """Focal sum: full table hits only the base tile_counts agg (map-side
    combined); neighbor fan-out is a native offset explode; zero Python
    stages; no cartesian/BNLJ anywhere."""
    from engine.geo.raster import focal_sum
    imgs = spark.read.parquet(images_parquet).select("lat", "lon")
    df = focal_sum(imgs, z=5, radius=1, checkpoint=False)
    plan = plan_of(df, "simple")
    assert "partial_count" in plan          # map-side combine on the base agg
    assert "partial_sum" in plan            # and on the focal regroup
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the full-table scan feeds exactly one aggregation: lat/lon only ever
    # reach the tile_counts subtree (2-column ReadSchema)
    assert plan.count("FileScan") == 2      # base reused twice (unchckpt'd plan)
    assert "ReadSchema: struct<lat:double,lon:double>" in plan_of(df)


def test_morph_tiles_is_native_two_agg_shuffles(spark, images_parquet):
    """Morphology: same shape contract as focal_sum — map-side-combined
    base agg, native offset explode + skinny window-count regroup, zero
    Python stages, no cartesian/BNLJ, 2-column ReadSchema."""
    from engine.geo.raster import morph_tiles
    imgs = spark.read.parquet(images_parquet).select("lat", "lon")
    df = morph_tiles(imgs, z=5, radius=1, checkpoint=False)
    plan = plan_of(df, "simple")
    assert "partial_count" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ReadSchema: struct<lat:double,lon:double>" in plan_of(df)


def test_grouped_split_is_one_window_shuffle_plus_arrow(spark, sf_dir):
    """Leakage-safe split: exactly one exchange (the digest window) and
    exactly one Arrow stage (the mix64 bucket kernel) — no join back."""
    from engine.ml.split import assign_splits_grouped
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(assign_splits_grouped(docs, seed=7), "simple")
    assert plan.count("Exchange") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan


def test_stratified_sample_is_zero_shuffle(spark, sf_dir):
    from engine.ml.split import sample_stratified
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(sample_stratified(docs, {"en": 0.5}, seed=43), "simple")
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_zonal_stats_one_agg_shuffle_after_broadcast_join(spark):
    """Zonal agg: broadcast containment join (no shuffle) + ONE
    map-side-combined hash agg shuffle on poly_id; only (poly_id,
    value) projected into the aggregation."""
    import __spark_entry__ as m
    df = m.queries()["zonal_stats"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2   # partial below, final above


def test_poly_overlap_is_broadcast_no_cartesian(spark):
    from engine.geo.join import covering_overlap_join
    from engine.geo.layer import PolygonLayer as PL, rect_polygon
    layer = PL([rect_polygon(f"P{i}", float(i * 3 - 60), -10.0,
                             float(i * 3 - 50), 10.0) for i in range(20)])
    plan = plan_of(covering_overlap_join(layer, None, spark, 5), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # distinct = partial HashAggregate below the shuffle + final above;
    # exactly one SHUFFLE exchange (the BroadcastExchange is not one)
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_capped_vectile_is_one_exchange(spark, images_parquet):
    """r4: the DEFAULT per-tile feature cap must not buy its bounded
    aggregation state with a second shuffle — the row_number window's
    hash exchange on (tile_x, tile_y) is REUSED by the collect groupBy,
    so the whole encode is ONE Exchange + one ArrowEvalPython."""
    from engine.geo.vectile import encode_vector_tiles
    pts = (spark.read.parquet(images_parquet)
           .selectExpr("cast(substring(image_id, 4) as long) as id",
                       "lat", "lon"))
    plan = plan_of(encode_vector_tiles(pts, z=6), "simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Window" in plan and "BatchEvalPython" not in plan, plan


def test_polygonize_rings_single_tile_collect_plus_one_arrow(spark,
                                                             images_parquet):
    """r4: ring tracing rides the SAME single tile-keyed collect as the
    label-only polygonize — pixel agg exchange + tile collect exchange,
    ONE batched Arrow stage, rings explode natively."""
    from engine.geo.polygonize import polygonize_rings
    from engine.geo.raster import _pixel_counts
    pts = spark.read.parquet(images_parquet).select("lat", "lon")
    plan = plan_of(polygonize_rings(_pixel_counts(pts, 6, 4, "lat", "lon"),
                                    grid_bits=4), "simple")
    assert plan.count("Exchange") == 2, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Generate explode" in plan, plan


def test_hexbin_counts_one_mapside_combined_shuffle(spark, images_parquet):
    """r4: hexbin is a native codegen expression feeding one partial-
    aggregated exchange — zero Python, the tile_assign shape."""
    from engine.geo.hexbin import hexbin_counts
    pts = spark.read.parquet(images_parquet).select("lat", "lon")
    plan = plan_of(hexbin_counts(pts, size=4), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan
    # partial agg sits below the exchange (map-side combine)
    pre, post = plan.split("Exchange", 1)
    assert "partial_count" in post and "HashAggregate" in pre, plan


def test_editdist_join_no_cartesian_native_verify(spark):
    """r4 cont.: editdist_join's candidate generation is an equi-join on
    (L, i, seg) — never a cartesian product — and the only nested-loop
    allowed is the broadcast constant-size short-string pool.  The
    Levenshtein verify is the native JVM expression (no Python stage)."""
    from engine.text.editdist import editdist_join
    df = spark.createDataFrame(
        [(i, "prefix %03d suffix" % i) for i in range(60)],
        "doc_id long, s string")
    plan = plan_of(editdist_join(df, k=2), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "levenshtein" in plan, plan
    # the segment join itself is a hash equi-join (broadcast or shuffled)
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


# ------------------------------------------------ r4-cont-2 plan shapes

def _count_shuffles(plan: str) -> int:
    # formatted mode: shuffle nodes are headed "(N) Exchange" (broadcast
    # nodes are "BroadcastExchange" and don't match)
    import re as _re
    return sum(1 for ln in plan.splitlines()
               if _re.match(r"\(\d+\) Exchange\b", ln.strip()))


def test_cohort_retention_single_exchange(spark):
    """The cohort matrix touches the raw events through exactly one
    full-table hash exchange (the per-user min+collect_set agg); the
    explode re-agg runs on the tiny matrix with its own exchange, so
    the plan carries two hash exchanges total — never a join, never a
    window over raw events."""
    from engine.relops import cohort_retention
    ev = spark.range(10000).selectExpr(
        "id % 100 AS user_id",
        "timestamp_micros(id * 1000000) AS ts")
    plan = plan_of(cohort_retention(ev))
    assert _count_shuffles(plan) <= 2, plan
    assert "Join" not in plan


def test_staypoints_windows_and_rollup_share_partitioning(spark):
    """Lag window + run cumsum + per-run rollup: ONE hash exchange."""
    from engine.geo.traj import traj_staypoints
    ev = spark.range(10000).selectExpr(
        "id % 100 AS user_id",
        "timestamp_micros(id * 1000000) AS ts", "id AS event_id",
        "CAST(id % 360 - 180 AS DOUBLE) AS lon",
        "CAST(id % 170 - 85 AS DOUBLE) AS lat")
    plan = plan_of(traj_staypoints(ev))
    assert _count_shuffles(plan) == 1, plan


def test_scd2_single_exchange(spark):
    from engine.relops import scd2_build
    ev = spark.range(10000).selectExpr(
        "id % 100 AS user_id",
        "timestamp_micros(id * 1000000) AS ts",
        "CAST(id % 7 AS STRING) AS event_type", "id AS event_id")
    plan = plan_of(scd2_build(ev, "user_id", "ts", "event_type",
                              "event_id"))
    assert _count_shuffles(plan) == 1, plan


def test_pii_scrub_is_pure_map(spark):
    """Redaction at scale is map, nothing else: no exchange, no
    Python stage (native regexp codegen)."""
    from engine.text.ops import pii_scrub
    docs = spark.range(1000).selectExpr("id AS doc_id",
                                        "CAST(id AS STRING) AS text")
    plan = plan_of(pii_scrub(docs))
    assert _count_shuffles(plan) == 0, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_horn_slope_native_no_nested_loop(spark):
    """r4 cont.: the Horn stencil is a volunteer explode + ONE hash agg
    on cell coords + a join back — all codegen, never a theta-join,
    zero Python stages."""
    from engine.geo.raster import horn_slope
    pix = spark.range(500).selectExpr(
        "id % 23 AS gx", "id % 17 AS gy").groupBy("gx", "gy").count() \
        .withColumnRenamed("count", "w")
    plan = plan_of(horn_slope(pix))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Generate" in plan, plan   # the volunteer explode
    # the gradient agg is map-side combined (partial below its exchange)
    assert "partial_sum" in plan, plan


# ---------------------------------------- r5 continuation plan shapes

def test_zonal_majority_two_agg_shuffles_after_broadcast_join(spark):
    """Majority: broadcast containment join, then (zone,class) counts
    and the zone argmax fold — exactly two hash agg exchanges, no
    window sort over zones."""
    import __spark_entry__ as m
    df = m.queries()["zonal_majority"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" not in plan


def test_tile_median_collect_is_window_bounded_no_python(spark):
    """Focal median: one tile_counts agg + one regroup — no Python
    stage anywhere, the collect_list rides a plain hash aggregate."""
    import __spark_entry__ as m
    df = m.queries()["tile_median"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_adaptive_threshold_is_separable_no_corner_join(spark):
    """Box sums come from two RANGE-window passes, never a 4-corner
    SAT join: exactly the densify join + the sparse join-back, no
    extra join operators, no Python."""
    import __spark_entry__ as m
    df = m.queries()["raster_adaptive_threshold"](
        spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "Python" not in plan
    assert plan.count("Window") == 2          # the two separable passes
    assert "CartesianProduct" not in plan


def test_seq_match_single_exchange(spark):
    """The ordered-collect agg reuses one hash partitioning; the
    string identity is pure projection above it."""
    import __spark_entry__ as m
    df = m.queries()["seq_match"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan and "Window" not in plan


def test_autocorr_single_exchange_window_plus_agg(spark):
    """All leads in one window pass; the per-key agg reuses the
    window's partitioning — a single hash exchange end to end."""
    import __spark_entry__ as m
    df = m.queries()["ts_autocorr"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "Python" not in plan


def test_batch_topk_broadcasts_queries_not_corpus(spark):
    """The serving batch rides a broadcast nested loop over the
    once-scanned corpus; the only hash exchange is the per-query
    top-k window."""
    import __spark_entry__ as m
    df = m.queries()["ann_batch_topk"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_viewshed_single_window_exchange_no_python(spark):
    """Ray classes partition ONE window shuffle; the gcd reduction is
    a native bounded HOF, not a Python stage."""
    import __spark_entry__ as m
    df = m.queries()["raster_viewshed"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "Python" not in plan
    assert plan.count("Window") == 1


def test_costdist_adjacency_is_equijoin_not_theta(spark):
    """The 8-offset volunteer explode + hash equi-join builds the grid
    adjacency — no nested-loop/theta join anywhere in the plan."""
    import __spark_entry__ as m
    df = m.queries()["raster_costdist"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan


def test_mode_pyramid_is_python_free_level_aggs(spark):
    """Three levels = sequential agg pairs; no Python stage, no join,
    no window anywhere."""
    import __spark_entry__ as m
    df = m.queries()["raster_mode_pyramid"](spark,
                                            "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert "Python" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_enc_varint_cost_single_exchange(spark):
    """The lag window and the per-user fold share one hash
    partitioning; the ladder is pure codegen projection."""
    import __spark_entry__ as m
    df = m.queries()["enc_varint_cost"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


# ----------------------- r5-continuation operators (this session)


def test_win_median_single_exchange_no_python(spark):
    """collect_list/array_sort/element_at ride ONE ordered-window
    partitioning; no Python stage."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["win_median"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_ts_kendall_one_join_one_agg(spark):
    """Bounded per-key self-join + map-side-combined agg; the sgn is a
    CASE, not Python."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["ts_kendall"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert "Python" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_agg_gini_window_and_agg_share_partitioning(spark):
    import __spark_entry__ as m
    plan = plan_of(m.queries()["agg_gini"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_ml_stump_no_raw_row_global_sort(spark):
    """The cumulative window rides the aggregated distinct-value frame
    (one single-partition exchange AFTER the groupBy collapse), never
    the raw rows."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["ml_stump"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert "Python" not in plan
    # plans print consumer-first: every single-partition exchange must
    # sit DIRECTLY on the groupBy(x) collapse, i.e. its child line is
    # the keyed HashAggregate, never the raw scan/projection
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "HashAggregate(keys=[x" in lines[i + 1], lines[i + 1]


def test_osm_diff_apply_one_argmax_one_outer_join(spark):
    """The change stream collapses via struct-argmax BEFORE the
    full-outer join; the base never shuffles more than once."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["osm_diff_apply"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert "FullOuter" in plan
    # one argmax agg on the change side (min/max of struct)
    assert "max(e)" in plan or "max(struct" in plan.replace(" ", "") \
        or "HashAggregate" in plan


def test_enc_rle_cost_single_exchange(spark):
    """Boundary lag + running run-id + both aggs share one (user)
    partitioning."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["enc_rle_cost"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_dq_rules_single_scan_for_all_predicate_rules(spark):
    """Adding a predicate rule adds a column, not a scan: the lineitem
    relation is scanned once for the five predicate rules (plus once
    each for the two table-level kinds)."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["dq_rules"](
        spark, "/root/testdata/sf0.001"), "simple")
    # 1 scan for ALL five predicate rules + 2 per table-level kind
    # (the rule body + its column-pruned n_checked count) = 5; a
    # naive one-scan-per-predicate-rule plan would show 9
    assert plan.count("lineitem") <= 5
    assert "Python" not in plan


def test_text_collocations_topk_after_aggregation(spark):
    """The global top-k (TakeOrderedAndProject) consumes the aggregated
    bigram frame, not raw pairs; join-backs broadcast."""
    import __spark_entry__ as m
    plan = plan_of(m.queries()["text_collocations"](
        spark, "/root/testdata/sf0.001"), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # consumer-first print: the top-k's DIRECT child must be the
    # aggregated (w1, w2) frame, not a raw-pair projection
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "TakeOrderedAndProject" in ln:
            assert "HashAggregate" in lines[i + 1], lines[i + 1]
