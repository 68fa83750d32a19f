"""The flagship ETL (SURVEY.md §3.E1, §7.2): synth/scan -> bbox extract ->
cell encode -> spatial containment join -> tile assignment -> per-tile
counts, checkpointed at every stage.

Shared by jobs/pipeline.py (spark-submit entry), __spark_entry__.py
(driver smoke), bench.py (throughput protocol) and the e2e golden test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.geo.bbox import bbox_filter
from engine.geo.cells import cell_parent_col, with_cell
from engine.geo.join import candidates_join
from engine.geo.layer import PolygonLayer
from engine.geo.pip import refine_native
from engine.geo.skew import heavy_hitters
from engine.geo.tiles import with_tile
from engine.pipeline import Stage
from engine.synth import gen_images

DEFAULT_BBOX = (-180.0, -85.05112878, 180.0, 85.05112878)
NARROW_COLS = ["image_id", "lat", "lon"]


def flagship_stages(layer: PolygonLayer, n_images: int, *, seed: int = 42,
                    bbox: tuple[float, float, float, float] = DEFAULT_BBOX,
                    level: int = 8, z: int = 12, parts: int | None = None,
                    salt: int = 8, hot_top: int = 4,
                    mode: str = "auto") -> list[Stage]:
    """Checkpointed stage list for the flagship pipeline.

    Column discipline: the spatial join and tiling run on NARROW columns
    only (image bytes stay behind in the images checkpoint, rejoinable by
    image_id) — at 10^12 rows the payload never rides a shuffle.
    """

    def s_images(spark: SparkSession, _prev: DataFrame | None) -> DataFrame:
        return gen_images(spark, n_images, seed=seed, parts=parts)

    def s_extract(spark: SparkSession, prev: DataFrame) -> DataFrame:
        df = bbox_filter(prev.select(*NARROW_COLS), bbox)
        return with_cell(df)

    def s_joined(spark: SparkSession, prev: DataFrame) -> DataFrame:
        probe = prev.withColumn("cell_p", cell_parent_col("cell", level))
        hot = heavy_hitters(probe, "cell_p", top=hot_top,
                            min_rows=max(64, n_images // 50))
        build = layer.build_df(spark, level, with_edges=True)
        cands = candidates_join(probe, build, mode=mode, hot_keys=hot,
                                salt=salt, build_rows=build.count())
        return refine_native(cands)

    def s_tiled(spark: SparkSession, prev: DataFrame) -> DataFrame:
        return with_tile(prev, z=z, quadkey_col=True)

    def s_tile_counts(spark: SparkSession, prev: DataFrame) -> DataFrame:
        return (
            prev.groupBy("poly_id", "tile_z", "tile_x", "tile_y", "quadkey")
            .agg(F.count("*").alias("n_images"))
        )

    return [
        Stage("images", s_images, sort_within=["image_id"]),
        Stage("extract", s_extract, sort_within=["image_id"]),
        Stage("joined", s_joined, sort_within=["image_id", "poly_id"]),
        Stage("tiled", s_tiled, sort_within=["image_id", "poly_id"]),
        Stage("tile_counts", s_tile_counts, sort_within=["quadkey", "poly_id"]),
    ]


def flagship_config(n_images: int, seed: int, bbox, level: int, z: int) -> dict:
    return {"n": n_images, "seed": seed, "bbox": list(bbox),
            "level": level, "z": z, "v": 1}
