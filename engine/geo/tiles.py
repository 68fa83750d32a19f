"""C3 — slippy-map tile assignment + quadkey (SURVEY.md §2.C3).

BASELINE.json:6 — "raster<->vector tiling assigns each decoded image to
slippy-map/H3 tiles".  Tile (z, x, y) is derived from the level-30 cell id
with *native* bit ops: the tile is the cell's level-z parent
(shiftright), its x/y are the parent's de-interleaved Morton bits (the
compact cascade as a column expression), and the quadkey is z base-4
digits concatenated from those x/y columns.  No Python worker touches
the tiling stage.

Design: at 10^12 rows the hot path (`with_tile`) adds three int columns;
the quadkey string is optional (strings are ~8x the shuffle weight of
ints — only materialize when exporting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle.geo import LEVEL

from .cells import compact1by1_sql


def tile_x_col(cell_col: str, z: int):
    """Native de-interleave: level-z parent's even bits -> tile x."""
    parent = f"(({cell_col}) >> {2 * (LEVEL - z)})"
    return F.expr(compact1by1_sql(parent))


def tile_y_col(cell_col: str, z: int):
    parent = f"(({cell_col}) >> {2 * (LEVEL - z) + 1})"
    return F.expr(compact1by1_sql(parent))


def quadkey_expr(tx: str, ty: str, z: int) -> str:
    """Native quadkey: z concatenated base-4 digits, MSB first."""
    digits = ", ".join(
        f"CAST(((({tx}) >> {i}) & 1) | (((({ty}) >> {i}) & 1) << 1) AS STRING)"
        for i in range(z - 1, -1, -1))
    return f"concat({digits})"


def with_tile(df: DataFrame, z: int, cell_col: str = "cell",
              quadkey_col: bool = False) -> DataFrame:
    """Attach tile_z / tile_x / tile_y (+ optional quadkey) columns.

    tile_morton = cell >> 2*(30-z) (the tile IS the cell's level-z
    parent), and de-interleave/quadkey are pure bit-op column
    expressions — the whole tiling stage stays in whole-stage codegen
    with zero Python workers."""
    out = (
        df.withColumn("tile_z", F.lit(z))
        .withColumn("tile_x", tile_x_col(cell_col, z))
        .withColumn("tile_y", tile_y_col(cell_col, z))
    )
    if quadkey_col:
        # reference the materialized tile_x/tile_y columns — inlining the
        # de-interleave cascade into every quadkey digit would blow the
        # expression tree up ~700x (codegen method-size limit)
        out = out.withColumn("quadkey",
                             F.expr(quadkey_expr("tile_x", "tile_y", z)))
    return out


def tile_key_col(cell_col: str, z: int):
    """Native int64 per-tile grouping key (the tile's own Morton id)."""
    return F.shiftright(F.col(cell_col), 2 * (LEVEL - z))


def tile_pyramid(df: DataFrame, z_max: int, z_min: int,
                 cell_col: str = "cell") -> DataFrame:
    """Hierarchical tile-count pyramid (the raster<->vector rollup a tile
    server precomputes): per-tile counts at every zoom in [z_min, z_max].

    Scale shape — exactly TWO shuffles regardless of level count:
    (1) the base hash agg on the native int64 Morton tile key at z_max
        (map-side combined; the only shuffle that sees the full table);
    (2) each aggregated base row explodes its ancestor chain
        (tile_z, x >> i, y >> i) — at most (z_max - z_min + 1) x 4^z_max
        skinny rows — and ONE groupBy(z, x, y) rolls every level up.
    A per-level groupBy chain (the obvious formulation) costs a union
    that re-states the base subtree per level and an AQE round per tiny
    rollup; the explode form replaced it after measuring 3.6 s vs 0.8 s
    at 200 k rows (same outputs, pytest-pinned invariants).
    Output: (tile_z:int, tile_x, tile_y, n) for z in [z_min, z_max].
    """
    assert 0 <= z_min <= z_max <= LEVEL
    base = (df.select(tile_key_col(cell_col, z_max).alias("tk"))
            .groupBy("tk").agg(F.count("*").alias("n")))
    xy = base.select(
        F.expr(compact1by1_sql("tk")).alias("tile_x"),
        F.expr(compact1by1_sql("(tk >> 1)")).alias("tile_y"),
        "n")
    ancestors = (
        f"transform(sequence(0, {z_max - z_min}), i -> struct("
        f"cast({z_max} - i as int) as tile_z, "
        "shiftright(tile_x, i) as tx, shiftright(tile_y, i) as ty))")
    return (xy.select(F.explode(F.expr(ancestors)).alias("l"), "n")
            .groupBy(F.col("l.tile_z").alias("tile_z"),
                     F.col("l.tx").alias("tile_x"),
                     F.col("l.ty").alias("tile_y"))
            .agg(F.sum("n").alias("n")))


def adaptive_quadtree(df: DataFrame, z_max: int = 10, z_root: int = 2,
                      k: int = 64, cell_col: str = "cell") -> DataFrame:
    """Adaptive quadtree decomposition (C3o): the minimal set of tiles,
    between z_root and z_max, such that every tile holds <= k points —
    except forced leaves at z_max, which may exceed k.  This is the
    classic quadtree space partitioner (point-region quadtree bulk
    build), the index structure behind adaptive tiling / load-balanced
    spatial partitioning: dense areas split deep, sparse areas stay
    coarse, so downstream per-tile work is balanced by CONSTRUCTION
    instead of salted after the fact.

    Declarative formulation (no driver loop): per-tile counts are
    monotone non-increasing down the tree, so a tile is a leaf of the
    top-down split iff
      - z == z_root and n <= k            (the root level never split), or
      - its PARENT's count > k            (every ancestor was split;
                                           parent count is the minimum
                                           over ancestors)
        and (n <= k or z == z_max)        (it itself does not split).
    That turns the recursion into: ONE pyramid (two shuffles total —
    the only full-table exchange is the base agg at z_max, map-side
    combined) + ONE skinny self-join of aggregated pyramid rows
    (<= 4^z_max, AQE broadcasts it).  At 10^12 rows nothing but the
    base agg ever sees the data.

    Output: (tile_z:int, tile_x, tile_y, n) — the leaves partition the
    input exactly: sum(n) == count(*), and no leaf is an ancestor of
    another (both pytest-asserted invariants).
    """
    assert 0 <= z_root < z_max <= LEVEL
    pyr = tile_pyramid(df, z_max, z_root, cell_col)
    pyr = pyr.localCheckpoint(eager=False)
    par = pyr.select(F.col("tile_z").alias("pz"), F.col("tile_x").alias("px"),
                     F.col("tile_y").alias("py"), F.col("n").alias("pn"))
    child = (pyr.filter(F.col("tile_z") > z_root)
             .join(par, (F.col("pz") == F.col("tile_z") - 1)
                   & (F.col("px") == F.shiftright("tile_x", 1))
                   & (F.col("py") == F.shiftright("tile_y", 1)))
             .filter((F.col("pn") > k)
                     & ((F.col("n") <= k) | (F.col("tile_z") == z_max))))
    root = pyr.filter((F.col("tile_z") == z_root) & (F.col("n") <= k))
    cols = ["tile_z", "tile_x", "tile_y", "n"]
    return child.select(*cols).unionByName(root.select(*cols))


def write_tile_partitioned(df: DataFrame, path: str, z: int = 3,
                           cell_col: str = "cell",
                           sort_cols: tuple = ("cell",)) -> None:
    """Tile-partitioned PHYSICAL LAYOUT — the on-disk organization for
    the 10^12-row table: rows land in tile_x=<x>/tile_y=<y> directories
    (Hive-style), sorted within each output file by `sort_cols` (cell
    order ⇒ spatially clustered row groups, so min/max row-group stats
    prune within files too).

    At read time any tile predicate becomes a PartitionFilters entry —
    directories outside the predicate are never LISTED, let alone read:
    the scan cost of a bbox query is proportional to the tiles it
    touches, not the table.  This plus cell-sorted row groups is the
    complete physical-design story for the flagship at 100 TB.

    `partitionBy` shuffles nothing by itself (each task writes its own
    per-tile files); use a prior `repartition(tile_x, tile_y)` only if
    small-files pressure matters more than the extra exchange."""
    out = with_tile(df, z, cell_col=cell_col)
    # the dynamic-partition writer requires its input sorted by the
    # partition columns (else it injects its OWN sort and discards any
    # prior ordering — observed): lead with (tile_x, tile_y) so the
    # required ordering is already satisfied and the trailing sort_cols
    # order survives into each file
    (out.sortWithinPartitions("tile_x", "tile_y",
                              *[F.col(c) for c in sort_cols])
        .write.mode("overwrite")
        .partitionBy("tile_x", "tile_y")
        .parquet(path))


def read_tiles(spark, path: str, tiles: list[tuple[int, int]]) -> DataFrame:
    """Read back a tile-partitioned layout restricted to `tiles` —
    the predicate is partition-column-only, so it resolves to directory
    pruning (assert `PartitionFilters` in the scan; tests do)."""
    df = spark.read.parquet(path)
    cond = None
    for tx, ty in tiles:
        c = (F.col("tile_x") == tx) & (F.col("tile_y") == ty)
        cond = c if cond is None else cond | c
    return df.filter(cond)
