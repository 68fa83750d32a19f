"""C3 — tile assignment + quadkey vs oracle (SURVEY.md §5.2/5.5)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.geo import cells as ec
from engine.geo import tiles as et
from oracle import geo as og


def test_tile_xy_matches_oracle(spark):
    r = np.random.default_rng(5)
    lon = r.uniform(-180, 180, 400)
    lat = r.uniform(-85.05, 85.05, 400)
    df = ec.with_cell(spark.createDataFrame(pd.DataFrame(
        {"i": np.arange(len(lon)), "lon": lon, "lat": lat})))
    for z in (0, 1, 5, 12, 18):
        rows = et.with_tile(df, z).orderBy("i").collect()
        for i, row in enumerate(rows):
            assert (row.tile_z, row.tile_x, row.tile_y) == \
                og.tile(lon[i], lat[i], z), (lon[i], lat[i], z)


def test_quadkey_matches_oracle(spark):
    r = np.random.default_rng(6)
    for z in (1, 7, 12):
        x = r.integers(0, 1 << z, 100).astype(np.int64)
        y = r.integers(0, 1 << z, 100).astype(np.int64)
        # any level-30 cell inside tile (x, y): the tile's Morton id
        # shifted down to level 30
        cells = [og.morton(int(a), int(b), z) << 2 * (30 - z)
                 for a, b in zip(x, y)]
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cells)],
                                   "i long, cell long")
        rows = et.with_tile(df, z, quadkey_col=True).orderBy("i").collect()
        for i, row in enumerate(rows):
            assert (row.tile_x, row.tile_y) == (x[i], y[i])
            assert row.quadkey == og.quadkey(z, int(x[i]), int(y[i]))
            assert len(row.quadkey) == z


def test_tile_key_equals_cell_parent(spark):
    # tile Morton id == cell parent at z — the native no-UDF grouping key
    r = np.random.default_rng(8)
    lon = r.uniform(-180, 180, 200)
    lat = r.uniform(-85, 85, 200)
    df = ec.with_cell(spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat})))
    for z in (4, 9, 14):
        rows = et.with_tile(df, z).select(
            "tile_x", "tile_y", et.tile_key_col("cell", z).alias("tk"),
            "cell").collect()
        for row in rows:
            assert row.tk == og.morton(row.tile_x, row.tile_y, z)
            assert row.tk == og.cell_parent(row.cell, z)


def test_with_tile_spark(spark):
    pdf = pd.DataFrame(
        {"lon": [-180.0, 0.0, 179.99, 13.4], "lat": [-85.0, 0.0, 85.0, 52.5]}
    )
    df = ec.with_cell(spark.createDataFrame(pdf))
    out = et.with_tile(df, z=12, quadkey_col=True)
    for r in out.collect():
        wz, wx, wy = og.tile(r.lon, r.lat, 12)
        assert (r.tile_z, r.tile_x, r.tile_y) == (wz, wx, wy)
        assert r.quadkey == og.quadkey(12, wx, wy)


def test_tile_pyramid_invariants(spark):
    """Pyramid rollup: every level conserves the total point count, each
    parent's n equals the sum of its four children, and every level
    equals a direct groupBy at that zoom (the rollup is just a cheaper
    plan for the same result)."""
    from pyspark.sql import functions as F

    from engine.geo.cells import with_cell
    from engine.synth import gen_points

    pts = with_cell(gen_points(spark, 4000, seed=7))
    pyr = et.tile_pyramid(pts, z_max=8, z_min=4).collect()
    levels: dict[int, dict[tuple[int, int], int]] = {}
    for r in pyr:
        levels.setdefault(r.tile_z, {})[(r.tile_x, r.tile_y)] = r.n
    for z in range(4, 9):
        assert sum(levels[z].values()) == 4000, f"level {z} lost points"
        direct = {(r.tile_x, r.tile_y): r.n
                  for r in et.with_tile(pts, z=z)
                  .groupBy("tile_x", "tile_y").agg(F.count("*").alias("n"))
                  .collect()}
        assert levels[z] == direct, f"level {z} != direct groupBy"
    for z in range(5, 9):
        for (x, y), n in levels[z - 1].items():
            kids = sum(levels[z].get((x * 2 + dx, y * 2 + dy), 0)
                       for dx in (0, 1) for dy in (0, 1))
            assert kids == n, f"parent {(z-1, x, y)} != sum of children"
