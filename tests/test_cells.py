"""C1/C2/C4 — vectorized cells vs pure-Python oracle (SURVEY.md §5.2/5.5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.geo import cells as ec
from oracle import geo as og

SEEDS = list(range(5))


def _rand_lonlat(seed, n=500):
    r = np.random.default_rng(seed)
    lon = r.uniform(-180, 180, n)
    lat = r.uniform(-85.05112878, 85.05112878, n)
    # force edge cases
    lon[:5] = [-180.0, 180.0, 179.999999, -179.999999, 0.0]
    lat[5:10] = [85.05112878, -85.05112878, 85.06, -85.06, 0.0]
    return lon, lat


@pytest.mark.parametrize("seed", SEEDS)
def test_cell_encode_matches_oracle(seed):
    lon, lat = _rand_lonlat(seed)
    got = ec.cell_encode_np(lon, lat)
    want = np.array([og.cell_encode(lo, la) for lo, la in zip(lon, lat)])
    np.testing.assert_array_equal(got, want)


def test_morton_roundtrip():
    r = np.random.default_rng(7)
    x = r.integers(0, 1 << 30, 1000).astype(np.int64)
    y = r.integers(0, 1 << 30, 1000).astype(np.int64)
    c = ec.morton_np(x, y)
    assert c.dtype == np.int64
    assert (c >= 0).all()
    x2, y2 = ec.demorton_np(c)
    np.testing.assert_array_equal(x, x2)
    np.testing.assert_array_equal(y, y2)


def test_cell_parent_matches_oracle():
    r = np.random.default_rng(3)
    lon = r.uniform(-180, 180, 200)
    lat = r.uniform(-85, 85, 200)
    c = ec.cell_encode_np(lon, lat)
    for level in (4, 8, 12, 20, 30):
        want = np.array([og.cell_parent(int(v), level) for v in c])
        got = c >> np.int64(2 * (30 - level))
        np.testing.assert_array_equal(got, want)


def _disk_cases(z):
    """The four corners, a pole-row cell and an interior cell at level z,
    each with radii 0..3, 17 and 300 (past the whole-row wrap)."""
    n = 1 << z
    xys = [(0, 0), (n - 1, 0), (0, n - 1), (n - 1, n - 1), (n // 2, 0),
           (n // 2 - 1, n // 2)]
    return [(x, y, k) for x, y in xys for k in (0, 1, 2, 3, 17, 300)]


def test_ring_and_disk_match_oracle(spark):
    """explode_disk with a per-row radius column emits exactly
    og.cell_disk — sorted lists, so a cell emitted twice fails — and,
    while 2k+1 <= 2^z (no x offset wraps onto another), the ring
    differences of consecutive radii equal og.cell_ring."""
    for z in (2, 4, 8):
        cases = _disk_cases(z)
        df = spark.createDataFrame(
            [(i, og.morton(x, y, z), k) for i, (x, y, k) in enumerate(cases)],
            "case long, cp long, r int")
        got = {row.case: row.cells for row in
               ec.explode_disk(df, z, "r", "cp", "c").groupBy("case")
               .agg(F.sort_array(F.collect_list("c")).alias("cells"))
               .collect()}
        disks = {}
        for i, (x, y, k) in enumerate(cases):
            assert got.get(i, []) == og.cell_disk(x, y, z, k), (x, y, z, k)
            disks[x, y, k] = set(got.get(i, []))
        for (x, y, k), d in disks.items():
            if 0 < k <= 3 and 2 * k + 1 <= 1 << z:
                ring = sorted(d - disks[x, y, k - 1])
                assert ring == og.cell_ring(x, y, z, k), (x, y, z, k)


def test_disk_literal_radius_keeps_row_columns(spark):
    df = ec.with_cell(spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "lon": [0.5, 179.9], "lat": [0.5, 85.0]})))
    level, k = 8, 2
    df = df.select("id", ec.cell_parent_col("cell", level).alias("cp"))
    out = ec.explode_disk(df, level, k, "cp")
    assert out.columns == ["id", "cp", "cell"]
    got = {}
    for r in out.collect():
        got.setdefault((r.id, r.cp), []).append(r.cell)
    assert len(got) == 2
    for (_, cp), cells in got.items():
        x, y = og.demorton(cp, level)
        assert sorted(cells) == og.cell_disk(x, y, level, k)


def test_ring_wraps_antimeridian_and_clamps_poles():
    # x=0 wraps to 2^z - 1; y=0 drops the row above the pole
    z, k = 4, 1
    got = og.cell_ring(0, 0, z, k)
    xs_ys = [og.demorton(c, z) for c in got]
    assert (15, 0) in xs_ys and (1, 0) in xs_ys
    assert all(0 <= y < (1 << z) for _, y in xs_ys)


def test_spark_cell_udf_and_prefix(spark):
    lon, lat = _rand_lonlat(11, 300)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = ec.with_cell(spark.createDataFrame(pdf))
    df = ec.with_cell_prefix(df, 12)
    rows = df.select("lon", "lat", "cell", "cell_p12").collect()
    for r in rows:
        want = og.cell_encode(r.lon, r.lat)
        assert r.cell == want
        assert r.cell_p12 == og.cell_parent(want, 12)
