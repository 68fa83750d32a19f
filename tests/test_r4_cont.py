"""Late-r4 operators: adaptive quadtree, grid-density clustering (and
the pointer-jumping connected-components upgrade it required),
cross-track distance, hex rollup, KDE tiles, and integer OLS.  Each is
checked against a pure-Python/numpy oracle on seeded random input."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.geo.cells import with_cell
from engine.geo.cluster import grid_density_clusters
from engine.geo.dist import bearing_np, crosstrack_np, haversine_np
from engine.geo.hexbin import hexbin_counts, hexbin_rollup
from engine.geo.raster import kde_tiles
from engine.geo.tiles import adaptive_quadtree
import engine.graph as graph
from engine.graph import connected_components
from oracle.geo import LEVEL, lonlat_to_xy


def _xy_np(lon, lat):
    xy = np.array([lonlat_to_xy(a, b) for a, b in zip(lon, lat)],
                  dtype=np.int64)
    return xy[:, 0], xy[:, 1]


def _pts(rng, n=3000):
    # clustered + uniform mix so quadtrees/density grids have structure
    cx = rng.uniform(-170, 170, 8)
    cy = rng.uniform(-75, 75, 8)
    k = rng.integers(0, 8, n)
    lon = np.clip(cx[k] + rng.normal(0, 3, n), -179.9, 179.9)
    lat = np.clip(cy[k] + rng.normal(0, 2, n), -84.9, 84.9)
    return lon, lat


# ------------------------------------------------------------ quadtree


def _quadtree_oracle(tx, ty, z_max, z_root, k):
    """Recursive top-down split over per-leaf-tile coordinate arrays."""
    leaves = []

    def rec(z, x, y, mask):
        n = int(mask.sum())
        if n == 0:
            return
        if n <= k or z == z_max:
            leaves.append((z, x, y, n))
            return
        sh = z_max - z - 1
        for qx in (2 * x, 2 * x + 1):
            for qy in (2 * y, 2 * y + 1):
                sub = mask & ((tx >> sh) == qx) & ((ty >> sh) == qy)
                rec(z + 1, qx, qy, sub)

    sh0 = z_max - z_root
    for x in np.unique(tx >> sh0):
        for y in np.unique(ty[(tx >> sh0) == x] >> sh0):
            rec(z_root, int(x), int(y),
                ((tx >> sh0) == x) & ((ty >> sh0) == y))
    return sorted(leaves)


def test_adaptive_quadtree_matches_recursive_oracle(spark, rng):
    lon, lat = _pts(rng, 2500)
    z_max, z_root, k = 8, 2, 16
    xi, yi = _xy_np(lon, lat)
    tx, ty = xi >> (LEVEL - z_max), yi >> (LEVEL - z_max)
    want = _quadtree_oracle(tx, ty, z_max, z_root, k)
    df = with_cell(spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat})))
    got = sorted((r.tile_z, r.tile_x, r.tile_y, r.n)
                 for r in adaptive_quadtree(df, z_max=z_max, z_root=z_root,
                                            k=k).collect())
    assert got == want


def test_adaptive_quadtree_partitions_input_exactly(spark, rng):
    lon, lat = _pts(rng, 4000)
    df = with_cell(spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat})))
    leaves = adaptive_quadtree(df, z_max=9, z_root=2, k=32).collect()
    assert sum(r.n for r in leaves) == 4000
    # no leaf is an ancestor of another
    byz = {(r.tile_z, r.tile_x, r.tile_y) for r in leaves}
    for (z, x, y) in byz:
        for za in range(2, z):
            assert (za, x >> (z - za), y >> (z - za)) not in byz
    # capacity rule: non-forced leaves hold <= k
    assert all(r.n <= 32 for r in leaves if r.tile_z < 9)


# ------------------------------------------------- density clustering


def _cc_oracle(edges, nodes):
    lbl = {v: v for v in nodes}

    def find(v):
        while lbl[v] != v:
            lbl[v] = lbl[lbl[v]]
            v = lbl[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lbl[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def test_grid_density_matches_bfs_oracle(spark, rng):
    lon, lat = _pts(rng, 3000)
    g, min_pts = 6, 3
    xi, yi = _xy_np(lon, lat)
    gx, gy = xi >> (LEVEL - g), yi >> (LEVEL - g)
    cnt = {}
    for a, b in zip(gx.tolist(), gy.tolist()):
        cnt[(a, b)] = cnt.get((a, b), 0) + 1
    core = {c for c, n in cnt.items() if n >= min_pts}
    key = {c: (c[0] << g) | c[1] for c in core}
    edges = [(key[a], key[b]) for a in core for b in core
             if a < b and abs(a[0] - b[0]) <= 1 and abs(a[1] - b[1]) <= 1]
    want_lbl = _cc_oracle(edges, set(key.values()))
    want = sorted((c[0], c[1], cnt[c], want_lbl[key[c]]) for c in core)
    got = sorted(
        (r.gx, r.gy, r.n, r.cluster_id)
        for r in grid_density_clusters(
            spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})),
            grid_bits=g, min_pts=min_pts).collect())
    assert got == want


def test_connected_components_long_path_converges(spark, monkeypatch):
    """Pointer jumping makes a 200-node path converge well inside the
    25-round cap (plain min-propagation needs ~200 rounds — this is the
    regression test for the O(log d) upgrade).  Run on the bounded-collect
    finish and, with its threshold at 0, on the distributed rounds."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": np.arange(199), "id_b": np.arange(1, 200)}))
    for small_rows in (graph._SMALL_CC_ROWS, 0):
        monkeypatch.setattr(graph, "_SMALL_CC_ROWS", small_rows)
        got = connected_components(pairs).collect()
        assert len(got) == 200, small_rows
        assert all(r.cluster_id == 0 for r in got), small_rows


# ------------------------------------------------------- cross-track


def test_crosstrack_zero_on_the_great_circle(rng):
    # points along the equator vs the equator great circle
    lon = rng.uniform(-60, 60, 50)
    xt = crosstrack_np(lon, np.zeros(50), -10.0, 0.0, 20.0, 0.0)
    assert np.abs(xt).max() < 1e-6


def test_crosstrack_sign_and_magnitude(rng):
    # small offsets north of the equator route: xt ~ -meridian distance
    # for the (A->B eastward) convention sin(b13-b12); check magnitude
    # against haversine to the foot point and the antisymmetric sign
    lat_off = 0.5
    xt_n = crosstrack_np(5.0, lat_off, -10.0, 0.0, 20.0, 0.0)
    xt_s = crosstrack_np(5.0, -lat_off, -10.0, 0.0, 20.0, 0.0)
    d = haversine_np(5.0, lat_off, 5.0, 0.0)
    assert np.isclose(abs(xt_n), d, rtol=1e-4)
    assert np.isclose(xt_n, -xt_s, rtol=1e-7)
    assert xt_n != xt_s


def test_bearing_cardinal_directions():
    assert np.isclose(bearing_np(0.0, 0.0, 0.0, 10.0), 0.0)          # north
    assert np.isclose(bearing_np(0.0, 0.0, 10.0, 0.0), np.pi / 2)    # east
    assert np.isclose(abs(bearing_np(0.0, 0.0, 0.0, -10.0)), np.pi)  # south


# -------------------------------------------------------- hex rollup


def test_hexbin_rollup_conserves_and_nests(spark, rng):
    lon, lat = _pts(rng, 3000)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    fine = hexbin_counts(df, size=8).collect()
    got = hexbin_rollup(df, size=8, coarse=24).collect()
    assert sum(r.n_points for r in got) == 3000
    assert sum(r.n_fine for r in got) == len(fine)
    # every coarse center is on the coarse lattice (one of the two
    # offset sub-lattices) and the rollup is a FUNCTION of the fine hex
    from engine.geo.hexbin import H_UNITS, W_UNITS
    w, h = W_UNITS * 24, H_UNITS * 24
    for r in got:
        on_a = r.HX % (2 * w) == 0 and r.HY % (2 * h) == 0
        on_b = r.HX % (2 * w) == w and r.HY % (2 * h) == h
        assert on_a or on_b


# --------------------------------------------------------- KDE tiles


def test_kde_matches_numpy_convolution(spark, rng):
    lon, lat = _pts(rng, 3000)
    z, r = 5, 2
    xi, yi = _xy_np(lon, lat)
    tx, ty = xi >> (LEVEL - z), yi >> (LEVEL - z)
    n_t = 1 << z
    grid = np.zeros((n_t, n_t + 2 * r), dtype=np.int64)  # pad y
    for a, b in zip(tx.tolist(), ty.tolist()):
        grid[a, b + r] += 1
    want = np.zeros_like(grid)
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            w = (r + 1 - abs(dx)) * (r + 1 - abs(dy))
            want += w * np.roll(grid, (dx, dy), axis=(0, 1))  # x cyclic
    got = kde_tiles(
        spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})),
        z=z, radius=r).collect()
    assert {(g.tile_x, g.tile_y) for g in got} == \
        {(a, b) for a, b in zip(tx.tolist(), ty.tolist())}
    for g in got:
        assert g.kde == want[g.tile_x, g.tile_y + r], (g.tile_x, g.tile_y)
        assert g.n == grid[g.tile_x, g.tile_y + r]


# ---------------------------------------------------------- OLS agg


def test_agg_ols_slope_matches_numpy(spark, sf_dir):
    import __spark_entry__ as entry
    rows = entry.queries()["agg_ols"](spark, sf_dir).collect()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    # Spark/DuckDB round() is half-AWAY-from-zero; pandas .round() is
    # half-even — emulate the engine's rule (values are positive)
    li["x"] = np.floor(li.l_quantity.to_numpy() + 0.5).astype(np.int64)
    li["y"] = np.floor(li.l_extendedprice.to_numpy() + 0.5).astype(np.int64)
    li["ship_year"] = pd.DatetimeIndex(li.l_shipdate).year.astype(np.int64)
    assert len(rows) > 0
    for row in rows:
        g = li[(li.l_returnflag == row.l_returnflag)
               & (li.l_linestatus == row.l_linestatus)
               & (li.ship_year == row.ship_year)]
        assert row.n == len(g)
        if row.slope_den != 0:
            slope = np.polyfit(g.x.to_numpy(float), g.y.to_numpy(float), 1)[0]
            assert np.isclose(row.slope_num / row.slope_den, slope,
                              rtol=1e-7)


# ------------------------------------------------ image percentiles

def test_img_percentiles_matches_brute_sort(spark):
    import numpy as np
    from engine.image.codec import decode
    from engine.image.histogram import image_percentiles
    from engine.synth import gen_images
    imgs = gen_images(spark, 24, seed=42)
    got = {r.image_id: (r.n_pixels, r.p25, r.p50, r.p90)
           for r in image_percentiles(imgs).collect()}
    for r in imgs.collect():
        pix = decode(r.bytes, int(r.w), int(r.h), r.fmt)
        lum = np.sort(pix.astype(np.int64).sum(axis=2).ravel())
        n = lum.size
        want = tuple(int(lum[-(-p * n // 100) - 1]) for p in (25, 50, 90))
        assert got[r.image_id] == (n,) + want


def test_img_percentiles_rank_contract_closed_form(spark):
    # a synthetic 2x2 image with luminances {0, 3, 6, 765}: ranks
    # ceil(25*4/100)=1 -> 0, ceil(50*4/100)=2 -> 3, ceil(90*4/100)=4
    # -> 765 — the discrete (never interpolated) definition.
    import numpy as np
    from engine.image.histogram import percentiles_np
    pix = np.zeros((2, 2, 3), np.uint8)
    pix[0, 1] = (1, 1, 1)
    pix[1, 0] = (2, 2, 2)
    pix[1, 1] = (255, 255, 255)
    assert percentiles_np(pix) == [0, 3, 765]


def test_agg_moments_matches_numpy_and_binomial_identities(spark):
    import numpy as np
    import pandas as pd

    import __spark_entry__ as m
    got = {r.event_type: r for r in m.queries()["agg_moments"](
        spark, "/root/testdata/sf0.001").collect()}
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    # SQL round() is half-away-from-zero; numpy's is half-to-even —
    # values are non-negative so floor(v + 0.5) realizes the contract
    ev["v"] = np.floor(ev["value"] + 0.5).astype("int64")
    for et, g in ev.groupby("event_type"):
        v = g["v"].to_numpy()
        r = got[et]
        assert (r.n, r.s1, r.s2, r.s3, r.s4) == (
            len(v), int(v.sum()), int((v ** 2).sum()),
            int((v ** 3).sum()), int((v ** 4).sum()))
        # binomial-identity epilogue: central m2 from power sums equals
        # numpy's population variance
        m2 = (r.s2 - r.s1 ** 2 / r.n) / r.n
        assert m2 == pytest.approx(float(v.var()), rel=1e-12)
        m3 = (r.s3 - 3 * r.s1 * r.s2 / r.n + 2 * r.s1 ** 3 / r.n ** 2) / r.n
        assert m3 == pytest.approx(float(((v - v.mean()) ** 3).mean()),
                                   rel=1e-9, abs=1e-6)


def test_agg_gini_matches_numpy_and_closed_forms(spark):
    import numpy as np
    import pandas as pd

    import __spark_entry__ as m
    got = {r.event_type: (r.n, r.sum_x, r.sum_ix)
           for r in m.queries()["agg_gini"](
               spark, "/root/testdata/sf0.001").collect()}
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ev["x"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    for et, g in ev.groupby("event_type"):
        # the pinned tie rule: ascending (value, event_id)
        xs = g.sort_values(["x", "event_id"])["x"].to_numpy()
        n = len(xs)
        want = (n, int(xs.sum()),
                int((np.arange(1, n + 1) * xs).sum()))
        assert got[et] == want
        # Gini epilogue sanity: 0 <= G < 1 for non-negative data
        gini = (2 * want[2]) / (n * want[1]) - (n + 1) / n
        assert 0 <= gini < 1
    # closed forms: constant series -> G = 0; one-hot series ->
    # G = (n-1)/n
    const = np.full(8, 5)
    i = np.arange(1, 9)
    g_const = (2 * (i * const).sum()) / (8 * const.sum()) - 9 / 8
    assert g_const == 0
    onehot = np.array([0] * 7 + [100])
    g_hot = (2 * (i * onehot).sum()) / (8 * onehot.sum()) - 9 / 8
    assert g_hot == (8 - 1) / 8


def test_agg_cov_matches_numpy_epilogue(spark):
    import numpy as np
    import pandas as pd

    import __spark_entry__ as m
    got = {r.l_returnflag: r for r in m.queries()["agg_cov"](
        spark, "/root/testdata/sf0.001").collect()}
    li = pd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    li["q"] = np.floor(li["l_quantity"] * 100 + 0.5).astype("int64")
    li["p"] = np.floor(li["l_extendedprice"] + 0.5).astype("int64")
    li["d"] = np.floor(li["l_discount"] * 100 + 0.5).astype("int64")
    for rf, g in li.groupby("l_returnflag"):
        r = got[rf]
        q, p, d = (g[c].to_numpy() for c in "qpd")
        assert (r.n, r.s_q, r.s_p, r.s_d) == (
            len(q), q.sum(), p.sum(), d.sum())
        assert (r.s_qq, r.s_pp, r.s_dd) == (
            (q * q).sum(), (p * p).sum(), (d * d).sum())
        assert (r.s_qp, r.s_qd, r.s_pd) == (
            (q * p).sum(), (q * d).sum(), (p * d).sum())
        # covariance epilogue == numpy's (sample, ddof=1)
        cov_qp = (r.s_qp - r.s_q * r.s_p / r.n) / (r.n - 1)
        assert cov_qp == pytest.approx(
            float(np.cov(q, p, ddof=1)[0, 1]), rel=1e-12)
        # correlation epilogue in [-1, 1]
        vq = (r.s_qq - r.s_q ** 2 / r.n) / (r.n - 1)
        vp = (r.s_pp - r.s_p ** 2 / r.n) / (r.n - 1)
        assert abs(cov_qp / (vq * vp) ** 0.5) <= 1
