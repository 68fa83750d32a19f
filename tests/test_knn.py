"""D10 — kNN join vs brute force (SURVEY.md §5.5; BASELINE.json:6 kNN)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from engine.geo.knn import knn_bruteforce_df, knn_join
from engine.planner import choose_knn_level
from oracle import geo as og


def _tables(spark, seed=17, n_pts=4000, n_q=60):
    r = np.random.default_rng(seed)
    plon = r.uniform(-180, 180, n_pts)
    plat = r.uniform(-85, 85, n_pts)
    # clump half the points into 3 cities so density varies
    for ci, (clon, clat) in enumerate([(2.3, 48.8), (-74.0, 40.7), (139.7, 35.7)]):
        s = slice(ci * n_pts // 6, (ci + 1) * n_pts // 6)
        m = s.stop - s.start
        plon[s] = clon + r.normal(0, 0.5, m)
        plat[s] = clat + r.normal(0, 0.5, m)
    qlon = r.uniform(-180, 180, n_q)
    qlat = r.uniform(-85, 85, n_q)
    forced_lon = [179.95, -179.9, 2.31, 0.0, -74.1]  # antimeridian + dense
    forced_lat = [0.0, 10.0, 48.81, 84.9, 40.65]
    m = min(5, n_q)
    qlon[:m] = forced_lon[:m]
    qlat[:m] = forced_lat[:m]
    pts = spark.createDataFrame(pd.DataFrame(
        {"image_id": [f"p{i:06d}" for i in range(n_pts)], "lon": plon, "lat": plat}))
    qs = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(n_q, dtype=np.int64), "lon": qlon, "lat": qlat}))
    return pts, qs, plon, plat, qlon, qlat


def test_knn_matches_bruteforce(spark):
    pts, qs, plon, plat, qlon, qlat = _tables(spark)
    k = 10
    level = choose_knn_level(4000, k)
    got = knn_join(qs, pts, k=k, level=level)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.qid, []).append((r.rn, r.image_id, r.dist_m))
    pts_list = [(f"p{i:06d}", plon[i], plat[i]) for i in range(len(plon))]
    for qi in range(len(qlon)):
        want = og.knn_bruteforce(qlon[qi], qlat[qi], pts_list, k)
        gl = sorted(got_map[qi])
        assert len(gl) == k
        assert [g[1] for g in gl] == [w[0] for w in want], f"qid {qi}"
        # numpy's SIMD trig differs from libm by ~1 ulp; ids must match
        # exactly, distances to 1e-6 m
        np.testing.assert_allclose([g[2] for g in gl], [w[1] for w in want],
                                   rtol=0, atol=1e-6)


def test_knn_matches_spark_bruteforce_df(spark):
    pts, qs, *_ = _tables(spark, seed=33, n_pts=1500, n_q=25)
    k = 7
    level = choose_knn_level(1500, k)
    fast = {(r.qid, r.rn, r.image_id)
            for r in knn_join(qs, pts, k=k, level=level).collect()}
    slow = {(r.qid, r.rn, r.image_id)
            for r in knn_bruteforce_df(qs, pts, k=k).collect()}
    assert fast == slow


def test_knn_k_larger_than_points(spark):
    pts, qs, *_ = _tables(spark, seed=5, n_pts=6, n_q=4)
    out = knn_join(qs, pts, k=10, level=4)
    counts = {r.qid: 0 for r in out.collect()}
    for r in out.collect():
        counts[r.qid] = max(counts[r.qid], r.rn)
    assert all(v == 6 for v in counts.values())


def test_knn_level_too_fine_still_exact(spark):
    # sparse points at a fine level forces several expansion rounds
    pts, qs, plon, plat, qlon, qlat = _tables(spark, seed=9, n_pts=300, n_q=10)
    k = 5
    got = knn_join(qs, pts, k=k, level=8)
    pts_list = [(f"p{i:06d}", plon[i], plat[i]) for i in range(len(plon))]
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.qid, []).append((r.rn, r.image_id))
    for qi in range(len(qlon)):
        want = [w[0] for w in og.knn_bruteforce(qlon[qi], qlat[qi], pts_list, k)]
        assert [g[1] for g in sorted(got_map[qi])] == want


# ---------------------------------------------------------------- D13


def test_dwithin_matches_bruteforce(spark):
    """dwithin_join == exhaustive cross-join filter, per-query radii,
    including antimeridian and high-latitude queries (mercator cell
    shrink forces large safe ring radii)."""
    from engine.geo.knn import dwithin_bruteforce_df, dwithin_join
    pts, qs, *_ = _tables(spark, seed=21, n_pts=2500, n_q=20)
    r = np.random.default_rng(7)
    radii = r.uniform(2e5, 3e6, 20)
    qs = spark.createDataFrame(pd.DataFrame({
        "qid": np.arange(20, dtype=np.int64),
        "lon": [row.lon for row in qs.orderBy("qid").collect()],
        "lat": [row.lat for row in qs.orderBy("qid").collect()],
        "radius_m": radii,
    }))
    # sorted lists, not sets: a disk that emitted a cell twice would
    # duplicate every point in it
    fast = sorted((r_.qid, r_.image_id) for r_ in
                  dwithin_join(qs, pts, level=6).collect())
    slow = sorted((r_.qid, r_.image_id) for r_ in
                  dwithin_bruteforce_df(qs, pts).collect())
    assert fast == slow
    assert len(fast) > 50  # non-trivial fixture


def test_dwithin_near_pole_unbounded_block(spark):
    """A query near the mercator clamp with a huge radius: the safe
    block is unbounded (guarantee inf) and the join still matches
    brute force."""
    from engine.geo.knn import dwithin_bruteforce_df, dwithin_join
    pts, _, *_ = _tables(spark, seed=3, n_pts=800, n_q=5)
    qs = spark.createDataFrame(
        pd.DataFrame({"qid": [0, 1], "lat": [84.9, -84.9],
                      "lon": [0.0, 179.9], "radius_m": [4e6, 6e6]}))
    fast = sorted((r.qid, r.image_id) for r in
                  dwithin_join(qs, pts, level=6).collect())
    slow = sorted((r.qid, r.image_id) for r in
                  dwithin_bruteforce_df(qs, pts).collect())
    assert fast == slow and len(fast) > 0


def test_safe_ring_radius_guarantee_property():
    """For random queries/radii: block_guarantee(safe_r) > R (or inf),
    and safe_r is not wastefully large (guarantee((r-1)//2) <= R for the
    doubling predecessor)."""
    from engine.geo.cells import cell_encode_np, demorton_np
    from engine.geo.knn import block_guarantee_np, safe_ring_radius_np
    rng = np.random.default_rng(42)
    la = rng.uniform(-84, 84, 300)
    lo = rng.uniform(-180, 180, 300)
    rad = rng.uniform(1e4, 8e6, 300)
    level = 6
    cells = cell_encode_np(lo, la) >> np.int64(2 * (30 - level))
    x, y = demorton_np(cells)
    r = safe_ring_radius_np(la, lo, x, y, rad, level)
    guar = block_guarantee_np(la, lo, x, y, r, level)
    assert np.all(guar > rad)
    prev = (r - 1) // 2
    grew = r > 1
    gprev = block_guarantee_np(la[grew], lo[grew], x[grew], y[grew],
                               prev[grew], level)
    assert np.all(~(gprev > rad[grew]))


# ------------------------------------------------- conflation composite

def test_conflate_join_equals_brute_force(spark):
    # the conflation composite at sf0.001: blocking + name verify must
    # reproduce exhaustive search over BOTH predicates
    import math
    import __spark_entry__ as m
    from oracle.geo import haversine_m
    sf = "/root/testdata/sf0.001"
    got = {(r.qid, r.id): (r.dist_m, r.editdist)
           for r in m.queries()["geo_conflate_join"](spark, sf).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    pts = m._points(spark, sf).collect()
    exp = {}
    for qid, qla, qlo, rad in m.DWITHIN_QUERIES:
        na = f"poi{qid % 5}"
        for p in pts:
            d = haversine_m(qlo, qla, p.lon, p.lat)
            nb = f"poi{p.id % 7}" + ("x" if p.id % 11 == 0 else "")
            e = lev(na, nb)
            if d <= rad and e <= 2:
                exp[(qid, p.id)] = (round(d, 1), e)
    assert set(got) == set(exp)
    for k in got:
        assert got[k][1] == exp[k][1]
        assert abs(got[k][0] - exp[k][0]) < 0.2  # float rounding seam
    assert len(got) > 0
