"""E2E golden pipeline (SURVEY.md §5.4): flagship on 1000 synthetic images
x 12-polygon layer — join rows + tile assignments equal the oracle's,
identical on re-run, identical after kill-and-resume at a checkpoint."""

from __future__ import annotations

import os

import pytest

from engine.flagship import flagship_config, flagship_stages
from engine.pipeline import KillPoint, Stage, run_pipeline, stage_output
from engine.geo.layer import PolygonLayer
from engine.synth import gen_images_local
from oracle import geo as og

N = 1000
LEVEL, Z = 8, 12


@pytest.fixture(scope="module")
def layer():
    return PolygonLayer.from_json()


@pytest.fixture(scope="module")
def oracle_truth(layer):
    pdf = gen_images_local(N)
    parts = layer.parts()
    pairs = set()
    tiles = {}
    for row in pdf.itertuples(index=False):
        for pid, pp in parts.items():
            if any(og.point_in_polygon(row.lon, row.lat, r.tolist(),
                                       [h.tolist() for h in hs])
                   for r, hs in pp):
                pairs.add((row.image_id, pid))
                z, tx, ty = og.tile(row.lon, row.lat, Z)
                key = (pid, z, tx, ty, og.quadkey(z, tx, ty))
                tiles[key] = tiles.get(key, 0) + 1
    return pairs, tiles


def _run(spark, layer, root, **kw):
    stages = flagship_stages(layer, N, level=LEVEL, z=Z, parts=4)
    cfg = flagship_config(N, 42, (-180.0, -85.05112878, 180.0, 85.05112878),
                          LEVEL, Z)
    return run_pipeline(spark, stages, root, cfg, **kw)


def _collect(spark, root):
    joined = sorted(
        (r.image_id, r.poly_id)
        for r in stage_output(spark, root, "joined").collect()
    )
    tiles = sorted(
        tuple(r) for r in stage_output(spark, root, "tile_counts").collect()
    )
    return joined, tiles


def test_flagship_matches_oracle_and_is_deterministic(spark, tmp_path, layer,
                                                      oracle_truth):
    pairs, tiles = oracle_truth
    root = str(tmp_path / "run1")
    res = _run(spark, layer, root)
    assert res.executed == ["images", "extract", "joined", "tiled", "tile_counts"]
    joined, tile_rows = _collect(spark, root)
    assert set(joined) == pairs
    got_tiles = {(r[0], r[1], r[2], r[3], r[4]): r[5] for r in tile_rows}
    assert got_tiles == tiles

    # re-run in a fresh root: row-identical (SURVEY.md §7.4.5 determinism)
    root2 = str(tmp_path / "run2")
    _run(spark, layer, root2)
    assert _collect(spark, root2) == (joined, tile_rows)


def test_kill_and_resume_identical(spark, tmp_path, layer, oracle_truth):
    pairs, _ = oracle_truth
    for kill_at in ("images", "joined"):
        root = str(tmp_path / f"kill_{kill_at}")
        with pytest.raises(KillPoint):
            _run(spark, layer, root, fail_after=kill_at)
        res = _run(spark, layer, root, resume=True)
        # everything up to and including the kill point was resumed
        killed_idx = ["images", "extract", "joined", "tiled",
                      "tile_counts"].index(kill_at)
        assert res.resumed == ["images", "extract", "joined",
                               "tiled", "tile_counts"][: killed_idx + 1]
        joined, _tiles = _collect(spark, root)
        assert set(joined) == pairs


def test_resume_skips_everything_on_second_run(spark, tmp_path, layer):
    root = str(tmp_path / "noop")
    _run(spark, layer, root)
    res = _run(spark, layer, root)
    assert res.executed == []
    assert len(res.resumed) == 5


def test_metrics_and_lineage_populated(spark, tmp_path, layer):
    root = str(tmp_path / "metr")
    _run(spark, layer, root)
    from engine.metrics import MetricsSink
    sink = MetricsSink(root)
    m = {r.stage: r for r in sink.metrics_df(spark).collect()}
    assert set(m) == {"images", "extract", "joined", "tiled", "tile_counts"}
    assert m["images"].rows_out == N
    lg = sink.lineage_df(spark).collect()
    stages = {r.stage for r in lg}
    assert "images" in stages and "joined" in stages
    img_rows = sum(r.rows for r in lg if r.stage == "images")
    assert img_rows == N


def test_icelite_spelled_root_keeps_sink_under_root(spark, tmp_path,
                                                    monkeypatch):
    from engine.icelite import IceliteTable
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = tmp_path / "pipe"
    res = run_pipeline(spark, [Stage("only", lambda s, _: s.range(10))],
                       f"icelite:{root}", {"k": 1})
    assert res.executed == ["only"]
    for name in ("only", "_metrics", "_lineage"):
        assert IceliteTable(str(root / name)).exists(), name
    assert os.listdir(cwd) == []


def test_root_named_like_a_backend_is_a_plain_path(tmp_path, monkeypatch):
    from engine.metrics import MetricsSink
    from engine.table_protocol import parse_root
    monkeypatch.chdir(tmp_path)
    for name in ("icelite", "iceberg"):
        assert parse_root(name) == ("icelite", name)
        assert MetricsSink(name).metrics.root == f"{name}/_metrics"


def test_iceberg_root_sink_fails_before_first_stage(spark):
    ran = []
    with pytest.raises(ValueError, match="emit_metrics=False"):
        run_pipeline(spark, [Stage("only", lambda s, _: ran.append(s))],
                     "iceberg:cat.db", {"k": 1})
    assert ran == []
