"""A2/A3/H/L2/L3 — icelite snapshots, diff, metrics, lineage (SURVEY §5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from engine.icelite import IceliteTable
from engine.metrics import METRICS_SCHEMA, MetricsSink, StageMetrics


def test_commit_scan_timetravel(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    assert not t.exists()
    df1 = spark.range(0, 10).withColumn("tag", F.lit("a"))
    sid1 = t.commit_append(df1, stage="s1")
    df2 = spark.range(10, 25).withColumn("tag", F.lit("b"))
    sid2 = t.commit_append(df2, stage="s2")
    assert (sid1, sid2) == (1, 2)
    assert t.scan(spark).count() == 25
    assert t.scan(spark, sid1).count() == 10          # time travel
    assert t.scan_added(spark, sid2).count() == 15    # incremental
    assert t.current_snapshot_id() == 2


def test_snapshot_diff(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 5))
    t.commit_append(spark.range(5, 9))
    diff = t.diff(spark, 1, 2)
    assert sorted(r.id for r in diff.collect()) == [5, 6, 7, 8]
    assert t.diff(spark, 2, 2).count() == 0


def test_find_snapshot_by_stage_and_props(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(3), stage="x", props={"config": "c1"})
    t.commit_append(spark.range(3), stage="x", props={"config": "c2"})
    assert t.find_snapshot(stage="x", props={"config": "c1"}) == 1
    assert t.find_snapshot(stage="x", props={"config": "c2"}) == 2
    assert t.find_snapshot(stage="x", props={"config": "zz"}) is None
    assert t.find_snapshot(stage="y") is None


def test_sort_within_deterministic_files(spark, tmp_path):
    t1 = IceliteTable(str(tmp_path / "a"))
    t2 = IceliteTable(str(tmp_path / "b"))
    df = spark.range(1000).withColumn("v", F.col("id") * 3)
    t1.commit_append(df.repartition(4, "id"), sort_within=["id"])
    t2.commit_append(df.repartition(4, "id"), sort_within=["id"])
    a = sorted(tuple(r) for r in t1.scan(spark).collect())
    b = sorted(tuple(r) for r in t2.scan(spark).collect())
    assert a == b


def test_empty_table_scan_raises(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "none"))
    with pytest.raises(FileNotFoundError):
        t.scan(spark)


def test_metrics_and_lineage(spark, tmp_path):
    root = str(tmp_path / "pipe")
    sink = MetricsSink(root)
    data = IceliteTable(f"{root}/stage1")
    df, obs = sink.observed(spark.range(100).repartition(3))
    sid = data.commit_append(df, stage="stage1")
    rows = int(obs.get["rows_out"])
    assert rows == 100
    sink.emit_stage(spark, StageMetrics("r1", "stage1", sid, rows, 12.5, {}))
    sink.emit_lineage(spark, "r1", "stage1", data, sid)
    m = sink.metrics_df(spark).collect()
    assert len(m) == 1 and m[0].rows_out == 100
    lg = sink.lineage_df(spark).collect()
    assert sum(r.rows for r in lg) == 100
    assert len(lg) == 3  # one row per written partition file


def _per_file_recompute(spark, table, sid):
    return sorted(
        (r["file"], r["count"]) for r in table.scan_added(spark, sid)
        .groupBy(F.input_file_name().alias("file")).count().collect())


@pytest.mark.parametrize("case", ["multi_file", "empty_commit",
                                  "no_manifest_stats", "non_ascii_root"])
def test_lineage_rows_match_input_file_name_recompute(spark, tmp_path, case):
    """Lineage read from the manifest equals the per-file count Spark
    computes over the committed files: same file strings, same rows.
    The non-ASCII root mixes characters java.net.URI keeps raw (é, 日)
    with ones it escapes (space, no-break space, %, #)."""
    root = str(tmp_path / ("pipé 日\u00a0%#" if case == "non_ascii_root"
                           else "pipe"))
    sink = MetricsSink(root)
    data = IceliteTable(f"{root}/stage1")
    df = spark.range(100).repartition(3)
    if case == "empty_commit":
        df = df.filter(F.col("id") < 0)
    sid = data.commit_append(df, stage="stage1")
    if case == "no_manifest_stats":
        path = os.path.join(data.meta_dir, f"manifest-{sid:08d}.json")
        with open(path) as f:
            man = json.load(f)
        del man["stats"]
        with open(path, "w") as f:
            json.dump(man, f)
    expect = _per_file_recompute(spark, data, sid)
    assert sorted(data.added_file_rows(spark, sid)) == expect
    sink.emit_lineage(spark, "r1", "stage1", data, sid)
    if case == "empty_commit":
        assert data.added_files(sid)  # 0-row files are written, then skipped
        assert expect == [] and not sink.lineage.exists()
        return
    assert len(expect) == 3 and sum(n for _, n in expect) == 100
    lg = sink.lineage_df(spark).collect()
    assert {(r.run_id, r.stage, r.sid) for r in lg} == {("r1", "stage1", sid)}
    assert sorted((r.file, r.rows) for r in lg) == expect


def test_added_file_rows_count_the_commit(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(spark.range(10))
    s2 = t.commit_append(spark.range(10, 15).repartition(2))
    per_file = t.added_file_rows(spark, s2)
    assert sum(n for _, n in per_file) == 5
    assert all(isinstance(f, str) and n > 0 for f, n in per_file)


def test_sink_emits_start_no_spark_job(spark, tmp_path):
    root = str(tmp_path / "pipe")
    sink = MetricsSink(root)
    data = IceliteTable(f"{root}/stage1")
    sid = data.commit_append(spark.range(100).repartition(3), stage="stage1")
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def job_ids():
        bus.waitUntilEmpty()  # the tracker learns of jobs through the bus
        return set(tracker.getJobIdsForGroup())

    before = job_ids()
    sink.emit_stage(spark, StageMetrics("r1", "stage1", sid, 100, 12.5, {}))
    sink.emit_lineage(spark, "r1", "stage1", data, sid)
    assert job_ids() == before
    assert sink.lineage_df(spark).count() == 3
    assert job_ids() != before  # the tracker does see the scan's job


def test_commit_rows_checks_rows_before_writing(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "m"))
    good = ("r1", "s", 1, 2.5, 10, 3.0, "{}")
    with pytest.raises(ValueError, match="run_id"):
        t.commit_rows([good, (None,) + good[1:]], METRICS_SCHEMA, stage="s")
    with pytest.raises(TypeError, match="rows_out"):
        t.commit_rows([good[:4] + (1.5,) + good[5:]], METRICS_SCHEMA)
    with pytest.raises(ValueError):
        t.commit_rows([good[:-1]], METRICS_SCHEMA)
    assert not t.exists() and not os.path.exists(t.data_dir)
    sid = t.commit_rows([good], METRICS_SCHEMA, stage="s")
    assert t.snapshots()[-1]["stage"] == "s" and t.orphan_files() == []
    assert [tuple(r) for r in t.scan(spark, sid).collect()] == [good]


def test_compaction_row_identical_and_time_travels(spark, tmp_path):
    from engine.icelite import IceliteTable
    from pyspark.sql import functions as F
    t = IceliteTable(str(tmp_path / "ct"))
    df = spark.range(0, 300).withColumn("v", F.col("id") * 2)
    for m in (0, 1, 2):
        t.commit_append(df.filter(F.col("id") % 3 == m))
    pre_sid = t.current_snapshot_id()
    pre_files = len(t.files(pre_sid))
    pre_rows = sorted((r.id, r.v) for r in t.scan(spark).collect())
    sid = t.compact(spark, target_files=1)
    assert len(t.files(sid)) < pre_files
    assert sorted((r.id, r.v) for r in t.scan(spark, sid).collect()) == pre_rows
    # pre-compaction snapshot still reads the OLD files (time travel)
    assert sorted((r.id, r.v) for r in t.scan(spark, pre_sid).collect()) == pre_rows
    assert len(t.files(pre_sid)) == pre_files


def test_add_column_evolution_schema_on_read(spark, tmp_path):
    from engine.icelite import IceliteTable
    from pyspark.sql import functions as F
    t = IceliteTable(str(tmp_path / "ev"))
    base = spark.range(0, 50).withColumn("v", F.col("id") * 2)
    sid1 = t.commit_append(base)
    sid2 = t.commit_append(
        spark.range(50, 80).withColumn("v", F.col("id") * 2)
        .withColumn("tag", F.lit("new")))
    cur = t.scan(spark)
    assert cur.columns == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in cur.collect()}
    assert rows[0] is None and rows[60] == "new" and len(rows) == 80
    # time travel to sid1 keeps the OLD schema (no tag column)
    assert t.scan(spark, sid1).columns == ["id", "v"]


# ----------------------------------------------------------- snapshot expiry

def test_expire_keeps_append_chain_files(spark, tmp_path):
    # append-only history: every old file is referenced by the newest
    # snapshot, so expiry drops metadata but deletes ZERO data files
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 10))
    t.commit_append(spark.range(10, 20))
    sid3 = t.commit_append(spark.range(20, 30))
    expired, deleted = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2] and deleted == 0
    assert [s["sid"] for s in t.snapshots()] == [sid3]
    assert sorted(r.id for r in t.scan(spark).collect()) == list(range(30))


def test_expire_reclaims_replace_orphans(spark, tmp_path):
    import os
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 50).repartition(4))
    t.commit_append(spark.range(50, 100).repartition(4))
    cur = t.compact(spark, target_files=1)
    n_data_files = lambda: sum(
        f.endswith(".parquet") for root, _, fs in os.walk(t.data_dir)
        for f in fs)
    before = n_data_files()
    expired, deleted = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2] and deleted == 8        # the orphaned appends
    assert n_data_files() == before - 8
    assert sorted(r.id for r in t.scan(spark, cur).collect()) == list(range(100))


def test_expire_noop_and_expired_timetravel_raises(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    s1 = t.commit_append(spark.range(5))
    assert t.expire_snapshots(keep_last=3) == ([], 0)   # nothing to drop
    t.commit_append(spark.range(5, 9))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.scan(spark, s1)


def test_concurrent_appends_all_survive(spark, tmp_path):
    """r4 optimistic-concurrency: N threads race commit_append on the
    SAME table; every commit must land (unique sequential sids, union of
    all rows in the final view) — without the locked metadata
    transaction a stale-parent writer would drop a racer's files."""
    import threading
    t = IceliteTable(str(tmp_path / "race"))
    per, threads = 4, 5
    errs = []

    def worker(w):
        try:
            for i in range(per):
                df = spark.range(w * 1000 + i * 10, w * 1000 + i * 10 + 3) \
                    .selectExpr("id AS k")
                t.commit_append(df, stage=f"w{w}")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(w,)) for w in range(threads)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs
    snaps = t.snapshots()
    assert [s["sid"] for s in snaps] == list(range(1, per * threads + 1))
    got = sorted(r.k for r in t.scan(spark).collect())
    want = sorted(w * 1000 + i * 10 + j
                  for w in range(threads) for i in range(per) for j in range(3))
    assert got == want
    # every snapshot's file list is a superset of its parent's (no
    # lost-update: append never drops a predecessor's files)
    for a, b in zip(snaps, snaps[1:]):
        fa = set(t._manifest(a["sid"])["files"])
        fb = set(t._manifest(b["sid"])["files"])
        assert fa < fb


# ----------------------------------------------- branches / WAP (r4 cont.)

def test_branch_wap_publish(spark, tmp_path):
    """Write-audit-publish: staged branch writes are invisible on main
    until the atomic fast-forward publish."""
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 10))
    t.create_branch("audit")
    t.commit_append(spark.range(10, 25), branch="audit")
    assert t.scan(spark).count() == 10                       # main untouched
    assert t.scan(spark, branch="audit").count() == 25       # staged view
    assert t.refs() == {"main": 1, "audit": 2}
    pub = t.fast_forward("main", "audit")
    assert pub == 2
    assert t.scan(spark).count() == 25                       # published
    assert t.refs()["main"] == 2


def test_branch_commits_interleave_without_corruption(spark, tmp_path):
    """Main and branch advance independently; each head sees exactly its
    own chain (manifests are parent-chained, not log-ordered)."""
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 5))                       # sid 1 (main)
    t.create_branch("b")
    t.commit_append(spark.range(100, 103), branch="b")       # sid 2 (b)
    t.commit_append(spark.range(5, 9))                       # sid 3 (main)
    main_ids = sorted(r.id for r in t.scan(spark).collect())
    b_ids = sorted(r.id for r in t.scan(spark, branch="b").collect())
    assert main_ids == [0, 1, 2, 3, 4, 5, 6, 7, 8]
    assert b_ids == [0, 1, 2, 3, 4, 100, 101, 102]


def test_fast_forward_rejects_diverged(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(3))
    t.create_branch("b")
    t.commit_append(spark.range(3), branch="b")
    t.commit_append(spark.range(3))              # main diverges
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("main", "b")
    # the other direction IS a fast-forward after re-pointing b? No —
    # b@2 and main@3 share only sid 1; publishing main onto b must
    # also be rejected.
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("b", "main")


def test_branch_errors(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    with pytest.raises(FileNotFoundError):
        t.create_branch("b")                     # empty table
    t.commit_append(spark.range(2))
    t.create_branch("b")
    with pytest.raises(KeyError):
        t.create_branch("b")                     # duplicate
    with pytest.raises(KeyError):
        t.commit_append(spark.range(1), branch="nope")
    with pytest.raises(ValueError):
        t.drop_branch("main")
    t.drop_branch("b")
    assert "b" not in t.refs()


def test_expire_pins_branch_heads(spark, tmp_path):
    """Expiry never drops a snapshot a ref points at (Iceberg parity)."""
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 4))           # sid 1
    t.create_branch("keepme")                    # pins sid 1
    t.commit_append(spark.range(4, 8))           # sid 2
    t.commit_append(spark.range(8, 12))          # sid 3
    expired, _ = t.expire_snapshots(keep_last=1)
    assert expired == [2]                        # sid 1 pinned by ref
    assert t.scan(spark, branch="keepme").count() == 4
    assert t.scan(spark).count() == 12


def test_pre_branch_table_backcompat(spark, tmp_path):
    """A snapshots.json written before refs existed still reads: main is
    the last log entry and branching works from there."""
    import json as _json
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 6))
    # strip refs + parent/branch fields to simulate an old table
    with open(t.snap_path) as f:
        st = _json.load(f)
    for s in st["snapshots"]:
        s.pop("parent", None)
        s.pop("branch", None)
    del st["refs"]
    with open(t.snap_path, "w") as f:
        _json.dump(st, f)
    assert t.current_snapshot_id() == 1
    t.commit_append(spark.range(6, 10))
    assert t.scan(spark).count() == 10
    t.create_branch("b")
    assert t.refs()["b"] == 2


def test_rollback_moves_ref_and_preserves_time_travel(spark, tmp_path):
    from engine.icelite import IceliteTable
    t = IceliteTable(str(tmp_path / "t"))
    s1 = t.commit_append(spark.range(0, 10).selectExpr("id AS v"), stage="a")
    s2 = t.commit_append(spark.range(10, 25).selectExpr("id AS v"), stage="b")
    s3 = t.commit_append(spark.range(25, 30).selectExpr("id AS v"), stage="c")
    assert t.current_snapshot_id() == s3
    t.rollback(s2)
    assert t.current_snapshot_id() == s2
    assert t.scan(spark).count() == 25
    # the rolled-back snapshot stays time-travelable (Iceberg parity)
    assert t.scan(spark, snapshot_id=s3).count() == 30
    # appending after rollback forks history from s2
    s4 = t.commit_append(spark.range(100, 102).selectExpr("id AS v"),
                         stage="d")
    got = sorted(r["v"] for r in t.scan(spark).collect())
    assert got == list(range(25)) + [100, 101]
    assert t.current_snapshot_id() == s4


def test_rollback_rejects_non_ancestor(spark, tmp_path):
    import pytest as _pytest
    from engine.icelite import IceliteTable
    t = IceliteTable(str(tmp_path / "t"))
    s1 = t.commit_append(spark.range(3).selectExpr("id AS v"), stage="a")
    t.create_branch("audit", from_sid=s1)
    sb = t.commit_append(spark.range(5).selectExpr("id AS v"),
                         stage="b", branch="audit")
    with _pytest.raises(ValueError):
        t.rollback(sb)           # audit head is not a main ancestor


# ------------------------------------------------------------ tags

def test_tags_pin_immutably_and_survive_commits(spark, tmp_path):
    from engine.icelite import IceliteTable
    import pytest
    t = IceliteTable(str(tmp_path / "t"))
    s1 = t.commit_append(spark.range(0, 5).selectExpr("id AS v"),
                         stage="a")
    t.create_tag("v1")
    s2 = t.commit_append(spark.range(5, 9).selectExpr("id AS v"),
                         stage="b")
    assert t.tags() == {"v1": s1}
    assert t.scan_tag(spark, "v1").count() == 5
    assert t.scan(spark).count() == 9
    with pytest.raises(KeyError, match="immutable"):
        t.create_tag("v1", s2)
    t.drop_tag("v1")
    assert t.tags() == {}
    with pytest.raises(KeyError, match="unknown tag"):
        t.scan_tag(spark, "v1")
    # after drop the name is reusable (now pinning the new head)
    t.create_tag("v1")
    assert t.tags() == {"v1": s2}


def test_tag_unknown_snapshot_raises(spark, tmp_path):
    from engine.icelite import IceliteTable
    import pytest
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(spark.range(3).selectExpr("id AS v"), stage="a")
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.create_tag("bad", 123456)


def test_tags_survive_unrelated_metadata_ops(spark, tmp_path):
    # rollback/branch ops rewrite state; tags must be carried forward
    from engine.icelite import IceliteTable
    t = IceliteTable(str(tmp_path / "t"))
    s1 = t.commit_append(spark.range(4).selectExpr("id AS v"), stage="a")
    t.create_tag("rel", s1)
    s2 = t.commit_append(spark.range(4, 6).selectExpr("id AS v"),
                         stage="b")
    t.create_branch("audit")
    t.rollback(s1)
    assert t.tags() == {"rel": s1}
    assert t.scan_tag(spark, "rel").count() == 4


# ------------------------------------------- metadata tables (A18)

def test_files_table_stats_match_data_recompute(spark, tmp_path):
    """Manifest footer stats == a recompute from the data files —
    the trust proof behind metadata-only pruning; multi-file commits
    attribute every file to the snapshot that added it."""
    t = IceliteTable(str(tmp_path / "tbl"))
    df = spark.range(100).selectExpr("id AS k", "id * 7 % 31 AS v")
    t.commit_append(df.repartition(3, "k"), stage="a")
    t.commit_append(
        spark.range(100, 140).selectExpr("id AS k", "id * 7 % 31 AS v")
        .repartition(1), stage="b")
    ft = t.files_table(spark, ("k", "v")).collect()
    assert sorted(r.sid for r in ft) == [1, 1, 1, 2]
    assert sum(r.rows for r in ft) == 140
    # recompute each file's stats from its data
    import pyarrow.parquet as pq
    for r in ft:
        tab = pq.read_table(f"{tmp_path}/tbl/{r.path}").to_pandas()
        assert r.rows == len(tab)
        assert r.min_k == tab["k"].min() and r.max_k == tab["k"].max()
        assert r.min_v == tab["v"].min() and r.max_v == tab["v"].max()
        assert r.op == "append" and r.stage == ("a" if r.sid == 1 else "b")


def test_history_table_tracks_ops_and_parents(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    df = spark.range(10).selectExpr("id AS k")
    t.commit_append(df, stage="x")
    t.commit_append(df.selectExpr("k + 10 AS k"), stage="y")
    t.compact(spark, target_files=1)
    h = {r.sid: r for r in t.history_table(spark).collect()}
    assert [h[s].op for s in (1, 2, 3)] == ["append", "append", "compact"]
    assert (h[1].parent, h[2].parent, h[3].parent) == (None, 1, 2)
    assert h[2].n_files == h[2].n_added + h[1].n_files
    assert h[3].n_files == h[3].n_added  # replace-class commit
    assert all(r.branch == "main" for r in h.values())


def test_files_table_tolerates_statless_manifest(spark, tmp_path):
    """Manifests written before stats existed surface null stats, not
    an error."""
    import json as _json
    import os as _os
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(5).selectExpr("id AS k").repartition(1))
    mp = _os.path.join(str(tmp_path / "tbl"), "meta", "manifest-00000001.json")
    with open(mp) as f:
        man = _json.load(f)
    del man["stats"]
    with open(mp, "w") as f:
        _json.dump(man, f)
    [r] = t.files_table(spark, ("k",)).collect()
    assert r.rows is None and r.min_k is None and r.max_k is None


# --------------------------------------------- orphan cleanup (A19)

def test_orphan_detection_and_removal(spark, tmp_path):
    import os as _os
    t = IceliteTable(str(tmp_path / "tbl"))
    df = spark.range(20).selectExpr("id AS k")
    t.commit_append(df.repartition(1), stage="a")
    t.commit_append(df.selectExpr("k + 20 AS k").repartition(2),
                    stage="b")
    assert t.orphan_files() == []
    # crashed writer: two parquet files land, no metadata commit
    t._write_data(df.selectExpr("k + 99 AS k").repartition(2))
    orphans = t.orphan_files()
    assert len(orphans) == 2
    before = sorted(r.k for r in t.scan(spark).collect())
    assert t.remove_orphans() == 2
    assert t.orphan_files() == []
    # live data untouched, time travel intact
    assert sorted(r.k for r in t.scan(spark).collect()) == before
    assert t.scan(spark, snapshot_id=1).count() == 20
    # the orphan commit dir (parquet-less residue) is reclaimed
    dirs = _os.listdir(_os.path.join(str(tmp_path / "tbl"), "data"))
    assert len(dirs) == 2


def test_orphan_removal_idempotent_and_empty_table(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t2"))
    # no data dir yet
    assert t.orphan_files() == []
    t.commit_append(spark.range(3).selectExpr("id AS k").repartition(1))
    assert t.remove_orphans() == 0
    assert t.remove_orphans() == 0


# --------------------------------------- manifest-pruned scan (A21)

def test_scan_pruned_equals_filtered_full_scan(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    for k in range(4):
        t.commit_append(
            spark.range(k * 100, (k + 1) * 100).selectExpr("id AS k")
            .repartition(1), stage=f"s{k}")
    df, n_total, n_scanned = t.scan_pruned(spark, "k", 150, 249)
    assert (n_total, n_scanned) == (4, 2)
    got = sorted(r.k for r in df.collect())
    assert got == list(range(150, 250))
    # disjoint range prunes everything
    df0, _, n0 = t.scan_pruned(spark, "k", 10_000, 20_000)
    assert n0 == 0 and df0.count() == 0
    # full range scans everything
    _, _, nall = t.scan_pruned(spark, "k", 0, 400)
    assert nall == 4


def test_scan_pruned_keeps_statless_files(spark, tmp_path):
    """A file whose manifest entry lacks bounds for the column must be
    KEPT — pruning blind would drop live rows."""
    import json as _json
    import os as _os
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 50).selectExpr("id AS k")
                    .repartition(1))
    t.commit_append(spark.range(50, 100).selectExpr("id AS k")
                    .repartition(1))
    mp = _os.path.join(str(tmp_path / "tbl"), "meta",
                       "manifest-00000002.json")
    with open(mp) as f:
        man = _json.load(f)
    # strip the FIRST file's stats
    first = man["files"][0]
    man["stats"].pop(first, None)
    with open(mp, "w") as f:
        _json.dump(man, f)
    df, _, n_scanned = t.scan_pruned(spark, "k", 60, 70)
    assert n_scanned == 2          # statless file kept despite no overlap
    assert sorted(r.k for r in df.collect()) == list(range(60, 71))


def test_manifest_stats_carry_forward_across_commits(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(spark.range(0, 10).selectExpr("id AS k")
                    .repartition(1))
    t.commit_append(spark.range(10, 20).selectExpr("id AS k")
                    .repartition(1))
    man = t._manifest(t.current_snapshot_id())
    assert set(man["stats"]) == set(man["files"])
