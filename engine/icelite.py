"""A2/A3/L1 — "icelite": engine-owned snapshot/manifest table layer over
Parquet (SURVEY.md §2.A2/A3, §7.4.3).

BASELINE.json:6,14 require pipelines "resumable from Iceberg snapshot
checkpoints".  No Iceberg runtime jar ships in this sandbox (SURVEY.md
§0b), so icelite reproduces the semantics surface the engine needs —
append commits, snapshot pinning / time travel, snapshot diff, resume
markers — behind this module, swappable for a real
`iceberg-spark-runtime` catalog by configuration on a real cluster.

Layout (one directory per table):
    <root>/data/commit-<uuid>/part-*.parquet    immutable data files
    <root>/meta/manifest-<sid>.json             FULL file list at <sid>
    <root>/meta/snapshots.json                  ordered snapshot log

Commit protocol (r4: optimistic concurrency, Iceberg parity): data
files are written first to a collision-free uuid commit dir (a Spark
job on the executors; invisible until metadata lands), then the
metadata transaction — read parent snapshot, assign sid, write
manifest, swap `snapshots.json` via write-tmp + os.replace — runs under
a short exclusive lockfile, so concurrent writers serialize on metadata
only and no commit's file list is lost to a stale-parent race
(tests/test_icelite.py::test_concurrent_appends_all_survive).  The
os.replace stays the single atomic serialization point, exactly the
role of Iceberg's catalog pointer.  Bookkeeping tables whose rows are
few and already on the driver (the pipeline's `_metrics` / `_lineage`)
commit through `commit_rows`: the data file is one pyarrow parquet
write into the same fresh commit dir, then the same locked metadata
transaction — no Spark job.  Readers resolve a snapshot to its
manifest's file list and `spark.read.parquet(*files)` — scans stay
fully parallel and pruned (partition columns + row-group stats still
apply).
"""

from __future__ import annotations

import json
import os
import time
import unicodedata
import uuid
from typing import Any
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from engine.localdf import arrow_rows, local_df

# java.net.URI path characters besides letters, digits and _.-~
_URI_PATH_SAFE = "/!$&'()*+,;=:@"


def _file_uri(path: str) -> str:
    """`file://` URI of an absolute local path as Hadoop's Path, and so
    `input_file_name()`, spells it.  java.net.URI %-escapes (as UTF-8)
    the ASCII characters a URI path may not hold and the non-ASCII
    space and control characters; every other non-ASCII character
    stays as it is."""
    return "file://" + "".join(
        c if ord(c) > 127 and unicodedata.category(c) not in
        ("Zs", "Zl", "Zp", "Cc") else quote(c, safe=_URI_PATH_SAFE)
        for c in path)


class IceliteTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "meta")
        self.snap_path = os.path.join(self.meta_dir, "snapshots.json")

    # ------------------------------------------------------------- meta

    def exists(self) -> bool:
        return os.path.exists(self.snap_path)

    def _state(self) -> dict[str, Any]:
        if not self.exists():
            return {"snapshots": [], "refs": {}, "tags": {}}
        with open(self.snap_path) as f:
            st = json.load(f)
        # back-compat: pre-branch tables have no refs map — the main
        # branch head is the last snapshot of the (then-linear) log
        if "refs" not in st:
            st["refs"] = (
                {"main": st["snapshots"][-1]["sid"]} if st["snapshots"] else {})
        st.setdefault("tags", {})
        return st

    def snapshots(self) -> list[dict[str, Any]]:
        return self._state()["snapshots"]

    def refs(self) -> dict[str, int]:
        """Branch name -> head snapshot id (Iceberg refs parity)."""
        return self._state()["refs"]

    def current_snapshot_id(self, branch: str = "main") -> int | None:
        return self._state()["refs"].get(branch)

    def _manifest(self, sid: int) -> dict[str, Any]:
        with open(os.path.join(self.meta_dir, f"manifest-{sid:08d}.json")) as f:
            return json.load(f)

    def files(self, snapshot_id: int | None = None) -> list[str]:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return []
        return [os.path.join(self.root, p) for p in self._manifest(sid)["files"]]

    def added_files(self, snapshot_id: int) -> list[str]:
        return [os.path.join(self.root, p)
                for p in self._manifest(snapshot_id)["added"]]

    def schema(self, snapshot_id: int | None = None) -> StructType:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        return StructType.fromJson(json.loads(self._manifest(sid)["schema"]))

    def find_snapshot(self, stage: str | None = None,
                      props: dict[str, str] | None = None) -> int | None:
        """Latest snapshot matching a stage tag + property subset (resume)."""
        for snap in reversed(self.snapshots()):
            if stage is not None and snap.get("stage") != stage:
                continue
            sp = snap.get("props", {})
            if props and any(sp.get(k) != v for k, v in props.items()):
                continue
            return snap["sid"]
        return None

    # ------------------------------------------------------------ write

    # Optimistic-concurrency commit protocol (r4, Iceberg parity):
    # data files are written FIRST to a collision-free uuid-named commit
    # dir (uncommitted — invisible until metadata lands, exactly
    # Iceberg's write-then-commit), then the METADATA transaction
    # (read parent snapshot -> assign sid -> write manifest -> atomic
    # snapshots.json swap) runs under a short exclusive lock, so
    # concurrent writers serialize on metadata only and no commit's file
    # list can be lost to a stale-parent race.  The lock is an
    # O_CREAT|O_EXCL lockfile — the single-host stand-in for the
    # catalog CAS a real Iceberg deployment provides (the IcebergTable
    # backend in engine/table_protocol.py inherits the real thing).

    _LOCK_TIMEOUT_S = 60.0

    def _commit_locked(self):
        lock = os.path.join(self.meta_dir, "_commit.lock")

        class _Lock:
            def __enter__(_self):
                deadline = time.time() + self._LOCK_TIMEOUT_S
                while True:
                    try:
                        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                        os.write(fd, str(os.getpid()).encode())
                        os.close(fd)
                        return _self
                    except FileExistsError:
                        if time.time() > deadline:
                            raise TimeoutError(
                                f"icelite commit lock held too long: {lock}")
                        time.sleep(0.02)

            def __exit__(_self, *exc):
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass

        return _Lock()

    def _new_commit_dir(self) -> str:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        return f"data/commit-{uuid.uuid4().hex[:16]}"

    def _write_data(self, df: DataFrame,
                    sort_within: list[str] | None = None) -> tuple[str, list[str]]:
        rel_commit = self._new_commit_dir()
        target = os.path.join(self.root, rel_commit)
        out = df.sortWithinPartitions(*sort_within) if sort_within else df
        out.write.mode("errorIfExists").parquet(target)
        added = sorted(
            f"{rel_commit}/{f}" for f in os.listdir(target)
            if f.endswith(".parquet")
        )
        return rel_commit, added

    @staticmethod
    def _file_stats(path: str) -> dict[str, Any]:
        """Per-file column statistics from the parquet FOOTER only
        (Iceberg manifests carry exactly this: value counts + integer
        lower/upper bounds collected at commit time, so metadata
        queries and scan pruning never touch data).  Row-group stats
        are aggregated; only integer columns with complete stats are
        recorded."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        ok: dict[str, bool] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                st = col.statistics
                good = (st is not None and st.has_min_max
                        and col.physical_type in ("INT32", "INT64")
                        and isinstance(st.min, int))
                ok[name] = ok.get(name, True) and good
                if good:
                    mins[name] = (st.min if name not in mins
                                  else min(mins[name], st.min))
                    maxs[name] = (st.max if name not in maxs
                                  else max(maxs[name], st.max))
        return {"rows": md.num_rows,
                "mins": {k: v for k, v in mins.items() if ok.get(k)},
                "maxs": {k: v for k, v in maxs.items() if ok.get(k)}}

    def _commit_meta(self, schema: StructType, added: list[str], op: str,
                     stage: str | None, props: dict | None,
                     keep_parent_files: bool, branch: str = "main") -> int:
        # footer-only stats for the files this commit adds (immutable
        # once written, so collected outside the metadata lock)
        stats = {p: self._file_stats(os.path.join(self.root, p))
                 for p in added}
        with self._commit_locked():
            st = self._state()
            snaps, refs = st["snapshots"], st["refs"]
            if branch != "main" and branch not in refs:
                raise KeyError(
                    f"icelite: unknown branch {branch!r} — create_branch first")
            parent = refs.get(branch)
            sid = (snaps[-1]["sid"] + 1) if snaps else 1
            parent_files: list[str] = []
            if parent is not None and keep_parent_files:
                pman = self._manifest(parent)
                parent_files = pman["files"]
                # carry surviving files' stats forward — a manifest must
                # bound EVERY file it lists, or pruned scans fall back
                # to always-keep for the older ones
                pstats = pman.get("stats", {})
                stats = {**{p: pstats[p] for p in parent_files
                            if p in pstats}, **stats}
            manifest = {
                "sid": sid,
                "files": parent_files + added,
                "added": added,
                "schema": schema.json(),
                "stats": stats,
            }
            with open(os.path.join(self.meta_dir,
                                   f"manifest-{sid:08d}.json"), "w") as f:
                json.dump(manifest, f)
            snaps.append({"sid": sid, "ts": time.time(), "op": op,
                          "stage": stage, "props": props or {},
                          "parent": parent, "branch": branch})
            refs[branch] = sid
            self._write_state(snaps, refs)
            return sid

    def _write_state(self, snaps: list[dict], refs: dict[str, int],
                     tags: dict[str, int] | None = None) -> None:
        if tags is None:  # callers that predate tags carry them forward
            tags = self._state()["tags"]
        tmp = self.snap_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshots": snaps, "refs": refs, "tags": tags}, f)
        os.replace(tmp, self.snap_path)

    # -------------------------------------------------- branches / WAP
    #
    # Iceberg branch + write-audit-publish parity: a branch is a named
    # ref into the same snapshot log (zero data copies — manifests are
    # shared).  The WAP flow is
    #     create_branch("audit")                      # fork at main head
    #     commit_append(df, branch="audit")           # staged writes
    #     <run audits against scan(branch="audit")>   # main is untouched
    #     fast_forward("main", "audit")               # atomic publish
    # Publish is metadata-only and fast-forward-only: it requires main's
    # head to be an ancestor of the branch head, exactly Iceberg's
    # `fast_forward` procedure — no merge commits, so readers of main
    # flip from old view to audited view atomically at the refs swap.

    def create_branch(self, name: str, from_sid: int | None = None) -> int:
        """Fork a branch at `from_sid` (default: current main head)."""
        with self._commit_locked():
            st = self._state()
            snaps, refs = st["snapshots"], st["refs"]
            if name in refs:
                raise KeyError(f"icelite: branch {name!r} already exists")
            head = from_sid if from_sid is not None else refs.get("main")
            if head is None:
                raise FileNotFoundError(
                    "icelite: cannot branch an empty table")
            refs[name] = head
            self._write_state(snaps, refs)
            return head

    def drop_branch(self, name: str) -> None:
        if name == "main":
            raise ValueError("icelite: cannot drop main")
        with self._commit_locked():
            st = self._state()
            st["refs"].pop(name, None)
            self._write_state(st["snapshots"], st["refs"])

    def _is_ancestor(self, snaps: list[dict], anc: int, sid: int) -> bool:
        by_sid = {s["sid"]: s for s in snaps}
        cur: int | None = sid
        while cur is not None:
            if cur == anc:
                return True
            rec = by_sid.get(cur)
            # pre-branch records have no parent pointer: the log was
            # linear, so the previous log entry is the parent
            if rec is None:
                return False
            if "parent" in rec:
                cur = rec["parent"]
            else:
                i = snaps.index(rec)
                cur = snaps[i - 1]["sid"] if i > 0 else None
        return False

    def fast_forward(self, to_branch: str, from_branch: str) -> int:
        """Publish: move `to_branch` to `from_branch`'s head.  Requires
        a fast-forward (to's head is an ancestor of from's head) — the
        atomic refs swap is the WAP publish step."""
        with self._commit_locked():
            st = self._state()
            snaps, refs = st["snapshots"], st["refs"]
            src, dst = refs[from_branch], refs.get(to_branch)
            if dst is not None and not self._is_ancestor(snaps, dst, src):
                raise ValueError(
                    f"icelite: {to_branch!r}@{dst} is not an ancestor of "
                    f"{from_branch!r}@{src} — not a fast-forward")
            refs[to_branch] = src
            self._write_state(snaps, refs)
            return src

    # ------------------------------------------------------------ tags
    #
    # Iceberg tag parity: a tag is an IMMUTABLE named ref to a
    # snapshot ("create_tag('v1')" after a release commit; readers use
    # scan_tag('v1') forever after).  Unlike a branch it can never be
    # advanced — re-creating an existing tag raises; the only mutation
    # is drop_tag.  Tags, like branch refs, are pure metadata under
    # the commit lock.

    def tags(self) -> dict[str, int]:
        """Tag name -> snapshot id."""
        return self._state()["tags"]

    def create_tag(self, name: str, sid: int | None = None) -> int:
        """Tag `sid` (default: current main head).  Immutable — an
        existing name raises."""
        with self._commit_locked():
            st = self._state()
            snaps, refs, tags = st["snapshots"], st["refs"], st["tags"]
            if name in tags:
                raise KeyError(f"icelite: tag {name!r} already exists "
                               "(tags are immutable — drop_tag first)")
            if sid is None:
                sid = refs.get("main")
            if sid is None or all(sn["sid"] != sid for sn in snaps):
                raise ValueError(f"icelite: unknown snapshot {sid!r}")
            tags[name] = sid
            self._write_state(snaps, refs, tags)
            return sid

    def drop_tag(self, name: str) -> None:
        with self._commit_locked():
            st = self._state()
            tags = st["tags"]
            if name not in tags:
                raise KeyError(f"icelite: unknown tag {name!r}")
            del tags[name]
            self._write_state(st["snapshots"], st["refs"], tags)

    def scan_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the table as of the tagged snapshot."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"icelite: unknown tag {name!r}")
        return self.scan(spark, snapshot_id=tags[name])

    def rollback(self, to_sid: int, branch: str = "main") -> int:
        """Iceberg `rollback_to_snapshot`: move the branch ref back to
        an ANCESTOR snapshot.  Pure metadata (the atomic refs swap
        under the commit lock); later snapshots stay on disk — still
        time-travelable — until expire_snapshots collects them, which
        is exactly Iceberg's rollback contract."""
        with self._commit_locked():
            st = self._state()
            snaps, refs = st["snapshots"], st["refs"]
            cur = refs.get(branch)
            if cur is None:
                raise KeyError(f"icelite: unknown branch {branch!r}")
            if not self._is_ancestor(snaps, to_sid, cur):
                raise ValueError(
                    f"icelite: snapshot {to_sid} is not an ancestor of "
                    f"{branch!r}@{cur} — cannot roll back across "
                    "branches")
            refs[branch] = to_sid
            self._write_state(snaps, refs)
            return to_sid

    def commit_append(self, df: DataFrame, stage: str | None = None,
                      props: dict[str, str] | None = None,
                      sort_within: list[str] | None = None,
                      branch: str = "main") -> int:
        """Append commit: write data files (uncommitted), then the locked
        metadata transaction — concurrent appenders serialize on
        metadata only and both commits' files survive.

        `sort_within` orders rows inside each output partition before the
        write (determinism for resume/diff tests, SURVEY.md §7.4.5).
        """
        _, added = self._write_data(df, sort_within)
        return self._commit_meta(df.schema, added, "append", stage, props,
                                 keep_parent_files=True, branch=branch)

    def commit_rows(self, rows: list[tuple], schema: StructType,
                    stage: str | None = None) -> int:
        """Append commit of a few driver-side rows (tuples in `schema`
        order) with no Spark job: one pyarrow parquet file in a fresh
        commit dir, then the same locked metadata transaction.  For
        tables bounded by stage and file count (`_metrics`, `_lineage`);
        DataFrames go through `commit_append`.  Every row first passes
        the check `createDataFrame` applies (width, a None in a
        non-nullable field, value types), so a bad row raises before
        anything is written (engine/localdf.py::arrow_rows)."""
        import pyarrow.parquet as pq

        table = arrow_rows(rows, schema)
        rel_commit = self._new_commit_dir()
        os.makedirs(os.path.join(self.root, rel_commit))
        rel = f"{rel_commit}/part-00000.parquet"
        pq.write_table(table, os.path.join(self.root, rel))
        return self._commit_meta(schema, [rel], "append", stage, None,
                                 keep_parent_files=True)

    def commit_replace(self, df: DataFrame, stage: str | None = None,
                       props: dict[str, str] | None = None,
                       op: str = "replace", branch: str = "main") -> int:
        """REPLACE commit: the new snapshot's file list is exactly the
        files written here — prior files stay on disk (older snapshots
        keep reading them; time travel is preserved) but leave the
        current view.  This is the commit type behind compaction and
        MERGE results, mirroring Iceberg's rewrite/overwrite snapshots."""
        _, added = self._write_data(df)
        return self._commit_meta(df.schema, added, op, stage, props,
                                 keep_parent_files=False, branch=branch)

    # ------------------------------------------ metadata tables (A18)
    # Iceberg exposes its manifests as queryable relations
    # (table.files / table.history / table.snapshots); these are the
    # icelite equivalents.  Both are METADATA-ONLY: they read the
    # snapshot log + manifests, never a data file — bounded by the
    # file/snapshot count (the metrics_table class), so a LocalRelation
    # of the driver-side rows (engine/localdf.py) is the right plan at
    # any table size where manifests themselves fit (Iceberg's own
    # design point).

    def files_table(self, spark: SparkSession,
                    stat_cols: tuple[str, ...] = ()) -> DataFrame:
        """The `files` metadata relation: one row per data file, keyed
        by the snapshot that ADDED it — (sid, op, stage, file_seq,
        path, rows, min_<c>/max_<c> for each requested stat column),
        everything from commit-time footer stats recorded in the
        manifest (never recomputed from data — parity of this relation
        against a data recompute is exactly the proof the manifest
        stats are trustworthy for pruning)."""
        from pyspark.sql.types import (LongType, IntegerType, StringType,
                                       StructField)

        rows = []
        for s in self.snapshots():
            man = self._manifest(s["sid"])
            stats = man.get("stats", {})
            for seq, rel in enumerate(sorted(man.get("added", []))):
                st = stats.get(rel, {})
                row = [s["sid"], s["op"], s.get("stage"), seq, rel,
                       st.get("rows")]
                for c in stat_cols:
                    row.append(st.get("mins", {}).get(c))
                    row.append(st.get("maxs", {}).get(c))
                rows.append(tuple(row))
        fields = [StructField("sid", LongType(), False),
                  StructField("op", StringType(), False),
                  StructField("stage", StringType(), True),
                  StructField("file_seq", IntegerType(), False),
                  StructField("path", StringType(), False),
                  StructField("rows", LongType(), True)]
        for c in stat_cols:
            fields.append(StructField(f"min_{c}", LongType(), True))
            fields.append(StructField(f"max_{c}", LongType(), True))
        return local_df(spark, rows, StructType(fields))

    def history_table(self, spark: SparkSession) -> DataFrame:
        """The `history`/`snapshots` metadata relation: the ordered
        snapshot log — (sid, parent, op, stage, branch, n_files,
        n_added).  Wall-clock timestamps are deliberately excluded
        (non-deterministic; callers needing them read the raw log)."""
        from pyspark.sql.types import (LongType, IntegerType, StringType,
                                       StructField)

        rows = []
        for s in self.snapshots():
            man = self._manifest(s["sid"])
            rows.append((s["sid"], s.get("parent"), s["op"],
                         s.get("stage"), s.get("branch", "main"),
                         len(man.get("files", [])),
                         len(man.get("added", []))))
        schema = StructType([
            StructField("sid", LongType(), False),
            StructField("parent", LongType(), True),
            StructField("op", StringType(), False),
            StructField("stage", StringType(), True),
            StructField("branch", StringType(), False),
            StructField("n_files", IntegerType(), False),
            StructField("n_added", IntegerType(), False)])
        return local_df(spark, rows, schema)

    def compact(self, spark: SparkSession, target_files: int = 4) -> int:
        """Small-file compaction: rewrite the CURRENT view into
        `target_files` files via a replace commit.  Row-identical by
        construction (read -> coalesce -> write); older snapshots still
        time-travel to the pre-compaction files.  At cluster scale this
        is the maintenance job that keeps scan task counts sane after
        many small incremental commits."""
        cur = self.scan(spark)
        return self.commit_replace(cur.coalesce(target_files), op="compact")

    def orphan_files(self) -> list[str]:
        """Iceberg `remove_orphan_files` parity, detection half: data
        files present on disk but referenced by NO snapshot's manifest
        — the residue of writers that crashed between `_write_data`
        and the metadata commit (the commit protocol makes this the
        ONLY way an unreferenced file appears; commits are
        metadata-last, so an orphan is always safe to delete).
        Returns table-relative paths, sorted."""
        referenced: set[str] = set()
        for s in self.snapshots():
            referenced.update(self._manifest(s["sid"])["files"])
        on_disk = []
        if os.path.isdir(self.data_dir):
            for d in sorted(os.listdir(self.data_dir)):
                full = os.path.join(self.data_dir, d)
                if not os.path.isdir(full):
                    continue
                for f in sorted(os.listdir(full)):
                    if f.endswith(".parquet"):
                        on_disk.append(f"data/{d}/{f}")
        return sorted(p for p in on_disk if p not in referenced)

    def remove_orphans(self) -> int:
        """Delete every orphan data file (and any then-empty commit
        dir); returns the number removed.  Runs under the commit lock
        so a concurrent committer cannot be mid-metadata-write while
        we scan — a file whose commit has not finished its metadata
        transaction is indistinguishable from a crashed writer's, so
        at cluster scale callers gate this on writer quiescence
        (Iceberg's own remove_orphan_files has the same caveat and
        defaults to an age cutoff)."""
        with self._commit_locked():
            orphans = self.orphan_files()
            for rel in orphans:
                os.remove(os.path.join(self.root, rel))
            # a commit dir holding no parquet holds only writer residue
            # (_SUCCESS, .crc) — manifests reference only parquet files,
            # so the dir is reclaimable wholesale
            for d in sorted(os.listdir(self.data_dir)):
                full = os.path.join(self.data_dir, d)
                if not os.path.isdir(full):
                    continue
                names = os.listdir(full)
                if not any(n.endswith(".parquet") for n in names):
                    for n in names:
                        os.remove(os.path.join(full, n))
                    os.rmdir(full)
            return len(orphans)

    def expire_snapshots(self, keep_last: int = 1) -> tuple[list[int], int]:
        """Snapshot expiry (Iceberg `expireSnapshots` parity) — the
        retention half of table maintenance: drop all but the last
        `keep_last` snapshots and physically delete every data file no
        surviving snapshot references.

        Semantics match Iceberg exactly: append-chain files survive as
        long as ANY keeper references them (an appended file is in every
        descendant's file list), so expiry only reclaims files orphaned
        by REPLACE commits (compaction, merge rewrites).  Time travel to
        a surviving snapshot keeps working; to an expired one raises.

        Metadata-only except the unlink loop; the snapshot list rewrite
        is the same atomic tmp+rename every commit uses.  Returns
        (expired sids, deleted file count)."""
        with self._commit_locked():
            st = self._state()
            snaps, refs = st["snapshots"], st["refs"]
            if len(snaps) <= keep_last:
                return ([], 0)
            # branch heads are always retained (Iceberg: refs pin
            # snapshots against expiry)
            pinned = set(refs.values())
            keep = [s for i, s in enumerate(snaps)
                    if i >= len(snaps) - keep_last or s["sid"] in pinned]
            kept_sids = {s["sid"] for s in keep}
            drop = [s for s in snaps if s["sid"] not in kept_sids]
            if not drop:
                return ([], 0)
            live: set[str] = set()
            for s in keep:
                live.update(self._manifest(s["sid"])["files"])
            dead: set[str] = set()
            for s in drop:
                dead.update(f for f in self._manifest(s["sid"])["files"]
                            if f not in live)
            deleted = 0
            for rel in sorted(dead):
                p = os.path.join(self.root, rel)
                if os.path.exists(p):
                    os.remove(p)
                    deleted += 1
            for s in drop:
                mp = os.path.join(self.meta_dir, f"manifest-{s['sid']:08d}.json")
                if os.path.exists(mp):
                    os.remove(mp)
            self._write_state(keep, refs)
            return ([s["sid"] for s in drop], deleted)

    # ------------------------------------------------------------- read

    def scan(self, spark: SparkSession,
             snapshot_id: int | None = None,
             branch: str = "main") -> DataFrame:
        """A2 — pinned-snapshot scan (time travel when snapshot_id given).

        The read is pinned to the snapshot's RECORDED schema
        (schema-on-read): files written before an add-column evolution
        lack the new columns and surface them as NULL, exactly Iceberg's
        add-column semantics.  Evolution rule: appended frames must
        carry a superset of the previous columns (add-only); the latest
        commit's schema governs the current view."""
        sid = (snapshot_id if snapshot_id is not None
               else self.current_snapshot_id(branch))
        if sid is None:
            raise FileNotFoundError(f"icelite table has no snapshots: {self.root}")
        files = self.files(sid)
        if not files:
            return local_df(spark, [], self.schema(sid))
        return spark.read.schema(self.schema(sid)).parquet(*files)

    def scan_pruned(self, spark: SparkSession, col: str,
                    lo: int, hi: int,
                    snapshot_id: int | None = None,
                    branch: str = "main") -> tuple[DataFrame, int, int]:
        """A21 — manifest-stat pruned scan: the EXECUTABLE half of the
        files-metadata story — plan the file list from the manifest's
        commit-time [min, max] bounds for `col` (files_table exposes
        them; this CONSUMES them), opening only files whose range
        intersects [lo, hi], then apply the exact predicate to the
        survivors.  Files lacking stats for `col` are always KEPT
        (pruning blind is a correctness bug, pinned by test) — the
        Iceberg rule.  Returns (df, n_files_total, n_files_scanned);
        the predicate still runs on the survivors, so the result is
        ALWAYS exactly the full-scan-with-filter result — pruning is
        pure I/O elision, which is the whole claim a twin can
        verify."""
        sid = (snapshot_id if snapshot_id is not None
               else self.current_snapshot_id(branch))
        if sid is None:
            raise FileNotFoundError(
                f"icelite table has no snapshots: {self.root}")
        man = self._manifest(sid)
        stats = man.get("stats", {})
        keep = []
        for rel in man["files"]:
            st = stats.get(rel, {})
            mn = st.get("mins", {}).get(col)
            mx = st.get("maxs", {}).get(col)
            if mn is None or mx is None or (mn <= hi and mx >= lo):
                keep.append(os.path.join(self.root, rel))
        schema = self.schema(sid)
        if not keep:
            df = local_df(spark, [], schema)
        else:
            df = spark.read.schema(schema).parquet(*keep)
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        return df, len(man["files"]), len(keep)

    def scan_added(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Incremental read: only rows appended by `snapshot_id`."""
        files = self.added_files(snapshot_id)
        if not files:
            return local_df(spark, [], self.schema(snapshot_id))
        return spark.read.parquet(*files)

    def added_file_rows(self, spark: SparkSession,
                        snapshot_id: int) -> list[tuple[str, int]]:
        """(file URI, rows) for every non-empty file `snapshot_id` added,
        from the manifest's commit-time footer stats (read from the
        footers when a manifest has none): the strings and counts of
        `scan_added(...).groupBy(input_file_name()).count()`, with no
        Spark job — the per-file lineage of a commit."""
        man = self._manifest(snapshot_id)
        stats = man.get("stats", {})
        out = []
        for rel in man["added"]:
            path = os.path.join(self.root, rel)
            rows = (stats.get(rel) or self._file_stats(path))["rows"]
            if rows:
                out.append((_file_uri(os.path.abspath(path)), rows))
        return out

    def scan_incremental(self, spark: SparkSession, from_sid: int,
                         to_sid: int) -> DataFrame:
        """Iceberg incremental-append read (CDC feed): every row
        committed AFTER `from_sid` up to and including `to_sid`, tagged
        with (commit_seq, snapshot_id) — commit_seq = 1 for the first
        commit after `from_sid`, ascending in chain order — so a
        downstream consumer can replay the table's history in commit
        order (the CDC contract).

        Semantics match Iceberg's incremental read: APPEND-ONLY.  A
        replace/compact inside the range has no per-row changelog, so
        the method raises rather than fabricating one; `from_sid` must
        be an ancestor of `to_sid` (same linear history).  Metadata-only
        planning — the union reads exactly the files added by the range,
        never the base snapshot."""
        st = self._state()
        snaps = st["snapshots"]
        by_sid = {s["sid"]: s for s in snaps}
        chain: list[dict] = []
        cur: int | None = to_sid
        while cur is not None and cur != from_sid:
            rec = by_sid.get(cur)
            if rec is None:
                raise ValueError(
                    f"icelite: snapshot {cur} not found walking "
                    f"{to_sid} -> {from_sid}")
            chain.append(rec)
            if "parent" in rec:
                cur = rec["parent"]
            else:
                i = snaps.index(rec)
                cur = snaps[i - 1]["sid"] if i > 0 else None
        if cur != from_sid:
            raise ValueError(
                f"icelite: {from_sid} is not an ancestor of {to_sid}")
        chain.reverse()
        bad = [r["sid"] for r in chain if r.get("op") != "append"]
        if bad:
            raise ValueError(
                "icelite: incremental read is append-only; range "
                f"contains non-append commits {bad} (Iceberg parity: "
                "replace/compact has no per-row changelog)")
        out = None
        for seq, rec in enumerate(chain, start=1):
            part = (self.scan_added(spark, rec["sid"])
                    .withColumn("commit_seq", F.lit(seq).cast("int"))
                    .withColumn("snapshot_id",
                                F.lit(rec["sid"]).cast("long")))
            out = part if out is None else out.unionByName(part)
        if out is None:
            sch = self.schema(to_sid).add("commit_seq", "integer")                                      .add("snapshot_id", "long")
            return local_df(spark, [], sch)
        return out

    def diff(self, spark: SparkSession, from_sid: int, to_sid: int) -> DataFrame:
        """H/snapshot_diff — rows in `to_sid` not in `from_sid`.

        For append-only commits this is exactly the union of files added
        in (from_sid, to_sid] — a metadata-only plan, no EXCEPT shuffle.
        """
        a = set(self._manifest(from_sid)["files"])
        b = self._manifest(to_sid)["files"]
        new = [os.path.join(self.root, p) for p in b if p not in a]
        if not new:
            return local_df(spark, [], self.schema(to_sid))
        return spark.read.parquet(*new)
