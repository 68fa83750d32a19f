"""L1 — checkpointed, resumable pipeline runner (SURVEY.md §2.L1, §3.E1/E3).

BASELINE.json:6,14 — "resumable from Iceberg snapshot checkpoints with
per-partition lineage + metrics tables".

Every stage commits its output as an icelite snapshot tagged with
(stage name, config hash).  On restart with the same config, completed
stages are *skipped* and their committed snapshot is re-read — so a
resumed run is row-identical to an uninterrupted one (stage functions are
deterministic functions of their checkpointed input, SURVEY.md §7.4.5;
verified by the kill-point tests in tests/test_pipeline_e2e.py).

Each stage's downstream consumer reads the *committed files*, not the
live plan — identical lineage whether or not a resume happened, and the
DAG never grows beyond one stage.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from engine.metrics import MetricsSink, StageMetrics


class KillPoint(Exception):
    """Injected failure for kill-and-resume tests."""


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, DataFrame | None], DataFrame]
    sort_within: list[str] | None = None


@dataclass
class PipelineResult:
    run_id: str
    config_hash: str
    sids: dict[str, int] = field(default_factory=dict)
    resumed: list[str] = field(default_factory=list)
    executed: list[str] = field(default_factory=list)


def config_hash(config: dict) -> str:
    return hashlib.sha256(
        json.dumps(config, sort_keys=True).encode()
    ).hexdigest()[:16]


def _stage_table(root: str, name: str, spark: SparkSession | None = None):
    """Resolve a stage's SnapshotTable from the pipeline root — THE
    backend seam (engine/table_protocol.py).  A plain path keeps the
    r1-r3 behavior (icelite under <root>/<stage>); 'icelite:<path>' is
    the same spelled explicitly; 'iceberg:<catalog.db>' targets a real
    Iceberg catalog with one table per stage — so switching a pipeline
    to Iceberg is a one-string config change, exercised by the
    backend-parametrized suite in tests/test_table_contract.py."""
    from engine.table_protocol import make_table, parse_root
    kind, loc = parse_root(root)
    if kind == "iceberg":
        return make_table(f"iceberg:{loc}.{name}", spark)
    return make_table(f"icelite:{loc}/{name}")


def run_pipeline(spark: SparkSession, stages: list[Stage], root: str,
                 config: dict, resume: bool = True,
                 fail_after: str | None = None,
                 emit_metrics: bool = True) -> PipelineResult:
    chash = config_hash(config)
    res = PipelineResult(run_id=uuid.uuid4().hex[:12], config_hash=chash)
    sink = MetricsSink(root) if emit_metrics else None
    prev: DataFrame | None = None
    for st in stages:
        table = _stage_table(root, st.name, spark)
        existing = (
            table.find_snapshot(stage=st.name, props={"config": chash})
            if resume else None
        )
        if existing is not None:
            res.sids[st.name] = existing
            res.resumed.append(st.name)
            prev = table.scan(spark, existing)
            continue
        t0 = time.time()
        out = st.fn(spark, prev)
        rows_out = None
        if sink is not None:
            out, obs = sink.observed(out)
        # per-partition determinism sort happens HERE (backend-neutral),
        # so commit_append stays on the minimal SnapshotTable protocol
        if st.sort_within:
            out = out.sortWithinPartitions(*st.sort_within)
        sid = table.commit_append(out, stage=st.name,
                                  props={"config": chash})
        wall_ms = (time.time() - t0) * 1000.0
        if sink is not None:
            rows_out = int(obs.get["rows_out"])
            sink.emit_stage(spark, StageMetrics(
                run_id=res.run_id, stage=st.name, sid=sid,
                rows_out=rows_out, wall_ms=wall_ms, extra={"config": chash},
            ))
            sink.emit_lineage(spark, res.run_id, st.name, table, sid)
        res.sids[st.name] = sid
        res.executed.append(st.name)
        prev = table.scan(spark, sid)
        if fail_after == st.name:
            raise KillPoint(st.name)
    return res


def stage_output(spark: SparkSession, root: str, stage: str,
                 sid: int | None = None) -> DataFrame:
    return _stage_table(root, stage, spark).scan(spark, sid)
