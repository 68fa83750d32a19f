"""A6/L2/L3 — per-partition lineage + metrics tables (SURVEY.md §2.L).

BASELINE.json:6,14 — "resumable from Iceberg snapshot checkpoints with
per-partition lineage + metrics tables".

Design (scale rationale, SURVEY.md §1.3):
- *metrics* rows (one per stage run) use `df.observe(...)` so row counts
  ride the action itself — zero extra passes over the data;
- *lineage* rows (one per non-empty output data file = write partition)
  come from the commit's own metadata through
  `IceliteTable.added_file_rows`: the per-file row counts the manifest
  recorded from the parquet footers at commit time, so no data file is
  opened;
- both land in ordinary append-only icelite tables, so they are
  queryable DataFrames and snapshot-versioned like everything else.
  Their rows are bounded by stage and file count and already on the
  driver, so they commit through `IceliteTable.commit_rows`: emitting a
  stage's metrics and lineage starts no Spark job.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from engine.icelite import IceliteTable
from engine.table_protocol import parse_root

METRICS_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("sid", LongType(), True),
    StructField("ts", DoubleType(), False),
    StructField("rows_out", LongType(), True),
    StructField("wall_ms", DoubleType(), False),
    StructField("extra", StringType(), True),  # JSON
])

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("sid", LongType(), False),
    StructField("file", StringType(), False),
    StructField("rows", LongType(), False),
])


@dataclass
class StageMetrics:
    run_id: str
    stage: str
    sid: int | None
    rows_out: int | None
    wall_ms: float
    extra: dict


class MetricsSink:
    def __init__(self, root: str):
        """`root` is a pipeline root as `run_pipeline` takes it: a path
        or 'icelite:<path>'.  The sink tables are icelite tables, so an
        'iceberg:' root raises here, before any stage runs."""
        kind, path = parse_root(root)
        if kind == "iceberg":
            raise ValueError(
                f"MetricsSink: the _metrics/_lineage tables are icelite "
                f"tables and {root!r} names an Iceberg catalog; run the "
                "pipeline with emit_metrics=False or an icelite root")
        self.metrics = IceliteTable(f"{path}/_metrics")
        self.lineage = IceliteTable(f"{path}/_lineage")

    def observed(self, df: DataFrame, name: str = "rows") -> tuple[DataFrame, Observation]:
        """Attach a zero-cost row-count observation to a stage output."""
        obs = Observation(name)
        return df.observe(obs, F.count(F.lit(1)).alias("rows_out")), obs

    def emit_stage(self, spark: SparkSession, m: StageMetrics) -> None:
        row = (m.run_id, m.stage, m.sid, time.time(), m.rows_out,
               m.wall_ms, json.dumps(m.extra, sort_keys=True))
        self.metrics.commit_rows([row], METRICS_SCHEMA, stage=m.stage)

    def emit_lineage(self, spark: SparkSession, run_id: str, stage: str,
                     table: IceliteTable, sid: int) -> None:
        """Per-partition (= per non-empty committed file) row counts for
        a commit of the icelite stage `table`, from its manifest
        (`IceliteTable.added_file_rows`).  A commit that added no rows
        emits nothing."""
        rows = [(run_id, stage, sid, f, n)
                for f, n in table.added_file_rows(spark, sid)]
        if rows:
            self.lineage.commit_rows(rows, LINEAGE_SCHEMA, stage=stage)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        return self.metrics.scan(spark)

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        return self.lineage.scan(spark)
