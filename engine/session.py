"""SparkSession construction with engine defaults.

Settings rationale (SURVEY.md §4):
- AQE on: runtime shuffle-partition coalescing + skew-split backstop
  (explicit hot-key salting in engine/geo/skew.py remains the primary
  skew tool per BASELINE.json:6 "explicit salting for hot-cell skew").
- Arrow on: every Python-side operator is an Arrow-batched pandas UDF /
  mapInPandas — zero per-row Python (BASELINE.json:15).
- UTC session timezone: timestamp semantics must match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 48g.  A heap the size of the host
    lets a long-lived local JVM keep dropped shuffles and checkpoints
    (the cleaner frees them only after a GC) until the kernel's OOM
    killer takes it."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{min(48 * 1024, ram // 2 // 2**20)}m"


ENGINE_CONFS: dict[str, str] = {
    # local[N] runs everything in the driver JVM; the 1g default heap
    # OOMs writing wide binary (image) tables.  `extra=` overrides it.
    "spark.driver.memory": _default_driver_memory(),
    "spark.driver.maxResultSize": "4g",
    # Spark 4.1: InferFiltersFromConstraints mis-infers a predicate that
    # contains a higher-order function onto the wrong join side (the
    # lambda's outer references bind against the build relation ->
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). The engine's native PIP
    # refinement is such a predicate; the rule only ever adds redundant
    # derived filters, so excluding it is safe.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
}


def get_spark(
    app: str = "geotile-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app)
    if master is not None:
        builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra:
        confs.update(extra)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
