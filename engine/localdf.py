"""Driver-side rows as a DataFrame that starts no Python worker.

`spark.createDataFrame(<list of tuples>)` plans a LogicalRDD over
ParallelCollectionRDD -> PythonRDD, so every execution of the frame
starts Python worker tasks that only re-pickle the rows, and the planner
has no size for it.  `local_df` hands the JVM an Arrow table instead:
the driver decodes it into a LocalRelation (a JVM-side parallelized
relation above `spark.sql.execution.arrow.localRelationThreshold`,
48 MB by default), no Python runs when the frame executes, and the
planner sees its size when it picks a broadcast.

This module holds the engine's one rows -> Arrow conversion
(`arrow_rows`), which `IceliteTable.commit_rows` also writes from.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (StructType, _make_type_verifier,
                               _parse_datatype_string)


def arrow_rows(rows: Sequence[tuple], schema: StructType) -> pa.Table:
    """`rows` (tuples in `schema` order) as a pyarrow Table.  Every row
    first passes the check `createDataFrame` applies (width, a None in
    a non-nullable field, value types), so a bad row raises here —
    pyarrow alone would truncate a float into a long field."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    if not rows:
        return arrow_schema.empty_table()
    return pa.table([pa.array(col, f.type)
                     for col, f in zip(zip(*rows), arrow_schema)],
                    schema=arrow_schema)


def local_df(spark: SparkSession, rows: Sequence[tuple],
             schema: StructType | str) -> DataFrame:
    """`rows` as a DataFrame planned as a LocalRelation.  `schema` is a
    StructType or a DDL string, as `createDataFrame` accepts; the rows
    and the output equal `spark.createDataFrame(rows, schema)`'s."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)
