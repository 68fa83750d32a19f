"""engine/localdf.py: driver-side rows as a LocalRelation — the same rows
`createDataFrame` gives, the same row checks, and no Python worker when
the frame runs."""

from __future__ import annotations

import pytest

from engine.geo.layer import BUILD_EDGES_SCHEMA
from engine.localdf import local_df

EDGE_ROWS = [
    (5, "p1", False, [(0.0, 1.0, 2.5, -3.0), (2.5, -3.0, 0.0, 1.0)]),
    (7, "p1", True, None),
    (-9, "p2", False, []),
]


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_plan_leaf_is_local_relation_with_no_python_rdd(spark):
    df = local_df(spark, EDGE_ROWS, BUILD_EDGES_SCHEMA)
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).getClass().getSimpleName()
             for i in range(leaves.size())]
    assert names == ["LocalRelation"], names
    assert not _python_rdd(df)
    # the frame this replaces: a list through createDataFrame
    assert _python_rdd(spark.createDataFrame(EDGE_ROWS, BUILD_EDGES_SCHEMA))


@pytest.mark.parametrize("rows, schema", [
    (EDGE_ROWS, BUILD_EDGES_SCHEMA),
    ([(1, "Zürich"), (2, "東京"), (3, None), (4, "")],
     "id long, name string"),
    ([(1, [[1.5, 2.0]], {"a": "b"})],
     "k int, xy array<array<double>>, tags map<string,string>"),
    ([], BUILD_EDGES_SCHEMA),
    ([], "rank int, left string, right string, pair_count long"),
])
def test_rows_equal_create_dataframe(spark, rows, schema):
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("row", [
    (None, "p1", True, None),           # None in a non-nullable field
    (1.5, "p1", True, None),            # float in a long field
    (5, "p1", True),                    # wrong width
    (5, "p1", False, [(0.0, 1.0, 2.0)]),  # wrong nested struct width
])
def test_bad_rows_raise(spark, row):
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, [row], BUILD_EDGES_SCHEMA)
