"""Driver-contract parity: every `__spark_entry__.queries()` key runs, and
every key with an `oracle_sql()` twin matches DuckDB exactly (row count +
column names + order-insensitive canonical value multiset) — the same
comparison the driver's verify performs at sf0.01 (here at sf0.001 for
speed; tools/check_contract.py runs the full sf0.01 sweep)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_contract import rowset

# oracle_sql() builds its twins afresh on every call (about 1.5 s: some
# embed locally generated fixture rows), so the module builds them once
ORACLE_SQL = entry_mod.oracle_sql()
ORACLED = sorted(ORACLE_SQL.keys())
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(ORACLED))

# Keys whose oracle is a golden/pinned table generated at the driver's
# fixed correctness scale (sf0.01): at any other sf the oracle rows are
# intentionally NOT comparable, so parity is checked only when this test
# session runs at the pinned sf; full-value verification happens in
# tools/check_contract.py (sf0.01 default) and dedicated tests (e.g.
# tests/test_raster_merge.py pins tile_raster at sf0.01 explicitly).
SF_PINNED = {"tile_raster", "tile_vector_encode", "tile_vector_encode_mvt",
             "bpe_tokenize", "bpe_train", "traj_frechet", "traj_simplify",
             "traj_dtw", "scan_mvt"}
PINNED_SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_every_oracle_key_has_query():
    assert set(ORACLED) <= set(entry_mod.queries())


@pytest.mark.parametrize("key", ORACLED)
def test_oracle_parity(key, spark, sf_dir, duck):
    if key in SF_PINNED and sf_dir.rstrip("/") != PINNED_SF_DIR:
        df = entry_mod.queries()[key](spark, sf_dir)
        assert df.count() > 0, f"{key}: zero rows at non-pinned sf"
        pytest.skip(f"{key}: oracle pinned at sf0.01; sf-pinned parity "
                    "covered by its dedicated test + check_contract")
    df = entry_mod.queries()[key](spark, sf_dir)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    res = duck.execute(ORACLE_SQL[key])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(cols) == sorted(dcols), f"{key}: column names differ"
    assert len(rows) == len(drows), f"{key}: row count {len(rows)} != {len(drows)}"
    assert rowset(cols, rows) == rowset(dcols, drows), f"{key}: values differ"


@pytest.mark.parametrize("key", ROWS_ONLY)
def test_rows_only_keys_nonempty(key, spark, sf_dir):
    df = entry_mod.queries()[key](spark, sf_dir)
    assert df.count() > 0, f"{key}: zero rows (weak driver check would be vacuous)"


# every key must either carry a DuckDB oracle or be on the explicit,
# justified rows-only list — a new key silently missing its twin fails here.
# r4: lineage_table graduated to a full oracle (per-stage totals are
# parallelism-independent pinned constants; per-file detail stays in
# tests/test_pipeline_e2e.py) — the rows-only list is now EMPTY.
ROWS_ONLY_JUSTIFIED: set[str] = set()


def test_rows_only_set_is_exactly_the_justified_one():
    assert set(ROWS_ONLY) == ROWS_ONLY_JUSTIFIED
