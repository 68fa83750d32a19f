"""Hierarchical S2-style cell index: vectorized Morton cells on the
Web-Mercator grid (SURVEY.md §2 C1/C2/C4; spec FIXTURES.md §3).

BASELINE.json:6 — rows are "encoded to H3/S2 cells via vectorized
pandas/Arrow UDFs (batched cell encode, no per-row Python)".  Here the
encode, parent/prefix extraction and the disk explode are all *native*
column expressions (mercator arithmetic, Morton bit cascades, shiftright,
bounded sequences), so they stay inside whole-stage codegen and never
cross the Python boundary.  The numpy kernels below compute the same
values; tests and the kNN guarantee UDFs use them.

Scale note: the cell id is a single int64 — prefix joins, range pruning
and partitioning all work on a primitive column, which is the cheapest
possible shuffle key at 10^12 rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oracle.geo import LEVEL, MAX_LAT

_U = np.uint64  # numpy promotes uint64 op python-int to float64; pin dtype


# ------------------------------------------------------------ numpy kernel

def merc_xy_np(lon: np.ndarray, lat: np.ndarray, level: int = LEVEL):
    """Vectorized FIXTURES.md §3 grid coords. Returns (xi, yi) int64 arrays."""
    n = float(1 << level)
    lat = np.clip(lat, -MAX_LAT, MAX_LAT)
    mx = (lon + 180.0) / 360.0
    my = (1.0 - np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)) / np.pi) / 2.0
    xi = np.floor(mx * n).astype(np.int64)
    yi = np.floor(my * n).astype(np.int64)
    hi = np.int64((1 << level) - 1)
    return np.clip(xi, 0, hi), np.clip(yi, 0, hi)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread 32-bit values so bits land in even positions (uint64)."""
    v = v.astype(_U)
    v = (v | (v << _U(16))) & _U(0x0000FFFF0000FFFF)
    v = (v | (v << _U(8))) & _U(0x00FF00FF00FF00FF)
    v = (v | (v << _U(4))) & _U(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << _U(2))) & _U(0x3333333333333333)
    v = (v | (v << _U(1))) & _U(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even-position bits back together."""
    v = v.astype(_U) & _U(0x5555555555555555)
    v = (v | (v >> _U(1))) & _U(0x3333333333333333)
    v = (v | (v >> _U(2))) & _U(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> _U(4))) & _U(0x00FF00FF00FF00FF)
    v = (v | (v >> _U(8))) & _U(0x0000FFFF0000FFFF)
    v = (v | (v >> _U(16))) & _U(0x00000000FFFFFFFF)
    return v


def morton_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Interleave (x even bits, y odd bits) -> int64 Morton ids."""
    return (_part1by1(x) | (_part1by1(y) << _U(1))).astype(np.int64)


def demorton_np(cell: np.ndarray):
    """Morton ids -> (x, y) int64 arrays."""
    c = cell.astype(_U)
    return (
        _compact1by1(c).astype(np.int64),
        _compact1by1(c >> _U(1)).astype(np.int64),
    )


def cell_encode_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    xi, yi = merc_xy_np(lon, lat, LEVEL)
    return morton_np(xi, yi)


# --------------------------------------------------------- spark operators

_SPREAD_MASKS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))


def part1by1_sql(e: str) -> str:
    """SQL-text twin of _part1by1: spread a 32-bit value to even bits.
    Pure integer ops — stays inside whole-stage codegen."""
    for s, m in _SPREAD_MASKS:
        e = f"((({e}) | (({e}) << {s})) & {m}L)"
    return e


def compact1by1_sql(e: str) -> str:
    """SQL-text twin of _compact1by1: gather even bits back together."""
    e = f"(({e}) & {0x5555555555555555}L)"
    for s, m in ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                 (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                 (16, 0x00000000FFFFFFFF)):
        e = f"((({e}) | (({e}) >> {s})) & {m}L)"
    return e


def merc_xy_sql(lon_col: str, lat_col: str, level: int = LEVEL) -> tuple[str, str]:
    """Native grid-coordinate expressions (FIXTURES.md §3). Operand order
    matches merc_xy_np exactly; verified bit-identical to the numpy/
    DuckDB forms on the driver corpus (0 mismatches / 1500 pts)."""
    n = float(1 << level)
    hi = float((1 << level) - 1)
    lat_c = f"least(greatest({lat_col}, {-MAX_LAT!r}D), {MAX_LAT!r}D)"
    xi = (f"greatest(least(CAST(floor((({lon_col} + 180.0D)/360.0D) * {n!r}D) "
          f"AS BIGINT), CAST({hi!r}D AS BIGINT)), 0L)")
    yi = (f"greatest(least(CAST(floor(((1.0D - ln(tan(pi()/4.0D + "
          f"radians({lat_c})/2.0D))/pi())/2.0D) * {n!r}D) AS BIGINT), "
          f"CAST({hi!r}D AS BIGINT)), 0L)")
    return xi, yi


def with_cell(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
              out: str = "cell") -> DataFrame:
    """Attach the level-30 cell id column: the whole encode (mercator +
    Morton interleave) as JVM column expressions, bit-identical to
    ``cell_encode_np`` (floor-boundary agreement between JVM and C libm
    verified empirically).  The Morton cascade references its input 32x,
    so the grid coords are bound as intermediate columns first; inlining
    the ln/tan expression would blow the expression tree up ~64x."""
    xi, yi = merc_xy_sql(lon_col, lat_col)
    return (
        df.withColumn("_cx", F.expr(xi)).withColumn("_cy", F.expr(yi))
        .withColumn(out, F.expr(
            f"({part1by1_sql('_cx')} | ({part1by1_sql('_cy')} << 1))"))
        .drop("_cx", "_cy")
    )


def cell_parent_col(cell: Column | str, level: int) -> Column:
    """C2 — native prefix extraction; no UDF, stays in codegen."""
    c = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(c, 2 * (LEVEL - level))


def with_cell_prefix(df: DataFrame, level: int, cell_col: str = "cell",
                     out: str | None = None) -> DataFrame:
    return df.withColumn(out or f"cell_p{level}", cell_parent_col(cell_col, level))


def explode_disk(df: DataFrame, level: int, r: int | str,
                 cell_col: str = "cell", out: str = "cell") -> DataFrame:
    """C4 — one row per distinct cell of the Chebyshev disk of radius
    ``r`` (an int, or the name of a per-row integer column) around each
    row's level-``level`` cell ``cell_col``, written to ``out``; the
    other columns repeat.  Same cells as ``oracle.geo.cell_disk``: x
    wraps across the antimeridian and rows past the poles drop.

    Both offsets are bounded sequences, so no filter and no distinct is
    needed: dx spans the whole row [0, n-1] once 2r+1 >= n (a wider
    [-r, r] would wrap onto cells already emitted) and [-r, r] below
    that; the row index spans [max(0, y-r), min(n-1, y+r)].  Native
    Morton cascades end to end — no Python worker."""
    assert 0 < level <= LEVEL and (isinstance(r, str) or r >= 0)
    n = 1 << level
    rc = (F.lit(r) if isinstance(r, int) else F.col(r)).cast("long")
    wrap = 2 * rc + 1 >= n
    return (
        df.withColumn("_x", F.expr(compact1by1_sql(cell_col)))
        .withColumn("_y", F.expr(compact1by1_sql(f"({cell_col} >> 1)")))
        .withColumn("_dx", F.explode(F.sequence(
            F.when(wrap, F.lit(0)).otherwise(-rc),
            F.when(wrap, F.lit(n - 1)).otherwise(rc))))
        .withColumn("_ny", F.explode(F.sequence(
            F.greatest(F.col("_y") - rc, F.lit(0)),
            F.least(F.col("_y") + rc, F.lit(n - 1)))))
        .withColumn("_nx", F.pmod(F.col("_x") + F.col("_dx"), F.lit(n)))
        .withColumn(out, F.expr(
            f"({part1by1_sql('_nx')} | ({part1by1_sql('_ny')} << 1))"))
        .drop("_x", "_y", "_dx", "_ny", "_nx")
    )


def dilate_cells(df: DataFrame, level: int, k: int,
                 cell_col: str = "cell",
                 group_cols: tuple[str, ...] = ("poly_id",)) -> DataFrame:
    """Morphological buffering of a cell covering at a fixed level
    (C-bf): every cell within Chebyshev grid distance <= ``k`` of a
    covering cell joins the covering — the covering-domain analog of
    vector ST_Buffer, with the ring semantics of ``explode_disk``
    (x wraps across the antimeridian, out-of-range y rows drop at the
    poles).  Output is the distinct dilated (group_cols..., cell)
    frame at the same level; feed it to ``compact_cells`` for the
    minimal mixed-level buffered covering.

    Scale shape: each covering cell explodes its disk natively
    (``explode_disk``: Morton bit cascades, no Python worker), and the
    only shuffle is the terminal distinct on the skinny (group, cell)
    frame, which merges the overlapping disks of neighbouring cells.
    Coverings are layer metadata — this never touches the fact table.
    """
    return (explode_disk(df.select(*group_cols, cell_col), level, k, cell_col)
            .select(*group_cols, "cell")
            .distinct())


def erode_cells(df: DataFrame, level: int, k: int,
                cell_col: str = "cell",
                group_cols: tuple[str, ...] = ("poly_id",)) -> DataFrame:
    """Morphological erosion of a cell covering at a fixed level
    (C-er): a cell survives iff its ENTIRE Chebyshev disk of radius
    ``k`` lies inside the group's covering — the dual of
    ``dilate_cells``, with the same edge semantics read as a closed
    boundary: x wraps across the antimeridian, while a disk that
    pokes past the y range has a missing neighbor and erodes (the
    pole rows are treated as outside, exactly as dilation drops them).

    Scale shape: the inverted volunteer idiom — every covering cell
    explodes its (2k+1)^2 support offsets toward the CENTERS it
    backs, support meets in ONE map-side-combined count agg, and an
    inner join back to the covering keeps cells whose support is
    complete ((2k+1)^2 voters).  Native Morton cascades end to end,
    no Python, skinny (group, cell) frames only.
    """
    assert k >= 0 and 0 < level <= LEVEL
    n = 1 << level
    full = (2 * k + 1) ** 2
    gcols = [F.col(c) for c in group_cols]
    d = F.sequence(F.lit(-k), F.lit(k))
    base = (df.select(*group_cols, F.col(cell_col).alias("cell"))
            .distinct())
    votes = (base
             .withColumn("_x", F.expr(compact1by1_sql("cell")))
             .withColumn("_y", F.expr(compact1by1_sql("(cell >> 1)")))
             .withColumn("_dx", F.explode(d))
             .withColumn("_dy", F.explode(d))
             # the cell at (_x, _y) SUPPORTS the center displaced by
             # (-dx, -dy); centers whose disk leaves the y range can
             # never reach full support, so no clamping is needed
             .withColumn("_nx", F.pmod(F.col("_x") + F.col("_dx"),
                                       F.lit(n)))
             .withColumn("_ny", F.col("_y") + F.col("_dy"))
             .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
             .select(*gcols, F.expr(
                 f"({part1by1_sql('_nx')} | ({part1by1_sql('_ny')} << 1))"
             ).alias("cell"))
             .groupBy(*group_cols, "cell")
             .agg(F.count(F.lit(1)).alias("_sup")))
    return (base.join(votes.filter(F.col("_sup") == full),
                      [*group_cols, "cell"], "inner")
            .select(*gcols, "cell"))


def compact_cells(df: DataFrame, level: int, min_level: int,
                  cell_col: str = "cell",
                  group_cols: tuple[str, ...] = ("poly_id",)) -> DataFrame:
    """S2-style covering compaction (``S2CellUnion::Normalize`` semantics):
    wherever all four children of a parent cell are present in a group's
    covering, replace them by the parent, repeated down to ``min_level``.
    Input rows are distinct level-``level`` cells per group; output is the
    mixed-level minimal covering ``(group_cols..., level:int, cell:long)``
    covering exactly the same leaf area (oracle/geo.py
    ``compact_cells_py`` is the sequential twin).

    Scale shape: one window shuffle per level step, all on the skinny
    (group, cell) frame — no distinct/anti-join passes.  A complete quad
    is detected with a count window over (group, parent) and the parent
    row is emitted by keeping exactly the child with ``cell & 3 == 0``
    (children of one parent are parent*4 + {0,1,2,3}), so promotion
    needs no dedup shuffle.  The loop is driver-side but bounded by
    ``level - min_level`` (a constant); every iteration's frame shrinks.
    Coverings are layer metadata (polygons × cells, millions of rows at
    most) — this never touches the 10^12-row fact table.
    """
    from pyspark.sql import Window

    assert 0 <= min_level < level <= LEVEL
    gcols = [F.col(c) for c in group_cols]
    cur = df.select(*group_cols, F.col(cell_col).alias("cell"))
    finalized = []
    for lv in range(level, min_level, -1):
        w = Window.partitionBy(*group_cols, F.shiftright("cell", 2))
        cur = cur.withColumn("_qn", F.count(F.lit(1)).over(w))
        finalized.append(
            cur.filter(F.col("_qn") < 4)
            .select(*gcols, F.lit(lv).alias("level"), "cell"))
        cur = (cur.filter((F.col("_qn") == 4) & (F.col("cell").bitwiseAND(3) == 0))
               .select(*gcols, F.shiftright("cell", 2).alias("cell")))
    out = finalized[0]
    for f in finalized[1:]:
        out = out.unionByName(f)
    return out.unionByName(
        cur.select(*gcols, F.lit(min_level).alias("level"), "cell"))
