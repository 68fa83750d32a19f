"""D3 — exact point-in-polygon refinement (SURVEY.md §2.D3).

BASELINE.json:6 — candidates from the cell-prefix hash join get "an exact
Shapely/GEOS PIP refinement".  No GEOS is installable offline (SURVEY.md
§0b), so the exact test is a vectorized numpy crossing-number ray cast
with holes, bitwise-identical in its float expression to the pure-Python
oracle (oracle/geo.py::point_in_ring) — same operand order, same doubles.

Execution shape (scale rationale):
- runs as `mapInPandas` over candidate Arrow batches — pixels/geometry
  never leave the executor's Python worker, only the boolean verdict;
- the polygon arrays ride an `sc.broadcast` (one copy per executor, not
  per task);
- candidates whose covering cell is *fully inside* the polygon
  (`full=true` from engine/geo/layer.py) skip the exact test entirely —
  for large polygons this removes the PIP cost for the vast interior.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pip_mask_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test of P points against one ring.

    `ring` is an open (V, 2) array of [lon, lat].  Matches
    oracle.geo.point_in_ring exactly: an edge counts iff
    (y1 > py) != (y2 > py) and px < x-intersection.
    """
    x1 = ring[:, 0][:, None]
    y1 = ring[:, 1][:, None]
    x2 = np.roll(ring[:, 0], -1)[:, None]
    y2 = np.roll(ring[:, 1], -1)[:, None]
    cond = (y1 > py[None, :]) != (y2 > py[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
    crossings = (cond & (px[None, :] < xint)).sum(axis=0)
    return (crossings % 2).astype(bool)


def pip_polygon_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray,
                   holes: list[np.ndarray]) -> np.ndarray:
    inside = pip_mask_np(px, py, ring)
    for hole in holes:
        if inside.any():
            inside &= ~pip_mask_np(px, py, hole)
    return inside


def pip_parts_np(px: np.ndarray, py: np.ndarray,
                 parts: list[tuple[np.ndarray, list[np.ndarray]]]) -> np.ndarray:
    """Point in a multi-part polygon (antimeridian-split parts)."""
    inside = np.zeros(len(px), dtype=bool)
    for ring, holes in parts:
        inside |= pip_polygon_np(px, py, ring, holes)
    return inside


def refine(candidates: DataFrame, parts_by_poly: dict, *,
           lon_col: str = "lon", lat_col: str = "lat",
           poly_col: str = "poly_id", full_col: str = "full") -> DataFrame:
    """Filter candidate (image x polygon) rows to exact containment.

    `parts_by_poly`: {poly_id: [(ring ndarray, [hole ndarrays]), ...]} —
    pass `layer.parts()` from engine/geo/layer.py.  Rows with
    `full_col == True` bypass the exact test (their covering cell is
    interior).  Output drops `full_col`, keeps everything else.

    This numpy ray cast is the reference that refine_native is tested
    against (tests/test_pip_native.py).
    """
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(parts_by_poly)
    out_fields = [f for f in candidates.schema.fields if f.name != full_col]
    out_schema = type(candidates.schema)(out_fields)
    out_cols = [f.name for f in out_fields]

    def _refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = pdf[full_col].to_numpy(bool).copy()
            todo = ~keep
            if todo.any():
                px = pdf[lon_col].to_numpy(np.float64)
                py = pdf[lat_col].to_numpy(np.float64)
                for pid, grp in pdf.loc[todo].groupby(poly_col, sort=False):
                    idx = grp.index.to_numpy()
                    pos = pdf.index.get_indexer(idx)
                    keep[pos] = pip_parts_np(px[pos], py[pos], polys[pid])
            yield pdf.loc[keep, out_cols]

    return candidates.mapInPandas(_refine, schema=out_schema)


# ------------------------------------------------------- native refine

def pip_native_col(edges_col: str, lon_col: str, lat_col: str) -> Column:
    """Even-odd crossing number as a NATIVE higher-order-function
    expression over the candidate edge array.

    Exactly the same arithmetic as pip_mask_np — an edge counts iff
    `(y1 > lat) != (y2 > lat)` and `lon < (x2-x1)*(lat-y1)/(y2-y1)+x1` —
    and it is pure +,-,*,/ and comparisons, which are IEEE-exact in both
    the JVM and numpy, so the verdicts are bit-identical to the pandas
    kernel (no transcendentals anywhere).  Holes are handled by parity:
    their edges are simply part of the array.

    Division by zero for horizontal edges yields +/-Infinity or NaN; in
    that case the `(y1 > lat) != (y2 > lat)` conjunct is always false,
    so the crossing never counts (same as the numpy masked division).
    """
    e = (
        f"aggregate({edges_col}, 0, (acc, e) -> acc + IF("
        f"((e.y1 > {lat_col}) != (e.y2 > {lat_col})) AND "
        f"({lon_col} < (e.x2 - e.x1) * ({lat_col} - e.y1) / (e.y2 - e.y1) + e.x1), "
        f"1, 0))"
    )
    return F.expr(f"pmod({e}, 2) = 1")


def refine_native(candidates: DataFrame, *, lon_col: str = "lon",
                  lat_col: str = "lat", full_col: str = "full",
                  edges_col: str = "edges") -> DataFrame:
    """D3, native form: exact containment with ZERO Python stages.

    Input: candidate rows from the cell-prefix join against an
    edges-carrying build side (PolygonLayer.build_df(with_edges=True)).
    Full-cell candidates pass immediately; boundary-cell candidates run
    the even-odd test over their cell's edge array — everything inside
    whole-stage codegen, with per-row cost proportional to the polygon's
    edge count in that one cell.  Output drops `full`/`edges`.
    """
    # Spark 4.1 guard: InferFiltersFromConstraints infers this mixed
    # HOF predicate onto the build side of the join, where the lambda's
    # outer references (lon/lat) cannot bind -> runtime
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. The rule only adds derived
    # (redundant) filters, so excluding it is loss-free. Engine sessions
    # set this in ENGINE_CONFS already; enforce for foreign sessions.
    spark = candidates.sparkSession
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "") or ""
    if rule not in excluded:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       f"{excluded},{rule}".strip(","))
    keep = F.col(full_col) | pip_native_col(edges_col, lon_col, lat_col)
    out_cols = [c for c in candidates.columns if c not in (full_col, edges_col)]
    return candidates.filter(keep).select(*out_cols)
