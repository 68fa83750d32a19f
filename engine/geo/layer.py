"""A5 — polygon layer source: load, antimeridian split, cell covering
(SURVEY.md §2.A5, §1.2; BASELINE.json:6 "joined to polygon layers").

The covering turns the coarse spatial join into a plain *equi-join*: each
polygon is covered by level-`level` grid cells tagged `full` (cell wholly
inside → candidates skip exact PIP) or partial (exact PIP needed).
Classification is exact: a cell is `full` iff no polygon edge intersects
the cell rect (Liang-Barsky segment/AABB) and the cell center is inside;
any edge intersection → partial; otherwise outside → dropped.

Polygons whose lon coordinates exceed +/-180 straddle the antimeridian
and are split into west/east parts (Sutherland-Hodgman half-plane clip)
before covering, so every part has minlon <= maxlon.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from engine.localdf import local_df
from oracle.geo import mercx, mercy, morton, point_in_polygon

LAYER12_PATH = "/root/repo/oracle/layer12.json"


def _open_ring(ring: list[list[float]]) -> list[list[float]]:
    """Drop the duplicate closing vertex if present (degenerate edge)."""
    if len(ring) > 1 and ring[0] == ring[-1]:
        return ring[:-1]
    return ring


def _clip_halfplane(ring: list[list[float]], x_cut: float, keep_le: bool):
    """Sutherland-Hodgman clip of a ring against the vertical line x=x_cut."""
    out: list[list[float]] = []
    n = len(ring)
    for i in range(n):
        cx, cy = ring[i]
        px, py = ring[i - 1]
        cin = (cx <= x_cut) if keep_le else (cx >= x_cut)
        pin = (px <= x_cut) if keep_le else (px >= x_cut)
        if cin != pin:
            t = (x_cut - px) / (cx - px)
            out.append([x_cut, py + t * (cy - py)])
        if cin:
            out.append([cx, cy])
    return out


def _ring_bbox(ring) -> tuple[float, float, float, float]:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


def _seg_intersects_rect(ax, ay, bx, by, x0, y0, x1, y1) -> bool:
    """Liang-Barsky segment vs closed AABB."""
    dx, dy = bx - ax, by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        if p == 0.0:
            if q < 0.0:
                return False
        else:
            t = q / p
            if p < 0.0:
                if t > t0:
                    t0 = t
            else:
                if t < t1:
                    t1 = t
            if t0 > t1:
                return False
    return True


def inv_mercy(y: float) -> float:
    """Inverse of oracle.geo.mercy: unit-square y -> latitude degrees."""
    return math.degrees(2.0 * math.atan(math.exp(math.pi * (1.0 - 2.0 * y))) - math.pi / 2.0)


@dataclass
class Polygon:
    poly_id: str
    name: str
    ring: list[list[float]]                    # open outer ring [[lon,lat],..]
    holes: list[list[list[float]]] = field(default_factory=list)

    def split_antimeridian(self) -> list[tuple[np.ndarray, list[np.ndarray]]]:
        """-> [(outer ndarray, [hole ndarrays])] with all lon in [-180,180]."""
        lons = [p[0] for p in self.ring]
        if max(lons) <= 180.0 and min(lons) >= -180.0:
            return [(np.asarray(self.ring, np.float64),
                     [np.asarray(h, np.float64) for h in self.holes])]
        parts = []
        west = _clip_halfplane(self.ring, 180.0, keep_le=True)
        if len(west) >= 3:
            wh = [h for h in (_clip_halfplane(h, 180.0, True) for h in self.holes)
                  if len(h) >= 3]
            parts.append((np.asarray(west, np.float64),
                          [np.asarray(h, np.float64) for h in wh]))
        east = _clip_halfplane(self.ring, 180.0, keep_le=False)
        if len(east) >= 3:
            east = [[x - 360.0, y] for x, y in east]
            eh = []
            for h in self.holes:
                hc = _clip_halfplane(h, 180.0, False)
                if len(hc) >= 3:
                    eh.append([[x - 360.0, y] for x, y in hc])
            parts.append((np.asarray(east, np.float64),
                          [np.asarray(h, np.float64) for h in eh]))
        return parts


def cover_part(ring: np.ndarray, holes: list[np.ndarray],
               level: int) -> list[tuple[int, bool]]:
    """Exact covering of one polygon part -> [(morton cell, full)]."""
    n = 1 << level
    minlon, minlat, maxlon, maxlat = _ring_bbox(ring.tolist())
    cx0 = min(max(int(math.floor(mercx(minlon) * n)), 0), n - 1)
    cx1 = min(max(int(math.floor(mercx(maxlon) * n)), 0), n - 1)
    cy0 = min(max(int(math.floor(mercy(maxlat) * n)), 0), n - 1)
    cy1 = min(max(int(math.floor(mercy(minlat) * n)), 0), n - 1)
    rings = [ring] + list(holes)
    segs = []
    for r in rings:
        a = r
        b = np.roll(r, -1, axis=0)
        segs.append(np.concatenate([a, b], axis=1))  # (E, 4): ax ay bx by
    segs = np.concatenate(segs, axis=0)
    ring_list = ring.tolist()
    holes_list = [h.tolist() for h in holes]

    out: list[tuple[int, bool]] = []
    for cx in range(cx0, cx1 + 1):
        lon0 = cx / n * 360.0 - 180.0
        lon1 = (cx + 1) / n * 360.0 - 180.0
        for cy in range(cy0, cy1 + 1):
            lat1 = inv_mercy(cy / n)        # top edge (larger lat)
            lat0 = inv_mercy((cy + 1) / n)  # bottom edge
            touched = any(
                _seg_intersects_rect(s[0], s[1], s[2], s[3], lon0, lat0, lon1, lat1)
                for s in segs
            )
            if touched:
                out.append((morton(cx, cy, level), False))
            else:
                ctr_lon = (lon0 + lon1) / 2.0
                ctr_lat = (lat0 + lat1) / 2.0
                if point_in_polygon(ctr_lon, ctr_lat, ring_list, holes_list):
                    out.append((morton(cx, cy, level), True))
    return out


BUILD_SCHEMA = StructType([
    StructField("cell_p", LongType(), False),
    StructField("poly_id", StringType(), False),
    StructField("full", BooleanType(), False),
])

EDGE_TYPE = StructType([
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("x2", DoubleType(), False),
    StructField("y2", DoubleType(), False),
])

BUILD_EDGES_SCHEMA = StructType([
    StructField("cell_p", LongType(), False),
    StructField("poly_id", StringType(), False),
    StructField("full", BooleanType(), False),
    # edges of every part that marks this cell partial (outer rings AND
    # holes — the native even-odd test handles holes by parity); None
    # for full cells, which skip the test entirely
    StructField("edges", ArrayType(EDGE_TYPE), True),
])


def part_edges(ring: np.ndarray, holes: list[np.ndarray]) -> list[tuple]:
    """All (x1, y1, x2, y2) edges of a polygon part, outer + holes."""
    out: list[tuple] = []
    for r in [ring] + list(holes):
        b = np.roll(r, -1, axis=0)
        for (x1, y1), (x2, y2) in zip(r.tolist(), b.tolist()):
            out.append((float(x1), float(y1), float(x2), float(y2)))
    return out

LAYER_SCHEMA = StructType([
    StructField("poly_id", StringType(), False),
    StructField("name", StringType(), True),
    StructField("ring_xy", ArrayType(ArrayType(DoubleType())), False),
    StructField("holes_xy", ArrayType(ArrayType(ArrayType(DoubleType()))), True),
    StructField("bbox", ArrayType(DoubleType()), False),
    StructField("cells", ArrayType(LongType()), False),
])


@dataclass
class PolygonLayer:
    polygons: list[Polygon]

    @classmethod
    def from_json(cls, path: str = LAYER12_PATH) -> "PolygonLayer":
        with open(path) as f:
            raw = json.load(f)
        polys = [
            Polygon(
                poly_id=p["poly_id"],
                name=p.get("name", p["poly_id"]),
                ring=_open_ring(p["ring"]),
                holes=[_open_ring(h) for h in p.get("holes", [])],
            )
            for p in raw["polygons"]
        ]
        return cls(polys)

    def parts(self) -> dict[str, list[tuple[np.ndarray, list[np.ndarray]]]]:
        """Antimeridian-split parts per poly_id.  Polygon records
        SHARING a poly_id (MultiPolygon features from the GeoJSON
        reader) merge into one part list — the even-odd PIP over
        disjoint parts' concatenated edges stays exact, and the
        covering already dedups (cell, poly_id)."""
        out: dict[str, list[tuple[np.ndarray, list[np.ndarray]]]] = {}
        for p in self.polygons:
            out.setdefault(p.poly_id, []).extend(p.split_antimeridian())
        return out

    def covering(self, level: int) -> list[tuple[int, str, bool]]:
        """All (cell_p, poly_id, full) rows at `level`, deduplicated."""
        seen: dict[tuple[int, str], bool] = {}
        for p in self.polygons:
            for ring, holes in p.split_antimeridian():
                for cell, full in cover_part(ring, holes, level):
                    key = (cell, p.poly_id)
                    seen[key] = seen.get(key, False) or full
        return sorted((c, pid, fl) for (c, pid), fl in seen.items())

    def covering_size(self, level: int) -> int:
        """Upper bound on covering rows (bbox cell count; no PIP work)."""
        n = 1 << level
        total = 0
        for p in self.polygons:
            for ring, _ in p.split_antimeridian():
                minlon, minlat, maxlon, maxlat = _ring_bbox(ring.tolist())
                cx0 = min(max(int(math.floor(mercx(minlon) * n)), 0), n - 1)
                cx1 = min(max(int(math.floor(mercx(maxlon) * n)), 0), n - 1)
                cy0 = min(max(int(math.floor(mercy(maxlat) * n)), 0), n - 1)
                cy1 = min(max(int(math.floor(mercy(minlat) * n)), 0), n - 1)
                total += (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
        return total

    def build_df(self, spark: SparkSession, level: int,
                 with_edges: bool = False) -> DataFrame:
        """The equi-join build side: (cell_p, poly_id, full[, edges]).

        `with_edges` attaches each partial cell's candidate edge list so
        the exact PIP refinement can run as a NATIVE even-odd crossing
        expression (engine/geo/pip.py::refine_native) — the whole
        spatial join then stays inside whole-stage codegen.  Full cells
        carry no edges (they bypass the test), so the broadcast grows
        only by O(boundary cells x polygon edges).

        The covering is a LocalRelation (engine/localdf.py): running or
        broadcasting it starts no Python worker, and the planner knows
        its size."""
        if not with_edges:
            rows = self.covering(level)
            return local_df(spark, rows, BUILD_SCHEMA)
        seen: dict[tuple[int, str], dict] = {}
        for p in self.polygons:
            for ring, holes in p.split_antimeridian():
                edges = part_edges(ring, holes)
                for cell, full in cover_part(ring, holes, level):
                    e = seen.setdefault((cell, p.poly_id),
                                        {"full": False, "edges": []})
                    if full:
                        e["full"] = True
                    else:
                        # even-odd over concatenated disjoint-part edges
                        # stays correct: a point inside part A crosses
                        # A's edges an odd number of times and any other
                        # part's an even number
                        e["edges"].extend(edges)
        rows = sorted(
            (cell, pid, e["full"], None if e["full"] else e["edges"])
            for (cell, pid), e in seen.items()
        )
        return local_df(spark, rows, BUILD_EDGES_SCHEMA)

    def build_df_compact(self, spark: SparkSession, level: int,
                         min_level: int, with_edges: bool = True):
        """Compacted equi-join build side -> (DataFrame, levels).

        S2-CellUnion normalization applied to the FULL covering cells
        only: four full children always make a full parent, so interior
        quads collapse level by level down to `min_level` with exact
        semantics (a full cell needs no edges — candidates in it bypass
        the PIP test).  Boundary (partial) cells cannot merge (their
        parents are not full) and stay at `level` with their edge lists.

        Scale rationale: the uncompacted covering grows O(area) = O(4^z)
        with the join level while the compacted one grows O(perimeter) =
        O(2^z) — on the 12-polygon layer, level 12 shrinks 144 577 ->
        12 067 build rows (12x).  That keeps fine-level coverings inside
        the broadcast budget; the price is a probe-side ancestor fan-out
        bounded by len(levels) (<= level - min_level + 1), all native
        shiftright in codegen (engine/geo/join.py::spatial_join
        compact_min_level).

        Returns the build frame with schema (blevel:int, cell_p, poly_id,
        full[, edges]) and the sorted list of levels actually present,
        which the probe explodes over (absent levels cost nothing).
        """
        from oracle.geo import compact_cells_py

        seen: dict[tuple[int, str], dict] = {}
        for p in self.polygons:
            for ring, holes in p.split_antimeridian():
                edges = part_edges(ring, holes) if with_edges else None
                for cell, full in cover_part(ring, holes, level):
                    e = seen.setdefault((cell, p.poly_id),
                                        {"full": False, "edges": []})
                    if full:
                        e["full"] = True
                    elif with_edges:
                        e["edges"].extend(edges)
        full_by_poly: dict[str, list[int]] = {}
        rows = []
        for (cell, pid), e in sorted(seen.items()):
            if e["full"]:
                full_by_poly.setdefault(pid, []).append(cell)
            else:
                rows.append((level, cell, pid, False,
                             e["edges"] if with_edges else None))
        for pid, cells in sorted(full_by_poly.items()):
            for lv, cell in compact_cells_py(cells, level, min_level):
                rows.append((lv, cell, pid, True, None))
        schema = StructType([
            StructField("blevel", IntegerType(), False),
            *BUILD_EDGES_SCHEMA.fields])
        if not with_edges:
            rows = [r[:4] for r in rows]
            schema = StructType(schema.fields[:4])
        levels = sorted({r[0] for r in rows})
        return local_df(spark, rows, schema), levels

    def to_df(self, spark: SparkSession, level: int) -> DataFrame:
        """Full layer inventory DF per SURVEY.md §1.2 schema."""
        rows = []
        for p in self.polygons:
            cells = sorted({c for c, pid, _ in self.covering(level) if pid == p.poly_id})
            rows.append((
                p.poly_id, p.name,
                [[float(x), float(y)] for x, y in p.ring],
                [[[float(x), float(y)] for x, y in h] for h in p.holes] or None,
                list(_ring_bbox(p.ring)),
                cells,
            ))
        return local_df(spark, rows, LAYER_SCHEMA)


def rect_polygon(poly_id: str, minlon: float, minlat: float,
                 maxlon: float, maxlat: float, name: str | None = None) -> Polygon:
    return Polygon(
        poly_id=poly_id, name=name or poly_id,
        ring=[[minlon, minlat], [maxlon, minlat], [maxlon, maxlat], [minlon, maxlat]],
    )
