"""Pure-Python geo oracle: cells, tiles, quadkeys, rings, PIP, haversine, kNN.

Implements the tile/cell math spec of FIXTURES.md §3 verbatim — this file
IS the compatibility contract for "exact join-row and tile-assignment
match" (BASELINE.json:6,14).  Plain ints + math module only; sequential;
used by tests to validate the vectorized engine (engine/geo/*).
"""

from __future__ import annotations

import math

MAX_LAT = 85.05112878
LEVEL = 30  # leaf cell level; 2^30 x 2^30 grid, Morton id fits in int64
SCALE = 1 << LEVEL
EARTH_RADIUS_M = 6371000.0


# ---------------------------------------------------------------- mercator

def mercx(lon: float) -> float:
    """Web-Mercator unit-square x in [0, 1)."""
    return (lon + 180.0) / 360.0


def mercy(lat: float) -> float:
    """Web-Mercator unit-square y in [0, 1); lat clamped to +/-MAX_LAT."""
    lat = max(-MAX_LAT, min(MAX_LAT, lat))
    return (1.0 - math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0)) / math.pi) / 2.0


def lonlat_to_xy(lon: float, lat: float, level: int = LEVEL) -> tuple[int, int]:
    """Integer grid coords at `level` (floor, clamped to 2^level - 1)."""
    n = 1 << level
    xi = int(math.floor(mercx(lon) * n))
    yi = int(math.floor(mercy(lat) * n))
    return min(max(xi, 0), n - 1), min(max(yi, 0), n - 1)


# ---------------------------------------------------------------- morton

def morton(x: int, y: int, level: int = LEVEL) -> int:
    """Interleave bits, x in even positions (bit 0 = x bit 0)."""
    c = 0
    for i in range(level):
        c |= ((x >> i) & 1) << (2 * i)
        c |= ((y >> i) & 1) << (2 * i + 1)
    return c


def demorton(cell: int, level: int = LEVEL) -> tuple[int, int]:
    x = y = 0
    for i in range(level):
        x |= ((cell >> (2 * i)) & 1) << i
        y |= ((cell >> (2 * i + 1)) & 1) << i
    return x, y


# ---------------------------------------------------------------- cells

def cell_encode(lon: float, lat: float) -> int:
    """lon/lat -> level-30 Morton cell id (FIXTURES.md §3)."""
    xi, yi = lonlat_to_xy(lon, lat, LEVEL)
    return morton(xi, yi, LEVEL)


def cell_parent(cell: int, level: int) -> int:
    """level-30 id -> level-`level` ancestor."""
    return cell >> (2 * (LEVEL - level))


def cell_ring(x: int, y: int, z: int, k: int) -> list[int]:
    """Morton ids (at level z) of cells at Chebyshev distance exactly k.

    x wraps mod 2^z (antimeridian), y outside [0, 2^z) is dropped (poles).
    Sorted, deduplicated.
    """
    n = 1 << z
    out = set()
    if k == 0:
        return [morton(x % n, y, z)] if 0 <= y < n else []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            ny = y + dy
            if 0 <= ny < n:
                out.add(morton((x + dx) % n, ny, z))
    return sorted(out)


def cell_disk(x: int, y: int, z: int, k: int) -> list[int]:
    """Union of rings 0..k (the kNN candidate block): every offset with
    max(|dx|, |dy|) <= k, x wrapped mod 2^z, y outside [0, 2^z) dropped.
    Sorted, deduplicated.  One pass over the (2k+1)^2 offsets, where a
    ring-by-ring union would take ~(2k+1)^3 / 6 steps."""
    n = 1 << z
    return sorted({morton((x + dx) % n, y + dy, z)
                   for dx in range(-k, k + 1) for dy in range(-k, k + 1)
                   if 0 <= y + dy < n})


# ---------------------------------------------------------------- tiles

def tile(lon: float, lat: float, z: int) -> tuple[int, int, int]:
    """Slippy-map tile (z, x, y) via the level-30 grid (FIXTURES.md §3)."""
    xi, yi = lonlat_to_xy(lon, lat, LEVEL)
    return z, xi >> (LEVEL - z), yi >> (LEVEL - z)


def quadkey(z: int, x: int, y: int) -> str:
    """Base-4 digits of morton(x, y) at level z, MSB first; length z."""
    digits = []
    for i in range(z - 1, -1, -1):
        digits.append(str(((x >> i) & 1) | (((y >> i) & 1) << 1)))
    return "".join(digits)


# ---------------------------------------------------------------- PIP

def point_in_ring(px: float, py: float, ring: list[list[float]]) -> bool:
    """Crossing-number ray cast, x-positive ray.

    Convention (FIXTURES.md §3): edge treatment follows the classic
    half-open crossing rule — an edge contributes iff its y-interval
    half-openly contains py ((y1 > py) != (y2 > py)) and the intersection
    is strictly right of px.  Tested explicitly in tests/test_pip.py.
    """
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def point_in_polygon(
    px: float,
    py: float,
    ring: list[list[float]],
    holes: list[list[list[float]]] | None = None,
) -> bool:
    if not point_in_ring(px, py, ring):
        return False
    for hole in holes or []:
        if point_in_ring(px, py, hole):
            return False
    return True


# ---------------------------------------------------------------- distance

def haversine_m(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    """Great-circle metres (sphere radius EARTH_RADIUS_M)."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2) - math.radians(lon1)
    a = math.sin(dp / 2.0) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * math.asin(min(1.0, math.sqrt(a)))


def knn_bruteforce(
    qlon: float, qlat: float, points: list[tuple[str, float, float]], k: int
) -> list[tuple[str, float]]:
    """Exact k nearest (id, dist_m), distance then id tiebreak."""
    scored = [
        (pid, haversine_m(qlon, qlat, plon, plat)) for pid, plon, plat in points
    ]
    scored.sort(key=lambda t: (t[1], t[0]))
    return scored[:k]


# ---------------------------------------------------------------- covering

def cell_bounds(cx: int, cy: int, level: int) -> tuple[float, float, float, float]:
    """Unit-square mercator bounds (x0, y0, x1, y1) of grid cell (cx, cy)."""
    n = 1 << level
    return cx / n, cy / n, (cx + 1) / n, (cy + 1) / n


def bbox_cover_cells(
    minlon: float, minlat: float, maxlon: float, maxlat: float, level: int
) -> list[int]:
    """All level-`level` Morton cells intersecting the lon/lat bbox.

    Note mercy is decreasing in lat: maxlat -> min yi.  Assumes
    minlon <= maxlon (antimeridian polygons are split by the layer
    loader before covering — engine/geo/layer.py).
    """
    n = 1 << level
    x0 = min(max(int(math.floor(mercx(minlon) * n)), 0), n - 1)
    x1 = min(max(int(math.floor(mercx(maxlon) * n)), 0), n - 1)
    y0 = min(max(int(math.floor(mercy(maxlat) * n)), 0), n - 1)
    y1 = min(max(int(math.floor(mercy(minlat) * n)), 0), n - 1)
    return sorted(
        morton(x, y, level) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)
    )


def dilate_cells_py(cells: list[int], level: int, k: int) -> list[int]:
    """Sequential oracle for Chebyshev-disk covering dilation
    (engine/geo/cells.py ``dilate_cells`` must match this exactly):
    x wraps mod 2^level, out-of-range y drops — the ring semantics of
    ``cell_ring``.  Returns the sorted distinct dilated cells."""
    n = 1 << level
    out: set[int] = set()
    for c in cells:
        x = y = 0
        for i in range(level):
            x |= ((c >> (2 * i)) & 1) << i
            y |= ((c >> (2 * i + 1)) & 1) << i
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                ny = y + dy
                if not 0 <= ny < n:
                    continue
                out.add(morton((x + dx) % n, ny, level))
    return sorted(out)


def erode_cells_py(cells: list[int], level: int, k: int) -> list[int]:
    """Sequential oracle for Chebyshev-disk covering erosion
    (engine/geo/cells.py ``erode_cells`` must match this exactly):
    a cell survives iff its whole (2k+1)^2 disk is inside the
    covering — x wraps mod 2^level, a disk poking past the y range
    has a missing member and erodes."""
    n = 1 << level
    have = set(cells)
    xy = {}
    for c in cells:
        x = y = 0
        for i in range(level):
            x |= ((c >> (2 * i)) & 1) << i
            y |= ((c >> (2 * i + 1)) & 1) << i
        xy[c] = (x, y)
    out = []
    for c in cells:
        x, y = xy[c]
        ok = True
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                ny = y + dy
                if not 0 <= ny < n or \
                        morton((x + dx) % n, ny, level) not in have:
                    ok = False
                    break
            if not ok:
                break
        if ok:
            out.append(c)
    return sorted(out)


def compact_cells_py(
    cells: list[int], level: int, min_level: int
) -> list[tuple[int, int]]:
    """Sequential oracle for S2-style covering compaction: wherever all 4
    children of a parent are present, replace them by the parent, repeated
    down to `min_level`.  Returns sorted (level, cell) pairs covering
    exactly the same leaf area as the input (engine/geo/cells.py
    ``compact_cells`` must match this exactly)."""
    out: list[tuple[int, int]] = []
    cur = set(cells)
    for lv in range(level, min_level, -1):
        by_parent: dict[int, int] = {}
        for c in cur:
            by_parent[c >> 2] = by_parent.get(c >> 2, 0) + 1
        out.extend((lv, c) for c in cur if by_parent[c >> 2] < 4)
        cur = {p for p, n in by_parent.items() if n == 4}
    out.extend((min_level, c) for c in cur)
    return sorted(out)
