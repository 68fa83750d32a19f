"""Raster -> vector regionization (polygonize): connected components of
occupied pixels in per-tile occupancy rasters, emitted as vector region
records (bbox + pixel count + weight).  Completes the north_star's
"raster<->vector" bridge in the reverse direction of
engine/geo/raster.py — rasterize turns points into per-tile grids;
polygonize turns those grids back into vector features (the OSM-class
`gdal_polygonize` / raster-contour operation).

Scale shape:
- Input is the same skinny (tile_x, tile_y, pix, w) pixel-count relation
  the rasterizer aggregates to — a hot tile is already bounded to
  grid^2 rows by the map-side combine, so the single tile-keyed shuffle
  here inherits the rasterizer's skew bound.
- Per-tile labeling is BATCHED, not per-group: pixels are collected per
  tile natively (collect_list of <= grid^2 structs) and ONE Arrow
  scalar pandas UDF labels thousands of tiles per Python invocation.
  A first cut used applyInPandas (one pandas frame per tile) and spent
  ~2 ms of per-group overhead per tile — 905 s for 50 M points over
  1 M tiles; the batched shape is ~16x faster on the same input
  (measured, see BASELINE.md).  Same lesson as the rasterizer's
  rasterize_tile_grids (engine/geo/raster.py docstring).
- Cross-tile stitching (polygonize_global) is the SAME iterative
  min-label propagation as duplicate clustering
  (engine/graph.py::connected_components): per-tile regions that
  touch a shared tile edge with 4-adjacent boundary pixels become graph
  edges; only O(boundary) skinny rows shuffle, converging in
  O(region diameter in tiles) rounds.

Determinism contract (r3 float-tie rule): everything is integer — pixel
ids, counts, min-pixel region labels — so a DuckDB recursive-CTE twin
reproduces region labels bit-exactly and the driver can hash-check the
key at any sf.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

REGION_SCHEMA = StructType([
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("region_id", LongType()),   # min pixel id in the region
    StructField("n_pixels", IntegerType()),
    StructField("w_sum", LongType()),
    StructField("min_px", IntegerType()),
    StructField("min_py", IntegerType()),
    StructField("max_px", IntegerType()),
    StructField("max_py", IntegerType()),
])

_REGION_FIELDS = StructType([f for f in REGION_SCHEMA
                             if f.name not in ("tile_x", "tile_y")])


def _label_tile(pix: list[int], grid: int) -> dict[int, int]:
    """4-connected components over one tile's occupied pixel ids.
    Returns {pixel_id: region_label} with label = min pixel id of the
    region.  Pure-int union-find over <= grid^2 members — bounded work
    per tile by construction."""
    occupied = set(pix)
    parent = {p: p for p in occupied}

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for p in occupied:
        x, y = p % grid, p // grid
        # right + down neighbors cover every adjacent pair once
        for q in ((p + 1) if x + 1 < grid else None,
                  (p + grid) if y + 1 < grid else None):
            if q is not None and q in occupied:
                ra, rb = find(p), find(q)
                if ra != rb:
                    # union by label order keeps the min id reachable
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
    return {p: find(p) for p in occupied}


def _packed_tiles(pixels: DataFrame, grid_bits: int):
    """(tile_x, tile_y, pw): pixels collected per tile — the ONE
    tile-keyed shuffle; each list is <= grid^2 entries by construction.

    r4 perf: each (pix, w) pair is packed into ONE int64
    (w << 2*grid_bits | pix) instead of a struct — Arrow moves a single
    child array rather than two plus validity, and the kernels unpack
    with two integer ops.  Measured 4.5x faster on the label-only path
    at bench scale (struct-array serialization dominated the stage).
    Domain: pix < 2^(2*grid_bits) by construction; w (points per pixel)
    must stay below 2^(63-2*grid_bits) — 2^43 even at the max
    grid_bits=10, far above any physical per-pixel count."""
    shift = 2 * grid_bits
    return (pixels.groupBy("tile_x", "tile_y")
            .agg(F.collect_list(
                (F.col("w") * (1 << shift) + F.col("pix")).cast("long")
            ).alias("pw")))


def polygonize(pixels: DataFrame, grid_bits: int = 4) -> DataFrame:
    """Vectorize per-tile occupancy rasters: input (tile_x, tile_y, pix,
    w) pixel counts (the rasterizer's internal relation — see
    engine/geo/raster.py::_pixel_counts), output one row per 4-connected
    region per tile with region_id = the region's minimum pixel id, its
    pixel count, total weight, and pixel-space bbox.

    One tile-keyed shuffle (inherits the rasterizer's grid^2 skew
    bound) + one BATCHED Arrow stage (thousands of tiles per Python
    call); region rows explode natively out of the struct array."""
    grid = 1 << grid_bits
    mask = (1 << (2 * grid_bits)) - 1

    @F.pandas_udf(ArrayType(_REGION_FIELDS))
    def vectorize(pw: pd.Series) -> pd.Series:
        out = []
        for lst in pw:
            pairs = [(int(v) & mask, int(v) >> (2 * grid_bits)) for v in lst]
            pix = [p for p, _ in pairs]
            wmap = dict(pairs)
            labels = _label_tile(pix, grid)
            regions: dict[int, list[int]] = {}
            for p, lbl in labels.items():
                x, y = p % grid, p // grid
                r = regions.get(lbl)
                if r is None:
                    regions[lbl] = [1, wmap[p], x, y, x, y]
                else:
                    r[0] += 1
                    r[1] += wmap[p]
                    if x < r[2]:
                        r[2] = x
                    if y < r[3]:
                        r[3] = y
                    if x > r[4]:
                        r[4] = x
                    if y > r[5]:
                        r[5] = y
            out.append([
                {"region_id": lbl, "n_pixels": v[0], "w_sum": v[1],
                 "min_px": v[2], "min_py": v[3], "max_px": v[4],
                 "max_py": v[5]} for lbl, v in regions.items()])
        return pd.Series(out)

    return (_packed_tiles(pixels, grid_bits)
            .select("tile_x", "tile_y", F.explode(vectorize("pw")).alias("r"))
            .select("tile_x", "tile_y", "r.*"))


def _trace_rings(cells: set[tuple[int, int]]):
    """Boundary rings of a pixel set by directed-edge cancellation +
    leftmost-turn following (r4, VERDICT #4 — the gdal_polygonize ring
    output).  Each pixel contributes its 4 unit edges oriented
    counterclockwise (interior on the LEFT in math axes); shared edges
    between 4-adjacent pixels appear once in each direction and cancel,
    leaving exactly the boundary.  Every directed edge then has a unique
    successor: at its head vertex take the most-counterclockwise turn
    (hug the interior), which deterministically splits pinch corners
    (two diagonal in-region pixels) into separate passes.  The successor
    map is purely local, so the edges decompose into disjoint cycles =
    the region's rings; the outer ring comes out CCW (positive shoelace
    area), holes CW (negative) — Sum(signed areas) == n_pixels exactly.

    Returns [(vertices, n_edges, area)] with `vertices` the
    collinear-collapsed closed ring (first vertex NOT repeated),
    canonically rotated to its lexicographically smallest vertex
    sequence; rings sorted outer-first then by first vertex.  Pure
    integer arithmetic throughout — O(perimeter) per region, bounded by
    4*len(cells)."""
    edges: set[tuple[tuple[int, int], tuple[int, int]]] = set()
    for (x, y) in cells:
        for a, b in (((x, y), (x + 1, y)), ((x + 1, y), (x + 1, y + 1)),
                     ((x + 1, y + 1), (x, y + 1)), ((x, y + 1), (x, y))):
            if (b, a) in edges:
                edges.remove((b, a))
            else:
                edges.add((a, b))
    out: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)

    def successor(edge):
        a, b = edge
        din = (b[0] - a[0], b[1] - a[1])
        best = None
        for c in out[b]:
            do = (c[0] - b[0], c[1] - b[1])
            key = (din[0] * do[1] - din[1] * do[0],   # cross: left > right
                   din[0] * do[0] + din[1] * do[1])   # dot: straight > back
            if best is None or key > best[0]:
                best = (key, c)
        return (b, best[1])

    remaining = set(edges)
    rings = []
    while remaining:
        start = min(remaining)
        cyc = []
        cur = start
        while True:
            remaining.remove(cur)
            cyc.append(cur[0])
            nxt = successor(cur)
            if nxt == start:
                break
            cur = nxt
        n_edges = len(cyc)
        # collapse collinear runs: keep only direction changes
        n = len(cyc)
        verts = [cyc[i] for i in range(n)
                 if (cyc[i][0] - cyc[i - 1][0], cyc[i][1] - cyc[i - 1][1])
                 != (cyc[(i + 1) % n][0] - cyc[i][0],
                     cyc[(i + 1) % n][1] - cyc[i][1])]
        # canonical rotation: smallest vertex sequence over rotations
        # starting at every occurrence of the minimum vertex
        mn = min(verts)
        best = None
        for i, v in enumerate(verts):
            if v == mn:
                cand = verts[i:] + verts[:i]
                if best is None or cand < best:
                    best = cand
        verts = best
        area2 = sum(verts[i][0] * verts[(i + 1) % len(verts)][1]
                    - verts[(i + 1) % len(verts)][0] * verts[i][1]
                    for i in range(len(verts)))
        assert area2 % 2 == 0
        rings.append((verts, n_edges, area2 // 2))
    rings.sort(key=lambda r: (-(r[2] > 0), r[0][0]))
    return rings


RING_FIELDS = StructType([
    StructField("region_id", LongType()),
    StructField("ring_id", IntegerType()),
    StructField("kind", StringType()),
    StructField("n_edges", IntegerType()),
    StructField("n_vertices", IntegerType()),
    StructField("area", LongType()),
    StructField("ring_xy", ArrayType(StructType([
        StructField("x", LongType()), StructField("y", LongType())]))),
])


def polygonize_rings(pixels: DataFrame, grid_bits: int = 4) -> DataFrame:
    """gdal_polygonize-class RING output (r4): one row per boundary ring
    per 4-connected region per tile — (tile_x, tile_y, region_id,
    ring_id, kind outer|hole, n_edges unit steps, n_vertices after
    collinear collapse, signed area in pixels, ring_xy vertex list in
    GLOBAL integer pixel coordinates x = tile_x*grid + px).  Global
    coords make rings from adjacent tiles share boundary positions and
    feed simplify_rings / area_centroid downstream (rings_as_layer).

    Same scale shape as polygonize: ONE tile-keyed shuffle bounded to
    grid^2 rows per tile, ONE batched Arrow stage tracing thousands of
    tiles per Python call; everything integer, so output is independent
    of partitioning and host libm.

    Exactness contract (driver key polygonize_rings): three independent
    combinatorial identities tie the traced rings to plain SQL over the
    pixel relation — Sum(signed ring areas) = n_pixels,
    Sum(n_edges) = 4P - 2A (A = 4-adjacent in-region pairs), and
    Sum(n_vertices) = the region's corner count by 2x2 neighborhood
    pattern (popcount 1 or 3 -> 1 corner, diagonal pair -> 2).  A wrong
    trace breaks at least one identity; the even-odd reconstruction
    pytest (tests/test_polygonize.py) pins the coordinates themselves."""
    grid = 1 << grid_bits
    mask = (1 << (2 * grid_bits)) - 1

    # r4 perf: vertices travel as ONE packed int64 ((x << 32) | y) per
    # vertex and are re-structed by a native codegen transform AFTER the
    # Arrow stage — combined with the packed pixel input this measured
    # 5.9 -> 3.8 s on the sf0.1 bench (struct-array serialization and
    # per-vertex Python dict building dominated).  Coordinate domain:
    # global pixel coords < 2^(z + grid_bits) <= 2^30 << 2^32.
    pk_fields = StructType(
        [f for f in RING_FIELDS if f.name != "ring_xy"]
        + [StructField("ring_packed", ArrayType(LongType()))])

    @F.pandas_udf(ArrayType(pk_fields))
    def trace(pw: pd.Series, txs: pd.Series, tys: pd.Series) -> pd.Series:
        out = []
        for lst, tx, ty in zip(pw, txs, tys):
            pix = [int(v) & mask for v in lst]
            labels = _label_tile(pix, grid)
            by_region: dict[int, set] = {}
            for p, lbl in labels.items():
                by_region.setdefault(lbl, set()).add((p % grid, p // grid))
            ox, oy = int(tx) * grid, int(ty) * grid
            rows = []
            for lbl in sorted(by_region):
                for i, (verts, n_edges, area) in enumerate(
                        _trace_rings(by_region[lbl])):
                    rows.append((lbl, i, "outer" if area > 0 else "hole",
                                 n_edges, len(verts), area,
                                 [((ox + vx) << 32) | (oy + vy)
                                  for vx, vy in verts]))
            out.append(rows)
        return pd.Series(out)

    return (_packed_tiles(pixels, grid_bits)
            .select("tile_x", "tile_y",
                    F.explode(trace("pw", "tile_x", "tile_y")).alias("r"))
            .select("tile_x", "tile_y", "r.*")
            .withColumn("ring_xy", F.expr(
                "transform(ring_packed, v -> named_struct("
                "'x', shiftright(v, 32), 'y', v & 4294967295))"))
            .drop("ring_packed"))


def contour_rings(pixels: DataFrame, grid_bits: int = 4,
                  thresholds: tuple[int, ...] = (1,),
                  checkpoint: bool = True) -> DataFrame:
    """Iso-count CONTOUR extraction (late r4) — the marching-squares
    class operation at pixel granularity: for each threshold t, the
    boundary rings of the super-level set {pixel : w >= t}, traced by
    the same directed-edge-cancellation machinery as polygonize_rings
    (so outer rings are CCW, holes CW, and the combinatorial identities
    hold per level).  Output = polygonize_rings columns + `level` (the
    threshold).  Nested super-level sets give nested contours — the
    iso-band picture of the count raster.

    Scale shape: the pixel relation (already bounded to grid^2 rows per
    tile by the rasterizer's map-side combine) is checkpointed once and
    re-filtered per threshold — len(thresholds) bounded passes over the
    SKINNY relation, never over the base table; each pass is the one
    tile-keyed shuffle + one batched Arrow trace of polygonize_rings."""
    base = pixels.localCheckpoint(eager=False) if checkpoint else pixels
    parts = [
        polygonize_rings(base.filter(F.col("w") >= int(t)), grid_bits)
        .withColumn("level", F.lit(int(t)).cast("int"))
        for t in thresholds
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def rings_as_layer(rings: DataFrame, scale: float = 1.0) -> DataFrame:
    """Adapt polygonize_rings output to the engine's polygon-ring schema
    (engine/geo/measure.py::RING_SCHEMA) so traced regions flow straight
    into simplify_rings / area_centroid — the raster -> vector -> measure
    path the north star names.  `scale` maps integer pixel units to
    degrees."""
    return rings.select(
        F.concat_ws("/", F.col("tile_x"), F.col("tile_y"),
                    F.col("region_id")).alias("poly_id"),
        F.col("ring_id").cast("string").alias("ring_id"),
        "kind",
        F.expr(f"transform(ring_xy, v -> struct("
               f"v.x * CAST({scale} AS DOUBLE) AS lon, "
               f"v.y * CAST({scale} AS DOUBLE) AS lat))").alias("verts"))


def _labeled_pixels(pixels: DataFrame, grid: int) -> DataFrame:
    """(tile_x, tile_y, pix, w, lbl): per-pixel region labels, batched
    the same way as polygonize (one Arrow call labels thousands of
    tiles)."""
    t = ArrayType(StructType([
        StructField("pix", LongType()), StructField("w", LongType()),
        StructField("lbl", LongType()),
    ]))

    import math
    gb = int(math.log2(grid))
    mask = (1 << (2 * gb)) - 1

    @F.pandas_udf(t)
    def label(pw: pd.Series) -> pd.Series:
        out = []
        for lst in pw:
            pairs = [(int(v) & mask, int(v) >> (2 * gb)) for v in lst]
            pix = [p for p, _ in pairs]
            labels = _label_tile(pix, grid)
            out.append([(p, w, labels[p]) for p, w in pairs])
        return pd.Series(out)

    return (_packed_tiles(pixels, gb)
            .select("tile_x", "tile_y", F.explode(label("pw")).alias("r"))
            .select("tile_x", "tile_y", "r.*"))


def polygonize_global(pixels: DataFrame, grid_bits: int = 4,
                      z: int | None = None) -> DataFrame:
    """Cross-tile regionization: per-tile regions stitched into GLOBAL
    regions wherever occupied pixels are 4-adjacent across a shared tile
    edge.  Output: (tile_x, tile_y, region_id, global_id, n_pixels,
    w_sum) — global_id = min (tile-qualified) region key reachable.

    Shape at scale: ONE labeling pass (the batched Arrow stage above)
    feeds both the edge build and the region agg; stitching builds only
    BOUNDARY edges (pixels on a tile's right/bottom edge joined to the
    neighbor tile's matching left/top pixels — an equi-join on the
    shared-edge key, O(occupied boundary pixels) rows) and then reuses
    the min-label propagation from engine/graph.py (skinny
    (long, long) shuffles, O(diameter-in-tiles) rounds).  `z` wraps
    tile_x cyclically at the antimeridian when given."""
    from engine.graph import connected_components

    # Key-packing domain guards (r4 ADVICE): rkey packs
    # (tile_x, tile_y, region_id) with fixed 2^20 factors, so region ids
    # (bounded by grid^2 = 2^(2*grid_bits)) and tile coords (bounded by
    # 2^z) must each fit in 20 bits — out-of-range inputs would silently
    # COLLIDE keys and merge unrelated regions.  Fail loudly instead.
    if grid_bits > 10:
        raise ValueError(
            f"polygonize_global: grid_bits={grid_bits} > 10 would overflow "
            "the 2^20 region slot of the packed global key")
    if z is not None and z > 20:
        raise ValueError(
            f"polygonize_global: z={z} > 20 would overflow the 2^20 tile "
            "slot of the packed global key")

    grid = 1 << grid_bits

    # tile-qualified region key: (tile_x, tile_y, region_id) -> one long
    def rkey(tx, ty, rid):
        return ((tx * 1048576 + ty) * 1048576 + rid)

    labeled = _labeled_pixels(pixels, grid)
    if z is None:
        # z bounds the tile domain when given (checked above); with no z
        # the input tile coords are unbounded, so enforce the 2^20 key
        # slots IN-PLAN: assert_true is codegen'd into the labeling scan
        # (zero cost until violated, fails the job loudly instead of
        # silently colliding packed keys — r4 ADVICE follow-through).
        lim = F.lit(1048576)
        ok = ((F.col("tile_x") >= 0) & (F.col("tile_x") < lim)
              & (F.col("tile_y") >= 0) & (F.col("tile_y") < lim))
        msg = F.lit("polygonize_global: tile coords exceed the 2^20 "
                    "packed-key slot (pass z, or re-tile coarser)")
        # assert_true returns NULL on success — thread it through the
        # LOAD-BEARING tile_x column (coalesce keeps the value), else
        # column pruning would silently drop the check
        labeled = labeled.withColumn(
            "tile_x",
            F.coalesce(F.assert_true(ok, msg).cast("long"),
                       F.col("tile_x")))
    labeled = labeled.localCheckpoint(eager=True)
    lab = labeled.select(
        "tile_x", "tile_y", "pix",
        rkey(F.col("tile_x"), F.col("tile_y"), F.col("lbl")).alias("rk"))

    nx = (F.col("tile_x") + 1)
    if z is not None:
        nx = nx % F.lit(1 << z)
    # right-edge pixels keyed by the shared vertical edge + row
    r_a = lab.filter(F.col("pix") % grid == grid - 1).select(
        F.col("rk").alias("rk_a"), nx.alias("ex"),
        F.col("tile_y").alias("ey"), (F.col("pix") / grid).cast("long").alias("row"))
    r_b = lab.filter(F.col("pix") % grid == 0).select(
        F.col("rk").alias("rk_b"), F.col("tile_x").alias("ex"),
        F.col("tile_y").alias("ey"), (F.col("pix") / grid).cast("long").alias("row"))
    # bottom-edge pixels keyed by the shared horizontal edge + column
    b_a = lab.filter(F.col("pix") >= grid * (grid - 1)).select(
        F.col("rk").alias("rk_a"), F.col("tile_x").alias("ex"),
        (F.col("tile_y") + 1).alias("ey"), (F.col("pix") % grid).alias("row"))
    b_b = lab.filter(F.col("pix") < grid).select(
        F.col("rk").alias("rk_b"), F.col("tile_x").alias("ex"),
        F.col("tile_y").alias("ey"), (F.col("pix") % grid).alias("row"))
    edges = (r_a.join(r_b, ["ex", "ey", "row"])
             .unionByName(b_a.join(b_b, ["ex", "ey", "row"]))
             .select(F.col("rk_a").alias("id_a"), F.col("rk_b").alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b")).distinct())

    comp = connected_components(edges)
    # per-tile regions: native map-side-combined agg over the labeled
    # pixels (no second Arrow stage)
    regions = (labeled
               .groupBy("tile_x", "tile_y", F.col("lbl").alias("region_id"))
               .agg(F.count("*").cast("int").alias("n_pixels"),
                    F.sum("w").alias("w_sum")))
    keyed = regions.withColumn(
        "rk", rkey(F.col("tile_x"), F.col("tile_y"), F.col("region_id")))
    return (keyed.join(comp, keyed.rk == comp.id, "left")
            .select("tile_x", "tile_y", "region_id",
                    F.coalesce("cluster_id", F.col("rk")).alias("global_id"),
                    "n_pixels", "w_sum"))
