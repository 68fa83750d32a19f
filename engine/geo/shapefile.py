"""ESRI Shapefile interchange for the polygon layer (r5, post-window)
— the fifth interchange surface beside GeoJSON, GeoParquet, WKT and
OSM PBF, and the one legacy GIS stacks still emit by default.
Hand-rolled wire format (the osmpbf doctrine: no external geo libs —
struct packing against the published spec, ESRI Shapefile Technical
Description, July 1998).

* `write_shapefile(layer, base)` — writes `base.shp` (type-5 Polygon
  records), `base.shx` (the record index) and `base.dbf` (dBASE III
  attribute table: poly_id, name).  One .shp record per polygon PART
  (outer + its holes) with the format's ring convention — outer rings
  CLOCKWISE, holes COUNTER-clockwise, rings closed (the OPPOSITE of
  RFC 7946; the readers re-normalize, so interchange proves the
  orientation handling both ways).  Same part derivation and ordering
  as the WKT/GeoJSON writers (poly_id-merged, antimeridian-split,
  first-seen order), so all interchange surfaces describe the
  identical part sequence.

* `read_shapefile(spark, base)` — the DISTRIBUTED reader, one row per
  part in the read_geojson output shape (poly_id, name, part_idx,
  ring_xy, holes_xy).  Scale shape is the osmpbf one: the driver
  reads only the O(8 bytes/record) .shx index plus the fixed-size
  .dbf header arithmetic to build a skinny (offsets) work-item frame;
  executors seek-read-parse record ranges in ONE Arrow-batched
  mapInPandas stage — geometry bytes never ride a shuffle and never
  pass through the driver.  (The format itself caps a .shp at 2 GB;
  the scale dimension is MANY shapefiles, which the work-item frame
  handles for free.)  Multi-outer records follow the ESRI emission
  convention: a clockwise ring starts a new part, subsequent
  counter-clockwise rings are its holes.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.geo.layer import Polygon, PolygonLayer
from engine.localdf import local_df

_DBF_FIELDS = (("poly_id", 32), ("name", 32))


def _shoelace2(ring: list[list[float]]) -> float:
    s = 0.0
    n = len(ring)
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return s


def _oriented_closed_shp(ring, cw: bool) -> list[list[float]]:
    r = [[float(x), float(y)] for x, y in ring]
    if (_shoelace2(r) < 0) != cw:
        r = r[::-1]
    return r + [r[0]]


def _layer_parts(layer: PolygonLayer):
    """Identical part derivation/order to the WKT/GeoJSON writers:
    [(poly_id, name, [outer_cw_closed, hole_ccw_closed, ...])]."""
    by_id: dict[str, list[Polygon]] = {}
    for p in layer.polygons:
        by_id.setdefault(p.poly_id, []).append(p)
    out = []
    for pid, members in by_id.items():
        name = members[0].name
        for p in members:
            for outer, holes in p.split_antimeridian():
                rings = [_oriented_closed_shp(outer.tolist(), cw=True)]
                rings += [_oriented_closed_shp(h.tolist(), cw=False)
                          for h in holes]
                out.append((pid, name, rings))
    return out


def write_shapefile(layer: PolygonLayer, base: str) -> None:
    parts = _layer_parts(layer)

    recs = []
    gxmin = gymin = float("inf")
    gxmax = gymax = float("-inf")
    for rings in (r for _, _, r in parts):
        pts = [pt for ring in rings for pt in ring]
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        gxmin, gymin = min(gxmin, bbox[0]), min(gymin, bbox[1])
        gxmax, gymax = max(gxmax, bbox[2]), max(gymax, bbox[3])
        starts, acc = [], 0
        for ring in rings:
            starts.append(acc)
            acc += len(ring)
        content = struct.pack("<i4d2i", 5, *bbox, len(rings), acc)
        content += struct.pack(f"<{len(rings)}i", *starts)
        content += struct.pack(f"<{2 * acc}d",
                               *[c for p in pts for c in p])
        recs.append(content)

    def _header(total_words: int) -> bytes:
        return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, total_words)
                + struct.pack("<2i", 1000, 5)
                + struct.pack("<8d", gxmin, gymin, gxmax, gymax,
                              0.0, 0.0, 0.0, 0.0))

    shp_words = 50 + sum(4 + len(c) // 2 for c in recs)
    with open(base + ".shp", "wb") as f:
        f.write(_header(shp_words))
        for i, c in enumerate(recs):
            f.write(struct.pack(">2i", i + 1, len(c) // 2))
            f.write(c)

    with open(base + ".shx", "wb") as f:
        f.write(_header(50 + 4 * len(recs)))
        off = 50
        for c in recs:
            f.write(struct.pack(">2i", off, len(c) // 2))
            off += 4 + len(c) // 2

    nfields = len(_DBF_FIELDS)
    hsize = 32 + 32 * nfields + 1
    rsize = 1 + sum(w for _, w in _DBF_FIELDS)
    with open(base + ".dbf", "wb") as f:
        f.write(bytes([3, 95, 1, 1])
                + struct.pack("<IHH", len(parts), hsize, rsize)
                + b"\x00" * 20)
        for fname, width in _DBF_FIELDS:
            f.write(fname.encode("ascii").ljust(11, b"\x00") + b"C"
                    + b"\x00" * 4 + bytes([width, 0]) + b"\x00" * 14)
        f.write(b"\x0d")
        for pid, name, _ in parts:
            f.write(b" " + pid.encode("ascii").ljust(32)
                    + (name or "").encode("ascii").ljust(32))
        f.write(b"\x1a")


def _shx_index(path: str) -> list[tuple[int, int, int]]:
    """-> [(recno, byte_offset, byte_length)] from the .shx index."""
    with open(path, "rb") as f:
        data = f.read()
    n = (len(data) - 100) // 8
    out = []
    for i in range(n):
        off_w, len_w = struct.unpack_from(">2i", data, 100 + 8 * i)
        out.append((i + 1, off_w * 2, 8 + len_w * 2))
    return out


def _parse_record(buf: bytes):
    """One .shp record's content -> [(ring_open, [hole_open, ...])]
    re-normalized to the engine convention (outer CCW, holes CW,
    de-closed)."""
    stype = struct.unpack_from("<i", buf, 8)[0]
    if stype != 5:
        raise ValueError(f"shapefile: unsupported shape type {stype}")
    nparts, npts = struct.unpack_from("<2i", buf, 44)
    starts = list(struct.unpack_from(f"<{nparts}i", buf, 52))
    coords = struct.unpack_from(f"<{2 * npts}d", buf, 52 + 4 * nparts)
    rings = []
    for k, s in enumerate(starts):
        e = starts[k + 1] if k + 1 < nparts else npts
        ring = [[coords[2 * j], coords[2 * j + 1]] for j in range(s, e)]
        if len(ring) > 1 and ring[0] == ring[-1]:
            ring = ring[:-1]
        rings.append(ring)
    parts = []
    for ring in rings:
        if _shoelace2(ring) <= 0:  # CW -> outer (format convention)
            parts.append(([r for r in ring[::-1]], []))
        else:
            if not parts:
                raise ValueError("shapefile: hole ring before any outer")
            parts[-1][1].append(ring[::-1])
    return parts


def _dbf_layout(path: str):
    with open(path, "rb") as f:
        head = f.read(32)
    nrec, hsize, rsize = struct.unpack_from("<IHH", head, 4)
    with open(path, "rb") as f:
        fd = f.read(hsize)
    fields = []
    pos = 32
    while fd[pos] != 0x0D:
        name = fd[pos:pos + 11].split(b"\x00")[0].decode("ascii")
        width = fd[pos + 16]
        fields.append((name, width))
        pos += 32
    return nrec, hsize, rsize, fields


_PART_SCHEMA = ("recno int, poly_id string, name string, "
                "part_in_rec int, ring_xy array<array<double>>, "
                "holes_xy array<array<array<double>>>")


def read_shapefile(spark: SparkSession, base: str,
                   chunk: int = 256) -> DataFrame:
    """-> (poly_id, name, part_idx, ring_xy, holes_xy), the
    read_geojson output shape.  Driver touches only the .shx index and
    the .dbf header; record bytes are seek-read on executors."""
    shp, shx, dbf = base + ".shp", base + ".shx", base + ".dbf"
    idx = _shx_index(shx)
    nrec, hsize, rsize, fields = _dbf_layout(dbf)
    if nrec != len(idx):
        raise ValueError(
            f"shapefile: .dbf has {nrec} records, .shx has {len(idx)}")
    fmap = {}
    fpos = 1
    for name, width in fields:
        fmap[name] = (fpos, width)
        fpos += width
    for need in ("poly_id", "name"):
        if need not in fmap:
            raise ValueError(f"shapefile: .dbf missing field {need}")

    items = [(shp, dbf, idx[i][0], idx[i][1], idx[i][2],
              hsize + rsize * i)
             for i in range(len(idx))]
    chunks = [items[i:i + chunk] for i in range(0, len(items), chunk)]
    work = local_df(
        spark,
        [(c[0][0], c[0][1], [list(map(int, t[2:])) for t in c])
         for c in chunks],
        "shp string, dbf string, recs array<array<long>>")
    work = work.repartition(
        min(len(chunks), 4 * spark.sparkContext.defaultParallelism) or 1)

    pid_pos, pid_w = fmap["poly_id"]
    name_pos, name_w = fmap["name"]

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("recno", "poly_id", "name",
                                    "part_in_rec", "ring_xy",
                                    "holes_xy")}
            for shp_p, dbf_p, recs in zip(pdf["shp"], pdf["dbf"],
                                          pdf["recs"]):
                with open(shp_p, "rb") as fs, open(dbf_p, "rb") as fd:
                    for recno, off, length, doff in recs:
                        fs.seek(off)
                        buf = fs.read(length)
                        fd.seek(doff)
                        rb = fd.read(rsize)
                        pid = rb[pid_pos:pid_pos + pid_w] \
                            .decode("ascii").rstrip()
                        nm = rb[name_pos:name_pos + name_w] \
                            .decode("ascii").rstrip()
                        for j, (outer, holes) in enumerate(
                                _parse_record(buf)):
                            rows["recno"].append(int(recno))
                            rows["poly_id"].append(pid)
                            rows["name"].append(nm)
                            rows["part_in_rec"].append(j)
                            rows["ring_xy"].append(outer)
                            rows["holes_xy"].append(holes)
            yield pd.DataFrame(rows)

    parts = work.mapInPandas(go, _PART_SCHEMA)
    from pyspark.sql import Window
    w = (Window.partitionBy("poly_id")
         .orderBy("recno", "part_in_rec"))
    return (parts
            .withColumn("part_idx",
                        (F.row_number().over(w) - 1).cast("int"))
            .select("poly_id", "name", "part_idx", "ring_xy",
                    "holes_xy"))
