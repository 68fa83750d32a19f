"""OSM PBF source (r5): a from-scratch reader/writer for the
OpenStreetMap PBF interchange format (the reference repo's native
input format), with a Spark-native blob-parallel scan.

No protobuf library exists in this environment (and none is needed):
PBF is protobuf-over-zlib with a tiny, stable schema, so this module
hand-rolls the varint/zigzag/length-delimited wire format for exactly
the messages OSM uses (public spec: wiki.openstreetmap.org/wiki/PBF_Format).

File layout: repeated [int32-BE length][BlobHeader][Blob].
  BlobHeader: 1=type(string: OSMHeader|OSMData), 3=datasize(int32)
  Blob:       1=raw(bytes) | 3=zlib_data(bytes), 2=raw_size(int32)
  OSMData payload = PrimitiveBlock:
    1=stringtable(1=bytes*), 2=PrimitiveGroup*,
    17=granularity(default 100), 19=lat_offset, 20=lon_offset
  PrimitiveGroup: 2=DenseNodes | 3=Way* (one entity type per group)
  DenseNodes: 1=packed sint64 id deltas, 8/9=packed sint64 lat/lon
    deltas, 10=packed int32 keys_vals (k,v string-table index pairs,
    0-terminated per node; empty iff NO node in the block has tags)
  Way: 1=id, 2=packed uint32 key idx, 3=packed uint32 val idx,
    8=packed sint64 ref deltas
  degrees = 1e-9 * (offset + granularity * stored)  — this module
  keeps coordinates as EXACT int64 nanodegrees end to end.

Scale design (10^12-entity planet-scale input, SURVEY.md §4):

* `blob_index(path)` is the planning pass — it reads ONLY the 4-byte
  lengths and ~32-byte BlobHeaders (datasize lets it seek over every
  payload), exactly parquet-footer-style metadata planning: O(blobs)
  tiny reads, no decompression.  A planet file is ~50 GB in ~8k-entity
  blobs; a directory of files parallelizes as files × blobs.
* `read_osm_nodes` / `read_osm_ways` turn the index into a DataFrame
  of (path, offset, size) work items and decode each blob in ONE
  Arrow-batched `mapInPandas` stage: seek, read, inflate, parse,
  cumsum the delta arrays (numpy).  Decode parallelism = blob count;
  no driver bottleneck, no shuffle, pixels^H^Hbytes never leave the
  task that read them.
* `assemble_ways` is the canonical OSM ETL step the reference performs
  (way refs -> node coordinates -> geometry): an explode + equi-join
  on node id + one per-way ordered reduction — the join is the
  partitioned-hash shape that survives 10^12 nodes (broadcast the way
  side instead when it is dimension-sized).
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from engine.localdf import local_df

GRANULARITY = 100  # nanodegrees per stored unit (the format default)

# ------------------------------------------------------- wire format


def _varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("unsigned varint cannot encode negatives")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, off: int) -> tuple[int, int]:
    val, shift = 0, 0
    while True:
        b = buf[off]
        off += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, off
        shift += 7


def _zig(n: int) -> int:
    return (n << 1) if n >= 0 else ((-n << 1) - 1)


def _unzig(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _key(field: int, wire: int) -> bytes:
    return _varint(field << 3 | wire)


def _f_varint(field: int, n: int) -> bytes:
    return _key(field, 0) + _varint(n)


def _f_bytes(field: int, b: bytes) -> bytes:
    return _key(field, 2) + _varint(len(b)) + b


def _f_packed(field: int, vals: list[int], signed: bool) -> bytes:
    body = b"".join(_varint(_zig(v) if signed else v) for v in vals)
    return _f_bytes(field, body)


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_no, wire_type, value) — int for varint fields,
    bytes for length-delimited; fixed32/64 skipped (OSM doesn't use
    them in the messages we read)."""
    off = 0
    while off < len(buf):
        tag, off = _read_varint(buf, off)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val, off = _read_varint(buf, off)
        elif wire == 2:
            ln, off = _read_varint(buf, off)
            val = buf[off:off + ln]
            off += ln
        elif wire == 5:
            val = buf[off:off + 4]
            off += 4
        elif wire == 1:
            val = buf[off:off + 8]
            off += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _unpack_varints(body: bytes, signed: bool) -> list[int]:
    out, off = [], 0
    while off < len(body):
        v, off = _read_varint(body, off)
        out.append(_unzig(v) if signed else v)
    return out


# ------------------------------------------------------------- writer


def _string_table(strings: list[bytes]) -> bytes:
    return b"".join(_f_bytes(1, s) for s in strings)


class _Strings:
    """First-use-order string table; index 0 is the empty sentinel."""

    def __init__(self) -> None:
        self.idx: dict[str, int] = {}
        self.table: list[bytes] = [b""]

    def __call__(self, s: str) -> int:
        i = self.idx.get(s)
        if i is None:
            i = self.idx[s] = len(self.table)
            self.table.append(s.encode("utf-8"))
        return i


def _dense_nodes_block(nodes: list[tuple[int, int, int, dict]]) -> bytes:
    st = _Strings()
    ids = [n[0] for n in nodes]
    lats, lons = [], []
    for _, lat_nano, lon_nano, _ in nodes:
        if lat_nano % GRANULARITY or lon_nano % GRANULARITY:
            raise ValueError(
                f"coordinates must be multiples of {GRANULARITY} nano°")
        lats.append(lat_nano // GRANULARITY)
        lons.append(lon_nano // GRANULARITY)
    kv: list[int] = []
    any_tags = any(n[3] for n in nodes)
    if any_tags:
        for _, _, _, tags in nodes:
            for k, v in tags.items():
                kv += [st(k), st(v)]
            kv.append(0)
    delta = lambda xs: [xs[0]] + [b - a for a, b in zip(xs, xs[1:])]  # noqa: E731
    dense = (_f_packed(1, delta(ids), signed=True)
             + _f_packed(8, delta(lats), signed=True)
             + _f_packed(9, delta(lons), signed=True)
             + (_f_packed(10, kv, signed=False) if any_tags else b""))
    group = _f_bytes(2, dense)
    return (_f_bytes(1, _string_table(st.table)) + _f_bytes(2, group)
            + _f_varint(17, GRANULARITY))


def _ways_block(ways: list[tuple[int, list[int], dict]]) -> bytes:
    st = _Strings()
    bodies = []
    for wid, refs, tags in ways:
        delta = [refs[0]] + [b - a for a, b in zip(refs, refs[1:])]
        body = _f_varint(1, wid)
        if tags:
            body += _f_packed(2, [st(k) for k in tags], signed=False)
            body += _f_packed(3, [st(v) for v in tags.values()],
                              signed=False)
        body += _f_packed(8, delta, signed=True)
        bodies.append(_f_bytes(3, body))
    return (_f_bytes(1, _string_table(st.table))
            + _f_bytes(2, b"".join(bodies)) + _f_varint(17, GRANULARITY))


MEMBER_NODE, MEMBER_WAY, MEMBER_RELATION = 0, 1, 2


def _relations_block(relations: list[tuple[int, list, dict]]) -> bytes:
    """relations: (id, members, tags); members: (type, member_id, role)
    with type in {MEMBER_NODE, MEMBER_WAY, MEMBER_RELATION}.  Per spec:
    roles_sid = packed string-table indices (field 8), memids = packed
    DELTA-coded sint64 (field 9), types = packed enum (field 10)."""
    st = _Strings()
    bodies = []
    for rid, members, tags in relations:
        body = _f_varint(1, rid)
        if tags:
            body += _f_packed(2, [st(k) for k in tags], signed=False)
            body += _f_packed(3, [st(v) for v in tags.values()],
                              signed=False)
        if members:
            mids = [m[1] for m in members]
            delta = [mids[0]] + [b - a for a, b in zip(mids, mids[1:])]
            body += _f_packed(8, [st(m[2]) for m in members], signed=False)
            body += _f_packed(9, delta, signed=True)
            body += _f_packed(10, [m[0] for m in members], signed=False)
        bodies.append(_f_bytes(4, body))
    return (_f_bytes(1, _string_table(st.table))
            + _f_bytes(2, b"".join(bodies)) + _f_varint(17, GRANULARITY))


def _blob(block: bytes, btype: bytes) -> bytes:
    z = zlib.compress(block, 6)
    blob = _f_varint(2, len(block)) + _f_bytes(3, z)
    header = _f_bytes(1, btype) + _f_varint(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def write_osm_pbf(path: str,
                  nodes: list[tuple[int, int, int, dict]],
                  ways: list[tuple[int, list[int], dict]] = (),
                  relations: list[tuple[int, list, dict]] = (),
                  block_size: int = 8000) -> None:
    """nodes: (id, lat_nanodeg, lon_nanodeg, tags); ways: (id, node
    refs, tags); relations: (id, members, tags) with members
    (type, member_id, role).  Entities are chunked into `block_size`
    blobs so even a small fixture exercises the blob-parallel read
    path."""
    header = (_f_bytes(4, b"OsmSchema-V0.6") + _f_bytes(4, b"DenseNodes")
              + _f_bytes(16, b"spark-graft-osmpbf"))
    with open(path, "wb") as f:
        f.write(_blob(header, b"OSMHeader"))
        for i in range(0, len(nodes), block_size):
            f.write(_blob(_dense_nodes_block(nodes[i:i + block_size]),
                          b"OSMData"))
        ways = list(ways)
        for i in range(0, len(ways), block_size):
            f.write(_blob(_ways_block(ways[i:i + block_size]), b"OSMData"))
        relations = list(relations)
        for i in range(0, len(relations), block_size):
            f.write(_blob(_relations_block(relations[i:i + block_size]),
                          b"OSMData"))


# ----------------------------------------------------------- planning


def blob_index(path: str) -> list[tuple[str, int, int, str]]:
    """[(path, payload_offset, payload_size, blob_type)] — the
    metadata-only planning pass (module docstring)."""
    out = []
    with open(path, "rb") as f:
        while True:
            raw = f.read(4)
            if not raw:
                return out
            (hlen,) = struct.unpack(">I", raw)
            btype, dsize = "", 0
            for field, _, val in _fields(f.read(hlen)):
                if field == 1:
                    btype = val.decode()
                elif field == 3:
                    dsize = val
            out.append((path, f.tell(), dsize, btype))
            f.seek(dsize, 1)


def _read_blob(path: str, off: int, size: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(off)
        payload = f.read(size)
    raw, z = b"", None
    for field, _, val in _fields(payload):
        if field == 1:
            raw = val
        elif field == 3:
            z = val
    return zlib.decompress(z) if z is not None else raw


# ------------------------------------------------------------ parsing


def _parse_block(block: bytes) -> tuple[list[bytes], int, int, int, list]:
    strings: list[bytes] = []
    gran, lat_off, lon_off = 100, 0, 0
    groups = []
    for field, _, val in _fields(block):
        if field == 1:
            strings = [v for f2, _, v in _fields(val) if f2 == 1]
        elif field == 2:
            groups.append(val)
        elif field == 17:
            gran = val
        elif field == 19:
            lat_off = val  # int64 nanodegrees (this writer emits 0)
        elif field == 20:
            lon_off = val
    return strings, gran, lat_off, lon_off, groups


def decode_nodes(block: bytes) -> pd.DataFrame:
    """One PrimitiveBlock -> DataFrame (id, lat_nano, lon_nano, tags).
    Delta decode is a numpy cumsum — vectorized per blob."""
    strings, gran, lat_off, lon_off, groups = _parse_block(block)
    ids, lats, lons, tag_col = [], [], [], []
    for g in groups:
        dense = None
        for field, _, val in _fields(g):
            if field == 2:
                dense = val
        if dense is None:
            continue
        did = dlat = dlon = []
        kv: list[int] = []
        for field, _, val in _fields(dense):
            if field == 1:
                did = _unpack_varints(val, signed=True)
            elif field == 8:
                dlat = _unpack_varints(val, signed=True)
            elif field == 9:
                dlon = _unpack_varints(val, signed=True)
            elif field == 10:
                kv = _unpack_varints(val, signed=False)
        n = len(did)
        ids.append(np.cumsum(np.array(did, np.int64)))
        lats.append(lat_off + gran * np.cumsum(np.array(dlat, np.int64)))
        lons.append(lon_off + gran * np.cumsum(np.array(dlon, np.int64)))
        if kv:
            tags, cur, i = [], {}, 0
            while i < len(kv):
                if kv[i] == 0:
                    tags.append(cur)
                    cur = {}
                    i += 1
                else:
                    cur[strings[kv[i]].decode()] = strings[kv[i + 1]].decode()
                    i += 2
            tag_col.extend(tags)
        else:
            tag_col.extend({} for _ in range(n))
    if not ids:
        return pd.DataFrame({"id": pd.Series([], dtype="int64"),
                             "lat_nano": pd.Series([], dtype="int64"),
                             "lon_nano": pd.Series([], dtype="int64"),
                             "tags": pd.Series([], dtype="object")})
    return pd.DataFrame({"id": np.concatenate(ids),
                         "lat_nano": np.concatenate(lats),
                         "lon_nano": np.concatenate(lons),
                         "tags": tag_col})


def decode_ways(block: bytes) -> pd.DataFrame:
    strings, _, _, _, groups = _parse_block(block)
    wids, refs_col, tags_col = [], [], []
    for g in groups:
        for field, _, wbuf in _fields(g):
            if field != 3:
                continue
            wid, keys, vals, drefs = 0, [], [], []
            for f2, _, val in _fields(wbuf):
                if f2 == 1:
                    wid = val
                elif f2 == 2:
                    keys = _unpack_varints(val, signed=False)
                elif f2 == 3:
                    vals = _unpack_varints(val, signed=False)
                elif f2 == 8:
                    drefs = _unpack_varints(val, signed=True)
            wids.append(wid)
            refs_col.append(np.cumsum(np.array(drefs, np.int64)).tolist())
            tags_col.append({strings[k].decode(): strings[v].decode()
                             for k, v in zip(keys, vals)})
    # explicit dtypes: an empty column would default to float64, which
    # Arrow cannot convert to list<int64>/map (nodes-only blobs yield
    # zero ways and vice versa)
    return pd.DataFrame({"id": pd.Series(wids, dtype="int64"),
                         "refs": pd.Series(refs_col, dtype="object"),
                         "tags": pd.Series(tags_col, dtype="object")})


def decode_relations(block: bytes) -> pd.DataFrame:
    strings, _, _, _, groups = _parse_block(block)
    rids, types_col, mids_col, roles_col, tags_col = [], [], [], [], []
    for g in groups:
        for field, _, rbuf in _fields(g):
            if field != 4:
                continue
            rid, keys, vals = 0, [], []
            roles_sid, dmem, types = [], [], []
            for f2, _, val in _fields(rbuf):
                if f2 == 1:
                    rid = val
                elif f2 == 2:
                    keys = _unpack_varints(val, signed=False)
                elif f2 == 3:
                    vals = _unpack_varints(val, signed=False)
                elif f2 == 8:
                    roles_sid = _unpack_varints(val, signed=False)
                elif f2 == 9:
                    dmem = _unpack_varints(val, signed=True)
                elif f2 == 10:
                    types = _unpack_varints(val, signed=False)
            rids.append(rid)
            types_col.append([int(t) for t in types])
            mids_col.append(np.cumsum(np.array(dmem, np.int64)).tolist())
            roles_col.append([strings[s].decode() for s in roles_sid])
            tags_col.append({strings[k].decode(): strings[v].decode()
                             for k, v in zip(keys, vals)})
    # explicit dtypes: see decode_ways (node/way-only blobs yield zero
    # relations and the empty frame must still Arrow-convert)
    return pd.DataFrame({"id": pd.Series(rids, dtype="int64"),
                         "member_types": pd.Series(types_col,
                                                   dtype="object"),
                         "member_ids": pd.Series(mids_col, dtype="object"),
                         "roles": pd.Series(roles_col, dtype="object"),
                         "tags": pd.Series(tags_col, dtype="object")})


# -------------------------------------------------------- Spark scans

NODE_SCHEMA = ("id long, lat_nano long, lon_nano long, "
               "tags map<string,string>")
WAY_SCHEMA = "id long, refs array<long>, tags map<string,string>"
REL_SCHEMA = ("id long, member_types array<int>, member_ids array<long>, "
              "roles array<string>, tags map<string,string>")


def _work_items(spark, paths: list[str]):
    items = [(p, off, size) for path in paths
             for p, off, size, btype in blob_index(path)
             if btype == "OSMData"]
    return local_df(
        spark, items, "path string, off long, size long").repartition(
        min(len(items), 4 * spark.sparkContext.defaultParallelism) or 1)


def read_osm_nodes(spark, *paths: str):
    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for p, off, size in zip(pdf["path"], pdf["off"], pdf["size"]):
                yield decode_nodes(_read_blob(p, int(off), int(size)))

    return _work_items(spark, list(paths)).mapInPandas(go, NODE_SCHEMA)


def read_osm_ways(spark, *paths: str):
    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for p, off, size in zip(pdf["path"], pdf["off"], pdf["size"]):
                yield decode_ways(_read_blob(p, int(off), int(size)))

    return _work_items(spark, list(paths)).mapInPandas(go, WAY_SCHEMA)


def read_osm_relations(spark, *paths: str):
    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for p, off, size in zip(pdf["path"], pdf["off"], pdf["size"]):
                yield decode_relations(_read_blob(p, int(off), int(size)))

    return _work_items(spark, list(paths)).mapInPandas(go, REL_SCHEMA)


# ----------------------------------------------------- way assembly


def assemble_ways(ways, nodes):
    """The reference's geometry-construction join: way refs -> node
    coordinates, reduced per way in ref order.  Emits exact-integer
    per-way stats: n_refs, endpoint node ids, and the L1 polyline
    length in nanodegrees (SUM |Δlat|+|Δlon| over consecutive refs).

    Plan: posexplode (fan-out = way length) -> partitioned hash join
    on node id (the 10^12-node-safe shape; pass a broadcast()ed
    `nodes` for dimension-sized extracts) -> one window + one agg on
    way_id (AQE reuses the exchange)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    exploded = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "ref"))
    j = exploded.join(nodes.select(F.col("id").alias("ref"),
                                   "lat_nano", "lon_nano"), "ref")
    w = Window.partitionBy("way_id").orderBy("pos")
    steps = j.select(
        "way_id", "pos", "ref", "lat_nano", "lon_nano",
        (F.abs(F.col("lat_nano") - F.lag("lat_nano").over(w))
         + F.abs(F.col("lon_nano") - F.lag("lon_nano").over(w)))
        .alias("step_l1"))
    return (steps.groupBy("way_id").agg(
        F.count("*").cast("int").alias("n_refs"),
        F.min_by("ref", "pos").alias("first_ref"),
        F.max_by("ref", "pos").alias("last_ref"),
        F.coalesce(F.sum("step_l1"), F.lit(0)).alias("len_l1_nano")))


# ------------------------------------------------------ bounded extract


def extract_bbox(ways, nodes, lat0: int, lat1: int, lon0: int, lon1: int,
                 tag_key: str | None = None):
    """The reference's bounded extract (osmosis `--bounding-box
    completeWays=yes` semantics, the ETL the north star names
    "bbox-filtered extracts"): keep every way with >= 1 node inside
    the half-open nanodegree bbox, optionally pre-filtered to ways
    carrying `tag_key` (the `osmium tags-filter` composition), and
    report the referential-completeness cost — how many of the kept
    way's nodes lie OUTSIDE the bbox and must be pulled in so the
    extract stays topologically complete.

    Output per kept way: (way_id, tag_val, n_refs, n_inside,
    n_pulled) with n_inside + n_pulled == n_refs, n_inside >= 1 —
    all exact integers.

    Plan: tag filter prunes the way side BEFORE the explode (predicate
    ahead of fan-out); posexplode refs -> ONE partitioned hash join to
    the node relation carrying a precomputed 0/1 inside flag -> ONE
    map-side-combined groupBy(way_id).  No window, no second shuffle;
    the HAVING-style n_inside >= 1 filter runs post-agg.  At planet
    scale this is the 10^12-node-safe shape: the join partitions on
    node id, the agg partitions on way id, and AQE coalesces the
    post-filter output."""
    from pyspark.sql import functions as F

    w = ways
    if tag_key is not None:
        w = w.where(F.col("tags")[tag_key].isNotNull())
    refs = w.select(F.col("id").alias("way_id"),
                    (F.col("tags")[tag_key] if tag_key is not None
                     else F.lit(None).cast("string")).alias("tag_val"),
                    F.explode("refs").alias("ref"))
    flagged = nodes.select(
        F.col("id").alias("ref"),
        ((F.col("lat_nano") >= lat0) & (F.col("lat_nano") < lat1)
         & (F.col("lon_nano") >= lon0) & (F.col("lon_nano") < lon1))
        .cast("int").alias("ins"))
    agg = (refs.join(flagged, "ref")
           .groupBy("way_id", "tag_val")
           .agg(F.count("*").cast("int").alias("n_refs"),
                F.sum("ins").cast("int").alias("n_inside"),
                (F.count("*") - F.sum("ins")).cast("int")
                .alias("n_pulled")))
    return agg.where(F.col("n_inside") >= 1)


# ------------------------------------------- multipolygon ring stitch

RING_SCHEMA = ("rel_id long, role string, ring_idx int, n_pts int, "
               "closed boolean, perim_l1_nano long, area2_q6 long")


def _stitch_role_groups(segs_by_role: dict) -> list:
    """Classical OSM multipolygon assembly over one relation's way
    segments, grouped by role ('outer'/'inner'; each segment an
    ordered [(lat_nano, lon_nano), ...] in member order).

    Within each role group, ways chain end-to-end — a member way may
    run in either direction, so a segment whose TAIL matches the open
    end is reversed before appending.  Chains start from the first
    unused member in member order (deterministic), close when they
    return to their start, and report closed=False if no member
    extends an open end (broken geometry — OSM data QA surfaces
    exactly this).  Exact integer stats per ring: vertex count
    (closing repeat excluded), L1 perimeter in nanodegrees,
    |shoelace 2*area| on floor-micro (q6) coordinates
    (orientation-invariant: chain direction depends on which member
    seeds the ring).  Returns (role, ring_idx, n_pts, closed, perim,
    area2) tuples."""
    rows = []
    for role in sorted(segs_by_role):
        segs = segs_by_role[role]
        used = [False] * len(segs)
        ring_idx = 0
        for i0 in range(len(segs)):
            if used[i0]:
                continue
            used[i0] = True
            pts = list(segs[i0])
            while len(pts) > 1 and pts[0] != pts[-1]:
                for j in range(len(segs)):
                    if used[j]:
                        continue
                    seg = segs[j]
                    if seg[0] == pts[-1]:
                        pts.extend(seg[1:])
                    elif seg[-1] == pts[-1]:
                        pts.extend(seg[-2::-1])
                    else:
                        continue
                    used[j] = True
                    break
                else:
                    break
            closed = len(pts) > 1 and pts[0] == pts[-1]
            ring = pts[:-1] if closed else pts
            n = len(ring)
            perim = sum(abs(a2 - a1) + abs(b2 - b1)
                        for (a1, b1), (a2, b2) in zip(pts, pts[1:]))
            area2 = 0
            if closed:
                q = [(la // 1000, lo // 1000) for la, lo in ring]
                area2 = abs(sum(
                    q[i][1] * q[(i + 1) % n][0]
                    - q[(i + 1) % n][1] * q[i][0] for i in range(n)))
            rows.append((role, ring_idx, n, closed, perim, area2))
            ring_idx += 1
    return rows


def _stitch_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow batch of pre-grouped relations (aligned per-relation
    arrays sorted by (member pos, ref seq) JVM-side) -> ring rows.
    Thousands of relations per pandas batch: the per-relation cost is
    pure-Python list work on the relation's own vertices — no
    per-group pandas frames (an applyInPandas-per-relation first cut
    spent ~17 ms/relation on frame overhead; this form measures
    ~60 us/relation)."""
    for pdf in it:
        cols = {"rel_id": [], "role": [], "ring_idx": [], "n_pts": [],
                "closed": [], "perim_l1_nano": [], "area2_q6": []}
        for rel_id, poss, roles, lats, lons in zip(
                pdf["rel_id"], pdf["poss"], pdf["roles"],
                pdf["lats"], pdf["lons"]):
            segs_by_role: dict = {}
            cur_pos = None
            seg: list = []
            for k in range(len(poss)):
                if poss[k] != cur_pos:
                    cur_pos = poss[k]
                    seg = []
                    segs_by_role.setdefault(roles[k], []).append(seg)
                seg.append((int(lats[k]), int(lons[k])))
            for role, ring_idx, n, closed, perim, area2 in \
                    _stitch_role_groups(segs_by_role):
                cols["rel_id"].append(int(rel_id))
                cols["role"].append(role)
                cols["ring_idx"].append(ring_idx)
                cols["n_pts"].append(n)
                cols["closed"].append(closed)
                cols["perim_l1_nano"].append(perim)
                cols["area2_q6"].append(area2)
        yield pd.DataFrame(cols).astype(
            {"rel_id": "int64", "ring_idx": "int32", "n_pts": "int32",
             "perim_l1_nano": "int64", "area2_q6": "int64"})


def assemble_multipolygons(relations, ways, nodes):
    """OSM multipolygon assembly (relation way-members -> closed
    rings): the geometry-construction step above `assemble_ways` in
    every OSM rendering/import pipeline.

    Plan: member explode (fan-out = members) -> hash join to ways ->
    ref posexplode -> partitioned hash join on node id (the
    10^12-node-safe shape) -> ONE map-side-combined collect_list per
    relation (sorted JVM-side, unpacked to aligned primitive arrays
    by native transform) -> ONE Arrow-batched mapInPandas stitch over
    thousands of relations per batch.  Per-relation state is bounded
    by the relation's own vertex count (multipolygons are thousands
    of points, never a corpus-scale fraction), so the stitch stage
    distributes by relation exactly like polygonize distributes by
    tile."""
    from pyspark.sql import functions as F

    members = (relations
               .select(F.col("id").alias("rel_id"), "tags",
                       F.posexplode(F.arrays_zip(
                           "member_ids", "member_types", "roles"))
                       .alias("pos", "m"))
               .where(F.col("m.member_types") == MEMBER_WAY)
               .select("rel_id", "pos",
                       F.col("m.member_ids").alias("way_id"),
                       F.col("m.roles").alias("role")))
    way_pts = ways.select(F.col("id").alias("way_id"),
                          F.posexplode("refs").alias("seq", "ref"))
    j = (members.join(way_pts, "way_id")
         .join(nodes.select(F.col("id").alias("ref"),
                            "lat_nano", "lon_nano"), "ref"))
    grouped = (j.groupBy("rel_id")
               .agg(F.sort_array(F.collect_list(F.struct(
                   "pos", "seq", "role", "lat_nano", "lon_nano")))
                   .alias("s"))
               .select("rel_id",
                       F.expr("transform(s, x -> x.pos)").alias("poss"),
                       F.expr("transform(s, x -> x.role)").alias("roles"),
                       F.expr("transform(s, x -> x.lat_nano)")
                       .alias("lats"),
                       F.expr("transform(s, x -> x.lon_nano)")
                       .alias("lons")))
    return grouped.mapInPandas(_stitch_batch, RING_SCHEMA)


def way_graph_edges(ways, nodes, tag_key: str = "highway"):
    """Road-graph edge relation from OSM ways (r5, post-window): every
    consecutive ref pair of ways carrying `tag_key` becomes a
    bidirectional edge weighted by the exact planar L1 node distance
    in nanodegrees -> (u, v, w), self-loop refs dropped.  The routing
    front door: feed the result to engine/graph.py::sssp_int.

    Scale shape: ONE posexplode of the filtered way relation, a lag
    window keyed by way id (consecutive pairs), then TWO partitioned
    hash joins against the skinny (id, lat, lon) node projection —
    the assemble_ways join shape, 10^12-node safe; the symmetric
    union doubles the edge frame without a shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    hw = ways.filter(F.col("tags").getItem(tag_key).isNotNull())
    ref = (hw.select(F.col("id").alias("way_id"),
                     F.posexplode("refs").alias("pos", "ref")))
    w = Window.partitionBy("way_id").orderBy("pos")
    pairs = (ref.withColumn("prev", F.lag("ref").over(w))
             .filter(F.col("prev").isNotNull()
                     & (F.col("prev") != F.col("ref")))
             .select(F.col("prev").alias("a"), F.col("ref").alias("b")))
    nd = nodes.select(F.col("id"), F.col("lat_nano"), F.col("lon_nano"))
    e = (pairs
         .join(nd.select(F.col("id").alias("a"),
                         F.col("lat_nano").alias("la"),
                         F.col("lon_nano").alias("lo")), "a")
         .join(nd.select(F.col("id").alias("b"),
                         F.col("lat_nano").alias("lb"),
                         F.col("lon_nano").alias("lb2")), "b")
         .select(F.col("a").alias("u"), F.col("b").alias("v"),
                 (F.abs(F.col("la") - F.col("lb"))
                  + F.abs(F.col("lo") - F.col("lb2"))).alias("w")))
    return e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v"), "w"))


def apply_node_diff(base, changes, seq_col: str = "seq"):
    """OsmChange apply (r5 cont.) — the reference repo's literal domain,
    "OSM-style bounded spatial diffing": replay a changeset of
    create/modify/delete node actions onto a base node table and emit
    the post-diff state.  Semantics pinned to OsmChange replication
    rules:

    * every change row carries (id, version, visible, lat_nano,
      lon_nano, seq); the EFFECTIVE change per element is the highest
      (version, seq) row — version is OSM's per-element edit counter,
      seq is the changeset document order, so a modify-then-delete of
      one element inside one diff resolves to the delete (pinned by
      test);
    * effective visible=false drops the element (OSM soft delete);
      a delete targeting an id absent from base is a no-op (osmosis
      --simplify-change tolerance, not an error);
    * effective visible=true overrides coordinates and version; an id
      absent from base is an insert (src='create'), present is a
      replace (src='modify'); untouched base rows survive as
      src='base' with version 1.

    Scale shape: ONE map-side-combined max(struct(version, seq, ...))
    agg over the change stream (dailies/minutelies are ~1e6 rows vs a
    1e12-row base, so the agg side is tiny) followed by ONE full-outer
    hash join on id; the base table never shuffles more than once and
    no Python touches a row.  At planet scale the join is
    partition-prunable when base is bucketed by id — the diff frame's
    ids hash to the same buckets.
    """
    from pyspark.sql import functions as F

    eff = (changes.groupBy("id").agg(F.max(F.struct(
        F.col("version").alias("version"),
        F.col(seq_col).alias("seq"),
        F.col("visible").alias("visible"),
        F.col("lat_nano").alias("lat_nano"),
        F.col("lon_nano").alias("lon_nano"))).alias("e")))
    b = base.select("id", F.col("lat_nano").alias("b_lat"),
                    F.col("lon_nano").alias("b_lon"))
    j = b.join(eff, "id", "full_outer")
    has_e = F.col("e").isNotNull()
    keep = (~has_e) | F.col("e.visible")
    return (j.filter(keep)
            .select(
                "id",
                F.when(has_e, F.col("e.lat_nano")).otherwise(F.col("b_lat"))
                 .alias("lat_nano"),
                F.when(has_e, F.col("e.lon_nano")).otherwise(F.col("b_lon"))
                 .alias("lon_nano"),
                F.when(has_e, F.col("e.version")).otherwise(F.lit(1))
                 .cast("int").alias("version"),
                F.when(~has_e, F.lit("base"))
                 .when(F.col("b_lat").isNull(), F.lit("create"))
                 .otherwise(F.lit("modify")).alias("src")))
