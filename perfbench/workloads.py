"""The benchmark workloads.

Each workload reads inputs generated from the seed (engine.synth), and
exposes the same steps to the harness:

- generate(): write the inputs once per (table, size, seed, generator);
- setup(): open the inputs and build what every op reuses (repeated);
- op(): one timed operation, returning an order-insensitive digest;
- after_op(): untimed bookkeeping between ops;
- reference(): the independent path the digests are checked against;
- check(digest, ref) -> (ok, why);
- traced_op(tracer) -> (digest, {per-layer metric: value}).

Sizes keep one run (JVM start, input generation, warm-up ops, the timed
loop and the checks) under a minute on a 4-core host; the sizes, the
reasons for each workload and the layer map are in perfbench/layers.json.
knn_raster runs two parts, kNN by ring expansion and the raster chain,
over one point set: both skip the polygon join.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from layertrace import bytes_since, plan_metrics, stage_bytes

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json")

LEVEL = 8           # covering / candidate-join cell level
TILE_Z = 12         # output tile zoom
KEEP_INPUTS = 3     # cached seeds kept per input table and size


def layer_units() -> dict[str, str]:
    with open(BENCHMARK_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def synth_version() -> str:
    """Hash of the input generator's source, so a change to it
    regenerates (and re-times) the cached inputs."""
    import engine.synth
    src = inspect.getsource(engine.synth).encode()
    return hashlib.sha256(src).hexdigest()[:12]


def collect(df, plans: list | None = None) -> list:
    """df.collect(); with `plans`, also keep the executed plan's metrics."""
    rows = df.collect()
    if plans is not None:
        plans.append(plan_metrics(df))
    return rows


def digest_row(df, plans: list | None = None) -> tuple:
    """Order-insensitive digest of a frame: row count, a sum and an xor
    of per-row 64-bit hashes (the sum is shifted so it cannot overflow)."""
    h = F.xxhash64(*df.columns)
    r = collect(df.agg(F.count(F.lit(1)), F.sum(F.shiftright(h, 24)),
                       F.bit_xor(h)), plans)[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Workload:
    name = ""
    warmup_ops = 1

    def __init__(self, spark, root: str, work: str, seed: int, scale: float):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.scale = scale
        self.gen_s = 0.0
        self.setup_samples: dict[str, list[float]] = {}

    def sized(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    def cached(self, tag: str, n: int, write) -> str:
        """Path of the input table `tag` with n rows at this seed and
        generator version; written by `write(path)` the first time.
        Keeps the newest few sets."""
        base = os.path.join(self.work, "inputs")
        path = os.path.join(base,
                            f"{tag}-n{n}-s{self.seed}-{synth_version()}")
        meta = os.path.join(path, "_perfbench.json")
        if os.path.exists(meta):
            with open(meta) as f:
                self.gen_s += json.load(f)["gen_s"]
            os.utime(path)
            return path
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        write(tmp)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "_perfbench.json"), "w") as f:
            json.dump({"gen_s": gen_s}, f)
        os.rename(tmp, path)
        self.gen_s += gen_s
        old = sorted((e for e in os.listdir(base)
                      if e.startswith(f"{tag}-n{n}-")
                      and not e.endswith(".tmp")),
                     key=lambda e: os.path.getmtime(os.path.join(base, e)))
        for e in old[:-KEEP_INPUTS]:
            shutil.rmtree(os.path.join(base, e), ignore_errors=True)
        return path

    def points(self, n: int) -> str:
        from engine.synth import gen_points
        return self.cached("points", n, lambda p: gen_points(
            self.spark, n, seed=self.seed).write.parquet(p))

    def layer(self):
        from engine.geo.layer import PolygonLayer
        return PolygonLayer.from_json(
            os.path.join(self.root, "oracle", "layer12.json"))

    def record_setup(self, name: str, value: float) -> None:
        self.setup_samples.setdefault(name, []).append(value)

    def setup_layers(self) -> dict[str, float]:
        import statistics
        return {k: statistics.median(v) for k, v in self.setup_samples.items()}

    def after_op(self) -> None:
        pass

    def corrupted(self, digest):
        """The digest with one bit of its first number flipped."""
        if isinstance(digest, int):
            return digest ^ 1
        head, *rest = digest
        return type(digest)([self.corrupted(head), *rest])


class PipTile(Workload):
    """Points -> bbox -> cell encode -> broadcast candidates join ->
    native PIP refine -> counts per (polygon, z12 tile)."""

    name = "pip_tile"
    # the first few ops keep speeding up (codegen JIT), more slowly on a
    # loaded host, so the timed loop starts after six
    warmup_ops = 6

    def generate(self):
        self.n = self.sized(1_000_000, 1000)
        self.path = self.points(self.n)
        self.input_rows = self.n
        self.counts = None

    def setup(self):
        from engine.flagship import NARROW_COLS
        t0 = time.perf_counter()
        self.lyr = self.layer()
        self.build = self.lyr.build_df(self.spark, LEVEL, with_edges=True)
        self.build_rows = self.build.count()
        self.record_setup("layer.build_s", time.perf_counter() - t0)
        self.record_setup("layer.build_rows", self.build_rows)
        self.pts = self.spark.read.parquet(self.path).select(*NARROW_COLS)

    def prefixes(self):
        """Cumulative prefixes of the op: (layer name, frame)."""
        from engine.flagship import DEFAULT_BBOX
        from engine.geo.bbox import bbox_filter
        from engine.geo.cells import cell_parent_col, with_cell
        from engine.geo.join import candidates_join
        from engine.geo.pip import refine_native
        from engine.geo.tiles import tile_key_col

        ext = bbox_filter(self.pts, DEFAULT_BBOX)
        probe = with_cell(ext).withColumn("cell_p",
                                          cell_parent_col("cell", LEVEL))
        cands = candidates_join(probe, self.build, mode="broadcast",
                                build_rows=self.build_rows)
        refined = refine_native(cands)
        counts = (refined.groupBy("poly_id",
                                  tile_key_col("cell", TILE_Z).alias("tile"))
                  .agg(F.count(F.lit(1)).alias("n")))
        return [("scan.s", self.pts), ("bbox.s", ext), ("cells.encode_s", probe),
                ("join.s", cands), ("pip.s", refined), ("tiles.agg_s", counts)]

    def op(self):
        return (digest_row(self.prefixes()[-1][1]),)

    def reference(self):
        from engine.geo.join import spatial_join
        from engine.geo.tiles import tile_key_col
        joined = spatial_join(self.pts, self.lyr, LEVEL, mode="broadcast",
                              refine_mode="pandas")
        counts = (joined.groupBy("poly_id",
                                 tile_key_col("cell", TILE_Z).alias("tile"))
                  .agg(F.count(F.lit(1)).alias("n")))
        return (digest_row(counts),)

    def check(self, d, ref):
        return d == ref, f"digest {d} != pandas-refine digest {ref}"

    def traced_op(self, tracer):
        prefixes = self.prefixes()
        sample, prev = {}, 0.0
        for name, df in prefixes:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            cut = time.perf_counter() - t0
            sample[name] = cut - prev
            prev = cut
        before = stage_bytes(self.spark)
        plans = []
        t0 = time.perf_counter()
        d = (digest_row(prefixes[-1][1], plans),)
        op_s = time.perf_counter() - t0
        sample.update(bytes_since(self.spark, before))
        sample["plan.python_bytes"] = plans[0].python_bytes()
        sample["prefix.sum_share"] = prev / op_s
        if self.counts is None:
            ext, cands, refined = prefixes[1][1], prefixes[3][1], prefixes[4][1]
            n_ext = ext.count()
            n_cand = cands.count()
            n_edge = cands.filter(~F.col("full")).count()
            n_ref = refined.count()
            self.counts = {
                "bbox.keep_share": n_ext / self.n,
                "join.candidates": n_cand,
                "join.fanout": n_cand / max(n_ext, 1),
                "pip.edge_test_share": n_edge / max(n_cand, 1),
                "pip.reject_share": 1.0 - n_ref / max(n_cand, 1),
            }
        sample.update(self.counts)
        return d, sample


class Part:
    """One part of a workload that runs several over one point set:
    reads spark, path, n and seed from the owning workload."""

    def __init__(self, owner: Workload):
        self.spark = owner.spark
        self.path = owner.path
        self.n = owner.n
        self.seed = owner.seed
        self.scale = owner.scale


class KnnRing(Part):
    """Seeded query points x points, exact kNN by cell-ring expansion."""

    name = "knn_ring"
    QUERIES = 100
    K = 10
    R0 = 8
    CHECK_QUERIES = 4

    def __init__(self, owner: Workload):
        super().__init__(owner)
        self.nq = max(10, int(self.QUERIES * self.scale))
        rng = np.random.default_rng([self.seed, 7])
        self.queries_rows = [
            (i, float(rng.uniform(-70.0, 70.0)), float(rng.uniform(-180.0, 180.0)))
            for i in range(self.nq)]
        self.check_qids = [int(q) for q in rng.choice(
            self.nq, size=min(self.CHECK_QUERIES, self.nq), replace=False)]
        self.canon = None

    def setup(self):
        self.pts = self.spark.read.parquet(self.path).select(
            "image_id", "lat", "lon")
        self.queries = self.spark.createDataFrame(
            self.queries_rows, "qid long, lat double, lon double")

    def op(self):
        from engine.geo.knn import knn_join
        out = knn_join(self.queries, self.pts, k=self.K, level=LEVEL,
                       r0=self.R0)
        sub = (out.filter(F.col("qid").isin(self.check_qids))
               .select("qid", "image_id", "dist_m").collect())
        return (digest_row(out.select("qid", "image_id", "rn")),
                sorted((int(r[0]), r[1], float(r[2])) for r in sub))

    def reference(self):
        from engine.geo.knn import knn_bruteforce_df
        q = self.queries.filter(F.col("qid").isin(self.check_qids))
        rows = knn_bruteforce_df(q, self.pts, self.K).select(
            "qid", "image_id", "dist_m").collect()
        return sorted((int(r[0]), r[1], float(r[2])) for r in rows)

    def check(self, d, ref):
        full, sub = d
        if [r[:2] for r in sub] != [r[:2] for r in ref]:
            return False, "neighbours differ from the brute-force kNN"
        if any(abs(a[2] - b[2]) > 1e-6 for a, b in zip(sub, ref)):
            return False, "distances differ from the brute-force kNN"
        if self.canon is None:
            self.canon = full
        return full == self.canon, f"digest {full} != first op's {self.canon}"

    def traced_op(self, tracer):
        mats = []
        tracer.on_return("ckpt.materialize", lambda args, out: mats.append(
            (args[0], out)))
        tracer.reset()
        before = stage_bytes(self.spark)
        t0 = time.perf_counter()
        d = self.op()
        op_s = time.perf_counter() - t0
        tracer.on_return("ckpt.materialize", None)
        sample = bytes_since(self.spark, before)
        # per round knn_join materializes its top-k, then its failed qids
        topks = [(i, o) for i, o in mats if "rn" in o.columns]
        fails = [o for _, o in mats if o.columns == ["qid"]]
        plans = [plan_metrics(i) for i, _ in topks]
        sample.update({
            "knn.s": op_s,
            "knn.rounds": len(topks),
            "knn.cands_per_query": plans[0].join_rows() / self.nq,
            "knn.retry_share": sum(f.count() for f in fails) / self.nq,
            "knn.python_rows": sum(p.python_rows() for p in plans),
            "ckpt.materialize_s": tracer.total("ckpt.materialize"),
            "plan.python_bytes": sum(p.python_bytes() for p in plans),
        })
        return d, sample


class RasterRings(Part):
    """Points -> z12..z6 tile pyramid -> z6 16 px ring polygonize ->
    grid-density clusters (connected components over core cells)."""

    name = "raster_rings"
    PYR = (12, 6)
    RING_Z, GRID_BITS = 6, 4
    CLUSTER_BITS, MIN_PTS = 3, 3

    def __init__(self, owner: Workload):
        super().__init__(owner)
        self.canon = None

    def setup(self):
        from engine.geo.cells import with_cell
        self.pts = with_cell(self.spark.read.parquet(self.path)
                             .select("lat", "lon"))

    def pyramid(self):
        from engine.geo.tiles import tile_pyramid
        return tile_pyramid(self.pts, *self.PYR)

    def pixels(self):
        from engine.geo.raster import _pixel_counts
        return _pixel_counts(self.pts, self.RING_Z, self.GRID_BITS,
                             "lat", "lon")

    def rings(self, pixels):
        from engine.geo.polygonize import polygonize_rings
        return polygonize_rings(pixels, grid_bits=self.GRID_BITS).select(
            "tile_x", "tile_y", "region_id", "ring_id", "n_edges",
            "n_vertices", "area")

    def clusters(self):
        from engine.geo.cluster import grid_density_clusters
        return grid_density_clusters(self.pts, grid_bits=self.CLUSTER_BITS,
                                     min_pts=self.MIN_PTS)

    @staticmethod
    def level_sums(pyr, plans=None):
        h = F.xxhash64("tile_z", "tile_x", "tile_y", "n")
        return tuple(sorted(tuple(int(v) for v in r) for r in collect(
            pyr.groupBy("tile_z")
            .agg(F.sum("n"), F.count(F.lit(1)), F.sum(F.shiftright(h, 24))),
            plans)))

    @staticmethod
    def ring_sums(rings, plans=None):
        h = F.xxhash64(*rings.columns)
        r = collect(rings.agg(F.count(F.lit(1)), F.sum("area"),
                              F.sum(F.shiftright(h, 24))), plans)[0]
        return tuple(int(v or 0) for v in r)

    def cluster_rows(self, plans=None):
        return tuple(sorted(tuple(int(v) for v in r)
                            for r in collect(self.clusters(), plans)))

    def op(self):
        return (self.level_sums(self.pyramid()),
                self.ring_sums(self.rings(self.pixels())),
                self.cluster_rows())

    def reference(self):
        # occupied z6 16 px pixels = distinct level-10 parents of the
        # level-30 cells, counted without the pixel-count operator
        n_pixels = (self.pts.select(F.shiftright("cell", 2 * (30 - 10)))
                    .distinct().count())
        return self.n, n_pixels

    def check(self, d, ref):
        levels, rings, clusters = d
        n, n_pixels = ref
        if [lv[0] for lv in levels] != list(range(self.PYR[1], self.PYR[0] + 1)):
            return False, "pyramid levels missing"
        if any(lv[1] != n for lv in levels):
            return False, "a pyramid level does not sum to the point count"
        if rings[1] != n_pixels:
            return False, (f"ring areas sum to {rings[1]}, "
                           f"not {n_pixels} occupied pixels")
        if clusters != self.union_find(clusters):
            return False, "cluster ids differ from a union-find over core cells"
        if self.canon is None:
            self.canon = d
        return d == self.canon, "digest differs from the first op's"

    def union_find(self, cells):
        """(gx, gy, n, cluster_id) rows recomputed from the core cells:
        8-adjacent core cells share the minimum packed key."""
        g = self.CLUSTER_BITS
        key = {(gx, gy): (gx << g) | gy for gx, gy, n, _ in cells
               if n >= self.MIN_PTS}
        parent = {k: k for k in key.values()}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for (gx, gy), k in key.items():
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    o = key.get((gx + dx, gy + dy))
                    if o is not None:
                        a, b = find(k), find(o)
                        if a != b:
                            parent[max(a, b)] = min(a, b)
        return tuple(sorted((gx, gy, n, find(key[(gx, gy)]))
                            for gx, gy, n, _ in cells))

    def traced_op(self, tracer):
        tracer.reset()
        plans = []
        before = stage_bytes(self.spark)
        t0 = time.perf_counter()
        levels = self.level_sums(self.pyramid(), plans)
        t1 = time.perf_counter()
        px = self.pixels()
        px.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rs = self.ring_sums(self.rings(px), plans)
        t3 = time.perf_counter()
        cl = self.cluster_rows(plans)
        sample = bytes_since(self.spark, before)
        sample.update({
            "tiles.pyramid_s": t1 - t0,
            "raster.pixel_counts_s": t2 - t1,
            "polygonize.trace_s": (t3 - t2) - (t2 - t1),
            "polygonize.rings": rs[0],
            "cluster.cc_s": tracer.total("cluster.cc"),
            "cluster.cc_rounds": max(tracer.count("ckpt.materialize") - 2, 0),
            "ckpt.materialize_s": tracer.total("ckpt.materialize"),
            "plan.python_bytes": sum(p.python_bytes() for p in plans),
        })
        return (levels, rs, cl), sample


class KnnRaster(Workload):
    """The point set without a polygon join: kNN by cell-ring expansion
    (pandas UDFs, windowed top-k, per-round materialize), then the
    raster chain (tile pyramid, ring polygonize, density clusters)."""

    name = "knn_raster"
    POINTS = 40_000
    # timed cold: a warm op (6-11 s on a 4-core host) runs once or twice
    # in an 8 s run depending on host speed, which splits the median;
    # a cold op always runs once, and a warm-up op would add 20 s a run
    warmup_ops = 0

    def generate(self):
        self.n = self.sized(self.POINTS, 1000)
        self.path = self.points(self.n)
        self.input_rows = self.n
        self.parts = (KnnRing(self), RasterRings(self))

    def setup(self):
        for p in self.parts:
            p.setup()

    def op(self):
        return tuple(p.op() for p in self.parts)

    def reference(self):
        return tuple(p.reference() for p in self.parts)

    def check(self, d, ref):
        for p, dp, rp in zip(self.parts, d, ref):
            ok, why = p.check(dp, rp)
            if not ok:
                return False, f"{p.name}: {why}"
        return True, ""

    def traced_op(self, tracer):
        digests, sample = [], {}
        for p in self.parts:
            d, s = p.traced_op(tracer)
            digests.append(d)
            for k, v in s.items():  # plan.* and ckpt.* add up over parts
                sample[k] = sample.get(k, 0) + v
        return tuple(digests), sample


class EtlCheckpoint(Workload):
    """The flagship checkpointed ETL over an image+caption table, killed
    after the `joined` stage and resumed to completion."""

    name = "etl_checkpoint"
    # timed cold: the flagship ETL runs once per spark-submit job, so the
    # first run in a fresh session is the latency its user sees
    warmup_ops = 0
    STAGES = ("images", "extract", "joined", "tiled", "tile_counts")

    def generate(self):
        from engine.synth import gen_images
        self.n = self.sized(1_000, 50)
        self.path = self.cached("images", self.n, lambda p: gen_images(
            self.spark, self.n, seed=self.seed).write.parquet(p))
        self.input_rows = self.n
        self.ops = 0

    def setup(self):
        from engine.flagship import flagship_config, flagship_stages, DEFAULT_BBOX
        from engine.pipeline import Stage
        self.lyr = self.layer()
        path = self.path

        def s_images(spark, _prev):
            return spark.read.parquet(path)

        self.stages = ([Stage("images", s_images, sort_within=["image_id"])]
                       + flagship_stages(self.lyr, self.n, seed=self.seed,
                                         level=LEVEL, z=TILE_Z)[1:])
        self.config = flagship_config(self.n, self.seed, DEFAULT_BBOX,
                                      LEVEL, TILE_Z)

    def op(self):
        from engine.pipeline import KillPoint, run_pipeline, stage_output
        self.ops += 1
        self.run_root = os.path.join(self.work, "etl", f"op{self.ops}")
        shutil.rmtree(self.run_root, ignore_errors=True)
        try:
            run_pipeline(self.spark, self.stages, self.run_root, self.config,
                         fail_after="joined")
            raise RuntimeError("the kill point did not fire")
        except KillPoint:
            pass
        t1 = time.perf_counter()
        res = run_pipeline(self.spark, self.stages, self.run_root, self.config)
        self.recover_s = time.perf_counter() - t1
        d = digest_row(stage_output(self.spark, self.run_root, "tile_counts"))
        if res.resumed != list(self.STAGES[:3]):
            raise RuntimeError(f"resume re-ran stages: {res.resumed}")
        return (d,)

    def after_op(self):
        shutil.rmtree(self.run_root, ignore_errors=True)

    def reference(self):
        from engine.flagship import DEFAULT_BBOX, NARROW_COLS
        from engine.geo.bbox import bbox_filter
        from engine.geo.cells import with_cell
        from engine.geo.join import spatial_join
        from engine.geo.tiles import with_tile
        imgs = self.spark.read.parquet(self.path).select(*NARROW_COLS)
        joined = spatial_join(with_cell(bbox_filter(imgs, DEFAULT_BBOX)),
                              self.lyr, LEVEL, mode="broadcast",
                              refine_mode="pandas")
        counts = (with_tile(joined, z=TILE_Z, quadkey_col=True)
                  .groupBy("poly_id", "tile_z", "tile_x", "tile_y", "quadkey")
                  .agg(F.count(F.lit(1)).alias("n_images")))
        return (digest_row(counts),)

    def check(self, d, ref):
        return d == ref, f"resumed tile_counts {d} != direct query {ref}"

    def traced_op(self, tracer):
        from engine.metrics import MetricsSink
        tracer.reset()
        before = stage_bytes(self.spark)
        t0 = time.perf_counter()
        d = self.op()
        op_s = time.perf_counter() - t0
        sample = bytes_since(self.spark, before)
        walls = {r["stage"]: r["wall_ms"] / 1000.0 for r in
                 MetricsSink(self.run_root).metrics_df(self.spark)
                 .select("stage", "wall_ms").collect()}
        files, size = dir_usage(self.run_root)
        emit = tracer.total("metrics.emit_stage")
        lineage = tracer.total("metrics.emit_lineage")
        sample.update({f"pipeline.stage.{s}_s": walls[s] for s in self.STAGES})
        sample.update({
            "pipeline.resume_lookup_s": tracer.total("pipeline.resume_lookup"),
            "icelite.commit_s": tracer.total("icelite.commit"),
            "icelite.files_written": files,
            "icelite.bytes_written": size,
            "metrics.emit_stage_s": emit,
            "metrics.emit_lineage_s": lineage,
            "metrics.share": (emit + lineage) / op_s,
            "skew.heavy_hitters_s": tracer.total("skew.heavy_hitters"),
            "skew.hot_keys": len(tracer.last("skew.heavy_hitters") or []),
            "layer.build_s": tracer.total("layer.build"),
            "etl.recover_s": self.recover_s,
            "etl.stored_bytes_per_row": size / self.n,
        })
        return d, sample


_CLASSES = {c.name: c for c in (PipTile, KnnRaster, EtlCheckpoint)}


def make(name: str, spark, root: str, work: str, seed: int, scale: float):
    return _CLASSES[name](spark, root, work, seed, scale)
