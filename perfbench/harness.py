"""One benchmark run of one workload, in a process of its own.

Started by perfbench/run.py, which owns the process group and reaps it.
The run:

1. starts one `local[nproc]` Spark session sized to the host;
2. generates the workload's inputs from the seed (cached per table,
   size, seed and generator source under .bench_build/, so a repeated
   seed only reads);
3. repeats the workload's own set-up three times (input open, covering
   build) and takes the median;
4. runs the workload's untimed warm-up ops, if any (JIT, codegen and
   Python-worker start), then
   a closed loop with one client for the given seconds: the next op
   starts when the previous one has ended;
5. checks every op's output digest, outside the timed window, against an
   independent path;
6. writes one JSON result to the path given by --result, stops Spark,
   closes the gateway's stdin and waits for the JVM to exit.

With --trace 1 step 4 runs the traced loop instead (perfbench/layertrace.py)
and the result carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(".bench_build", "perfbench")

WORKLOADS = ("pip_tile", "knn_raster", "etl_checkpoint")
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s"}
SETUP_REPS = 3
OP_TIMEOUT_S = 60.0
DRIVER_MEMORY = "3g"


def add_run_args(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hooks: shrink every input size, and corrupt one op's digest
    ap.add_argument("--scale", type=float, default=1.0,
                    help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers the JVM forks import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM; -UsePerfData keeps hsperfdata out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(app: str, work: str):
    from engine.session import get_spark

    cpus = host_cpus()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app, master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra={
            # ENGINE_CONFS sizes the heap for a large host
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.maxResultSize": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the JVM")


def stop_session(spark, timeout_s: float = 20.0) -> None:
    """Stop Spark, close the gateway's stdin (the JVM exits on EOF) and
    wait for the JVM; kill it if it outlives the timeout."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()


class OpWatchdog:
    """Cancels every running Spark job when one op outlives its limit,
    so a stuck op fails (and counts as failed) instead of hanging."""

    def __init__(self, spark, limit_s: float):
        self.sc = spark.sparkContext
        self.limit_s = limit_s
        self.timer: threading.Timer | None = None

    def __enter__(self):
        self.timer = threading.Timer(self.limit_s, self.sc.cancelAllJobs)
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


def run_op(spark, fn, log: list) -> tuple[float, object]:
    """One op under the watchdog -> (wall seconds, fn() or None)."""
    t0 = time.perf_counter()
    try:
        with OpWatchdog(spark, OP_TIMEOUT_S):
            out = fn()
    except Exception as e:  # an op that raises counts as failed
        log.append(f"op raised {type(e).__name__}: {str(e)[:300]}")
        out = None
    return time.perf_counter() - t0, out


def measure(spark, wl, seconds: float, trace: bool, corrupt: bool) -> dict:
    """Set-up reps, warm-up, the timed closed loop, then the checks."""
    layers: dict[str, list[float]] = {}
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)

    log: list[str] = []
    warm = []
    for _ in range(wl.warmup_ops):
        wall, d = run_op(spark, wl.op, log)
        warm.append(wall)
        if d is None:
            raise RuntimeError(f"warm-up op failed: {log}")
        wl.after_op()

    walls, digests = [], []
    tracer = None
    if trace:
        from layertrace import Tracer
        tracer = Tracer()
        wl.traced_op(tracer)  # untimed: warms the noop-sink prefix plans
        wl.after_op()
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        if tracer is None:
            wall, d = run_op(spark, wl.op, log)
        else:
            wall, out = run_op(spark, lambda: wl.traced_op(tracer), log)
            d, sample = out or (None, {})
            for k, v in sample.items():
                layers.setdefault(k, []).append(v)
        walls.append(wall)
        digests.append(d)
        wl.after_op()
    if tracer is not None:
        tracer.restore()

    if corrupt and digests and digests[0] is not None:
        digests[0] = wl.corrupted(digests[0])
    t0 = time.perf_counter()
    ref = wl.reference()
    failed = 0
    for i, d in enumerate(digests):
        ok, why = (False, "op raised") if d is None else wl.check(d, ref)
        if not ok:
            failed += 1
            log.append(f"op {i}: output check failed: {why}")
    return {"setups": setups, "walls": walls, "failed": failed,
            "layers": layers, "log": log, "warm": warm,
            "check_s": time.perf_counter() - t0}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    add_run_args(ap)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")

    work = os.path.join(ROOT, WORK_DIR)
    prepare_env(work)
    t_proc = time.perf_counter()
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", work)
    start_s = time.perf_counter() - t0
    try:
        import workloads
        wl = workloads.make(args.workload, spark, ROOT, work, args.seed,
                            args.scale)
        wl.generate()
        m = measure(spark, wl, args.seconds, bool(args.trace), args.corrupt)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    walls = m["walls"]
    warmup_s = sum(m["warm"])
    setup_s = start_s + statistics.median(m["setups"]) + warmup_s
    for line in m["log"]:
        print(f"perfbench: {line}", file=sys.stderr)
    if args.trace:
        per = {k: statistics.median(v) for k, v in m["layers"].items()}
        per.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.jvm_peak_rss_mb": rss,
            "synth.gen_s": wl.gen_s,
        })
        per.update(wl.setup_layers())
        units = workloads.layer_units()
        unknown = sorted(set(per) - set(units))
        if unknown:
            raise RuntimeError(f"layer metrics missing from the per_layer "
                               f"list of BENCHMARK.json: {unknown}")
        for k in set(units) - set(per):  # a layer this workload skips
            per[k] = 0.0
        metrics = {k: {"value": per[k], "unit": units[k]} for k in units}
    else:
        op_p50 = statistics.median(walls)
        values = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "rows_per_s": wl.input_rows * len(walls) / sum(walls),
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
        print(f"perfbench: {args.workload} seed={args.seed} "
              f"setup_s={setup_s:.3f} s (median of {len(m['setups'])}) "
              f"op_p50_s={op_p50:.3f} s (n={len(walls)}) "
              f"rows_per_s={values['rows_per_s']:.1f} rows/s "
              f"(n={len(walls)}) failed={m['failed']} "
              f"[start {start_s:.2f} set-ups "
              f"{' '.join(f'{s:.2f}' for s in m['setups'])} gen {wl.gen_s:.2f} "
              f"warm-up ops {' '.join(f'{s:.2f}' for s in m['warm'])} "
              f"ops {' '.join(f'{s:.2f}' for s in walls)} "
              f"check {m['check_s']:.2f} run {time.perf_counter() - t_proc:.1f}]",
              file=sys.stderr)
    result = {"correct": m["failed"] == 0, "attempted": len(walls),
              "failed": m["failed"], "metrics": metrics}
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
