"""Source lints, no Spark session needed.

* Portability: the engine must not touch the RDD API (SURVEY §1.3
  "no RDD API anywhere").  `.rdd` round-trips break under Spark Connect —
  the same constraint SURVEY §4 cites for cluster portability — and
  every former use (emptiness probes in iterative operators) has a
  DataFrame form (`df.isEmpty()`).
* No implicit RDD either: `spark.createDataFrame(<list>)` plans a
  ParallelCollectionRDD -> PythonRDD whose every execution starts Python
  workers.  In `engine/` and `jobs/` driver-side rows go through
  `engine/localdf.py::local_df` (an Arrow LocalRelation), the one module
  that calls `createDataFrame`.
* Bounded driver materialization: every `.collect()` / `.toPandas()` in
  `engine/` and `jobs/` must be listed in COLLECT_SITES with the reason
  its result is bounded.  A new site fails until it is reviewed here.
"""
import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent

# Everything that ships: engine package, driver entry, jobs, oracle
# helpers, tools, bench.  Tests are scanned too — an .rdd in a test
# normalizes the pattern for the next reader.
SCAN_DIRS = ["engine", "jobs", "oracle", "tools", "tests"]
SCAN_FILES = ["__spark_entry__.py", "bench.py"]

_RDD_USE = re.compile(r"\.rdd\b|\bsparkContext\.parallelize\b|\bRDD\b")


def _py_sources():
    for d in SCAN_DIRS:
        root = REPO / d
        if root.exists():
            yield from sorted(root.rglob("*.py"))
    for f in SCAN_FILES:
        p = REPO / f
        if p.exists():
            yield p


def test_engine_is_rdd_free():
    offenders = []
    for path in _py_sources():
        if path.name == "test_no_rdd_api.py":
            continue
        for lineno, line in enumerate(
                path.read_text(encoding="utf-8").splitlines(), start=1):
            code = line.split("#", 1)[0]
            if _RDD_USE.search(code):
                offenders.append(f"{path.relative_to(REPO)}:{lineno}: "
                                 f"{line.strip()}")
    assert not offenders, (
        "RDD API use found (use DataFrame.isEmpty()/limit(1) probes, "
        "spark.range or engine.localdf.local_df sources):\n"
        + "\n".join(offenders))


LOCAL_DF_MODULE = "engine/localdf.py"


def test_driver_rows_go_through_local_df():
    offenders = []
    for d in ("engine", "jobs"):
        for path in sorted((REPO / d).rglob("*.py")):
            rel = path.relative_to(REPO).as_posix()
            if rel == LOCAL_DF_MODULE:
                continue
            for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "createDataFrame outside engine/localdf.py (a list argument is a "
        "PythonRDD that starts Python workers on every execution; build "
        "driver-side rows with engine.localdf.local_df):\n"
        + "\n".join(offenders))


# (file, enclosing function) -> one reason per collect/toPandas site, in
# source order.  __spark_entry__.py is not scanned yet.
COLLECT_SCAN_DIRS = ["engine", "jobs"]
COLLECT_SITES = {
    ("engine/geo/skew.py", "heavy_hitters"): [
        "orderBy + limit(top): at most `top` hot keys"],
    ("engine/geo/vectile.py", "incremental_tiles_partitioned"): [
        "distinct coarse layout tiles touched by a CDC diff: O(|diff|)"],
    ("engine/graph.py", "connected_components"): [
        "bounded-collect finish: runs only when the distinct pair frame "
        "has at most _SMALL_CC_ROWS rows"],
    ("engine/ml/ann.py", "ivf_train"): [
        "orderBy + limit(sample_n): the training sample"],
    ("engine/ml/ann.py", "pq_train"): [
        "orderBy + limit(sample_n): the training sample"],
    ("engine/ml/ann.py", "ivf_batch_topk"): [
        "the query batch, bounded by the serving request"],
    ("engine/ml/kmeans.py", "kmeans_int"): [
        "orderBy + limit(k): the k seed points",
        "one aggregate row per cluster: at most k rows"],
    ("engine/ml/perceptron.py", "perceptron_train"): [
        "global aggregate: one row"],
    ("engine/table_protocol.py", "IcebergTable.snapshots"): [
        "snapshot metadata table: one row per commit"],
    ("engine/table_protocol.py", "IcebergTable.expire_snapshots"): [
        "expire_snapshots procedure result: one row"],
    ("engine/text/bpe.py", "bpe_stats"): [
        "orderBy + limit(sample): the BPE training docs"],
    ("engine/text/bpe.py", "bpe_train_dist"): [
        "orderBy + limit(1): the top merge pair"],
}


def _collect_sites(path: pathlib.Path):
    """(qualified enclosing function, line) of each argument-less
    .collect() / .toPandas() call in `path`."""
    out = []

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                walk(child, scope + [child.name])
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("collect", "toPandas")
                    and not child.args and not child.keywords):
                out.append((".".join(scope), child.lineno))
            walk(child, scope)

    walk(ast.parse(path.read_text(encoding="utf-8")), [])
    return out


def test_driver_collects_are_whitelisted():
    found: dict = {}
    for d in COLLECT_SCAN_DIRS:
        for path in sorted((REPO / d).rglob("*.py")):
            rel = path.relative_to(REPO).as_posix()
            for scope, lineno in _collect_sites(path):
                found.setdefault((rel, scope), []).append(lineno)
    diff = [f"{rel} {scope or '<module>'}: found at lines "
            f"{found.get((rel, scope), [])}, "
            f"{len(COLLECT_SITES.get((rel, scope), []))} listed"
            for rel, scope in sorted(set(found) | set(COLLECT_SITES))
            if len(found.get((rel, scope), []))
            != len(COLLECT_SITES.get((rel, scope), []))]
    assert not diff, (
        "every driver-side .collect()/.toPandas() needs a bounded-size "
        "reason in COLLECT_SITES, and every entry a site:\n"
        + "\n".join(diff))
