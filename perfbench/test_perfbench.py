"""Self-tests of the benchmark: contract of BENCHMARK.json, a tiny smoke
run of every workload in both modes, a corrupted digest that the output
check must reject, and runs killed or timed out that must leave no
process behind.

    python3 -m pytest -q perfbench/test_perfbench.py

The smoke runs start one Spark session each (about a minute apiece on a
4-core host).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import END_TO_END, WORKLOADS  # noqa: E402
from run import _children, _descendants  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def load(name: str) -> dict:
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else HERE,
                           name)) as f:
        return json.load(f)


def run(workload: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--scale", "0.01",
           *extra]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=200)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def start_time(pid: int) -> str | None:
    """Start time of `pid` from /proc (tells a reused pid apart), or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[19]
    except OSError:
        return None


def test_benchmark_json_contract():
    b = load("BENCHMARK.json")
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p
        assert os.path.isdir(os.path.join(ROOT, p))
    assert 1 <= len(b["command"]) <= 32
    for arg in b["command"][1:]:
        assert not arg.startswith("/") and ".." not in arg
        if os.path.exists(os.path.join(ROOT, arg)):
            assert any(arg.startswith(p + "/") for p in b["paths"]), arg
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60

    assert 2 <= len(b["workloads"]) <= 8
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]

    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
        [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert {k: m["unit"] for k, m in e2e.items()} == END_TO_END

    assert set(load("layers.json")["workloads"]) == set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload):
    b = load("BENCHMARK.json")
    r = result_of(run(workload))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())

    t = result_of(run(workload, "--trace", "1"))
    assert t["correct"] is True and t["failed"] == 0
    assert {k: v["unit"] for k, v in t["metrics"].items()} == \
        {m["name"]: m["unit"] for m in b["per_layer"]}


def test_corrupted_digest_fails_the_check():
    r = result_of(run("pip_tile", "--corrupt"))
    assert r["correct"] is False and r["failed"] >= 1


def test_no_result_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _wait_for_jvm(sup: subprocess.Popen, limit_s: float = 120) -> None:
    """Return once a JVM runs under the supervisor."""
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        pids = _descendants(sup.pid)
        for p in pids:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"java" in f.read():
                        return
            except OSError:
                continue
        time.sleep(0.5)
    raise AssertionError("no JVM started")


def _assert_all_gone(started: dict[int, str], limit_s: float = 10) -> None:
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        left = [p for p, s in started.items() if start_time(p) == s]
        if not left:
            return
        time.sleep(0.2)
    raise AssertionError(f"processes left running: {left}")


@pytest.mark.parametrize("how", ["kill-harness", "terminate-supervisor",
                                 "timeout"])
def test_no_process_left_behind(how):
    env = dict(os.environ)
    if how == "timeout":
        env["PERFBENCH_TIMEOUT_S"] = "25"
    sup = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "knn_raster", "--seed", "3", "--seconds", "60", "--scale", "0.01"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env)
    _wait_for_jvm(sup)
    time.sleep(3)  # let the Python workers start too
    started = {p: t for p in _descendants(sup.pid)
               if (t := start_time(p)) is not None}
    if how == "kill-harness":
        (harness,) = _children(sup.pid)
        os.kill(harness, signal.SIGKILL)
    elif how == "terminate-supervisor":
        sup.send_signal(signal.SIGTERM)
    out, _ = sup.communicate(timeout=60)
    assert sup.returncode != 0
    assert out.strip() == b""
    _assert_all_gone(started)
