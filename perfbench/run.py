"""Benchmark entry point and process supervisor.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The workload itself
runs in a child process (perfbench/harness.py) that leads its own
process group; the JVM it launches and the Python workers the JVM forks
all descend from it.  This process:

- marks itself a child subreaper, so descendants whose parent dies are
  re-parented here instead of to init and can still be found and reaped;
- kills the child's process group when the run exceeds its time limit,
  or when this process is interrupted or terminated;
- after the child ends, terminates and reaps every descendant left over
  (PySpark's worker daemon moves itself into a process group of its own,
  so killing the child's group alone is not enough);
- prints the child's result as the last line of standard output, or
  exits non-zero without printing one.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import WORKLOADS, WORK_DIR, add_run_args  # noqa: E402

# A run must end within 180 s; leave room to reap what is left.
RUN_TIMEOUT_S = float(os.environ.get("PERFBENCH_TIMEOUT_S", "165"))
PR_SET_CHILD_SUBREAPER = 36


def _set_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children(pid: int) -> list[int]:
    """Direct children of `pid`, read from /proc."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def reap_all(grace_s: float = 3.0) -> None:
    """Terminate, then kill, and wait for every descendant of this process."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = _descendants(me)
        if not pids:
            break
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        _wait_any()
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
    _wait_any()


def _wait_any() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def supervise(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    add_run_args(ap)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "engine")):
        print(f"perfbench: no engine/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    _set_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    os.makedirs(os.path.join(ROOT, WORK_DIR), exist_ok=True)
    fd, result_path = tempfile.mkstemp(
        prefix="result-", suffix=".json", dir=os.path.join(ROOT, WORK_DIR))
    os.close(fd)
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), *argv,
           "--result", result_path]
    child = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                             stdin=subprocess.DEVNULL, stdout=sys.stderr)
    code = None
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S:.0f} s; killing it",
              file=sys.stderr)
    finally:
        if code is None:
            _kill_group(child)
        reap_all()
        with open(result_path) as f:
            text = f.read().strip()
        os.unlink(result_path)
    if code != 0 or not text:
        print(f"perfbench: run failed (exit {code}); no result",
              file=sys.stderr)
        return 1
    result = json.loads(text)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


def _kill_group(child: subprocess.Popen) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        try:
            child.wait(timeout=3)
            return
        except subprocess.TimeoutExpired:
            continue


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    sys.exit(supervise(sys.argv[1:]))
