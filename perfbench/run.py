#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload bfs_drain --seed 1 --seconds 25 --trace 0

Runs ``worker.py`` in its own session with a private work directory
under ``.perfbench/`` at the repository root.  On every way out it stops
each process the run started (worker, JVM, PySpark daemon and Python
workers) and waits until all have ended, removes the work directory even
on failure, and prints the
worker's result as the last line of standard output: one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  Exits 0 only
when the run was correct.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bfs_drain", "steady_extract", "corpus_ops")
TIMEOUT_S = 160


def _become_subreaper() -> None:
    """Adopt every orphaned descendant, so none can outlive this process.

    PySpark's Python daemon moves itself into a process group of its own,
    and the JVM outlives the worker briefly, so killing the worker's group
    and waiting for the worker is not enough.
    """
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_all() -> None:
    """Terminate every process started by this run and wait until each has ended."""
    t0 = time.monotonic()
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        elapsed = time.monotonic() - t0
        if elapsed > 15:
            print(f"perfbench: processes still alive: {pids}", file=sys.stderr)
            return
        sig = signal.SIGTERM if elapsed < 5 else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one operation")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "go_crawler_spark", "crawl.py")):
        print("perfbench: go_crawler_spark not found beside perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    out = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out,
    ] + (["--smoke"] if args.smoke else [])
    _become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)  # so the clean-up below still runs
    try:
        # worker stdout goes to our stderr: our stdout carries only the result
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
            return 3
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        for sig in (signal.SIGTERM, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        _stop_all()
        t0 = time.perf_counter()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: removed the run directory in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
    # the session settings go on their own line; the last line is the result
    print("perfbench config: " + json.dumps(result.pop("config")))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
