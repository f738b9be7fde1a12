#!/usr/bin/env python3
"""The benchmark's own check: every workload in smoke mode (2k pages,
sf0.001, one operation), untraced and traced, against ``BENCHMARK.json``.

    python3 perfbench/smoke.py

Each run must exit 0, print a correct result as its last line with
exactly the keys ``correct``, ``attempted``, ``failed`` and ``metrics``,
and report exactly the end-to-end metrics (untraced) or the per-layer
metrics (traced) that ``BENCHMARK.json`` names, with their units.
Exits 1 on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(result)}")
    if not (result.get("correct") is True and result.get("failed") == 0
            and isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        errors.append("run not correct")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errors.append(f"metrics: missing {missing}, extra {extra}, wrong unit {wrong}")
    for name, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"{name}: value {v.get('value')!r}")
        elif not trace and v["value"] <= 0:
            errors.append(f"{name}: end-to-end value {v['value']} is not positive")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors = check(w["name"], trace, spec)
            print(f"{w['name']} trace={trace}: {'; '.join(errors) or 'ok'}", flush=True)
            failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
