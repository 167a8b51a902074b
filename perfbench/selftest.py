"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload it makes two tiny-input runs (``--tiny``: small
inputs, no warm-up):

- untraced: the run must pass its checks and print every end-to-end
  metric of BENCHMARK.json with its unit;
- traced, against a deliberately corrupted reference: the run must print
  every per-layer metric with its unit, and its checks must fail
  (``failed`` > 0, ``correct`` false), which shows they are live.

Exits 0 when every run behaves, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from run import WORKLOAD_NAMES  # noqa: E402


def run(workload: str, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def metric_problems(result: dict, expected: dict[str, str]) -> list[str]:
    got = result["metrics"]
    problems = [f"missing {k}" for k in expected if k not in got]
    problems += [f"unexpected {k}" for k in got if k not in expected]
    for key, unit in expected.items():
        m = got.get(key)
        if m is None:
            continue
        if m.get("unit") != unit:
            problems.append(f"{key}: unit {m.get('unit')!r} != {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{key}: value {m.get('value')!r} is not a number")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    bad = 0
    for workload in WORKLOAD_NAMES:
        plain = run(workload, "--trace", "0")
        problems = metric_problems(plain, end_to_end)
        if not plain["correct"] or plain["failed"]:
            problems.append(f"checks failed on a clean run: {plain}")
        corrupt = run(workload, "--trace", "1", "--corrupt-reference")
        problems += metric_problems(corrupt, per_layer)
        if corrupt["correct"] or corrupt["failed"] == 0:
            problems.append("a corrupted reference was not caught")
        status = "ok" if not problems else "FAIL"
        print(
            f"{workload}: {status} (clean {plain['attempted']} ops, "
            f"corrupted {corrupt['failed']}/{corrupt['attempted']} ops failed)"
        )
        for p in problems:
            print(f"  {p}")
        bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
