"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload, on inputs a twentieth of the benchmark's size:

* ``--trace 1`` must pass its own checks and emit exactly the per-layer
  metrics BENCHMARK.json names, each with its unit;
* ``--trace 0 --inject-fault`` corrupts one checked result: the run must
  emit exactly the end-to-end metrics BENCHMARK.json names, each with its
  unit, count the corrupted operation as failed and exit non-zero.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALE = "0.05"


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{cmd}: no output\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def check_metrics(result: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        errors.append(f"{what}: missing {sorted(set(want) - set(got))}, "
                      f"unexpected {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is not None and (m.get("unit") != unit
                              or not isinstance(m.get("value"), (int, float))):
            errors.append(f"{what}: {name} = {m}, want a number in {unit}")
    return errors


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []
    for w in (w["name"] for w in bench["workloads"]):
        rc, res = run(w, 1)
        errors += check_metrics(res, bench["per_layer"], f"{w} --trace 1")
        if rc != 0 or not res["correct"] or res["failed"]:
            errors.append(f"{w} --trace 1: rc {rc}, {res['failed']} failed")

        rc, res = run(w, 0, "--inject-fault")
        errors += check_metrics(res, bench["end_to_end"], f"{w} --trace 0")
        failed_frac = res["failed"] / res["attempted"]
        if rc == 0 or res["correct"] or not failed_frac > 0:
            errors.append(f"{w} --inject-fault: rc {rc}, correct {res['correct']}, "
                          f"failed {res['failed']}/{res['attempted']}")
        print(f"{w}: checked, injected fault -> failed {res['failed']}/{res['attempted']}")
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
