"""Fast self-check of the benchmark: every workload at sf0.001, one pass.

    python3 perfbench/selfcheck.py [workload ...]

For each workload it runs ``run.py`` untraced and traced and asserts that

- the run exits 0, its last stdout line is the result JSON, and the
  outputs verified (``correct``, no failed op);
- every metric ``BENCHMARK.json`` names for that mode is emitted, with
  its unit and nothing else;
- in the traced run, the self times of the layer spans along the
  blocking (main-thread) path account for the pass wall time: the rest,
  benchmark bookkeeping in the pass and op spans, stays under
  ``MAX_GAP`` of the pass.

It prints the gap and the tracing overhead (traced minus untraced
``pass_s``). Exits 1 on any failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_GAP = 0.05


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "0", "--trace", str(trace),
        "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             + proc.stderr[-2000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, spec: dict) -> list[str]:
    errors = []
    results = {}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = results[trace] = run(workload, trace)
        if not res["correct"] or res["failed"]:
            errors.append(f"{workload} trace={trace}: {res['failed']} failed ops")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            errors.append(f"{workload} trace={trace}: metrics/units differ: "
                          f"missing={sorted(set(want) - set(got))} "
                          f"extra={sorted(set(got) - set(want))} "
                          f"units={[k for k in want if k in got and got[k] != want[k]]}")
    traced = results[1]["metrics"]
    wall = traced["trace.pass_s"]["value"]
    gap = traced["trace.gap_s"]["value"]
    overhead = wall - results[0]["metrics"]["pass_s"]["value"]
    print(f"{workload}: traced pass {wall:.3f} s, tracing overhead (traced - untraced pass_s) "
          f"{overhead:+.3f} s, unattributed gap {gap:.4f} s ({gap / wall:.2%})")
    if gap > MAX_GAP * wall:
        errors.append(f"{workload}: span self times leave {gap / wall:.1%} of the pass unattributed")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    errors = []
    for w in names:
        errors += check(w, spec)
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
