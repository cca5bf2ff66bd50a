"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (all by default) it runs the benchmark untraced and
traced on tiny inputs and asserts that every metric of BENCHMARK.json is
emitted with its unit and that every answer was correct. It then damages
answers of each workload (``CORRUPT``) and asserts that the run counts
exactly those as failed. Takes a few minutes: every run starts its own
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: operations whose first answer the self-test damages, per workload. The
#: anti-pattern report is damaged consistently (its counts follow), so only
#: the comparison with the reference rules can catch it.
CORRUPT = {
    "serve_refresh": ("search_models", "detect_antipatterns"),
    "batch_build": ("lakehouse",),
}


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
           *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    return detail, result


def main(argv) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            _, res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metric/unit mismatch {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} ops")
    for w in workloads:
        damaged = CORRUPT[w]
        detail, bad = run(w, 0, *(f"--corrupt-answer={op}" for op in damaged))
        failed = sorted(c["name"] for c in detail["failed_checks"])
        assert not bad["correct"] and failed == sorted(damaged), (failed, bad)
        assert bad["failed"] == len(damaged), bad
        print(f"ok {w}: damaged answers count as failed ({', '.join(failed)})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
