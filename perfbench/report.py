"""Print every metric of one workload by name, with its unit.

    python3 perfbench/report.py --workload serve_refresh --seed 1

Runs the workload three times with the same seed: once untraced and twice
traced. Prints the end-to-end metrics and the named detail of the untraced
run, the per-layer metrics of the first traced run, the tracing overhead
(traced end-to-end minus untraced) and whether every count metric repeated
exactly between the two traced runs. Exits non-zero if an answer was wrong
or a count did not repeat.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    with open(os.path.join(HERE, ".work", f"result-{args.workload}-{args.seed}"
                           f"-trace{trace}.json")) as f:
        detail["record"] = json.load(f)
    return detail, result


def show(title: str, metrics: dict) -> None:
    print(f"\n== {title}")
    for name, m in metrics.items():
        value, unit = (m["value"], m["unit"]) if isinstance(m, dict) else (m[0], m[1])
        extra = f"  {m[2]}" if isinstance(m, list) and len(m) > 2 else ""
        print(f"{name:60s} {value:>16.4f} {unit}{extra}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args(argv)

    d0, r0 = run(args, 0)
    d1, r1 = run(args, 1)
    d2, r2 = run(args, 1)
    print("host:", json.dumps(d0["host"]))
    show(f"{args.workload} end-to-end (untraced)", r0["metrics"])
    show(f"{args.workload} named metrics (untraced)", d0["detail"])
    show(f"{args.workload} per-layer (traced)", r1["metrics"])
    traced = d1["record"]["end_to_end"]
    overhead = {k: [traced[k][0] - v["value"], v["unit"]] for k, v in r0["metrics"].items()}
    show("tracing overhead (traced minus untraced end-to-end)", overhead)
    counts = {k for k, v in r1["metrics"].items() if v["unit"] == "count"}
    moved = sorted(k for k in counts
                   if r1["metrics"][k]["value"] != r2["metrics"][k]["value"])
    print(f"\ncount metrics: {len(counts)}, differing between the two traced runs: "
          f"{moved or 'none'}")
    ok = all(r["correct"] for r in (r0, r1, r2))
    print(f"correct: {ok}  failed_frac: {r0['failed'] / r0['attempted']}")
    return 0 if ok and not moved else 1


if __name__ == "__main__":
    sys.exit(main())
