"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_refresh --seed 1 --seconds 5 --trace 0

Runs one workload against the engine in this checkout, checks every answer
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, measured with no
tracing installed; with ``--trace 1`` they are its per-layer metrics, from
a separate run with spans around the engine's entry points. The line before
it holds the detail: every metric named in README.md with its unit (the
tail percentile with its sample count), the set-up parts, the checks that
failed and the host record. The full record, spans included, is written to
``perfbench/.work/result-<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

#: input sizes; "tiny" is for the smoke test only
SIZES = {
    "full": {"models": 500, "churn_share": 0.05, "orders": 5000},
    "tiny": {"models": 40, "churn_share": 0.1, "orders": 300},
}
#: Spark runs local[2]: the serving path is bound by per-job driver work,
#: and two cores leave headroom on a shared four-core host
SPARK_CPUS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--corrupt-answer", action="append", default=[], metavar="OP",
                   help="damage the first answer of operation OP before it is checked "
                        "(checker self-test; may be repeated)")
    return p.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit starts first writes perf data to /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the per-layer counts read jobs and stages back from the status
        # store after the window: keep all of them
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


# -- host record ------------------------------------------------------------------
def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ariadne_dbt_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_record(args, cpus: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "spark_master": f"local[{cpus}]",
        "seed": args.seed,
        "workload": args.workload,
        "size": args.size,
        "git_commit": git_commit(),
        "engine_source_sha256": source_digest(),
        "python": sys.version.split()[0],
    }


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# -- statistics ---------------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). Below eleven samples it is the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return float(xs[-1]), 100.0, n
    pct = math.floor(100 * (n - 10) / n)
    idx = min(n - 1, max(0, math.ceil(pct / 100 * n) - 1))
    return float(xs[idx]), float(pct), n


def gmean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def by_name(ops) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o)
    return out


def end_to_end(run, setup_s: float, rss_mb: float) -> dict:
    ms = [o["ms"] for o in run.ops]
    per_name = {k: median([o["ms"] for o in v]) for k, v in by_name(run.ops).items()}
    return {
        "setup_s": (setup_s, "s"),
        "unit_s": (median(run.units), "s"),
        "op_gmean_ms": (gmean(list(per_name.values())), "ms"),
        "op_max_ms": (max(ms), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def named_detail(workload: str, run, e2e: dict) -> dict:
    """The metrics README.md names, where the workload has them."""
    ops = by_name(o for o in run.ops if o.get("refresh", 0) == 0 or o["kind"] != "read")

    def p50(name):
        return (median([o["ms"] for o in ops[name]]), "ms") if name in ops else None

    out = {
        "setup_s": e2e["setup_s"],
        "peak_rss_mb": e2e["peak_rss_mb"],
        "failed_frac": (sum(not o.get("ok") for o in run.ops) / len(run.ops), "1"),
    }
    if workload.startswith("serve"):
        reads = [o["ms"] for o in run.ops if o["kind"] == "read"]
        value, pct, n = tail(reads)
        out.update({
            "search_p50_ms": p50("search_models"),
            "capsule_p50_ms": p50("get_context_capsule"),
            "lineage_p50_ms": p50("get_lineage"),
            "read_p50_ms": (median(reads), "ms"),
            "read_tail_ms": (value, "ms", {"percentile": pct, "samples": n}),
            "refresh_p50_ms": p50("refresh_index"),
            "read_after_refresh_p50_ms": (median(
                [o["ms"] for o in run.ops if o["kind"] == "read" and o.get("refresh")]), "ms"),
            "session_s": (sum(o["ms"] for o in run.ops
                              if o.get("unit") == 0 and o.get("refresh") == 0) / 1000, "s"),
            "episode_s": e2e["unit_s"],
        })
    else:
        out["pass_s"] = e2e["unit_s"]
        for step in ("dbt_build", "lakehouse", "corpus_build"):
            v = p50(step)
            out[f"{step}_s"] = (v[0] / 1000, "s") if v else None
    return {k: v for k, v in out.items() if v is not None}


# -- main -------------------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "ariadne_dbt_spark", "__init__.py")):
        print("the engine (ariadne_dbt_spark/) is not in this checkout", file=sys.stderr)
        return 2
    cpus = min(SPARK_CPUS, os.cpu_count() or 1)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cpus)
    sys.path.insert(0, ROOT)
    host = host_record(args, cpus)

    t0 = time.perf_counter()
    from ariadne_dbt_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    import pyspark

    host.update(spark_version=spark.version, pyspark_version=pyspark.__version__)
    ctx = SimpleNamespace(seed=args.seed, seconds=args.seconds, work=work,
                          sizes=SIZES[args.size], corrupt=set(args.corrupt_answer))
    tracer = None
    try:
        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer(spark)
            layers.import_entry_modules()
            tracer.install()
        run = workloads.WORKLOADS[args.workload](spark, ctx, tracer)
        if tracer:
            tracer.resolve()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    host["loadavg_end"] = os.getloadavg()
    host["stop_s"] = time.perf_counter() - t_stop
    host["process_s"] = time.perf_counter() - T_START

    setup_s = session_start_s + run.setup["build_s"] + run.setup["warmup_s"]
    e2e = end_to_end(run, setup_s, rss_mb)
    detail = named_detail(args.workload, run, e2e)
    if tracer:
        import layers

        metrics = layers.per_layer(run, tracer.spans, session_start_s)
    else:
        metrics = e2e
    failed = sum(not o.get("ok") for o in run.ops)
    record = {
        "host": host,
        "setup": {"session_start_s": session_start_s, **run.setup, "checks_s": run.checks_s},
        "detail": {k: list(v) for k, v in detail.items()},
        "end_to_end": {k: list(v) for k, v in e2e.items()},
        "failed_checks": [c for c in run.checks if not c["ok"]][:20],
        "answers_equal_up_to_bm25_ties": run.tie_answers,
        "ops": [{k: o[k] for k in ("kind", "name", "ms", "ok") if k in o} for o in run.ops],
    }
    if tracer:
        record["jobs_given_to_spans_by_time"] = tracer.jobs_by_time
        record["spans"] = tracer.dump()
        record["per_layer"] = {k: list(v) for k, v in metrics.items()}
    os.makedirs(WORK, exist_ok=True)
    out_path = os.path.join(WORK, f"result-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: record[k] for k in ("host", "setup", "detail", "failed_checks",
                                             "answers_equal_up_to_bm25_ties",
                                             "jobs_given_to_spans_by_time") if k in record},
                     default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
