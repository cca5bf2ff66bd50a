"""Per-layer metrics, computed from the spans of a traced run.

Every traced run reports every metric below, whatever the workload: a layer
the workload leaves idle reports 0. Times are medians over the operations
(or units) that reach the layer; ``*_jobs``, ``*_calls`` and task counts
are exact and repeat between two traced runs of the same seed.
"""

from __future__ import annotations

import importlib
import statistics

from spans import ENTRY_POINTS, children, self_time, subtree
from workloads import BATCH_STEPS, REFRESHES, TEMPLATE

SERVER_TOOLS = TEMPLATE + ("refresh_index",)
STEPS = tuple(step for step, _ in BATCH_STEPS)
#: operator span → (tool whose calls it is measured on, metric prefix)
OPERATORS = (
    ("operators.model_search.search", "search_models", "operators.model_search.search"),
    ("operators.capsule.build", "get_context_capsule", "operators.capsule.build"),
    ("operators.lineage.lineage", "get_lineage", "operators.lineage.lineage"),
    ("operators.patterns.extract", "get_context_capsule", "operators.patterns.extract"),
)
SPARK_FIELDS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_per_wall", "ratio"),
    ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("construct_ms", "ms"), ("catalyst_ms", "ms"),
)


def import_entry_modules() -> None:
    """Load every module that binds a traced entry point, so that each
    binding is replaced when the tracer installs."""
    for mod, _, _ in ENTRY_POINTS:
        importlib.import_module(mod)
    for mod in ("server", "operators.lineage", "operators.capsule",
                "workloads.dbt_pipeline", "workloads.olap_ext", "workloads.dedup"):
        importlib.import_module(f"ariadne_dbt_spark.{mod}")


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [
        ("session.start_s", "s"),
        ("ingest.manifest.parse_ms", "ms"),
        ("ingest.indexer.build_ms", "ms"),
        ("ingest.indexer.build_jobs", "count"),
        ("ingest.indexer.refresh_ms", "ms"),
        ("ingest.indexer.refresh_jobs", "count"),
        ("ingest.indexer.retokenized_per_changed", "ratio"),
    ]
    for tool in SERVER_TOOLS:
        out += [(f"server.handle_self_ms.{tool}", "ms"),
                (f"server.jobs_per_call.{tool}", "count"),
                (f"server.tasks_per_call.{tool}", "count")]
    out += [(f"server.tasks_per_call.search_after_refresh_{k}", "count")
            for k in range(REFRESHES + 1)]
    for _, _, prefix in OPERATORS:
        out += [(f"{prefix}_ms", "ms"), (f"{prefix}_jobs", "count")]
    out += [
        ("operators.graph.bfs_ms", "ms"),
        ("operators.graph.bfs_calls", "count"),
        ("operators.graph.bfs_jobs", "count"),
        ("operators.antipatterns.detect_ms", "ms"),
        ("plans.dbt_executor.render_ms", "ms"),
        ("plans.dbt_executor.run_ms", "ms"),
        ("plans.dbt_executor.run_jobs", "count"),
        ("plans.quality.run_tests_ms", "ms"),
        ("plans.quality.run_tests_jobs", "count"),
        ("operators.table_store.merge_ms", "ms"),
        ("operators.table_store.optimize_ms", "ms"),
        ("operators.table_store.delete_ms", "ms"),
        ("operators.table_store.jobs", "count"),
        ("operators.incremental_view.build_ms", "ms"),
        ("operators.incremental_view.refresh_ms", "ms"),
        ("operators.incremental_view.jobs", "count"),
    ]
    for tool in SERVER_TOOLS:
        out += [(f"spark.stages.{tool}", "count"),
                (f"spark.executor_per_wall.{tool}", "ratio")]
    for step in STEPS:
        out += [(f"spark.{f}.{step}", unit) for f, unit in SPARK_FIELDS]
    return out


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(run, spans: list[dict], session_start_s: float) -> dict:
    by_id = {s["id"]: s for s in spans}
    kids = children(spans)

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1000

    def tops(root, name):
        """Outermost spans called ``name`` under ``root``."""
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            if s["name"] == name and s is not root:
                out.append(s)
                continue
            todo.extend(kids.get(s["id"], ()))
        return out

    def total(s, key):
        return sum(x[key] for x in subtree(s, kids))

    def jobs(s):
        return total(s, "jobs")

    ops = [(o, by_id[o["span"]]) for o in run.ops]
    by_tool: dict[str, list] = {}
    for o, root in ops:
        # reads of the session template, on the freshly built index; the
        # reads after each refresh are reported by refresh count below
        if o.get("refresh", 0) == 0 or o["kind"] != "read":
            by_tool.setdefault(o["name"], []).append((o, root))
    builds = [s for s in spans if s["name"] == "ingest.indexer.build"]
    refreshes = [s for s in spans if s["name"] == "ingest.indexer.refresh"]
    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "ingest.manifest.parse_ms": _med(
            [sum(dur_ms(p) for p in tops(b, "ingest.manifest.parse")) for b in builds]),
        "ingest.indexer.build_ms": _med([dur_ms(b) for b in builds]),
        "ingest.indexer.build_jobs": _med([jobs(b) for b in builds]),
        "ingest.indexer.refresh_ms": _med([dur_ms(r) for r in refreshes]),
        "ingest.indexer.refresh_jobs": _med([jobs(r) for r in refreshes]),
    }
    changed = sum(o.get("truth_changed", 0) for o in run.ops)
    m["ingest.indexer.retokenized_per_changed"] = (
        sum(o.get("retokenized", 0) for o in run.ops) / changed if changed else 0.0)

    for tool in SERVER_TOOLS:
        calls = by_tool.get(tool, [])
        handles = [h for _, root in calls for h in tops(root, "server.handle")]
        m[f"server.handle_self_ms.{tool}"] = _med(
            [self_time(h, kids.get(h["id"], [])) * 1000 for h in handles])
        m[f"server.jobs_per_call.{tool}"] = _med([jobs(root) for _, root in calls])
        m[f"server.tasks_per_call.{tool}"] = _med([total(root, "tasks") for _, root in calls])
        m[f"spark.stages.{tool}"] = _med([total(root, "stages") for _, root in calls])
        m[f"spark.executor_per_wall.{tool}"] = _med(
            [total(root, "executor_run_ms") / o["ms"] for o, root in calls])
    for k in range(REFRESHES + 1):
        m[f"server.tasks_per_call.search_after_refresh_{k}"] = _med(
            [total(root, "tasks") for o, root in ops
             if o["name"] == "search_models" and o.get("refresh") == k])

    for span_name, tool, prefix in OPERATORS:
        per_call = [tops(root, span_name) for _, root in by_tool.get(tool, [])]
        m[f"{prefix}_ms"] = _med([sum(dur_ms(s) for s in ss) for ss in per_call])
        m[f"{prefix}_jobs"] = _med([sum(jobs(s) for s in ss) for ss in per_call])
    m["operators.antipatterns.detect_ms"] = _med(
        [sum(dur_ms(s) for s in tops(root, "operators.antipatterns.detect"))
         for _, root in by_tool.get("detect_antipatterns", [])])

    # per unit (one serving episode or batch pass): summed over its ops
    units: dict[int, list] = {}
    for o, root in ops:
        units.setdefault(o.get("unit", 0), []).append(root)

    def per_unit(span_name, fn):
        return _med([sum(fn(s) for root in roots for s in tops(root, span_name))
                     for roots in units.values()])

    m["operators.graph.bfs_ms"] = per_unit("operators.graph.bfs", dur_ms)
    m["operators.graph.bfs_calls"] = per_unit("operators.graph.bfs", lambda s: 1)
    m["operators.graph.bfs_jobs"] = per_unit("operators.graph.bfs", jobs)
    m["plans.dbt_executor.render_ms"] = per_unit("plans.dbt_executor.render", dur_ms)
    m["plans.dbt_executor.run_ms"] = per_unit("plans.dbt_executor.run", dur_ms)
    m["plans.dbt_executor.run_jobs"] = per_unit("plans.dbt_executor.run", jobs)
    m["plans.quality.run_tests_ms"] = per_unit("plans.quality.run_tests", dur_ms)
    m["plans.quality.run_tests_jobs"] = per_unit("plans.quality.run_tests", jobs)
    for op in ("merge", "optimize", "delete"):
        m[f"operators.table_store.{op}_ms"] = per_unit(f"operators.table_store.{op}", dur_ms)
    m["operators.table_store.jobs"] = sum(
        per_unit(f"operators.table_store.{op}", jobs)
        for op in ("merge", "optimize", "delete", "update", "write"))
    m["operators.incremental_view.build_ms"] = per_unit("operators.incremental_view.build", dur_ms)
    m["operators.incremental_view.refresh_ms"] = per_unit(
        "operators.incremental_view.refresh", dur_ms)
    m["operators.incremental_view.jobs"] = sum(
        per_unit(f"operators.incremental_view.{op}", jobs) for op in ("build", "refresh"))

    for step in STEPS:
        calls = by_tool.get(step, [])
        fields = {
            "jobs": [jobs(r) for _, r in calls],
            "stages": [total(r, "stages") for _, r in calls],
            "tasks": [total(r, "tasks") for _, r in calls],
            "executor_run_s": [total(r, "executor_run_ms") / 1000 for _, r in calls],
            "executor_per_wall": [total(r, "executor_run_ms") / o["ms"] for o, r in calls],
            "input_bytes": [total(r, "input_bytes") for _, r in calls],
            "shuffle_read_bytes": [total(r, "shuffle_read_bytes") for _, r in calls],
            "shuffle_write_bytes": [total(r, "shuffle_write_bytes") for _, r in calls],
            "spill_bytes": [total(r, "memory_spill_bytes") + total(r, "disk_spill_bytes")
                            for _, r in calls],
            "construct_ms": [sum(p["construct_ms"] for p in o["out"] or ()) for o, _ in calls],
            "catalyst_ms": [sum(p["catalyst_ms"] for p in o["out"] or ()) for o, _ in calls],
        }
        for f, vals in fields.items():
            m[f"spark.{f}.{step}"] = _med(vals)
    units_by_name = dict(names())
    assert set(m) == set(units_by_name), set(m) ^ set(units_by_name)
    return {k: (m[k], unit) for k, unit in names()}
