"""Spans around the engine's public entry points, recorded from outside.

No engine file changes. ``Tracer.install`` replaces each named function or
method with a wrapper that records a span (name, start, end, parent span,
operation id) and gives the span its own Spark job group, so every job the
span launches can be found again in the status store afterwards. A function
bound elsewhere with ``from … import`` is replaced in every loaded engine
module that holds it (``server.py`` binds its operators that way).

A traced function that returns a DataFrame gets the same span around the
frame's ``collect()`` and ``first()``: the operators build lazy frames and
the caller materializes them, so this is where their jobs run.

Spark counts are read only after the measured window (``resolve``): jobs
from ``statusTracker()``, per-stage task counts, executor time and bytes
from the status store's ``lastStageAttempt``. Both work with the UI off.
A job group is a property of the thread that sets it, so jobs the engine
submits from threads of its own (``table_store`` writes data and change
log in a thread pool) carry no group. Each of those goes to the innermost
span open at its submission time.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time

#: (module, attribute or Class.method, span name). Spans named here are the
#: layer boundaries the per-layer metrics are computed from.
ENTRY_POINTS = (
    ("ariadne_dbt_spark.server", "ToolServer.handle", "server.handle"),
    ("ariadne_dbt_spark.ingest.manifest", "load_manifest", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.manifest", "parse_models", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.manifest", "parse_columns", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.manifest", "parse_tests", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.manifest", "parse_edges", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.manifest", "parse_sources", "ingest.manifest.parse"),
    ("ariadne_dbt_spark.ingest.indexer", "AriadneIndex.build", "ingest.indexer.build"),
    ("ariadne_dbt_spark.ingest.indexer", "AriadneIndex.refresh", "ingest.indexer.refresh"),
    ("ariadne_dbt_spark.operators.model_search", "search_models", "operators.model_search.search"),
    ("ariadne_dbt_spark.operators.model_search", "find_by_column", "operators.model_search.find_by_column"),
    ("ariadne_dbt_spark.operators.model_search", "get_model_by_name", "operators.model_search.by_name"),
    ("ariadne_dbt_spark.operators.capsule", "CapsuleBuilder.build", "operators.capsule.build"),
    ("ariadne_dbt_spark.operators.lineage", "get_lineage", "operators.lineage.lineage"),
    ("ariadne_dbt_spark.operators.graph", "bfs", "operators.graph.bfs"),
    ("ariadne_dbt_spark.operators.patterns", "extract_patterns", "operators.patterns.extract"),
    ("ariadne_dbt_spark.operators.antipatterns", "detect_antipatterns", "operators.antipatterns.detect"),
    ("ariadne_dbt_spark.plans.dbt_executor", "DbtSparkExecutor.render", "plans.dbt_executor.render"),
    ("ariadne_dbt_spark.plans.dbt_executor", "DbtSparkExecutor.run", "plans.dbt_executor.run"),
    ("ariadne_dbt_spark.plans.quality", "run_tests", "plans.quality.run_tests"),
    ("ariadne_dbt_spark.operators.table_store", "merge_table", "operators.table_store.merge"),
    ("ariadne_dbt_spark.operators.table_store", "optimize_table", "operators.table_store.optimize"),
    ("ariadne_dbt_spark.operators.table_store", "delete_keys", "operators.table_store.delete"),
    ("ariadne_dbt_spark.operators.table_store", "update_where", "operators.table_store.update"),
    ("ariadne_dbt_spark.operators.table_store", "write_table", "operators.table_store.write"),
    ("ariadne_dbt_spark.operators.incremental_view", "build_agg_view", "operators.incremental_view.build"),
    ("ariadne_dbt_spark.operators.incremental_view", "refresh_agg_view", "operators.incremental_view.refresh"),
)

STAGE_FIELDS = (
    ("executor_run_ms", "executorRunTime"),
    ("input_bytes", "inputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
)


class Tracer:
    """Keeps spans in memory; ``dump`` returns them for the run's record."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._restore: list[tuple[object, str, object]] = []
        #: epoch seconds minus perf_counter seconds: maps the status
        #: store's job submission times onto span times
        self._epoch = time.time() - time.perf_counter()
        #: jobs with no group that were given to a span by submission time
        self.jobs_by_time = 0

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str, op: str | None = None) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        span["group"] = f"perfbench-{span['id']}"
        self.sc.setJobGroup(span["group"], name)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.remove(span)
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            self.sc.setJobGroup("perfbench-untraced", "untraced")

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            self.end(span)
        return self._hook_collect(name, out)

    def _hook_collect(self, name: str, out):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            for action in ("collect", "first"):
                setattr(out, action, functools.partial(self.call, name, getattr(out, action)))
        return out

    # -- installation --------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, cls.__dict__[meth], span_name)
                continue
            fn = getattr(mod, attr)
            # every binding of the same function object in a loaded engine
            # module, e.g. ariadne_dbt_spark.server.search_models
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("ariadne_dbt_spark") and \
                        getattr(other, attr, None) is fn:
                    self._patch(other, attr, fn, span_name)

    def _patch(self, owner, attr: str, raw, span_name: str) -> None:
        tracer = self
        fn = raw.__func__ if isinstance(raw, classmethod) else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(span_name, fn, *args, **kwargs)

        self._restore.append((owner, attr, raw))
        setattr(owner, attr, classmethod(wrapper) if isinstance(raw, classmethod) else wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- Spark counts, read after the measured window ------------------------
    def resolve(self) -> None:
        wait_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_cache: dict[int, dict | None] = {}
        ungrouped: dict[int, list[int]] = {}
        for jid in tracker.getJobIdsForGroup(None):
            span = self._span_at(store, jid)
            if span is not None:
                ungrouped.setdefault(span["id"], []).append(jid)
        self.jobs_by_time = sum(map(len, ungrouped.values()))
        for span in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(span["group"])) + ungrouped.get(span["id"], [])
            span["jobs"] = len(jobs)
            acc = {"stages": 0, "tasks": 0}
            acc.update({k: 0 for k, _ in STAGE_FIELDS})
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    if sid not in stage_cache:
                        stage_cache[sid] = stage_metrics(store, sid)
                    st = stage_cache[sid]
                    if st is None:  # skipped: its shuffle output was reused
                        continue
                    acc["stages"] += 1
                    for k, v in st.items():
                        acc[k] += v
            span.update(acc)

    def _span_at(self, store, job_id: int) -> dict | None:
        """The innermost span open when the job was submitted. Submission
        times are whole milliseconds, so a span may start up to 1 ms after
        its job's reading."""
        submitted = store.job(job_id).submissionTime()
        if not submitted.isDefined():
            return None
        t = submitted.get().getTime() / 1000 - self._epoch
        open_spans = [s for s in self.spans if s["start"] - 0.001 <= t <= s["end"]]
        return max(open_spans, key=lambda s: s["start"], default=None)

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {k: (round(v - t0, 6) if k in ("start", "end") else v)
             for k, v in s.items() if k != "group"}
            for s in self.spans
        ]


def stage_metrics(store, stage_id: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — no attempt recorded: skipped stage
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    out = {"tasks": sd.numTasks()}
    for key, getter in STAGE_FIELDS:
        out[key] = int(getattr(sd, getter)())
    return out


def wait_listener_bus(sc, timeout_ms: int = 30_000) -> None:
    """Block until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


# -- span algebra ---------------------------------------------------------------
def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    covered, cur_end = 0.0, span["start"]
    for k in sorted(kids, key=lambda s: s["start"]):
        lo, hi = max(k["start"], cur_end), min(k["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cur_end = hi
    return (span["end"] - span["start"]) - covered


def subtree(span: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out
