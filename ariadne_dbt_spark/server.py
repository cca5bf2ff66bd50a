"""Tool server: the reference's MCP tool surface as a transport-thin
JSON-lines server (SURVEY §3.2-3.3; reference: src/ariadne_dbt/server.py
serves the same tools over fastmcp — fastmcp isn't in this image, and
the tool *semantics* are the parity target, so requests ride
one-JSON-object-per-line over stdio or any file pair).

Tools (names mirror the reference):
    search_models, get_model_details, get_lineage, get_impact_analysis,
    discover_models, get_context_capsule, get_project_patterns,
    refresh_index, usage_stats, find_models_by_column,
    find_models_by_path, rate_capsule, detect_antipatterns

Every read tool answers from the index's driver-local snapshot
(``AriadneIndex.local()``, operators/local_cache.py) and launches no
Spark job: the snapshot is built when the server starts and again by
``refresh_index``, never on a read, and the server's memory envelope is
the snapshot's. The DataFrame operators the snapshot twins
(model_search, lineage, capsule, patterns, antipatterns) are the batch
and registry path; tests/test_server_parity.py pins every tool's answer
to them.

Every call is usage-logged (S8) with duration, like the reference.
"""

from __future__ import annotations

import json
import sys
import time

from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.capsule import detect_intent, greedy_fill
from ariadne_dbt_spark.operators.usage import SessionEventLog, UsageLog


class ToolServer:
    def __init__(self, index: AriadneIndex, *, usage_dir: str | None = None):
        self.index = index
        self.index.local()  # build the snapshot now, so no read pays for it
        self.usage = UsageLog(index.spark, usage_dir) if usage_dir else None
        self.events = (
            SessionEventLog(index.spark, usage_dir + "_session_events")
            if usage_dir
            else None
        )
        #: log id of the most recent get_context_capsule call — the target
        #: of rate_capsule (reference: server.py:21,111,513)
        self._last_capsule_log_id: int | None = None
        #: one server process = one session in the events log
        self._session_id = "server"

    @property
    def cache(self):
        """The snapshot every read tool answers from."""
        return self.index.local()

    # -- tools ---------------------------------------------------------------
    def search_models(self, query: str, limit: int = 10, layer: str | None = None,
                      intent: str = "explore") -> dict:
        limit = max(1, min(int(limit), 50))  # O7 clamp (reference: server.py:363)
        return {"results": self.cache.search(query, intent=intent, limit=limit, layer=layer)}

    def get_model_details(self, model_name: str) -> dict:
        # name OR unique_id lookup (reference: server.py:196); error text
        # points at search_models like the reference's hint
        cache = self.cache
        row = cache.by_name(model_name) or cache.models.get(model_name)
        if row is None:
            return {
                "error": f"model not found: {model_name}. "
                "Use search_models to find similar names."
            }
        uid = row["unique_id"]

        def names(ids):
            return sorted(cache.models[u]["name"] for u in ids if u in cache.models)

        return {
            "model": {k: row[k] for k in (
                "unique_id", "name", "layer", "materialization", "description",
                "file_path", "upstream_count", "downstream_count", "centrality")},
            # reference returns the executable definition too (server.py:226)
            "compiled_sql": row["compiled_code"] or row["raw_code"] or "",
            "columns": cache.columns_with_tests(uid),
            "tests": [
                {k: t[k] for k in ("unique_id", "name", "test_type", "column_name")}
                for t in cache.tests.get(uid, ())
            ],
            "upstream": names(cache.parents.get(uid, ())),
            "downstream": names(cache.children.get(uid, ())),
            "coverage": cache.coverage(uid),
            "macros": cache.macros_used(uid),
            "sources": cache.direct_sources(uid),
        }

    def get_lineage(self, model_name: str, depth: int = 3, direction: str = "both") -> dict:
        depth = max(1, min(int(depth), 10))  # O7 clamp
        row = self.cache.by_name(model_name)
        if row is None:
            return {"error": f"model not found: {model_name}"}
        return {"lineage": self.cache.lineage(row["unique_id"], depth=depth, direction=direction)}

    def get_impact_analysis(self, model_name: str, depth: int = 5) -> dict:
        row = self.cache.by_name(model_name)
        if row is None:
            return {"error": f"model not found: {model_name}"}
        return self.cache.impact(row["unique_id"], depth=min(int(depth), 10))

    def discover_models(
        self,
        task: str,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        limit: int = 40,
    ) -> dict:
        # reference: server.py:117-146 — discover accepts the same
        # focus/entry anchors as get_context_capsule
        return {
            "models": self.cache.discover(
                task,
                focus_model=focus_model,
                entry_models=entry_models,
                entry_paths=entry_paths,
                limit=limit,
            )
        }

    def get_context_capsule(self, task: str, focus_model: str | None = None,
                            entry_models: list[str] | None = None,
                            entry_paths: list[str] | None = None,
                            token_budget: int | None = None) -> dict:
        out = self.cache.capsule(
            task, focus_model=focus_model, entry_models=entry_models,
            entry_paths=entry_paths, token_budget=token_budget,
        )
        # session memory (reference reserves session_context and its 5%
        # budget fraction but always emits {}; roadmap v1.0 "session
        # memory"): prior events of THIS server session, newest first,
        # greedy-filled into the session allocation
        if self.events is not None:
            from ariadne_dbt_spark.config import BUDGET_FRACTIONS
            from ariadne_dbt_spark.operators.capsule import estimate_tokens

            alloc = int(out["token_budget"] * BUDGET_FRACTIONS["session"])
            recent = self.events.for_session(self._session_id)[-10:]
            items = [
                {
                    "event_type": e["event_type"],
                    "tool_name": e["tool_name"],
                    "ts": str(e["created_at"]),
                    "payload": e["payload"],
                }
                for e in reversed(recent)
            ]
            out["session_context"] = {
                "recent_events": greedy_fill(items, alloc, break_on_overflow=False)
            }
            out["token_estimate"] = estimate_tokens(out)
            self.events.record(
                self._session_id, "capsule", tool_name="get_context_capsule",
                payload={"task": task[:200], "intent": out["intent"]},
            )
        return out

    def find_models_by_column(self, column_name: str, limit: int = 20) -> dict:
        """Reference: server.py:399-420 — partial column-name match."""
        limit = max(1, min(int(limit), 50))
        results = self.cache.find_by_column(column_name, limit=limit)
        return {"column_name": column_name, "count": len(results), "results": results}

    def find_models_by_path(self, path_pattern: str, limit: int = 20) -> dict:
        """Reference: server.py:425-445 — LIKE pattern over file_path."""
        limit = max(1, min(int(limit), 50))
        results = self.cache.find_by_path(path_pattern, limit=limit)
        return {"path_pattern": path_pattern, "count": len(results), "results": results}

    def rate_capsule(self, rating: int, notes: str | None = None) -> dict:
        """Rate the most recent get_context_capsule call 1-5 (reference:
        server.py:497-527). Ratings append to the usage store and land in
        the session_events feedback log."""
        if self.usage is None:
            return {"error": "usage logging disabled"}
        log_id = self._last_capsule_log_id
        if log_id is None:
            return {"success": False, "error": "No capsule call found in this session yet."}
        rating = max(1, min(5, int(rating)))
        self.usage.rate(log_id, rating, notes or "")
        if self.events is not None:
            self.events.record(
                self._session_id, "validation", tool_name="rate_capsule",
                payload={"log_id": log_id, "rating": rating, "notes": notes or ""},
            )
        return {"success": True, "log_id": log_id, "rating": rating}

    def get_project_patterns(self) -> dict:
        return self.cache.patterns()

    def detect_antipatterns(self, rules: list[str] | None = None) -> dict:
        """Project anti-pattern report (reference README roadmap v1.0;
        rule set in operators/antipatterns.py)."""
        from ariadne_dbt_spark.operators.antipatterns import RULES

        wanted = tuple(r for r in (rules or RULES) if r in RULES)
        rows = self.cache.antipatterns(wanted)
        by_rule: dict[str, int] = {}
        for r in rows:
            by_rule[r["rule"]] = by_rule.get(r["rule"], 0) + 1
        return {"rules": list(wanted), "counts": by_rule, "violations": rows}

    def refresh_index(self, manifest_path: str, catalog_path: str | None = None,
                      run_results_path: str | None = None) -> dict:
        # incremental hash-delta refresh: only changed docs re-tokenize
        # (the reference rebuilds fully — server.py:449-492; its roadmap
        # defers the delta path to v1.0)
        self.index = self.index.refresh(
            manifest_path,
            catalog_path=catalog_path, run_results_path=run_results_path,
        )
        cache = self.index.local()  # the new snapshot, built before any read
        return {
            "status": "ok",
            "models": len(cache.models),
            "delta": self.index.last_refresh_stats,
        }

    def usage_stats(self, days: int = 30) -> dict:
        if self.usage is None:
            return {"error": "usage logging disabled"}
        return self.usage.stats(days=days)

    # -- dispatch ------------------------------------------------------------
    TOOLS = (
        "search_models", "get_model_details", "get_lineage", "get_impact_analysis",
        "discover_models", "get_context_capsule", "get_project_patterns",
        "refresh_index", "usage_stats", "find_models_by_column",
        "find_models_by_path", "rate_capsule", "detect_antipatterns",
    )

    def handle(self, request: dict) -> dict:
        tool = request.get("tool")
        args = request.get("args") or {}
        rid = request.get("id")
        if tool not in self.TOOLS:
            return {"id": rid, "error": f"unknown tool: {tool}", "tools": list(self.TOOLS)}
        t0 = time.perf_counter()
        try:
            result = getattr(self, tool)(**args)
            status = "ok"
        except TypeError as e:
            return {"id": rid, "error": f"bad arguments: {e}"}
        except Exception as e:  # surface, don't crash the loop
            result, status = {"error": f"{type(e).__name__}: {e}"}, "error"
        dur_ms = int((time.perf_counter() - t0) * 1000)
        if self.usage is not None:
            task = str(args.get("task") or args.get("query") or "")
            log_id = self.usage.record(
                tool, task_text=task,
                intent=detect_intent(task) if task else "",
                focus_model=str(args.get("focus_model") or ""),
                token_estimate=len(json.dumps(result, default=str)) // 4,
                duration_ms=dur_ms,
            )
            if tool == "get_context_capsule" and status == "ok":
                self._last_capsule_log_id = log_id
        return {"id": rid, "status": status, "took_ms": dur_ms, "result": result}

    def serve(self, infile=None, outfile=None) -> None:
        """One JSON request per line in, one JSON response per line out."""
        infile = infile or sys.stdin
        outfile = outfile or sys.stdout
        for line in infile:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except json.JSONDecodeError as e:
                resp = {"error": f"bad json: {e}"}
            else:
                resp = self.handle(req)
            print(json.dumps(resp, default=str), file=outfile, flush=True)
