"""Context-capsule assembly: the engine's primary query (SURVEY §2.9, §3.2).

Reference behavior (src/ariadne_dbt/capsule.py:136-205): detect intent →
select pivots (explicit anchors first, hybrid-search fill) → multi-pivot
BFS at intent depths with min-distance union → related tests / macros /
sources / similar models / project patterns → assemble 3-tier contexts
under a greedy token budget with the reference's break-vs-skip asymmetry
(pivots/tests skip-and-continue, up/downstream break on first overflow —
capsule.py:345-363).

Token estimation is ``len(json.dumps(x)) // 4`` min 1 (capsule.py:48-56).
The heavy lifting (search, BFS, joins) is DataFrame work; assembly runs
on the driver over collected, KB-bounded results, mirroring the
reference's shape — the budget bounds the output by construction.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from ariadne_dbt_spark.config import BUDGET_FRACTIONS, INTENT_LEXICONS, EngineConfig
from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.graph import DOWNSTREAM, UPSTREAM, bfs
from ariadne_dbt_spark.operators.model_search import (
    columns_with_tests_all,
    direct_sources,
    get_model_by_name,
    macros_used,
    resolve_paths,
    search_models,
)
from ariadne_dbt_spark.operators.patterns import extract_patterns


def detect_intent(task: str) -> str:
    """Keyword-hit argmax over the intent lexicons, deterministic
    tie-break by intent name, default 'explore'
    (reference: capsule.py:24-43)."""
    toks = set(task.lower().split())
    best, best_hits = "explore", 0
    for intent in sorted(INTENT_LEXICONS):
        hits = sum(1 for w in INTENT_LEXICONS[intent] if w in toks)
        if hits > best_hits:
            best, best_hits = intent, hits
    return best


def estimate_tokens(obj) -> int:
    """len(json.dumps(x)) // 4, min 1 (reference: capsule.py:48-56)."""
    return max(1, len(json.dumps(obj, default=str)) // 4)


@dataclass
class Capsule:
    task: str
    intent: str
    confidence: str
    pivots: list[dict] = field(default_factory=list)
    upstream: list[dict] = field(default_factory=list)
    downstream: list[dict] = field(default_factory=list)
    tests: list[dict] = field(default_factory=list)
    macros: list[dict] = field(default_factory=list)
    sources: list[dict] = field(default_factory=list)
    similar_models: list[str] = field(default_factory=list)
    patterns: dict = field(default_factory=dict)
    #: session memory (reference models.py:184 reserves this; the
    #: reference server always emits {} — the ToolServer fills it from
    #: the session-event log within the 5% session budget fraction)
    session_context: dict = field(default_factory=dict)
    token_estimate: int = 0
    token_budget: int = 0

    def to_dict(self) -> dict:
        return {
            "task": self.task,
            "intent": self.intent,
            "confidence": self.confidence,
            "pivots": self.pivots,
            "upstream": self.upstream,
            "downstream": self.downstream,
            "tests": self.tests,
            "macros": self.macros,
            "sources": self.sources,
            "similar_models": self.similar_models,
            "patterns": self.patterns,
            "session_context": self.session_context,
            "token_estimate": self.token_estimate,
            "token_budget": self.token_budget,
        }


# -- tiers (C4, reference: capsule.py:61-117) — module-level so the
# driver-local serving path (operators/local_cache.py) renders the exact
# same shapes from its collected dicts
def full_context(row, cols) -> dict:
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "layer": row["layer"],
        "materialization": row["materialization"],
        "description": row["description"],
        "sql": (row["compiled_code"] or row["raw_code"] or "")[:2000],
        "columns": [
            {
                "name": c["name"],
                "type": c["data_type"],
                "tests": list(c["test_types"]),
                "pk": bool(c["is_primary_key"]),
                "fk": bool(c["is_foreign_key"]),
            }
            for c in cols
        ],
        "depends_on": list(row["depends_on_nodes"] or []),
    }


def skeleton_context(row, cols, distance) -> dict:
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "layer": row["layer"],
        "distance": distance,
        "columns": [{"name": c["name"], "type": c["data_type"]} for c in cols],
    }


def minimal_context(row, cols, distance) -> dict:
    key_cols = [c["name"] for c in cols if c["is_primary_key"] or c["is_foreign_key"]][:5]
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "distance": distance,
        "column_count": len(cols),
        "key_columns": key_cols,
    }


def pivot_confidence(explicit: bool, scores: list[float]) -> str:
    """Reference heuristic (capsule.py:272-304): explicit anchors →
    high; clear score separation → high/medium; else low."""
    if explicit:
        return "high"
    if len(scores) >= 3 and scores[2] > 0 and scores[0] > 2 * scores[2]:
        return "high"
    if len(scores) >= 2 and scores[1] > 0 and scores[0] > 1.5 * scores[1]:
        return "medium"
    if 1 <= len(scores) <= 2 and scores[0] > 5.0:
        return "medium"
    return "low"


def greedy_fill(items: list[dict], alloc: int, *, break_on_overflow: bool) -> list[dict]:
    """Budget fill (C2/C3, reference: capsule.py:325-396): take items in
    order while they fit; on overflow either stop (up/downstream) or skip
    and keep trying smaller items (pivots/tests)."""
    out, used = [], 0
    for it in items:
        cost = estimate_tokens(it)
        if used + cost <= alloc:
            out.append(it)
            used += cost
        elif break_on_overflow:
            break
    return out


class CapsuleBuilder:
    def __init__(self, index: AriadneIndex, config: EngineConfig | None = None):
        self.index = index
        self.config = config or index.config

    def _full_context(self, row, cols) -> dict:
        return full_context(row, cols)

    def _skeleton_context(self, row, cols, distance) -> dict:
        return skeleton_context(row, cols, distance)

    def _minimal_context(self, row, cols, distance) -> dict:
        return minimal_context(row, cols, distance)

    # -- pivots (C5, reference: capsule.py:209-270) --------------------------
    def _select_pivots(
        self,
        task: str,
        intent: str,
        focus_model: str | None,
        entry_models: list[str] | None,
        entry_paths: list[str] | None,
        max_pivots: int,
    ) -> tuple[list[str], list[float], bool]:
        pivots: list[str] = []
        explicit = False

        def add(uid: str):
            if uid not in pivots and len(pivots) < max_pivots:
                pivots.append(uid)

        if focus_model:
            rows = get_model_by_name(self.index, focus_model).select("unique_id").collect()
            for r in rows:
                add(r.unique_id)
                explicit = True
        for m in entry_models or []:
            rows = get_model_by_name(self.index, m).select("unique_id").collect()
            for r in rows:
                add(r.unique_id)
                explicit = True
        for uid in resolve_paths(self.index, entry_paths or []):
            add(uid)
            explicit = True

        scores: list[float] = []
        if len(pivots) < max_pivots:
            remaining = max_pivots - len(pivots)
            hits = search_models(
                self.index,
                task,
                intent=intent,
                limit=remaining + 2,
                exclude_ids=pivots,
            ).collect()
            scores = [float(h.score) for h in hits]
            for h in hits[:remaining]:
                add(h.unique_id)
        return pivots, scores, explicit

    # -- main entry (reference: capsule.py:136-205) ---------------------------
    def build(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        token_budget: int | None = None,
    ) -> Capsule:
        cfg = self.config
        budget = token_budget or cfg.token_budget
        intent = detect_intent(task)
        up_depth, down_depth = cfg.depths_for(intent)

        pivots, scores, explicit = self._select_pivots(
            task, intent, focus_model, entry_models, entry_paths, cfg.max_pivots
        )
        confidence = pivot_confidence(explicit, scores)
        cap = Capsule(task=task, intent=intent, confidence=confidence, token_budget=budget)
        if not pivots:
            cap.patterns = extract_patterns(self.index)
            cap.token_estimate = estimate_tokens(cap.to_dict())
            return cap

        # multi-pivot BFS with min-distance union (G6/E2), models only
        up_ids, down_ids = [], []
        if up_depth > 0:
            up_ids = [
                (r.unique_id, r.distance)
                for r in bfs(self.index.edges, pivots, UPSTREAM, max_depth=up_depth)
                .where(F.col("unique_id").startswith("model."))
                .collect()
            ]
        if down_depth > 0:
            down_ids = [
                (r.unique_id, r.distance)
                for r in bfs(self.index.edges, pivots, DOWNSTREAM, max_depth=down_depth)
                .where(F.col("unique_id").startswith("model."))
                .collect()
            ]

        # one broadcast lookup for every row we might render (J7 style)
        wanted = set(pivots) | {u for u, _ in up_ids} | {u for u, _ in down_ids}
        rows = {
            r["unique_id"]: r.asDict()
            for r in self.index.models.where(F.col("unique_id").isin(list(wanted))).collect()
        }
        # ONE columns⋈tests join + collect for the whole wanted set —
        # O(1) Spark jobs regardless of capsule size (the reference runs a
        # per-model query loop here, search.py:241-253; a loop of
        # .collect()s would be N jobs — the J7 anti-pattern)
        cols_by_model: dict[str, list[dict]] = {uid: [] for uid in wanted}
        for r in columns_with_tests_all(self.index, list(wanted)).collect():
            cols_by_model[r["model_id"]].append(r.asDict())

        # allocations (C2)
        alloc = {k: int(budget * v) for k, v in BUDGET_FRACTIONS.items()}

        pivot_items = [
            self._full_context(rows[p], cols_by_model[p]) for p in pivots if p in rows
        ]
        cap.pivots = greedy_fill(pivot_items, alloc["pivot"], break_on_overflow=False)

        up_items = [
            self._skeleton_context(rows[u], cols_by_model[u], d)
            for u, d in sorted(up_ids, key=lambda x: (x[1], x[0]))
            if u in rows
        ]
        cap.upstream = greedy_fill(up_items, alloc["upstream"], break_on_overflow=True)

        down_items = [
            self._minimal_context(rows[u], cols_by_model[u], d)
            for u, d in sorted(down_ids, key=lambda x: (x[1], x[0]))
            if u in rows
        ]
        cap.downstream = greedy_fill(down_items, alloc["downstream"], break_on_overflow=True)

        # related context (tests J5, macros J6, sources J4) per pivot
        test_items, macro_items, source_items = [], [], []
        for p in pivots:
            test_items += [
                r.asDict()
                for r in self.index.tests.where(F.col("model_id") == p)
                .select("unique_id", "name", "test_type", "column_name")
                .collect()
            ]
            macro_items += [r.asDict() for r in macros_used(self.index, p).collect()]
            source_items += [r.asDict() for r in direct_sources(self.index, p).collect()]
        half = alloc["tests_macros"] // 2  # tests capped at half (capsule.py:388)
        cap.tests = greedy_fill(test_items, half, break_on_overflow=False)
        cap.macros = greedy_fill(macro_items, alloc["tests_macros"] - half, break_on_overflow=False)
        # dedup sources preserving first-seen order (E3)
        seen = set()
        cap.sources = [
            s for s in source_items if not (s["unique_id"] in seen or seen.add(s["unique_id"]))
        ]

        # similar models: re-search excluding pivot∪up∪down, take 5 (C7)
        exclude = list(wanted)
        sim = search_models(self.index, task, intent=intent, limit=5, exclude_ids=exclude)
        cap.similar_models = [r.name for r in sim.collect()]

        pat = extract_patterns(self.index)
        cap.patterns = pat if estimate_tokens(pat) <= alloc["patterns"] else {"stats": pat["stats"]}

        cap.token_estimate = estimate_tokens(cap.to_dict())
        return cap

    # -- discover (C8, reference: capsule.py:432-501) -------------------------
    def discover(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        limit: int = 40,
    ) -> list[dict]:
        """Names-only orientation list: pivots (cap 5, seeded by the same
        focus/entry anchors as build — reference: capsule.py:432-452) +
        depth-4 DAG labels + FTS fill, ≤limit rows, ~12 tokens/row.
        Rows carry name/layer/file_path/relationship/distance
        (reference: capsule.py:470-476); search fill is labeled
        ``search`` (reference: capsule.py:499)."""
        limit = max(1, min(limit, self.config.discover_limit))
        intent = detect_intent(task)
        pivots, _, _ = self._select_pivots(
            task, intent, focus_model, entry_models, entry_paths, max_pivots=5
        )
        out: list[dict] = []
        seen: set[str] = set()
        meta = {
            r.unique_id: (r.name, r.layer or "other", r.file_path or "")
            for r in self.index.models.select("unique_id", "name", "layer", "file_path").collect()
        }

        def add(uid: str, rel: str, dist: int):
            if uid in seen or len(out) >= limit or uid not in meta:
                return
            name, layer, file_path = meta[uid]
            seen.add(uid)
            out.append(
                {
                    "unique_id": uid,
                    "name": name,
                    "layer": layer,
                    "file_path": file_path,
                    "relationship": rel,
                    "distance": dist,
                }
            )

        for p in pivots:
            add(p, "pivot", 0)
        for direction, rel in ((UPSTREAM, "upstream"), (DOWNSTREAM, "downstream")):
            if len(out) >= limit:
                break
            hits = (
                bfs(self.index.edges, pivots, direction, max_depth=4)
                .where(F.col("unique_id").startswith("model."))
                .orderBy("distance", "unique_id")
                .collect()
            )
            for r in hits:
                add(r.unique_id, rel, r.distance)
        if len(out) < limit:
            fill = search_models(
                self.index, task, intent=intent, limit=limit - len(out), exclude_ids=list(seen)
            ).collect()
            for r in fill:
                add(r.unique_id, "search", -1)
        return out
