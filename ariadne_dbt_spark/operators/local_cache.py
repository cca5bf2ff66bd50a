"""Driver-local snapshot of the index: the tool server's read path.

The index tables are metadata-scale (≤10k models — reference scale
envelope, README.md:13); the reference serves them from an in-process
SQLite. A Spark job per lookup costs 50-300ms of scheduling alone, so
``server.ToolServer`` answers every read tool from this collected
snapshot and launches no Spark job per call. Each method here is the
pure-Python twin of a DataFrame operator (``model_search``, ``lineage``,
``capsule``, ``patterns``, ``antipatterns``) with the same semantics,
pinned per tool by tests/test_local_serving.py and
tests/test_server_parity.py. The DataFrame operators remain the batch
and registry path (``workloads/``, ``cli.py``).

Build cost: one collect per index table, once per index build or
refresh (``AriadneIndex.local()``). The snapshot holds every index
table in driver memory, so its footprint is the server's memory
envelope: it grows with the manifest, not with the traffic.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from ariadne_dbt_spark.config import HYBRID_WEIGHTS, LAYER_BOOSTS, EngineConfig
from ariadne_dbt_spark.functions.text import tokenize_query
from ariadne_dbt_spark.operators.search import B, DEFAULT_FIELD_WEIGHTS, K1

#: the keys ``model_search.columns_with_tests`` returns per column
_COLUMN_KEYS = (
    "model_id", "name", "data_type", "description", "is_primary_key", "is_foreign_key",
)


@dataclass
class LocalIndexCache:
    models: dict[str, dict] = field(default_factory=dict)
    columns: dict[str, list[dict]] = field(default_factory=dict)  # model_id → rows
    tests: dict[str, list[dict]] = field(default_factory=dict)  # model_id → rows
    macros: list[dict] = field(default_factory=list)
    sources: dict[str, dict] = field(default_factory=dict)
    exposures: dict[str, dict] = field(default_factory=dict)
    children: dict[str, list[str]] = field(default_factory=dict)
    parents: dict[str, list[str]] = field(default_factory=dict)
    # postings[field][term] → {unique_id: tf}; docstats[field][unique_id] → dl
    postings: dict[str, dict[str, dict[str, int]]] = field(default_factory=dict)
    docstats: dict[str, dict[str, int]] = field(default_factory=dict)
    #: the index's config: limit caps, truncation, depths, budget
    config: EngineConfig = field(default_factory=EngineConfig)

    @property
    def stem(self) -> bool:
        """Queries stem iff the snapshotted postings were stemmed."""
        return self.config.stem_tokens

    @classmethod
    def from_index(cls, index) -> "LocalIndexCache":
        c = cls(config=index.config)
        c.models = {r["unique_id"]: r.asDict() for r in index.models.collect()}
        for r in index.columns.collect():
            c.columns.setdefault(r["model_id"], []).append(r.asDict())
        for cols in c.columns.values():
            cols.sort(key=lambda x: x["name"])
        for r in index.tests.collect():
            c.tests.setdefault(r["model_id"], []).append(r.asDict())
        c.macros = [r.asDict() for r in index.macros.collect()]
        c.sources = {r["unique_id"]: r.asDict() for r in index.sources.collect()}
        c.exposures = {r["unique_id"]: r.asDict() for r in index.exposures.collect()}
        for r in index.edges.collect():
            c.children.setdefault(r.parent_id, []).append(r.child_id)
            c.parents.setdefault(r.child_id, []).append(r.parent_id)
        for r in index.postings.collect():
            c.postings.setdefault(r["field"], {}).setdefault(r["term"], {})[
                r["unique_id"]
            ] = r["tf"]
        for r in index.docstats.collect():
            c.docstats.setdefault(r["field"], {})[r["unique_id"]] = r["dl"]
        return c

    # -- graph (pure-python BFS; same semantics as operators.graph.bfs) ------
    def bfs(self, starts: list[str], direction: str, max_depth: int,
            exclude_start: bool = True) -> list[tuple[str, int]]:
        adj = self.children if direction == "downstream" else self.parents
        max_depth = max(0, min(int(max_depth), 10))
        dist = {s: 0 for s in starts}
        frontier = list(dict.fromkeys(starts))
        for depth in range(1, max_depth + 1):
            nxt = []
            for node in frontier:
                for nb in adj.get(node, ()):
                    if nb not in dist:
                        dist[nb] = depth
                        nxt.append(nb)
            if not nxt:
                break
            frontier = nxt
        start_set = set(starts)
        return sorted(
            ((u, d) for u, d in dist.items() if not (exclude_start and u in start_set)),
            key=lambda t: (t[1], t[0]),
        )

    # -- search (same math as operators.search.bm25 + hybrid_rerank) ---------
    def bm25(self, query: str, *, field_weights: dict[str, float] | None = None) -> dict[str, float]:
        terms = set(tokenize_query(query, stem=self.stem))
        if not terms:
            return {}
        weights = field_weights or DEFAULT_FIELD_WEIGHTS
        n_docs = len(self.models)
        scores: dict[str, float] = {}
        for fld, term_map in self.postings.items():
            w = weights.get(fld, 1.0)
            stats = self.docstats.get(fld, {})
            avgdl = (sum(stats.values()) / len(stats)) if stats else 1.0
            for t in terms:
                docs = term_map.get(t)
                if not docs:
                    continue
                df = len(docs)
                idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                for uid, tf in docs.items():
                    dl = stats.get(uid, 0)
                    tf_norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
                    scores[uid] = scores.get(uid, 0.0) + idf * tf_norm * w
        return scores

    def search(
        self,
        query: str,
        *,
        intent: str = "explore",
        limit: int = 10,
        exclude_ids: list[str] | None = None,
        layer: str | None = None,
    ) -> list[dict]:
        """Twin of model_search.search_models: BM25 recall cut at
        4×limit (LIKE fallback when empty), exclusion, min-max
        normalization, hybrid re-rank. Layer sequence of the reference
        (server.py:363-371): search with an effective 2×limit, cut the
        ranked list there, THEN layer-filter."""
        limit = max(1, min(int(limit), self.config.search_limit_cap))
        eff_limit = 2 * limit if layer else limit
        q = query.lower().strip()
        raw = self.bm25(query)
        candidates = sorted(raw.items(), key=lambda kv: (-kv[1], kv[0]))[: 4 * eff_limit]
        if not candidates:  # T4: LIKE fallback, every match at a constant score
            candidates = [
                (uid, 0.5)
                for uid, m in self.models.items()
                if q in (m["name"] or "").lower() or q in (m["description"] or "").lower()
            ]
        exclude = set(exclude_ids or ())
        candidates = [(u, s) for u, s in candidates if u not in exclude]
        if not candidates:
            return []
        vals = [s for _, s in candidates]
        mn, mx = min(vals), max(vals)
        boosts = LAYER_BOOSTS.get(intent, LAYER_BOOSTS["explore"])
        cut = self.config.description_truncate
        out = []
        for uid, s in candidates:
            m = self.models[uid]
            norm = 1.0 if mx == mn else (s - mn) / (mx - mn)
            # bonus VALUE 0.15, scaled again by the 0.15 weight (net
            # 0.0225) — pinned to operators.search.hybrid_rerank and the
            # reference (search.py:82-90)
            name_bonus = 0.15 if q in (m["name"] or "").lower() else 0.0
            score = (
                norm * HYBRID_WEIGHTS["bm25"]
                + (m["centrality"] or 0.0) * HYBRID_WEIGHTS["centrality"]
                + boosts.get(m["layer"], 0.0) * HYBRID_WEIGHTS["layer"]
                + name_bonus * HYBRID_WEIGHTS["name"]
            )
            out.append(
                {
                    "unique_id": uid,
                    "name": m["name"],
                    "layer": m["layer"],
                    "description": (m["description"] or "")[:cut],
                    "centrality": m["centrality"],
                    "bm25_score": s,
                    "score": score,
                }
            )
        out.sort(key=lambda r: (-r["score"], r["unique_id"]))
        if layer:
            out = [r for r in out[:eff_limit] if r["layer"] == layer]
        return out[:limit]

    # -- lookups (twins of the model_search point lookups) -------------------
    def named(self, name: str) -> list[dict]:
        """Every model whose name equals ``name`` case-insensitively, in
        table order (get_model_by_name)."""
        low = name.lower()
        return [m for m in self.models.values() if (m["name"] or "").lower() == low]

    def by_name(self, name: str) -> dict | None:
        hits = self.named(name)
        return hits[0] if hits else None

    def resolve_paths(self, paths: list[str]) -> list[str]:
        out, seen = [], set()
        for p in paths:
            if p.endswith((".yml", ".yaml")):
                continue
            stem = p.rsplit("/", 1)[-1]
            stem = (stem[:-4] if stem.endswith(".sql") else stem).lower()
            for uid, m in self.models.items():
                if m["file_path"] == p or (m["name"] or "").lower() == stem:
                    if uid not in seen:
                        seen.add(uid)
                        out.append(uid)
        return out

    def columns_with_tests(self, model_id: str) -> list[dict]:
        tests_by_col: dict[str, set] = {}
        for t in self.tests.get(model_id, ()):
            if t["column_name"]:
                tests_by_col.setdefault(t["column_name"], set()).add(t["test_type"])
        return [
            {
                **{k: c[k] for k in _COLUMN_KEYS},
                "test_types": sorted(tests_by_col.get(c["name"], ())),
            }
            for c in self.columns.get(model_id, ())
        ]

    def coverage(self, model_id: str) -> dict:
        """Twin of model_search.coverage_stats."""
        total = len(self.columns.get(model_id, ()))
        tested = len({t["column_name"] for t in self.tests.get(model_id, ()) if t["column_name"]})
        pct = round(100.0 * tested / total, 1) if total else 0.0
        return {"total_columns": total, "tested_columns": tested, "coverage_pct": pct}

    def macros_used(self, model_id: str) -> list[dict]:
        m = self.models.get(model_id)
        sql = m and (m["compiled_code"] or m["raw_code"])
        if sql is None:
            return []
        return [
            {"macro_id": mac["unique_id"], "macro_name": mac["name"]}
            for mac in self.macros
            if mac["name"] is not None and mac["name"] in sql
        ]

    def direct_sources(self, model_id: str) -> list[dict]:
        out = []
        for pid in self.parents.get(model_id, ()):
            s = self.sources.get(pid)
            if s:
                out.append(
                    {
                        "unique_id": s["unique_id"],
                        "name": s["name"],
                        "source_name": s["source_name"],
                        "schema_name": s["schema_name"],
                        "description": s["description"],
                    }
                )
        return sorted(out, key=lambda r: r["unique_id"])

    def find_by_column(self, column_name: str, *, limit: int = 20) -> list[dict]:
        """Twin of model_search.find_by_column: case-insensitive partial
        column-name match, ranked by centrality then model id."""
        term = column_name.lower()
        rows = [
            {
                "unique_id": mid,
                "column_name": c["name"],
                "name": m["name"],
                "layer": m["layer"],
                "centrality": m["centrality"],
            }
            for mid, cols in self.columns.items()
            if (m := self.models.get(mid)) is not None
            for c in cols
            if term in c["name"].lower()
        ]
        rows.sort(key=lambda r: (-(r["centrality"] or 0.0), r["unique_id"], r["column_name"]))
        return rows[:limit]

    def find_by_path(self, path_pattern: str, *, limit: int = 20) -> list[dict]:
        """Twin of model_search.find_by_path: SQL LIKE over file_path,
        name-ordered."""
        rx = _like_regex(path_pattern)
        rows = [
            {k: m[k] for k in ("unique_id", "name", "layer", "file_path", "description")}
            for m in self.models.values()
            if m["file_path"] is not None and rx.fullmatch(m["file_path"])
        ]
        rows.sort(key=lambda r: (r["name"], r["unique_id"]))
        return rows[:limit]

    # -- serving surfaces (twins of the DataFrame operators; semantics
    # pinned by tests/test_local_serving.py and tests/test_server_parity.py)
    def _node(self, uid: str) -> tuple[str | None, str | None]:
        """(name, layer) of a DAG node, as lineage._enrich labels it."""
        if uid in self.models:
            return self.models[uid]["name"], self.models[uid]["layer"]
        if uid in self.sources:
            return self.sources[uid]["name"], "source"
        if uid in self.exposures:
            return self.exposures[uid]["name"], "exposure"
        return None, None

    def lineage(self, model_id: str, *, depth: int = 3, direction: str = "both") -> list[dict]:
        """Enriched lineage rows — twin of lineage.get_lineage."""
        if direction not in ("both", "upstream", "downstream"):
            raise ValueError(f"direction must be both/upstream/downstream, got {direction!r}")
        out = []
        dirs = ("upstream", "downstream") if direction == "both" else (direction,)
        for rel in dirs:
            for uid, dist in self.bfs([model_id], rel, depth):
                name, layer = self._node(uid)
                out.append({
                    "unique_id": uid,
                    "distance": dist,
                    "relationship": rel,
                    "name": name,
                    "layer": layer,
                    "kind": uid.split(".", 1)[0],
                })
        out.sort(key=lambda r: (r["relationship"], r["distance"], r["unique_id"]))
        return out

    def impact(self, model_id: str, *, depth: int = 5) -> dict:
        """Blast radius + risk — twin of lineage.get_impact_analysis."""
        hit = [u for u, _ in self.bfs([model_id], "downstream", depth)]
        models = sorted(u for u in hit if u.split(".", 1)[0] == "model")
        exposures = sorted(u for u in hit if u.split(".", 1)[0] == "exposure")
        mart_hit = any(self._node(u)[1] == "marts" for u in models)
        if exposures or (mart_hit and len(models) > 5):
            risk = "high"
        elif len(models) > 3 or mart_hit:
            risk = "medium"
        else:
            risk = "low"
        return {
            "node": model_id,
            "affected_models": models,
            "affected_exposures": exposures,
            "affected_tests": sorted(t["unique_id"] for u in hit for t in self.tests.get(u, ())),
            "risk": risk,
        }

    def antipatterns(self, rules: tuple[str, ...] | None = None) -> list[dict]:
        """``{rule, unique_id, name, layer}`` per violation, grouped by
        rule in RULES order — twin of antipatterns.detect_antipatterns."""
        from ariadne_dbt_spark.operators.antipatterns import RULES

        rules = tuple(rules) if rules else RULES
        rank = {"staging": 0, "intermediate": 1}  # any other layer ranks 2

        def violates(rule: str, uid: str, m: dict) -> bool:
            parents = self.parents.get(uid, ())
            if rule == "no_tests":
                return not self.tests.get(uid)
            if rule == "view_mart":
                return m["layer"] == "marts" and m["materialization"] == "view"
            if rule == "source_direct_to_mart":
                return m["layer"] == "marts" and any(p.startswith("source.") for p in parents)
            if rule == "layer_inversion":
                return any(
                    p in self.models
                    and rank.get(self.models[p]["layer"], 2) > rank.get(m["layer"], 2)
                    for p in parents
                )
            return not m["description"]  # undocumented

        return [
            {"rule": rule, "unique_id": uid, "name": m["name"], "layer": m["layer"]}
            for rule in RULES if rule in rules
            for uid, m in sorted(self.models.items())
            if violates(rule, uid, m)
        ]

    def patterns(self) -> dict:
        """Pattern bundle — twin of operators.patterns.extract_patterns."""
        from collections import Counter, defaultdict

        models = list(self.models.values())
        per_layer = Counter(m["layer"] for m in models)
        mats = defaultdict(Counter)
        for m in models:
            mats[m["layer"]][m["materialization"]] += 1
        materializations = {
            layer: min(c.most_common(), key=lambda kv: (-kv[1], kv[0]))[0]
            for layer, c in mats.items()
        }
        # dominant prefix: the name up to its first '_' (the whole name
        # when it has none, like split(name, '_')[0])
        prefixes = defaultdict(Counter)
        for m in models:
            prefixes[m["layer"]][(m["name"] or "").split("_", 1)[0]] += 1
        naming = {
            layer: min(c.most_common(), key=lambda kv: (-kv[1], kv[0]))[0]
            for layer, c in prefixes.items()
        }
        # example per layer: most columns, then longest description, then
        # lowest name
        best: dict[str, tuple] = {}
        for m in models:
            key = (
                -len(self.columns.get(m["unique_id"], ())),
                -len(m["description"] or ""),
                m["name"],
            )
            best[m["layer"]] = min(best.get(m["layer"], key), key)
        examples = {layer: key[2] for layer, key in best.items()}
        # coverage: distinct tested (model, column) pairs over column rows,
        # per layer that has columns
        per_layer_cols: Counter = Counter()
        per_layer_tested: Counter = Counter()
        for mid, ts in self.tests.items():
            if mid in self.models:
                per_layer_tested[self.models[mid]["layer"]] += len(
                    {t["column_name"] for t in ts if t["column_name"]}
                )
        for mid, cols in self.columns.items():
            if mid in self.models:
                per_layer_cols[self.models[mid]["layer"]] += len(cols)
        coverage = {
            layer: _round_half_up(100.0 * per_layer_tested[layer] / total)
            for layer, total in per_layer_cols.items()
        }
        tags = Counter()
        for m in models:
            for t in m["tags"] or ():
                tags[t] += 1
        top_tags = [
            (t, n)
            for t, n in sorted(tags.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        ]
        n_tests = sum(len(v) for v in self.tests.values())
        best_tested = None
        cand = [
            (-len({t["test_type"] for t in ts} - {None}), -len(ts), mid)
            for mid, ts in self.tests.items() if ts
        ]
        if cand:
            nt, n, mid = min(cand)
            best_tested = {"model_id": mid, "test_types": -nt, "tests": -n}
        return {
            "stats": {
                "models": len(models),
                "sources": len(self.sources),
                "tests": n_tests,
                "macros": len(self.macros),
                "exposures": len(self.exposures),
                "columns": sum(len(v) for v in self.columns.values()),
            },
            "models_per_layer": dict(per_layer),
            "materializations": materializations,
            "examples": examples,
            "naming": naming,
            "coverage": coverage,
            "top_tags": top_tags,
            "best_tested": best_tested,
        }

    def _select_pivots(
        self,
        task: str,
        intent: str,
        focus_model: str | None,
        entry_models: list[str] | None,
        entry_paths: list[str] | None,
        max_pivots: int,
    ) -> tuple[list[str], list[float], bool]:
        """Twin of CapsuleBuilder._select_pivots: explicit anchors first,
        then the task's top search hits."""
        pivots: list[str] = []
        explicit = False

        def add(uid: str):
            if uid not in pivots and len(pivots) < max_pivots:
                pivots.append(uid)

        for name in ([focus_model] if focus_model else []) + list(entry_models or []):
            for m in self.named(name):
                add(m["unique_id"])
                explicit = True
        for uid in self.resolve_paths(entry_paths or []):
            add(uid)
            explicit = True
        scores: list[float] = []
        if len(pivots) < max_pivots:
            remaining = max_pivots - len(pivots)
            hits = self.search(task, intent=intent, limit=remaining + 2, exclude_ids=pivots)
            scores = [h["score"] for h in hits]
            for h in hits[:remaining]:
                add(h["unique_id"])
        return pivots, scores, explicit

    def capsule(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        token_budget: int | None = None,
    ) -> dict:
        """Token-budgeted capsule — twin of CapsuleBuilder.build (same
        tier templates, budget fractions, break-vs-skip fill)."""
        from ariadne_dbt_spark.config import BUDGET_FRACTIONS
        from ariadne_dbt_spark.operators.capsule import (
            Capsule,
            detect_intent,
            estimate_tokens,
            full_context,
            greedy_fill,
            minimal_context,
            pivot_confidence,
            skeleton_context,
        )

        cfg = self.config
        budget = token_budget or cfg.token_budget
        intent = detect_intent(task)
        up_depth, down_depth = cfg.depths_for(intent)
        pivots, scores, explicit = self._select_pivots(
            task, intent, focus_model, entry_models, entry_paths, cfg.max_pivots
        )
        cap = Capsule(
            task=task, intent=intent, confidence=pivot_confidence(explicit, scores),
            token_budget=budget,
        )
        if not pivots:
            cap.patterns = self.patterns()
            cap.token_estimate = estimate_tokens(cap.to_dict())
            return cap.to_dict()

        up_ids = self.bfs(pivots, "upstream", up_depth) if up_depth > 0 else []
        up_ids = [(u, d) for u, d in up_ids if u.startswith("model.")]
        down_ids = self.bfs(pivots, "downstream", down_depth) if down_depth > 0 else []
        down_ids = [(u, d) for u, d in down_ids if u.startswith("model.")]

        alloc = {k: int(budget * v) for k, v in BUDGET_FRACTIONS.items()}
        cap.pivots = greedy_fill(
            [full_context(self.models[p], self.columns_with_tests(p))
             for p in pivots if p in self.models],
            alloc["pivot"], break_on_overflow=False,
        )
        cap.upstream = greedy_fill(
            [skeleton_context(self.models[u], self.columns_with_tests(u), d)
             for u, d in up_ids if u in self.models],
            alloc["upstream"], break_on_overflow=True,
        )
        cap.downstream = greedy_fill(
            [minimal_context(self.models[u], self.columns_with_tests(u), d)
             for u, d in down_ids if u in self.models],
            alloc["downstream"], break_on_overflow=True,
        )

        test_items, macro_items, source_items = [], [], []
        for p in pivots:
            test_items += [
                {k: t[k] for k in ("unique_id", "name", "test_type", "column_name")}
                for t in self.tests.get(p, ())
            ]
            macro_items += self.macros_used(p)
            source_items += self.direct_sources(p)
        half = alloc["tests_macros"] // 2
        cap.tests = greedy_fill(test_items, half, break_on_overflow=False)
        cap.macros = greedy_fill(macro_items, alloc["tests_macros"] - half, break_on_overflow=False)
        seen: set[str] = set()
        cap.sources = [
            s for s in source_items
            if not (s["unique_id"] in seen or seen.add(s["unique_id"]))
        ]
        wanted = set(pivots) | {u for u, _ in up_ids} | {u for u, _ in down_ids}
        sim = self.search(task, intent=intent, limit=5, exclude_ids=list(wanted))
        cap.similar_models = [r["name"] for r in sim]
        pat = self.patterns()
        cap.patterns = pat if estimate_tokens(pat) <= alloc["patterns"] else {"stats": pat["stats"]}
        cap.token_estimate = estimate_tokens(cap.to_dict())
        return cap.to_dict()

    def discover(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        limit: int = 40,
    ) -> list[dict]:
        """Names-only orientation list — twin of CapsuleBuilder.discover
        (same pivot seeding, depth-4 DAG labels, search fill labeled
        ``search``; reference: capsule.py:432-501)."""
        from ariadne_dbt_spark.operators.capsule import detect_intent

        limit = max(1, min(int(limit), self.config.discover_limit))
        intent = detect_intent(task)
        pivots, _, _ = self._select_pivots(
            task, intent, focus_model, entry_models, entry_paths, max_pivots=5
        )
        out: list[dict] = []
        seen: set[str] = set()

        def add(uid: str, rel: str, dist: int):
            m = self.models.get(uid)
            if uid in seen or len(out) >= limit or m is None:
                return
            seen.add(uid)
            out.append(
                {
                    "unique_id": uid,
                    "name": m["name"],
                    "layer": m["layer"] or "other",
                    "file_path": m["file_path"] or "",
                    "relationship": rel,
                    "distance": dist,
                }
            )

        for p in pivots:
            add(p, "pivot", 0)
        for direction in ("upstream", "downstream"):
            if len(out) >= limit:
                break
            for uid, dist in self.bfs(pivots, direction, 4):
                if uid.startswith("model."):
                    add(uid, direction, dist)
        if len(out) < limit:
            for h in self.search(task, intent=intent, limit=limit - len(out), exclude_ids=list(seen)):
                add(h["unique_id"], "search", -1)
        return out


def _round_half_up(x: float) -> float:
    """Spark's ``round(x, 1)`` on a double: HALF_UP on its decimal form
    (Python's ``round`` rounds half to even on the binary value)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.1"), rounding=ROUND_HALF_UP))


def _like_regex(pattern: str) -> re.Pattern:
    """A SQL LIKE pattern as a full-match regex, with Spark's rules: ``%``
    any run, ``_`` any one character, ``\\`` escapes ``%``, ``_`` or
    itself and nothing else."""
    out, chars = [], iter(pattern)
    for ch in chars:
        if ch == "\\":
            nxt = next(chars, None)
            if nxt is None:
                raise ValueError(f"LIKE pattern ends with the escape character: {pattern!r}")
            if nxt not in ("%", "_", "\\"):
                raise ValueError(f"the LIKE escape character may not precede {nxt!r}")
            out.append(re.escape(nxt))
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("".join(out), re.DOTALL)
