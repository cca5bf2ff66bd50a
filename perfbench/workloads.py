"""The workloads. Each is a closed loop driven by one client thread: the
next operation starts when the previous reply has arrived.

A workload returns a ``Run``: the timed operations, the wall time of each
repeated unit (a serving episode, a batch pass), the set-up timings and the
verdict of every correctness check. No check runs inside the measured
window: answers are kept and checked afterwards.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import gen

#: the agent session template, in call order. get_project_patterns is left
#: out: get_context_capsule runs extract_patterns on every call, so the
#: pattern layer is measured, and its answer checked, inside the capsule
TEMPLATE = (
    "search_models",
    "get_lineage",
    "find_models_by_column",
    "get_context_capsule",
    "detect_antipatterns",
)
TOKEN_BUDGET = 8000
REFRESHES = 2  # refresh rounds per serve_refresh episode
#: the read after each refresh: search is the read whose plan grows with
#: every refresh (the postings become a longer union chain); lineage reads
#: the edge table, which a refresh replaces whole
BURST = ("search_models",)
#: registry rows that make up each batch step, in run order
BATCH_STEPS = (
    ("dbt_build", ("dbt_run_dim_customers", "dbt_test_results", "dbt_run_incremental")),
    ("lakehouse", ("table_merge_upsert", "incremental_agg_view")),
    ("corpus_build", ("corpus_build_pipeline",)),
)
SETUP_REPS = 3


@dataclass
class Run:
    ops: list[dict] = field(default_factory=list)
    units: list[float] = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    checks: list[dict] = field(default_factory=list)
    #: operations whose first answer is damaged before it is checked
    #: (smoke test of the checker)
    corrupt_pending: set = field(default_factory=set)
    #: answers accepted only because BM25-tied documents traded places
    tie_answers: int = 0
    #: wall time of the checks after the window (not part of any metric)
    checks_s: float = 0.0


class Client:
    """Times operations; with a tracer, each operation is a root span."""

    def __init__(self, ctx, tracer=None):
        self.tracer = tracer
        self.run = Run(corrupt_pending=set(ctx.corrupt))

    def op(self, kind: str, name: str, fn, *args, **kwargs) -> dict:
        span = self.tracer.begin(name, op=len(self.run.ops)) if self.tracer else None
        t0 = time.perf_counter()
        try:
            out, err = fn(*args, **kwargs), None
        except Exception as e:  # noqa: BLE001 — an erroring op counts as failed
            out, err = None, f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        if span:
            self.tracer.end(span)
        rec = {"kind": kind, "name": name, "ms": (t1 - t0) * 1000, "out": out,
               "error": err, "span": span["id"] if span else None}
        self.run.ops.append(rec)
        return rec

    def end_window(self) -> None:
        """Stop tracing: the checks after the window are not traced."""
        if self.tracer:
            self.tracer.uninstall()


def _median_time(fn, reps: int = SETUP_REPS):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), times, out


# -- serving ------------------------------------------------------------------
def _build_index(spark, ctx, man: dict, name: str):
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    path = os.path.join(ctx.work, name)
    with open(path, "w") as f:
        json.dump(man, f)
    return AriadneIndex.build(spark, path)


def _serve_setup(spark, ctx, client: Client):
    """Input generation and index build, SETUP_REPS times (median kept),
    then the warm-up: the driver-local snapshot of the index, which is
    also the answer every read is checked against."""

    def once():
        man = gen.manifest(ctx.seed, ctx.sizes["models"])
        return man, _build_index(spark, ctx, man, "manifest_0.json")

    med, reps, (man, index) = _median_time(once)
    t0 = time.perf_counter()
    cache = index.local()
    warm = time.perf_counter() - t0
    client.run.setup.update(build_s=med, build_reps_s=reps, warmup_s=warm)
    return man, index, cache


def _call(client: Client, server, tool: str, args: dict, kind: str = "read") -> dict:
    def handle():
        resp = server.handle({"tool": tool, "args": args})
        if resp.get("status") != "ok" or "error" in (resp.get("result") or {}):
            raise RuntimeError(str(resp)[:300])
        return resp["result"]

    rec = client.op(kind, tool, handle)
    rec["args"] = args
    return rec


def session_calls(a: dict, tools=TEMPLATE) -> list[tuple[str, dict]]:
    by_tool = {
        "search_models": {"query": a["query"]},
        "get_lineage": {"model_name": a["lineage_model"], "depth": 3},
        "find_models_by_column": {"column_name": a["column"]},
        "get_context_capsule": {"task": a["task"], "focus_model": a["focus_model"],
                                "token_budget": TOKEN_BUDGET},
        "detect_antipatterns": {},
    }
    return [(tool, by_tool[tool]) for tool in tools]


def serve_refresh(spark, ctx, tracer=None) -> Run:
    """One episode: the template session on the freshly built index, then
    REFRESHES rounds of refresh_index on a churn manifest, each followed by
    the BURST reads. Episodes restart from the base index until the window
    ends."""
    from ariadne_dbt_spark.operators.local_cache import LocalIndexCache
    from ariadne_dbt_spark.server import ToolServer

    client = Client(ctx, tracer)
    base_man, base_index, base_cache = _serve_setup(spark, ctx, client)
    # churn manifests and their truth are inputs: made before the window
    mans, paths, truths = [base_man], [None], [None]
    for k in range(1, REFRESHES + 1):
        m, truth = gen.churn(ctx.seed, mans[-1], k, share=ctx.sizes["churn_share"])
        paths.append(os.path.join(ctx.work, f"manifest_{k}.json"))
        with open(paths[k], "w") as f:
            json.dump(m, f)
        mans.append(m)
        truths.append(truth)
    t_end = time.perf_counter() + ctx.seconds
    episode = 0
    while not client.run.units or time.perf_counter() < t_end:
        server = ToolServer(base_index)
        t0 = time.perf_counter()
        a = gen.session_args(ctx.seed * 7919 + episode, base_man)
        for tool, args in session_calls(a):
            _call(client, server, tool, args).update(refresh=0, unit=episode)
        for k in range(1, REFRESHES + 1):
            rec = _call(client, server, "refresh_index", {"manifest_path": paths[k]},
                        kind="refresh")
            rec.update(refresh=k, truth=truths[k], unit=episode)
            a = gen.session_args(ctx.seed * 7919 + episode * 31 + k, mans[k])
            for tool, args in session_calls(a, BURST):
                _call(client, server, tool, args).update(refresh=k, unit=episode)
        client.run.units.append(time.perf_counter() - t0)
        episode += 1
    client.end_window()
    # -- checks, outside the window: reads after refresh k against a
    # from-scratch build on manifest k
    t_checks = time.perf_counter()
    caches = {0: base_cache}
    for k in range(1, REFRESHES + 1):
        fresh = _build_index(spark, ctx, mans[k], f"fresh_{k}.json")
        caches[k] = LocalIndexCache.from_index(fresh)
    for rec in client.run.ops:
        if rec["kind"] == "refresh":
            check_refresh(client.run, rec)
        else:
            check_read(client.run, caches[rec["refresh"]], rec)
    client.run.checks_s = time.perf_counter() - t_checks
    return client.run


# -- read checks ----------------------------------------------------------------
#: verdict of an answer that matches once BM25 ties are allowed to trade places
TIE = "equal up to BM25 ties"


def _verdict(run: Run, rec: dict, problem: str | None) -> None:
    if problem == TIE:
        run.tie_answers += 1
        problem = None
    rec["ok"] = problem is None
    run.checks.append({"op": len(run.checks), "name": rec["name"], "ok": rec["ok"],
                       "problem": problem})


def check_read(run: Run, cache, rec: dict) -> None:
    if rec["error"] is not None:
        return _verdict(run, rec, rec["error"])
    out = rec["out"]
    if rec["name"] in run.corrupt_pending:
        run.corrupt_pending.discard(rec["name"])
        out = json.loads(json.dumps(out, default=str))
        _corrupt(out)
    try:
        problem = READ_CHECKS[rec["name"]](cache, rec["args"], out)
    except Exception as e:  # noqa: BLE001 — a malformed answer fails its check
        problem = f"check raised {type(e).__name__}: {e}"
    _verdict(run, rec, problem)


def _corrupt(out: dict) -> None:
    """Damage one answer (smoke test of the checker): drop the last item
    of its longest list. A dropped anti-pattern violation is also taken
    out of the counts, so that the report stays consistent with itself."""
    lists = [k for k, v in out.items() if isinstance(v, list) and v]
    if not lists:
        out["__corrupted__"] = True
        return
    key = max(lists, key=lambda k: len(out[k]))
    dropped = out[key].pop()
    if key == "violations":
        counts = out["counts"]
        counts[dropped["rule"]] -= 1
        if not counts[dropped["rule"]]:
            del counts[dropped["rule"]]


def _eq(label, got, want):
    if got == want:
        return None
    if isinstance(got, list) and isinstance(want, list):
        i = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
        return (f"{label}: first difference at {i} of {len(got)}/{len(want)}: "
                f"got {str(got[i:i + 2])[:300]} want {str(want[i:i + 2])[:300]}")
    return f"{label}: got {str(got)[:300]} want {str(want)[:300]}"


def _bm25_ties(cache, query: str, cut: int) -> set[str]:
    """Documents whose BM25 score equals, to 1e-9 relative, the score at
    the search's candidate cut. Which of them make the cut depends on the
    last bit of a floating-point sum, and the Spark and driver-local paths
    sum in different orders, so either choice is a right answer."""
    raw = cache.bm25(query)
    ranked = sorted(raw.items(), key=lambda kv: (-kv[1], kv[0]))
    if len(ranked) <= cut:
        return set()
    edge = ranked[cut - 1][1]
    return {u for u, v in raw.items() if abs(v - edge) <= 1e-9 * max(1.0, abs(edge))}


def _same_up_to_ties(got: list, want: list, ties: set) -> bool:
    """Equal, or differing only in which tied documents were kept."""
    if len(got) != len(want) or not (set(got) ^ set(want)) <= ties:
        return False
    return [u for u in got if u not in ties] == [u for u in want if u not in ties]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def _score_runs(hits: list) -> list[list]:
    """Ranked (uid, score) hits cut into runs of equal (to 1e-9) scores."""
    runs: list[list] = []
    for u, v in hits:
        if runs and _close(runs[-1][-1][1], v):
            runs[-1].append((u, v))
        else:
            runs.append([(u, v)])
    return runs


def _check_search(cache, args, out):
    got = [(r["unique_id"], r["score"]) for r in out["results"]]
    want = [(h["unique_id"], h["score"])
            for h in cache.search(args["query"], intent="explore", limit=10)]
    if [u for u, _ in got] == [u for u, _ in want] and \
            all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return None
    # the order inside a run of equal scores is a tie-break, and so is the
    # choice among the last run's members at the limit
    g_runs, w_runs = _score_runs(got), _score_runs(want)
    g = [x for run in g_runs for x in sorted(run)]
    w = [x for run in w_runs for x in sorted(run)]
    cut_ties = _bm25_ties(cache, args["query"], 4 * 10)
    tail = {u for u, _ in g_runs[-1] + w_runs[-1]} if g_runs and w_runs else set()
    # a document let in by a BM25 tie may score anything; every other rank
    # must score the same
    g_rest = [x for x in g if x[0] not in cut_ties]
    w_rest = [x for x in w if x[0] not in cut_ties]
    if _same_up_to_ties([u for u, _ in g], [u for u, _ in w], cut_ties | tail) and \
            len(g_rest) == len(w_rest) and \
            all(_close(a[1], b[1]) for a, b in zip(g_rest, w_rest)):
        return TIE
    return _eq("search", got, want)


def _check_lineage(cache, args, out):
    if set(out) != {"lineage"}:
        return f"lineage: unexpected keys {sorted(out)}"
    uid = cache.by_name(args["model_name"])["unique_id"]
    got = [(r["unique_id"], r["distance"], r["relationship"]) for r in out["lineage"]]
    want = [(r["unique_id"], r["distance"], r["relationship"])
            for r in cache.lineage(uid, depth=args["depth"])]
    return _eq("lineage", got, want)


def _check_column(cache, args, out):
    term, limit = args["column_name"].lower(), 20
    keys = sorted(
        ((-(cache.models[mid]["centrality"] or 0.0), mid)
         for mid, cols in cache.columns.items() for c in cols
         if term in c["name"].lower() and mid in cache.models),
    )[:limit]
    got = sorted(r["unique_id"] for r in out["results"])
    if any(term not in r["column_name"].lower() for r in out["results"]):
        return "find_models_by_column: a returned column does not match"
    return _eq("find_models_by_column", got, sorted(m for _, m in keys)) or (
        None if out["count"] == len(out["results"]) else "count != len(results)")


def _ids(items):
    return [x["unique_id"] for x in items]


def _rank_keys(cache, query: str, intent: str):
    """uid -> the inputs of its search rerank score (BM25, centrality, layer
    boost, name bonus). Hits with equal inputs score the same in any
    candidate pool, so their order is a tie-break."""
    from ariadne_dbt_spark.config import LAYER_BOOSTS

    raw, q = cache.bm25(query), query.lower().strip()
    boosts = LAYER_BOOSTS.get(intent, LAYER_BOOSTS["explore"])

    def key(uid):
        m = cache.models[uid]
        return (round(raw.get(uid, 0.0), 9), m["centrality"] or 0.0,
                boosts.get(m["layer"], 0.0), bool(q) and q in (m["name"] or "").lower())
    return key


def _tied_lists(cache, query: str, intent: str, got: list, want: list, cut: int) -> bool:
    """Two ranked uid lists from one search that differ only by ties: at
    each rank the same document or one with equal rerank inputs, or only
    in which BM25-tied documents made the candidate cut."""
    if None in got or len(got) != len(want):
        return False
    key = _rank_keys(cache, query, intent)
    return all(g == w or key(g) == key(w) for g, w in zip(got, want)) or \
        _same_up_to_ties(got, want, _bm25_ties(cache, query, cut))


def _check_capsule(cache, args, out):
    lo = cache.capsule(args["task"], focus_model=args["focus_model"],
                       token_budget=args["token_budget"])
    tie = None
    got, want = _ids(out["pivots"]), _ids(lo["pivots"])
    if got != want:
        # after the focus model, the pivots are the task's top search hits
        # (4 asked for, so cut at 16 candidates)
        if got[:1] != want[:1] or not _tied_lists(
                cache, args["task"], lo["intent"], got[1:], want[1:], 4 * 4):
            return _eq("capsule pivots", got, want)
        # rebuild the local capsule around the pivots the engine chose
        lo = cache.capsule(args["task"], focus_model=args["focus_model"],
                           entry_models=[cache.models[u]["name"] for u in got[1:]],
                           token_budget=args["token_budget"])
        tie = TIE
    for key in ("intent", "confidence"):
        if out[key] != lo[key]:
            return _eq(f"capsule {key}", out[key], lo[key])
    for section in ("pivots", "upstream", "downstream", "tests", "sources"):
        if _ids(out[section]) != _ids(lo[section]):
            return _eq(f"capsule {section}", _ids(out[section]), _ids(lo[section]))
    if out["token_estimate"] > 1.2 * args["token_budget"]:
        return f"capsule token_estimate {out['token_estimate']} > 1.2 x {args['token_budget']}"
    if "examples" in lo["patterns"] and (problem := _check_patterns(cache, out["patterns"])):
        return problem
    if out["similar_models"] == lo["similar_models"]:
        return tie
    # similar models: a 5-hit search over the task, cut at 4 x 5 candidates
    uid = {m["name"]: u for u, m in cache.models.items()}
    if _tied_lists(cache, args["task"], lo["intent"],
                   [uid.get(n) for n in out["similar_models"]],
                   [uid[n] for n in lo["similar_models"]], 4 * 5):
        return TIE
    return _eq("capsule similar_models", out["similar_models"], lo["similar_models"])


def _examples(cache) -> dict:
    """Example model per layer by its documented rule: the most columns,
    then the longest description, then the lowest name. Computed here, not
    taken from ``LocalIndexCache.patterns()``: its tie-break on names
    (``_neg_name``) picks the longer of two names when one is a prefix of
    the other (``dim_x_4`` vs ``dim_x_48``), contrary to that rule."""
    best: dict[str, tuple] = {}
    for uid, m in cache.models.items():
        key = (-len(cache.columns.get(uid, ())), -len(m["description"] or ""), m["name"])
        best[m["layer"]] = min(best.get(m["layer"], key), key)
    return {layer: key[2] for layer, key in best.items()}


def _check_patterns(cache, out):
    lo = dict(cache.patterns(), examples=_examples(cache))
    for key in ("models_per_layer", "materializations", "examples", "naming",
                "coverage", "top_tags", "best_tested"):
        if out[key] != lo[key]:
            return _eq(f"patterns {key}", out[key], lo[key])
    return _eq("patterns stats",
               {k: out["stats"][k] for k in ("models", "sources", "tests", "macros",
                                             "exposures", "columns")},
               lo["stats"])


def _antipatterns(cache) -> list[tuple]:
    """(rule, unique_id, name, layer) of every violation of the five rules
    documented in ``operators/antipatterns.py``, computed here from the
    driver-local snapshot of the index."""
    rank = {"staging": 0, "intermediate": 1}  # any other layer ranks 2
    out = []
    for uid, m in cache.models.items():
        parents = cache.parents.get(uid, ())
        rules = {
            "no_tests": not cache.tests.get(uid),
            "view_mart": m["layer"] == "marts" and m["materialization"] == "view",
            "source_direct_to_mart": m["layer"] == "marts" and
            any(p.startswith("source.") for p in parents),
            "layer_inversion": any(
                p in cache.models and
                rank.get(cache.models[p]["layer"], 2) > rank.get(m["layer"], 2)
                for p in parents),
            "undocumented": not m["description"],
        }
        out += [(rule, uid, m["name"], m["layer"]) for rule, hit in rules.items() if hit]
    return sorted(out)


def _check_antipatterns(cache, args, out):
    from ariadne_dbt_spark.operators.antipatterns import RULES

    want = _antipatterns(cache)
    counts: dict[str, int] = {}
    for rule, *_ in want:
        counts[rule] = counts.get(rule, 0) + 1
    got = sorted((v["rule"], v["unique_id"], v["name"], v["layer"]) for v in out["violations"])
    return (_eq("antipatterns rules", out["rules"], list(RULES))
            or _eq("antipatterns violations", got, want)
            or _eq("antipatterns counts", out["counts"], counts))


READ_CHECKS = {
    "search_models": _check_search,
    "get_lineage": _check_lineage,
    "find_models_by_column": _check_column,
    "get_context_capsule": _check_capsule,
    "detect_antipatterns": _check_antipatterns,
}


def check_refresh(run: Run, rec: dict) -> None:
    """The refresh re-tokenized exactly the documents the generator changed."""
    if rec["error"] is not None:
        return _verdict(run, rec, rec["error"])
    delta, truth = rec["out"]["delta"], rec["truth"]
    want_changed = len(truth["changed"]) + len(truth["added"])
    rec["retokenized"], rec["truth_changed"] = delta["changed"], want_changed
    _verdict(run, rec, _eq("refresh delta",
                           (delta["changed"], delta["removed"]),
                           (want_changed, len(truth["removed"]))))


# -- batch ----------------------------------------------------------------------
def batch_build(spark, ctx, tracer=None) -> Run:
    import importlib

    from ariadne_dbt_spark.workloads import REGISTRY

    for mod in ("dbt_pipeline", "olap_ext", "dedup"):
        importlib.import_module(f"ariadne_dbt_spark.workloads.{mod}")
    client = Client(ctx, tracer)
    sf_dir = os.path.join(ctx.work, "tables")

    def make_tables():
        gen.batch_tables(ctx.seed, sf_dir, ctx.sizes["orders"])

    med, reps, _ = _median_time(make_tables)
    t0 = time.perf_counter()
    # warm-up: one scan, shuffle and aggregate over the largest input
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .groupBy("l_returnflag").count().collect()
    client.run.setup.update(build_s=med, build_reps_s=reps,
                            warmup_s=time.perf_counter() - t0)

    t_end = time.perf_counter() + ctx.seconds
    unit = 0
    while not client.run.units or time.perf_counter() < t_end:
        t_pass = time.perf_counter()
        for step, rows in BATCH_STEPS:
            def run_step(rows=rows):
                out = []
                for name in rows:
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    data = df.collect()  # the full result, never count()
                    out.append({"name": name, "columns": df.columns, "rows": data,
                                "construct_ms": (t1 - t0) * 1000,
                                "catalyst_ms": catalyst_ms(df)})
                return out

            client.op("step", step, run_step)["unit"] = unit
        client.run.units.append(time.perf_counter() - t_pass)
        unit += 1
    client.end_window()
    # -- checks: every registry row against its DuckDB oracle
    t_checks = time.perf_counter()
    con = oracle_connection(sf_dir)
    oracle_rows: dict[str, tuple] = {}
    for rec in client.run.ops:
        if rec["error"] is not None:
            _verdict(client.run, rec, rec["error"])
            continue
        problems = []
        for part in rec["out"]:
            name = part["name"]
            if name not in oracle_rows:
                cur = con.execute(REGISTRY[name].oracle)
                oracle_rows[name] = ([d[0] for d in cur.description], cur.fetchall())
            rows = [tuple(r) for r in part["rows"]]
            if rec["name"] in client.run.corrupt_pending and rows:
                client.run.corrupt_pending.discard(rec["name"])
                rows = rows[1:]
            p = compare_rows(name, part["columns"], rows, *oracle_rows[name])
            if p:
                problems.append(p)
        _verdict(client.run, rec, "; ".join(problems) or None)
    con.close()
    client.run.checks_s = time.perf_counter() - t_checks
    return client.run


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the frame's own query."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v):
    import datetime
    import math
    from decimal import Decimal

    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, list):
        return ("l", tuple(_canon(x) for x in v))
    return v


def _multiset(rows, cols) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict = {}
    for r in rows:
        key = tuple(_canon(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def compare_rows(name, scols, srows, ocols, orows) -> str | None:
    """Exact, order-insensitive comparison (the oracle gate's rule)."""
    if sorted(scols) != sorted(ocols):
        return f"{name}: columns {sorted(scols)} vs {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"{name}: row count {len(srows)} vs {len(orows)}"
    if _multiset(srows, scols) != _multiset(orows, ocols):
        return f"{name}: values differ"
    return None


WORKLOADS = {
    "serve_refresh": serve_refresh,
    "batch_build": batch_build,
}
