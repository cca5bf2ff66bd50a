"""Every ToolServer read tool answers from the driver-local snapshot
(operators/local_cache.py). Its full answer must equal what the
DataFrame operators return for the same arguments on the fixture index,
tool by tool — this is what keeps the served answers pinned to the
Spark path. Also: a read session launches no Spark job, and
refresh_index leaves the new snapshot built."""

from __future__ import annotations

import pytest
from conftest import MANIFEST
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators.antipatterns import RULES, detect_antipatterns
from ariadne_dbt_spark.operators.capsule import CapsuleBuilder
from ariadne_dbt_spark.operators.graph import neighbors
from ariadne_dbt_spark.operators.lineage import get_impact_analysis, get_lineage
from ariadne_dbt_spark.operators.model_search import (
    columns_with_tests,
    coverage_stats,
    direct_sources,
    find_by_column,
    find_by_path,
    get_model_by_id,
    get_model_by_name,
    macros_used,
    search_models,
)
from ariadne_dbt_spark.operators.patterns import extract_patterns
from ariadne_dbt_spark.server import ToolServer

# -- the same tools, answered by the DataFrame operators ----------------------
def _rows(df):
    return [r.asDict() for r in df.collect()]


def _model_details(index, model_name):
    row = get_model_by_name(index, model_name).first() or get_model_by_id(
        index, model_name
    ).first()
    if row is None:
        return {"error": f"model not found: {model_name}. "
                "Use search_models to find similar names."}
    uid = row.unique_id
    names = {r.unique_id: r.name for r in index.models.select("unique_id", "name").collect()}
    nbrs = neighbors(index.edges, uid).collect()
    return {
        "model": {k: row[k] for k in (
            "unique_id", "name", "layer", "materialization", "description",
            "file_path", "upstream_count", "downstream_count", "centrality")},
        "compiled_sql": row["compiled_code"] or row["raw_code"] or "",
        "columns": _rows(columns_with_tests(index, uid)),
        "tests": _rows(index.tests.where(F.col("model_id") == uid)
                       .select("unique_id", "name", "test_type", "column_name")),
        "upstream": sorted(names[r.unique_id] for r in nbrs
                           if r.relationship == "upstream" and r.unique_id in names),
        "downstream": sorted(names[r.unique_id] for r in nbrs
                             if r.relationship == "downstream" and r.unique_id in names),
        "coverage": coverage_stats(index, uid),
        "macros": _rows(macros_used(index, uid)),
        "sources": _rows(direct_sources(index, uid)),
    }


def _uid(index, model_name):
    row = get_model_by_name(index, model_name).first()
    return row and row.unique_id


def _lineage(index, model_name, depth=3, direction="both"):
    uid = _uid(index, model_name)
    if uid is None:
        return {"error": f"model not found: {model_name}"}
    return {"lineage": _rows(get_lineage(index, uid, depth=max(1, min(depth, 10)),
                                         direction=direction))}


def _impact(index, model_name, depth=5):
    uid = _uid(index, model_name)
    if uid is None:
        return {"error": f"model not found: {model_name}"}
    return get_impact_analysis(index, uid, depth=min(depth, 10))


def _antipatterns(index, rules=None):
    wanted = tuple(r for r in (rules or RULES) if r in RULES)
    rows = _rows(detect_antipatterns(index, wanted))
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["rule"]] = counts.get(r["rule"], 0) + 1
    return {"rules": list(wanted), "counts": counts, "violations": rows}


SPARK_TOOLS = {
    "search_models": lambda index, query, limit=10, layer=None, intent="explore": {
        "results": _rows(search_models(index, query, intent=intent,
                                       limit=max(1, min(limit, 50)), layer=layer))},
    "get_model_details": _model_details,
    "get_lineage": _lineage,
    "get_impact_analysis": _impact,
    "discover_models": lambda index, task, **kw: {
        "models": CapsuleBuilder(index).discover(task, **kw)},
    "get_context_capsule": lambda index, task, **kw: CapsuleBuilder(index).build(
        task, **kw).to_dict(),
    "get_project_patterns": lambda index: extract_patterns(index),
    "find_models_by_column": lambda index, column_name, limit=20: (
        lambda rs: {"column_name": column_name, "count": len(rs), "results": rs}
    )(_rows(find_by_column(index, column_name, limit=limit))),
    "find_models_by_path": lambda index, path_pattern, limit=20: (
        lambda rs: {"path_pattern": path_pattern, "count": len(rs), "results": rs}
    )(_rows(find_by_path(index, path_pattern, limit=limit))),
    "detect_antipatterns": _antipatterns,
}

CASES = [
    ("search_models", {"query": "customer orders"}),
    ("search_models", {"query": "payment", "intent": "debug", "limit": 3}),
    ("search_models", {"query": "orders", "layer": "staging", "limit": 2}),
    ("search_models", {"query": "cust"}),  # no term hit: LIKE fallback
    ("search_models", {"query": "zzz no such words"}),
    ("get_model_details", {"model_name": "fct_orders"}),
    ("get_model_details", {"model_name": "STG_ORDERS"}),
    ("get_model_details", {"model_name": "model.webshop.dim_customers"}),
    ("get_model_details", {"model_name": "no_such_model"}),
    ("get_lineage", {"model_name": "stg_orders"}),
    ("get_lineage", {"model_name": "fct_orders", "depth": 1, "direction": "upstream"}),
    ("get_lineage", {"model_name": "dim_customers", "direction": "downstream"}),
    ("get_lineage", {"model_name": "no_such_model"}),
    ("get_impact_analysis", {"model_name": "stg_orders"}),
    ("get_impact_analysis", {"model_name": "stg_customers", "depth": 1}),
    ("get_impact_analysis", {"model_name": "dim_customers"}),
    ("discover_models", {"task": "debug revenue order totals"}),
    ("discover_models", {"task": "add a column", "focus_model": "fct_orders"}),
    ("discover_models", {"task": "explore payments", "entry_models": ["stg_payments"],
                         "limit": 3}),
    ("discover_models", {"task": "document",
                         "entry_paths": ["models/staging/stg_customers.sql"]}),
    ("get_context_capsule", {"task": "debug failing test on orders", "token_budget": 8000}),
    ("get_context_capsule", {"task": "add a new revenue metric", "focus_model": "fct_orders"}),
    ("get_context_capsule", {"task": "refactor staging",
                             "entry_paths": ["models/staging/stg_payments.sql"],
                             "token_budget": 1500}),
    ("get_context_capsule", {"task": "zzz no such words"}),
    ("get_project_patterns", {}),
    ("find_models_by_column", {"column_name": "order_id"}),
    ("find_models_by_column", {"column_name": "ID", "limit": 3}),
    ("find_models_by_column", {"column_name": "zzz"}),
    ("find_models_by_path", {"path_pattern": "models/staging/%"}),
    ("find_models_by_path", {"path_pattern": "%orders%", "limit": 1}),
    ("find_models_by_path", {"path_pattern": "models/_arts/%.sql"}),
    ("detect_antipatterns", {}),
    ("detect_antipatterns", {"rules": ["undocumented", "no_tests"]}),
]


def _canon(x):
    """Floats to 9 places: the two paths sum BM25 terms in different
    orders, so scores may differ in the last bits."""
    if isinstance(x, float):
        return round(x, 9)
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_canon(v) for v in x]
    return x


def _unordered(tool, out):
    """Sort the lists the DataFrame operators return in no defined order:
    join output (direct sources), the rows of one model that tie in a
    find-by-column ranking, and the union of anti-pattern rules."""
    def by_uid(rows):
        return sorted(rows, key=lambda r: r["unique_id"])

    if tool == "get_model_details" and "sources" in out:
        out["sources"] = by_uid(out["sources"])
    if tool == "get_context_capsule":
        out["sources"] = by_uid(out["sources"])
    if tool == "find_models_by_column":
        out["results"].sort(key=lambda r: (-r["centrality"], r["unique_id"], r["column_name"]))
    if tool == "detect_antipatterns":
        out["violations"].sort(key=lambda r: (RULES.index(r["rule"]), r["unique_id"]))
    return out


@pytest.fixture(scope="module")
def server(index):
    return ToolServer(index)


@pytest.mark.parametrize("tool,args", CASES, ids=[f"{t}-{i}" for i, (t, _) in enumerate(CASES)])
def test_served_answer_equals_dataframe_operators(index, server, tool, args):
    resp = server.handle({"id": 1, "tool": tool, "args": dict(args)})
    assert resp["status"] == "ok", resp
    want = SPARK_TOOLS[tool](index, **args)
    assert _canon(_unordered(tool, resp["result"])) == _canon(_unordered(tool, want))


def test_every_read_tool_has_a_parity_case():
    assert {t for t, _ in CASES} == set(SPARK_TOOLS)
    assert set(SPARK_TOOLS) == set(ToolServer.TOOLS) - {
        "refresh_index", "usage_stats", "rate_capsule"}


def test_read_session_runs_no_spark_job_and_refresh_builds_snapshot(spark):
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    server = ToolServer(AriadneIndex.build(spark, MANIFEST))
    sc = spark.sparkContext
    group = "test-server-read-session"
    sc.setJobGroup(group, "read session")
    try:
        for tool, args in CASES:
            assert server.handle({"tool": tool, "args": dict(args)})["status"] == "ok"
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    resp = server.handle({"tool": "refresh_index", "args": {"manifest_path": MANIFEST}})
    assert resp["result"]["models"] == 5
    assert server.index._local is not None
