"""The driver-local serving path (LocalIndexCache) must reproduce the
DataFrame operators' results exactly — it is the latency mitigation for
the reference's interactive P95 targets (BASELINE.md), so its semantics
are pinned here against the Spark path on the fixture index."""

from __future__ import annotations

import pytest

from ariadne_dbt_spark.operators.capsule import CapsuleBuilder
from ariadne_dbt_spark.operators.lineage import get_lineage
from ariadne_dbt_spark.operators.model_search import search_models
from ariadne_dbt_spark.operators.patterns import extract_patterns


@pytest.fixture(scope="module")
def cache(index):
    return index.local()


def test_local_search_matches_spark(index, cache):
    for query, intent in (("customer orders", "explore"), ("payment", "debug")):
        spark_hits = [
            (r.unique_id, round(r.score, 9))
            for r in search_models(index, query, intent=intent, limit=10).collect()
        ]
        local_hits = [
            (h["unique_id"], round(h["score"], 9))
            for h in cache.search(query, intent=intent, limit=10)
        ]
        assert spark_hits == local_hits


def test_local_lineage_matches_spark(index, cache):
    mid = "model.webshop.stg_orders"
    spark_rows = [
        (r.unique_id, r.distance, r.relationship)
        for r in get_lineage(index, mid, depth=3).collect()
    ]
    local_rows = [
        (r["unique_id"], r["distance"], r["relationship"])
        for r in cache.lineage(mid, depth=3)
    ]
    assert spark_rows == local_rows


def test_local_patterns_match_spark(index, cache):
    assert cache.patterns() == extract_patterns(index)


def test_example_model_tie_breaks_on_lowest_name():
    """Most columns, then longest description, then the LOWEST name —
    also when one name is a prefix of the other."""
    from ariadne_dbt_spark.operators.local_cache import LocalIndexCache

    def model(name):
        return {"unique_id": f"model.p.{name}", "name": name, "layer": "intermediate",
                "materialization": "view", "description": "same", "tags": []}

    cache = LocalIndexCache()
    for name in ("int_campaigns_81", "int_campaigns_8"):
        cache.models[f"model.p.{name}"] = model(name)
        cache.columns[f"model.p.{name}"] = [{"name": "id"}]
    assert cache.patterns()["examples"] == {"intermediate": "int_campaigns_8"}


def test_snapshot_honours_index_config(spark):
    """A non-default EngineConfig changes the snapshot's answers exactly
    as it changes the DataFrame operators'."""
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from conftest import MANIFEST

    cfg = EngineConfig(search_limit_cap=2, description_truncate=12, discover_limit=3,
                       max_pivots=1, token_budget=3000)
    idx = AriadneIndex.build(spark, MANIFEST, config=cfg)
    cache = idx.local()
    hits = cache.search("customer orders", limit=10)
    assert len(hits) == 2
    assert all(len(h["description"]) <= 12 for h in hits)
    assert [(h["unique_id"], h["description"], round(h["score"], 9)) for h in hits] == [
        (r.unique_id, r.description, round(r.score, 9))
        for r in search_models(idx, "customer orders", limit=10).collect()
    ]
    task = "debug revenue order totals"
    assert len(cache.discover(task, limit=40)) == 3
    assert cache.discover(task, limit=40) == CapsuleBuilder(idx).discover(task, limit=40)
    lo = cache.capsule(task)
    assert lo["token_budget"] == 3000 and len(lo["pivots"]) == 1
    assert lo == CapsuleBuilder(idx).build(task).to_dict()


def test_local_capsule_matches_spark(index, cache):
    task = "debug failing test on orders"
    sp = CapsuleBuilder(index).build(task, token_budget=8000).to_dict()
    lo = cache.capsule(task, token_budget=8000)
    assert lo["intent"] == sp["intent"]
    assert lo["confidence"] == sp["confidence"]
    for section in ("pivots", "upstream", "downstream"):
        assert [x["unique_id"] for x in lo[section]] == [
            x["unique_id"] for x in sp[section]
        ], section
    assert [t["unique_id"] for t in lo["tests"]] == [t["unique_id"] for t in sp["tests"]]
    assert lo["similar_models"] == sp["similar_models"]
    assert [s["unique_id"] for s in lo["sources"]] == [
        s["unique_id"] for s in sp["sources"]
    ]


def test_local_capsule_respects_budget(cache):
    cap = cache.capsule("add a new revenue metric", token_budget=2000)
    assert cap["token_estimate"] <= 1.2 * 2000  # reference invariant


def test_local_discover_matches_spark(index, cache):
    for kwargs in (
        {"task": "debug revenue order totals"},
        {"task": "add a column", "focus_model": "fct_orders"},
        {"task": "explore payments", "entry_models": ["stg_payments"], "limit": 10},
    ):
        task = kwargs.pop("task")
        spark_rows = CapsuleBuilder(index).discover(task, **kwargs)
        local_rows = cache.discover(task, **kwargs)
        assert local_rows == spark_rows
