"""Incremental hash-delta reindex: ``AriadneIndex.refresh`` must equal a
from-scratch ``build()`` on the new manifest while re-tokenizing only the
models whose search-doc content actually changed (the reference's README
roadmap defers incremental indexing to v1.0; v0.1 is full replace —
reference: indexer.py:90-98). On the metadata-scale path, building the
index, starting the tool server and ``refresh_index`` run no Spark job
and create no DataFrame, and the serving snapshot they lay out from rows
equals the one collected from the tables (``LocalIndexCache.from_index``)."""

from __future__ import annotations

import json

import pytest

from ariadne_dbt_spark.ingest.indexer import TABLES, AriadneIndex
from ariadne_dbt_spark.operators.local_cache import LocalIndexCache
from ariadne_dbt_spark.server import ToolServer

from conftest import FIXTURES, MANIFEST
from test_server_parity import CASES

ENRICHED = {
    "catalog_path": f"{FIXTURES}/catalog.json",
    "run_results_path": f"{FIXTURES}/run_results.json",
}


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _canon(v):
    """Sort key for a row or a cell of any index column: NULL sorts
    first, rows and arrays element-wise, maps by key."""
    if v is None:
        return (0,)
    if isinstance(v, dict):
        return (1, tuple(sorted((k, _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return (1, tuple(_canon(x) for x in v))
    return (1, v)


def _assert_same_index(a: AriadneIndex, b: AriadneIndex) -> None:
    """Every table: the same columns and types, and the same rows.
    Nullability is left out: Spark derives it from the plan, and the
    distributed path's coalesced counts and flags are non-null."""
    for t in TABLES:
        da, db = getattr(a, t), getattr(b, t)
        assert da.schema.simpleString() == db.schema.simpleString(), t
        assert sorted(map(_canon, da.collect())) == sorted(map(_canon, db.collect())), t


@pytest.fixture()
def manifest_dict():
    with open(MANIFEST) as f:
        return json.load(f)


def _write(tmp_path, man: dict) -> str:
    p = tmp_path / "manifest.json"
    p.write_text(json.dumps(man))
    return str(p)


def _model_key(man: dict, name: str) -> str:
    (key,) = [k for k, n in man["nodes"].items() if n.get("name") == name]
    return key


def _edit(man: dict, case: str) -> dict:
    """The manifest edit of each refresh case below, applied in place."""
    if case == "modify":
        man["nodes"][_model_key(man, "fct_orders")]["description"] = "order facts with NEW grain"
    elif case == "remove":
        key = _model_key(man, "dim_customers")
        del man["nodes"][key]
        man["parent_map"].pop(key, None)
        for k in list(man["parent_map"]):
            man["parent_map"][k] = [p for p in man["parent_map"][k] if p != key]
    elif case == "add":
        added = dict(man["nodes"][_model_key(man, "fct_orders")])
        added["name"] = "fct_refunds"
        added["unique_id"] = "model.jaffle_shop.fct_refunds"
        added["description"] = "refund facts"
        man["nodes"]["model.jaffle_shop.fct_refunds"] = added
        man["parent_map"]["model.jaffle_shop.fct_refunds"] = [_model_key(man, "stg_payments")]
    return man


def _jobs_of(spark, group: str, fn):
    """``fn()`` and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_refresh_noop_reuses_everything(spark, index):
    new = index.refresh(MANIFEST)
    assert new.last_refresh_stats == {"changed": 0, "reused": 5, "removed": 0}
    _assert_same_index(new, index)


def test_refresh_modified_description(spark, index, manifest_dict, tmp_path):
    path = _write(tmp_path, _edit(manifest_dict, "modify"))

    new = index.refresh(path)
    assert new.last_refresh_stats["changed"] == 1
    assert new.last_refresh_stats["reused"] == 4
    _assert_same_index(new, AriadneIndex.build(spark, path))
    # the new term is searchable through the refreshed index
    terms = {r["term"] for r in new.postings.where("unique_id like '%fct_orders'").collect()}
    assert "grain" in terms


def test_refresh_removed_model(spark, index, manifest_dict, tmp_path):
    key = _model_key(manifest_dict, "dim_customers")
    path = _write(tmp_path, _edit(manifest_dict, "remove"))

    new = index.refresh(path)
    assert new.last_refresh_stats["removed"] == 1
    assert new.postings.where(f"unique_id = '{key}'").count() == 0
    _assert_same_index(new, AriadneIndex.build(spark, path))


def test_refresh_added_model(spark, index, manifest_dict, tmp_path):
    path = _write(tmp_path, _edit(manifest_dict, "add"))

    new = index.refresh(path)
    assert new.last_refresh_stats["changed"] == 1  # the added model
    assert new.last_refresh_stats["removed"] == 0
    _assert_same_index(new, AriadneIndex.build(spark, path))


def test_refresh_after_save_load_roundtrip(spark, index, tmp_path):
    """A saved/loaded index must refresh as a no-op on the same manifest:
    parquet does not preserve column row order, so the doc signature has
    to be order-insensitive (postings are a bag of terms)."""
    out = str(tmp_path / "idx")
    index.save(out)
    loaded = AriadneIndex.load(spark, out)
    new = loaded.refresh(MANIFEST)
    assert new.last_refresh_stats == {"changed": 0, "reused": 5, "removed": 0}
    _assert_same_index(new, index)


def test_refresh_does_not_mutate_source_index(spark, index):
    before = _rows(index.postings, ["unique_id", "field", "term", "tf"])
    index.refresh(MANIFEST)
    assert _rows(index.postings, ["unique_id", "field", "term", "tf"]) == before


def test_refresh_distributed_path_parity(spark, manifest_dict, tmp_path):
    """Force the distributed branch (local_build_max_models=0) and check
    it produces the same index as the local branch."""
    from ariadne_dbt_spark.config import EngineConfig

    cfg = EngineConfig(local_build_max_models=0)
    base = AriadneIndex.build(spark, MANIFEST, config=cfg)

    man = manifest_dict
    man["nodes"][_model_key(man, "stg_orders")]["description"] = "staged orders v2"
    path = _write(tmp_path, man)

    new = base.refresh(path)
    assert new.last_refresh_stats["changed"] == 1
    _assert_same_index(new, AriadneIndex.build(spark, path))


def test_refresh_random_edit_sets_match_full_rebuild(spark, manifest_dict, tmp_path):
    """Property check over edit combinations: any subset of models
    edited (description and/or added column) must refresh to exactly the
    from-scratch index, with changed == |edited subset|."""
    import itertools

    base = AriadneIndex.build(spark, MANIFEST)
    names = sorted(
        n["name"] for n in manifest_dict["nodes"].values()
        if n.get("resource_type") == "model"
    )
    # all 1- and 2-model subsets plus the full set — 16 cases, local path
    cases = (
        [(n,) for n in names]
        + list(itertools.combinations(names, 2))
        + [tuple(names)]
    )
    for i, subset in enumerate(cases):
        man = json.loads(json.dumps(manifest_dict))
        for name in subset:
            node = man["nodes"][_model_key(man, name)]
            node["description"] = f"edited {i} {name}"
            node.setdefault("columns", {})[f"extra_{i}"] = {
                "name": f"extra_{i}", "description": "", "data_type": "int"
            }
        path = _write(tmp_path, man)
        new = base.refresh(path)
        assert new.last_refresh_stats["changed"] == len(subset), subset
        _assert_same_index(new, AriadneIndex.build(spark, path))


def test_manifest_delta_parse_only(spark, index, manifest_dict, tmp_path):
    man = manifest_dict
    man["nodes"][_model_key(man, "stg_orders")]["description"] = "delta probe"
    path = _write(tmp_path, man)
    delta = index.manifest_delta(path)
    assert delta == {
        "changed": ["model.webshop.stg_orders"], "added": [], "removed": [],
    }
    assert index.manifest_delta(MANIFEST) == {
        "changed": [], "added": [], "removed": [],
    }


@pytest.mark.parametrize("enriched", [False, True], ids=["manifest", "enriched"])
@pytest.mark.parametrize("case", ["noop", "modify", "add", "remove"])
def test_server_start_and_refresh_run_no_spark_job(
    spark, manifest_dict, tmp_path, monkeypatch, case, enriched
):
    """Server start, one call of every read tool and refresh_index run
    no Spark job and create no DataFrame: the build and the refresh lay
    the snapshot out from the rows they hold. The snapshot equals the
    one collected from the refreshed index and the one collected from a
    from-scratch build on the new manifest, and so does every table the
    refreshed index then builds on first use."""
    extra = ENRICHED if enriched else {}
    path = _write(tmp_path, _edit(manifest_dict, case))
    created = []
    create = spark.createDataFrame
    monkeypatch.setattr(
        spark, "createDataFrame", lambda *a, **kw: created.append(1) or create(*a, **kw)
    )

    def session():
        server = ToolServer(AriadneIndex.build(spark, MANIFEST, **extra))
        for tool, args in dict(CASES).items():
            assert server.handle({"tool": tool, "args": dict(args)})["status"] == "ok", tool
        resp = server.handle({"tool": "refresh_index", "args": {"manifest_path": path, **extra}})
        assert resp["status"] == "ok" and "error" not in resp["result"], resp
        return server

    server, jobs = _jobs_of(spark, f"test-snapshot-{case}-{enriched}", session)
    assert jobs == []
    assert len(created) == 0
    monkeypatch.undo()
    snap = server.index.local()
    if enriched:  # catalog stats and test results reached the snapshot
        assert any(m["row_count"] for m in snap.models.values())
        assert any(t["last_status"] for ts in snap.tests.values() for t in ts)
    fresh = AriadneIndex.build(spark, path, **extra)
    assert snap == LocalIndexCache.from_index(server.index)
    assert snap == LocalIndexCache.from_index(fresh)
    _assert_same_index(server.index, fresh)


def test_refresh_leaves_parent_snapshot_untouched(spark, manifest_dict, tmp_path):
    """The serving episode pattern: refresh base → 1 → 2, then base → 1
    again. No refresh may change the snapshot it starts from."""
    p1 = _write(tmp_path, _edit(json.loads(json.dumps(manifest_dict)), "modify"))
    (tmp_path / "2").mkdir()
    p2 = _write(tmp_path / "2", _edit(_edit(manifest_dict, "modify"), "remove"))
    base = AriadneIndex.build(spark, MANIFEST)
    first = base.refresh(p1)
    first.refresh(p2)
    again = base.refresh(p1)
    assert base.local() == LocalIndexCache.from_index(base)
    assert first.local() == again.local()
