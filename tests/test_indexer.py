"""Ingest/index golden counts — mirrors the reference's exact-count test
strategy (reference: tests/test_indexer.py, SURVEY §5)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_table_counts(index):
    assert index.models.count() == 5
    assert index.sources.count() == 3
    assert index.tests.count() == 5
    assert index.macros.count() == 1
    assert index.exposures.count() == 1
    assert index.columns.count() == 5 + 3 + 4 + 6 + 5


def test_layer_histogram(index):
    hist = {
        r["layer"]: r["n"]
        for r in index.models.groupBy("layer").agg(F.count("*").alias("n")).collect()
    }
    assert hist == {"staging": 3, "marts": 2}


def test_edges(index):
    edges = {(r.parent_id, r.child_id) for r in index.edges.collect()}
    assert ("model.webshop.stg_orders", "model.webshop.fct_orders") in edges
    assert ("model.webshop.fct_orders", "model.webshop.dim_customers") in edges
    assert ("source.webshop.raw.orders", "model.webshop.stg_orders") in edges
    assert ("model.webshop.fct_orders", "exposure.webshop.orders_dashboard") in edges
    # no test nodes in the DAG
    assert not any(p.startswith("test.") or c.startswith("test.") for p, c in edges)
    # 3 source→stg + 2 →fct_orders + 2 →dim_customers + 2 →exposure
    assert len(edges) == 9


def test_degrees_and_centrality(index):
    fct = index.models.where(F.col("name") == "fct_orders").first()
    assert fct["upstream_count"] == 2
    assert fct["downstream_count"] == 2  # dim_customers + exposure
    assert fct["centrality"] == 1.0  # max-degree node
    stg = index.models.where(F.col("name") == "stg_customers").first()
    assert stg["upstream_count"] == 1
    assert stg["downstream_count"] == 1
    assert 0.0 < stg["centrality"] < 1.0


def test_pk_fk_flags(index):
    cols = {
        (r.model_id, r.name): (r.is_primary_key, r.is_foreign_key)
        for r in index.columns.collect()
    }
    # order_id on fct_orders has unique + not_null → PK
    assert cols[("model.webshop.fct_orders", "order_id")] == (True, False)
    # customer_id on fct_orders has a relationships test → FK
    assert cols[("model.webshop.fct_orders", "customer_id")] == (False, True)
    # stg_orders.order_id has only not_null → neither
    assert cols[("model.webshop.stg_orders", "order_id")] == (False, False)


def test_test_classification(index):
    types = {r.name: r.test_type for r in index.tests.collect()}
    assert types["not_null_fct_orders_order_id"] == "not_null"
    assert types["unique_fct_orders_order_id"] == "unique"
    assert types["accepted_values_fct_orders_status"] == "accepted_values"
    assert types["relationships_fct_orders_customer_id"] == "relationships"


def test_postings_docs(index):
    # one doc per model for the name field
    assert index.docstats.where(F.col("field") == "name").count() == 5
    # a term from a model name is findable
    hit = index.postings.where(
        (F.col("term") == "fct") & (F.col("field") == "name")
    ).count()
    assert hit == 1
    fields = {r.field for r in index.postings.select("field").distinct().collect()}
    assert fields <= {"name", "description", "column_names", "sql_text", "tags"}


def test_metadata_kv(index):
    md = {r.key: r.value for r in index.index_metadata.collect()}
    assert md["project_name"] == "webshop"
    assert md["adapter_type"] == "spark"


def test_reindex_idempotent(spark, index):
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from tests.conftest import MANIFEST

    idx2 = AriadneIndex.build(spark, MANIFEST)
    assert idx2.models.count() == index.models.count()
    assert idx2.edges.count() == index.edges.count()
    a = sorted(r.unique_id for r in index.models.collect())
    b = sorted(r.unique_id for r in idx2.models.collect())
    assert a == b


def test_save_load_roundtrip(spark, index, tmp_path):
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    out = str(tmp_path / "index")
    index.save(out)
    idx2 = AriadneIndex.load(spark, out)
    assert idx2.models.count() == 5
    assert {r.unique_id for r in idx2.models.collect()} == {
        r.unique_id for r in index.models.collect()
    }


def test_local_vs_distributed_build_parity(spark):
    """The driver-side fast build (local_build_max_models) must produce
    byte-identical derived tables to the distributed DataFrame path."""
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from tests.conftest import MANIFEST

    loc = AriadneIndex.build(spark, MANIFEST)
    dist = AriadneIndex.build(
        spark, MANIFEST, config=EngineConfig(local_build_max_models=0)
    )

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    m_cols = ["unique_id", "upstream_count", "downstream_count", "centrality"]
    assert rows(loc.models, m_cols) == rows(dist.models, m_cols)
    c_cols = ["model_id", "name", "is_primary_key", "is_foreign_key"]
    assert rows(loc.columns, c_cols) == rows(dist.columns, c_cols)
    p_cols = ["unique_id", "field", "term", "tf"]
    assert rows(loc.postings, p_cols) == rows(dist.postings, p_cols)
    d_cols = ["unique_id", "field", "dl"]
    assert rows(loc.docstats, d_cols) == rows(dist.docstats, d_cols)


def test_catalog_case_variant_columns_keep_one_row_per_column(spark, tmp_path):
    """A catalog node whose column names differ only in case must not
    duplicate the manifest's column rows: an exact-case match wins,
    otherwise the first case-insensitive match in catalog order."""
    import json

    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from tests.conftest import MANIFEST

    uid = "model.webshop.fct_orders"
    cat = tmp_path / "catalog.json"
    cat.write_text(json.dumps({"nodes": {uid: {"columns": {
        "ORDER_ID": {"name": "ORDER_ID", "type": "VARCHAR"},
        "order_id": {"name": "order_id", "type": "BIGINT"},
        "CUSTOMER_ID": {"name": "CUSTOMER_ID", "type": "INT"},
        "Customer_Id": {"name": "Customer_Id", "type": "STRING"},
    }}}}))
    idx = AriadneIndex.build(spark, MANIFEST, catalog_path=str(cat))
    rows = sorted(
        (r.name, r.data_type) for r in idx.columns.where(F.col("model_id") == uid).collect()
    )
    assert rows == [
        ("amount", "double"),
        ("customer_id", "INT"),
        ("order_id", "BIGINT"),
        ("ordered_at", "timestamp"),
        ("paid_amount", "double"),
        ("status", "varchar"),
    ]
    assert sorted((c["name"], c["data_type"]) for c in idx.local().columns[uid]) == rows
