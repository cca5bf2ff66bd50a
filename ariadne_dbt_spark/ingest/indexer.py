"""Index construction: manifest rows → derived computations → index
tables, DataFrames built on first use (SURVEY §3.1 steps 3-5).

Refresh semantics are full snapshot replace, like the reference's
DELETE+reinsert per table (reference: src/ariadne_dbt/indexer.py:90-98,
326-472): ``save()`` overwrites every parquet table, ``AriadneIndex.build``
recomputes everything from the manifest. Derived computations:

* edges            — parent_map explode (G8)
* degrees          — per-model upstream/downstream counts (A1)
* centrality       — (up+down)/max(up+down), NULLIF-guarded (A2)
* PK/FK flags      — columns⋈tests: PK iff ≥2 distinct test types among
                     {unique, not_null}; FK iff any relationships test (J3)
* search postings  — 5 weighted fields, SQL truncated to 2000 chars (S6/T9)

Catalog and run-results enrichment patch the parsed rows before any
DataFrame exists. On the metadata-scale path (``local_build_max_models``)
every derivation runs in Python over the same rows, which lay out the
serving snapshot and stay the index's tables until a DataFrame operator
first reads one: build and refresh create no DataFrame there.
"""

from __future__ import annotations

import json
import os
from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark import schemas
from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.ingest import manifest as mf
from ariadne_dbt_spark.functions.text import truncate_sql
from ariadne_dbt_spark.operators.local_cache import LocalIndexCache
from ariadne_dbt_spark.operators.search import build_postings

def _derive_degrees_local(model_rows: list[dict], edge_rows: list[dict]) -> None:
    """Python twin of ``_compute_degrees`` for metadata-scale manifests:
    upstream = #edges where the model is the child, downstream = #edges
    where it is the parent, centrality = (up+down)/max over models."""
    up: dict[str, int] = {}
    down: dict[str, int] = {}
    for e in edge_rows:
        up[e["child_id"]] = up.get(e["child_id"], 0) + 1
        down[e["parent_id"]] = down.get(e["parent_id"], 0) + 1
    degs = [
        up.get(m["unique_id"], 0) + down.get(m["unique_id"], 0) for m in model_rows
    ]
    mx = max(degs, default=0)
    for m, d in zip(model_rows, degs):
        m["upstream_count"] = up.get(m["unique_id"], 0)
        m["downstream_count"] = down.get(m["unique_id"], 0)
        m["centrality"] = (d / mx) if mx > 0 else 0.0


def _derive_pk_fk_local(column_rows: list[dict], test_rows: list[dict]) -> None:
    """Python twin of ``_compute_pk_fk``: PK iff ≥2 distinct test types
    among {unique, not_null} on the column; FK iff any relationships
    test."""
    pk_types: dict[tuple[str, str], set[str]] = {}
    fk: set[tuple[str, str]] = set()
    for t in test_rows:
        col = t.get("column_name") or ""
        if not col:
            continue
        key = (t["model_id"], col)
        if t["test_type"] in ("unique", "not_null"):
            pk_types.setdefault(key, set()).add(t["test_type"])
        elif t["test_type"] == "relationships":
            fk.add(key)
    for c in column_rows:
        key = (c["model_id"], c["name"])
        c["is_primary_key"] = len(pk_types.get(key, ())) >= 2
        c["is_foreign_key"] = key in fk


def _doc_signature(m: dict, col_names: list[str], config: EngineConfig) -> str:
    """Content hash of EXACTLY the fields that feed a model's search doc
    (the five posting fields, SQL pre-truncated) — two models with equal
    signatures produce identical posting rows, so the incremental refresh
    may reuse them. Column names are SORTED: postings are a bag of terms
    (tf/dl are order-insensitive), and a saved/loaded index does not
    preserve column row order, so an order-sensitive hash would flag
    spurious deltas after every save/load round-trip."""
    import hashlib

    sql_src = m.get("compiled_code") or m.get("raw_code") or ""
    payload = json.dumps(
        [
            m.get("name") or "",
            m.get("description") or "",
            " ".join(sorted(col_names)),
            sql_src[: config.sql_index_chars],
            " ".join(m.get("tags") or ()),
        ],
        ensure_ascii=False,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _doc_signatures(model_rows, column_rows, config: EngineConfig) -> dict[str, str]:
    """``unique_id → _doc_signature`` for every model row."""
    col_names: dict[str, list[str]] = {}
    for c in column_rows:
        col_names.setdefault(c["model_id"], []).append(c["name"])
    return {
        m["unique_id"]: _doc_signature(m, col_names.get(m["unique_id"], []), config)
        for m in model_rows
    }


def _enrich_from_catalog(catalog_path: str, model_rows: list[dict], column_rows: list[dict]) -> None:
    """S2: catalog stats (row_count/bytes/last_modified) into the model
    rows and catalog column types into the column rows. Column names
    match case-insensitively; an exact-case match wins, else the first
    match in catalog order, so every manifest column stays one row. An
    empty catalog type keeps the manifest's."""
    with open(catalog_path) as f:
        nodes = json.load(f).get("nodes") or {}

    def stat(stats: dict, name: str) -> int | None:
        v = (stats.get(name) or {}).get("value")
        try:
            return int(float(v)) if v is not None else None
        except (TypeError, ValueError):
            return None

    for m in model_rows:
        node = nodes.get(m["unique_id"])
        if node is None:
            continue
        stats = node.get("stats") or {}
        m["row_count"] = stat(stats, "num_rows") or stat(stats, "row_count")
        m["bytes"] = stat(stats, "num_bytes") or stat(stats, "bytes")
        m["last_modified"] = (node.get("metadata") or {}).get("last_modified") or (
            stats.get("last_modified") or {}
        ).get("value")

    # per node: (name → type, lowered name → type), first in catalog order
    types: dict[str, tuple[dict, dict]] = {}
    for uid, node in nodes.items():
        exact, lower = types[uid] = ({}, {})
        for cname, c in (node.get("columns") or {}).items():
            name, data_type = str(c.get("name") or cname), str(c.get("type") or "")
            exact.setdefault(name, data_type)
            lower.setdefault(name.lower(), data_type)
    for c in column_rows:
        if c["model_id"] not in types:
            continue
        exact, lower = types[c["model_id"]]
        data_type = exact.get(c["name"], lower.get(c["name"].lower()))
        if data_type:
            c["data_type"] = data_type


def _enrich_from_run_results(path: str, test_rows: list[dict]) -> None:
    """S3: test status + Σ(timing deltas) + failures into the test rows
    (the first result per test wins)."""
    from datetime import datetime

    with open(path) as f:
        rr = json.load(f)
    results: dict[str, tuple] = {}
    for r in rr.get("results") or []:
        uid = r.get("unique_id") or ""
        if not uid.startswith("test.") or uid in results:
            continue
        total = 0.0
        for t in r.get("timing") or []:
            try:
                t0 = datetime.fromisoformat(str(t["started_at"]).replace("Z", "+00:00"))
                t1 = datetime.fromisoformat(str(t["completed_at"]).replace("Z", "+00:00"))
                total += (t1 - t0).total_seconds()
            except (KeyError, ValueError):
                continue
        failures = r.get("failures")
        results[uid] = (
            str(r.get("status") or ""),
            total,
            int(failures) if failures is not None else None,
        )
    for t in test_rows:
        if t["unique_id"] in results:
            t["last_status"], t["last_execution_time"], t["last_failures"] = results[
                t["unique_id"]
            ]


def _parse_rows(
    manifest_path: str, catalog_path: str | None, run_results_path: str | None
) -> dict[str, list]:
    """The parse tables' rows, keyed by table name, enriched from the
    catalog and run results before any DataFrame exists."""
    man = mf.load_manifest(manifest_path)
    sources, source_columns = mf.parse_sources(man)
    rows = {
        "models": mf.parse_models(man),
        "columns": mf.parse_columns(man),
        "sources": sources,
        "source_columns": source_columns,
        "tests": mf.parse_tests(man),
        "macros": mf.parse_macros(man),
        "exposures": mf.parse_exposures(man),
        "edges": mf.parse_edges(man),
        "index_metadata": mf.parse_metadata(man),
    }
    if catalog_path:
        _enrich_from_catalog(catalog_path, rows["models"], rows["columns"])
    if run_results_path:
        _enrich_from_run_results(run_results_path, rows["tests"])
    return rows


def _build_postings_local(
    model_rows: list[dict], column_rows: list[dict], config: EngineConfig
) -> tuple[list[tuple], list[tuple]]:
    """Python twin of ``_build_postings``: identical five fields, the
    same tokenizer/stemmer as the distributed path (``tokenize_query``
    is the pinned driver-side twin of ``functions.text.tokenize``)."""
    from collections import Counter

    from ariadne_dbt_spark.functions.text import tokenize_query

    col_names: dict[str, list[str]] = {}
    for c in column_rows:
        col_names.setdefault(c["model_id"], []).append(c["name"])
    postings: list[tuple] = []
    docstats: list[tuple] = []
    for m in model_rows:
        uid = m["unique_id"]
        sql_src = m.get("compiled_code") or m.get("raw_code") or ""
        fields = {
            "name": m.get("name") or "",
            "description": m.get("description") or "",
            "column_names": " ".join(col_names.get(uid, ())),
            "sql_text": sql_src[: config.sql_index_chars],
            "tags": " ".join(m.get("tags") or ()),
        }
        for fname, text in fields.items():
            toks = tokenize_query(text, stem=config.stem_tokens)
            if not toks:
                continue
            tf = Counter(toks)
            postings.extend((uid, fname, term, n) for term, n in tf.items())
            docstats.append((uid, fname, len(toks)))
    return postings, docstats


#: every index table and its schema
SCHEMAS = {
    "models": schemas.MODELS,
    "columns": schemas.COLUMNS,
    "sources": schemas.SOURCES,
    "source_columns": schemas.SOURCE_COLUMNS,
    "tests": schemas.TESTS,
    "macros": schemas.MACROS,
    "exposures": schemas.EXPOSURES,
    "edges": schemas.EDGES,
    "index_metadata": schemas.METADATA,
    "postings": "unique_id string, field string, term string, tf long",
    "docstats": "unique_id string, field string, dl long",
}
TABLES = tuple(SCHEMAS)


class AriadneIndex:
    """The in-memory engine index: one table per name in ``TABLES``, held
    as rows (``build``, ``refresh``) or DataFrames (``load``). A table held
    as rows becomes a DataFrame on its first attribute access."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        *,
        rows: dict[str, list] | None = None,
        **frames: DataFrame,
    ):
        rows = dict(rows or {})
        if {*rows, *frames} != set(TABLES):
            raise TypeError(f"an index takes exactly the tables {TABLES}, as rows or frames")
        self.spark = spark
        self.config = config or EngineConfig()
        self._rows = rows
        self.__dict__.update(frames)

    def __getattr__(self, name: str) -> DataFrame:
        # a table still held as rows; they are dropped only after the
        # frame is set, so a concurrent first access finds one or the other
        data = self.__dict__.get("_rows", {}).get(name)
        if data is None:  # not a table, or built meanwhile
            return object.__getattribute__(self, name)
        df = self.spark.createDataFrame(data, SCHEMAS[name])
        setattr(self, name, df)
        self._rows.pop(name, None)
        return df

    # -- construction ------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        manifest_path: str,
        *,
        catalog_path: str | None = None,
        run_results_path: str | None = None,
        config: EngineConfig | None = None,
    ) -> "AriadneIndex":
        config = config or EngineConfig()
        rows = _parse_rows(manifest_path, catalog_path, run_results_path)
        if len(rows["models"]) <= config.local_build_max_models:
            # metadata-scale manifest: derive degrees/PK-FK/postings in
            # pure Python over the parsed rows; the serving snapshot is
            # laid out from the same rows, the build creates no DataFrame
            # and runs zero Spark jobs. The distributed derivations
            # below handle larger manifests with identical semantics
            # (parity pinned in tests/test_indexer.py).
            _derive_degrees_local(rows["models"], rows["edges"])
            _derive_pk_fk_local(rows["columns"], rows["tests"])
            rows["postings"], rows["docstats"] = _build_postings_local(
                rows["models"], rows["columns"], config
            )
            idx = cls(spark, config, rows=rows)
            idx._local = LocalIndexCache.from_rows(rows, config)
            return idx
        rows["postings"] = rows["docstats"] = []
        idx = cls(spark, config, rows=rows)
        # distributed path: the index tables are bigger, but shuffles on
        # them are still metadata-scale; a small partition count keeps
        # task scheduling off the critical path (surface-B data queries
        # are untouched — this is scoped to the build and restored after)
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            idx._compute_degrees()
            idx._compute_pk_fk()
            idx._build_postings()
            # only the DERIVED tables carry deep plans worth truncating;
            # the parse tables are already local relations — skipping
            # their checkpoint saves one Spark job each (postings is
            # checkpointed inside _build_postings; docstats is a shallow
            # agg over the checkpointed postings, no job needed)
            idx.cache(tables=("models", "columns", "tests"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        return idx

    _local = None
    _patterns = None
    #: delta of the last ``refresh()``: {"changed": n, "reused": n, "removed": n}
    last_refresh_stats: dict | None = None

    def _snapshot_signatures(self) -> dict[str, str]:
        """Doc signatures of what this index's postings encode, read from
        its serving snapshot."""
        snap = self.local()
        return _doc_signatures(
            snap.models.values(), chain.from_iterable(snap.columns.values()), self.config
        )

    def manifest_delta(self, manifest_path: str) -> dict:
        """Doc-level diff of a new manifest against THIS index's state:
        ``{"changed": [...], "added": [...], "removed": [...]}`` by
        unique_id (the same signatures ``refresh`` uses to decide what
        to re-tokenize). Parse-only — no index is built."""
        man = mf.load_manifest(manifest_path)
        new_sigs = _doc_signatures(mf.parse_models(man), mf.parse_columns(man), self.config)
        old_sigs = self._snapshot_signatures()
        return {
            "changed": sorted(
                u for u, s in new_sigs.items() if u in old_sigs and old_sigs[u] != s
            ),
            "added": sorted(set(new_sigs) - set(old_sigs)),
            "removed": sorted(set(old_sigs) - set(new_sigs)),
        }

    def refresh(
        self,
        manifest_path: str,
        *,
        catalog_path: str | None = None,
        run_results_path: str | None = None,
    ) -> "AriadneIndex":
        """Incremental hash-delta reindex (the reference's README roadmap
        defers this to v1.0; its v0.1 ships only full snapshot replace,
        reference: indexer.py:90-98). Returns a NEW index; ``self`` and
        its snapshot are untouched.

        What is incremental: posting/docstat rows — the only per-model
        derived artifact whose rebuild cost is real (tokenize + Porter
        stem). The old doc signatures (``_doc_signature``) come from this
        index's serving snapshot (``local()``; a loaded or distributed
        index collects it once here). Models whose signature is unchanged
        keep their rows; only changed and added models re-tokenize. Parse
        tables are always replaced (parsing the manifest is the
        unavoidable driver cost), and degrees/centrality/PK-FK always
        recompute: they are global aggregates an edge change anywhere can
        shift.

        On the metadata-scale path the refresh runs zero Spark jobs and
        creates no DataFrame: the new postings and docstats rows are this
        snapshot's kept rows plus the fresh ones, and the new index and
        its snapshot are both built from the same rows (its DataFrames on
        first use). The distributed path keeps the reused postings as a
        broadcast anti-join over the old DataFrames, derives with
        DataFrames, and collects its snapshot on first ``local()``.

        Equality with a from-scratch ``build()`` on the new manifest, for
        every table and the snapshot, is pinned by
        tests/test_incremental.py (modify / add / remove / no-op cases)."""
        spark, config = self.spark, self.config
        rows = _parse_rows(manifest_path, catalog_path, run_results_path)
        new_sigs = _doc_signatures(rows["models"], rows["columns"], config)
        old_sigs = self._snapshot_signatures()
        changed = {u for u, s in new_sigs.items() if old_sigs.get(u) != s}
        removed = set(old_sigs) - set(new_sigs)
        stats = {
            "changed": len(changed),
            "reused": len(set(new_sigs) - changed),
            "removed": len(removed),
        }
        # rows to drop from the old postings: changed docs (stale) and
        # removed docs (gone); reused docs pass through untouched
        dropped = changed | removed

        if len(rows["models"]) <= config.local_build_max_models:
            _derive_degrees_local(rows["models"], rows["edges"])
            _derive_pk_fk_local(rows["columns"], rows["tests"])
            posting_rows, docstat_rows = _build_postings_local(
                [m for m in rows["models"] if m["unique_id"] in changed],
                [c for c in rows["columns"] if c["model_id"] in changed],
                config,
            )
            snap = self.local()
            rows["postings"] = [*snap.posting_rows(dropped), *posting_rows]
            rows["docstats"] = [*snap.docstat_rows(dropped), *docstat_rows]
            idx = AriadneIndex(spark, config, rows=rows)
            idx._local = LocalIndexCache.from_rows(rows, config)
            idx.last_refresh_stats = stats
            return idx

        drop_df = spark.createDataFrame([(u,) for u in sorted(dropped)], "unique_id string")
        kept_postings = self.postings.join(F.broadcast(drop_df), "unique_id", "left_anti")
        kept_docstats = self.docstats.join(F.broadcast(drop_df), "unique_id", "left_anti")
        idx = AriadneIndex(
            spark, config, rows=rows, postings=kept_postings, docstats=kept_docstats
        )
        idx.last_refresh_stats = stats
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            idx._compute_degrees()
            idx._compute_pk_fk()
            if changed:
                idx._build_postings(only_ids=sorted(changed))
                # _build_postings replaced postings/docstats with the
                # changed-docs-only build; merge the reused rows back
                idx.postings = kept_postings.unionByName(
                    idx.postings
                ).localCheckpoint(eager=True)
                idx.docstats = kept_docstats.unionByName(idx.docstats)
            idx.cache(tables=("models", "columns", "tests"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        return idx

    def local(self):
        """Driver-local snapshot, the tool server's read path (see
        operators/local_cache.py). ``build`` and ``refresh`` lay it out
        from their rows on the metadata-scale path; a loaded or
        distributed index collects its tables into it on first use."""
        if self._local is None:
            self._local = LocalIndexCache.from_index(self)
        return self._local

    def patterns(self) -> dict:
        """Pattern bundle, computed once per index build (the underlying
        tables are immutable between rebuilds)."""
        if self._patterns is None:
            from ariadne_dbt_spark.operators.patterns import extract_patterns

            self._patterns = extract_patterns(self)
        return self._patterns

    def cache(self, tables: tuple[str, ...] = TABLES) -> None:
        # localCheckpoint (not just cache) truncates the logical plan of the
        # derived tables — downstream queries compose many joins on top, and
        # an uncut lineage blows Python's recursion limit during plan
        # conversion. The tables are small (≤10k models) so materializing
        # them eagerly is the right trade at any scale. Tables whose plan
        # is already a leaf (local relation / fresh scan) can be skipped
        # via the `tables` selector.
        for t in tables:
            setattr(self, t, getattr(self, t).localCheckpoint(eager=True))

    # -- derived computations ----------------------------------------------
    def _compute_degrees(self) -> None:
        """A1 + A2: degree counts and normalized centrality per model."""
        up = self.edges.groupBy(F.col("child_id").alias("unique_id")).agg(
            F.count(F.lit(1)).cast("int").alias("_up")
        )
        down = self.edges.groupBy(F.col("parent_id").alias("unique_id")).agg(
            F.count(F.lit(1)).cast("int").alias("_down")
        )
        m = (
            self.models.drop("upstream_count", "downstream_count", "centrality")
            .join(up, "unique_id", "left")
            .join(down, "unique_id", "left")
            .withColumn("upstream_count", F.coalesce("_up", F.lit(0)))
            .withColumn("downstream_count", F.coalesce("_down", F.lit(0)))
            .drop("_up", "_down")
            .withColumn("_deg", F.col("upstream_count") + F.col("downstream_count"))
        )
        mx = m.agg(F.max("_deg").alias("_mx"))
        self.models = (
            m.crossJoin(F.broadcast(mx))
            .withColumn(
                "centrality",
                F.when(F.col("_mx") > 0, F.col("_deg").cast("double") / F.col("_mx"))
                .otherwise(F.lit(0.0)),
            )
            .drop("_deg", "_mx")
        )

    def _compute_pk_fk(self) -> None:
        """J3: PK iff a column carries ≥2 distinct test types among
        {unique, not_null}; FK iff any relationships test."""
        t = self.tests.where(F.col("column_name") != "")
        pk = (
            t.where(F.col("test_type").isin("unique", "not_null"))
            .groupBy("model_id", "column_name")
            .agg(F.countDistinct("test_type").alias("n"))
            .where(F.col("n") >= 2)
            .select("model_id", "column_name", F.lit(True).alias("_pk"))
        )
        fk = (
            t.where(F.col("test_type") == "relationships")
            .select("model_id", "column_name")
            .distinct()
            .withColumn("_fk", F.lit(True))
        )
        self.columns = self._pk_fk_join(pk, fk)

    def _pk_fk_join(self, pk: DataFrame, fk: DataFrame) -> DataFrame:
        cols = self.columns.drop("is_primary_key", "is_foreign_key")
        pk2 = pk.withColumnRenamed("model_id", "_m").withColumnRenamed("column_name", "_c")
        fk2 = fk.withColumnRenamed("model_id", "_m").withColumnRenamed("column_name", "_c")
        out = (
            cols.join(
                F.broadcast(pk2), (cols.model_id == pk2._m) & (cols.name == pk2._c), "left"
            )
            .drop("_m", "_c")
            .withColumn("is_primary_key", F.coalesce("_pk", F.lit(False)))
            .drop("_pk")
        )
        out = (
            out.join(F.broadcast(fk2), (out.model_id == fk2._m) & (out.name == fk2._c), "left")
            .drop("_m", "_c")
            .withColumn("is_foreign_key", F.coalesce("_fk", F.lit(False)))
            .drop("_fk")
        )
        return out

    def _build_postings(self, only_ids: list[str] | None = None) -> None:
        """S6/T9: one search doc per model — name, description, column
        names (space-joined), SQL truncated to 2000 chars, tags.
        Tokens are Porter-stemmed when ``config.stem_tokens`` (default,
        matching FTS5 ``tokenize='porter ascii'``); the query side stems
        through the same flag so index and query always agree.
        ``only_ids`` restricts the build to those docs (incremental
        refresh — the caller merges the reused rows back)."""
        models = self.models
        if only_ids is not None:
            ids_df = self.spark.createDataFrame(
                [(u,) for u in only_ids], "unique_id string"
            )
            models = models.join(F.broadcast(ids_df), "unique_id", "left_semi")
        col_names = self.columns.groupBy(F.col("model_id").alias("unique_id")).agg(
            F.concat_ws(" ", F.collect_list("name")).alias("column_names")
        )
        docs = (
            models.select(
                "unique_id",
                F.col("name"),
                F.col("description"),
                truncate_sql(
                    F.coalesce(
                        F.nullif(F.col("compiled_code"), F.lit("")), F.col("raw_code")
                    ),
                    self.config.sql_index_chars,
                ).alias("sql_text"),
                F.concat_ws(" ", F.col("tags")).alias("tags_text"),
            )
            .join(col_names, "unique_id", "left")
            .withColumn("column_names", F.coalesce("column_names", F.lit("")))
            # metadata-scale corpus (≤10k docs): 32 near-empty partitions
            # would each pay Arrow + Python-worker setup for the stem UDF;
            # a handful keeps that overhead off the build's critical path
            .coalesce(4)
        )
        postings, _ = build_postings(
            docs,
            "unique_id",
            {
                "name": "name",
                "description": "description",
                "column_names": "column_names",
                "sql_text": "sql_text",
                "tags": "tags_text",
            },
            stem=self.config.stem_tokens,
        )
        # materialize the postings once (single corpus pass); docstats is
        # then a shallow rollup of the checkpointed postings — the second
        # tokenize pass the old per-field build paid is gone
        self.postings = postings.localCheckpoint(eager=True)
        self.docstats = self.postings.groupBy("unique_id", "field").agg(
            F.sum("tf").alias("dl")
        )

    # -- persistence (S5: full-refresh overwrite) ----------------------------
    def save(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for t in TABLES:
            getattr(self, t).write.mode("overwrite").parquet(os.path.join(out_dir, t))

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str, config: EngineConfig | None = None):
        kw = {t: spark.read.parquet(os.path.join(out_dir, t)) for t in TABLES}
        idx = cls(spark, config, **kw)
        idx.cache()
        return idx
