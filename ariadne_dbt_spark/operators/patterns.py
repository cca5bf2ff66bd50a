"""Pattern mining / project-convention extraction (SURVEY §2.4 A3-A13).

Reference behavior: src/ariadne_dbt/patterns.py — project stats, per-layer
counts, materialization mode per layer, naming-convention examples,
test-coverage ratios, tag frequencies, best-tested model. All are small
groupBy/window DataFrame programs over the cached index; results are
collected into a plain dict for the generator/capsule (KB-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ariadne_dbt_spark.ingest.indexer import AriadneIndex


def table_counts(index: AriadneIndex) -> dict:
    """A4/A5: row counts of the index tables — the pattern bundle's
    ``stats``."""
    return {
        "models": index.models.count(),
        "sources": index.sources.count(),
        "tests": index.tests.count(),
        "macros": index.macros.count(),
        "exposures": index.exposures.count(),
        "columns": index.columns.count(),
    }


def project_stats(index: AriadneIndex) -> dict:
    """A4/A5/A9: table counts + tested-column distinct count + source
    schema count (the CLI ``stats`` command)."""
    tested_cols = (
        index.tests.where(F.col("column_name") != "")
        .select("model_id", "column_name")
        .distinct()
        .count()
    )
    return {
        **table_counts(index),
        "tested_columns": tested_cols,
        "source_schemas": index.sources.select("source_name").distinct().count(),
    }


def models_per_layer(index: AriadneIndex) -> DataFrame:
    """A3: layer histogram."""
    return index.models.groupBy("layer").agg(F.count(F.lit(1)).alias("n")).orderBy("layer")


def materialization_by_layer(index: AriadneIndex) -> DataFrame:
    """A3 mode-per-group: dominant materialization per layer via
    row_number over count desc (deterministic tie-break)."""
    hist = index.models.groupBy("layer", "materialization").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("layer").orderBy(F.desc("n"), "materialization")
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("layer", F.col("materialization").alias("dominant_materialization"), "n")
        .orderBy("layer")
    )


def example_model_per_layer(index: AriadneIndex) -> DataFrame:
    """A12: argmax (column count, description length) per layer —
    the 'representative model' the generator showcases."""
    col_counts = index.columns.groupBy(F.col("model_id").alias("unique_id")).agg(
        F.count(F.lit(1)).alias("n_cols")
    )
    m = (
        index.models.select("unique_id", "name", "layer", F.length("description").alias("dlen"))
        .join(col_counts, "unique_id", "left")
        .withColumn("n_cols", F.coalesce("n_cols", F.lit(0)))
    )
    w = Window.partitionBy("layer").orderBy(F.desc("n_cols"), F.desc("dlen"), "name")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("layer", F.col("name").alias("example_model"), "n_cols")
        .orderBy("layer")
    )


def best_tested_model(index: AriadneIndex) -> dict | None:
    """A13: argmax COUNT(DISTINCT test_type) per model."""
    row = (
        index.tests.groupBy("model_id")
        .agg(F.countDistinct("test_type").alias("n_types"), F.count(F.lit(1)).alias("n_tests"))
        .orderBy(F.desc("n_types"), F.desc("n_tests"), "model_id")
        .first()
    )
    if row is None:
        return None
    return {"model_id": row.model_id, "test_types": row.n_types, "tests": row.n_tests}


def coverage_by_layer(index: AriadneIndex) -> DataFrame:
    """A6: tested/total columns ×100 per layer."""
    cols = index.columns.join(
        index.models.select(F.col("unique_id").alias("model_id"), "layer"), "model_id"
    )
    total = cols.groupBy("layer").agg(F.count(F.lit(1)).alias("total_columns"))
    tested = (
        index.tests.where(F.col("column_name") != "")
        .select("model_id", "column_name")
        .distinct()
        .join(index.models.select(F.col("unique_id").alias("model_id"), "layer"), "model_id")
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("tested_columns"))
    )
    return (
        total.join(tested, "layer", "left")
        .withColumn("tested_columns", F.coalesce("tested_columns", F.lit(0)))
        .withColumn(
            "coverage_pct",
            F.round(F.col("tested_columns") * 100.0 / F.col("total_columns"), 1),
        )
        .orderBy("layer")
    )


def tag_frequency(index: AriadneIndex, *, limit: int = 10) -> DataFrame:
    """A8: explode tags → top-k with deterministic tie-break."""
    return (
        index.models.select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tag")
        .limit(limit)
    )


def naming_prefixes(index: AriadneIndex) -> DataFrame:
    """Naming-convention mining: dominant name prefix (before first '_')
    per layer."""
    pref = index.models.select(
        "layer", F.split("name", "_").getItem(0).alias("prefix")
    )
    hist = pref.groupBy("layer", "prefix").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("layer").orderBy(F.desc("n"), "prefix")
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("layer", F.col("prefix").alias("dominant_prefix"), "n")
        .orderBy("layer")
    )


def extract_patterns(index: AriadneIndex) -> dict:
    """The full pattern bundle the generator/capsule embeds
    (reference: patterns.py:22-125) — everything collected, KB-sized."""
    return {
        "stats": table_counts(index),
        "models_per_layer": {r.layer: r.n for r in models_per_layer(index).collect()},
        "materializations": {
            r.layer: r.dominant_materialization
            for r in materialization_by_layer(index).collect()
        },
        "examples": {r.layer: r.example_model for r in example_model_per_layer(index).collect()},
        "naming": {r.layer: r.dominant_prefix for r in naming_prefixes(index).collect()},
        "coverage": {
            r.layer: r.coverage_pct for r in coverage_by_layer(index).collect()
        },
        "top_tags": [(r.tag, r.n) for r in tag_frequency(index).collect()],
        "best_tested": best_tested_model(index),
    }


def profile_table(df, columns: list[str]):
    """dbt-style table profiler: per-column null count, exact distinct
    count, and min/max (stringified for a uniform tall schema) — the
    "what is in this table" first query against any new source.

    ONE aggregation pass computes every per-column aggregate fused
    (Catalyst plans a single partial+final HashAggregate; no per-column
    scans), then the 1-row wide result is unpivoted driver-side into
    the tall (column, metric, value) report — the unpivot costs nothing
    because the wide frame is a single row.
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    import pandas as pd

    row = wide.toPandas().iloc[0]
    out = []
    for c in columns:
        out += [
            (c, "n_nulls", str(row[f"{c}__nulls"])),
            (c, "n_distinct", str(row[f"{c}__distinct"])),
            (c, "min", None if row[f"{c}__min"] is None else str(row[f"{c}__min"])),
            (c, "max", None if row[f"{c}__max"] is None else str(row[f"{c}__max"])),
        ]
    spark = df.sparkSession
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["column", "metric", "value"]),
        "column string, metric string, value string",
    )


def k_anonymity_report(
    df: DataFrame,
    *,
    qi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Privacy audit for a release candidate: group by the
    quasi-identifier combination and flag equivalence classes that are
    too small (k-anonymity, Sweeney 2002) or too homogeneous in the
    sensitive attribute (l-diversity, Machanavasjhala et al. 2007).
    A training-data/compliance pipeline runs this before exporting any
    user-adjacent table; rows in failing classes get suppressed or
    generalized upstream.

    ONE shuffle on the QI key; COUNT(DISTINCT sensitive) rewrites to
    the standard two-phase expand-aggregate, still keyed on the QI
    columns. Scale-safe: output is one row per equivalence class.

    Returns the QI columns plus ``group_size``, ``n_sensitive``,
    ``k_anonymous`` (size >= k), ``l_diverse`` (distinct >= l).
    """
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(sensitive_col).alias("n_sensitive"),
        (F.count(F.lit(1)) >= k).alias("k_anonymous"),
        (F.countDistinct(sensitive_col) >= l).alias("l_diverse"),
    )
