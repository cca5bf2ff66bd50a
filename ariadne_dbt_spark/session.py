"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configuration
keys are what we would set on a 1000-executor cluster (AQE on, shuffle
partitions sized to the parallelism, Arrow enabled for the few pandas-UDF
paths). Every query module accepts an externally-built session, so the
driver harness can inject its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables the driver generates (TESTDATA.md)
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def driver_memory(phys_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``phys_bytes`` of
    physical memory: 3/4 of it, at most 64g, in whole MiB."""
    return f"{min(64 << 10, phys_bytes * 3 // 4 >> 20)}m"


def get_spark(app_name: str = "ariadne-dbt-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with sane analytical defaults."""
    import sys

    # multi-join plans (index tables compose 5+ joins) recurse deeply during
    # Python-side plan handling; the default 1000 limit is marginal once a
    # test harness adds its own frames
    if sys.getrecursionlimit() < 10_000:
        sys.setrecursionlimit(10_000)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # parallelism: match cores locally; on a cluster this scales with
        # executors — AQE coalesces small post-shuffle partitions either way.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions from BYTES (the advisory target),
        # not the core count (guide §2.2 "fewer, larger reduce
        # partitions"): with the default parallelismFirst=true, every
        # KB-sized shuffle still fans out to `cpus` reducers — measured
        # here as hundreds of near-empty tasks per query at bench scale,
        # and the M×R tiny-block fetch pattern at cluster scale. Stages
        # whose cost is multiplicative rather than byte-proportional
        # (exploding pair joins) pin their parallelism structurally with
        # an explicit-N repartition instead (e.g. containment_pairs),
        # which AQE never coalesces. Env-overridable for A/B.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call to capture the
        # Python call site for error enrichment — measured here as ~half
        # of all plan-CONSTRUCTION time (py4j round-trips per captured
        # frame; semantic_dedup construct 1.12 s -> 0.58 s with it off).
        # Construction overhead is pure driver cost at any cluster
        # scale; errors still raise with full JVM context, they just
        # stop citing the user's Python line. Env-overridable for
        # debugging sessions (round 11, guide §7.3's planning-cost trap).
        .config(
            "spark.sql.dataFrameQueryContext.enabled",
            os.environ.get("SPARK_GRAFT_DF_QUERY_CONTEXT", "false"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or driver_memory(phys))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"
