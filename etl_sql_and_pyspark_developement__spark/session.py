"""SparkSession factory tuned for both local testing and cluster scale.

Scale rationale (100 TB / 1000 executors):
- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting replace hand-tuned shuffle.partitions at scale.
- UTC session timezone: deterministic timestamp semantics (and parity
  with the DuckDB oracle, which is UTC-naive).
- Arrow enabled: the few Pandas-UDF operators (minhash, simhash,
  multimodal decode) move batches, not rows.
- autoBroadcastJoinThreshold 64 MB: dimension tables (region, nation,
  supplier at TPC-H proportions) broadcast instead of shuffling facts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-sql-pyspark-engine",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)
    )
    builder = SparkSession.builder
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return (
        builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Without this, any plan that reads a cached DataFrame keeps the
        # full shuffle.partitions fan-out (AQE refuses to change cached
        # output partitioning) — iterative ops (connected components)
        # pay 32 near-empty tasks per tiny join. Trading cache-reuse of
        # the exact partitioning for runtime coalescing is the right
        # default for this engine's cached frames (small candidate sets).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Python Data Source filter pushdown is an ENGINE DEFAULT, not
        # a per-lane mutation: a pushFilters-implementing reader (the
        # q113 source) refuses to plan while this is false, planning is
        # lazy (a per-lane set/restore would flip the conf back before
        # the caller's action plans), and enabling it changes nothing
        # for readers that don't implement pushFilters — defaulting it
        # removes any run-order dependence between lanes.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to a session we
    did not create (the driver hands us one in ``entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # engine default (see get_spark): required before a pushFilters
    # reader can PLAN, harmless for every other source
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_threshold: str = "10GB",
    application_side_threshold: str = "10GB",
) -> SparkSession:
    """Arm Catalyst's runtime bloom-filter join pruning: for a
    shuffle join with a selective build side, the optimizer inserts a
    bloom_filter_agg subquery on the build keys and a might_contain
    filter on the probe side — probe rows that cannot match are
    dropped AT THE SCAN, before paying the shuffle. At 100 TB this is
    the difference between shuffling the whole fact table and
    shuffling the ~1% that survives a selective dimension filter —
    semijoin pushdown without bucketing or manual broadcast.

    Thresholds govern when the filter is worth building (build-side
    size) and worth applying (probe-side scan size); the defaults
    here arm it for warehouse-scale joins. Injection is asserted in
    tests/test_plans.py (might_contain on the probe scan).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
    return spark


def enable_rocksdb_state_store(
    spark: SparkSession, changelog_checkpointing: bool = True
) -> SparkSession:
    """Opt the session's streaming queries into the RocksDB state
    store provider (ships with Spark — rocksdbjni is bundled).

    The default HDFS-backed provider keeps every key of every
    stateful operator (st03/st04/st07/st11/st19/st21's dedup sets,
    running aggregates, session windows) in EXECUTOR HEAP — at
    100 TB-corpus key cardinalities that is the first thing to OOM.
    RocksDB spills state to local SSD with an in-heap cache, so
    state size is bounded by disk, not heap; changelog checkpointing
    additionally uploads per-batch DELTAS instead of full snapshots,
    which keeps checkpoint commit time flat as state grows (the
    bounded-state claims in streaming/ are documented against this
    provider at scale). Takes effect for queries STARTED after the
    call; restart running queries to migrate them.
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    if changelog_checkpointing:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    return spark
