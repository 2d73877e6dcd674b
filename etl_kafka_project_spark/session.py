"""SparkSession factory for the engine.

Replaces the reference's hand-rolled singleton session
(``utils/interfaces/pyspark_interface.py:20-31``, ``utils/singleton.py:1-22``)
with ``SparkSession.builder.getOrCreate()`` plus the configs that matter for
a CDC merge workload: AQE (runtime re-plan + skew-join splitting), Arrow for
pandas-UDF transfer, UTC session timezone (so DuckDB-oracle comparisons are
stable), and shuffle partitions sized to cores rather than the default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    master: str | None = None,
    app_name: str = "etl_kafka_project_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for the CDC engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. In local mode the only memory knob that matters is
    ``spark.driver.memory``; we leave it to the caller / spark-submit so the
    same code runs unchanged on a real cluster via ``spark-submit
    --py-files`` (north rule).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's empty-relation propagation DROPS CollectMetrics nodes when
        # a runtime-empty stage is replaced by an empty LocalRelation, so
        # an Observation riding a batch that a filter empties never fires
        # (its metric row comes back schema-less). The epoch-apply path
        # gates dead-letter quarantine and merge stats on observations, so
        # this one AQE rule is excluded; the rest of AQE (coalesce, skew
        # split, runtime re-plan) stays on. apply_epoch also sets this
        # defensively for sessions built elsewhere.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Shuffle/spill block codec. The wide LWW fold's shuffle is the
        # measured scaling limiter (memory-bus bytes, BENCH/BASELINE.md);
        # zstd moves ~30% fewer bytes than lz4 for a CPU cost that only
        # shows below ~4 cores. A/B (2026-08-18, compute-weighted-small,
        # min-of-2): local[8] 23.6s vs 27.0s, 2->8 sustained-epoch
        # efficiency 0.82 vs 0.65.
        .config("spark.io.compression.codec", "zstd")
        # a caller that wants the UI passes it in extra_conf
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
