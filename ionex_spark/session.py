"""SparkSession factory with the engine's standard configuration profile.

Tuned for correctness-vs-oracle (UTC session timezone) and for scale
(AQE with skew-join splitting, Arrow batches for pandas UDFs).  ANSI mode
is left at the Spark 4 default (ON) deliberately: every oracled query is
validated under ANSI (and under a bare default session), so overflow/
index errors surface instead of silently wrapping.  On a
real cluster the same profile applies; only master/shuffle-partitions vary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ionex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~ cores; cluster: ~2-3x total cores
    shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # oracle comparability: duckdb timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # adaptive execution: runtime coalescing + skew-join splitting is the
        # backstop for hot spatial cells (SURVEY.md §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # arrow for pandas UDFs / toPandas (the only Python touchpoints)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # a 126k-cell TEC grid is ~4 MB — always broadcastable; raise the
        # threshold so dimension tables never fall back to shuffle joins
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB scan splits: good parquet task granularity at 100 TB too
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
