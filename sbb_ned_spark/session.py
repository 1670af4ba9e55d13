"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench.py and
spark-submit entry points share the same tuned session:

- AQE on (coalesce + skew-join) — runtime re-planning at 100 TB scale;
- AQE also inside cached plans
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). Without
  it Spark plans every ``persist()``ed query — each stage of the
  checkpoint-less pipeline — in a session clone with AQE off, so those
  stages run at the fixed ``shuffle_partitions`` count with no coalescing
  and no skew-join. Each Python-UDF task has a fixed start cost (Arrow
  runner init, about 0.1-0.35 s on a 4-core host), so 32 mostly tiny
  partitions of a feature or scoring stage cost seconds of pure overhead;
  coalesced by bytes the same stage runs about one task per core;
- Arrow enabled + bounded batch size (large `content` strings must not
  blow the Python worker, SURVEY.md §7.4.4);
- shuffle partitions sized for the local harness; on a real cluster this
  is overridden via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig


def get_spark(
    app_name: str = "sbb_ned_spark",
    master: str | None = None,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.arrow_max_records_per_batch),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in config.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
