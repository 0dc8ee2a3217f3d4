"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are the ones we would
ship to a 1000-executor cluster: AQE on (runtime coalesce + skew-join
handling), broadcast threshold sized for dimension tables, shuffle
partitions right-sized rather than the 200 default, UTC session timezone
so results are bit-stable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Marker conf: set on every session get_spark() tunes, checked by
# io.load_table so it only re-applies tuning to FOREIGN sessions (the
# correctness driver's plain session) and never tramples an explicit
# get_spark(shuffle_partitions=N) choice.
TUNED_MARKER = "spark.gmallbiguan.tuned"


def runtime_confs(shuffle_partitions: int) -> tuple[tuple[str, str], ...]:
    """The runtime-settable SQL confs this engine wants on ANY session
    it runs on — single source of truth for get_spark's builder, its
    re-apply on a reused session, and io.py."""
    return (
        ("spark.sql.shuffle.partitions", str(shuffle_partitions)),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read it as long and convert in io.load_table.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    )


def get_spark(app_name: str = "gmallbiguan_parent_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    The configs mirror what we would set cluster-side at 100 TB:
    - AQE enabled: runtime partition coalescing, skew-join splitting,
      broadcast-join demotion/promotion based on observed sizes.
    - autoBroadcastJoinThreshold 64m: every dim table in the reference
      (user/province/sku/spu/category/trademark — SURVEY.md §2.3 J3) is
      far below this, so dim enrichment is a map-side join, never a shuffle.
    - shuffle.partitions sized to cores locally; on a real cluster AQE
      coalesces from a deliberately high initial number.
    - UTC timezone: deterministic timestamps vs the oracle.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in runtime_confs(n):
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() ignores builder configs when a session already exists
    # (the per-round driver hands us its own plain session), so re-apply
    # every runtime-settable SQL conf on the live session too.
    for k, v in runtime_confs(n) + ((TUNED_MARKER, "true"),):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — builder path covers it
    spark.sparkContext.setLogLevel("WARN")
    return spark
