"""SparkSession construction with scale-aware defaults.

The session is tuned for a local[N] dev box but every setting is the one
you'd ship to a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), broadcast threshold sized for dimension tables,
Arrow enabled for the few pandas boundaries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beyond-vector-search-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """``hive=True`` backs the table catalog with the Hive metastore so
    bucketed index tables (CorpusIndex.save_bucketed) survive across
    processes; the default in-memory catalog loses table metadata at
    session exit (the warehouse files remain but are unaddressable)."""
    # default: one task slot (and shuffle partition) per host core
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # broadcast-join demotion/promotion from observed sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size shuffles INSIDE cached plans too: by default
        # cached plans pin their output partitioning, so a tiny cached
        # aggregate keeps all `shuffle.partitions` partitions and every
        # downstream stage pays that task count forever.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (term stats, router state, centroids) are small;
        # broadcast aggressively so scoring joins never shuffle the index.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet carries TIMESTAMP(NANOS) columns
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    if hive:
        b = b.config("spark.sql.catalogImplementation", "hive").enableHiveSupport()
    return b.getOrCreate()
