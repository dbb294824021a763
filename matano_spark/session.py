"""SparkSession factory tuned for the local[N] test harness while keeping
settings that scale to a real cluster (AQE, skew-join handling, UTC).

On a 1000-executor cluster the same builder applies — only master()
and memory sizing change; shuffle partitioning is AQE-coalesced at
runtime so the static number is a ceiling, not a tuning knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of the host's physical memory. A larger heap lets a runaway
    plan take the whole host down with the JVM; at half, it fails alone
    with OutOfMemoryError. SPARK_DRIVER_MEMORY overrides it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    return f"{half_mb}m"


def get_spark(app_name: str = "matano_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions fit (guide §3.1/§9): the near-dup verify and
        # rollup joins never need sorted output, and the planner still
        # falls back to sort-merge when the build side is too big —
        # scale-safe, not a local[32] tune
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # VRL object semantics are last-wins on duplicate keys; the
        # default EXCEPTION policy makes any map_from_entries /
        # map_concat over real-world data (repeated URL query params)
        # task-fatal
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs required for DuckDB-oracle comparison.

    Applied inside every query entry because the driver owns the session:
    DuckDB timestamps are UTC-naive, so Spark must interpret/collect in UTC.
    PySpark's collect() converts timestamps with the *process* local
    timezone (datetime.fromtimestamp), so the Python TZ is pinned too —
    a no-op on UTC hosts, a correctness fix everywhere else.
    """
    import time

    if os.environ.get("TZ") not in ("UTC", "Etc/UTC"):
        os.environ["TZ"] = "UTC"
        time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # driver-owned sessions don't come through get_spark(): re-pin the
    # VRL last-wins duplicate-key semantics here too
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    return spark
