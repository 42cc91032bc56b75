"""SparkSession factory.

One place for every engine-level knob so tests, bench, and the driver
entry point all run the same configuration. Mirrors the reference's
hand-placed execution settings with their Spark equivalents
(SURVEY.md §4): dask lazy graphs → Catalyst laziness, chunk tuning →
AQE, spill dir → spark.local.dir.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_half_memory() -> str:
    """Half the host's MemTotal, the default driver heap. In local mode
    the driver JVM hosts every executor thread; the other half is left
    to the Python workers and the OS. Spark's own default (1g) where
    /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "1g"


def get_spark(
    app_name: str = "adcirctime2cogs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults are sized for local[N] testing but every choice is the one
    we'd make on a 1000-executor cluster too: AQE for runtime re-planning
    (partition coalescing, skew-join splitting), Arrow for any
    Python<->JVM boundary, UTC session time so results are
    oracle-comparable, and shuffle partitions ~ cores locally
    (overridden by AQE advisory sizing at scale).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_half_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) carries no min/max statistics, so
        # every timestamp-filtered scan over engine-written parquet
        # would read every row group; TIMESTAMP_MICROS restores
        # stats-based row-group skipping (tests/test_plans.py pins it).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as int64 ns and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate IGNORES every .config() when a session already
    # exists (a notebook or foreign fixture created one first) — and
    # the SQL confs here are load-bearing for correctness: non-UTC
    # session time or a missing nanosAsLong silently drifts results
    # from the UTC DuckDB oracles and misreads events.parquet. All of
    # them are runtime-settable SQL confs, so re-apply on the returned
    # session; static JVM confs (driver memory, master) can't change
    # post-hoc, but none of those affect answers.
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        **(extra_conf or {}),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # STATIC confs (spark.ui.*, spark.memory.*, and the static
            # spark.sql.* ones like warehouse.dir) cannot be set on a
            # live session. On a FRESH session the builder above
            # already applied them, so the live value matches and the
            # failure is harmless noise; on a PRE-EXISTING session the
            # requested value was silently ignored — that must fail
            # loudly, or e.g. a "memory-starved" spill run would
            # proceed unstarved and report numbers that measured
            # nothing. The live-value check below covers both cases
            # uniformly, spark.sql.* included.
            try:
                live = spark.conf.get(k)
            except Exception:
                live = None
            if live != v:
                raise RuntimeError(
                    f"static conf {k}={v!r} could not be applied (live "
                    f"value {live!r}): a pre-existing SparkSession was "
                    "reused — stop it first or start a fresh process"
                ) from None
    spark.sparkContext.setLogLevel("WARN")
    return spark
