"""SparkSession factory with the engine's required configuration.

The reference is UTC-everywhere (reference: ``app/main.py:21,32``,
``app/seed_users.py:34``); we pin the session time zone to UTC so
timestamp semantics (and the DuckDB oracle comparison) are deterministic.

Scale posture: AQE on (runtime re-plan, partition coalescing, skew-join
splitting) and Arrow on (fast pandas interchange for the UDF surface).
``shuffle_partitions`` defaults to the local core count for local mode;
on a real cluster you would size it to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# events.parquet in the driver testdata uses INT64 TIMESTAMP(NANOS), which
# Spark's parquet reader refuses by default; this legacy conf reads it as a
# long (nanoseconds) that io.sources converts to a microsecond timestamp.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# The testdata's timestamp[us] columns carry isAdjustedToUTC=false, which
# Spark 4 infers as TIMESTAMP_NTZ by default. The engine (like the
# reference, UTC-everywhere) wants instants: with inference off the raw
# micros are read as TimestampType, i.e. the same wall clock DuckDB's
# naive TIMESTAMP sees under our pinned UTC session.
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

# SQL confs every engine session needs, applied at build time by
# get_spark and at run time by ensure_engine_conf (all runtime-settable).
_ENGINE_SQL_CONF = {
    # deterministic timestamp semantics, whatever the host zone
    "spark.sql.session.timeZone": "UTC",
    NANOS_AS_LONG: "true",
    INFER_NTZ: "false",
    # Keep bucketed scans (and their bucket pruning) for point probes: the
    # DisableUnnecessaryBucketedScan rule drops the bucketed layout when no
    # join/aggregate requires the distribution, which also forfeits the
    # `bucket IN (...)` file pruning the LSH serving path relies on.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # Python DataSource filter pushdown (io/python_source.py) is opt-in
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _local_driver_mem_gb() -> int:
    """Driver-heap default for LOCAL mode: half of MemAvailable, clamped
    to [2, 16] GiB. Local-mode executors share the driver JVM, whose
    Spark default heap (1g) is sized for a thin cluster driver, not for
    32 task threads hash-aggregating concurrently — but a flat 16g on a
    small host would over-commit, so size from the machine."""
    avail_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                    break
    except (OSError, ValueError, IndexError):
        pass
    if avail_kb is None:
        return 4  # conservative fallback when /proc is unavailable
    return max(2, min(16, avail_kb // (2 * 1024 * 1024)))


_CLEANUP_REGISTERED: set[str] = set()


def _warehouse_dir() -> str:
    """Per-process warehouse path; the default per-PID /tmp dir is
    removed at interpreter exit (managed bucketed/index tables are
    rebuilt by a fresh JVM anyway), so test/bench processes do not
    accumulate orphaned table data in /tmp. A user-set
    SPARK_GRAFT_WAREHOUSE is durable state and is never deleted."""
    user_set = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if user_set:
        return user_set
    path = f"/tmp/cdc_spark_warehouse_{os.getpid()}"
    if path not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(path)
        import atexit
        import shutil

        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory for one query's scratch files (a table root, a
    stream's feed, sink and checkpoint). All of them live under one
    per-process root that is removed at interpreter exit, as the
    warehouse dir is, so repeated runs leave nothing in the temp dir."""
    global _scratch_root
    import tempfile

    if _scratch_root is None:
        import atexit
        import shutil

        _scratch_root = tempfile.mkdtemp(
            prefix=f"cdc_spark_scratch_{os.getpid()}_"
        )
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def _pin_jvm_utc(spark: SparkSession) -> None:
    """Pin the JVM DEFAULT time zone to UTC (runtime-settable via py4j).

    The session time zone covers Catalyst, but Spark's ORC reader/
    writer adjusts timestamps through the JVM default zone — on a host
    whose process TZ is not UTC, an ORC round trip shifts every
    timestamp by the host offset (caught by the round-8 hostile-TZ
    full-registry simulation). Connect-only sessions without a JVM
    handle skip silently (their ORC path runs server-side). Best-effort
    by design: the pin must never fail session construction, so any
    py4j/connect error is swallowed — fresh JVMs built by get_spark
    also receive -Duser.timezone=UTC at builder time, which covers them
    even when this runtime pin cannot run."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — py4j access is the point
        jvm.java.util.TimeZone.setDefault(
            jvm.java.util.TimeZone.getTimeZone("UTC")
        )
    except Exception:  # noqa: BLE001 — py4j raises more than AttributeError
        pass


def get_spark(
    app_name: str = "cdc_export_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    cores = default_parallelism()
    effective_master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(effective_master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Per-process warehouse: the session catalog is in-memory, so a
        # fresh JVM rebuilds managed bucketed/index tables anyway — but
        # two CONCURRENT JVMs sharing ./spark-warehouse race (one
        # overwrites a table the other holds a cached file listing for;
        # observed as FAILED_READ_FILE in a parallel full-suite run).
        # Isolating by PID removes the race class; override to share.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        # Fresh JVMs start with the host's default TZ; pin it at launch
        # so the ORC path is UTC even if the runtime _pin_jvm_utc py4j
        # call is unavailable (ignored when an existing JVM is reused —
        # the runtime pin covers that case).
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    # Driver heap: only resize the JVM we actually run tasks in. With a
    # remote master the driver is a thin coordinator and the executors
    # carry their own memory conf — leave Spark's default alone there.
    # SPARK_GRAFT_DRIVER_MEM always wins; otherwise size from MemAvailable.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    elif effective_master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", f"{_local_driver_mem_gb()}g"
        )
    for k, v in {**_ENGINE_SQL_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _pin_jvm_utc(spark)
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to a session we did not build.

    A caller may hand us its own SparkSession; _ENGINE_SQL_CONF gives it
    the same SQL semantics get_spark builds in.
    """
    for k, v in _ENGINE_SQL_CONF.items():
        spark.conf.set(k, v)
    _pin_jvm_utc(spark)
    # Right-size shuffle parallelism for a session left at the 200 default:
    # results are partition-invariant (scripts/partition_sweep.py), but
    # eagerly-materialized intermediates (localCheckpoint) bypass AQE
    # coalescing, so the 200-task default costs pure scheduler overhead on
    # the correctness driver's vanilla session. A builder-time setting is
    # visible in the SparkConf and always respected — including an explicit
    # 200. A runtime spark.conf.set(..., "200") is indistinguishable from
    # the default and gets right-sized; set it after this call to keep it.
    builder_set = spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    )
    if (
        not builder_set
        and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
    ):
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    return spark
