"""SparkSession factory.

Replaces the reference's ``get_default_SparkConf`` cluster factory
(reference: src/config/config_services.py:32-53) with a local-mode,
test-friendly builder.  An already active session is returned as it is:
the defaults below apply only when :func:`get_spark` builds the session,
so a library call never rewrites the confs its owner set.  Differences
from the reference, on purpose:

- session timezone pinned to UTC (the reference sets ``TZ=Europe/London``
  in the job env while claiming UTC — src/jobs/extract_flights.py:171-173);
- AQE on (runtime re-planning, skew-join handling);
- shuffle partitions sized to local cores, not the 200 default;
- driver heap min(16g, ¾ of physical memory) unless ``SPARK_DRIVER_MEMORY``
  sets it;
- dynamic-partition-overwrite semantics set so partitioned overwrites
  replace only touched partitions (the scalable replacement for the
  reference's check-then-append idempotency).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: driver heap ceiling on hosts with memory to spare
MAX_DRIVER_MEMORY_MB = 16 * 1024


def default_driver_memory() -> str:
    """min(16g, ¾ of physical memory): a heap larger than the host lets the
    JVM grow until the machine swaps or kills it."""
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(MAX_DRIVER_MEMORY_MB, physical_mb * 3 // 4)}m"


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "etl_opensky_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_support: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    An active session is returned unchanged: the engine defaults and
    every argument apply only when this call builds the session.  (A
    builder's ``getOrCreate`` would instead apply its options to the
    live session, resetting e.g. ``spark.sql.shuffle.partitions`` or the
    session time zone that its owner set.)

    The confs mirror what we would set on a 1000-executor cluster; only
    master/memory are local-mode specific.

    ``hive_support=True`` backs the catalog with a Hive metastore (the
    reference's warehouse tier, src/config/config_services.py:40-48) —
    embedded derby locally, thrift URI via ``extra_conf`` on a real
    deployment.  The catalog implementation is fixed at the FIRST session
    in a JVM, so tests exercise this in a subprocess.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = (
        SparkSession.builder.master(master or default_master())
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps without the UTC flag read as plain TIMESTAMP
        # (LTZ), not TIMESTAMP_NTZ — the session TZ is pinned UTC so the
        # values are identical, and time-typed operators (watermarks,
        # unix_millis, window) stay valid regardless of how an upstream
        # writer flagged the column.  Guards against writer drift.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # overwrite only the partitions present in the written frame —
        # scalable idempotent re-load of one day (SURVEY §2.12)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # ContextCleaner reaps dead shuffle/broadcast/RDD state only
        # when a driver GC enqueues the weak references; its fallback
        # periodic System.gc() defaults to every 30 MINUTES, so a
        # long-lived session accumulates dead localCheckpoint blocks
        # that steal unified memory from execution (measured round 12:
        # block-manager-heavy queries inflate monotonically within a
        # session — a set-similarity join 2.8 s fresh -> 10-19 s late —
        # and a GC nudge restores them).  2 min bounds the residency; the
        # env override lets a deployment with an expensive driver full
        # GC relax it (the value is core-count- and SF-independent).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if hive_support:
        builder = builder.config(
            "spark.sql.catalogImplementation", "hive"
        ).enableHiveSupport()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
