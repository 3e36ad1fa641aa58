"""Flights ingest — REST -> partitioned parquet lake
(reference: src/jobs/extract_flights.py).

Fetch departures + arrivals for one airport-day, derive y/m/d partition
columns from the event time (firstSeen for departures, lastSeen for
arrivals), then append idempotently: only rows not already present in the
partitions they go to are written.

One rule decides "nothing to append" here and in ``fct_flights``: skip if
and only if ``new EXCEPT existing`` is empty.  The payload is deduplicated
on the driver (tuple equality treats NULL = NULL, as EXCEPT's DISTINCT
does) and becomes one local relation; ``existing`` is every partition
directory the payload writes into, read with the declared schema.  A row
lands in the partition of its own event time, which can lie outside the
requested day, and a NULL event time lands in Hive's default partition;
both are compared there.  Absent directories = empty ``existing``, so a
first write takes the same path.  One write of the missing rows, with an
``Observation`` counting them, both appends and decides: 0 rows written
means skipped.
"""

from __future__ import annotations

import datetime as dt
import logging
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_opensky_spark.functions.datetime import epoch_to_timestamp, ymd_columns
from etl_opensky_spark.schemas import SRC_FLIGHTS
from etl_opensky_spark.sources.rest import RestSource, local_frame

logger = logging.getLogger(__name__)

#: event-time column per flight kind (reference: src/jobs/extract_flights.py:45-46)
EVENT_TIME = {"departure": "firstSeen", "arrival": "lastSeen"}

#: the lake's partition levels, outermost first
PARTITION_COLS = ("flight_year", "flight_month", "flight_day")

#: directory value Spark writes for a NULL partition value
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) Spark reads ``path`` through."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    return hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration()), hadoop_path


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check via the Hadoop FileSystem API —
    works for local, HDFS, and object-store paths alike (the reference's
    one JVM escape hatch, src/jobs/extract_flights.py:69-73)."""
    fs, hadoop_path = hadoop_fs(spark, path)
    return bool(fs.exists(hadoop_path))


def read_partitions(
    spark: SparkSession, lake_path: str, partitions: Iterable[tuple]
) -> DataFrame | None:
    """The given ``(flight_year, flight_month, flight_day)`` partitions of a
    flights lake with the declared schema, or ``None`` when the lake holds
    no directory for any of them.  A NULL value stands for Hive's default
    partition.

    A partition's directories are the ``flight_year=/flight_month=/flight_day=``
    directory right under ``lake_path``, or one per value of a single
    partition level above it (``airport=<icao>/flight_year=...``, which
    comes back as an extra column).  One Hadoop glob finds them, on every
    filesystem ``path_exists`` works on; nothing else is listed or inferred.
    """
    parts = [
        "/".join(
            f"{col}={HIVE_DEFAULT_PARTITION if value is None else value}"
            for col, value in zip(PARTITION_COLS, partition)
        )
        for partition in partitions
    ]
    if not parts:
        return None
    alternatives = ",".join(parts + [f"*=*/{part}" for part in parts])
    fs, pattern = hadoop_fs(spark, f"{lake_path.rstrip('/')}/{{{alternatives}}}")
    dirs = [status.getPath().toString() for status in fs.globStatus(pattern) or []]
    if not dirs:
        return None
    return spark.read.schema(SRC_FLIGHTS).option("basePath", lake_path).parquet(*dirs)


def read_day(spark: SparkSession, lake_path: str, day: dt.date) -> DataFrame | None:
    """One day of a flights lake (``read_partitions`` of that day)."""
    return read_partitions(spark, lake_path, [(day.year, day.month, day.day)])


def write_missing(
    new: DataFrame, existing: DataFrame, write: Callable[[DataFrame], None]
) -> int:
    """Write ``new EXCEPT existing`` in one action; return the rows written.

    ``new`` must already hold distinct rows.  ``existing`` (one day) is
    broadcast and matched on every column of ``new`` with NULL = NULL, so
    the left-anti join keeps exactly EXCEPT's rows.  The count comes from an
    ``Observation`` on the write itself; a retried task can only inflate
    it, so ``== 0`` (skip) stays exact.
    """
    existing = existing.select(*new.columns)
    missing = new.join(
        F.broadcast(existing),
        [new[c].eqNullSafe(existing[c]) for c in new.columns],
        "left_anti",
    )
    obs = Observation()
    # one task, one file per day: a day is ~10³ rows
    write(missing.coalesce(1).observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


def with_partition_columns(df: DataFrame, event_col: str) -> DataFrame:
    """Derive flight_year/month/day from the event-time epoch column
    (reference: src/jobs/extract_flights.py:52-63)."""
    ts = epoch_to_timestamp(F.col(event_col))
    return df.withColumns(ymd_columns(ts))


def extract_day(
    spark: SparkSession,
    source: RestSource,
    airport_icao: str,
    begin_ts: int,
    end_ts: int,
) -> tuple[DataFrame, set[tuple]]:
    """Fetch departures and arrivals for one airport-day: their distinct
    rows, bound to ``SRC_FLIGHTS``, as one local relation, and the
    ``PARTITION_COLS`` tuples of those rows (the partitions they go to)."""
    names = SRC_FLIGHTS.fieldNames()
    rows: dict[tuple, None] = {}
    for kind in ("departure", "arrival"):
        df = source.fetch_batch(
            spark,
            endpoint=f"flights/{kind}",
            params={"airport": airport_icao, "begin": begin_ts, "end": end_ts},
        )
        event_col = EVENT_TIME[kind]
        # a projection of a local relation folds into a local relation, so
        # this collect runs no Spark job
        typed = with_partition_columns(df, event_col).collect()
        null_events = sum(r[event_col] is None for r in typed)
        if null_events:
            logger.warning(
                "%d NULLs in %s flights' event-time column %s (partition source)",
                null_events,
                kind,
                event_col,
            )
        # bind to the registry schema's column order; its Arrow types reject
        # a value of the wrong type
        rows.update(dict.fromkeys(tuple(r[n] for n in names) for r in typed))
    at = [names.index(c) for c in PARTITION_COLS]
    partitions = {tuple(row[i] for i in at) for row in rows}
    return local_frame(spark, list(rows), SRC_FLIGHTS), partitions


def ingest_flights(
    spark: SparkSession,
    source: RestSource,
    airport_icao: str,
    data_date: dt.date,
    lake_path: str,
) -> str:
    """One airport-day REST -> lake load with EXCEPT-based idempotency
    (reference: src/jobs/extract_flights.py:66-100)."""
    begin_ts = int(
        dt.datetime.combine(data_date, dt.time(), tzinfo=dt.timezone.utc).timestamp()
    )
    end_ts = begin_ts + 86400
    extracted, partitions = extract_day(spark, source, airport_icao, begin_ts, end_ts)
    existing = read_partitions(spark, lake_path, partitions)
    if existing is None:
        existing = local_frame(spark, [], SRC_FLIGHTS)
    written = write_missing(
        extracted,
        existing,
        lambda df: df.write.mode("append")
        .partitionBy("flight_year", "flight_month", "flight_day")
        .parquet(lake_path),
    )
    return "appended" if written else "skipped"
