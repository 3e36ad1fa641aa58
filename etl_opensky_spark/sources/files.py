"""File-based scans (SURVEY §2.1: S1-S3, S8).

Schemas are always enforced, never inferred (the reference documents why:
FlightRadar24 JSON emits ``lat: 7`` where float is required,
src/jobs/load_dim_airports.py:27-35).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1 — read a (possibly hive-partitioned) parquet directory.

    Partition columns are recovered from the directory layout; equality
    filters on them prune directories before any IO
    (reference: src/jobs/extract_flights.py:74).
    """
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = False,
    sep: str = ",",
) -> DataFrame:
    """S2 — schema-enforced CSV read
    (reference: src/jobs/load_dim_aircrafts.py:35-59)."""
    return spark.read.csv(path, schema=schema, header=header, sep=sep)


def read_json_envelope(
    spark: SparkSession,
    path: str,
    rows_field: str = "rows",
    cast_to: T.StructType | None = None,
) -> DataFrame:
    """S3 — read a JSON envelope ``{"rows": [...]}`` and unwrap to rows.

    Idiomatic replacement for the reference's driver-side WebHDFS
    ``json.load`` + ``createDataFrame``
    (reference: src/jobs/load_dim_airports.py:22-45): the file is read and
    exploded executor-side, so a 100 GB envelope never passes through the
    driver.  ``cast_to`` applies per-column casts after the read (handles
    int-where-float-expected drift instead of driver munging).
    """
    raw = spark.read.json(path, multiLine=True)
    rows = raw.select(F.explode(F.col(rows_field)).alias("_r")).select("_r.*")
    if cast_to is not None:
        rows = rows.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in cast_to.fields
            ]
        )
    return rows


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """S8 — typed empty DataFrame (reference: src/jobs/extract_flights.py:29)."""
    return spark.createDataFrame([], schema)


def scan_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw-binary ingestion: Spark's built-in
    ``binaryFile`` source reads each file as one row of
    ``(path, modificationTime, length, content: binary)``.

    Files land as opaque binary + typed metadata; any decoding happens
    downstream.  Scale notes:

    - the listing is distributed (driver lists, executors read), and each
      file is read exactly once by one task — no driver-side ``open()``
      loop;
    - ``pathGlobFilter`` prunes at listing time, before any IO;
    - ``spark.sql.files.maxPartitionBytes`` packs many small files into
      one task (the small-files problem is handled by the source, not by
      the caller).

    The reference has no binary source (its media never leaves HDFS paths);
    this extends §2.1 for the training-data pipeline.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingest with a bad-record channel: returns ``(good, bad)``.

    PERMISSIVE mode + ``columnNameOfCorruptRecord``: a malformed line
    yields a row with every schema field NULL and the RAW LINE in the
    corrupt column — so nothing is silently dropped (DROPMALFORMED) and
    one bad line doesn't kill the job (FAILFAST).  ``bad`` carries the
    raw lines for triage/replay, ``good`` drops the channel column —
    the same quarantine contract as ``operators.quality.validate_rules``
    but at the PARSER level, where schema rules can't see yet.

    Detection uses the corrupt column, NOT null-ness of parsed fields
    (a VALID row of nulls must not be quarantined) — the ``from_json``
    PERMISSIVE trap documented in the verify notes.  Caveat: Spark
    populates the corrupt column only when the parse FAILS; a well-
    formed object with extra/missing keys parses clean.

    Scale: plain distributed text read; the split is two filters over
    one scan.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = schema.add(T.StructField(corrupt_col, T.StringType(), True))
    # .cache() is Spark's DOCUMENTED requirement here: any query whose
    # column pruning reduces the scan to the corrupt column alone is
    # rejected (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN —
    # the parser can't know a row is corrupt without parsing the data
    # columns).  At lake scale, materialize the split to storage instead
    # of caching: write `bad` to the quarantine path first, then stream
    # `good` onward — same one-parse guarantee without pinning memory.
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).withColumnRenamed(
        corrupt_col, "raw_line"
    )
    return good, bad


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite"
) -> None:
    """XML sink (Spark 4 built-in ``xml`` format — the spark-xml
    package folded into core): one element per row under ``row_tag``.
    Same distributed writer contract as parquet/csv: one file per
    task, no driver funnel."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_xml(
    spark: SparkSession, path: str, schema: T.StructType, row_tag: str = "row"
) -> DataFrame:
    """XML source with ENFORCED schema (the S2/S3 rule: declare, never
    infer — XML inference samples the data and is both a extra job and
    a drift hazard).  Spark 4 built-in format; reads stay distributed
    (file-per-task) like every other file source."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC sink (Spark-native columnar format beside parquet — the
    interchange surface Hive/Trino shops ask for first).  Same
    distributed writer contract as every file sink here: one file per
    task, no driver funnel; zstd by default (ORC's best
    size/speed point on modern Spark)."""
    df.write.mode(mode).option("compression", compression).orc(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC source.  Schema optional: unlike CSV/JSON/XML, ORC embeds a
    typed schema (no inference job, no drift hazard) — pass one only to
    enforce a projection/cast contract on foreign files.  Predicate
    pushdown and column pruning reach the ORC reader exactly as for
    parquet scans."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
