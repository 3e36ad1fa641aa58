"""fct_flights — fact load (reference: src/jobs/load_fct_flights.py).

One day's lake directories -> rename/derive -> three broadcast dim-key
lookups (airports twice as a role-playing dim over one shared broadcast,
aircrafts once) -> ``new EXCEPT existing`` against the warehouse's day
partition -> one observed append.  Left joins preserve fact rows with
unmatched dims (null FKs allowed by the warehouse DDL).

The skip rule is the ingest's (``ingest_flights.write_missing``): skipped
if and only if the write found no missing row.  The lake is read as the
day's directories alone with the declared schema, from either an airport
lake or a root with one ``airport=`` level above the days; a day with no
directory is skipped.  A missing warehouse table is an empty ``existing``:
the append creates it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_opensky_spark.functions.datetime import epoch_to_timestamp
from etl_opensky_spark.operators.joins import lookup_dim
from etl_opensky_spark.operators.projections import rename_columns, select_columns
from etl_opensky_spark.plans.ingest_flights import read_day, write_missing
from etl_opensky_spark.schemas import FCT_FLIGHTS
from etl_opensky_spark.sources.rest import local_frame

FCT_FLIGHTS_COLUMNS = [
    "aircraft_dim_id",
    "depart_ts",
    "depart_airport_dim_id",
    "arrival_ts",
    "arrival_airport_dim_id",
    "flight_date_dim_id",
]


def build_fct_flights(
    flights: DataFrame, dim_airports: DataFrame, dim_aircrafts: DataFrame
) -> DataFrame:
    """Transform one partition of lake flights into fact rows
    (reference: src/jobs/load_fct_flights.py:31-100)."""
    df = rename_columns(
        flights,
        {
            "icao24": "aircraft_icao24",
            "firstSeen": "depart_ts",
            "estDepartureAirport": "depart_airport_icao",
            "lastSeen": "arrival_ts",
            "estArrivalAirport": "arrival_airport_icao",
        },
    )
    df = df.withColumns(
        {
            "depart_ts": epoch_to_timestamp(F.col("depart_ts")),
            "arrival_ts": epoch_to_timestamp(F.col("arrival_ts")),
            "flight_date_dim_id": (
                F.col("flight_year").cast("int") * 10000
                + F.col("flight_month").cast("int") * 100
                + F.col("flight_day").cast("int")
            ),
        }
    ).drop("flight_year", "flight_month", "flight_day")

    # role-playing airports dim: one narrow broadcast joined under two
    # names; the roles rename after the join, so both joins see the same
    # plan and share one broadcast exchange
    airports = F.broadcast(dim_airports.select("icao_code", "airport_dim_id"))
    for role in ("depart", "arrival"):
        df = (
            df.withColumnRenamed(f"{role}_airport_icao", "icao_code")
            .join(airports, "icao_code", "left")
            .drop("icao_code")
            .withColumnRenamed("airport_dim_id", f"{role}_airport_dim_id")
        )
    df = lookup_dim(
        df,
        dim_aircrafts,
        fact_key="aircraft_icao24",
        dim_key="icao24_addr",
        attach={"aircraft_dim_id": "aircraft_dim_id"},
    )
    # positional order matters for the EXCEPT-based idempotent append
    return select_columns(df, FCT_FLIGHTS_COLUMNS)


def load_fct_flights(
    spark: SparkSession,
    data_date: dt.date,
    lake_path: str,
    table: str = "fct_flights",
    dim_airports: str = "dim_airports",
    dim_aircrafts: str = "dim_aircrafts",
) -> str:
    """Idempotent daily fact load (reference: src/jobs/load_fct_flights.py:102-116)."""
    flights = read_day(spark, lake_path, data_date)
    if flights is None:
        return "skipped"
    df = build_fct_flights(flights, spark.table(dim_airports), spark.table(dim_aircrafts))
    # EXCEPT's DISTINCT: distinct lake rows can project to one fact row.  A
    # day is ~10³ rows; one partition lets the dedup run without a shuffle
    df = df.coalesce(1).dropDuplicates()

    date_key = data_date.year * 10000 + data_date.month * 100 + data_date.day
    try:
        existing = spark.table(table).filter(F.col("flight_date_dim_id") == date_key)
    except AnalysisException as exc:
        if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
            raise
        existing = local_frame(spark, [], FCT_FLIGHTS)
    written = write_missing(
        df,
        existing,
        lambda missing: missing.write.mode("append")
        .partitionBy("flight_date_dim_id")
        .saveAsTable(table),
    )
    return "appended" if written else "skipped"
