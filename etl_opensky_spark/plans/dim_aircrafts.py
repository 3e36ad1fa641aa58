"""dim_aircrafts — aircraft dimension (reference: src/jobs/load_dim_aircrafts.py).

Pipeline: clean the OpenSky aircraft DB, enrich from three small lookup
sources (manufacturers, ICAO type codes, airlines), mint surrogate keys.
All three lookups are broadcast left joins — dims are 10²-10⁵ rows while
the aircraft DB is the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_opensky_spark.operators.filters import dropna_all, nullify_values, where_expr
from etl_opensky_spark.operators.keys import surrogate_key
from etl_opensky_spark.operators.projections import drop_columns, rename_columns
from etl_opensky_spark.operators.reshape import melt

DIM_AIRCRAFTS_COLUMNS = [
    "aircraft_dim_id",
    "icao24_addr",
    "registration",
    "operating_airline",
    "manufacturer",
    "model",
    "serial_num",
    "line_num",
    "icao_designator",
    "icao_type",
    "aircraft_type",
    "engine_cnt",
    "engine_type",
]

#: sentinel strings meaning NULL in the raw CSV
#: (reference: src/jobs/load_dim_aircrafts.py:167-173)
AIRCRAFT_NULL_SENTINELS = {
    "line_num": ["\tN/A", "-", "n/a"],
    "registration": ["-UNKNOWN-"],
}


def clean_aircrafts(src_aircrafts: DataFrame) -> DataFrame:
    """Drop unused cols / all-null rows, null-out invalid codes and
    sentinels, derive the operator identifier (priority ICAO -> IATA)
    (semantics of reference preprocess_aircrafts,
    src/jobs/load_dim_aircrafts.py:155-181)."""
    df = drop_columns(
        src_aircrafts, ["manufacturer_name", "operator_callsign", "owner", "note"]
    )
    df = dropna_all(df)
    df = where_expr(df, "LENGTH(icao_designator) <= 4 OR icao_designator IS NULL")
    df = where_expr(df, "LENGTH(icao_type) = 3 OR icao_type IS NULL")
    df = nullify_values(df, AIRCRAFT_NULL_SENTINELS)
    return df.withColumn(
        "operator_identifier", F.coalesce("operator_icao", "operator_iata")
    )


def clean_manufacturers(src_manufacturers: DataFrame) -> DataFrame:
    """Skip the leading garbage row, rename to join-ready names
    (reference preprocess_manufacturers, src/jobs/load_dim_aircrafts.py:184-188;
    ``offset`` requires Spark >= 3.4 — the idiomatic fix is header=True at
    read time, kept as-is for observable parity)."""
    return rename_columns(
        src_manufacturers.offset(1), {"Code": "code", "Name": "manufacturer"}
    )


def clean_aircraft_types(src_types: DataFrame) -> DataFrame:
    """Narrow, rename, full-row dedup (reference preprocess_aircraft_types,
    src/jobs/load_dim_aircrafts.py:191-206)."""
    return rename_columns(
        src_types.select(
            "AircraftDescription", "Description", "EngineCount", "EngineType"
        ),
        {
            "AircraftDescription": "aircraft_type",
            "Description": "icao_type_code",
            "EngineCount": "engine_cnt",
            "EngineType": "engine_type",
        },
    ).dropDuplicates()


def clean_airlines(src_airlines: DataFrame) -> DataFrame:
    """Unpivot (iata, icao) codes into one ``identifier`` column: an
    aircraft's operator id matches on either code kind
    (reference preprocess_airlines, src/jobs/load_dim_aircrafts.py:209-224)."""
    renamed = rename_columns(
        src_airlines, {"Name": "operating_airline", "Code": "iata", "ICAO": "icao"}
    )
    return melt(
        renamed,
        ids=["operating_airline"],
        values=["iata", "icao"],
        var_name="code",
        value_name="identifier",
    ).drop("code")


def build_dim_aircrafts(
    src_aircrafts: DataFrame,
    src_manufacturers: DataFrame,
    src_aircraft_types: DataFrame,
    src_airlines: DataFrame,
) -> DataFrame:
    """Three broadcast left joins + airline-name backfill + surrogate key
    (reference main flow, src/jobs/load_dim_aircrafts.py:76-122)."""
    aircrafts = clean_aircrafts(src_aircrafts)
    manufacturers = clean_manufacturers(src_manufacturers)
    types = clean_aircraft_types(src_aircraft_types)
    airlines = clean_airlines(src_airlines)

    df = aircrafts.join(
        F.broadcast(manufacturers),
        on=aircrafts["manufacturer_code"] == manufacturers["code"],
        how="left",
    ).drop("manufacturer_code", "code")

    df = df.join(
        F.broadcast(types),
        on=df["icao_type"] == types["icao_type_code"],
        how="left",
    ).drop("icao_type_code")

    # airline lookup with backfill: unmatched operators keep the raw
    # operator_name from the aircraft DB
    df = (
        df.join(
            F.broadcast(airlines),
            on=df["operator_identifier"] == airlines["identifier"],
            how="left",
        )
        .withColumn(
            "operating_airline",
            F.when(airlines["identifier"].isNull(), df["operator_name"]).otherwise(
                airlines["operating_airline"]
            ),
        )
        .drop(
            "operator_name",
            "operator_icao",
            "operator_iata",
            "operator_identifier",
            "identifier",
        )
    )

    df = surrogate_key(df, ["icao24_addr"], "aircraft_dim_id", mode="row_number")
    return df.select(*DIM_AIRCRAFTS_COLUMNS)
