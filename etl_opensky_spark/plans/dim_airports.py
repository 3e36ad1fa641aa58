"""dim_airports — airports dimension (reference: src/jobs/load_dim_airports.py).

The reference's change detection compares DataFrame OBJECTS with ``==``
(src/jobs/load_dim_airports.py:54) which is always False -> observable
semantics are "always overwrite"; the engine keeps full-refresh as the
default and offers real content-hash change detection (``frames_differ``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_opensky_spark.operators.keys import surrogate_key
from etl_opensky_spark.operators.projections import rename_columns

DIM_AIRPORTS_COLUMNS = [
    "airport_dim_id",
    "icao_code",
    "iata_code",
    "name",
    "country",
    "lat",
    "lon",
    "alt",
]


def build_dim_airports(src_airports: DataFrame) -> DataFrame:
    """Rename to warehouse names and mint the surrogate key
    (reference: src/jobs/load_dim_airports.py:47-50; key = row_number over
    orderBy(name))."""
    df = rename_columns(src_airports, {"icao": "icao_code", "iata": "iata_code"})
    df = surrogate_key(df, ["name"], "airport_dim_id", mode="row_number")
    return df.select(*DIM_AIRPORTS_COLUMNS)


def frames_differ(left: DataFrame, right: DataFrame, mode: str = "exact") -> bool:
    """Real change detection: fixes the reference's object-identity ``==``
    bug (SURVEY §2.12, src/jobs/load_dim_airports.py:54).

    mode="exact": symmetric EXCEPT-ALL emptiness — shuffles both frames
    once each; right for dim-sized frames.

    mode="hash": order-independent multiset signature (row count + two
    independently-seeded xxhash64 row hashes summed into a decimal(38,0)
    accumulator, so ANSI overflow can't trip) — each frame reduces
    map-side to ONE scalar row, no row shuffle at all; the change-detection
    path for very large frames.  Probabilistic: a false "unchanged" needs
    a simultaneous collision of both 64-bit sums at equal counts.

    NULL disambiguation: xxhash64 SKIPS null inputs (a null argument
    leaves the running hash unchanged), so hashing raw columns would make
    (NULL,'x') and ('x',NULL) collide DETERMINISTICALLY.  Each column is
    therefore interleaved with its is-null flag — the flag stream encodes
    the null pattern positionally, restoring the documented probabilistic
    collision bound.
    """
    if left.schema != right.schema:
        return True
    if mode == "hash":

        def signature(df: DataFrame) -> tuple:
            cols: list = []
            for c in df.columns:
                cols.append(F.isnull(F.col(c)).cast("int"))
                cols.append(F.col(c))
            h1 = F.xxhash64(*cols).cast("decimal(38,0)")
            h2 = F.xxhash64(F.lit("frames_differ:seed2"), *cols).cast(
                "decimal(38,0)"
            )
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(h1).alias("h1"),
                F.sum(h2).alias("h2"),
            ).collect()[0]
            return (row["n"], row["h1"], row["h2"])

        return signature(left) != signature(right)
    return (not left.exceptAll(right).isEmpty()) or (
        not right.exceptAll(left).isEmpty()
    )
