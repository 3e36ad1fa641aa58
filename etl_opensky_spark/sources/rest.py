"""REST ingest source (SURVEY §2.1: S4).

Re-expresses the reference's OpenSky ``/flights/{departure|arrival}``
extract (reference: src/jobs/extract_flights.py:103-145): GET with
airport/begin/end params, response validation, retry budget
(reference: src/dags/flights_daily.py:57-58), rows bound to an explicit
schema.

The transport is injectable (``fetch: (endpoint, params) -> list[dict]``)
so tests run hermetically and production can plug ``requests``.  Two
execution shapes:

- ``fetch_batch``: driver-side fetch of ONE airport-day (the reference's
  shape — fine, the payload is 10²-10³ rows).  The rows reach the JVM once,
  as an Arrow table carrying the declared schema, and the frame is a
  ``LocalTableScan``: collecting it or a projection of it runs no Spark
  job and starts no Python worker (a frame over a Python list would be a
  Python RDD, re-parallelized by every action).
- ``distributed_frame``: many (airport, day) param combos fanned out
  executor-side via ``mapInPandas`` — the 100 TB shape: the param table is
  a DataFrame, each partition fetches its own slice, no driver bottleneck.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

Fetch = Callable[[str, dict], list[dict]]


class ResponseValidationError(RuntimeError):
    pass


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType
) -> DataFrame:
    """Frame over rows the driver holds (tuples in ``schema`` order), built
    as a JVM local relation from one Arrow table."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def validate_flight_rows(rows: object) -> list[dict]:
    """Reference's response check: non-empty list of dicts with ``icao24``
    (reference: src/jobs/extract_flights.py:31-36,120-135)."""
    if not isinstance(rows, list) or not rows:
        raise ResponseValidationError("expected non-empty list of flight rows")
    if "icao24" not in rows[0]:
        raise ResponseValidationError("flight rows missing 'icao24' field")
    return rows


@dataclass
class RestSource:
    fetch: Fetch
    schema: T.StructType
    validate: Callable[[object], list[dict]] = field(default=validate_flight_rows)
    retries: int = 5
    retry_delay_s: float = 0.0  # reference uses 10 s; tests use 0

    def _fetch_validated(self, endpoint: str, params: dict) -> list[dict]:
        last: Exception | None = None
        for _ in range(self.retries + 1):
            try:
                return self.validate(self.fetch(endpoint, params))
            except Exception as exc:  # noqa: BLE001 — retry any transport error
                last = exc
                if self.retry_delay_s:
                    time.sleep(self.retry_delay_s)
        raise RuntimeError(f"REST fetch failed after {self.retries + 1} attempts") from last

    def fetch_batch(
        self, spark: SparkSession, endpoint: str, params: dict
    ) -> DataFrame:
        """Driver-side fetch -> schema-bound DataFrame (columns absent from
        the payload come back NULL, extra payload keys are dropped)."""
        rows = self._fetch_validated(endpoint, params)
        names = [f.name for f in self.schema.fields]
        projected = [tuple(r.get(n) for n in names) for r in rows]
        return local_frame(spark, projected, self.schema)

    def distributed_frame(
        self, params_df: DataFrame, endpoint: str, param_cols: Sequence[str]
    ) -> DataFrame:
        """Fan the fetch out across executors: one HTTP call per row of
        ``params_df``, results unioned into one schema-bound frame.

        ``params_df`` should be repartitioned to the desired fetch
        parallelism by the caller (e.g. ``.repartition(200)`` for 200
        concurrent API streams).
        """
        fetcher = self._fetch_validated
        names = [f.name for f in self.schema.fields]

        def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: list[dict] = []
                for combo in pdf[list(param_cols)].to_dict("records"):
                    for row in fetcher(endpoint, combo):
                        out.append({n: row.get(n) for n in names})
                yield pd.DataFrame(out, columns=names)

        return params_df.mapInPandas(fetch_partition, schema=self.schema)
