"""daily_backfill: the paper's daily DAG replayed day by day.

Each day runs ``ingest_flights`` for every ingested airport (REST ->
per-airport parquet lake under one root) and then one ``load_fct_flights``
over the whole lake, through ``plans.runner.Pipeline``.  Between new days the
benchmark re-runs seeded loaded days, some unchanged (the skip path) and
some that gained late rows (a real ``append_missing``).  Each day carries
~10³ rows per airport, so the time goes to Spark job count and to
partition discovery over a lake that grows every day.  Set-up loads small
dims (5x10^3 aircraft) with ``build_dim_*``; traced runs report those
builds and writes as the dim layer's metrics.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import traceback
from functools import partial

import numpy as np

import gen
from harness import Bench, expect, p50

#: the reference's airport; a second airport doubles the Spark jobs per day
#: and leaves too few days per run for a steady median
AIRPORTS = gen.INGESTED_AIRPORTS[:1]
#: rows per airport-day and flight kind (departures + arrivals ≈ 10³)
ROWS_PER_KIND = 500
#: transient transport failures, retried inside ``RestSource``
FAIL_RATE = 0.05


class BenchTransport:
    """Stand-in for the OpenSky HTTP API behind ``RestSource.fetch``."""

    def __init__(self, feed: gen.FlightFeed, seed: int):
        self.feed = feed
        self.rng = np.random.default_rng([seed, 3])
        self.failures = 0
        self.rows_served = 0

    def __call__(self, endpoint: str, params: dict) -> list[dict]:
        if self.rng.random() < FAIL_RATE:
            self.failures += 1
            raise ConnectionError("injected transient transport failure")
        kind = endpoint.rsplit("/", 1)[1]
        day = dt.datetime.fromtimestamp(params["begin"], dt.timezone.utc).date()
        rows = self.feed.payload(params["airport"], kind, day)
        self.rows_served += len(rows)
        return rows


def _logged(fn):
    """Pipeline records a failed task as FAILED; keep the traceback."""
    def run():
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            raise
    return run


def run(bench: Bench) -> dict:
    from etl_opensky_spark import schemas
    from etl_opensky_spark.plans import (
        Pipeline, Task, TaskStatus, build_dim_aircrafts, build_dim_airports,
        ingest_flights, load_fct_flights,
    )
    from etl_opensky_spark.sources.files import read_csv, read_json_envelope
    from etl_opensky_spark.sources.rest import RestSource

    tr = bench.tracer
    dims = gen.DimSources(bench.seed, n_aircrafts=5_000, n_airports=300)
    src = dims.write(os.path.join(bench.run_dir, "sources"))
    valid_icao24 = dims.valid_icao24()
    airport_codes = set(dims.airports["icao"])

    def setup(rep_dir: str):
        spark = bench.start_session(os.path.join(rep_dir, "warehouse"))
        with tr.span("sources.files.read"):
            airports = read_json_envelope(spark, src["airports"], cast_to=schemas.SRC_AIRPORTS)
            aircraft_inputs = (
                read_csv(spark, src["aircrafts"], schemas.SRC_AIRCRAFTS),
                read_csv(spark, src["manufacturers"], schemas.SRC_MANUFACTURERS),
                read_csv(spark, src["types"], schemas.SRC_AIRCRAFT_TYPES),
                read_json_envelope(spark, src["airlines"], cast_to=schemas.SRC_AIRLINES),
            )
        with tr.span("plans.dim_build.airports"):
            dim = build_dim_airports(airports)
        with tr.span("plans.dim_write.airports"):
            dim.write.mode("overwrite").saveAsTable("dim_airports")
        with tr.span("plans.dim_build.aircrafts"):
            dim = build_dim_aircrafts(*aircraft_inputs)
        with tr.span("plans.dim_write.aircrafts"):
            dim.write.mode("overwrite").saveAsTable("dim_aircrafts")
        return spark, os.path.join(rep_dir, "lake")

    spark, lake_root = bench.setup(setup)

    feed = gen.FlightFeed(
        bench.seed, sorted(dims.aircrafts["icao24_addr"][dims.valid_mask()]),
        [c for c in dims.airports["icao"] if c not in AIRPORTS],
        rows_per_kind=ROWS_PER_KIND,
    )
    transport = BenchTransport(feed, bench.seed)
    source = RestSource(
        fetch=tr.wrap("sources.rest.transport", transport),
        schema=schemas.SRC_FLIGHTS, retries=5, retry_delay_s=0.0,
    )
    source.fetch_batch = tr.wrap("sources.rest.fetch_batch", source.fetch_batch)
    ingest = tr.wrap("plans.ingest_flights", ingest_flights)
    load_fct = tr.wrap("plans.load_fct_flights", load_fct_flights)

    def day_pipeline(day: dt.date, expected: TaskStatus) -> None:
        pipeline = Pipeline()
        for a in AIRPORTS:
            pipeline.add(Task(f"ingest_{a}", _logged(partial(
                ingest, spark, source, a, day, os.path.join(lake_root, f"airport={a}")
            ))))
        pipeline.add(Task(
            "load_fct_flights", _logged(partial(load_fct, spark, day, lake_root)),
            depends_on=[f"ingest_{a}" for a in AIRPORTS], trigger_rule="none_failed",
        ))
        statuses = tr.wrap("plans.runner.Pipeline.run", pipeline.run)()
        expect(all(s is expected for s in statuses.values()),
               f"{day}: expected every task {expected}, got {statuses}")

    loaded: list[dt.date] = []
    pick = np.random.default_rng([bench.seed, 5])

    def run_op(kind: str) -> None:
        if kind == "day_load":
            day = gen.EPOCH_DAY + dt.timedelta(days=len(loaded))
            loaded.append(day)
            bench.timed(kind, partial(day_pipeline, day, TaskStatus.SUCCESS))
            return
        day = loaded[int(pick.integers(0, len(loaded)))]
        if kind == "rerun_late":
            for a in AIRPORTS:
                feed.add_late_rows(a, day)
        bench.timed(kind, partial(
            day_pipeline, day, TaskStatus.SUCCESS if kind == "rerun_late" else TaskStatus.SKIPPED))

    # untimed: the first day load and the first re-run run plans the JVM
    # has not compiled yet
    loaded.append(gen.EPOCH_DAY)
    bench.warmup(partial(day_pipeline, gen.EPOCH_DAY, TaskStatus.SUCCESS))
    bench.warmup(partial(day_pipeline, gen.EPOCH_DAY, TaskStatus.SKIPPED))

    # New days grow the lake, unchanged re-runs take the skip path (reads,
    # no writes), late re-runs append a few % new rows to a loaded day.
    # Each kind has its own samples, so a run may stop between any two ops
    # once every kind has run.
    cycle = ["day_load", "rerun_skip", "day_load", "rerun_late"]
    n_ops = 0
    while bench.more() or n_ops < len(cycle):
        run_op(cycle[n_ops % len(cycle)])
        n_ops += 1

    # --- output checks (untimed) ---------------------------------------------
    model = [
        (a, r["icao24"], r["firstSeen"], r["lastSeen"], r["estDepartureAirport"],
         r["estArrivalAirport"], r["callsign"])
        for day in loaded for a in AIRPORTS for kind in ("departure", "arrival")
        for r in feed.payload(a, kind, day)
    ]

    def check_lake():
        got = spark.read.parquet(lake_root).select(
            "airport", "icao24", "firstSeen", "lastSeen", "estDepartureAirport",
            "estArrivalAirport", "callsign",
        ).collect()
        expect(len(got) == len(model), f"lake rows {len(got)} != generated {len(model)}")
        expect(sorted(map(tuple, got), key=repr) == sorted(model, key=repr),
               "lake rows differ from the generated distinct rows")

    def check_fact():
        from pyspark.sql import functions as F

        row = spark.table("fct_flights").agg(
            F.count("*").alias("n"),
            F.count_if(F.col("aircraft_dim_id").isNull()).alias("no_aircraft"),
            F.count_if(F.col("depart_airport_dim_id").isNull()).alias("no_dep"),
            F.count_if(F.col("arrival_airport_dim_id").isNull()).alias("no_arr"),
        ).first()
        expect(row["n"] == len(model), f"fact rows {row['n']} != generated {len(model)}")
        want = (
            sum(r[1] not in valid_icao24 for r in model),
            sum(r[4] not in airport_codes for r in model),
            sum(r[5] not in airport_codes for r in model),
        )
        got = (row["no_aircraft"], row["no_dep"], row["no_arr"])
        expect(got == want, f"unresolved FKs (aircraft, dep, arr) {got} != drawn {want}")

    def check_dims():
        from pyspark.sql import functions as F

        for table, key, rows in (
            ("dim_aircrafts", "aircraft_dim_id", len(valid_icao24)),
            ("dim_airports", "airport_dim_id", len(airport_codes)),
        ):
            got = spark.table(table).agg(
                F.count("*").alias("n"), F.count_distinct(key).alias("distinct"),
                F.min(key).alias("lo"), F.max(key).alias("hi"),
            ).first()
            expect(got["n"] == rows, f"{table}: {got['n']} rows != {rows} valid inputs")
            expect(got["distinct"] == got["n"] and got["lo"] == 1 and got["hi"] == got["n"],
                   f"{table}: keys not unique and dense 1..n: {got}")

    bench.check("daily_backfill.dims", check_dims)
    bench.check("daily_backfill.lake", check_lake)
    bench.check("daily_backfill.fact", check_fact)

    def layer_metrics() -> dict:
        return {
            "sources.files.read_s": (tr.median("sources.files.read"), "s"),
            "plans.dim_build_s": (tr.median("plans.dim_build.aircrafts"), "s"),
            "plans.dim_write_s": (tr.median("plans.dim_write.aircrafts"), "s"),
            "plans.dim.jobs": (tr.mean_counter("plans.dim_write.aircrafts", "jobs"), "count"),
            "plans.dim.single_task_stages": (
                tr.mean_counter("plans.dim_write.aircrafts", "single_task_stages"), "count"),
            "sources.rest.fetch_batch_s": (tr.median("sources.rest.fetch_batch", "self_s"), "s"),
            "sources.rest.transport_s": (tr.median("sources.rest.transport"), "s"),
            "sources.rest.retries": (transport.failures, "count"),
            "plans.ingest_flights_s": (tr.median("plans.ingest_flights"), "s"),
            "plans.ingest_flights.jobs": (tr.mean_counter("plans.ingest_flights", "jobs"), "count"),
            "plans.ingest_flights.appended_per_fetched": (
                len(model) / transport.rows_served, "ratio"),
            "plans.load_fct_flights_s": (tr.median("plans.load_fct_flights"), "s"),
            "plans.load_fct_flights.jobs": (
                tr.mean_counter("plans.load_fct_flights", "jobs"), "count"),
        }

    days, late = bench.ops["day_load"], bench.ops["rerun_late"]
    rows_per_day = len(AIRPORTS) * 2 * ROWS_PER_KIND
    return {
        "primary": "day_load",
        "secondary": "rerun_skip",
        "labels": ("day_load", "rerun_skip"),
        "extra": {
            "rerun_late_s.p50": (p50(late) if late else 0.0, "s", len(late)),
            "backfill_rows_per_s": (
                len(days) * rows_per_day / sum(days) if days else 0.0, "rows/s", len(days)),
        },
        "layer_metrics": layer_metrics,
        "notes": {"days": len(loaded)},
    }
