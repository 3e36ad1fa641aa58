"""Plan tests: reference-shaped pipelines over FIXTURES.md-shaped inputs,
including the golden idempotency invariant (run twice ≡ run once)."""

from __future__ import annotations

import datetime as dt
import uuid
from functools import partial

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark import schemas
from etl_opensky_spark.operators.joins import check_fk
from etl_opensky_spark.plans.dim_aircrafts import build_dim_aircrafts
from etl_opensky_spark.plans.dim_airports import build_dim_airports, frames_differ
from etl_opensky_spark.plans.dim_dates import build_dim_dates
from etl_opensky_spark.plans.fct_flights import build_fct_flights, load_fct_flights
from etl_opensky_spark.plans.ingest_flights import ingest_flights
from etl_opensky_spark.plans.runner import Pipeline, Task, TaskStatus
from etl_opensky_spark.sources.rest import RestSource
from tests import fixtures
from tests.conftest import rows


def test_build_dim_dates(spark):
    df = build_dim_dates(spark, "2018-01-01", "2018-01-07")
    assert df.columns == [
        "date_dim_id", "date_date", "year", "month", "day",
        "week_of_year", "day_of_week",
    ]
    got = {r["date_dim_id"]: r for r in df.collect()}
    assert len(got) == 7
    jan1 = got[20180101]
    # 2018-01-01 was a Monday: ISO week 1, Spark DAYOFWEEK Monday=2
    assert (jan1["year"], jan1["month"], jan1["day"]) == (2018, 1, 1)
    assert jan1["week_of_year"] == 1 and jan1["day_of_week"] == 2


def test_build_dim_airports_row_number_key(spark):
    df = build_dim_airports(fixtures.src_airports(spark))
    got = rows(df.select("airport_dim_id", "icao_code", "name"))
    # keys ordered by airport name: Frankfurt(1), London(2), Unreferenced(3)
    assert got == [
        (1, "EDDF", "Frankfurt Main"),
        (2, "EGLL", "London Heathrow"),
        (3, "ZZZZ", "Unreferenced Field"),
    ]


def test_frames_differ(spark):
    a = fixtures.src_airports(spark)
    assert not frames_differ(a, fixtures.src_airports(spark))
    assert frames_differ(a, a.limit(2))


def test_frames_differ_hash_mode(spark):
    a = fixtures.src_airports(spark)
    # agrees with exact mode on equal / unequal frames
    assert not frames_differ(a, fixtures.src_airports(spark), mode="hash")
    assert frames_differ(a, a.limit(2), mode="hash")
    # order-independent (multiset semantics, like EXCEPT ALL)
    assert not frames_differ(a, a.orderBy(F.desc("name")), mode="hash")
    # multiplicity-sensitive at equal row counts: {x,x,y} vs {x,y,y}
    x, y = a.limit(1), a.offset(1).limit(1)
    assert frames_differ(
        x.unionAll(x).unionAll(y), x.unionAll(y).unionAll(y), mode="hash"
    )


def test_frames_differ_hash_mode_null_position(spark):
    # xxhash64 skips NULL inputs, so without null disambiguation
    # (NULL,'x') vs ('x',NULL) would be a deterministic false "unchanged"
    left = spark.createDataFrame([(None, "x")], "a string, b string")
    right = spark.createDataFrame([("x", None)], "a string, b string")
    assert frames_differ(left, right, mode="hash")
    # and a genuine NULL-for-NULL match still reads unchanged
    left2 = spark.createDataFrame([(None, "x")], "a string, b string")
    assert not frames_differ(left, left2, mode="hash")


def test_build_dim_aircrafts(spark):
    df = build_dim_aircrafts(
        fixtures.src_aircrafts(spark),
        fixtures.src_manufacturers(spark),
        fixtures.src_aircraft_types(spark),
        fixtures.src_airlines(spark),
    )
    got = {r["icao24_addr"]: r for r in df.collect()}
    # all-null row dropped; zzz999 dropped by both length filters
    assert set(got) == {"abc001", "abc002", "abc003"}
    a1, a2, a3 = got["abc001"], got["abc002"], got["abc003"]
    # surrogate keys are row_number over icao24_addr sort
    assert (a1["aircraft_dim_id"], a2["aircraft_dim_id"], a3["aircraft_dim_id"]) == (1, 2, 3)
    # airline lookup via ICAO id; manufacturer joined; type attrs attached
    assert a1["operating_airline"] == "Lufthansa"
    assert a1["manufacturer"] == "AIRBUS"
    assert (a1["aircraft_type"], a1["engine_cnt"], a1["engine_type"]) == ("LandPlane", 4, "Jet")
    # sentinel line_num "\tN/A" -> NULL; registration kept
    assert a1["line_num"] is None and a1["registration"] == "D-AIMA"
    # IATA-priority fallback: op_icao null, op_iata IO -> IataOnly Air
    assert a2["operating_airline"] == "IataOnly Air"
    # registration sentinel -UNKNOWN- -> NULL
    assert a2["registration"] is None
    # no identifier at all -> backfilled raw operator_name
    assert a3["operating_airline"] == "British Airways Fallback"
    assert a3["icao_type"] is None and a3["aircraft_type"] is None


def test_fk_check_passes_on_fixture_day(spark):
    dim = build_dim_aircrafts(
        fixtures.src_aircrafts(spark),
        fixtures.src_manufacturers(spark),
        fixtures.src_aircraft_types(spark),
        fixtures.src_airlines(spark),
    )
    flights = fixtures.src_flights(spark).filter(F.col("flight_day") == 1)
    check_fk(flights, "icao24", dim, "icao24_addr")  # no raise


def test_build_fct_flights(spark):
    airports = build_dim_airports(fixtures.src_airports(spark))
    aircrafts = build_dim_aircrafts(
        fixtures.src_aircrafts(spark),
        fixtures.src_manufacturers(spark),
        fixtures.src_aircraft_types(spark),
        fixtures.src_airlines(spark),
    )
    flights = fixtures.src_flights(spark).filter(F.col("flight_day") == 1)
    fct = build_fct_flights(flights, airports, aircrafts)
    assert fct.columns == [
        "aircraft_dim_id", "depart_ts", "depart_airport_dim_id",
        "arrival_ts", "arrival_airport_dim_id", "flight_date_dim_id",
    ]
    got = {r["aircraft_dim_id"]: r for r in fct.collect()}
    assert set(got) == {1, 2, 3}
    # abc001: EDDF(1) -> EGLL(2), 2018-01-01T01:00:00Z
    r1 = got[1]
    assert (r1["depart_airport_dim_id"], r1["arrival_airport_dim_id"]) == (1, 2)
    assert r1["depart_ts"] == dt.datetime(2018, 1, 1, 1, 0, 0)
    assert r1["flight_date_dim_id"] == 20180101
    # null airports stay null (left join preserves fact rows)
    assert got[2]["arrival_airport_dim_id"] is None
    assert got[3]["depart_airport_dim_id"] is None


def test_fct_idempotent_append(spark):
    """Run-twice invariant: EXCEPT-append adds nothing the second time."""
    airports = build_dim_airports(fixtures.src_airports(spark))
    aircrafts = build_dim_aircrafts(
        fixtures.src_aircrafts(spark),
        fixtures.src_manufacturers(spark),
        fixtures.src_aircraft_types(spark),
        fixtures.src_airlines(spark),
    )
    flights = fixtures.src_flights(spark).filter(F.col("flight_day") == 1)
    fct = build_fct_flights(flights, airports, aircrafts)
    from etl_opensky_spark.operators.sets import append_missing

    assert append_missing(fct, fct).count() == 0


# --- the daily plans' one skip rule: skipped iff new EXCEPT existing is empty --

DAY = dt.date(2018, 1, 1)
BASE = 1514764800  # 2018-01-01T00:00:00Z


def _flight(icao24: str, offset_s: int, callsign: str = "DLH1") -> dict:
    return {
        "icao24": icao24, "firstSeen": BASE + offset_s,
        "lastSeen": BASE + offset_s + 3600, "estDepartureAirport": "EDDF",
        "estArrivalAirport": "EGLL", "callsign": callsign,
    }


def _source(payload: dict[str, list[dict]]) -> RestSource:
    """API double serving ``payload[kind]``; edit ``payload`` to re-fetch."""
    return RestSource(
        fetch=lambda endpoint, params: payload[endpoint.rsplit("/", 1)[1]],
        schema=schemas.SRC_FLIGHTS,
    )


def _run(name, fn) -> TaskStatus:
    return Pipeline().add(Task(name, fn)).run()[name]


@pytest.fixture(scope="module")
def fct_dims(spark):
    """Dims under names of their own, so the fact loads here share no table
    with other tests."""
    build_dim_airports(fixtures.src_airports(spark)).write.mode(
        "overwrite"
    ).saveAsTable("plans_dim_airports")
    build_dim_aircrafts(
        fixtures.src_aircrafts(spark),
        fixtures.src_manufacturers(spark),
        fixtures.src_aircraft_types(spark),
        fixtures.src_airlines(spark),
    ).write.mode("overwrite").saveAsTable("plans_dim_aircrafts")
    return {"dim_airports": "plans_dim_airports", "dim_aircrafts": "plans_dim_aircrafts"}


def test_refetched_day_with_changed_rows_lands_them(spark, tmp_path):
    lake = str(tmp_path / "lake")
    payload = {
        "departure": [_flight("abc001", 3600), _flight("abc002", 7200)],
        "arrival": [_flight("abc003", 9000)],
    }
    ingest = partial(ingest_flights, spark, _source(payload), "EDDF", DAY, lake)
    assert _run("ingest", ingest) is TaskStatus.SUCCESS
    # a corrected re-fetch: one row changed, the day's row count did not
    payload["departure"][0] = _flight("abc001", 3600, callsign="DLH9")
    assert _run("ingest", ingest) is TaskStatus.SUCCESS
    got = rows(spark.read.parquet(lake).select("icao24", "callsign"))
    assert got == [
        ("abc001", "DLH1"), ("abc001", "DLH9"), ("abc002", "DLH1"), ("abc003", "DLH1"),
    ]
    assert _run("ingest", ingest) is TaskStatus.SKIPPED


def test_duplicate_payload_rows_land_once(spark, tmp_path):
    lake = str(tmp_path / "lake")
    dep, arr = _flight("abc001", 3600), _flight("abc003", 9000, callsign=None)
    payload = {"departure": [dep, dep, _flight("abc002", 7200)], "arrival": [arr, arr]}
    ingest = partial(ingest_flights, spark, _source(payload), "EDDF", DAY, lake)
    assert _run("ingest", ingest) is TaskStatus.SUCCESS
    # each distinct row once, NULL callsigns included (NULL = NULL, as in EXCEPT)
    got = rows(spark.read.parquet(lake).select("icao24", "callsign"))
    assert got == [("abc001", "DLH1"), ("abc002", "DLH1"), ("abc003", None)]
    assert _run("ingest", ingest) is TaskStatus.SKIPPED


def test_fact_load_without_lake_day_skips(spark, tmp_path, fct_dims):
    lake = str(tmp_path / "lake")
    payload = {"departure": [_flight("abc001", 3600)], "arrival": [_flight("abc003", 9000)]}
    ingest = partial(ingest_flights, spark, _source(payload), "EDDF", DAY, lake)
    assert _run("ingest", ingest) is TaskStatus.SUCCESS
    next_day = DAY + dt.timedelta(days=1)
    for path, day in ((lake, next_day), (str(tmp_path / "absent"), DAY)):
        load = partial(load_fct_flights, spark, day, path, table="plans_fct_no_day", **fct_dims)
        assert _run("fct", load) is TaskStatus.SKIPPED
    assert not spark.catalog.tableExists("plans_fct_no_day")


def _jobs_of(spark, fn) -> tuple[object, int]:
    """(result, Spark jobs ``fn`` ran), counted by job group."""
    sc = spark.sparkContext
    group = f"plans-job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_daily_plans_job_budget(spark, tmp_path, fct_dims):
    """A day load is ~10³ rows: its cost is the number of Spark jobs.  The
    counts are deterministic, so a plan that grows a job fails here."""
    root = str(tmp_path / "lake")
    spark.sql("DROP TABLE IF EXISTS plans_fct_budget")
    # a first write, then a new day in an existing lake; the fact load reads
    # the root, one airport= level above the days
    for k in range(2):
        day, shift = DAY + dt.timedelta(days=k), 86400 * k
        source = _source({
            "departure": [_flight(f"abc{i:03d}", shift + 60 * i) for i in range(1, 40)],
            "arrival": [_flight(f"abd{i:03d}", shift + 60 * i + 30) for i in range(1, 40)],
        })
        ingest = partial(ingest_flights, spark, source, "EDDF", day, f"{root}/airport=EDDF")
        for want, budget in (("appended", 3), ("skipped", 2)):
            status, jobs = _jobs_of(spark, ingest)
            assert status == want and jobs <= budget, (day, status, jobs)
        load = partial(load_fct_flights, spark, day, root, table="plans_fct_budget", **fct_dims)
        for want in ("appended", "skipped"):
            status, jobs = _jobs_of(spark, load)
            assert status == want and jobs <= 4, (day, status, jobs)
    assert spark.table("plans_fct_budget").count() == 2 * 2 * 39
