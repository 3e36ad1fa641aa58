"""CLI surface tests: arg validation (reference parity) + an end-to-end
subcommand run against a temp warehouse."""

from __future__ import annotations

import json

import pytest

from etl_opensky_spark.cli import build_parser, main, parse_date


def test_date_validation():
    parser = build_parser()
    with pytest.raises(SystemExit):
        parser.parse_args(["load-dim-dates", "2018-13-01", "2018-01-02"])
    args = parser.parse_args(["load-dim-dates", "2018-01-01", "2018-01-02"])
    assert args.start_date.isoformat() == "2018-01-01"


def test_unknown_command_rejected():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["frobnicate"])


def test_load_dim_dates_cli_runs(spark, capsys):
    # session fixture already holds the temp warehouse; CLI reuses it via
    # getOrCreate
    rc = main(["load-dim-dates", "2019-01-01", "2019-01-10"])
    assert rc == 0
    assert "load-dim-dates" in capsys.readouterr().out
    assert spark.table("dim_dates").filter("year = 2019").count() == 10


def test_load_dim_airports_cli_runs(spark, tmp_path, capsys):
    payload = {
        "rows": [
            {"name": "A", "iata": "AAA", "icao": "AAAA", "country": "X",
             "lat": 7, "lon": 8.5, "alt": 100},
        ]
    }
    p = tmp_path / "airports.json"
    p.write_text(json.dumps(payload))
    rc = main(["load-dim-airports", "--airports-json", str(p)])
    assert rc == 0
    assert spark.table("dim_airports").count() == 1


def _aircraft_sources(spark, tmp_path) -> list[str]:
    """The plan fixtures' dim sources as files, as CLI arguments."""
    import csv

    from tests import fixtures

    args = []
    for flag, frame in (
        ("--aircrafts-csv", fixtures.src_aircrafts),
        ("--manufacturers-csv", fixtures.src_manufacturers),
        ("--types-csv", fixtures.src_aircraft_types),
    ):
        path = tmp_path / f"{flag[2:]}.csv"
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows(frame(spark).collect())
        args += [flag, str(path)]
    airlines = tmp_path / "airlines.json"
    airlines.write_text(json.dumps(
        {"rows": [r.asDict() for r in fixtures.src_airlines(spark).collect()]}
    ))
    return args + ["--airlines-json", str(airlines)]


def test_load_dim_aircrafts_checks_fk_of_one_day(spark, tmp_path):
    """``--check-fk-date`` checks the lake's flights of that day only: an
    orphan ``icao24`` there fails the load, one on another day does not,
    and a missing lake root fails."""
    from pyspark.sql import functions as F

    from etl_opensky_spark.plans.ingest_flights import PARTITION_COLS
    from tests import fixtures

    lake = str(tmp_path / "lake" / "airport=EDDF")
    flights = fixtures.src_flights(spark)
    orphan = flights.filter("flight_day = 2").withColumn("icao24", F.lit("orphan"))
    flights.unionByName(orphan).write.partitionBy(*PARTITION_COLS).parquet(lake)
    load = ["load-dim-aircrafts", *_aircraft_sources(spark, tmp_path), "--lake"]
    root = str(tmp_path / "lake")

    with pytest.raises(ValueError, match="orphan"):
        main([*load, root, "--check-fk-date", "2018-01-02"])
    assert main([*load, root, "--check-fk-date", "2018-01-01"]) == 0
    assert main([*load, root, "--check-fk-date", "2018-01-03"]) == 0
    with pytest.raises(FileNotFoundError):
        main([*load, str(tmp_path / "absent"), "--check-fk-date", "2018-01-01"])


def test_check_fk_date_without_lake_is_a_usage_error(monkeypatch, capsys):
    """``--check-fk-date`` has no lake to check without ``--lake``: the
    parser rejects it before a session starts, rather than skipping the
    check and overwriting the dim."""
    from etl_opensky_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("a usage error must not start Spark")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        main([
            "load-dim-aircrafts", "--aircrafts-csv", "a.csv",
            "--manufacturers-csv", "m.csv", "--types-csv", "t.csv",
            "--airlines-json", "l.json", "--check-fk-date", "2018-01-01",
        ])
    assert exc.value.code == 2
    assert "--check-fk-date needs --lake" in capsys.readouterr().err
