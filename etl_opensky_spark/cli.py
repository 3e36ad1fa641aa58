"""CLI mains mirroring the reference's per-job argparse surface
(reference: src/jobs/extract_flights.py:148-180, load_dim_dates.py:95-121,
load_fct_flights.py:119-143, load_dim_airports.py:67, load_dim_aircrafts.py:253-280).

One console entrypoint with subcommands instead of five spark-submit job
files — each subcommand validates args exactly like the reference
(YYYY-MM-DD dates, flight-type whitelist) and runs the corresponding plan
in-process.

Usage:
    python -m etl_opensky_spark ingest-flights EDDF 2018-01-01 --lake ./lake
    python -m etl_opensky_spark load-dim-dates 2018-01-01 2028-01-01
    python -m etl_opensky_spark load-fct-flights 2018-01-01 --lake ./lake
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def parse_date(value: str) -> dt.date:
    """Reference-style strict YYYY-MM-DD validation."""
    try:
        return dt.datetime.strptime(value, "%Y-%m-%d").date()
    except ValueError as exc:
        raise argparse.ArgumentTypeError(
            f"invalid date {value!r}: must be YYYY-MM-DD"
        ) from exc


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="etl_opensky_spark", description=__doc__
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("ingest-flights", help="REST -> partitioned parquet lake")
    p.add_argument("airport_icao", help="ICAO code of the airport to extract")
    p.add_argument("data_date", type=parse_date, help="data date (YYYY-MM-DD)")
    p.add_argument("--lake", required=True, help="lake root path")

    p = sub.add_parser("load-dim-dates", help="calendar dimension load")
    p.add_argument("start_date", type=parse_date)
    p.add_argument("end_date", type=parse_date)

    p = sub.add_parser("load-fct-flights", help="daily fact load")
    p.add_argument("data_date", type=parse_date)
    p.add_argument("--lake", required=True)

    p = sub.add_parser("load-dim-airports", help="airports dimension load")
    p.add_argument("--airports-json", required=True)

    p = sub.add_parser("load-dim-aircrafts", help="aircrafts dimension load")
    p.add_argument("--aircrafts-csv", required=True)
    p.add_argument("--manufacturers-csv", required=True)
    p.add_argument("--types-csv", required=True)
    p.add_argument("--airlines-json", required=True)
    p.add_argument(
        "--check-fk-date",
        type=parse_date,
        default=None,
        help="verify flights FK integrity for this lake day before writing",
    )
    p.add_argument("--lake", default=None)

    return parser


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.command == "load-dim-aircrafts" and args.check_fk_date and not args.lake:
        parser.error("--check-fk-date needs --lake")

    from etl_opensky_spark import schemas
    from etl_opensky_spark.session import get_spark

    spark = get_spark(f"etl_opensky_spark.{args.command}")

    if args.command == "ingest-flights":
        import requests  # deferred: only the ingest path needs a transport

        from etl_opensky_spark.plans.ingest_flights import ingest_flights
        from etl_opensky_spark.sources.rest import RestSource

        def fetch(endpoint: str, params: dict) -> list[dict]:
            response = requests.get(
                f"https://opensky-network.org/api/{endpoint}", params=params,
                timeout=30,
            )
            response.raise_for_status()
            return response.json()

        source = RestSource(fetch=fetch, schema=schemas.SRC_FLIGHTS, retry_delay_s=10.0)
        status = ingest_flights(
            spark, source, args.airport_icao, args.data_date, args.lake
        )
    elif args.command == "load-dim-dates":
        from etl_opensky_spark.plans.dim_dates import load_dim_dates

        status = load_dim_dates(
            spark, args.start_date.isoformat(), args.end_date.isoformat()
        )
    elif args.command == "load-fct-flights":
        from etl_opensky_spark.plans.fct_flights import load_fct_flights

        status = load_fct_flights(spark, args.data_date, args.lake)
    elif args.command == "load-dim-airports":
        from etl_opensky_spark.plans.dim_airports import build_dim_airports
        from etl_opensky_spark.sources.files import read_json_envelope

        src = read_json_envelope(
            spark, args.airports_json, cast_to=schemas.SRC_AIRPORTS
        )
        build_dim_airports(src).write.mode("overwrite").saveAsTable("dim_airports")
        status = "overwritten"
    elif args.command == "load-dim-aircrafts":
        from etl_opensky_spark.operators.joins import check_fk
        from etl_opensky_spark.plans.dim_aircrafts import build_dim_aircrafts
        from etl_opensky_spark.plans.ingest_flights import path_exists, read_day
        from etl_opensky_spark.sources.files import read_csv, read_json_envelope

        dim = build_dim_aircrafts(
            read_csv(spark, args.aircrafts_csv, schemas.SRC_AIRCRAFTS),
            read_csv(spark, args.manufacturers_csv, schemas.SRC_MANUFACTURERS),
            read_csv(spark, args.types_csv, schemas.SRC_AIRCRAFT_TYPES),
            read_json_envelope(spark, args.airlines_json, cast_to=schemas.SRC_AIRLINES),
        )
        if args.check_fk_date:
            # the day alone, read with the declared schema; a lake without
            # that day has nothing to check
            day = read_day(spark, args.lake, args.check_fk_date)
            if day is not None:
                check_fk(day, "icao24", dim, "icao24_addr")
            elif not path_exists(spark, args.lake):
                raise FileNotFoundError(f"lake root does not exist: {args.lake}")
        dim.write.mode("overwrite").saveAsTable("dim_aircrafts")
        status = "overwritten"
    else:  # pragma: no cover — argparse enforces the choices
        raise SystemExit(2)

    print(f"{args.command}: {status}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
