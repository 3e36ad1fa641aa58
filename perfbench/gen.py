"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
``--seed``: OpenSky-shaped REST payloads, the dimension source files
(aircraft DB CSV, ICAO manufacturers/types CSV, airlines/airports JSON
envelopes) and, through the repository's ``tools/gen_scale_data.py``, the
TPC-H-shaped star schema the query catalog reads.  Same seed, same bytes.
No network access.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: airports whose departures/arrivals the backfill ingests
INGESTED_AIRPORTS = ("EDDF", "EGLL", "LFPG")
#: first day of every generated flight history
EPOCH_DAY = dt.date(2018, 1, 1)

_HEX = np.array(list("0123456789abcdef"))
_UPPER = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_DIGITS = np.array(list("0123456789"))


def _fixed_strings(codes: np.ndarray, width: int) -> np.ndarray:
    """(n, width) array of 1-char strings -> (n,) array of width-char strings."""
    return np.ascontiguousarray(codes).view(f"<U{width}").ravel()


def hex_ids(ints: np.ndarray) -> np.ndarray:
    shifts = np.arange(20, -1, -4)
    return _fixed_strings(_HEX[(ints[:, None] >> shifts) & 15], 6)


def _letters(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    return _fixed_strings(_UPPER[rng.integers(0, 26, (n, width))], width)


def _digits(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    return _fixed_strings(_DIGITS[rng.integers(0, 10, (n, width))], width)


def _concat(*parts: np.ndarray | str) -> np.ndarray:
    out = parts[0]
    for p in parts[1:]:
        out = np.char.add(out, p)
    return out


def _with_nulls(rng: np.random.Generator, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < share] = None
    return out


def day_epoch(day: dt.date) -> int:
    return int(dt.datetime.combine(day, dt.time(), tzinfo=dt.timezone.utc).timestamp())


# --- dimension sources -------------------------------------------------------


class DimSources:
    """Reference-shaped dimension sources with a known valid-row count.

    The aircraft DB keeps a seeded share of rows that ``clean_aircrafts``
    must drop (all-empty lines, designators longer than 4 chars, type codes
    not 3 chars long), so the expected dim size is known exactly.
    """

    def __init__(self, seed: int, n_aircrafts: int, n_airports: int):
        self.rng = np.random.default_rng([seed, 11])
        rng = self.rng
        # lookup sources: unique codes so every broadcast join is 0..1
        self.manufacturers = [f"MF{i:04d}" for i in range(400)]
        self.type_codes = [
            f"{a}{b}{c}" for a in "LHS" for b in "1234" for c in "JPT"
        ]  # 36 valid 3-char ICAO type descriptions
        codes = rng.permutation(26 * 26)[:600]
        self.airline_iata = [f"{_UPPER[c // 26]}{_UPPER[c % 26]}" for c in codes]
        codes3 = rng.permutation(26 ** 3)[:600]
        self.airline_icao = [
            f"{_UPPER[c // 676]}{_UPPER[(c // 26) % 26]}{_UPPER[c % 26]}" for c in codes3
        ]
        # aircraft DB; icao24 ids live below 2**23 so feeds can draw misses above
        self.next_id = 0
        self.aircrafts = self._aircraft_rows(n_aircrafts)
        # airports: the ingested ones first, then generated 4-letter codes
        codes = set(INGESTED_AIRPORTS)
        gen = []
        while len(gen) < n_airports - len(INGESTED_AIRPORTS):
            c = "".join(rng.choice(_UPPER, 4))
            if c not in codes:
                codes.add(c)
                gen.append(c)
        icao = list(INGESTED_AIRPORTS) + gen
        n = len(icao)
        self.airports = {
            "name": [f"Airport {i:05d}" for i in rng.permutation(n)],
            "iata": [c[1:] for c in icao],
            "icao": icao,
            "country": [f"Country {i}" for i in rng.integers(0, 120, n)],
            # integral latitudes appear as JSON ints: the reference's drift
            "lat": [float(v) if i % 7 else int(v) for i, v in
                    enumerate(np.round(rng.uniform(-60, 70, n), 3))],
            "lon": [float(v) for v in np.round(rng.uniform(-180, 180, n), 3)],
            "alt": [int(v) for v in rng.integers(0, 3000, n)],
        }

    def _aircraft_rows(self, n: int) -> dict[str, np.ndarray]:
        rng = self.rng
        ids = (
            np.arange(self.next_id, self.next_id + n, dtype=np.int64) * 7919
        ) % (1 << 23)
        self.next_id += n
        airline = rng.integers(0, len(self.airline_icao) + 200, n)
        known = airline < len(self.airline_icao)
        op_icao = np.where(
            known & (rng.random(n) < 0.7),
            np.array(self.airline_icao + [""] * 200, dtype=object)[airline], None
        )
        op_iata = np.where(
            known & (op_icao == None),  # noqa: E711 — elementwise
            np.array(self.airline_iata + [""] * 200, dtype=object)[airline], None
        )
        designator = _letters(rng, n, 4).astype(object)
        bad_designator = rng.random(n) < 0.01
        designator[bad_designator] = np.char.add(
            designator[bad_designator].astype(str), "XX"
        )
        icao_type = np.array(self.type_codes, dtype=object)[
            rng.integers(0, len(self.type_codes), n)
        ]
        bad_type = rng.random(n) < 0.01
        icao_type[bad_type] = "L2"
        line_num = _digits(rng, n, 4).astype(object)
        sentinel = rng.random(n)
        line_num[sentinel < 0.05] = "-"
        line_num[(sentinel >= 0.05) & (sentinel < 0.07)] = "\tN/A"
        rows = {
            "icao24_addr": hex_ids(ids).astype(object),
            "registration": _concat(
                _letters(rng, n, 1), "-", _letters(rng, n, 4)
            ).astype(object),
            "manufacturer_code": np.array(self.manufacturers, dtype=object)[
                rng.integers(0, len(self.manufacturers), n)
            ],
            "manufacturer_name": _concat("Maker ", _letters(rng, n, 5)).astype(object),
            "model": _concat("Model ", _digits(rng, n, 3)).astype(object),
            "icao_designator": designator,
            "serial_num": _digits(rng, n, 6).astype(object),
            "line_num": line_num,
            "icao_type": icao_type,
            "operator_name": _concat("Operator ", _letters(rng, n, 6)).astype(object),
            "operator_callsign": _letters(rng, n, 6).astype(object),
            "operator_icao": op_icao,
            "operator_iata": op_iata,
            "owner": _concat("Owner ", _letters(rng, n, 6)).astype(object),
            "note": _with_nulls(rng, _letters(rng, n, 8), 0.9),
        }
        blank = rng.random(n) < 0.002  # all-empty CSV lines
        for col in rows.values():
            col[blank] = None
        return rows

    def valid_mask(self) -> np.ndarray:
        a = self.aircrafts
        blank = a["icao24_addr"] == None  # noqa: E711
        desig_ok = np.array([d is None or len(d) <= 4 for d in a["icao_designator"]])
        type_ok = np.array([t is None or len(t) == 3 for t in a["icao_type"]])
        return ~blank & desig_ok & type_ok

    def valid_icao24(self) -> set[str]:
        return set(self.aircrafts["icao24_addr"][self.valid_mask()])

    def write(self, out_dir: str) -> dict[str, str]:
        """Write the current snapshot; returns the path of every source."""
        os.makedirs(out_dir, exist_ok=True)
        paths = {
            "aircrafts": os.path.join(out_dir, "aircraft-database.csv"),
            "manufacturers": os.path.join(out_dir, "doc8643Manufacturers.csv"),
            "types": os.path.join(out_dir, "doc8643AircraftTypes.csv"),
            "airlines": os.path.join(out_dir, "airlines.json"),
            "airports": os.path.join(out_dir, "airports.json"),
        }
        table = pa.table({c: pa.array(v, pa.string()) for c, v in self.aircrafts.items()})
        pacsv.write_csv(
            table, paths["aircrafts"], pacsv.WriteOptions(include_header=False)
        )
        # the manufacturers file starts with a header line the plan skips
        with open(paths["manufacturers"], "w") as f:
            f.write("Code,Name\n")
            for i, code in enumerate(self.manufacturers):
                f.write(f"{code},Manufacturer {i}\n")
        with open(paths["types"], "w") as f:
            for i, code in enumerate(self.type_codes):
                f.write(f"Type {code},{code},D{i:03d},{int(code[1])},{code[2]},MF{i:04d},Model {i},M\n")
        with open(paths["airlines"], "w") as f:
            json.dump({"rows": [
                {"Name": f"Airline {i}", "Code": iata, "ICAO": icao}
                for i, (iata, icao) in enumerate(zip(self.airline_iata, self.airline_icao))
            ]}, f)
        ap = self.airports
        with open(paths["airports"], "w") as f:
            json.dump({"rows": [
                {k: ap[k][i] for k in ap} for i in range(len(ap["icao"]))
            ]}, f)
        return paths


# --- OpenSky /flights payloads -------------------------------------------------


class FlightFeed:
    """Deterministic OpenSky ``/flights/{departure,arrival}`` payloads.

    A payload depends only on (seed, airport, kind, day, late batches), not
    on call order.  Departure ``firstSeen`` and arrival ``lastSeen`` fall
    inside the requested day as the API guarantees, and are distinct
    within an airport-day-kind, so re-fetching a day yields the rows the
    lake already holds.  ``icao24`` draws are Zipf-skewed over the aircraft
    DB; ``miss_share`` of them are ids absent from it.
    """

    def __init__(self, seed: int, aircraft_ids: list[str], counterparts: list[str],
                 rows_per_kind: int = 500, late_share: float = 0.03,
                 miss_share: float = 0.05):
        self.seed = seed
        self.aircraft_ids = np.array(aircraft_ids, dtype=object)
        # two codes no generated airport can have: unresolved dim lookups
        self.counterparts = np.array(counterparts + ["ZZ9A", "ZZ9B"], dtype=object)
        self.rows_per_kind = rows_per_kind
        self.late_rows = max(1, int(rows_per_kind * late_share))
        self.miss_share = miss_share
        self.late_batches: dict[tuple[str, dt.date], int] = {}

    def add_late_rows(self, airport: str, day: dt.date) -> None:
        key = (airport, day)
        self.late_batches[key] = self.late_batches.get(key, 0) + 1

    def payload(self, airport: str, kind: str, day: dt.date) -> list[dict]:
        """The day's rows: the base batch plus every late batch so far."""
        key = [self.seed, INGESTED_AIRPORTS.index(airport), (day - EPOCH_DAY).days,
               kind == "arrival"]
        seconds = np.random.default_rng(key).permutation(86400)
        rows: list[dict] = []
        start = 0
        for batch in range(self.late_batches.get((airport, day), 0) + 1):
            n = self.rows_per_kind if batch == 0 else self.late_rows
            rows += self._batch(np.random.default_rng(key + [batch]), airport, kind,
                                day_epoch(day) + seconds[start:start + n])
            start += n
        return rows

    def _batch(self, rng: np.random.Generator, airport: str, kind: str,
               event_ts: np.ndarray) -> list[dict]:
        n = len(event_ts)
        duration = rng.integers(1200, 43200, n)
        ranks = (rng.zipf(1.3, n) - 1) % len(self.aircraft_ids)
        icao24 = self.aircraft_ids[ranks]
        miss = rng.random(n) < self.miss_share
        icao24[miss] = hex_ids(rng.integers(1 << 23, 1 << 24, int(miss.sum())))
        other = self.counterparts[rng.integers(0, len(self.counterparts), n)]
        other[rng.random(n) < 0.1] = None
        callsign = _concat(_letters(rng, n, 3), _digits(rng, n, 4))
        ints = rng.integers(0, 5000, (n, 4))
        cands = rng.integers(0, 4, (n, 2))
        if kind == "departure":
            first, last = event_ts, event_ts + duration
            dep, arr = [airport] * n, other
        else:
            first, last = event_ts - duration, event_ts
            dep, arr = other, [airport] * n
        return [
            {
                "icao24": icao24[i],
                "firstSeen": int(first[i]),
                "estDepartureAirport": dep[i],
                "lastSeen": int(last[i]),
                "estArrivalAirport": arr[i],
                "callsign": str(callsign[i]),
                "estDepartureAirportHorizDistance": int(ints[i, 0]),
                "estDepartureAirportVertDistance": int(ints[i, 1]),
                "estArrivalAirportHorizDistance": int(ints[i, 2]),
                "estArrivalAirportVertDistance": int(ints[i, 3]),
                "departureAirportCandidatesCount": int(cands[i, 0]),
                "arrivalAirportCandidatesCount": int(cands[i, 1]),
            }
            for i in range(n)
        ]


# --- star schema for the query catalog ------------------------------------------


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem/documents
    with ``tools/gen_scale_data.py`` (the distributions profiled from the
    catalog's test data) from one seeded generator; returns rows per table."""
    import gen_scale_data as g

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    with contextlib.redirect_stdout(sys.stderr):  # it reports each file it writes
        g.gen_dims(out_dir, sf, rng)
        g.gen_facts(out_dir, sf, rng)
        g.gen_documents(out_dir, sf, rng)
    return {
        name[:-len(".parquet")]: pq.read_metadata(os.path.join(out_dir, name)).num_rows
        for name in os.listdir(out_dir)
    }
