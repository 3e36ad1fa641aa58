"""lake_upserts: the flights fact kept in a ``sources.versioned`` lake.

Set-up commits an initial day-partitioned snapshot with footer stats on
``firstSeen``.  A seeded stream then mixes commits with reads: day appends
and key-unique late corrections through ``merge_versioned`` on
(icao24, firstSeen), privacy deletes through ``delete_where``, a periodic
``optimize_small_files``; snapshot reads with ``where=`` date skipping and
``as_of`` time-travel reads.  Read cost, write cost and space trade
against each other, so all three are reported.  Every read and the final
snapshot are checked against a model the benchmark replays itself.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
from functools import partial

import numpy as np

import gen
from harness import FAILED, Bench, expect, p90

INITIAL_DAYS = 4
ROWS_PER_DAY = 1_000
CORRECTIONS = 100
N_AIRCRAFT = 3_000
READ_DAYS = 2
KEYS = ["icao24", "firstSeen"]
COLUMNS = ["icao24", "firstSeen", "lastSeen", "estDepartureAirport",
           "estArrivalAirport", "callsign", "flight_date"]


def _day_rows(seed: int, day_index: int, aircraft: np.ndarray) -> list[tuple]:
    rng = np.random.default_rng([seed, 21, day_index])
    day = gen.EPOCH_DAY + dt.timedelta(days=day_index)
    first = gen.day_epoch(day) + rng.permutation(86400)[:ROWS_PER_DAY]
    last = first + rng.integers(1200, 43200, ROWS_PER_DAY)
    icao = aircraft[rng.integers(0, len(aircraft), ROWS_PER_DAY)]
    airports = np.array(gen.INGESTED_AIRPORTS)
    dep = airports[rng.integers(0, len(airports), ROWS_PER_DAY)]
    arr = airports[rng.integers(0, len(airports), ROWS_PER_DAY)]
    date_key = day.year * 10000 + day.month * 100 + day.day
    return [
        (str(icao[i]), int(first[i]), int(last[i]), str(dep[i]), str(arr[i]),
         f"CS{i:04d}", date_key)
        for i in range(ROWS_PER_DAY)
    ]


def _disk_inodes(base: str) -> dict[int, int]:
    out = {}
    for path in glob.glob(os.path.join(base, "**"), recursive=True):
        if os.path.isfile(path):
            st = os.stat(path)
            out[st.st_ino] = st.st_size
    return out


def _live_bytes(base: str) -> int:
    """Bytes of the data files the current snapshot directory holds (the
    commit log names that directory; see the ``sources.versioned`` layout)."""
    last = max(glob.glob(os.path.join(base, "_commits", "*.json")))
    with open(last) as f:
        snap = os.path.join(base, json.load(f)["dir"])
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(snap, "**", "*.parquet"),
                                                     recursive=True))


def run(bench: Bench) -> dict:
    from pyspark.sql import functions as F

    from etl_opensky_spark.sources import versioned as V

    tr = bench.tracer
    aircraft = gen.hex_ids(np.random.default_rng([bench.seed, 20]).permutation(1 << 20)[:N_AIRCRAFT])
    schema = ("icao24 string, firstSeen long, lastSeen long, estDepartureAirport string, "
              "estArrivalAirport string, callsign string, flight_date int")
    initial = [r for d in range(INITIAL_DAYS) for r in _day_rows(bench.seed, d, aircraft)]

    def setup(rep_dir: str):
        spark = bench.start_session(os.path.join(rep_dir, "warehouse"))
        base = os.path.join(rep_dir, "lake")
        with tr.span("sources.versioned.write_version"):
            version = V.write_version(
                spark.createDataFrame(initial, schema), base,
                partition_by=["flight_date"], stats_cols=["firstSeen"],
            )
        return spark, base, version

    spark, base, version = bench.setup(setup)
    model = {r[:2]: r for r in initial}
    versions = {version: dict(model)}
    seen = _disk_inodes(base)
    bytes_per_row = sum(seen.values()) / len(initial)
    written: list[int] = []
    user_rows = {"committed": 0, "merged": 0}
    prune_ratios: list[float] = []
    rng = np.random.default_rng([bench.seed, 22])
    next_day = INITIAL_DAYS

    def after_commit(v: int, rows: int, merged: int) -> None:
        """Benchmark bookkeeping after a commit returned: the model's copy
        for time travel and the bytes the commit landed on disk."""
        nonlocal seen
        versions[v] = dict(model)
        now = _disk_inodes(base)
        written.append(sum(size for ino, size in now.items() if ino not in seen))
        seen = now
        user_rows["committed"] += rows
        user_rows["merged"] += merged

    merge = partial(V.merge_versioned, keys=KEYS, partition_by=["flight_date"],
                    keys_are_partition_stable=True, stats_cols=["firstSeen"])

    def commit_merge(op, rows: list[tuple]) -> None:
        df = spark.createDataFrame(rows, schema)
        v = op(tr.wrap("sources.versioned.merge", lambda: merge(spark, base, df)))
        if v is FAILED:
            return
        for r in rows:
            model[r[:2]] = r
        after_commit(v, len(rows), len(rows))

    def commit_delete(op, icao: str) -> None:
        out = op(tr.wrap("sources.versioned.delete",
                         lambda: V.delete_where(spark, base, F.col("icao24") == icao)))
        if out is FAILED:
            return
        v, n = out
        doomed = [k for k in model if k[0] == icao]
        bench.check(f"delete_where({icao})", lambda: expect(
            n == len(doomed), f"delete_where({icao}) removed {n} rows, model has {len(doomed)}"))
        for k in doomed:
            del model[k]
        after_commit(v, n, 0)

    def commit_optimize(op) -> None:
        out = op(tr.wrap("sources.versioned.optimize", lambda: V.optimize_small_files(
            spark, base, target_rows_per_file=4 * ROWS_PER_DAY)))
        if out is not FAILED:
            after_commit(out[0], 0, 0)

    #: (version the read must see, window, rows read)
    reads: list[tuple[int, tuple[int, int], list]] = []

    def read(as_of: int | None, window: tuple[int, int]) -> list:
        return (V.read_version(spark, base, as_of=as_of, where={"firstSeen": window})
                .filter(F.col("firstSeen").between(*window)).select(*COLUMNS).collect())

    def read_window() -> tuple[int, int]:
        d0 = int(rng.integers(0, next_day - READ_DAYS + 1))
        lo = gen.day_epoch(gen.EPOCH_DAY + dt.timedelta(days=d0))
        return lo, lo + READ_DAYS * 86400 - 1

    def corrections() -> list[tuple]:
        keys = list(model)
        fixes = []
        for i in rng.choice(len(keys), CORRECTIONS, replace=False):
            r = model[keys[int(i)]]
            fixes.append((r[0], r[1], r[2] + int(rng.integers(60, 600)), r[3],
                          str(rng.choice(gen.INGESTED_AIRPORTS)), r[5], r[6]))
        return fixes

    def run_op(kind: str, timed: bool) -> None:
        nonlocal next_day
        if timed:
            op_kind = "read" if kind.startswith("read") else "commit"
            op = partial(bench.timed, op_kind)
        else:
            op = bench.warmup
        if kind.startswith("read"):
            window = read_window()
            as_of = int(rng.choice(sorted(versions))) if kind == "read_as_of" else None
            if tr.enabled:
                kept, total = V.prune_files(base, {"firstSeen": window}, as_of=as_of)
                prune_ratios.append(len(kept) / total)
            rows = op(tr.wrap("sources.versioned.read", partial(read, as_of, window)))
            if rows is not FAILED:
                reads.append((max(versions) if as_of is None else as_of, window, rows))
        elif kind == "append":
            commit_merge(op, _day_rows(bench.seed, next_day, aircraft))
            next_day += 1
        elif kind == "correct":
            commit_merge(op, corrections())
        elif kind == "delete":
            live = sorted({k[0] for k in model})
            commit_delete(op, live[int(rng.integers(0, len(live)))])
        else:
            commit_optimize(op)

    # Runs repeat whole cycles of op kinds so every run compares like with
    # like (commit samples mix four kinds); the seed picks keys, windows,
    # versions and values.  Untimed warm-up first: every kind of op once,
    # before the JVM has compiled its plans.
    cycle = ["read", "read_as_of", "append", "read", "read_as_of", "correct",
             "read", "read_as_of", "delete", "read", "read_as_of", "optimize"]
    for kind in dict.fromkeys(cycle):
        run_op(kind, timed=False)
    cycles = 0
    while bench.more() or cycles == 0:
        for kind in cycle:
            run_op(kind, timed=True)
        cycles += 1

    # --- output checks (untimed) ---------------------------------------------
    def check_reads() -> None:
        for as_of, (lo, hi), rows in reads:
            state = versions[as_of]
            want = sorted(r for r in state.values() if lo <= r[1] <= hi)
            got = sorted(map(tuple, rows))
            expect(got == want, f"read as_of={as_of} window={lo}..{hi}: {len(got)} rows, "
                   f"model {len(want)}, first difference "
                   f"{next(((g, w) for g, w in zip(got, want) if g != w), None)}")

    def check_final() -> None:
        got = sorted(map(tuple, V.read_version(spark, base).select(*COLUMNS).collect()))
        expect(got == sorted(model.values()), f"final snapshot {len(got)} rows != model {len(model)}")

    bench.check("lake_upserts.reads", check_reads)
    bench.check("lake_upserts.final", check_final)

    def layer_metrics() -> dict:
        live = _live_bytes(base)
        total = sum(_disk_inodes(base).values())
        return {
            "sources.versioned.merge_s": (tr.median("sources.versioned.merge"), "s"),
            "sources.versioned.delete_s": (tr.median("sources.versioned.delete"), "s"),
            "sources.versioned.optimize_s": (tr.median("sources.versioned.optimize"), "s"),
            "sources.versioned.read_s": (tr.median("sources.versioned.read"), "s"),
            "sources.versioned.prune_kept_ratio": (
                sum(prune_ratios) / len(prune_ratios) if prune_ratios else 0.0, "ratio"),
            "sources.versioned.bytes_written_per_commit": (
                sum(written) / len(written) if written else 0.0, "B"),
            "sources.versioned.space_amp": (total / live, "ratio"),
            "sources.versioned.live_files": (V.describe_table(base)["n_files"], "count"),
        }

    commits, reads_s = bench.ops["commit"], bench.ops["read"]
    merged_bytes = user_rows["merged"] * bytes_per_row
    return {
        "primary": "commit",
        "secondary": "read",
        "labels": ("commit", "snapshot_read"),
        "extra": {
            "snapshot_read_s.p90": (p90(reads_s) if reads_s else 0.0, "s", len(reads_s)),
            # bytes landed on disk per byte of user data merged in
            "lake_write_amp": (sum(written) / merged_bytes if merged_bytes else 0.0,
                               "ratio", len(written)),
            "committed_rows_per_s": (user_rows["committed"] / sum(commits) if commits else 0.0,
                                     "rows/s", len(commits)),
        },
        "layer_metrics": layer_metrics,
        "notes": {"cycles": cycles},
    }
