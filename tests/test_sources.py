"""Source/sink tests: JSON envelope, CSV, REST (hermetic fake transport),
partitioned parquet round-trip, bucketed co-located join."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_opensky_spark import schemas
from etl_opensky_spark.sources.files import read_csv, read_json_envelope, read_parquet
from etl_opensky_spark.sources.rest import (
    ResponseValidationError,
    RestSource,
    validate_flight_rows,
)
from etl_opensky_spark.sources.sinks import (
    write_bucketed_table,
    write_parquet_partitioned,
)
from tests.conftest import rows


def test_read_json_envelope_with_casts(spark, tmp_path):
    # lat emitted as int (FlightRadar24 drift the reference documents)
    payload = {
        "version": 1,
        "rows": [
            {"name": "A", "iata": "AAA", "icao": "AAAA", "country": "X",
             "lat": 7, "lon": 8.5, "alt": 100},
            {"name": "B", "iata": None, "icao": "BBBB", "country": "Y",
             "lat": -1.25, "lon": 0, "alt": None},
        ],
    }
    p = tmp_path / "airports.json"
    p.write_text(json.dumps(payload))
    df = read_json_envelope(spark, str(p), cast_to=schemas.SRC_AIRPORTS)
    assert df.schema == schemas.SRC_AIRPORTS
    got = {r["name"]: r for r in df.collect()}
    assert got["A"]["lat"] == pytest.approx(7.0) and isinstance(got["A"]["lat"], float)


def test_read_csv_schema_bound(spark, tmp_path):
    p = tmp_path / "manufacturers.csv"
    p.write_text("Code,Name\nAIRB,AIRBUS\n")
    df = read_csv(spark, str(p), schemas.SRC_MANUFACTURERS)
    assert rows(df) == [("AIRB", "AIRBUS"), ("Code", "Name")]


def test_parquet_partitioned_roundtrip_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(2018, 1, 1, "a"), (2018, 1, 2, "b")],
        "flight_year int, flight_month int, flight_day int, v string",
    )
    path = str(tmp_path / "lake")
    write_parquet_partitioned(df, path, ["flight_year", "flight_month", "flight_day"])
    back = read_parquet(spark, path).filter(F.col("flight_day") == 2)
    assert [r["v"] for r in back.collect()] == ["b"]
    # partition pruning visible in the physical plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "flight_day" in plan


def test_rest_source_fetch_and_retry(spark):
    calls = {"n": 0}

    def flaky_fetch(endpoint, params):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("flaky")
        return [
            {"icao24": "abc001", "firstSeen": 1514768400, "lastSeen": 1514772000,
             "estDepartureAirport": params["airport"], "extra_field": "dropped"},
        ]

    src = RestSource(fetch=flaky_fetch, schema=schemas.SRC_FLIGHTS, retries=5)
    df = src.fetch_batch(
        spark, "flights/departure", {"airport": "EDDF", "begin": 0, "end": 1}
    )
    assert calls["n"] == 3
    row = df.collect()[0]
    assert row["icao24"] == "abc001" and row["estDepartureAirport"] == "EDDF"
    assert row["callsign"] is None  # absent payload keys -> NULL
    assert "extra_field" not in df.columns


def test_rest_source_validation_and_exhaustion(spark):
    with pytest.raises(ResponseValidationError):
        validate_flight_rows([])
    with pytest.raises(ResponseValidationError):
        validate_flight_rows([{"no_icao": 1}])

    def always_bad(endpoint, params):
        raise ConnectionError("down")

    src = RestSource(fetch=always_bad, schema=schemas.SRC_FLIGHTS, retries=2)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        src.fetch_batch(spark, "flights/arrival", {})


def test_rest_source_distributed(spark):
    def fetch(endpoint, params):
        return [
            {"icao24": f"ac{params['airport']}", "firstSeen": 1514768400,
             "lastSeen": 1514772000},
        ]

    src = RestSource(fetch=fetch, schema=schemas.SRC_FLIGHTS)
    params_df = spark.createDataFrame(
        [("EDDF", 0, 1), ("EGLL", 0, 1)], "airport string, begin long, end long"
    )
    out = src.distributed_frame(params_df, "flights/departure", ["airport", "begin", "end"])
    assert sorted(r["icao24"] for r in out.collect()) == ["acEDDF", "acEGLL"]
    assert out.schema == schemas.SRC_FLIGHTS


def test_write_table_overwrite_partitions_in_memory_catalog(spark, tmp_path):
    from etl_opensky_spark.sources.sinks import write_table

    name = "t_owp"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    day1 = spark.createDataFrame([(1, 10), (2, 10)], "id long, d int")
    day2 = spark.createDataFrame([(3, 20)], "id long, d int")
    # first call creates the table (fallback path)
    write_table(day1, name, mode="overwrite_partitions", partition_by=["d"])
    write_table(day2, name, mode="append", partition_by=["d"])
    # rewrite only partition d=10; d=20 must survive
    redo = spark.createDataFrame([(9, 10)], "id long, d int")
    write_table(redo, name, mode="overwrite_partitions", partition_by=["d"])
    got = sorted((r["id"], r["d"]) for r in spark.table(name).collect())
    assert got == [(3, 20), (9, 10)]
    # column order robustness: insertInto re-selects into table order,
    # so a (d, id)-ordered frame still lands in the right columns —
    # and partition d=20 is rewritten (3 -> 11)
    redo2 = spark.createDataFrame([(20, 11)], "d int, id long").select("d", "id")
    write_table(redo2, name, mode="overwrite_partitions")
    got2 = sorted((r["id"], r["d"]) for r in spark.table(name).collect())
    assert got2 == [(9, 10), (11, 20)]
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_range_sorted_files_cover_disjoint_slices(spark, tmp_path):
    """Range-sorted layout: every parquet file spans a narrow, pairwise
    non-overlapping id slice (checked from actual footer statistics), so
    range predicates can skip whole files/row groups."""
    import glob

    import pyarrow.parquet as pq

    from etl_opensky_spark.sources.sinks import write_range_sorted

    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "sorted")
    write_range_sorted(df, path, ["id"], num_files=8)

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # actually split across files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint slices
    # full span covered, nothing lost
    assert spark.read.parquet(path).count() == 10_000


def test_write_parquet_zordered_narrows_both_dims(spark, tmp_path):
    """Z-ordered layout: footer min/max stats must be narrow on BOTH
    curve dimensions (a plain single-column sort gives full-span stats
    on the second column in every file — no skipping possible)."""
    import glob

    import pyarrow.parquet as pq

    from etl_opensky_spark.sources.sinks import write_parquet_zordered

    n = 128
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
    )
    path = str(tmp_path / "zorder")
    write_parquet_zordered(df, path, ["x", "y"], bits=7, num_files=16)

    def spans(col_idx):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                out.append(max(maxs) - min(mins))
        return out

    names = pq.ParquetFile(glob.glob(f"{path}/*.parquet")[0]).schema.names
    sx, sy = spans(names.index("x")), spans(names.index("y"))
    assert len(sx) >= 8
    # typical file covers a tile: BOTH dims well under the full domain
    sx.sort(), sy.sort()
    assert sx[len(sx) // 2] <= n // 2
    assert sy[len(sy) // 2] <= n // 2
    # layout-only: nothing lost
    assert spark.read.parquet(path).count() == n * n


def test_compact_parquet_merges_small_files_preserving_rows(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from etl_opensky_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "lake")
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("day"), F.col("id").alias("v")
    )
    # simulate append dribble: many tiny files per partition
    for _ in range(4):
        df.repartition(8).write.mode("append").partitionBy("day").parquet(path)
    before_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    before_files = len(glob.glob(f"{path}/day=*/*.parquet"))

    n = compact_parquet(spark, path, partition_by=["day"],
                        target_rows_per_file=10_000)
    assert n == 3
    after_files = len(glob.glob(f"{path}/day=*/*.parquet"))
    after_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows          # layout-only: values identical
    assert after_files < before_files
    assert after_files <= 3                   # one file per partition at this size


def test_compact_parquet_unpartitioned(spark, tmp_path):
    import glob

    from etl_opensky_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "flat")
    for _ in range(5):
        spark.range(100).write.mode("append").parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    compact_parquet(spark, path, target_rows_per_file=10_000)
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed on the same key join WITHOUT an Exchange."""
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed_table(a, "bucketed_a", ["k"], 4, sort_by=["k"])
    write_bucketed_table(b, "bucketed_b", ["k"], 4, sort_by=["k"])
    # force the sort-merge path: tiny test tables would otherwise broadcast
    # (planner then ignores bucketing entirely)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert "Bucketed: true" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
