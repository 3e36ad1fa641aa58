"""Unit tests for SURVEY §2 core operators."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.operators.aggregates import top_k_per_group
from etl_opensky_spark.operators.filters import filter_partition, nullify_values
from etl_opensky_spark.operators.joins import check_fk, fk_orphans, lookup_dim
from etl_opensky_spark.operators.keys import date_dim_id, surrogate_key
from etl_opensky_spark.operators.projections import (
    drop_columns,
    rename_columns,
    select_columns,
    with_columns,
)
from etl_opensky_spark.operators.reshape import date_spine, melt
from etl_opensky_spark.operators.sets import (
    append_missing,
    append_missing_by_key,
    union_by_name,
)
from tests.conftest import rows


# --- projections -------------------------------------------------------------


def test_select_drop_rename_with_columns(spark):
    df = spark.createDataFrame([(1, "a", 10.0)], "id int, name string, v double")
    assert select_columns(df, ["name", "id"]).columns == ["name", "id"]
    assert drop_columns(df, ["v", "not_there"]).columns == ["id", "name"]
    assert rename_columns(df, {"v": "value"}).columns == ["id", "name", "value"]
    out = with_columns(df, {"v2": F.col("v") * 2, "v": F.col("v") + 1})
    assert rows(out) == [(1, "a", 11.0, 20.0)]


# --- filters -----------------------------------------------------------------


def test_filter_partition(spark):
    df = spark.createDataFrame(
        [(2018, 1, 1, "x"), (2018, 1, 2, "y"), (2019, 1, 1, "z")],
        "y int, m int, d int, v string",
    )
    assert rows(filter_partition(df, y=2018, m=1, d=2)) == [(2018, 1, 2, "y")]
    assert filter_partition(df).count() == 3


def test_nullify_values(spark):
    df = spark.createDataFrame(
        [("\tN/A",), ("-",), ("ok",), (None,)], "line_num string"
    )
    out = nullify_values(df, {"line_num": ["\tN/A", "-", "n/a"]})
    vals = [r[0] for r in out.collect()]
    assert vals.count(None) == 3 and "ok" in vals  # sentinels -> NULL, rest kept


# --- joins -------------------------------------------------------------------


def test_lookup_dim_role_playing(spark):
    fact = spark.createDataFrame(
        [(1, "AAA", "BBB"), (2, "AAA", None), (3, "ZZZ", "AAA")],
        "fid int, dep string, arr string",
    )
    dim = spark.createDataFrame(
        [(10, "AAA"), (20, "BBB")], "dim_id int, icao string"
    )
    out = lookup_dim(
        fact, dim, "dep", "icao", attach={"dim_id": "dep_dim_id"}
    )
    out = lookup_dim(
        out, dim, "arr", "icao", attach={"dim_id": "arr_dim_id"}
    )
    assert rows(out.select("fid", "dep_dim_id", "arr_dim_id")) == [
        (1, 10, 20),
        (2, 10, None),
        (3, None, 10),
    ]


def test_fk_orphans_and_check(spark):
    fact = spark.createDataFrame(
        [("a",), ("b",), (None,)], "k string"
    )
    dim_ok = spark.createDataFrame([("a",), ("b",), ("c",)], "pk string")
    dim_bad = spark.createDataFrame([("a",)], "pk string")
    assert fk_orphans(fact, "k", dim_ok, "pk").count() == 0  # nulls exempt
    check_fk(fact, "k", dim_ok, "pk")
    assert [r[0] for r in fk_orphans(fact, "k", dim_bad, "pk").collect()] == ["b"]
    with pytest.raises(ValueError, match="FK violation"):
        check_fk(fact, "k", dim_bad, "pk")


# --- set ops -----------------------------------------------------------------


def test_append_missing_semantics(spark):
    # EXCEPT: positional, null-safe, dedups the input
    new = spark.createDataFrame(
        [(1, None), (1, None), (2, "b"), (3, "c")], "id int, v string"
    )
    existing = spark.createDataFrame([(2, "b"), (9, None)], "id int, v string")
    out = rows(append_missing(new, existing))
    # (1, None) collapses to one row (EXCEPT is distinct); (2,"b") removed
    assert out == [(1, None), (3, "c")]


def test_append_missing_null_safe(spark):
    new = spark.createDataFrame([(1, None)], "id int, v string")
    existing = spark.createDataFrame([(1, None)], "id int, v string")
    assert append_missing(new, existing).count() == 0  # NULL = NULL under EXCEPT


def test_append_missing_by_key(spark):
    new = spark.createDataFrame([(1, "x"), (1, "x2"), (2, "y")], "id int, v string")
    existing = spark.createDataFrame([(1, "whatever")], "id int, v string")
    out = rows(append_missing_by_key(new, existing, ["id"]))
    assert out == [(2, "y")]  # key-based: both id=1 rows dropped, no dedup of id=2


def test_union_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id int, v string")
    b = spark.createDataFrame([("y", 2)], "v string, id int")
    assert rows(union_by_name(a, b)) == [(1, "x"), (2, "y")]


# --- keys --------------------------------------------------------------------


def test_surrogate_key_row_number_matches_sort(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "name string")
    out = rows(
        surrogate_key(df, ["name"], "sk", mode="row_number").select("name", "sk")
    )
    assert out == [("a", 1), ("b", 2), ("c", 3)]


def test_surrogate_key_hash_deterministic_and_distinct(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
    out1 = dict(rows(surrogate_key(df, ["name"], "sk").select("name", "sk")))
    out2 = dict(
        rows(
            surrogate_key(df.repartition(3), ["name"], "sk").select("name", "sk")
        )
    )
    assert out1 == out2  # stable under repartition (row_number would not be)
    assert len(set(out1.values())) == 3


def test_date_dim_id(spark):
    df = spark.createDataFrame([(dt.date(2018, 1, 31),)], "d date")
    assert rows(df.select(date_dim_id(F.col("d")).alias("k"))) == [(20180131,)]


# --- reshape -----------------------------------------------------------------


def test_melt(spark):
    df = spark.createDataFrame(
        [("Luft", "LH", "DLH"), ("NoCodes", None, None)],
        "name string, iata string, icao string",
    )
    out = melt(df, ["name"], ["iata", "icao"], "kind", "identifier")
    assert out.columns == ["name", "kind", "identifier"]
    assert out.count() == 4  # ids × value-cols, nulls kept as rows


def test_date_spine(spark):
    out = date_spine(spark, "2018-01-01", "2018-01-10")
    assert out.count() == 10
    vals = sorted(r[0] for r in out.collect())
    assert vals[0] == dt.date(2018, 1, 1) and vals[-1] == dt.date(2018, 1, 10)


# --- aggregates --------------------------------------------------------------


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1), ("g1", 5), ("g1", 3), ("g2", 7)], "g string, v int"
    )
    out = top_k_per_group(df, ["g"], F.col("v").desc(), k=2)
    assert rows(out) == [("g1", 3), ("g1", 5), ("g2", 7)]


# --- as-of join --------------------------------------------------------------


def test_asof_join_basic(spark):
    from etl_opensky_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)],
        "sym string, t int, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0, 100), ("A", 1, 101), ("A", 7, 102), ("B", 2, 103), ("B", 9, 104)],
        "sym string, t int, qty int",
    )
    out = asof_join(trades, quotes, on="t", by=["sym"], value_cols=["px"])
    got = {(r["sym"], r["t"]): r["px_asof"] for r in out.collect()}
    assert got == {
        ("A", 0): None,    # no quote yet
        ("A", 1): 10.0,    # exact-timestamp quote visible (<=)
        ("A", 7): 11.0,    # latest prior quote
        ("B", 2): None,
        ("B", 9): 20.0,
    }
    assert out.count() == trades.count()  # left join: every trade kept


def test_asof_join_attaches_latest_row_wholesale(spark):
    """A NULL field on the most recent right row must be attached AS NULL
    — never stitched from an older right row (DuckDB ASOF / merge_asof
    row-wholesale semantics)."""
    from etl_opensky_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("A", 1, 10.0, 5), ("A", 5, 11.0, None)],
        "sym string, t int, px double, sz int",
    )
    trades = spark.createDataFrame([("A", 7, 100)], "sym string, t int, qty int")
    out = asof_join(trades, quotes, on="t", by=["sym"], value_cols=["px", "sz"])
    row = out.collect()[0]
    assert row["px_asof"] == 11.0
    assert row["sz_asof"] is None  # from the t=5 row, NOT backfilled from t=1


def test_asof_join_salted_equals_unsalted_on_skewed_entity(spark):
    """One dominant entity (90% of rows) + salt_buckets: identical answer
    to the unsalted path, including seam inheritance across buckets and
    the NULL-before-first-quote edge."""
    import random

    from etl_opensky_spark.operators.asof import asof_join

    rng = random.Random(7)
    # hot entity: quotes at even times, trades everywhere; cold entity sparse
    quotes = [("HOT", t, float(t)) for t in range(0, 400, 2)] + [
        ("COLD", 100, 1.0), ("COLD", 300, 2.0)
    ]
    trades = [("HOT", rng.randrange(0, 420), i) for i in range(600)] + [
        ("COLD", 50, 9001), ("COLD", 150, 9002), ("COLD", 350, 9003)
    ]
    qdf = spark.createDataFrame(quotes, "sym string, t int, px double")
    tdf = spark.createDataFrame(trades, "sym string, t int, qty int")
    plain = asof_join(tdf, qdf, on="t", by=["sym"], value_cols=["px"])
    salted = asof_join(
        tdf, qdf, on="t", by=["sym"], value_cols=["px"], salt_buckets=8
    )
    key = lambda r: (r["sym"], r["t"], r["qty"], r["px_asof"])  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_asof_join_salted_spreads_hot_key_over_buckets(spark):
    """The salted window must partition on (by, bucket): the hot entity's
    rows land in >1 bucket (so >1 task at scale), and the plan's window
    spec carries the bucket column."""
    from etl_opensky_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("HOT", t, float(t)) for t in range(0, 100, 5)],
        "sym string, t int, px double",
    )
    trades = spark.createDataFrame(
        [("HOT", t, t) for t in range(100)], "sym string, t int, qty int"
    )
    out = asof_join(
        trades, quotes, on="t", by=["sym"], value_cols=["px"], salt_buckets=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bk" in plan  # window partition spec includes the salt bucket
    # bucket assignment itself spreads the single entity
    got = {r["t"]: r["px_asof"] for r in out.collect()}
    assert got[0] == 0.0 and got[99] == 95.0 and got[4] == 0.0
    from etl_opensky_spark.operators.joins import salted_join

    # heavily skewed big side: one hot key
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 999), (3, 1000)], "k int, payload int"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "sk int, name string")
    salted = salted_join(big, small, "k", "sk", how="inner", salt_buckets=8)
    plain = big.join(small, big["k"] == small["sk"], "inner")
    assert salted.count() == plain.count() == 501
    got = sorted((r["k"], r["payload"], r["name"]) for r in salted.collect())
    want = sorted((r["k"], r["payload"], r["name"]) for r in plain.collect())
    assert got == want


def test_interval_join_matches_naive(spark):
    import datetime as dt

    from etl_opensky_spark.operators.joins import interval_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, "u%d" % (i % 3), base + dt.timedelta(seconds=37 * i)) for i in range(40)]
    rrows = [(100 + i, "u%d" % (i % 3), base + dt.timedelta(seconds=11 * i)) for i in range(80)]
    left = spark.createDataFrame(lrows, "lid long, user string, ts timestamp")
    right = spark.createDataFrame(rrows, "rid long, user string, ts timestamp")

    for direction in ("both", "backward", "forward"):
        got = {
            (r["lid"], r["rid_r"])
            for r in interval_join(
                left, right, on="ts", by=["user"],
                tolerance_s=60, direction=direction,
            ).collect()
        }
        want = set()
        for lid, lu, lts in lrows:
            for rid, ru, rts in rrows:
                if lu != ru:
                    continue
                d = (rts - lts).total_seconds()
                ok = (
                    abs(d) <= 60 if direction == "both"
                    else -60 <= d <= 0 if direction == "backward"
                    else 0 <= d <= 60
                )
                if ok:
                    want.add((lid, rid))
        assert got == want, direction


def test_interval_join_is_equi_join_not_nested_loop(spark):
    import datetime as dt

    from etl_opensky_spark.operators.joins import interval_join

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, "u", base + dt.timedelta(seconds=i)) for i in range(100)],
        "eid long, user string, ts timestamp",
    )
    out = interval_join(df, df, on="ts", by=["user"], tolerance_s=10)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# --- rollup / histogram / profile -------------------------------------------


def test_time_rollup_reaggregation_lossless(spark):
    from etl_opensky_spark.operators.aggregates import (
        reaggregate_rollup,
        time_rollup,
    )

    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, 10), 1.0),
        ("a", dt.datetime(2024, 1, 1, 5, 30), 2.0),
        ("a", dt.datetime(2024, 1, 2, 1, 0), 4.0),
        ("b", dt.datetime(2024, 1, 1, 23, 59), 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    hourly = time_rollup(
        df, "ts", "hour", ["k"],
        {"n": F.count("*"), "s": F.sum("v"), "mx": F.max("v")},
    )
    assert hourly.count() == 4  # four distinct (hour, k) buckets
    daily = reaggregate_rollup(
        hourly, "day", ["k"], {"n": "count", "s": "sum", "mx": "max"}
    )
    got = {
        (r["k"], r["bucket"].day): (r["n"], r["s"], r["mx"])
        for r in daily.collect()
    }
    assert got == {
        ("a", 1): (2, 3.0, 2.0),
        ("a", 2): (1, 4.0, 4.0),
        ("b", 1): (1, 8.0, 8.0),
    }
    with pytest.raises(ValueError, match="not re-aggregable"):
        reaggregate_rollup(hourly, "day", ["k"], {"s": "avg"})


def test_merge_rollup_combine_equals_full_recompute(spark):
    from etl_opensky_spark.operators.aggregates import merge_rollup, time_rollup

    base_rows = [
        ("a", dt.datetime(2024, 1, 1, 0, 10), 1.0),
        ("a", dt.datetime(2024, 1, 1, 5, 30), 2.0),
        ("b", dt.datetime(2024, 1, 1, 23, 59), 8.0),
    ]
    delta_rows = [
        ("a", dt.datetime(2024, 1, 1, 5, 45), 16.0),  # lands in an EXISTING bucket
        ("a", dt.datetime(2024, 1, 2, 1, 0), 4.0),  # new bucket, existing key
        ("c", dt.datetime(2024, 1, 1, 0, 20), 32.0),  # brand-new group key
    ]
    schema = "k string, ts timestamp, v double"
    base = spark.createDataFrame(base_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    aggs = {"n": F.count("*"), "s": F.sum("v"), "mx": F.max("v")}
    measures = {"n": "count", "s": "sum", "mx": "max"}

    def canon(df):
        return {
            (r["k"], r["bucket"]): (r["n"], r["s"], r["mx"]) for r in df.collect()
        }

    merged = merge_rollup(
        time_rollup(base, "ts", "hour", ["k"], aggs),
        delta, "ts", "hour", ["k"], aggs, measures,
    )
    full = time_rollup(
        spark.createDataFrame(base_rows + delta_rows, schema),
        "ts", "hour", ["k"], aggs,
    )
    assert canon(merged) == canon(full)

    # replace mode: delta is the corrected FULL raw for its bucket
    fixed = spark.createDataFrame(
        [("b", dt.datetime(2024, 1, 1, 23, 58), 9.0)], schema
    )
    replaced = merge_rollup(
        time_rollup(base, "ts", "hour", ["k"], aggs),
        fixed, "ts", "hour", ["k"], aggs, measures, mode="replace",
    )
    got = canon(replaced)
    assert got[("b", dt.datetime(2024, 1, 1, 23, 0))] == (1, 9.0, 9.0)
    # untouched buckets pass through verbatim
    assert got[("a", dt.datetime(2024, 1, 1, 0, 0))] == (1, 1.0, 1.0)
    with pytest.raises(ValueError, match="unknown mode"):
        merge_rollup(
            time_rollup(base, "ts", "hour", ["k"], aggs),
            delta, "ts", "hour", ["k"], aggs, measures, mode="upsert",
        )


def test_equi_width_histogram(spark):
    from etl_opensky_spark.operators.aggregates import equi_width_histogram

    df = spark.createDataFrame(
        [(0.5,), (4.9,), (5.0,), (12.0,), (None,)], "x double"
    )
    got = dict(
        (r["bucket"], r["n"])
        for r in equi_width_histogram(df, "x", bin_width=5.0).collect()
    )
    assert got == {0: 2, 1: 1, 2: 1}  # NULL dropped, 5.0 lands in bucket 1


def test_profile_columns(spark):
    from etl_opensky_spark.operators.aggregates import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "id int, s string"
    )
    got = {r["column"]: r for r in profile_columns(df, ["id", "s"]).collect()}
    assert got["id"]["n_rows"] == 3 and got["id"]["n_nulls"] == 0
    assert got["id"]["n_distinct"] == 2
    assert got["id"]["min_value"] == "1" and got["id"]["max_value"] == "2"
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2


def test_winsorize_clips_to_group_quantiles(spark):
    from etl_opensky_spark.operators.aggregates import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 5.0)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", ["g"], lower_q=0.10, upper_q=0.90)
    got = {(r.g, r.v): r.v_winsorized for r in out.collect()}
    # group a: 1..100 → p10=10.9, p90=90.1 (linear interpolation)
    assert got[("a", 1.0)] == pytest.approx(10.9)
    assert got[("a", 100.0)] == pytest.approx(90.1)
    assert got[("a", 50.0)] == 50.0  # interior untouched
    # constant group: bounds collapse, values unchanged
    assert got[("b", 5.0)] == 5.0
    # row count preserved
    assert out.count() == len(rows)


def test_funnel_steps_strict_ordering(spark):
    from etl_opensky_spark.operators.behavior import funnel_steps

    # u1 completes all three in order; u2 clicks BEFORE first view (click
    # must not count); u3 views only; u4 has purchase->click->view (only
    # the view counts, order matters)
    rows = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        (2, 5, "click"), (2, 10, "view"), (2, 10, "click"),  # click not AFTER view
        (3, 10, "view"),
        (4, 10, "purchase"), (4, 20, "click"), (4, 30, "view"),
    ]
    df = spark.createDataFrame(
        [(u, float(t), e) for u, t, e in rows], "user_id long, ts double, event_type string"
    )
    out = funnel_steps(df, "user_id", "ts", "event_type", ["view", "click", "purchase"])
    got = {r.step_idx: (r.step, r.users) for r in out.collect()}
    assert got == {1: ("view", 4), 2: ("click", 1), 3: ("purchase", 1)}


def test_event_transitions_counts_and_tiebreak(spark):
    from etl_opensky_spark.operators.behavior import event_transitions

    rows = [
        (1, 1.0, 1, "a"), (1, 2.0, 2, "b"), (1, 3.0, 3, "a"),
        (2, 1.0, 4, "a"), (2, 1.0, 5, "b"),  # same ts -> event_id breaks tie
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_id long, event_type string"
    )
    out = event_transitions(df, "user_id", "ts", "event_type", order_cols=["event_id"])
    got = {(r.prev_type, r.next_type): r.n_transitions for r in out.collect()}
    assert got == {("a", "b"): 2, ("b", "a"): 1}


def test_normalize_features_known_values(spark):
    from etl_opensky_spark.operators.aggregates import normalize_features

    # group a: 1..5 -> mean 3, std sqrt(2.5), min 1 max 5, med 3, mad 1
    # group b: constant -> all three scores NULL (degenerate spread)
    rows = [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [("b", 7.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    out = normalize_features(df, "v", ["g"]).collect()
    by = {(r.g, r.v): r for r in out}
    import math
    r = by[("a", 5.0)]
    assert r.v_zscore == pytest.approx(2.0 / math.sqrt(2.5))
    assert r.v_minmax == pytest.approx(1.0)
    assert r.v_robust == pytest.approx(2.0 / 1.4826)
    assert by[("a", 3.0)].v_minmax == pytest.approx(0.5)
    rb = by[("b", 7.0)]
    assert rb.v_zscore is None and rb.v_minmax is None and rb.v_robust is None
    assert len(out) == len(rows)
