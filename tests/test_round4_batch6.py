"""Round-4 batch-6 operators: snapshot diff, triangle count, gap fill,
MAD outliers, last-touch attribution, skyline."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows


# --- snapshot_diff -----------------------------------------------------------


def test_snapshot_diff_classifies_iud(spark):
    from etl_opensky_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c2", 30), (4, None, 40), (5, "e", 50)],
        ["k", "s", "v"],
    )
    got = rows(snapshot_diff(old, new, ["k"]))
    # k=1 deleted (old values), k=2 unchanged (omitted), k=3 updated,
    # k=4 unchanged with NULL column (null-safe compare), k=5 inserted
    assert got == [
        (1, "D", "a", 10),
        (3, "U", "c2", 30),
        (5, "I", "e", 50),
    ]


def test_snapshot_diff_roundtrips_through_apply(spark):
    """apply_changelog(old, snapshot_diff(old, new)) == new — the diff is
    exactly the delta that replays old into new."""
    from etl_opensky_spark.operators.cdc import apply_changelog, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "cc", 3.5), (9, "z", 9.0)], ["k", "s", "v"]
    )
    delta = snapshot_diff(old, new, ["k"]).withColumn("seq", F.lit(1))
    applied = apply_changelog(old, delta, ["k"], "seq")
    assert rows(applied.select("k", "s", "v")) == rows(new)


# --- triangle_count ----------------------------------------------------------


def test_triangle_count_k4(spark):
    from etl_opensky_spark.functions.graph import triangle_count

    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = triangle_count(df).collect()[0]
    assert (got["n_nodes"], got["n_edges"], got["n_triangles"]) == (4, 6, 4)


def test_triangle_count_dedups_and_ignores_direction_and_loops(spark):
    from etl_opensky_spark.functions.graph import triangle_count

    # square 0-1-2-3 with diagonal 0-2: two triangles; noise rows —
    # reversed duplicates, a self loop — must not change the answer
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (2, 0), (1, 0), (1, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = triangle_count(df).collect()[0]
    assert (got["n_nodes"], got["n_edges"], got["n_triangles"]) == (4, 5, 2)


def test_triangle_count_star_has_none(spark):
    from etl_opensky_spark.functions.graph import triangle_count

    df = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    got = triangle_count(df).collect()[0]
    assert got["n_triangles"] == 0


# --- fill_time_gaps ----------------------------------------------------------


def test_fill_time_gaps_locf_and_flags(spark):
    from etl_opensky_spark.operators.reshape import fill_time_gaps

    t = dt.datetime
    ev = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 9), 10.0, 100),
            (1, t(2024, 1, 1, 18), 11.0, 101),  # closing value of day 1
            (1, t(2024, 1, 4, 8), 14.0, 102),   # 2-day gap before
            (2, t(2024, 1, 2, 12), 20.0, 103),  # single-day user: no gaps
        ],
        ["user_id", "ts", "value", "event_id"],
    )
    got = rows(fill_time_gaps(ev, "user_id", "ts", "value", "event_id"))
    d = dt.date
    assert got == [
        (1, d(2024, 1, 1), 11.0, False),
        (1, d(2024, 1, 2), 11.0, True),
        (1, d(2024, 1, 3), 11.0, True),
        (1, d(2024, 1, 4), 14.0, False),
        (2, d(2024, 1, 2), 20.0, False),
    ]


def test_fill_time_gaps_same_ts_tiebreak_on_id(spark):
    from etl_opensky_spark.operators.reshape import fill_time_gaps

    t = dt.datetime
    ev = spark.createDataFrame(
        [(1, t(2024, 1, 1, 9), 1.0, 7), (1, t(2024, 1, 1, 9), 2.0, 8)],
        ["user_id", "ts", "value", "event_id"],
    )
    got = rows(fill_time_gaps(ev, "user_id", "ts", "value", "event_id"))
    assert got == [(1, dt.date(2024, 1, 1), 2.0, False)]


# --- mad_outliers ------------------------------------------------------------


def test_mad_outliers_hand_checked(spark):
    from etl_opensky_spark.operators.aggregates import mad_outliers

    # group g: values 1..7 plus outlier 100 → n=8, lower-median is the
    # 4th of [1,2,3,4,5,6,7,100] = 4; deviations [3,2,1,0,1,2,3,96],
    # sorted [0,1,1,2,2,3,3,96] → lower-median (4th) = 2; k=3 → bound 6:
    # only 96 exceeds it.
    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 100]],
        ["grp", "value"],
    )
    got = mad_outliers(df, "grp", "value", k=3.0).collect()[0]
    assert (got["median"], got["mad"], got["n"], got["n_outliers"]) == (
        4.0,
        2.0,
        8,
        1,
    )


def test_mad_outliers_partitioning_invariant(spark):
    from etl_opensky_spark.operators.aggregates import mad_outliers

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 37 % 101).cast("double").alias("value"),
    )
    a = rows(mad_outliers(df, "grp", "value"))
    b = rows(mad_outliers(df.repartition(13), "grp", "value"))
    assert a == b


# --- last_touch_attribution --------------------------------------------------


def test_last_touch_attribution_cases(spark):
    from etl_opensky_spark.operators.behavior import last_touch_attribution

    t = dt.datetime
    ev = spark.createDataFrame(
        [
            # user 1: click 10 min before purchase → attributed to click
            (1, t(2024, 1, 1, 10, 0), "click", 1),
            (1, t(2024, 1, 1, 10, 10), "purchase", 2),
            # user 1 again: view 2 h before second purchase → outside
            # window → direct (the earlier click is even older)
            (1, t(2024, 1, 1, 13, 0), "view", 3),
            (1, t(2024, 1, 1, 15, 30), "purchase", 4),
            # user 2: purchase with no prior event at all → direct
            (2, t(2024, 1, 1, 9, 0), "purchase", 5),
            # user 3: prior event is another purchase → not a touch
            (3, t(2024, 1, 1, 9, 0), "purchase", 6),
            (3, t(2024, 1, 1, 9, 30), "purchase", 7),
        ],
        ["user_id", "ts", "event_type", "event_id"],
    )
    out = last_touch_attribution(
        ev, "user_id", "ts", "event_type", "purchase", 3600, "event_id"
    )
    got = {r["event_id"]: r["attributed"] for r in out.collect()}
    assert got == {2: "click", 4: "direct", 5: "direct", 6: "direct", 7: "direct"}

    # exactly-at-window boundary is attributed (<=)
    ev2 = spark.createDataFrame(
        [
            (9, t(2024, 1, 1, 9, 0), "view", 1),
            (9, t(2024, 1, 1, 10, 0), "purchase", 2),
        ],
        ["user_id", "ts", "event_type", "event_id"],
    )
    out2 = last_touch_attribution(
        ev2, "user_id", "ts", "event_type", "purchase", 3600, "event_id"
    )
    assert out2.collect()[0]["attributed"] == "view"


# --- skyline_2d --------------------------------------------------------------


def _brute_skyline(points):
    out = set()
    for x, y in set(points):
        dominated = any(
            (bx <= x and by >= y and (bx < x or by > y))
            for bx, by in set(points)
        )
        if not dominated:
            out.add((x, y))
    return sorted(out)


def test_skyline_matches_brute_force(spark):
    from etl_opensky_spark.operators.aggregates import skyline_2d

    pts = [
        (float(i * 13 % 29), float(i * 7 % 23)) for i in range(300)
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = rows(skyline_2d(df, "x", "y"))
    assert got == _brute_skyline(pts)


def test_skyline_handles_duplicates_and_ties(spark):
    from etl_opensky_spark.operators.aggregates import skyline_2d

    pts = [
        (1.0, 5.0),
        (1.0, 5.0),  # duplicate pair collapses
        (1.0, 4.0),  # same price, smaller size → dominated
        (2.0, 5.0),  # same size, higher price → dominated
        (0.5, 1.0),  # cheapest → on frontier
        (3.0, 9.0),  # biggest → on frontier
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = rows(skyline_2d(df, "x", "y"))
    assert got == [(0.5, 1.0), (1.0, 5.0), (3.0, 9.0)]


def test_skyline_spans_multiple_range_partitions(spark):
    """The distributed prefix path is really exercised: >1 non-empty
    range partition, frontier points in several of them."""
    from etl_opensky_spark.operators.aggregates import skyline_2d

    # strictly increasing x with strictly increasing y: EVERY point is
    # on the frontier, spread across all range partitions
    pts = [(float(i), float(i)) for i in range(100)]
    df = spark.createDataFrame(pts, ["x", "y"])
    assert len(rows(skyline_2d(df, "x", "y"))) == 100
    # strictly increasing x with strictly DECREASING y: only x=0 survives
    pts2 = [(float(i), float(100 - i)) for i in range(100)]
    df2 = spark.createDataFrame(pts2, ["x", "y"])
    assert rows(skyline_2d(df2, "x", "y")) == [(0.0, 100.0)]


# --- drift: ks_statistic / psi ----------------------------------------------


def test_ks_statistic_hand_checked(spark):
    from etl_opensky_spark.functions.drift import ks_statistic

    # A = {1,2,3,4}, B = {3,4,5,6}: max CDF gap at x=2: |2/4 - 0/4| = 0.5
    df = spark.createDataFrame(
        [(float(v), True) for v in [1, 2, 3, 4]]
        + [(float(v), False) for v in [3, 4, 5, 6]],
        ["value", "side"],
    )
    got = ks_statistic(df, "value", "side").collect()[0]
    assert (got["n_a"], got["n_b"], got["d_num"]) == (4, 4, 8)
    assert got["ks"] == 0.5


def test_ks_statistic_identical_samples_zero(spark):
    from etl_opensky_spark.functions.drift import ks_statistic

    rows_ = [(float(v % 17), s) for v in range(100) for s in (True, False)]
    df = spark.createDataFrame(rows_, ["value", "side"])
    assert ks_statistic(df, "value", "side").collect()[0]["ks"] == 0.0


def test_ks_statistic_partitioning_invariant(spark):
    from etl_opensky_spark.functions.drift import ks_statistic

    rows_ = [(float(v * 13 % 101), v % 3 == 0) for v in range(500)]
    df = spark.createDataFrame(rows_, ["value", "side"])
    a = ks_statistic(df, "value", "side").collect()[0]
    b = ks_statistic(df.repartition(17), "value", "side", num_buckets=5).collect()[0]
    assert (a["d_num"], a["ks"]) == (b["d_num"], b["ks"])


def test_psi_identical_distributions_zero(spark):
    from etl_opensky_spark.functions.drift import psi

    rows_ = [(float(v % 50), s) for v in range(200) for s in (True, False)]
    df = spark.createDataFrame(rows_, ["value", "side"])
    out = psi(df, "value", "side", lo=0.0, hi=50.0, n_bins=5).collect()
    assert all(r["term_micros"] == 0 for r in out)
    assert out[0]["psi"] == 0.0


def test_psi_clamps_out_of_range_values(spark):
    from etl_opensky_spark.functions.drift import psi

    df = spark.createDataFrame(
        [(-5.0, True), (999.0, True), (-5.0, False), (999.0, False)],
        ["value", "side"],
    )
    out = psi(df, "value", "side", lo=0.0, hi=10.0, n_bins=2).collect()
    assert sorted(r["bin"] for r in out) == [0, 1]
    assert sum(r["c_a"] + r["c_b"] for r in out) == 4


# --- key_skew_report ---------------------------------------------------------


def test_key_skew_report_flags_hot_key(spark):
    from etl_opensky_spark.operators.quality import key_skew_report

    df = spark.createDataFrame(
        [("hot",)] * 60 + [(f"k{i}",) for i in range(40)], ["k"]
    )
    out = key_skew_report(df, "k", top_k=3, skew_share_pct=10.0).collect()
    assert out[0]["key"] == "hot"
    assert out[0]["cnt"] == 60
    assert out[0]["skewed"] is True
    assert out[0]["n_rows"] == 100
    assert all(r["skewed"] is False for r in out[1:])


def test_key_skew_report_counts_null_keys(spark):
    from etl_opensky_spark.operators.quality import key_skew_report

    df = spark.createDataFrame(
        [(None,)] * 5 + [("a",)] * 3, "k string"
    )
    out = key_skew_report(df, "k", top_k=2, skew_share_pct=50.0).collect()
    assert out[0]["key"] is None and out[0]["cnt"] == 5 and out[0]["skewed"]
