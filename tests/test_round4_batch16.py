"""Batch-16 operators: grid nearest-neighbor join, interval sweep-line
concurrency."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tests.conftest import rows


# ---------------------------------------------------------------- geo NN


def _brute_nn(lefts, rights):
    """Python ground truth: (lid -> (rid, d2)) with (d2, rid) tie-break."""
    out = {}
    for lid, lx, ly in lefts:
        best = min(
            ((lx - rx) ** 2 + (ly - ry) ** 2, rid) for rid, rx, ry in rights
        )
        out[lid] = (best[1], best[0])
    return out


def _points(seed, n, span):
    import hashlib

    pts = []
    for i in range(n):
        hx = hashlib.md5(f"{seed}x{i}".encode()).hexdigest()
        hy = hashlib.md5(f"{seed}y{i}".encode()).hexdigest()
        pts.append((i, int(hx[:8], 16) % span, int(hy[:8], 16) % span))
    return pts


def test_grid_nn_matches_brute_force(spark):
    from etl_opensky_spark.operators.geo import grid_nearest_neighbor

    lefts = _points("l", 60, 1000)
    rights = _points("r", 25, 1000)
    ldf = spark.createDataFrame(lefts, ["lid", "x", "y"])
    rdf = spark.createDataFrame(rights, ["rid", "x", "y"])
    got = {
        r["lid"]: (r["nn_id"], r["d2"])
        for r in grid_nearest_neighbor(
            ldf, rdf, "lid", "rid", cell=250
        ).collect()
    }
    assert got == _brute_nn(lefts, rights)


def test_grid_nn_tiny_cell_forces_fallback(spark):
    """With a 1-unit cell nearly every left point has an empty ring, so
    the brute-force tail must still produce the exact answer."""
    from etl_opensky_spark.operators.geo import grid_nearest_neighbor

    lefts = _points("a", 20, 500)
    rights = _points("b", 7, 500)
    ldf = spark.createDataFrame(lefts, ["lid", "x", "y"])
    rdf = spark.createDataFrame(rights, ["rid", "x", "y"])
    got = {
        r["lid"]: (r["nn_id"], r["d2"])
        for r in grid_nearest_neighbor(ldf, rdf, "lid", "rid", cell=1).collect()
    }
    assert got == _brute_nn(lefts, rights)


def test_grid_nn_tie_breaks_on_smallest_right_id(spark):
    from etl_opensky_spark.operators.geo import grid_nearest_neighbor

    ldf = spark.createDataFrame([(0, 10, 10)], ["lid", "x", "y"])
    # two right points equidistant from the left point
    rdf = spark.createDataFrame(
        [(5, 10, 13), (2, 10, 7), (9, 50, 50)], ["rid", "x", "y"]
    )
    [r] = grid_nearest_neighbor(ldf, rdf, "lid", "rid", cell=8).collect()
    assert (r["nn_id"], r["d2"]) == (2, 9)


def test_grid_nn_output_is_one_row_per_left(spark):
    """sure/fallback partition the left side: no dup, no drop, even when
    best candidates sit exactly at distance == cell (not provable in the
    ring, must be re-found by the fallback)."""
    from etl_opensky_spark.operators.geo import grid_nearest_neighbor

    ldf = spark.createDataFrame([(0, 0, 0), (1, 100, 0)], ["lid", "x", "y"])
    rdf = spark.createDataFrame([(7, 10, 0)], ["rid", "x", "y"])  # d=10=cell
    out = grid_nearest_neighbor(ldf, rdf, "lid", "rid", cell=10).collect()
    assert sorted((r["lid"], r["nn_id"]) for r in out) == [(0, 7), (1, 7)]


# ------------------------------------------------- interval concurrency


def test_interval_concurrency_steps(spark):
    from etl_opensky_spark.operators.intervals import interval_concurrency

    d = datetime.date
    iv = spark.createDataFrame(
        [
            (d(2020, 1, 1), d(2020, 1, 3)),
            (d(2020, 1, 2), d(2020, 1, 4)),
            (d(2020, 1, 10), d(2020, 1, 10)),
        ],
        ["s", "e"],
    )
    got = {
        r["d"]: r["concurrent"]
        for r in interval_concurrency(iv, "s", "e").collect()
    }
    assert got == {
        d(2020, 1, 1): 1,
        d(2020, 1, 2): 2,
        d(2020, 1, 4): 1,  # first interval closed end-of-Jan-3
        d(2020, 1, 5): 0,
        d(2020, 1, 10): 1,
        d(2020, 1, 11): 0,
    }


def test_interval_concurrency_conserves_mass(spark):
    """Total delta is zero: after the last end date the level returns
    to 0 regardless of overlap structure."""
    from etl_opensky_spark.operators.intervals import interval_concurrency

    d = datetime.date
    iv = spark.createDataFrame(
        [(d(2021, 1, 1 + i % 5), d(2021, 1, 3 + i % 7)) for i in range(40)],
        ["s", "e"],
    )
    out = interval_concurrency(iv, "s", "e").orderBy("d").collect()
    assert out[-1]["concurrent"] == 0
    assert all(r["concurrent"] >= 0 for r in out)
