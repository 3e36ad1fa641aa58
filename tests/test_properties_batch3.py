"""Hypothesis properties for the session-3 numeric operators: Gini
vs a literal python reference and Hamilton allocation invariants."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_opensky_spark.functions.sampling import proportional_allocation
from etl_opensky_spark.operators.aggregates import gini_coefficient

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SETTINGS
@given(st.lists(st.integers(0, 50), min_size=1, max_size=40))
def test_gini_matches_python_reference(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    row = gini_coefficient(df, "x", num_buckets=3).head()
    ss = sorted(xs)
    n, t = len(ss), sum(ss)
    s1 = sum(2 * (i + 1) * x for i, x in enumerate(ss))
    assert row["gini_num"] == s1 - (n + 1) * t
    assert row["gini_den"] == n * t
    if t > 0:
        g = row["gini"]
        assert 0.0 <= g <= 1.0  # bounded for non-negative data
    else:
        assert row["gini"] is None  # all-zero: inequality undefined


@SETTINGS
@given(
    st.dictionaries(
        st.sampled_from(list("abcdefgh")),
        st.integers(1, 400),
        min_size=1,
        max_size=8,
    ),
    st.integers(0, 300),
)
def test_hamilton_invariants(spark, counts, budget):
    rows = [(k,) for k, v in counts.items() for _ in range(v)]
    df = spark.createDataFrame(rows, "s string")
    out = proportional_allocation(df, ["s"], budget).collect()
    total = sum(counts.values())
    # exact budget, quota error < 1 seat, non-negative
    assert sum(r["alloc"] for r in out) == budget
    for r in out:
        exact = budget * counts[r["s"]] / total
        assert r["alloc"] >= 0
        assert abs(r["alloc"] - exact) < 1.0
        assert r["alloc"] in (r["base"], r["base"] + 1)
