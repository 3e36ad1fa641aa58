"""Property-based tests (hypothesis) for the engine's core invariants
(SURVEY §5.4).  Strategies are kept small — each example spins Spark jobs.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_opensky_spark.operators.filters import nullify_values
from etl_opensky_spark.operators.joins import fk_orphans
from etl_opensky_spark.operators.reshape import date_spine
from etl_opensky_spark.operators.sets import append_missing
from tests.conftest import rows

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.sampled_from(["a", "b", "-", "n/a", "ok", None, "", "\tN/A"])


@SETTINGS
@given(st.lists(words, min_size=0, max_size=12))
def test_nullify_never_touches_non_sentinels(spark, values):
    sentinels = ["-", "n/a", "\tN/A"]
    df = spark.createDataFrame([(v,) for v in values], "c string")
    out = [r["c"] for r in nullify_values(df, {"c": sentinels}).collect()]
    assert len(out) == len(values)
    # every sentinel became NULL, every non-sentinel survived unchanged
    expected_nulls = sum(1 for v in values if v is None or v in sentinels)
    assert out.count(None) == expected_nulls
    assert sorted(v for v in out if v is not None) == sorted(
        v for v in values if v is not None and v not in sentinels
    )


@SETTINGS
@given(
    st.lists(st.tuples(st.integers(0, 5), st.sampled_from(["x", "y", None])),
             min_size=0, max_size=10),
    st.lists(st.tuples(st.integers(0, 5), st.sampled_from(["x", "y", None])),
             min_size=0, max_size=10),
)
def test_append_missing_twice_is_once(spark, new, existing):
    df_new = spark.createDataFrame(new, "k int, v string") if new else spark.createDataFrame([], "k int, v string")
    df_old = spark.createDataFrame(existing, "k int, v string") if existing else spark.createDataFrame([], "k int, v string")
    once = append_missing(df_new, df_old)
    # appending the result to existing and re-running yields nothing new
    merged = df_old.unionByName(once)
    twice = append_missing(df_new, merged)
    assert twice.count() == 0


@SETTINGS
@given(st.integers(0, 500), st.integers(0, 60))
def test_date_spine_length(spark, start_offset, span):
    start = dt.date(2020, 1, 1) + dt.timedelta(days=start_offset)
    end = start + dt.timedelta(days=span)
    out = date_spine(spark, start.isoformat(), end.isoformat())
    assert out.count() == span + 1


@SETTINGS
@given(
    st.lists(st.one_of(st.integers(0, 8), st.none()), min_size=0, max_size=10),
    st.sets(st.integers(0, 8), max_size=9),
)
def test_fk_orphans_matches_set_semantics(spark, fact_keys, dim_keys):
    fact = (
        spark.createDataFrame([(k,) for k in fact_keys], "k int")
        if fact_keys
        else spark.createDataFrame([], "k int")
    )
    dim = (
        spark.createDataFrame([(k,) for k in dim_keys], "pk int")
        if dim_keys
        else spark.createDataFrame([], "pk int")
    )
    got = sorted(r["k"] for r in fk_orphans(fact, "k", dim, "pk").collect())
    expected = sorted(k for k in fact_keys if k is not None and k not in dim_keys)
    assert got == expected


@SETTINGS
@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.sampled_from(
        [
            {"train": 0.8, "val": 0.1, "test": 0.1},
            {"a": 0.5, "b": 0.5},
            {"x": 1.0},
        ]
    ),
)
def test_hash_split_total_partition_and_stable(spark, keys, weights):
    from etl_opensky_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = {r["k"]: r["split"] for r in hash_split(df, "k", weights).collect()}
    # total: every key labeled with a declared label
    assert set(out) == set(keys)
    assert set(out.values()) <= set(weights)
    # stable: reversing input order changes nothing
    df2 = spark.createDataFrame([(k,) for k in reversed(keys)], "k long")
    out2 = {r["k"]: r["split"] for r in hash_split(df2, "k", weights).collect()}
    assert out == out2


# --- round-4 operators -------------------------------------------------------

_cdc_ops = st.sampled_from(["I", "U", "D"])


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 5), _cdc_ops, st.integers(1, 9)),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[2]),  # unique (key, seq) — valid log
    ),
    st.sets(st.integers(0, 5)),
)
def test_apply_changelog_matches_sequential_model(spark, log, target_keys):
    """apply_changelog == replaying the log sequentially by seq order."""
    from etl_opensky_spark.operators.cdc import apply_changelog

    target = spark.createDataFrame(
        [(k, f"base{k}") for k in sorted(target_keys)] or [],
        "id int, payload string",
    )
    changes = spark.createDataFrame(
        [(k, f"v{k}s{s}", op, s) for k, op, s in log] or [],
        "id int, payload string, op string, seq int",
    )
    got = sorted(
        tuple(r) for r in apply_changelog(
            target, changes, ["id"], "seq"
        ).select("id", "payload").collect()
    )
    state = {k: f"base{k}" for k in target_keys}
    for k, op, s in sorted(log, key=lambda t: t[2]):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = f"v{k}s{s}"
    assert got == sorted(state.items())


@SETTINGS
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=30),
    st.integers(2, 5),
)
def test_equal_frequency_bins_are_balanced(spark, values, k):
    """Bin sizes differ by at most 1 and bins are monotone in value."""
    from etl_opensky_spark.operators.aggregates import equal_frequency_bins

    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(values)],
        "id int, grp string, v double",
    )
    out = equal_frequency_bins(df, "grp", "v", "id", k, num_buckets=3).collect()
    sizes = {}
    for r in out:
        sizes[r["bin"]] = sizes.get(r["bin"], 0) + 1
    n = len(values)
    assert sum(sizes.values()) == n
    if n >= k:
        assert max(sizes.values()) - min(sizes.values()) <= 1
    # monotone: sort rows by (value, id) -> bins nondecreasing
    ordered = sorted(out, key=lambda r: (r["v"], r["id"]))
    bins = [r["bin"] for r in ordered]
    assert bins == sorted(bins)


@SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
)
def test_countmin_one_sided_bound_any_data(spark, keys):
    """CM guarantee under arbitrary key distributions: true <= est for
    EVERY key, at any (depth, width)."""
    from etl_opensky_spark.functions.heavyhitters import countmin_estimates

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = countmin_estimates(df, "k", depth=2, width=8, top_k=50).collect()
    from collections import Counter

    truth = Counter(str(k) for k in keys)
    assert {r.item for r in got} <= set(truth)
    for r in got:
        assert r.true_cnt == truth[r.item]
        assert r.est_cnt >= r.true_cnt


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # day offset
            st.integers(min_value=-50, max_value=50),  # value
        ),
        min_size=1,
        max_size=20,
    )
)
def test_ewma_pow2_matches_python_model(spark, day_vals):
    """EWMA equi-join formulation == the direct per-anchor weighted sum."""
    import datetime as _dt

    from etl_opensky_spark.operators.reshape import ewma_pow2

    day0 = _dt.date(2024, 5, 1)
    daily = {}
    for off, v in day_vals:
        daily[off] = daily.get(off, 0) + v
    df = spark.createDataFrame(
        [("k", day0 + _dt.timedelta(days=o), v) for o, v in daily.items()],
        ["k", "day", "v"],
    )
    H = 4
    got = {
        (r.day - day0).days: (r.ewma_num, r.weight_den)
        for r in ewma_pow2(df, "k", "day", "v", horizon=H).collect()
    }
    for anchor in daily:
        num = den = 0
        for lag in range(H):
            src = anchor - lag
            if src in daily:
                w = 1 << (H - 1 - lag)
                num += daily[src] * w
                den += w
        assert got[anchor] == (num, den)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["I", "D", "U"]),
            st.integers(min_value=0, max_value=3),  # group id
            st.integers(min_value=0, max_value=3),  # new group id (U)
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=0,
        max_size=15,
    )
)
def test_apply_agg_delta_equals_recompute(spark, ops):
    """Random retraction streams: incremental fold == from-scratch
    recompute of the implied final multiset."""
    from etl_opensky_spark.operators.aggregates import apply_agg_delta

    # base rows: 3 per group, value = group*10 + i
    base = [(g, g * 10 + i) for g in range(4) for i in range(3)]
    rows_ = list(base)
    changelog = []
    for op, g, ng, v in ops:
        if op == "I":
            changelog.append(("I", None, None, f"g{ng}", v))
            rows_.append((ng, v))
        elif op == "D":
            victim = next(((gg, vv) for gg, vv in rows_ if gg == g), None)
            if victim is None:
                continue
            rows_.remove(victim)
            changelog.append(("D", f"g{victim[0]}", victim[1], None, None))
        else:  # U: move first row of g to ng with value v
            victim = next(((gg, vv) for gg, vv in rows_ if gg == g), None)
            if victim is None:
                continue
            rows_.remove(victim)
            rows_.append((ng, v))
            changelog.append(("U", f"g{victim[0]}", victim[1], f"g{ng}", v))

    state = (
        spark.createDataFrame(base, ["g_id", "v"])
        .groupBy(F.concat(F.lit("g"), F.col("g_id")).alias("g"))
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum("v").cast("bigint").alias("total"),
        )
    )
    cl = spark.createDataFrame(
        changelog or [("I", None, None, "g0", 0)],
        "op string, old_group string, old_val long, new_group string, new_val long",
    )
    if not changelog:
        rows_.append((0, 0))
    got = {
        r.g: (r.cnt, r.total) for r in apply_agg_delta(state, cl).collect()
    }
    want = {}
    for g, v in rows_:
        c, s = want.get(f"g{g}", (0, 0))
        want[f"g{g}"] = (c + 1, s + v)
    assert got == want


@SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=30)
)
def test_hll_merge_associative_any_split(spark, ids):
    """Register merge is associative/commutative: any 2-way split of
    the data merges to the registers of the whole."""
    from etl_opensky_spark.functions.cardinality import hll_registers

    df = spark.createDataFrame([(i,) for i in ids], ["k"])
    half = len(ids) // 2
    a = spark.createDataFrame([(i,) for i in ids[:half]], "k int")
    b = spark.createDataFrame([(i,) for i in ids[half:]], "k int")
    whole = rows(hll_registers(df, "k"))
    merged = rows(
        hll_registers(a, "k")
        .union(hll_registers(b, "k"))
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )
    assert whole == merged


# --- as-of join vs pandas merge_asof (round-5: direction + tolerance) -----

_asof_events = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2"]),          # group key
        st.integers(0, 50),                      # time
        st.integers(-5, 5),                      # payload
    ),
    min_size=0,
    max_size=10,
)


@SETTINGS
@given(
    left_rows=_asof_events,
    right_rows=_asof_events,
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0, 3, 100]),
)
def test_asof_join_matches_pandas_merge_asof(
    spark, left_rows, right_rows, direction, tolerance
):
    """asof_join == pandas.merge_asof for every direction/tolerance
    combination, on right tables with UNIQUE (key, t) — both contracts
    attach the single nearest right row wholesale (pandas resolves
    duplicate right timestamps by physical order, which no distributed
    engine should promise, so dedupe first — the documented contract).
    """
    import pandas as pd

    from etl_opensky_spark.operators.asof import asof_join

    # dedupe right on (k, t): keep max payload (deterministic rule)
    rdedup: dict = {}
    for k, t, v in right_rows:
        key = (k, t)
        if key not in rdedup or v > rdedup[key]:
            rdedup[key] = v
    right_list = [(k, t, v) for (k, t), v in sorted(rdedup.items())]

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _v) in enumerate(left_rows)] or
        [("u1", 0, 0)],
        "k string, t long, lid long",
    )
    right = spark.createDataFrame(
        right_list or [("u-absent", 0, 0)], "k string, t long, v long"
    )
    got = {
        (r["k"], r["t"], r["lid"]): r["v_asof"]
        for r in asof_join(
            left,
            right,
            "t",
            ["k"],
            direction=direction,
            tolerance=tolerance,
        ).collect()
    }

    lp = left.toPandas().sort_values("t").reset_index(drop=True)
    rp = right.toPandas().sort_values("t").reset_index(drop=True)
    merged = pd.merge_asof(
        lp,
        rp,
        on="t",
        by="k",
        direction=direction,
        tolerance=tolerance if tolerance is None else int(tolerance),
    )
    want = {
        (row.k, row.t, row.lid): (None if pd.isna(row.v) else int(row.v))
        for row in merged.itertuples()
    }
    assert got == want
