"""Batch-18: A-priori frequent pairs, Count-Min join-size estimate,
observed writes, pseudonymization."""

from __future__ import annotations

import hashlib
import itertools

from pyspark.sql import functions as F


def _baskets():
    rows = []
    for b in range(40):
        for it in {b % 5, (b * 7) % 5 + 5, b % 3}:
            rows.append((b, it))
    return rows


def test_frequent_pairs_matches_brute_force(spark):
    from etl_opensky_spark.functions.itemsets import frequent_pairs

    rows = _baskets()
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = sorted(
        tuple(r)
        for r in frequent_pairs(
            df, "basket", "item", min_item_support=3, min_pair_support=2
        ).collect()
    )

    by_basket = {}
    for b, it in set(rows):
        by_basket.setdefault(b, set()).add(it)
    support = {}
    for its in by_basket.values():
        for it in its:
            support[it] = support.get(it, 0) + 1
    pair_n = {}
    for its in by_basket.values():
        for a, b in itertools.combinations(sorted(its), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    want = sorted(
        (a, b, n)
        for (a, b), n in pair_n.items()
        if n >= 2 and support[a] >= 3 and support[b] >= 3
    )
    assert got == want


def test_frequent_pairs_pruning_is_invisible(spark):
    """Dropping infrequent items before pairing cannot change the
    answer: any pair with pair-support >= s has both items with
    item-support >= s."""
    from etl_opensky_spark.functions.itemsets import frequent_pairs

    df = spark.createDataFrame(_baskets(), ["basket", "item"])
    strict = frequent_pairs(df, "basket", "item", 1, 3)  # no pruning
    pruned = frequent_pairs(df, "basket", "item", 3, 3)  # prune at same s
    assert sorted(map(tuple, strict.collect())) == sorted(
        map(tuple, pruned.collect())
    )


def test_frequent_pairs_mega_basket_guard(spark):
    from etl_opensky_spark.functions.itemsets import frequent_pairs

    rows = [(1, i) for i in range(100)] + [(2, 1), (2, 2), (3, 1), (3, 2)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = frequent_pairs(
        df, "basket", "item", 1, 2, max_basket_items=10
    ).collect()
    # basket 1 (100 items) excluded: pair (1,2) supported by baskets 2,3
    assert sorted(map(tuple, out)) == [(1, 2, 2)]


def test_countmin_join_estimate_overestimates_and_converges(spark):
    from etl_opensky_spark.functions.heavyhitters import (
        countmin_join_estimate,
    )

    a = spark.createDataFrame(
        [(i % 17,) for i in range(500)], ["k"]
    )
    b = spark.createDataFrame(
        [(i % 23,) for i in range(300)], ["k"]
    )
    true = (
        a.groupBy("k").count().alias("x")
        .join(b.groupBy("k").count().alias("y"), "k")
        .agg(F.sum(F.col("x.count") * F.col("y.count")))
        .collect()[0][0]
    )
    [tight] = countmin_join_estimate(a, "k", b, "k", depth=4, width=4096).collect()
    assert tight["over_ok"] and tight["true_size"] == true
    # wide sketch, few keys -> no collisions -> exact
    assert tight["est_size"] == true
    [coarse] = countmin_join_estimate(a, "k", b, "k", depth=2, width=4).collect()
    assert coarse["over_ok"] and coarse["est_size"] >= true


def test_countmin_join_estimate_disjoint_keys(spark):
    from etl_opensky_spark.functions.heavyhitters import (
        countmin_join_estimate,
    )

    a = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    b = spark.createDataFrame([(i + 100,) for i in range(10)], ["k"])
    [r] = countmin_join_estimate(a, "k", b, "k", depth=4, width=2048).collect()
    assert r["true_size"] == 0 and r["over_ok"]


def test_observed_write_metrics_match_recount(spark, tmp_path):
    from etl_opensky_spark.sources.sinks import write_parquet_observed

    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(100)], ["id", "v"]
    )
    target = str(tmp_path / "obs")
    [m] = write_parquet_observed(
        df,
        target,
        {"n_rows": F.count(F.lit(1)), "sum_id": F.sum("id")},
    ).collect()
    back = spark.read.parquet(target)
    assert m["n_rows"] == back.count() == 100
    assert m["sum_id"] == back.agg(F.sum("id")).collect()[0][0]


def test_pseudonymize_deterministic_and_null_preserving(spark):
    from etl_opensky_spark.operators.quality import pseudonymize

    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, None), (4, "alice")], ["id", "name"]
    )
    out = {r["id"]: r["name"] for r in pseudonymize(df, ["name"], "s1").collect()}
    assert out[3] is None
    assert out[1] == out[4] != out[2]
    assert out[1] == hashlib.sha256(b"s1|alice").hexdigest()
    out2 = {r["id"]: r["name"] for r in pseudonymize(df, ["name"], "s2").collect()}
    assert out2[1] != out[1]  # salt rotation re-keys


# ------------------------------------------------------- batch 19


def test_pandas_grouped_agg_trimmed_sum_exact(spark):
    import math

    from etl_opensky_spark.queries import q201_pandas_grouped_agg  # noqa: F401

    # direct mini-model of the same contract
    vals = [1.234, 5.0, 2.5, 100.9, 0.01, 3.3, 7.77, 50.5, 9.99, 4.44]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], ["g", "id", "v"]
    )
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def trimmed(v):
        s = np.sort(v.to_numpy())
        k = int(len(s) * 0.1)
        kept = s[k : len(s) - k]
        return int(np.floor(kept * 100).astype(np.int64).sum())

    [r] = df.groupBy("g").agg(trimmed(F.col("v")).alias("t")).collect()
    s = sorted(vals)[1:-1]  # k = 1 each side
    assert r["t"] == sum(math.floor(v * 100) for v in s)
