"""Round-4 operators: binary source, CDC changelog apply, numpy XxHash64,
equal-frequency binning, quality quarantine, Expand-free multi-distinct."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import rows


# --- scan_binary_files -------------------------------------------------------


def test_binary_source_reads_bytes_and_metadata(spark, tmp_path):
    from etl_opensky_spark.sources.files import scan_binary_files

    payloads = {"a.bin": b"hello", "b.bin": b"\x00\xffbytes", "c.txt": b"nope"}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = scan_binary_files(spark, str(tmp_path), glob="*.bin")
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
    assert got == {"a.bin": b"hello", "b.bin": b"\x00\xffbytes"}
    lengths = {
        r["path"].rsplit("/", 1)[-1]: r["length"] for r in df.collect()
    }
    assert lengths == {"a.bin": 5, "b.bin": 7}


# --- CDC changelog apply -----------------------------------------------------


def _cdc_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "status", "price"],
    )
    changes = spark.createDataFrame(
        [
            (2, "b1", 21.0, "U", 1),
            (2, "b2", 22.0, "U", 2),   # latest wins
            (3, "c", 30.0, "D", 5),
            (3, "c9", 99.0, "U", 4),   # delete at seq 5 beats this
            (4, "d", 40.0, "I", 1),    # brand-new key
        ],
        ["id", "status", "price", "op", "seq"],
    )
    return target, changes


def test_apply_changelog_semantics(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target, changes = _cdc_frames(spark)
    got = rows(apply_changelog(target, changes, ["id"], "seq"))
    assert got == [
        (1, "a", 10.0),       # untouched
        (2, "b2", 22.0),      # latest update wins
        (4, "d", 40.0),       # inserted
    ]                          # 3 deleted


def test_apply_changelog_rejects_ambiguous_winning_seq(spark):
    import pytest

    from etl_opensky_spark.operators.cdc import apply_changelog

    target, _ = _cdc_frames(spark)
    changes = spark.createDataFrame(
        [(2, "x", 1.0, "U", 7), (2, "y", 2.0, "U", 7)],
        ["id", "status", "price", "op", "seq"],
    )
    with pytest.raises(ValueError, match="ambiguous"):
        apply_changelog(target, changes, ["id"], "seq").collect()


def test_apply_changelog_deep_ties_are_fine(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target, _ = _cdc_frames(spark)
    # tie at seq 1 is irrelevant because seq 2 wins uniquely
    changes = spark.createDataFrame(
        [(2, "x", 1.0, "U", 1), (2, "y", 2.0, "U", 1), (2, "z", 3.0, "U", 2)],
        ["id", "status", "price", "op", "seq"],
    )
    got = rows(apply_changelog(target, changes, ["id"], "seq"))
    assert (2, "z", 3.0) in got


def test_apply_changelog_partitioning_invariant(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(200)],
        ["id", "status", "price"],
    )
    changes = spark.createDataFrame(
        [(i, f"u{i}", float(i * 2), "U" if i % 3 else "D", i % 7 + 1)
         for i in range(0, 200, 2)],
        ["id", "status", "price", "op", "seq"],
    )
    one = rows(apply_changelog(target.coalesce(1), changes.coalesce(1),
                               ["id"], "seq"))
    many = rows(apply_changelog(target.repartition(8),
                                changes.repartition(5), ["id"], "seq"))
    assert one == many


# --- numpy XxHash64 ----------------------------------------------------------


def test_numpy_xxh64_matches_spark(spark):
    import numpy as np

    from etl_opensky_spark.functions.xxhash import xxh64_int_np, xxh64_long_np

    rng = np.random.default_rng(7)
    longs = rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64)
    ints = rng.integers(-(2**31), 2**31 - 1, size=500, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(l), int(i)) for l, i in zip(longs, ints)], ["h", "i"]
    ).select(
        "h", "i",
        F.xxhash64("h").alias("xh"),
        F.xxhash64("h", F.col("i").cast("int")).alias("xhi"),
    )
    rows_ = df.collect()
    got_h = np.array([r["xh"] for r in rows_], dtype=np.int64)
    got_hi = np.array([r["xhi"] for r in rows_], dtype=np.int64)
    np_h = xxh64_long_np(longs, np.uint64(42)).view(np.int64)
    np_hi = xxh64_int_np(
        ints, xxh64_long_np(longs, np.uint64(42))
    ).view(np.int64)
    assert (np_h == got_h).all()
    assert (np_hi == got_hi).all()


# --- equal-frequency binning -------------------------------------------------


def test_equal_frequency_bins_exact_semantics(spark):
    from etl_opensky_spark.operators.aggregates import equal_frequency_bins

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)]
        + [(i, "h", float(100 - i)) for i in range(5)],
        ["id", "grp", "v"],
    )
    got = {(r["grp"], r["id"]): r["bin"] for r in
           equal_frequency_bins(df, "grp", "v", "id", k=5).collect()}
    # group g: 10 rows, k=5 -> 2 per bin, ordered by value==id
    for i in range(10):
        assert got[("g", i)] == i // 2
    # group h: 5 rows, k=5 -> 1 per bin; value DESC of id so id 4 is rank 0
    for i in range(5):
        assert got[("h", i)] == 4 - i


def test_equal_frequency_bins_partitioning_invariant(spark):
    from etl_opensky_spark.operators.aggregates import equal_frequency_bins

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 37) % 101)) for i in range(300)],
        ["id", "grp", "v"],
    )
    one = rows(equal_frequency_bins(df.coalesce(1), "grp", "v", "id", 10,
                                    num_buckets=3))
    many = rows(equal_frequency_bins(df.repartition(16), "grp", "v", "id", 10,
                                     num_buckets=7))
    assert one == many


# --- quality quarantine ------------------------------------------------------


def test_validate_rules_split_and_null_fails(spark):
    from etl_opensky_spark.operators.quality import validate_rules

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, None, "O"), (4, 7.0, "X")],
        ["id", "price", "status"],
    )
    valid, quarantined = validate_rules(
        df,
        {
            "pos_price": F.col("price") > 0,
            "known_status": F.col("status").isin("O", "F"),
        },
    )
    assert [r["id"] for r in valid.collect()] == [1]
    got = {r["id"]: sorted(r["failed_rules"]) for r in quarantined.collect()}
    assert got == {
        2: ["pos_price"],
        3: ["pos_price"],          # NULL price FAILS the rule
        4: ["known_status"],
    }


def test_validate_rules_single_pass_no_shuffle(spark):
    from etl_opensky_spark.operators.quality import tag_rules

    df = spark.createDataFrame([(1, 2.0)], ["id", "v"])
    tagged = tag_rules(df, {"r": F.col("v") > 0})
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- Expand-free multi-distinct ----------------------------------------------


def test_multi_count_distinct_matches_builtin(spark):
    from etl_opensky_spark.operators.aggregates import multi_count_distinct

    df = spark.createDataFrame(
        [(d, u % 4, f"t{u % 3}" if u % 5 else None)
         for d in ("a", "b") for u in range(20)],
        ["d", "u", "t"],
    )
    got = rows(multi_count_distinct(df, ["d"], ["u", "t"]))
    expect = rows(
        df.groupBy("d").agg(
            F.countDistinct("u").alias("n_distinct_u"),
            F.countDistinct("t").alias("n_distinct_t"),
        )
    )
    assert got == expect


def test_multi_count_distinct_no_expand_in_plan(spark):
    from etl_opensky_spark.operators.aggregates import multi_count_distinct

    df = spark.createDataFrame([("a", 1, "x")], ["d", "u", "t"])
    ours = multi_count_distinct(df, ["d"], ["u", "t"])
    assert "Expand" not in ours._jdf.queryExecution().executedPlan().toString()
    builtin = df.groupBy("d").agg(
        F.countDistinct("u"), F.countDistinct("t")
    )
    # the built-in multi-distinct DOES replicate rows via Expand — the
    # thing this operator exists to avoid
    assert "Expand" in builtin._jdf.queryExecution().executedPlan().toString()
