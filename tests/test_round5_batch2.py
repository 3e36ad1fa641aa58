"""Round-5 batch 2: manifest data skipping, Bellman-Ford shortest
paths, time-weighted average, simplified silhouette, and the
l-diversity / t-closeness privacy audit (q228-q232)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- manifest data skipping (q228) ---------------------------------------


def _mk_lake(spark, tmp_path, partitioned=False):
    from etl_opensky_spark.sources.versioned import write_version

    base = str(tmp_path / "lake")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        (F.col("id") % 4).cast("int").alias("p"),
    )
    df = df.repartitionByRange(10, "k")
    write_version(
        df,
        base,
        partition_by=["p"] if partitioned else (),
        stats_cols=["k"],
    )
    return base


def test_prune_files_subset_and_superset_contract(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, read_version

    base = _mk_lake(spark, tmp_path)
    kept, total = prune_files(base, {"k": (2_000, 2_500)})
    assert 0 < len(kept) < total
    pruned = read_version(spark, base, where={"k": (2_000, 2_500)})
    # superset guarantee: every predicate row present, exact filter closes it
    flt = (F.col("k") >= 2_000) & (F.col("k") <= 2_500)
    full = read_version(spark, base).filter(flt)
    got = pruned.filter(flt)
    assert got.count() == full.count() == 501
    assert (
        got.agg(F.sum("v")).first()[0] == full.agg(F.sum("v")).first()[0]
    )


def test_prune_open_bounds_and_empty_range(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, read_version

    base = _mk_lake(spark, tmp_path)
    kept_hi, total = prune_files(base, {"k": (9_500, None)})
    assert 0 < len(kept_hi) < total
    # a range beyond the data prunes everything and reads empty
    kept_none, _ = prune_files(base, {"k": (50_000, None)})
    assert kept_none == []
    empty = read_version(spark, base, where={"k": (50_000, None)})
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "p"}  # schema intact


def test_prune_partitioned_keeps_partition_columns(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import read_version

    base = _mk_lake(spark, tmp_path, partitioned=True)
    pruned = read_version(spark, base, where={"k": (100, 200)}).filter(
        (F.col("k") >= 100) & (F.col("k") <= 200)
    )
    rows = pruned.select("k", "p").collect()
    assert len(rows) == 101
    assert all(r["p"] == r["k"] % 4 for r in rows)  # basePath kept p


def test_prune_requires_stats(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, write_version

    base = str(tmp_path / "nostats")
    write_version(spark.range(10).select(F.col("id").alias("k")), base)
    with pytest.raises(ValueError, match="stats_cols"):
        prune_files(base, {"k": (0, 5)})


def test_stats_skip_all_null_file_and_keep_mixed(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, write_version

    base = str(tmp_path / "nulls")
    # file 0: all-null k; file 1: k in [0, 9]
    nulls = spark.range(5).select(
        F.lit(None).cast("long").alias("k"), F.lit(1).alias("v")
    )
    vals = spark.range(10).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    df = nulls.unionByName(vals).repartitionByRange(
        2, F.col("k").isNull().cast("int")
    )
    write_version(df, base, stats_cols=["k"])
    kept, total = prune_files(base, {"k": (0, 100)})
    # the all-null file cannot satisfy a range predicate -> skipped
    assert total == 2 and len(kept) == 1


def test_stats_survive_time_travel(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, write_version

    base = str(tmp_path / "tt")
    v1 = spark.range(100).select(F.col("id").alias("k"))
    write_version(v1.repartitionByRange(4, "k"), base, stats_cols=["k"])
    v2 = spark.range(100, 200).select(F.col("id").alias("k"))
    write_version(v2.repartitionByRange(4, "k"), base, stats_cols=["k"])
    kept1, _ = prune_files(base, {"k": (0, 10)}, as_of=1)
    kept2, _ = prune_files(base, {"k": (0, 10)}, as_of=2)
    assert len(kept1) >= 1 and kept2 == []  # v2 holds no k<=10


# --- Bellman-Ford shortest paths (q229) ----------------------------------


def test_shortest_paths_weighted_vs_networkx_free_reference(spark):
    from etl_opensky_spark.functions.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            ("a", "b", 4),
            ("a", "c", 1),
            ("c", "b", 1),
            ("b", "d", 1),
            ("c", "d", 10),
            ("e", "a", 1),  # e unreachable FROM a
        ],
        "src string, dst string, w int",
    )
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, "a", weight="w", n_rounds=4).collect()
    }
    assert got == {"a": 0, "b": 2, "c": 1, "d": 3}  # e absent: unreachable


def test_shortest_paths_hop_count_and_round_bound(spark):
    from etl_opensky_spark.functions.graph import shortest_paths

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src int, dst int"
    )
    got2 = {
        r["node"]: r["dist"]
        for r in shortest_paths(chain, 0, n_rounds=2).collect()
    }
    assert got2 == {0: 0, 1: 1, 2: 2}  # rounds bound the reach
    got6 = {
        r["node"]: r["dist"]
        for r in shortest_paths(chain, 0, n_rounds=6).collect()
    }
    assert got6 == {i: i for i in range(7)}


def test_shortest_paths_negative_weight_raises(spark):
    from etl_opensky_spark.functions.graph import shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", -1)], "src string, dst string, w int"
    )
    with pytest.raises(Exception, match="non-negative"):
        shortest_paths(edges, "a", weight="w", n_rounds=1).collect()


# --- time-weighted average (q230) ----------------------------------------


def test_twa_step_function_hand_example(spark):
    from etl_opensky_spark.operators.aggregates import time_weighted_average

    df = spark.createDataFrame(
        [
            # key k1: value 10 holds 60s, value 20 holds 40s -> twa 14.0
            ("k1", "2024-01-01 00:00:00", 10.0, 1),
            ("k1", "2024-01-01 00:01:00", 20.0, 2),
            # key k2: single sample holding to the end -> twa = value
            ("k2", "2024-01-01 00:00:50", 7.5, 3),
        ],
        "k string, ts string, value double, id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    end = F.to_timestamp(F.lit("2024-01-01 00:01:40"))
    out = {
        r["k"]: r
        for r in time_weighted_average(
            df, ["k"], "ts", "value", end, order_tiebreak="id"
        ).collect()
    }
    assert out["k1"]["total_seconds"] == 100
    assert math.isclose(out["k1"]["twa"], (10 * 60 + 20 * 40) / 100)
    assert out["k2"]["total_seconds"] == 50
    assert math.isclose(out["k2"]["twa"], 7.5)


def test_twa_equal_timestamps_zero_duration_deterministic(spark):
    from etl_opensky_spark.operators.aggregates import time_weighted_average

    df = spark.createDataFrame(
        [
            ("k", "2024-01-01 00:00:00", 100.0, 1),  # 0s: same ts as id=2
            ("k", "2024-01-01 00:00:00", 1.0, 2),  # holds the 10s
        ],
        "k string, ts string, value double, id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    end = F.to_timestamp(F.lit("2024-01-01 00:00:10"))
    row = time_weighted_average(
        df, ["k"], "ts", "value", end, order_tiebreak="id"
    ).first()
    assert row["total_seconds"] == 10 and math.isclose(row["twa"], 1.0)


def test_twa_zero_total_duration_null(spark):
    from etl_opensky_spark.operators.aggregates import time_weighted_average

    df = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 5.0, 1)],
        "k string, ts string, value double, id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    end = F.to_timestamp(F.lit("2024-01-01 00:00:00"))  # zero-length span
    row = time_weighted_average(
        df, ["k"], "ts", "value", end, order_tiebreak="id"
    ).first()
    assert row["total_seconds"] == 0 and row["twa"] is None


# --- simplified silhouette (q231) ----------------------------------------


def test_silhouette_separated_clusters_near_one(spark):
    from etl_opensky_spark.functions.clustering import simplified_silhouette

    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.0, 0.1], 0),
        (3, [10.0, 10.0], 1),
        (4, [10.0, 10.1], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = simplified_silhouette(emb).collect()
    assert all(r["silhouette"] > 0.98 for r in out)
    # a_sq is the distance to the OWN centroid: tight clusters -> tiny
    assert all(r["a_sq"] < r["b_sq"] for r in out)


def test_silhouette_single_cluster_null(spark):
    from etl_opensky_spark.functions.clustering import simplified_silhouette

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 7), (2, [3.0, 4.0], 7)],
        "vec_id long, embedding array<float>, label int",
    )
    out = simplified_silhouette(emb).collect()
    assert all(r["b_sq"] is None and r["silhouette"] is None for r in out)


def test_silhouette_point_on_centroid_zero_case(spark):
    from etl_opensky_spark.functions.clustering import simplified_silhouette

    # two clusters with IDENTICAL centroids: a == b -> max(a,b) can be 0
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0], 0), (2, [1.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = simplified_silhouette(emb).collect()
    assert all(r["silhouette"] == 0.0 for r in out)


# --- l-diversity / t-closeness audit (q232) ------------------------------


def test_audit_homogeneous_group_l1_and_tvd(spark):
    from etl_opensky_spark.operators.quality import diversity_closeness_audit

    # group g1: 2 rows all "x"; group g2: 1 "x" + 1 "y".  Global: 3 x, 1 y.
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "x"), ("g2", "x"), ("g2", "y")],
        "g string, s string",
    )
    out = {
        r["g"]: r for r in diversity_closeness_audit(df, ["g"], "s").collect()
    }
    assert out["g1"]["l_distinct"] == 1 and out["g2"]["l_distinct"] == 2
    # g1: p_g = {x:1}, p_glob = {x: 3/4, y: 1/4} -> tvd = 1/4
    assert math.isclose(out["g1"]["tvd"], 0.25)
    # g2: p_g = {x: 1/2, y: 1/2} -> tvd = |1/2-3/4|/2 + |1/2-1/4|/2 = 1/4
    assert math.isclose(out["g2"]["tvd"], 0.25)
    # exact integer numerators: tvd = tvd_num / (2 * n_g * N)
    assert out["g1"]["tvd_num"] == 2 * 2 * 4 * 0.25
    assert out["g2"]["tvd_num"] == 2 * 2 * 4 * 0.25


def test_audit_absent_value_tail(spark):
    from etl_opensky_spark.operators.quality import diversity_closeness_audit

    # group g1 never sees value "z" that dominates globally
    df = spark.createDataFrame(
        [("g1", "x")] + [("g2", "z")] * 9, "g string, s string"
    )
    out = {
        r["g"]: r for r in diversity_closeness_audit(df, ["g"], "s").collect()
    }
    # g1: p_g={x:1}, glob={x:.1, z:.9} -> tvd = (|1-.1| + |0-.9|)/2 = 0.9
    assert math.isclose(out["g1"]["tvd"], 0.9)
    assert out["g1"]["n"] == 1 and out["g1"]["l_distinct"] == 1


# --- z-order + 2-D manifest skipping (q233) -------------------------------


def test_zorder_two_dim_prune_beats_either_one_dim(spark, tmp_path):
    from etl_opensky_spark.operators.layout import zorder_value
    from etl_opensky_spark.sources.versioned import prune_files, write_version

    base = str(tmp_path / "zlake")
    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("v"),
    )
    z = (
        df.withColumn("_z", zorder_value(F.col("x"), F.col("y")))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    write_version(z, base, stats_cols=["x", "y"])
    box = {"x": (10, 20), "y": (10, 20)}
    kept_2d, total = prune_files(base, box)
    kept_x, _ = prune_files(base, {"x": box["x"]})
    kept_y, _ = prune_files(base, {"y": box["y"]})
    # the whole point of Morton clustering: the 2-D box prunes MORE
    # than either single-dimension predicate alone
    assert len(kept_2d) < total
    assert len(kept_2d) <= min(len(kept_x), len(kept_y))
    # and the kept files still cover every matching row
    from etl_opensky_spark.sources.versioned import read_version

    flt = F.col("x").between(10, 20) & F.col("y").between(10, 20)
    assert (
        read_version(spark, base, where=box).filter(flt).count()
        == df.filter(flt).count()
    )


# --- leave-one-out target encoding (q234) ---------------------------------


def test_target_encode_loo_hand_example(spark):
    from etl_opensky_spark.operators.aggregates import target_encode_loo

    # category "a": targets 1, 3 (sum 4); global mean = (1+3+10)/3
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 3.0), (3, "b", 10.0)],
        "id int, cat string, y double",
    )
    out = {
        r["id"]: r["te"]
        for r in target_encode_loo(
            df, "cat", "y", smoothing=2.0, target_scale=2
        ).collect()
    }
    prior = (1 + 3 + 10) / 3
    # id=1: (4-1 + prior*2)/(2-1+2); id=2: (4-3 + prior*2)/3
    assert abs(out[1] - (3 + prior * 2) / 3) < 1e-12
    assert abs(out[2] - (1 + prior * 2) / 3) < 1e-12
    # singleton category: (0 + prior*2)/(0+2) = prior
    assert abs(out[3] - prior) < 1e-12


def test_target_encode_no_self_leakage(spark):
    from etl_opensky_spark.operators.aggregates import target_encode_loo

    # two rows, same category, wildly different targets: with m=0 each
    # row's encoding is exactly the OTHER row's target
    df = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 100.0)], "id int, cat string, y double"
    )
    out = {
        r["id"]: r["te"]
        for r in target_encode_loo(df, "cat", "y", smoothing=0.0).collect()
    }
    assert out[1] == 100.0 and out[2] == 0.0


# --- OPTIMIZE ZORDER + stats through merge/compact ------------------------


def test_compact_zorder_rows_identical_and_2d_prune(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        compact_versioned,
        prune_files,
        read_version,
        write_version,
    )

    base = str(tmp_path / "opt")
    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("v"),
    )
    # v1: random-ish layout (hash repartition) -> wide envelopes
    write_version(df.repartition(16), base, stats_cols=["x", "y"])
    kept_before, total_before = prune_files(base, {"x": (10, 20), "y": (10, 20)})
    # OPTIMIZE ZORDER
    v = compact_versioned(
        spark,
        base,
        target_rows_per_file=n // 16,
        zorder_by=("x", "y"),
        stats_cols=["x", "y"],
    )
    assert v == 2
    kept_after, _ = prune_files(base, {"x": (10, 20), "y": (10, 20)})
    assert len(kept_after) < len(kept_before) == total_before  # hash layout prunes nothing
    # layout-only: rows identical
    a = sorted(read_version(spark, base, as_of=1).collect())
    b = sorted(read_version(spark, base, as_of=2).collect())
    assert a == b
    # pruned read still complete
    flt = F.col("x").between(10, 20) & F.col("y").between(10, 20)
    assert (
        read_version(spark, base, where={"x": (10, 20), "y": (10, 20)})
        .filter(flt)
        .count()
        == df.filter(flt).count()
    )


def test_compact_zorder_rejects_partitioned_and_bad_arity(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        compact_versioned,
        write_version,
    )

    base = str(tmp_path / "optbad")
    df = spark.range(100).select(
        F.col("id").alias("x"), (F.col("id") % 3).alias("p")
    )
    write_version(df, base, partition_by=["p"])
    with pytest.raises(ValueError, match="unpartitioned"):
        compact_versioned(spark, base, partition_by=["p"], zorder_by=("x", "p"))
    base2 = str(tmp_path / "optbad2")
    write_version(df, base2)
    with pytest.raises(ValueError, match=">= 2"):
        # 1-D "z-order" is just a sort: sort_by is the named path
        compact_versioned(spark, base2, zorder_by=("x",))


def test_merge_refreshes_stats_for_skipping(spark, tmp_path, monkeypatch):
    from etl_opensky_spark.sources.versioned import (
        merge_versioned,
        prune_files,
        read_version,
        write_version,
    )

    base = str(tmp_path / "mstats")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_version(df.repartitionByRange(4, "k"), base, stats_cols=["k"])
    upd = spark.range(2000, 2100).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    # the pruning check needs a multi-file snapshot; _optimized_write
    # would (by design) coalesce this small merge into one file, leaving
    # nothing to prune, so disable it for the merge call only — the
    # behavior under test (the merge re-harvests per-file stats) is
    # unchanged, and a stats-less file is always kept (kept == total)
    monkeypatch.setenv("SPARK_GRAFT_OPTIMIZE_WRITE", "0")
    v = merge_versioned(spark, base, upd, ["k"], stats_cols=["k"])
    monkeypatch.delenv("SPARK_GRAFT_OPTIMIZE_WRITE")
    assert v == 2
    kept, total = prune_files(base, {"k": (2000, 2100)})
    assert 0 < len(kept) < total
    got = read_version(spark, base, where={"k": (2000, 2100)}).filter(
        F.col("k") >= 2000
    )
    assert got.count() == 100 and got.agg(F.sum("v")).first()[0] == -100


def test_decimal_stats_are_dropped_not_misordered(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        prune_files,
        read_version,
        write_version,
    )

    base = str(tmp_path / "dec")
    # decimal values whose STRING order differs from numeric order
    df = spark.range(1, 30).select(
        (F.col("id") / F.lit(2)).cast("decimal(10,2)").alias("d"),
        F.col("id").alias("k"),
    )
    write_version(df.repartitionByRange(3, "d"), base, stats_cols=["d"])
    # stats for the decimal column are absent -> every file kept (never
    # a wrong skip), and the read stays complete
    kept, total = prune_files(base, {"d": (1, 5)})
    assert len(kept) == total
    assert read_version(spark, base, where={"d": (1, 5)}).count() == 29


def test_mismatched_bound_type_raises_clearly(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import prune_files, write_version

    base = str(tmp_path / "mismatch")
    df = spark.range(100).select(F.col("id").cast("string").alias("s"))
    write_version(df.repartitionByRange(2, "s"), base, stats_cols=["s"])
    with pytest.raises(ValueError, match="stored stat type"):
        prune_files(base, {"s": (10, 50)})  # int bounds vs string stats


# --- as-of join: forward direction + tolerance (q235) ---------------------


def _asof_frames(spark):
    left = spark.createDataFrame(
        [("u", 10), ("u", 25), ("u", 50)], "k string, t int"
    )
    right = spark.createDataFrame(
        [("u", 5, "a"), ("u", 25, "b"), ("u", 40, "c")],
        "k string, t int, v string",
    )
    return left, right


def test_asof_forward_and_tolerance_matrix(spark):
    from etl_opensky_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)

    def got(**kw):
        return {
            r["t"]: r["v_asof"]
            for r in asof_join(left, right, "t", ["k"], **kw).collect()
        }

    assert got() == {10: "a", 25: "b", 50: "c"}  # backward default
    # forward: earliest at-or-after (25 matches itself); none after 50
    assert got(direction="forward") == {10: "b", 25: "b", 50: None}
    # backward tolerance: 10-5=5 ok, 25-25=0 ok, 50-40=10 ok at tol=10
    assert got(tolerance=10) == {10: "a", 25: "b", 50: "c"}
    assert got(tolerance=4) == {10: None, 25: "b", 50: None}
    # forward tolerance: 25-10=15 > 10 -> null
    assert got(direction="forward", tolerance=10) == {
        10: None,
        25: "b",
        50: None,
    }
    # salted backward path carries the tolerance too
    assert got(salt_buckets=2, tolerance=4) == {10: None, 25: "b", 50: None}


def test_asof_forward_salted_raises_and_bad_direction(spark):
    from etl_opensky_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    with pytest.raises(ValueError, match="salt_buckets"):
        asof_join(left, right, "t", ["k"], direction="forward", salt_buckets=2)
    with pytest.raises(ValueError, match="unknown direction"):
        asof_join(left, right, "t", ["k"], direction="nearest")


def test_asof_tolerance_row_wholesale_null(spark):
    from etl_opensky_spark.operators.asof import asof_join

    # beyond tolerance: EVERY attached column nulls, not just some
    left = spark.createDataFrame([("u", 100)], "k string, t int")
    right = spark.createDataFrame(
        [("u", 1, "x", 7)], "k string, t int, v string, w int"
    )
    row = asof_join(left, right, "t", ["k"], tolerance=5).first()
    assert row["v_asof"] is None and row["w_asof"] is None


# --- shallow clone (zero-copy) --------------------------------------------


def test_clone_reads_equal_and_shares_inodes(spark, tmp_path):
    import os

    from etl_opensky_spark.sources.versioned import (
        clone_versioned,
        read_version,
        write_version,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(1000).select(F.col("id").alias("k"))
    write_version(df.repartitionByRange(4, "k"), src, stats_cols=["k"])
    assert clone_versioned(src, dst) == 1
    assert sorted(read_version(spark, dst).collect()) == sorted(
        read_version(spark, src).collect()
    )

    def inodes(base):
        out = set()
        for root, _d, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.stat(os.path.join(root, f)).st_ino)
        return out

    assert inodes(src) == inodes(dst)  # zero-copy: same inodes


def test_clone_carries_stats_and_evolves_independently(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        clone_versioned,
        merge_versioned,
        prune_files,
        read_version,
        vacuum_versions,
        write_version,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    write_version(df.repartitionByRange(4, "k"), src, stats_cols=["k"])
    clone_versioned(src, dst)
    kept, total = prune_files(dst, {"k": (0, 100)})
    assert 0 < len(kept) < total  # stats traveled with the clone

    # mutate the CLONE; source unchanged
    upd = spark.range(10).select(
        F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
    )
    merge_versioned(spark, dst, upd, ["k"])
    assert read_version(spark, src).agg(F.sum("v")).first()[0] == 0
    assert read_version(spark, dst).agg(F.sum("v")).first()[0] == 90

    # vacuum + mutate SOURCE: clone's hardlinked inodes survive
    write_version(df.filter(F.col("k") < 10), src)
    vacuum_versions(src, keep_last=1)
    assert read_version(spark, dst, as_of=1).count() == 1000


def test_clone_refuses_existing_target(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        clone_versioned,
        write_version,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_version(df, src)
    write_version(df, dst)
    with pytest.raises(ValueError, match="already has commits"):
        clone_versioned(src, dst)


# --- merge schema evolution (q240) ----------------------------------------


def test_merge_schema_evolution_nulls_and_propagation(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        merge_versioned,
        purge_versioned,
        read_version,
        write_version,
    )

    base = str(tmp_path / "evo")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.lit(1).alias("v"),
    )
    write_version(df, base, partition_by=["p"])
    upd = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(0).cast("int").alias("p"),
        F.lit(5).alias("v"),
        F.lit("web").alias("channel"),
    )
    # without the flag: rejected
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_versioned(spark, base, upd, ["k"], ["p"])
    merge_versioned(spark, base, upd, ["k"], ["p"], merge_schema=True)
    out = read_version(spark, base)
    got = {r["k"]: r["channel"] for r in out.collect()}
    assert got[0] == "web" and got[5] is None  # hardlinked old partition
    # old snapshot unaffected (no channel column at v1)
    assert "channel" not in read_version(spark, base, as_of=1).columns
    # subsequent plain merge + purge keep the evolved schema
    upd2 = spark.range(8, 11).select(
        F.col("id").alias("k"),
        F.lit(2).cast("int").alias("p"),
        F.lit(9).alias("v"),
        F.lit("app").alias("channel"),
    )
    merge_versioned(spark, base, upd2, ["k"], ["p"])
    purge_versioned(
        spark, base, spark.range(1).select(F.col("id").alias("k")),
        ["k"], ["p"],
    )
    final = read_version(spark, base)
    assert set(final.columns) == {"k", "p", "v", "channel"}
    assert final.count() == 10  # 10 - 1 purged + 1 inserted (k=10)


def test_merge_rejects_dropping_columns(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        merge_versioned,
        write_version,
    )

    base = str(tmp_path / "drop")
    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).alias("v"), F.lit(2).alias("w")
    )
    write_version(df, base)
    upd = spark.range(2).select(F.col("id").alias("k"), F.lit(9).alias("v"))
    # missing column w: always an error, even with merge_schema
    with pytest.raises(ValueError, match="columns"):
        merge_versioned(spark, base, upd, ["k"], merge_schema=True)


# --- optimistic-concurrency merge retry -----------------------------------


def test_merge_with_retry_wins_after_losses(spark, tmp_path):
    from etl_opensky_spark.sources import versioned as V

    base = str(tmp_path / "retry")
    df = spark.range(20).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    V.write_version(df, base)
    upd = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v"))

    # a rival commits the next TWO versions right before our commit point
    losses = {"n": 2}

    def rival():
        if losses["n"] > 0:
            losses["n"] -= 1
            cur = V._current(base)
            name, data_dir = V._new_data_dir(base)
            import shutil as sh

            sh.copytree(
                __import__("os").path.join(base, cur["dir"]), data_dir
            )
            # commit directly (hook not re-entered: we bypass _commit)
            import json as j
            import os as o

            with open(
                V._commit_path(base, cur["version"] + 1), "x"
            ) as fh:
                fh.write(
                    j.dumps(
                        {
                            "version": cur["version"] + 1,
                            "dir": name,
                            "op": "write",
                            "parent": cur["version"],
                        }
                    )
                )

    V._test_hooks["before_commit"] = rival
    try:
        v = V.merge_with_retry(spark, base, upd, ["k"], max_retries=3)
    finally:
        V._test_hooks.clear()
    assert v == 4  # v1 + 2 rival wins + our successful retry
    got = V.read_version(spark, base)
    assert got.filter(F.col("v") == 1).count() == 5


def test_merge_with_retry_gives_up(spark, tmp_path):
    from etl_opensky_spark.sources import versioned as V

    base = str(tmp_path / "retry2")
    df = spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    V.write_version(df, base)
    upd = spark.range(2).select(F.col("id").alias("k"), F.lit(1).alias("v"))

    def always_rival():
        cur = V._current(base)
        import json as j

        with open(V._commit_path(base, cur["version"] + 1), "x") as fh:
            fh.write(
                j.dumps(
                    {
                        "version": cur["version"] + 1,
                        "dir": cur["dir"],
                        "op": "write",
                        "parent": cur["version"],
                    }
                )
            )

    V._test_hooks["before_commit"] = always_rival
    try:
        with pytest.raises(V.ConcurrentCommitError, match="lost the commit"):
            V.merge_with_retry(spark, base, upd, ["k"], max_retries=2)
    finally:
        V._test_hooks.clear()


# --- bloom point-lookup index (q243) --------------------------------------


def test_bloom_prunes_unclustered_point_lookup(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        prune_files_eq,
        read_version_eq,
        write_version,
    )

    base = str(tmp_path / "bloom")
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ).repartition(8)  # hash layout: min/max spans everything per file
    write_version(df, base, bloom_cols=["k"], bloom_bits=16384)
    kept, total = prune_files_eq(spark, base, "k", 1234)
    assert total == 8 and len(kept) <= 2  # present: its file (+ rare FP)
    rows = read_version_eq(spark, base, "k", 1234).filter(
        F.col("k") == 1234
    ).collect()
    assert len(rows) == 1 and rows[0]["v"] == 1234 * 7
    # absent value: no false negatives means kept may be nonzero (FP)
    # but the read must return nothing after the exact filter
    kept0, _ = prune_files_eq(spark, base, "k", 10**9)
    assert len(kept0) <= 1
    assert (
        read_version_eq(spark, base, "k", 10**9)
        .filter(F.col("k") == 10**9)
        .count()
        == 0
    )


def test_bloom_no_false_negatives_exhaustive(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        prune_files_eq,
        read_version_eq,
        write_version,
    )

    base = str(tmp_path / "bloomfn")
    df = spark.range(300).select(F.col("id").alias("k")).repartition(4)
    write_version(df, base, bloom_cols=["k"], bloom_bits=8192)
    # EVERY present key must be found — zero false negatives
    for k in range(0, 300, 17):
        got = read_version_eq(spark, base, "k", k).filter(
            F.col("k") == k
        )
        assert got.count() == 1, f"false negative for k={k}"


def test_bloom_missing_index_raises(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        prune_files_eq,
        write_version,
    )

    base = str(tmp_path / "nobloom")
    write_version(spark.range(10).select(F.col("id").alias("k")), base)
    with pytest.raises(ValueError, match="no bloom index"):
        prune_files_eq(spark, base, "k", 1)


def test_bloom_string_column(spark, tmp_path):
    from etl_opensky_spark.sources.versioned import (
        prune_files_eq,
        read_version_eq,
        write_version,
    )

    base = str(tmp_path / "bloomstr")
    df = spark.range(2000).select(
        F.concat(F.lit("user-"), F.col("id")).alias("name"),
        F.col("id").alias("v"),
    ).repartition(8)
    write_version(df, base, bloom_cols=["name"], bloom_bits=32768)
    kept, total = prune_files_eq(spark, base, "name", "user-777")
    assert total == 8 and len(kept) <= 2
    rows = read_version_eq(spark, base, "name", "user-777").filter(
        F.col("name") == "user-777"
    ).collect()
    assert len(rows) == 1 and rows[0]["v"] == 777


# --- clamped running balance identity (q255) ------------------------------


def test_clamped_balance_identity_vs_sequential(spark):
    """The prefix-min identity must equal the literal sequential
    recurrence b_t = max(0, b_{t-1} + d_t) on adversarial deltas."""
    deltas = [5, -10, 3, -2, 10, -30, 1, 0, -1, 100, -50, -60, 7]
    rows = [("k", i, float(d + 50)) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, value double")
    df = df.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=F.col("event_id").cast("double"))
    )
    from pyspark.sql import Window

    delta = F.round((F.col("value") - 50) * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = df.select(
        "user_id", "event_id", "ts", F.sum(delta).over(w).alias("p")
    )
    runmin = F.min("p").over(w)
    got = {
        r["event_id"]: r["b"]
        for r in pref.select(
            "event_id",
            (F.col("p") - F.least(F.lit(0).cast("long"), runmin)).alias("b"),
        ).collect()
    }
    b = 0
    for i, d in enumerate(deltas):
        b = max(0, b + d * 100)
        assert got[i] == b, (i, got[i], b)
