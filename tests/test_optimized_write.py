"""Round-11 optimization: engine-staged output file sizing
(versioned._optimized_write — guide §6 / Delta optimized-writes).

Results are layout-independent (oracle-pinned catalog-wide); these
tests pin the layout contract itself: small unpartitioned merges stage
ONE right-sized file instead of inheriting the reconcile join's
partitioning, hive-partitioned small merges keep their inherited
layout (a forced coalesce serializes the partition fan-out), and the
env kill-switch restores the legacy behavior."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_opensky_spark.sources.versioned import (
    _current,
    _live_files,
    _optimized_write,
    merge_versioned,
    read_version,
    write_version,
)


def _data_files(base):
    out = []
    for d in sorted(os.listdir(base)):
        if not d.startswith("data-"):
            continue
        files = []
        for root, _dirs, names in os.walk(os.path.join(base, d)):
            files += [n for n in names if n.endswith(".parquet")]
        out.append((d, len(files)))
    return out


def test_small_unpartitioned_merge_stages_one_file(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_version(df, base)
    # updates arrive deliberately over-partitioned: the staged rewrite
    # must not inherit that layout
    upd = (
        spark.range(0, 1_000)
        .select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"))
        .repartition(16)
    )
    merge_versioned(spark, base, upd, ["k"])
    per_dir = dict(_data_files(base))
    # data dirs are named by a random uuid: the merged one is the
    # commit log's current entry, not the lexicographically last
    merged_dir = _current(base)["dir"]
    assert per_dir[merged_dir] == 1, per_dir
    got = read_version(spark, base)
    assert got.count() == 10_000
    assert got.filter(F.col("v") == -1).count() == 1_000


def test_partitioned_small_merge_keeps_inherited_layout(spark, tmp_path):
    # small_keep: the hive-partitioned branch must pass the frame
    # through untouched below the small-table threshold
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    out = _optimized_write(
        df.repartition(7), ("p",), live_paths=["x"] * 10, upd_rows=100,
        small_keep=True,
    )
    assert out is not None
    assert out.rdd.getNumPartitions() == 7


def test_env_killswitch_disables_sizing(spark, tmp_path):
    df = spark.range(0, 100).select(F.col("id").alias("k")).repartition(9)
    os.environ["SPARK_GRAFT_OPTIMIZE_WRITE"] = "0"
    try:
        out = _optimized_write(df, live_paths=(), upd_rows=100)
        assert out.rdd.getNumPartitions() == 9
    finally:
        del os.environ["SPARK_GRAFT_OPTIMIZE_WRITE"]


def test_large_estimate_raises_file_count(spark, tmp_path):
    # ~2 GB estimated (via upd_rows at 256 B/row) -> multiple output
    # partitions, never a single mega-file
    df = spark.range(0, 100).select(F.col("id").alias("k")).repartition(32)
    out = _optimized_write(
        df, live_paths=(), upd_rows=8 * 1024 * 1024  # 8M rows * 256 B = 2 GB
    )
    n = out.rdd.getNumPartitions()
    assert 2 <= n <= 32, n


def test_merge_live_paths_helper_roundtrip(spark, tmp_path):
    # the estimate reads the parent's live files — prove the resolution
    # the merge call site uses yields stat-able paths
    base = str(tmp_path / "tbl2")
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    write_version(df, base)
    from etl_opensky_spark.sources.versioned import _current

    cur = _current(base)
    paths = list(_live_files(base, cur).values())
    assert paths and all(os.path.isfile(p) for p in paths)
