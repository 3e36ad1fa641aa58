"""Incremental OPTIMIZE (``versioned.optimize_small_files``): bin-pack
only small files, hardlink the rest, tombstone-aware, idempotent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.sources.versioned import (
    _current,
    _snapshot_files,
    merge_versioned,
    optimize_small_files,
    prune_files,
    purge_versioned_mor,
    read_version,
    rename_column,
    write_version,
)

from .conftest import rows


def _snap_inodes(base):
    cur = _current(base)
    return {
        rel: ino
        for (rel, ino) in _snapshot_files(
            os.path.join(base, cur["dir"])
        ).keys()
    }


def test_bin_pack_only_small_files(spark, tmp_path):
    base = str(tmp_path / "lake")
    # one big file (100 rows) + many small ones (1 row each)
    big = spark.range(100).select(F.col("id").cast("int").alias("id"))
    write_version(big.coalesce(1), base)
    # the fixture NEEDS many small files; _optimized_write would (by
    # design) coalesce this small merge to one right-sized file, so
    # disable it for the setup commit only — the behavior under test
    # (bin-pack only small files, hardlink the bulk) is unchanged
    os.environ["SPARK_GRAFT_OPTIMIZE_WRITE"] = "0"
    try:
        merge_versioned(
            spark, base,
            spark.range(100, 112)
            .select(F.col("id").cast("int").alias("id"))
            .repartition(12),
            ["id"],
        )
    finally:
        del os.environ["SPARK_GRAFT_OPTIMIZE_WRITE"]
    before = _snap_inodes(base)
    n_files_before = len(before)
    # repartition(12) may hash some of the 12 rows together (empty
    # partitions write no file) — several small files either way
    assert n_files_before >= 6
    v, n_compacted = optimize_small_files(
        spark, base, target_rows_per_file=50
    )
    assert n_compacted == n_files_before - 1  # everything but the big file
    after = _snap_inodes(base)
    assert len(after) < n_files_before
    # the big file was HARDLINKED, not rewritten: same rel path + inode
    kept = set(before.items()) & set(after.items())
    assert len(kept) == 1
    # content identical
    assert sorted(r["id"] for r in read_version(spark, base).collect()) \
        == list(range(112))
    # steady state: nothing small remains -> NO new commit
    v2, n2 = optimize_small_files(spark, base, target_rows_per_file=50)
    assert (v2, n2) == (v, 0)
    assert _current(base)["version"] == v


def test_tombstoned_rows_physically_purged_from_rewrite(spark, tmp_path):
    base = str(tmp_path / "lake")
    write_version(
        spark.range(20).select(F.col("id").cast("int").alias("id"))
        .repartition(10),
        base,
    )
    purge_versioned_mor(
        spark, base,
        spark.createDataFrame([(3,), (7,)], "id int"), ["id"],
    )
    v, n = optimize_small_files(spark, base, target_rows_per_file=100)
    assert n >= 8  # every non-empty small file (hashing may leave <10)
    got = sorted(r["id"] for r in read_version(spark, base).collect())
    assert got == [i for i in range(20) if i not in (3, 7)]
    # the deleted rows are PHYSICALLY gone: a raw scan of the new
    # snapshot (tombstones ignored) no longer holds them
    cur = _current(base)
    raw = spark.read.parquet(os.path.join(base, cur["dir"]))
    assert sorted(r["id"] for r in raw.collect()) == got
    # and a later re-insert of a purged key stays visible
    merge_versioned(
        spark, base, spark.createDataFrame([(3,)], "id int"), ["id"]
    )
    assert 3 in {r["id"] for r in read_version(spark, base).collect()}


def test_partitioned_and_mapped_table(spark, tmp_path):
    base = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, "p1" if i % 2 else "p2", f"v{i}") for i in range(12)],
        "id int, part string, v string",
    )
    write_version(df.repartition(6), base, partition_by=("part",))
    rename_column(spark, base, {"id": "ident"})
    v, n = optimize_small_files(spark, base, target_rows_per_file=100)
    assert n > 0
    got = read_version(spark, base)
    assert set(got.columns) == {"ident", "part", "v"}
    assert sorted(r["ident"] for r in got.collect()) == list(range(12))
    # partition dirs preserved
    cur = _current(base)
    top = os.listdir(os.path.join(base, cur["dir"]))
    assert {"part=p1", "part=p2"} <= set(top)


def test_stats_carried_and_harvested(spark, tmp_path):
    """The streaming-accretion shape: a compacted bulk + COPY INTO
    landing a few tiny files.  OPTIMIZE packs only the tiny ones, the
    bulk's manifest stats survive by rel path, the packed file gets a
    fresh footer harvest, and pruning still bites."""
    from etl_opensky_spark.sources.versioned import copy_into

    base = str(tmp_path / "lake")
    write_version(
        spark.range(40).select(F.col("id").cast("int").alias("id"))
        .repartitionByRange(2, "id"),
        base,
        stats_cols=("id",),
    )
    landing = str(tmp_path / "landing")
    spark.range(40, 44).select(
        F.col("id").cast("int").alias("id")
    ).repartition(2).write.parquet(landing)
    copy_into(spark, base, landing, stats_cols=("id",))
    before = _snap_inodes(base)
    v, n = optimize_small_files(spark, base, target_rows_per_file=12)
    assert n == 2  # exactly the two ingested files
    cur = _current(base)
    stats = cur["stats"]
    snap = _snapshot_files(os.path.join(base, cur["dir"]))
    # every data file in the new snapshot has a stats row
    assert set(stats.keys()) == {rel for rel, _ in snap.keys()}
    # the two bulk files were hardlinked (rel path + inode preserved)
    after = _snap_inodes(base)
    assert len(set(before.items()) & set(after.items())) == 2
    # and pruning still bites
    kept, total = prune_files(base, {"id": (0, 5)})
    assert kept and len(kept) < total
    assert sorted(r["id"] for r in read_version(spark, base).collect()) \
        == list(range(44))


def test_copy_into_stages_one_file_per_landing_file(spark, tmp_path):
    """COPY INTO keeps each landing file a file of its own, whatever the
    session's parallelism: one scan of all of them would pack the small
    files into one split per core, so the staged file count (and what a
    later OPTIMIZE finds to pack) would follow the core count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_opensky_spark.sources.versioned import copy_into

    base = str(tmp_path / "lake")
    write_version(
        spark.range(4).select(F.col("id").cast("int").alias("id")).coalesce(1),
        base,
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    # more files than two per core, so a packed scan must merge some
    n_files = 2 * spark.sparkContext.defaultParallelism + 2
    for i in range(n_files):
        pq.write_table(
            pa.table({"id": pa.array([100 + i], pa.int32())}),
            landing / f"part-{i:03d}.parquet",
        )
    n_before = len(_snap_inodes(base))
    copy_into(spark, base, str(landing))
    assert len(_snap_inodes(base)) - n_before == n_files
    assert sorted(r["id"] for r in read_version(spark, base).collect()) == (
        [0, 1, 2, 3] + [100 + i for i in range(n_files)]
    )
    v, n_compacted = optimize_small_files(spark, base, target_rows_per_file=64)
    assert n_compacted == n_files + 1  # the landing files and the 4-row bulk


def test_partition_column_tombstone_key_refused(spark, tmp_path):
    base = str(tmp_path / "lake")
    write_version(
        spark.createDataFrame(
            [(i, "a") for i in range(6)] + [(9, "b")],
            "id int, part string",
        ).repartition(3),
        base,
        partition_by=("part",),
    )
    purge_versioned_mor(
        spark, base,
        spark.createDataFrame([("a",)], "part string"), ["part"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        optimize_small_files(spark, base, target_rows_per_file=100)
