"""Round-4 batch-7 operators: constraint audit, z-order layout,
exact Gram matrix, group-aware split leak invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows


# --- constraint_audit --------------------------------------------------------


def test_constraint_audit_counts_each_rule_family(spark):
    from etl_opensky_spark.operators.quality import constraint_audit

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, 10),
            (1, "a", 5.0, 10),   # duplicate key (1,'a') -> 2 violation rows
            (2, None, 50.0, 99),  # null s, v out of range, fk 99 orphan
            (3, "zz", -1.0, 10),  # s not accepted, v out of range
            (4, "b", None, None),  # null v fails range; NULL fk is NOT orphan
        ],
        ["k", "s", "v", "fk"],
    )
    dim = spark.createDataFrame([(10,), (11,)], ["pk"])
    audit = constraint_audit(
        df,
        not_null=["s"],
        accepted_values={"s": ["a", "b"]},
        ranges={"v": (0.0, 10.0)},
        unique=[["k", "s"]],
        relationships=[("fk", dim, "pk")],
    )
    got = dict(rows(audit.select("rule", "n_violations")))
    assert got == {
        "not_null:s": 1,
        "accepted_values:s": 2,  # None and 'zz' both fail
        "range:v": 3,  # 50.0, -1.0, NULL
        "unique:k,s": 2,  # both copies of the dup key counted
        "relationship:fk->pk": 1,  # fk=99 only; NULL fk passes
    }


def test_constraint_audit_single_scan_for_row_rules(spark):
    """All row-level rule families fold into ONE aggregate over one scan
    (no per-rule scans)."""
    from etl_opensky_spark.operators.quality import constraint_audit

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    audit = constraint_audit(
        df,
        not_null=["k", "v"],
        accepted_values={"v": list(range(5))},
        ranges={"k": (0, 98)},
    )
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 1
    got = dict(rows(audit))
    assert got["range:k"] == 1 and got["accepted_values:v"] == 50


def test_constraint_audit_empty_rules_empty_frame(spark):
    from etl_opensky_spark.operators.quality import constraint_audit

    out = constraint_audit(spark.range(3))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["rule", "n_violations"]


# --- z-order layout ----------------------------------------------------------


def test_zorder_value_interleaves_bits(spark):
    from etl_opensky_spark.operators.layout import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (70000, -3)],
        ["x", "y"],
    )
    got = [
        r.z
        for r in df.select(
            zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]

    def morton(x, y):
        x, y = max(0, min(x, 65535)), max(0, min(y, 65535))
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [
        morton(0, 0), morton(1, 0), morton(0, 1),
        morton(3, 5), morton(65535, 65535), morton(70000, -3),
    ]
    assert got[4] == (1 << 32) - 1  # max interleave
    assert got[5] == morton(65535, 0)  # clamped both sides


def test_zorder_write_shrinks_file_envelopes(spark, tmp_path):
    """Z-clustered layout must give per-file envelopes whose total area
    is far below the single-file domain area times file count — the
    data-skipping property a linear sort on one column does not give
    for the OTHER column."""
    from etl_opensky_spark.operators.layout import (
        file_envelope_report,
        zorder_write,
    )

    n = 4096
    side = 64  # x, y in [0, 64): domain area 64*64
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") * 2654435761) % side).alias("y"),
    )
    zpath = str(tmp_path / "zordered")
    zorder_write(df, "x", "y", zpath, n_files=16)
    rep = file_envelope_report(spark, zpath, "x", "y").collect()
    assert len(rep) == 16
    area = sum(
        (r.x_max - r.x_min + 1) * (r.y_max - r.y_min + 1) for r in rep
    )
    # random assignment would give ~16 full-domain envelopes (65536);
    # z-clustering keeps the union of envelopes near the domain size.
    assert area < 16 * side * side / 3
    assert sum(r.n_rows for r in rep) == n


def test_zorder_sql_matches_column_expression(spark):
    """The SQL replay (oracle) and the Column expression are the same
    function — checked on both engines' shared Spark evaluation."""
    from etl_opensky_spark.operators.layout import (
        zorder_value,
        zorder_value_sql,
    )

    df = spark.createDataFrame(
        [(i * 37 % 65536, i * 101 % 65536) for i in range(200)], ["x", "y"]
    )
    expr_sql = zorder_value_sql(
        "LEAST(GREATEST(CAST(x AS BIGINT), 0), 65535)",
        "LEAST(GREATEST(CAST(y AS BIGINT), 0), 65535)",
    )
    both = df.select(
        zorder_value(F.col("x"), F.col("y")).alias("a"),
        F.expr(expr_sql).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


# --- gram matrix / moments ---------------------------------------------------


def test_gram_matches_numpy_exactly(spark):
    import numpy as np

    from etl_opensky_spark.functions.linalg import (
        gram_upper_triangle,
        moment_sums,
    )

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((50, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    q = np.floor(mat.astype(np.float64) * 1e6).astype(np.int64)
    want_gram = q.T @ q
    got = {
        (r.i, r.j): int(r.s_ij)
        for r in gram_upper_triangle(df, "embedding").collect()
    }
    for i in range(6):
        for j in range(i, 6):
            assert got[(i, j)] == int(want_gram[i, j])
    moments = {r.i: (int(r.s_i), r.n) for r in moment_sums(df).collect()}
    want_s = q.sum(axis=0)
    for i in range(6):
        assert moments[i] == (int(want_s[i]), 50)


def test_gram_partitioning_invariant(spark):
    import numpy as np

    from etl_opensky_spark.functions.linalg import gram_upper_triangle

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((64, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    assert rows(gram_upper_triangle(df)) == rows(
        gram_upper_triangle(df.repartition(13))
    )


# --- group split leak invariant ---------------------------------------------


def test_group_split_never_splits_a_group(spark):
    from etl_opensky_spark.functions.sampling import hash_split

    df = spark.createDataFrame(
        [(i, f"src{i % 23}") for i in range(500)], ["id", "source"]
    )
    split = hash_split(df, "source", {"train": 0.8, "val": 0.1, "test": 0.1})
    leak = (
        split.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
    )
    assert leak.count() == 0
    # and every row got a label
    assert split.filter(F.col("split").isNull()).count() == 0
