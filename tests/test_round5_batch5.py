"""Round-5 batch 5: HLL merge/sparse correction and the calibration
(reliability) table (q260-q261)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.functions.cardinality import (
    hll_estimate,
    hll_merge,
    hll_registers,
)
from etl_opensky_spark.functions.evaluation import calibration_table


# --- hll_merge + sparse correction (q260) -----------------------------------


def test_hll_merge_equals_registers_of_union(spark):
    a = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    b = spark.range(300, 900).select(F.col("id").cast("string").alias("k"))
    merged = hll_merge(
        hll_registers(a, "k"), hll_registers(b, "k")
    )
    direct = hll_registers(a.union(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_sparse_correction_accuracy(spark):
    # 20 distinct keys, 256 registers: raw estimator biases high by
    # ~10x; linear counting must land within 20%
    df = spark.range(0, 20).select(F.col("id").cast("string").alias("k"))
    regs = hll_registers(df, "k")
    raw = hll_estimate(regs).head()["estimate"]
    lc = hll_estimate(regs, correct_sparse=True).head()["estimate"]
    assert raw > 100  # documents the sparse-regime bias
    assert abs(lc - 20) <= 4


def test_hll_correction_noop_in_dense_regime(spark):
    df = spark.range(0, 50_000).select(
        F.col("id").cast("string").alias("k")
    )
    regs = hll_registers(df, "k")
    raw = hll_estimate(regs).head()["estimate"]
    lc = hll_estimate(regs, correct_sparse=True).head()["estimate"]
    assert raw == lc  # above 2.5*m the correction must not fire
    assert abs(raw - 50_000) <= 0.2 * 50_000


# --- calibration_table (q261) -----------------------------------------------


def test_calibration_bins_and_rates(spark):
    rows = [
        (0.05, True), (0.05, False),            # bin 0: rate 0.5
        (0.95, True), (0.95, True), (0.95, False),  # bin 9: rate 2/3
        (1.0, True),                            # clamps into bin 9
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {r["bin"]: r for r in calibration_table(df, "score", "label").collect()}
    assert set(out) == {0, 9}
    assert out[0]["n"] == 2 and out[0]["n_pos"] == 1
    assert out[0]["rate"] == pytest.approx(0.5)
    assert out[9]["n"] == 4 and out[9]["n_pos"] == 3
    assert out[9]["rate"] == pytest.approx(0.75)
    assert out[9]["sum_score_milli"] == 950 * 3 + 1000
    assert out[9]["confidence"] == pytest.approx((950 * 3 + 1000) / 4000)


def test_calibration_well_calibrated_model(spark):
    # score == empirical rate by construction: 10 rows per decile,
    # k positives in bin k at score k/10 + 0.05
    rows = []
    for k in range(10):
        s = k / 10 + 0.05
        rows += [(s, i < k) for i in range(10)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    for r in calibration_table(df, "score", "label").collect():
        assert abs(r["rate"] - r["confidence"]) <= 0.05 + 1e-9
