"""Distribution-drift statistics: two-sample KS and PSI.

The monitoring layer of a training-data pipeline: did this week's corpus
(or feature) distribution move against the reference?  Both statistics
are computed EXACTLY with the repo's integer-determinism rules so any
engine reproduces them bit-for-bit:

- KS keeps the max-CDF-gap as the integer ``|cA·nB − cB·nA|`` (cross-
  multiplied empirical CDFs — no per-row float division) and divides
  once at the end;
- PSI micro-quantizes each bin's log-ratio ONCE (the q89 rule) and
  keeps the weighted sum in exact integer micros.

Scale shapes:

- ``ks_statistic``: counts per (value, side) — one shuffle — then the
  running totals via the distributed prefix pattern (range partitions +
  per-partition window + driver-side offsets over ONE row per
  partition), never a single global window task.
- ``psi``: equal-width binning is a map-side expression; one shuffle to
  the per-bin counts (bounded by n_bins rows out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ks_statistic(
    df: DataFrame,
    value_col: str,
    side_col: str,
    num_buckets: int = 32,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic.

    ``side_col`` must be a boolean column (True = sample A).  Returns a
    1-row frame ``(n_a, n_b, d_num, ks)`` where ``d_num = max_x
    |cdfA(x)·n_a·n_b − cdfB(x)·n_a·n_b|`` as an exact integer and
    ``ks = d_num / (n_a·n_b)`` is the single final double division.

    The CDF sweep needs a total order over distinct values; that is the
    distributed-prefix shape (``equal_frequency_bins`` pattern): range
    partitions over the value, bounded per-partition windows, driver
    prefix over one (cum_a, cum_b) pair per partition.
    """
    counts = (
        df.select(
            F.col(value_col).alias("_v"),
            F.col(side_col).cast("boolean").alias("_s"),
        )
        .groupBy("_v")
        .agg(
            F.sum(F.when(F.col("_s"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(~F.col("_s"), 1).otherwise(0)).alias("_cb"),
        )
    )
    ranged = (
        counts.repartitionByRange(num_buckets, F.col("_v"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    per_part = (
        ranged.groupBy("_pid")
        .agg(F.sum("_ca").alias("_sa"), F.sum("_cb").alias("_sb"))
        .collect()
    )
    offsets = []
    run_a = run_b = 0
    for row in sorted(per_part, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], run_a, run_b))
        run_a += row["_sa"]
        run_b += row["_sb"]
    n_a, n_b = run_a, run_b
    spark = df.sparkSession
    off = spark.createDataFrame(
        offsets, schema="_pid int, _off_a bigint, _off_b bigint"
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        ranged.join(F.broadcast(off), "_pid")
        .withColumn("_cum_a", F.sum("_ca").over(w) + F.col("_off_a"))
        .withColumn("_cum_b", F.sum("_cb").over(w) + F.col("_off_b"))
    )
    gap = F.abs(
        F.col("_cum_a") * F.lit(n_b) - F.col("_cum_b") * F.lit(n_a)
    )
    out = cum.agg(F.max(gap).alias("d_num"))
    return out.select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        "d_num",
        (
            F.col("d_num").cast("double")
            / (F.lit(n_a).cast("double") * F.lit(n_b).cast("double"))
        ).alias("ks"),
    )


def psi(
    df: DataFrame,
    value_col: str,
    side_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index over fixed equal-width bins on
    ``[lo, hi)`` (values outside clamp to the edge bins — no dropped
    mass).  Returns one row per NON-EMPTY-ON-BOTH-SIDES bin plus the
    exact integer pieces, and every row carries the total:

    ``psi = Σ_bins (cA/nA − cB/nB) · ln((cA·nB)/(cB·nA))``

    kept as ``psi_micros_num = Σ (cA·nB − cB·nA) · lr_micros`` (exact
    bigint; ``lr_micros = round(ln((cA·nB)/(cB·nA))·1e6)`` quantized
    once per bin) with the single division ``/(nA·nB·1e6)`` done in
    double at the end.  Bins empty on either side are excluded (the
    common epsilon hack trades exactness for a tunable constant;
    exclusion is deterministic).
    """
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bin_id = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    counts = (
        df.select(
            bin_id.alias("bin"),
            F.col(side_col).cast("boolean").alias("_s"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_s"), 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(~F.col("_s"), 1).otherwise(0)).alias("c_b"),
        )
    )
    totals = counts.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    both = (
        counts.crossJoin(F.broadcast(totals))
        .filter((F.col("c_a") > 0) & (F.col("c_b") > 0))
    )
    lr_micros = F.round(
        F.log(
            (F.col("c_a") * F.col("n_b")).cast("double")
            / (F.col("c_b") * F.col("n_a")).cast("double")
        )
        * 1_000_000.0
    ).cast("bigint")
    terms = both.withColumn("lr_micros", lr_micros).withColumn(
        "term_micros",
        (F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
        * F.col("lr_micros"),
    )
    total = terms.agg(
        F.sum("term_micros").alias("psi_micros_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    ).select(
        "psi_micros_num",
        (
            F.col("psi_micros_num").cast("double")
            / (
                F.col("n_a").cast("double")
                * F.col("n_b").cast("double")
                * 1e6
            )
        ).alias("psi"),
    )
    return terms.select(
        "bin", "c_a", "c_b", "lr_micros", "term_micros"
    ).crossJoin(F.broadcast(total))


def embedding_mean_shift(
    emb: DataFrame,
    split_col,
    vec_col: str = "embedding",
) -> DataFrame:
    """Linear-kernel MMD^2 between two embedding populations — the
    EMBEDDING-space drift check beside the scalar KS/PSI tests: with a
    linear kernel, MMD^2 collapses to ``||mean_A - mean_B||^2``, one
    aggregate pass over quantized vectors (no pairwise kernel matrix —
    the formulation that survives 100 TB).

    Exactness: vectors quantize to integer micro-units (q88 pattern);
    the squared distance is computed over the common denominator
    ``(n_a*n_b)^2`` with DECIMAL(38) squares, so the numerator is an
    exact integer and the single decimal->double conversion is the only
    rounding.  ``split_col`` is a boolean Column (True = population A).
    Returns one row: ``(n_a, n_b, mmd_num, mmd)`` where
    ``mmd = mmd_num / (n_a*n_b)^2 / 1e12`` (micro-units squared back to
    input units)."""
    from etl_opensky_spark.functions.clustering import _quantize

    ex = emb.select(
        split_col.alias("_a"),
        F.posexplode(_quantize(emb, vec_col)).alias("_pos", "_q"),
    )
    sums = ex.groupBy("_pos").agg(
        F.sum(F.when(F.col("_a"), F.col("_q"))).alias("_sa"),
        F.sum(F.when(~F.col("_a"), F.col("_q"))).alias("_sb"),
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("_na"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("_nb"),
    )
    term = (
        (F.col("_sa") * F.col("_nb") - F.col("_sb") * F.col("_na"))
        .cast("decimal(38,0)")
    )
    out = sums.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.sum(term * term).cast("decimal(38,0)").alias("_num"),
    )
    return out.select(
        "n_a",
        "n_b",
        F.col("_num").cast("double").alias("mmd_num"),
        (
            F.col("_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
            / F.lit(1e12)
        ).alias("mmd"),
    )
