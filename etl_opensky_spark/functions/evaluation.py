"""Model/retrieval evaluation metrics, engine-exact and distributed.

Training pipelines don't stop at producing data — they measure the
models trained on it.  These are the two metrics every eval harness
needs, built to this repo's exactness contract (integer arithmetic
until one final division) and scale shape (no global single-task
windows):

- ``exact_auc``: ROC AUC via the Mann–Whitney rank-sum identity,
  tie-correct (average ranks), computed over the DISTINCT-SCORE count
  table with the distributed-prefix pattern (``drift.ks_statistic`` /
  ``equal_frequency_bins``): range partitions over the score, bounded
  per-partition windows, one (count) scalar per partition prefix-summed
  on the driver.  All rank sums are exact integers (doubled to absorb
  the half-rank of ties); AUC is one double division at the end.
- ``ndcg_at_k``: graded-relevance ranking quality per query group.
  Position discounts ``1/log2(i+1)`` are micro-quantized ONCE as
  Python-literal weights (positions are a tiny fixed set), so DCG and
  IDCG are exact integer dot products; NDCG is the single final
  division.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_auc(
    df: DataFrame,
    score_col: str,
    positive_col: str,
    num_buckets: int = 32,
) -> DataFrame:
    """One-row frame ``(n_pos, n_neg, auc_num, auc_den, auc)`` with
    ``auc = auc_num / auc_den`` exactly; ``positive_col`` boolean.

    Identity: ``AUC = (R2 - P(P+1)) / (2PN)`` where ``R2`` is twice the
    sum of positives' average ranks — for every distinct score,
    ``n_pos * (2*cnt_lt + n_all + 1)`` (ties get the average rank).
    """
    counts = (
        df.select(
            F.col(score_col).alias("_v"),
            F.col(positive_col).cast("boolean").alias("_p"),
        )
        .groupBy("_v")
        .agg(
            F.count("*").alias("_n_all"),
            F.sum(F.when(F.col("_p"), 1).otherwise(0)).alias("_n_pos"),
        )
    )
    ranged = (
        counts.repartitionByRange(num_buckets, F.col("_v"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    per_part = (
        ranged.groupBy("_pid").agg(F.sum("_n_all").alias("_s")).collect()
    )
    offsets = []
    running = 0
    for row in sorted(per_part, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], running))
        running += row["_s"]
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "_pid int, _off bigint")
    w = (
        Window.partitionBy("_pid")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        ranged.withColumn("_cum_incl", F.sum("_n_all").over(w))
        .join(F.broadcast(off), "_pid")
        .withColumn(
            "_cnt_lt", F.col("_off") + F.col("_cum_incl") - F.col("_n_all")
        )
    )
    agg = cum.agg(
        F.sum("_n_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("_n_all") - F.col("_n_pos")).cast("bigint").alias(
            "n_neg"
        ),
        F.sum(
            F.col("_n_pos")
            * (2 * F.col("_cnt_lt") + F.col("_n_all") + 1)
        ).cast("bigint").alias("_r2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            F.col("_r2") - F.col("n_pos") * (F.col("n_pos") + 1)
        ).alias("auc_num"),
        (2 * F.col("n_pos") * F.col("n_neg")).alias("auc_den"),
        F.round(
            (
                F.col("_r2") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


def discount_weights_micros(k: int) -> list[int]:
    """Micro-quantized NDCG position discounts ``round(1e6/log2(i+1))``
    for ranks 1..k — Python-evaluated literals, identical in every
    engine by construction."""
    return [round(1_000_000.0 / math.log2(i + 1)) for i in range(1, k + 1)]


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    order_col: str,
    tiebreak_col: str,
    relevance_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query NDCG@k with integer graded relevance: rank by
    ``(order_col DESC, tiebreak_col)``, ideal ranking by
    ``(relevance_col DESC, tiebreak_col)``; both DCGs are exact integer
    dot products with the micro-quantized discount literals; NDCG is
    one final division.  Returns ``(query_col, dcg_micros, idcg_micros,
    ndcg)``.

    One window shuffle on the query key; the discount join is a
    broadcast of k rows.
    """
    weights = discount_weights_micros(k)
    spark = df.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame(
            [(i + 1, w) for i, w in enumerate(weights)],
            "_rank int, _w bigint",
        )
    )
    actual_w = Window.partitionBy(query_col).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col)
    )
    ideal_w = Window.partitionBy(query_col).orderBy(
        F.col(relevance_col).desc(), F.col(tiebreak_col)
    )
    ranked = df.select(
        query_col,
        F.col(relevance_col).cast("bigint").alias("_rel"),
        F.row_number().over(actual_w).alias("_ar"),
        F.row_number().over(ideal_w).alias("_ir"),
    )
    dcg = (
        ranked.filter(F.col("_ar") <= k)
        .join(wdf, ranked["_ar"] == wdf["_rank"])
        .groupBy(query_col)
        .agg(F.sum(F.col("_rel") * F.col("_w")).alias("dcg_micros"))
    )
    idcg = (
        ranked.filter(F.col("_ir") <= k)
        .join(wdf, ranked["_ir"] == wdf["_rank"])
        .groupBy(query_col)
        .agg(F.sum(F.col("_rel") * F.col("_w")).alias("idcg_micros"))
    )
    return dcg.join(idcg, query_col).select(
        query_col,
        "dcg_micros",
        "idcg_micros",
        F.round(
            F.col("dcg_micros").cast("double")
            / F.col("idcg_micros").cast("double"),
            6,
        ).alias("ndcg"),
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram data — the model-eval staple: scores in
    [0, 1] are cut into ``bins`` equi-width buckets; each bucket
    reports how often the event actually happened (``rate``) against
    what the model claimed (``confidence``).  A calibrated model has
    rate ≈ confidence in every bucket.

    Exactness contract: the bucket index is an integer floor, the
    per-bucket sums are exact integers (scores micro-quantized to
    milli-units ONCE, labels counted), and ``rate``/``confidence`` are
    single divisions of exact integers — no float accumulation, so a
    SQL oracle replays every column.  One map-side-combined aggregate;
    output is ``bins`` rows.

    Returns ``(bin, n, n_pos, sum_score_milli, rate, confidence)``.
    """
    s = F.col(score_col).cast("double")
    b = F.least(
        F.greatest(F.floor(s * bins).cast("int"), F.lit(0)),
        F.lit(int(bins) - 1),
    )
    pos = F.when(F.col(label_col).cast("boolean"), 1).otherwise(0)
    agg = (
        df.select(
            b.alias("bin"),
            pos.alias("_p"),
            F.round(s * 1000).cast("long").alias("_milli"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("_p").alias("n_pos"),
            F.sum("_milli").alias("sum_score_milli"),
        )
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        "sum_score_milli",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "rate"
        ),
        (
            F.col("sum_score_milli").cast("double")
            / (F.col("n") * 1000).cast("double")
        ).alias("confidence"),
    )
