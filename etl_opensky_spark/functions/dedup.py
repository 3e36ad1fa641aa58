"""Exact deduplication: keep one row per canonicalized text
(``dedup_exact``), grouped on an md5 content fingerprint
(``fingerprint_md5``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fingerprint_md5(col: Column) -> Column:
    """Canonical content fingerprint: md5 of lowercased, trimmed,
    whitespace-collapsed text.  md5 (not xxhash64) so external engines can
    reproduce it."""
    canon = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(canon)


def dedup_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hot_threshold: int | None = None,
    keep_by: Column | None = None,
) -> DataFrame:
    """Keep one row per exact (canonicalized) text: the min id wins.

    ``keep_by``: policy keeper — the row minimizing ``(keep_by, id)``
    wins instead of plain min id (prefer the trusted source, keep the
    longest raw form, keep the highest quality score — pass a NEGATED
    metric to keep the max).  The id stays the final tiebreak, so the
    winner is total-order deterministic under any partitioning; both
    the window path and the hot ``min_by`` path honor it.

    Default path: one shuffle on the md5 fingerprint + per-group sort
    (window row_number) — measured ~4x faster cold than the
    groupBy-winners + semi-join formulation, which shuffles the payload
    anyway for the join.  Fingerprint groups are tiny (dup cardinality),
    so the per-group sort is O(dups).

    ``hot_threshold``: skew hardening for corpora where one text dominates
    (empty/boilerplate docs at corpus scale — a single window partition
    would absorb every copy).  Fingerprint counts are pre-aggregated
    (map-side combine, skew-immune by construction), fingerprints with
    count > hot_threshold are routed through a ``min_by`` aggregate —
    partial aggregation collapses the hot key to one row per map task
    BEFORE the shuffle — and only the cold tail pays the window.  The hot
    set is <= n/hot_threshold fingerprints, so its broadcast is bounded.
    """
    order = (
        [keep_by, F.col(id_col)] if keep_by is not None else [F.col(id_col)]
    )
    if hot_threshold is None:
        w = Window.partitionBy(fingerprint_md5(F.col(text_col))).orderBy(
            *order
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    cols = df.columns
    dfp = df.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    hot = (
        dfp.groupBy("_fp")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") > hot_threshold)
        .select("_fp")
    )
    flagged = dfp.join(
        F.broadcast(hot.withColumn("_is_hot", F.lit(True))), "_fp", "left"
    )
    w = Window.partitionBy("_fp").orderBy(*order)
    cold_kept = (
        flagged.filter(F.col("_is_hot").isNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*cols)
    )
    payload = F.struct(*[F.col(c) for c in cols])
    hot_kept = (
        flagged.filter(F.col("_is_hot").isNotNull())
        .groupBy("_fp")
        .agg(F.min_by(payload, F.struct(*order)).alias("_row"))
        .select("_row.*")
    )
    return cold_kept.unionByName(hot_kept)
