"""Distributed heavy hitters via Count-Min sketches.

Count-Min (Cormode & Muthukrishnan 2005) answers point and join-size
queries from a ``depth x width`` cell table whose size does not depend
on the corpus: per-partition cell partials merge by SUM, and every
estimate carries the deterministic one-sided guarantee
``true <= est`` (collisions only add).  The tests check that contract
against exact counts — the approximate operator is oracle-checkable
through its guarantee, not its engine-specific internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _md5_bucket(col, salt: int, width: int):
    """Deterministic cross-engine hash row: first 8 md5 hex digits of
    ``value:salt`` mod ``width`` — the same md5-parity idiom as
    ``sampling.hash_bucket`` (engine-portable, unlike xxhash64 which
    DuckDB lacks)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", col.cast("string"), F.lit(str(salt)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def countmin_estimates(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
) -> DataFrame:
    """Count-Min sketch point queries (Cormode & Muthukrishnan 2005) —
    OVER-estimating: ``est = min_r cell[r][h_r(key)]`` with
    ``true <= est`` ALWAYS (every occurrence of the key lands in the
    probed cell; collisions only add).

    Returns the ``top_k`` keys by true count as
    ``(item, true_cnt, est_cnt, over_ok)`` — ``over_ok`` is the
    deterministic one-sided guarantee, checked per row.

    Scale shape: counts first (ONE map-side-combined aggregate — the
    sketch is built from the KEY-COUNT table, never by exploding raw
    rows ``depth``-fold); the cell table is ``depth*width`` rows
    regardless of corpus size, and per-partition cell partials merge by
    SUM — the textbook mergeable-sketch property, which is exactly what
    the groupBy computes.  Estimates join the bounded key table to the
    bounded cell table.  md5-salted rows keep both engines bit-equal.
    """
    key = F.col(col).cast("string")
    # checkpoint: the key-count table feeds BOTH the cell build and the
    # estimate join — without it Catalyst re-scans the corpus per
    # consumer (Catalyst does not reuse the exchange)
    counts = (
        df.select(key.alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("true_cnt"))
        .localCheckpoint()
    )

    probes = counts.select(
        "item",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _md5_bucket(F.col("item"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("item", "true_cnt", "p.r", "p.bucket")

    cells = probes.groupBy("r", "bucket").agg(
        F.sum("true_cnt").alias("cell_sum")
    )

    est = (
        probes.join(cells, ["r", "bucket"])
        .groupBy("item", "true_cnt")
        .agg(F.min("cell_sum").alias("est_cnt"))
    )
    return (
        est.select(
            "item",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("true_cnt")).alias("over_ok"),
        )
        .orderBy(F.col("true_cnt").desc(), F.col("item"))
        .limit(top_k)
    )


def countmin_join_estimate(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Equi-join cardinality estimation from Count-Min sketches
    (Cormode & Muthukrishnan 2005, §4.2): ``|A ⋈ B|`` on a key equals
    the inner product of the two key-frequency vectors, and the
    sketch estimate is ``min_r Σ_b cellA[r][b]·cellB[r][b]`` — an
    OVER-estimate always (collisions only add non-negative cross
    terms).  This is the optimizer's pre-execution join-size probe:
    two ``depth×width`` sketches meet instead of two tables.

    Returns ONE row ``(true_size, est_size, over_ok)``; the true inner
    product is computed alongside for the gate (a production caller
    skips it).

    Scale shape: each side is ONE map-side-combined key-count
    aggregate (checkpointed — it feeds both its sketch and the truth
    join); sketch cells are ``depth×width`` rows regardless of corpus
    size and merge by SUM (mergeable-sketch property); the estimate
    joins two bounded cell tables on (row, bucket).  md5-salted
    bucketing keeps both engines bit-equal.
    """
    def side(df: DataFrame, col: str, tag: str):
        counts = (
            df.select(F.col(col).cast("string").alias("key"))
            .groupBy("key")
            .agg(F.count("*").alias(f"cnt_{tag}"))
            .localCheckpoint()
        )
        probes = counts.select(
            f"cnt_{tag}",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _md5_bucket(F.col("key"), r, width).alias(
                                "bucket"
                            ),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("p"),
        ).select(F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"), f"cnt_{tag}")
        cells = probes.groupBy("r", "bucket").agg(
            F.sum(f"cnt_{tag}").alias(f"cell_{tag}")
        )
        return counts, cells

    counts_a, cells_a = side(df_a, col_a, "a")
    counts_b, cells_b = side(df_b, col_b, "b")

    est = (
        cells_a.join(cells_b, ["r", "bucket"])
        .groupBy("r")
        .agg(
            F.sum(F.col("cell_a") * F.col("cell_b")).alias("_inner")
        )
        .agg(F.min("_inner").alias("est_size"))
    )
    true = (
        counts_a.alias("ca")
        .join(counts_b.alias("cb"), F.col("ca.key") == F.col("cb.key"))
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("true_size"))
    )
    return true.crossJoin(est).select(
        F.coalesce(F.col("true_size"), F.lit(0)).alias("true_size"),
        F.coalesce(F.col("est_size"), F.lit(0)).alias("est_size"),
        (
            F.coalesce(F.col("est_size"), F.lit(0))
            >= F.coalesce(F.col("true_size"), F.lit(0))
        ).alias("over_ok"),
    )
