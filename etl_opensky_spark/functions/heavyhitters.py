"""Distributed heavy hitters via mergeable Misra-Gries summaries.

The frequent-items primitive of a training-data pipeline (hot tokens,
hot URLs, boilerplate detection) at a scale where an exact groupBy of
the full key space is feasible but wasteful: each partition keeps at
most ``k`` counters regardless of how many distinct keys stream through
it, and the merged summary is ``num_partitions × k`` rows — constant
per-executor state, one tiny shuffle.

Why Misra-Gries and not a plain ``groupBy``: at 100 TB the token key
space is billions of distinct values; MG bounds *executor memory* by
``k`` and moves only ``k`` rows per partition into the merge, while
still carrying a hard deterministic guarantee (Misra & Gries 1982;
mergeability per Agarwal et al., "Mergeable Summaries", PODS 2012):

- estimates never overcount: ``est(t) <= true(t)``;
- per-partition undercount is at most ``n_p/(k+1)`` (each decrement
  round cancels k+1 occurrences), so the SUM-merged summary
  undercounts by at most ``n/(k+1)`` in total;
- hence every item with ``true(t) > n/(k+1)`` survives the merge.

Those bounds are what the tests check against exact
counts — the same pattern as the HLL/quantile-sketch gates (q78/q79):
the approximate operator is oracle-checkable through its contract,
not its engine-specific internals.

The per-partition pass is a Pandas-batched ``mapInPandas`` (Arrow
transfer, ``value_counts`` per batch — no per-row Python), because the
counter-eviction state machine is genuinely imperative; everything
before and after stays JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUMMARY_SCHEMA = "item string, est long"


def misra_gries(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Merged Misra-Gries summary of ``df[col]``: one row per surviving
    item with its (under-)estimate.  At most ``k`` counters per input
    partition; merged by summation (estimates stay conservative).

    The *estimates* depend on partition layout (any MG run's do); the
    guarantees above hold under every layout, which is what downstream
    consumers rely on — see
    ``tests/test_graph_sketch.py`` partitioning-invariance.

    NULLs are IGNORED: ``value_counts`` drops them, so null never
    appears as an item and contributes nothing to any counter.  The
    ``true - n/(k+1) <= est`` bound therefore holds for n = count of
    NON-null rows — callers computing n with nulls included would apply
    the bound to the wrong n.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def mg_partition(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            # batch-local exact counts first (vectorized), then fold each
            # distinct item into the bounded counter set once
            for item, cnt in pdf[col].value_counts().items():
                cnt = int(cnt)
                if item in counters:
                    counters[item] += cnt
                    continue
                while cnt > 0 and len(counters) >= k:
                    # evict: subtract the smallest surviving count from
                    # everyone (batched form of the one-at-a-time
                    # decrement; cancels (k+1)*step occurrences)
                    step = min(min(counters.values()), cnt)
                    cnt -= step
                    counters = {
                        it: c - step for it, c in counters.items() if c > step
                    }
                if cnt > 0:
                    counters[item] = cnt
        if counters:
            yield pd.DataFrame(
                {"item": list(counters.keys()), "est": list(counters.values())}
            )

    summaries = df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        lambda it: mg_partition(it), schema=SUMMARY_SCHEMA
    )
    return summaries.groupBy("item").agg(F.sum("est").alias("est"))


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
    the OVER-estimating complement to ``misra_gries`` (which
    under-estimates): ``est = min_r cell[r][h_r(key)]`` with
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
