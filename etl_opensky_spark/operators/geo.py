"""Spatial nearest-neighbor join via grid bucketing.

The reference pipeline is flight-domain (airports carry lat/lon,
``load_dim_airports.py:27-35`` casts them to FloatType) but never joins
on proximity; a production flight warehouse immediately needs "nearest
airport to X".  The naive formulation is an all-pairs cross join —
O(|L|·|R|), the same scale trap as brute-force nearest-neighbor
search.  This operator gives the EXACT 1-nearest-neighbor
under squared L2 with a grid-bucketed equi-join:

- every point is assigned an integer grid cell ``(floor(x/cell),
  floor(y/cell))``;
- each left point probes the 3×3 ring of cells around its own — a
  9-way explode followed by a plain equi-join on the cell key (shuffle
  partitioned by cell, broadcastable when the right side is a dim);
- **exactness**: a point two or more cells away in either axis is at
  distance ≥ ``cell`` (a full cell width separates them), so any ring
  candidate with ``d² < cell²`` is provably the global nearest
  neighbor;
- left rows whose best ring candidate is ≥ ``cell`` away (or who found
  no candidate) fall back to a brute-force pass — that remainder is
  broadcast against the right side, and its size is reported by the
  plan, not hidden: pick ``cell`` near the expected NN distance and the
  fallback is a thin tail, the documented escape path rather than the
  main road.

All arithmetic is integer when the inputs are integer (the gate derives
coordinates from md5 hashes), so the result is bit-exact across
engines; ties are broken by the smallest right id via lexicographic
struct-min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["grid_nearest_neighbor"]


def grid_nearest_neighbor(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    x: str = "x",
    y: str = "y",
    cell: int = 512,
) -> DataFrame:
    """Exact 1-NN under squared L2: for every left row, the right row
    minimizing ``(lx-rx)² + (ly-ry)²`` (ties → smallest ``right_id``).

    Returns ``(left_id, nn_id, d2)``.  Both inputs need columns ``x``
    and ``y`` (numeric; integer inputs give bit-exact results).
    """
    lx, ly = F.col(f"l.{x}"), F.col(f"l.{y}")
    rx, ry = F.col(f"r.{x}"), F.col(f"r.{y}")

    lc = left.select(
        F.col(left_id).alias("_lid"),
        F.col(x),
        F.col(y),
        F.floor(F.col(x) / cell).alias("_cx"),
        F.floor(F.col(y) / cell).alias("_cy"),
    )
    rc = right.select(
        F.col(right_id).alias("_rid"),
        F.col(x),
        F.col(y),
        F.floor(F.col(x) / cell).alias("_cx"),
        F.floor(F.col(y) / cell).alias("_cy"),
    )

    # 9-way ring explode on the LEFT (the probe side): each left row
    # emits the 3x3 cell neighborhood it must search.  The join is then
    # a plain equi-join on the cell key — shuffle-partitioned, skew
    # bounded by cell occupancy, never a cross join.
    offs = F.expr(
        "explode(array("
        + ",".join(
            f"struct({dx}L as dx, {dy}L as dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "))"
    )
    probes = lc.select(
        "*", offs.alias("_o")
    ).select(
        "_lid",
        x,
        y,
        (F.col("_cx") + F.col("_o.dx")).alias("_px"),
        (F.col("_cy") + F.col("_o.dy")).alias("_py"),
    )

    d2 = (
        (F.col(f"l.{x}") - F.col(f"r.{x}")) * (F.col(f"l.{x}") - F.col(f"r.{x}"))
        + (F.col(f"l.{y}") - F.col(f"r.{y}")) * (F.col(f"l.{y}") - F.col(f"r.{y}"))
    )
    ring_best = (
        probes.alias("l")
        .join(
            rc.alias("r"),
            (F.col("l._px") == F.col("r._cx"))
            & (F.col("l._py") == F.col("r._cy")),
        )
        .select(
            F.col("l._lid").alias("_lid"),
            d2.alias("_d2"),
            F.col("r._rid").alias("_rid"),
        )
        .groupBy("_lid")
        # lexicographic struct-min = (min d2, then min rid): the
        # deterministic tie-break, one map-side-combinable aggregate.
        .agg(F.min(F.struct("_d2", "_rid")).alias("_m"))
        .select("_lid", F.col("_m._rid").alias("_rid"), F.col("_m._d2").alias("_d2"))
        # both the sure-winner filter and the fallback's anti-join consume
        # this; without the persist the 9-way ring join runs TWICE (the
        # exchange-reuse lesson: Catalyst does not reuse exchanges
        # across differently-filtered consumers).  |L|-rows × 3 cols —
        # far smaller than the corpus.  The left input's cell derivation
        # is recomputed instead (column-pruned scan, no join — cheap).
        # Eager localCheckpoint, not persist: a lazy persist on a
        # returned-DataFrame subtree has no release path in a long-lived
        # session (ADVICE r4); checkpoint storage frees on RDD GC.
        .localCheckpoint(eager=True)
    )

    # Provably-global winners: best ring candidate strictly inside one
    # cell width.  Everything else (incl. lefts with an empty ring)
    # goes to the bounded brute-force fallback.
    sure = ring_best.filter(F.col("_d2") < cell * cell)
    unresolved = (
        lc.join(sure.select("_lid"), "_lid", "left_anti")
        .select("_lid", x, y)
    )
    fallback = (
        F.broadcast(unresolved).alias("l")
        .join(rc.alias("r"))
        .select(
            F.col("l._lid").alias("_lid"),
            d2.alias("_d2"),
            F.col("r._rid").alias("_rid"),
        )
        .groupBy("_lid")
        .agg(F.min(F.struct("_d2", "_rid")).alias("_m"))
        .select("_lid", F.col("_m._rid").alias("_rid"), F.col("_m._d2").alias("_d2"))
    )

    return sure.unionByName(fallback).select(
        F.col("_lid").alias(left_id),
        F.col("_rid").alias("nn_id"),
        F.col("_d2").alias("d2"),
    )
