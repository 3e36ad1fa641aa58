"""Full-catalog physical-plan lint (VERDICT r4 #3): every query in the
catalog is built at sf0.001 and its executed plan swept for scale
hazards (``plans.lint.plan_warnings``).  Any future query with an
unpushed filter, cartesian product, row-Python UDF, or unbounded
single-partition exchange fails here — unless its shape is explicitly
allowlisted below with the documented reason.

The allowlist encodes BOUNDED shapes the linter cannot know are bounded
(its job is to flag them; the docstrings of the queries carry the
boundedness proof):

- ``single-partition-exchange``: scalar/global aggregates over
  already-aggregated tiny tables (a handful of groups), driver-bounded
  top-k reads, or the bounded date spine.
- ``broadcast-nested-loop``: deliberate bounded fallbacks (grid-NN's
  unresolved-leftovers pass; interval joins against a broadcast list of
  a few hundred intervals).
- ``cartesian-product``: bounded self-pair constructions where both
  sides are provably tiny (e.g. 4x4 centroid pairs).
- ``full-width-scan``: gates that intentionally reconstruct a whole
  wide row (serde roundtrips, federated unions).
"""

from __future__ import annotations

import pytest

from etl_opensky_spark.plans.lint import plan_warnings
from etl_opensky_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: query -> {warning-kind prefixes allowed}, with the boundedness reason.
#: Curated from the round-5 full sweep (35 raw flags -> 15 after the
#: linter learned that a SinglePartition exchange fed by PARTIAL
#: aggregates is the bounded final stage of a scalar aggregate, and that
#: truncated ReadSchema strings must not be parsed cross-line).
BNLJ = {"broadcast-nested-loop"}
ALLOW: dict[str, set[str]] = {
    # global row_number is this gate's POINT: bit-compatible surrogate
    # keys in the reference's mode; the engine default (xxhash64) is the
    # scale path and plans shuffle-free.
    "q10_surrogate_key": {"single-partition-exchange"},
    # global centered-MA window over the DAILY series: calendar-bounded
    # (~2.4k rows/7 years) single partition by construction
    "q248_stl_decomposition": {"single-partition-exchange"},
    # scalar-subquery joins: the broadcast side is ONE row (a global
    # aggregate) — the nested loop runs once per stream row against a
    # single value.
    "q125_nation_balance_share": BNLJ,
    "q127_rich_inactive_customers": BNLJ,
    "q126_top_quarter_suppliers": BNLJ,
    "q150_skew_report": BNLJ,
    "q166_chi2_independence": BNLJ,
    "q197_join_size_estimate": BNLJ,
    "q211_bag_set_ops": BNLJ,
    "q149_psi_drift": BNLJ,
    "q232_privacy_audit": BNLJ,  # 1-row global-total crossJoin
    "q234_target_encoding": BNLJ,  # 1-row global-prior crossJoin
    # bounded broadcast lists: query points / centroids / interval or
    # threshold tables of fixed small size by construction.
    "q121_scd2_asof": BNLJ,       # as-of range probe vs broadcast history
    "q140_triangle_count": BNLJ,  # degree-ordered wedge close, bounded
    "q188_geo_nearest": BNLJ,     # documented bounded leftover fallback
    # Hamilton apportionment: 1-row total/leftover crossJoins + a rank
    # window over the AGGREGATED strata table (bounded by key
    # cardinality, never corpus-sized — see proportional_allocation).
    "q257_quota_allocation": BNLJ | {"single-partition-exchange"},
    "q258_time_decay_score": BNLJ,  # 1-row max-ts anchor crossJoin
    # same Hamilton-core shape as q257: 1-row total/leftover crossJoins
    # + rank window over the aggregated strata table (key-cardinality)
    "q262_temperature_mixture": BNLJ | {"single-partition-exchange"},
}


def _kinds(warnings: list[str]) -> set[str]:
    return {w.split(":", 1)[0] for w in warnings}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_plan_is_clean(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    got = _kinds(plan_warnings(df))
    unexpected = got - ALLOW.get(name, set())
    assert not unexpected, (
        f"{name}: plan hazards {sorted(unexpected)} — fix the plan or "
        "allowlist with a documented boundedness proof"
    )
