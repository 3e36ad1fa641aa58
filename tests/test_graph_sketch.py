"""PageRank (functions/graph.py): contract properties + determinism."""

from __future__ import annotations

from etl_opensky_spark.functions.graph import SCALE, pagerank


def _reference_pagerank(edges, n_iter=3, d_num=85, d_den=100):
    """Single-node mirror of the integer recursion (dict arithmetic)."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    teleport = ((d_den - d_num) * SCALE // d_den) // n
    totw: dict[str, int] = {}
    for u, _, w in edges:
        totw[u] = totw.get(u, 0) + w
    rank = {v: SCALE // n for v in nodes}
    for _ in range(n_iter):
        s = {v: 0 for v in nodes}
        for u, v, w in edges:
            s[v] += rank[u] * w // totw[u]
        rank = {v: teleport + d_num * s[v] // d_den for v in nodes}
    return rank


TOY_EDGES = [
    ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
    ("c", "a", 5), ("d", "a", 1),  # d is never linked to: dangling-in
]


def test_pagerank_matches_reference_recursion(spark):
    df = spark.createDataFrame(TOY_EDGES, "src string, dst string, w long")
    got = {r.node: r["rank"] for r in pagerank(df, weight="w").collect()}
    assert got == _reference_pagerank(TOY_EDGES)


def test_pagerank_unweighted_defaults_to_weight_one(spark):
    df = spark.createDataFrame(TOY_EDGES, "src string, dst string, w long")
    got = {r.node: r["rank"] for r in pagerank(df).collect()}
    ones = [(u, v, 1) for u, v, _ in TOY_EDGES]
    assert got == _reference_pagerank(ones)


def test_pagerank_unreferenced_node_keeps_teleport_only(spark):
    df = spark.createDataFrame(TOY_EDGES, "src string, dst string, w long")
    got = {r.node: r["rank"] for r in pagerank(df, weight="w").collect()}
    # nothing links to d, so after round 1 its rank is exactly teleport
    teleport = ((100 - 85) * SCALE // 100) // 4
    assert got["d"] == teleport


def test_pagerank_rejects_negative_and_null_weights(spark):
    # Spark's `div` truncates toward zero, DuckDB/Python floor: a negative
    # weight would silently desync engines, so the guard must raise.
    import pytest

    neg = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", -1)], "src string, dst string, w long"
    )
    with pytest.raises(Exception) as exc:
        pagerank(neg, weight="w").collect()
    assert "non-negative" in str(exc.value)
    nul = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", None)], "src string, dst string, w long"
    )
    with pytest.raises(Exception) as exc:
        pagerank(nul, weight="w").collect()
    assert "non-negative" in str(exc.value)


def test_pagerank_invariant_under_repartitioning(spark):
    edges = [
        (f"n{i}", f"n{(i * 7 + 3) % 23}", 1 + i % 5) for i in range(120)
    ]
    edges = [(u, v, w) for u, v, w in edges if u != v]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    base = sorted(tuple(r) for r in pagerank(df, weight="w").collect())
    for parts in (1, 13):
        got = sorted(
            tuple(r)
            for r in pagerank(df.repartition(parts), weight="w").collect()
        )
        assert got == base, f"partitioning {parts} changed the ranks"


def test_pagerank_mass_is_conserved_up_to_truncation(spark):
    df = spark.createDataFrame(TOY_EDGES, "src string, dst string, w long")
    total = sum(r["rank"] for r in pagerank(df, weight="w").collect())
    # floor truncation and the d->a out-edge of the sink-free toy graph
    # only ever LOSE mass; ranks stay positive and bounded by SCALE
    assert 0 < total <= SCALE
