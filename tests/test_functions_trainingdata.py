"""Unit tests for exact dedup, connected components and sampling ops."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.functions.dedup import dedup_exact, fingerprint_md5


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different words entirely unrelated text here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "der hund ist nicht ein kater und das ist gut"),  # german-ish
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fingerprint_md5_canonicalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world "), (3, "other")],
        "id int, text string",
    )
    fps = [
        r["fp"]
        for r in df.select(fingerprint_md5(F.col("text")).alias("fp")).collect()
    ]
    assert fps[0] == fps[1] != fps[2]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


def test_dedup_exact(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [1, 2, 3, 5, 6]  # 4 is an exact dup of 1; min id wins


def test_connected_components_transitive(spark):
    from etl_opensky_spark.functions.graph import connected_components

    # chain 1-2-3 plus isolated 4 and pair 5-6
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    got = dict(
        (r["doc_id"], r["component"])
        for r in connected_components(pairs, ids, "doc_id").collect()
    )
    assert got[1] == got[2] == got[3] == 1  # transitive closure
    assert got[4] == 4                      # isolated keeps own label
    assert got[5] == got[6] == 5


def test_hash_split_deterministic_partition(spark):
    from etl_opensky_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    split = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = split.collect()
    # total partition: every row labeled, once
    assert len(rows) == 1000
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    # deterministic: recomputing yields the identical assignment
    again = {r["doc_id"]: r["split"] for r in hash_split(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    first = {r["doc_id"]: r["split"] for r in rows}
    assert first == again


def test_hash_split_rejects_bad_weights(spark):
    import pytest as _pytest
    from etl_opensky_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError):
        hash_split(df, "doc_id", {"train": 0.5, "test": 0.1})


def test_stratified_sample_fraction(spark):
    from etl_opensky_spark.functions.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(2000)], "id long, s string"
    )
    out = stratified_sample(df, "s", {"a": 0.1, "b": 0.5}, seed=7)
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    assert 40 <= got.get("a", 0) <= 180
    assert 350 <= got.get("b", 0) <= 650


def test_dedup_exact_skew_hardened_matches_window(spark):
    # 90%-duplicate corpus: one boilerplate text dominates — the shape
    # that skews the plain window.  The hardened path must agree exactly.
    rows = [(i, "boilerplate page" if i % 10 else f"unique text {i}")
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = sorted(r["doc_id"] for r in dedup_exact(df, "text", "doc_id").collect())
    hardened = sorted(
        r["doc_id"]
        for r in dedup_exact(df, "text", "doc_id", hot_threshold=5).collect()
    )
    assert hardened == plain
    # schema preserved (payload columns survive the min_by struct round-trip)
    hard_df = dedup_exact(df, "text", "doc_id", hot_threshold=5)
    assert hard_df.columns == df.columns


def test_dedup_exact_hot_threshold_no_hot_keys(spark, docs):
    # threshold above every count: everything takes the cold/window branch
    kept = sorted(
        r["doc_id"]
        for r in dedup_exact(docs, "text", "doc_id", hot_threshold=100).collect()
    )
    assert kept == [1, 2, 3, 5, 6]


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    from etl_opensky_spark.functions import graph as G

    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)  # force distributed path
    # chain 0-1-2-3-4: needs more than one contraction round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(pairs, ids, "doc_id", max_iterations=1)
    # and with enough rounds it converges to one component
    comps = {
        r["component"]
        for r in G.connected_components(
            pairs, ids, "doc_id", max_iterations=10
        ).collect()
    }
    assert comps == {0}


def test_star_contraction_matches_union_find(spark, monkeypatch):
    """Distributed star contraction must agree exactly with driver-side
    union-find on assorted graph shapes (chains, merged components,
    singletons, high-degree hubs)."""
    import random

    from etl_opensky_spark.functions import graph as G

    rng = random.Random(7)
    graphs = [
        [(i, i + 1) for i in range(9)],                      # long chain
        [(0, 5), (5, 9), (2, 7), (7, 3), (11, 12)],          # two comps
        [(0, i) for i in range(1, 8)],                       # star (hub 0)
        [(rng.randrange(30), rng.randrange(30)) for _ in range(25)],
    ]
    for edges in graphs:
        nodes = sorted({n for e in edges for n in e} | {98, 99})  # +singletons
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ids = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
        monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 1_000_000)
        want = {
            (r["doc_id"], r["component"])
            for r in G.connected_components(pairs, ids, "doc_id").collect()
        }
        monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
        got = {
            (r["doc_id"], r["component"])
            for r in G.connected_components(pairs, ids, "doc_id").collect()
        }
        assert got == want, f"graph {edges}"


def test_pack_contiguous_matches_driver_prefix_sum(spark):
    from etl_opensky_spark.functions.sampling import pack_contiguous

    rows = [(i, (i * 37) % 90 + 10) for i in range(0, 500, 3)]  # sparse ids
    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(7)
    budget = 250
    got = {
        r["doc_id"]: r["bin"]
        for r in pack_contiguous(df, "doc_id", "w", budget, num_buckets=8).collect()
    }
    run = 0
    for i, w in rows:  # rows already in id order
        assert got[i] == run // budget, f"doc {i}"
        run += w
    # bucket count must not change the packing
    one = {
        r["doc_id"]: r["bin"]
        for r in pack_contiguous(df, "doc_id", "w", budget, num_buckets=1).collect()
    }
    assert one == got


def test_shuffle_deterministic_stable_under_partitioning(spark):
    from etl_opensky_spark.functions.sampling import shuffle_deterministic

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = [r["doc_id"] for r in shuffle_deterministic(df, "doc_id", 7).collect()]
    b = [
        r["doc_id"]
        for r in shuffle_deterministic(df.repartition(13), "doc_id", 7).collect()
    ]
    assert a == b  # order depends only on (seed, key)
    c = [r["doc_id"] for r in shuffle_deterministic(df, "doc_id", 8).collect()]
    assert a != c  # and genuinely changes with the seed


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from etl_opensky_spark.functions.sampling import weighted_sample

    rows = [(i, 1 if i < 90 else 1000) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = sorted(r["doc_id"] for r in weighted_sample(df, "doc_id", "w", k=10).collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), "doc_id", "w", k=10).collect()
    )
    assert a == b  # partitioning-independent
    # the ten 1000-weight rows should dominate a k=10 sample
    heavy = sum(1 for i in a if i >= 90)
    assert heavy >= 8
    # zero/NULL weights never selected
    df2 = spark.createDataFrame([(1, 0), (2, None), (3, 5)], "doc_id long, w int")
    only = [r["doc_id"] for r in weighted_sample(df2, "doc_id", "w", k=3).collect()]
    assert only == [3]


def test_take_until_budget_matches_driver_walk(spark):
    from etl_opensky_spark.functions.sampling import take_until_budget

    rows = [(i, (i * 13) % 50 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(9)
    budget = 900.0
    got = sorted(
        r["doc_id"]
        for r in take_until_budget(
            df, order_col="w", key_col="doc_id", weight_col="w",
            budget=budget, num_buckets=7,
        ).collect()
    )
    want, cum = [], 0
    for i, w in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + w > budget:
            break  # maximal prefix: first overflow stops the walk
        cum += w
        want.append(i)
    assert got == sorted(want)
    # bucket count must not change the selection
    one = sorted(
        r["doc_id"]
        for r in take_until_budget(
            df, order_col="w", key_col="doc_id", weight_col="w",
            budget=budget, num_buckets=1,
        ).collect()
    )
    assert one == got


def test_connected_components_distributed_over_threshold(spark):
    """Real >SMALL_GRAPH_EDGES run through the distributed
    star-contraction path — NO monkeypatched threshold: 100k chains of
    length 10 (~1.8M directed edges after symmetrization) plus one
    1000-node chain to stress contraction depth.  Every node must land
    in the component labeled by its chain's minimum id."""
    from etl_opensky_spark.functions import graph as G

    n, chain = 1_000_000, 10
    pairs = (
        spark.range(n)
        .filter((F.col("id") % chain) != chain - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .unionByName(
            spark.range(n, n + 999).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            )
        )
    )
    ids = spark.range(n + 1000).select(F.col("id").alias("doc_id"))
    comp = G.connected_components(pairs, ids, "doc_id")
    expected = F.when(
        F.col("doc_id") < n, F.col("doc_id") - (F.col("doc_id") % chain)
    ).otherwise(F.lit(n))
    assert comp.filter(F.col("component") != expected).count() == 0


def test_sample_by_fractions_deterministic_and_monotone(spark):
    from etl_opensky_spark.functions.sampling import sample_by_fractions

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, lang string",
    )
    half = sample_by_fractions(docs, "lang", "doc_id", {"en": 0.5}, default=1.0)
    kept_half = {r.doc_id for r in half.collect()}
    # all german kept (default 1.0); english roughly halved
    de = {i for i in range(400) if i % 2 == 1}
    assert de <= kept_half
    n_en = len(kept_half) - len(de)
    assert 60 <= n_en <= 140  # ~100 expected of 200
    # determinism: same spec → identical set
    again = {
        r.doc_id
        for r in sample_by_fractions(
            docs, "lang", "doc_id", {"en": 0.5}, default=1.0
        ).collect()
    }
    assert again == kept_half
    # monotone: raising a fraction only ADDS rows
    more = {
        r.doc_id
        for r in sample_by_fractions(
            docs, "lang", "doc_id", {"en": 0.8}, default=1.0
        ).collect()
    }
    assert kept_half <= more
    # fraction 0 drops the group entirely; fraction 1 keeps everything
    none_en = {
        r.doc_id
        for r in sample_by_fractions(
            docs, "lang", "doc_id", {"en": 0.0}, default=1.0
        ).collect()
    }
    assert none_en == de


def test_dsir_weights_favor_target_distribution(spark):
    from pyspark.sql import functions as F

    from etl_opensky_spark.functions.sampling import dsir_log_weights

    # target docs speak "aa bb", background docs speak "zz yy"
    rows = [(i, "aa bb aa bb", "t") for i in range(20)] + [
        (i + 100, "zz yy zz yy", "s") for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    out = dsir_log_weights(
        docs, "doc_id", "text", is_target=F.col("grp") == "t"
    ).collect()
    w = {r.doc_id: r.log_weight_micros for r in out}
    t_avg = sum(w[i] for i in range(20)) / 20
    s_avg = sum(w[i + 100] for i in range(20)) / 20
    assert t_avg > 0 > s_avg
    assert all(r.n_tokens == 4 for r in out)


def test_dsir_weights_invariant_under_repartitioning(spark):
    from pyspark.sql import functions as F

    from etl_opensky_spark.functions.sampling import dsir_log_weights

    rows = [(i, f"tok{i % 7} tok{i % 3} common", ["a", "b"][i % 2])
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    tgt = F.col("grp") == "a"
    base = sorted(tuple(r) for r in
                  dsir_log_weights(docs, "doc_id", "text", tgt).collect())
    got = sorted(tuple(r) for r in
                 dsir_log_weights(docs.repartition(9), "doc_id", "text", tgt).collect())
    assert got == base
