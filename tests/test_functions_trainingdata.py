"""Unit tests for text analysis, dedup and sampling ops."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.functions import text as TX
from etl_opensky_spark.functions.dedup import (
    dedup_exact,
    estimate_jaccard,
    hamming64,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)


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


# --- text --------------------------------------------------------------------


def test_token_count(spark, docs):
    got = dict(
        docs.select("doc_id", TX.token_count(F.col("text")).alias("n")).collect()
    )
    assert got[1] == 9 and got[6] == 0


def test_alpha_and_stopword_ratio(spark):
    df = spark.createDataFrame([(1, "ab, cd!!")], "id int, text string")
    row = df.select(
        TX.alpha_ratio(F.col("text")).alias("a"),
        TX.punct_ratio(F.col("text")).alias("p"),
    ).collect()[0]
    assert row["a"] == pytest.approx(4 / 8)
    assert row["p"] == pytest.approx(3 / 8)


def test_lang_id(spark, docs):
    got = dict(
        docs.select("doc_id", TX.lang_id(F.col("text")).alias("l")).collect()
    )
    assert got[1] == "en"
    assert got[5] == "de"
    assert got[3] == "und"  # no stopwords from any list
    assert got[6] == "und"


def test_fingerprint_md5_canonicalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world "), (3, "other")],
        "id int, text string",
    )
    fps = [
        r["fp"]
        for r in df.select(TX.fingerprint_md5(F.col("text")).alias("fp")).collect()
    ]
    assert fps[0] == fps[1] != fps[2]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "id int, text string")
    got = dict(
        df.select(
            "id", TX.word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    )
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # fewer than n tokens


# --- dedup -------------------------------------------------------------------


def test_dedup_exact(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [1, 2, 3, 5, 6]  # 4 is an exact dup of 1; min id wins


def test_minhash_identical_docs_equal_signatures(spark, docs):
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signature(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]
    assert len(sigs[1]) == 32


def test_minhash_lsh_finds_near_dups(spark, docs):
    sigs = minhash_signature(docs, "doc_id", "text", num_hashes=32, shingle_n=3)
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sigs, "doc_id").collect()
    }
    assert (1, 4) in pairs  # exact dups always collide
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_estimate_jaccard_bounds(spark, docs):
    # short/empty docs carry NULL signatures (no sentinel cliques) —
    # estimation is only defined over real signatures
    sigs = minhash_signature(docs, "doc_id", "text").filter(
        F.col("signature").isNotNull()
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sb"))
    est = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", estimate_jaccard(F.col("sa"), F.col("sb")).alias("e"))
        .collect()
    )
    vals = {(r["id_a"], r["id_b"]): r["e"] for r in est}
    assert vals[(1, 4)] == 1.0
    assert all(0.0 <= v <= 1.0 for v in vals.values())


def test_simhash_hamming(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[4]  # identical text -> identical fingerprint
    df = spark.createDataFrame(
        [(fps[1], fps[2]), (fps[1], fps[3])], "a long, b long"
    )
    d12, d13 = [r[0] for r in df.select(hamming64(F.col("a"), F.col("b"))).collect()]
    assert d12 < d13  # near-dup closer than unrelated


def test_simhash_vectorized_hash_equal(spark, docs):
    """The Arrow/numpy fingerprint path must be BIT-identical to the
    expression fold — q71 relies on this equivalence."""
    from etl_opensky_spark.functions.dedup import simhash_vectorized

    edge = spark.createDataFrame(
        [(100, None), (101, ""), (102, "   "), (103, "one"), (104, "a b a b a")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    expr = {r["doc_id"]: r["simhash"] for r in simhash(both, "doc_id", "text").collect()}
    vec = {
        r["doc_id"]: r["simhash"]
        for r in simhash_vectorized(both, "doc_id", "text").collect()
    }
    assert expr == vec


def test_simhash_vectorized_partition_invariant(spark, docs):
    from etl_opensky_spark.functions.dedup import simhash_vectorized

    one = simhash_vectorized(docs.coalesce(1), "doc_id", "text").collect()
    many = simhash_vectorized(docs.repartition(7), "doc_id", "text").collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=1, threshold=0.5, max_df=None
        ).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.5 <= pairs[(1, 2)] < 1.0  # 8 shared words of 9
    assert (1, 3) not in pairs


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "can't stop,won't stop"), (3, "abc123def")],
        "id int, text string",
    )
    got = dict(
        df.select("id", TX.bpe_ish_token_count(F.col("text")).alias("n")).collect()
    )
    assert got[1] == 2  # plain words
    assert got[3] == 3  # abc | 123 | def class changes
    assert got[2] >= 7  # punctuation splits add pieces beyond whitespace's 3


def test_ngram_jaccard_max_df_prunes_hot_grams(spark, docs):
    # with max_df=1 every shared gram is pruned -> no candidate pairs at all
    none = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.0, max_df=1
    )
    assert none.count() == 0
    # generous cap keeps exact results identical to the unpruned run
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.5, max_df=100)
    full = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.5, max_df=None
    )
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, full.collect()))


def test_ngram_jaccard_auto_default_is_corpus_relative(spark, docs):
    """The DEFAULT is safe: auto = max(int(0.05 * n_docs), 2) — on this
    tiny corpus that is max_df=2, so any gram in 3+ docs is pruned and
    scores are lower bounds; explicit int replicates it exactly."""
    n = docs.count()
    auto = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.0)
    explicit = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.0,
        max_df=max(int(0.05 * n), 2),
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_minhash_short_docs_no_false_pairs(spark):
    # two unrelated docs below shingle_n tokens must NOT collide via a
    # shared sentinel signature (code-review finding)
    df = spark.createDataFrame(
        [(1, "hi there"), (2, "foo bar"), (3, "a b c d e f g")],
        "doc_id long, text string",
    )
    sigs = minhash_signature(df, "doc_id", "text", shingle_n=3)
    by_id = {r["doc_id"]: r["signature"] for r in sigs.collect()}
    assert by_id[1] is None and by_id[2] is None and by_id[3] is not None
    assert minhash_lsh_pairs(sigs, "doc_id").count() == 0


def test_connected_components_transitive(spark):
    from etl_opensky_spark.functions.dedup import connected_components

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


def test_dedup_near_transitive_keeps_one_per_cluster(spark):
    from etl_opensky_spark.functions.dedup import dedup_near

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    rows = [
        (1, base),
        (2, base + " x"),          # near-dup of 1
        (3, base + " x y"),        # near-dup of 2 (and transitively of 1)
        (4, "completely different content about spark partitions and shuffles here"),
        (5, "too short"),          # unshingleable: always kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_near(df, "doc_id", "text", threshold=0.4).collect())
    assert kept == [1, 4, 5]


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


def test_fingerprint_rolling_known_values(spark):
    from etl_opensky_spark.functions.text import fingerprint_rolling

    # hand-checked against the Rabin-Karp fold and the DuckDB list_reduce
    # formulation (incl. non-ASCII + surrogate-pair codepoints)
    texts = ["hello world", "a", "", "日本語テキスト", "emoji 🙂 test"]
    expected = [204910434, 97, 0, 842898328, 53892324]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", fingerprint_rolling(F.col("text")).alias("h")
        ).collect()
    }
    assert [got[i] for i in range(len(texts))] == expected


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
    from etl_opensky_spark.functions import dedup as D

    monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 0)  # force distributed path
    # chain 0-1-2-3-4: needs more than one contraction round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, ids, "doc_id", max_iterations=1)
    # and with enough rounds it converges to one component
    comps = {
        r["component"]
        for r in D.connected_components(
            pairs, ids, "doc_id", max_iterations=10
        ).collect()
    }
    assert comps == {0}


def test_star_contraction_matches_union_find(spark, monkeypatch):
    """Distributed star contraction must agree exactly with driver-side
    union-find on assorted graph shapes (chains, merged components,
    singletons, high-degree hubs)."""
    import random

    from etl_opensky_spark.functions import dedup as D

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
        monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 1_000_000)
        want = {
            (r["doc_id"], r["component"])
            for r in D.connected_components(pairs, ids, "doc_id").collect()
        }
        monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 0)
        got = {
            (r["doc_id"], r["component"])
            for r in D.connected_components(pairs, ids, "doc_id").collect()
        }
        assert got == want, f"graph {edges}"


def test_dup_line_ratio(spark):
    df = spark.createDataFrame(
        [(1, "a\nb\n a \n\nc"), (2, "x\ny"), (3, "")], "id int, text string"
    )
    got = dict(
        df.select("id", TX.dup_line_ratio(F.col("text")).alias("r")).collect()
    )
    assert got[1] == pytest.approx(1 / 4)  # lines a,b,a,c -> one repeat
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_ngram_repetition_fractions(spark):
    df = spark.createDataFrame([(1, "a b a b c"), (2, "x")], "id int, text string")
    staged = df.withColumn("_g2", TX.word_shingles(F.col("text"), 2))
    got = {
        r["id"]: (r["top"], r["dup"])
        for r in staged.select(
            "id",
            TX.top_ngram_fraction(F.col("_g2")).alias("top"),
            TX.dup_ngram_fraction(F.col("_g2")).alias("dup"),
        ).collect()
    }
    # 2-grams: [a b, b a, a b, b c] -> top 'a b' = 2/4; dup occurrences 2/4
    assert got[1] == (pytest.approx(0.5), pytest.approx(0.5))
    assert got[2] == (0.0, 0.0)  # too short to shingle


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


def test_decontaminate(spark):
    from etl_opensky_spark.functions.dedup import contaminated_ids, decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "totally unrelated words here now"),
            (3, "short doc"),  # too short for 3-grams: always kept
        ],
        "doc_id long, text string",
    )
    reference = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")], "doc_id long, text string"
    )
    bad = {r["doc_id"] for r in contaminated_ids(corpus, reference, "doc_id", "text", n=3).collect()}
    assert bad == {1}
    kept = {r["doc_id"] for r in decontaminate(corpus, reference, "doc_id", "text", n=3).collect()}
    assert kept == {2, 3}


def test_strip_common_lines(spark):
    from etl_opensky_spark.functions.dedup import strip_common_lines

    rows = [
        (1, "cookie banner\nreal content one\nfooter"),
        (2, "cookie banner\nreal content two\nfooter"),
        (3, "cookie banner\nunique text here\nfooter"),
        (4, "cookie banner\nfooter"),  # boilerplate-only: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in strip_common_lines(df, "doc_id", "text", max_doc_freq=2).collect()
    }
    # 'cookie banner' and 'footer' occur in 4 docs (>2): stripped everywhere
    assert out == {
        1: "real content one",
        2: "real content two",
        3: "unique text here",
    }


def test_strip_common_lines_preserves_order_and_trim_matching(spark):
    from etl_opensky_spark.functions.dedup import strip_common_lines

    rows = [
        (1, "keep a\n  hot  \nkeep b\nkeep c"),
        (2, "hot\nother"),
        (3, "hot\nthird"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in strip_common_lines(df, "doc_id", "text", max_doc_freq=2).collect()
    }
    # '  hot  ' trims to 'hot' (3 docs > 2): stripped; order preserved
    assert out[1] == "keep a\nkeep b\nkeep c"
    assert out[2] == "other" and out[3] == "third"


def test_redact_pii(spark):
    rows = [
        (1, "mail me at jo.doe+x@site.org or call 555-123-4567 ok"),
        (2, "server 10.0.255.3 and backup 192.168.1.1"),
        (3, "no pii here at all"),
        (4, "dotted phone 555.123.4567 stays a phone"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = dict(
        df.select("id", TX.redact_pii(F.col("text")).alias("t")).collect()
    )
    assert got[1] == "mail me at [REDACTED] or call [REDACTED] ok"
    assert got[2] == "server [REDACTED] and backup [REDACTED]"
    assert got[3] == "no pii here at all"
    assert got[4] == "dotted phone [REDACTED] stays a phone"


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
    from etl_opensky_spark.functions import dedup as D

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
    comp = D.connected_components(pairs, ids, "doc_id")
    expected = F.when(
        F.col("doc_id") < n, F.col("doc_id") - (F.col("doc_id") % chain)
    ).otherwise(F.lit(n))
    assert comp.filter(F.col("component") != expected).count() == 0


def test_chunk_documents_windows_and_overlap(spark):
    from etl_opensky_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "   "), (4, "solo")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", window=3, stride=2)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_tokens)
        for r in out.collect()
    }
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(1, 1)] == ("c d e", 3)
    assert got[(1, 2)] == ("e f g", 3)
    assert got[(1, 3)] == ("g", 1)  # short tail chunk kept
    assert got[(2, 0)] == ("x y", 2)
    assert not any(d == 3 for d, _ in got)  # blank doc: no chunks
    assert got[(4, 0)] == ("solo", 1)
    # default stride = window → disjoint cover
    out2 = chunk_documents(docs, "doc_id", "text", window=3)
    assert [
        r.chunk_text
        for r in out2.filter("doc_id=1").orderBy("chunk_idx").collect()
    ] == ["a b c", "d e f", "g"]
    # narrow op: no exchange anywhere in the chunking plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_scores_ranks_and_filters(spark):
    from etl_opensky_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple"), (3, "cherry"), (4, "")],
        "doc_id long, text string",
    )
    out = bm25_scores(docs, "doc_id", "text", ["apple", "banana"])
    by_id = {r.doc_id: r for r in out.collect()}
    assert set(by_id) == {1, 2}  # cherry/blank docs filtered out
    assert by_id[1].matched_terms == 2
    assert by_id[2].matched_terms == 1
    assert by_id[1].bm25 > by_id[2].bm25  # more hits → higher score
    # scoring pass is narrow: zero shuffles
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


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


def test_fuzzy_pairs_blocking_and_threshold(spark):
    from etl_opensky_spark.functions.dedup import fuzzy_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamba"),   # same block, distance 1 from doc 1
            (3, "alpha zzzzz xxxxx"),  # same block, far from both
            (4, "omega beta gamma"),   # near doc 1 but DIFFERENT block
        ],
        "doc_id long, text string",
    )
    out = fuzzy_pairs(
        docs, "doc_id", "text",
        block_col=F.substring_index(F.col("text"), " ", 1),
        max_distance=2,
    ).collect()
    # only (1,2) survives: (1,4) is split by blocking (recall bound),
    # (1,3)/(2,3) exceed the distance threshold
    assert [(r.id_a, r.id_b, r.distance) for r in out] == [(1, 2, 1)]
    # compare_len caps the DP: distance computed on the prefix only
    capped = fuzzy_pairs(
        docs, "doc_id", "text",
        block_col=F.substring_index(F.col("text"), " ", 1),
        max_distance=0, compare_len=10,
    ).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(1, 2)}  # equal 10-char prefix


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


def test_vocab_coverage_known_distribution(spark):
    from etl_opensky_spark.functions.text import vocab_coverage

    # 10 tokens total: "a"x6, "b"x3, "c"x1 -> 80% needs {a,b} (cum 9 >= 8)
    docs = spark.createDataFrame(
        [(1, "a a a a a a b b b c")], "doc_id long, text string"
    )
    row = vocab_coverage(docs, "text", coverage_pct=80).collect()[0]
    assert (row.vocab_size_at_pct, row.total_tokens, row.vocab_size) == (2, 10, 3)
    # 90% needs exactly cum >= 9 -> still {a,b}
    row = vocab_coverage(docs, "text", coverage_pct=90).collect()[0]
    assert row.vocab_size_at_pct == 2
    # 95% -> ceil(9.5)=10 -> all three
    row = vocab_coverage(docs, "text", coverage_pct=95).collect()[0]
    assert row.vocab_size_at_pct == 3


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


# --- substring-level exact dedup (functions/dedup.py) -----------------------


def _substr_rows():
    span = "x" * 25 + "the quick brown fox jumps over the lazy dog" + "y" * 25
    return [
        (1, "A" * 30 + span + "B" * 30),
        (2, "C" * 55 + span + "D" * 5),
        (3, "unrelated " * 20),
        (4, "also totally different text " * 8),
    ]


def _substr_docs(spark):
    return spark.createDataFrame(_substr_rows(), "doc_id long, text string")


def test_substring_dup_pairs_finds_shared_span(spark):
    from etl_opensky_spark.functions.dedup import substring_dup_pairs

    got = substring_dup_pairs(_substr_docs(spark), "doc_id", "text", window=40)
    rows = {(r.doc_a, r.doc_b): r.n_shared for r in got.collect()}
    assert (1, 2) in rows
    # ground truth: DISTINCT windows common to both docs (the x/y runs
    # make two in-span windows collide, so it's one less than span-w+1)
    d1, d2 = [r[1] for r in _substr_rows()[:2]]
    truth = len(
        {d1[i : i + 40] for i in range(len(d1) - 39)}
        & {d2[i : i + 40] for i in range(len(d2) - 39)}
    )
    assert rows[(1, 2)] == truth
    assert all(p == (1, 2) for p in rows)  # no false pairs


def test_substring_dup_pairs_content_sampling_is_alignment_free(spark):
    from etl_opensky_spark.functions.dedup import substring_dup_pairs

    # the shared span sits at DIFFERENT offsets in doc 1 and doc 2; a
    # positional stride would sample disjoint grids and miss the pair,
    # content-defined selection (crc32 % mod) must still catch it
    got = substring_dup_pairs(
        _substr_docs(spark), "doc_id", "text", window=40, sample_mod=20
    )
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert (1, 2) in pairs


def test_substring_dup_pairs_invariant_under_partitioning(spark):
    from etl_opensky_spark.functions.dedup import substring_dup_pairs

    docs = _substr_docs(spark)
    base = sorted(
        tuple(r)
        for r in substring_dup_pairs(docs, "doc_id", "text", window=40).collect()
    )
    got = sorted(
        tuple(r)
        for r in substring_dup_pairs(
            docs.repartition(7), "doc_id", "text", window=40
        ).collect()
    )
    assert got == base
