"""Round-4 operators: binary source, BPE pair counts, RRF fusion,
bigram-LM scoring, int8-quantized ANN."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import rows


# --- scan_binary_files -------------------------------------------------------


def test_binary_source_reads_bytes_and_metadata(spark, tmp_path):
    from etl_opensky_spark.sources.files import scan_binary_files

    payloads = {"a.bin": b"hello", "b.bin": b"\x00\xffbytes", "c.txt": b"nope"}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = scan_binary_files(spark, str(tmp_path), glob="*.bin")
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
    assert got == {"a.bin": b"hello", "b.bin": b"\x00\xffbytes"}
    lengths = {
        r["path"].rsplit("/", 1)[-1]: r["length"] for r in df.collect()
    }
    assert lengths == {"a.bin": 5, "b.bin": 7}


# --- bpe_pair_counts ---------------------------------------------------------


def test_bpe_pair_counts_hand_checked(spark):
    from etl_opensky_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "ab cd")], ["doc_id", "text"]
    )
    # words: abab(1), ab(2), cd(1)
    # abab pairs: ab, ba, ab -> ab:2, ba:1 ; ab -> ab:1 per occurrence (x2)
    # totals: ab = 2 + 2 = 4, ba = 1, cd = 1
    got = {r["pair"]: r["n_occurrences"] for r in
           bpe_pair_counts(docs, "text", top_n=10).collect()}
    assert got == {"ab": 4, "ba": 1, "cd": 1}


def test_bpe_pair_counts_ignores_single_char_words(spark):
    from etl_opensky_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame([(1, "a b c xy")], ["doc_id", "text"])
    got = rows(bpe_pair_counts(docs, "text", top_n=10))
    assert got == [("xy", 1)]


def test_bpe_pair_counts_partitioning_invariant(spark):
    from etl_opensky_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} shared shared tok{i % 3}") for i in range(100)],
        ["doc_id", "text"],
    )
    one = rows(bpe_pair_counts(docs.coalesce(1), "text", top_n=20))
    many = rows(bpe_pair_counts(docs.repartition(8), "text", top_n=20))
    assert one == many


# --- bigram LM ---------------------------------------------------------------


def test_bigram_nll_hand_computed(spark):
    from etl_opensky_spark.functions.lm import bigram_nll_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c")], ["doc_id", "text"]
    )
    # tokens: doc1 [a b a b], doc2 [a b], doc3 [c]  -> V = 3 (a, b, c)
    # unigrams: a=3, b=3, c=1
    # bigrams:  (a,b) c12=3  (doc1 x2, doc2 x1);  (b,a) c12=1
    # nll(a,b) = -ln((3+1)/(3+3)); nll(b,a) = -ln((1+1)/(3+3))
    nll_ab = round(-math.log(4 / 6) * 1e6)
    nll_ba = round(-math.log(2 / 6) * 1e6)
    got = {r["doc_id"]: r for r in
           bigram_nll_scores(docs, "doc_id", "text").collect()}
    assert set(got) == {1, 2}  # doc3 has no bigrams
    assert got[1]["n_bigrams"] == 3
    assert got[1]["nll_micros"] == 2 * nll_ab + nll_ba
    assert got[2]["n_bigrams"] == 1
    assert got[2]["nll_micros"] == nll_ab


def test_bigram_nll_partitioning_invariant(spark):
    from etl_opensky_spark.functions.lm import bigram_nll_scores

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{i % 3} end") for i in range(60)],
        ["doc_id", "text"],
    )
    one = rows(bigram_nll_scores(docs.coalesce(1), "doc_id", "text"))
    many = rows(bigram_nll_scores(docs.repartition(7), "doc_id", "text"))
    assert one == many


# --- CDC changelog apply -----------------------------------------------------


def _cdc_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "status", "price"],
    )
    changes = spark.createDataFrame(
        [
            (2, "b1", 21.0, "U", 1),
            (2, "b2", 22.0, "U", 2),   # latest wins
            (3, "c", 30.0, "D", 5),
            (3, "c9", 99.0, "U", 4),   # delete at seq 5 beats this
            (4, "d", 40.0, "I", 1),    # brand-new key
        ],
        ["id", "status", "price", "op", "seq"],
    )
    return target, changes


def test_apply_changelog_semantics(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target, changes = _cdc_frames(spark)
    got = rows(apply_changelog(target, changes, ["id"], "seq"))
    assert got == [
        (1, "a", 10.0),       # untouched
        (2, "b2", 22.0),      # latest update wins
        (4, "d", 40.0),       # inserted
    ]                          # 3 deleted


def test_apply_changelog_rejects_ambiguous_winning_seq(spark):
    import pytest

    from etl_opensky_spark.operators.cdc import apply_changelog

    target, _ = _cdc_frames(spark)
    changes = spark.createDataFrame(
        [(2, "x", 1.0, "U", 7), (2, "y", 2.0, "U", 7)],
        ["id", "status", "price", "op", "seq"],
    )
    with pytest.raises(ValueError, match="ambiguous"):
        apply_changelog(target, changes, ["id"], "seq").collect()


def test_apply_changelog_deep_ties_are_fine(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target, _ = _cdc_frames(spark)
    # tie at seq 1 is irrelevant because seq 2 wins uniquely
    changes = spark.createDataFrame(
        [(2, "x", 1.0, "U", 1), (2, "y", 2.0, "U", 1), (2, "z", 3.0, "U", 2)],
        ["id", "status", "price", "op", "seq"],
    )
    got = rows(apply_changelog(target, changes, ["id"], "seq"))
    assert (2, "z", 3.0) in got


def test_apply_changelog_partitioning_invariant(spark):
    from etl_opensky_spark.operators.cdc import apply_changelog

    target = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(200)],
        ["id", "status", "price"],
    )
    changes = spark.createDataFrame(
        [(i, f"u{i}", float(i * 2), "U" if i % 3 else "D", i % 7 + 1)
         for i in range(0, 200, 2)],
        ["id", "status", "price", "op", "seq"],
    )
    one = rows(apply_changelog(target.coalesce(1), changes.coalesce(1),
                               ["id"], "seq"))
    many = rows(apply_changelog(target.repartition(8),
                                changes.repartition(5), ["id"], "seq"))
    assert one == many


# --- tf-idf top terms --------------------------------------------------------


def test_tfidf_top_terms_hand_checked(spark):
    import math

    from etl_opensky_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "banana date")],
        ["doc_id", "text"],
    )
    # df: apple=2, banana=2, cherry=1, date=1; min_df=2 keeps apple+banana
    got = rows(tfidf_top_terms(docs, "doc_id", "text", top_k=2, min_df=2))
    idf = round(math.log(3 / 2) * 1e6)
    assert (1, "apple", 2, 2 * idf, 1) in got
    assert (1, "banana", 1, idf, 2) in got
    # cherry/date (df=1) never appear
    assert all(t not in ("cherry", "date") for _, t, *_ in got)


def test_tfidf_partitioning_invariant(spark):
    from etl_opensky_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, f"w{i % 4} w{i % 4} w{i % 9} common") for i in range(80)],
        ["doc_id", "text"],
    )
    one = rows(tfidf_top_terms(docs.coalesce(1), "doc_id", "text"))
    many = rows(tfidf_top_terms(docs.repartition(8), "doc_id", "text"))
    assert one == many


# --- wordpiece ---------------------------------------------------------------


def test_wordpiece_greedy_longest_match(spark):
    from etl_opensky_spark.functions.wordpiece import wordpiece_pieces

    docs = spark.createDataFrame(
        [(1, "unhappy unhappy cat"), (2, "hap cat")], ["doc_id", "text"]
    )
    vocab = ["un", "hap", "py", "cat", "u", "n", "h", "a", "p", "y", "c", "t"]
    got = {r["piece"]: r["n_occurrences"] for r in
           wordpiece_pieces(docs, "text", vocab).collect()}
    # unhappy -> un + hap + py (greedy longest at each pos), x2
    # hap -> hap; cat -> cat x2
    assert got == {"un": 2, "hap": 3, "py": 2, "cat": 2}


def test_wordpiece_unknown_chars_fall_back_to_singles(spark):
    from etl_opensky_spark.functions.wordpiece import wordpiece_pieces

    docs = spark.createDataFrame([(1, "xyz")], ["doc_id", "text"])
    got = {r["piece"]: r["n_occurrences"] for r in
           wordpiece_pieces(docs, "text", ["x"]).collect()}
    # y/z not in vocab: emitted as single chars, never dropped
    assert got == {"x": 1, "y": 1, "z": 1}


def test_build_vocab_contains_all_tiers(spark):
    from etl_opensky_spark.functions.wordpiece import build_vocab

    docs = spark.createDataFrame(
        [(i, "the the quick fox") for i in range(5)], ["doc_id", "text"]
    )
    vocab = build_vocab(docs, "text", top_bigrams=5, top_words=2)
    assert "t" in vocab and "h" in vocab          # singles
    assert "th" in vocab or "he" in vocab          # bigrams
    assert "the" in vocab                          # top word
    assert vocab == sorted(vocab)                  # deterministic order


# --- numpy XxHash64 + vectorized minhash -------------------------------------


def test_numpy_xxh64_matches_spark(spark):
    import numpy as np

    from etl_opensky_spark.functions.dedup import xxh64_int_np, xxh64_long_np

    rng = np.random.default_rng(7)
    longs = rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64)
    ints = rng.integers(-(2**31), 2**31 - 1, size=500, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(l), int(i)) for l, i in zip(longs, ints)], ["h", "i"]
    ).select(
        "h", "i",
        F.xxhash64("h").alias("xh"),
        F.xxhash64("h", F.col("i").cast("int")).alias("xhi"),
    )
    rows_ = df.collect()
    got_h = np.array([r["xh"] for r in rows_], dtype=np.int64)
    got_hi = np.array([r["xhi"] for r in rows_], dtype=np.int64)
    np_h = xxh64_long_np(longs, np.uint64(42)).view(np.int64)
    np_hi = xxh64_int_np(
        ints, xxh64_long_np(longs, np.uint64(42))
    ).view(np.int64)
    assert (np_h == got_h).all()
    assert (np_hi == got_hi).all()


def test_minhash_vectorized_hash_equal_to_expression(spark):
    from etl_opensky_spark.functions.dedup import (
        minhash_signature,
        minhash_signature_vectorized,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = rows(minhash_signature(docs, "doc_id", "text", 32, 3))
    b = rows(minhash_signature_vectorized(docs, "doc_id", "text", 32, 3))
    assert a == b


def test_minhash_vectorized_short_docs_null(spark):
    from etl_opensky_spark.functions.dedup import minhash_signature_vectorized

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two three four")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["signature"] for r in
           minhash_signature_vectorized(docs, "doc_id", "text", 8, 3).collect()}
    assert got[1] is None and got[2] is not None and len(got[2]) == 8


# --- prefix-filtered set-similarity join (PPJoin) ---------------------------


def test_prefix_jaccard_pairs_matches_brute_force(spark):
    from itertools import combinations

    from etl_opensky_spark.functions.dedup import prefix_jaccard_pairs

    texts = [
        "apple banana cherry date",
        "apple banana cherry elderberry",
        "fig grape melon",
        "fig grape melon kiwi",
        "totally different words here now",
        "apple banana cherry date",  # exact dup of doc 0
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
        for r in prefix_jaccard_pairs(docs, "doc_id", "text", 1, 2).collect()
    }
    sets = [set(t.split()) for t in texts]
    expect = {}
    for a, b in combinations(range(len(texts)), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and 2 * i >= u:  # J >= 1/2
            expect[(a, b)] = (i, len(sets[a]), len(sets[b]))
    assert got == expect and len(expect) >= 3


def test_prefix_jaccard_pairs_partitioning_invariant(spark):
    from etl_opensky_spark.functions.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 6} w{(i + 1) % 6} w{(i + 2) % 6} shared") for i in range(40)],
        ["doc_id", "text"],
    )
    one = rows(prefix_jaccard_pairs(docs.coalesce(1), "doc_id", "text", 3, 5))
    many = rows(prefix_jaccard_pairs(docs.repartition(8), "doc_id", "text", 3, 5))
    assert one == many and len(one) > 0


# --- equal-frequency binning -------------------------------------------------


def test_equal_frequency_bins_exact_semantics(spark):
    from etl_opensky_spark.operators.aggregates import equal_frequency_bins

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)]
        + [(i, "h", float(100 - i)) for i in range(5)],
        ["id", "grp", "v"],
    )
    got = {(r["grp"], r["id"]): r["bin"] for r in
           equal_frequency_bins(df, "grp", "v", "id", k=5).collect()}
    # group g: 10 rows, k=5 -> 2 per bin, ordered by value==id
    for i in range(10):
        assert got[("g", i)] == i // 2
    # group h: 5 rows, k=5 -> 1 per bin; value DESC of id so id 4 is rank 0
    for i in range(5):
        assert got[("h", i)] == 4 - i


def test_equal_frequency_bins_partitioning_invariant(spark):
    from etl_opensky_spark.operators.aggregates import equal_frequency_bins

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 37) % 101)) for i in range(300)],
        ["id", "grp", "v"],
    )
    one = rows(equal_frequency_bins(df.coalesce(1), "grp", "v", "id", 10,
                                    num_buckets=3))
    many = rows(equal_frequency_bins(df.repartition(16), "grp", "v", "id", 10,
                                     num_buckets=7))
    assert one == many


# --- quality quarantine ------------------------------------------------------


def test_validate_rules_split_and_null_fails(spark):
    from etl_opensky_spark.operators.quality import validate_rules

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, None, "O"), (4, 7.0, "X")],
        ["id", "price", "status"],
    )
    valid, quarantined = validate_rules(
        df,
        {
            "pos_price": F.col("price") > 0,
            "known_status": F.col("status").isin("O", "F"),
        },
    )
    assert [r["id"] for r in valid.collect()] == [1]
    got = {r["id"]: sorted(r["failed_rules"]) for r in quarantined.collect()}
    assert got == {
        2: ["pos_price"],
        3: ["pos_price"],          # NULL price FAILS the rule
        4: ["known_status"],
    }


def test_validate_rules_single_pass_no_shuffle(spark):
    from etl_opensky_spark.operators.quality import tag_rules

    df = spark.createDataFrame([(1, 2.0)], ["id", "v"])
    tagged = tag_rules(df, {"r": F.col("v") > 0})
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- Expand-free multi-distinct ----------------------------------------------


def test_multi_count_distinct_matches_builtin(spark):
    from etl_opensky_spark.operators.aggregates import multi_count_distinct

    df = spark.createDataFrame(
        [(d, u % 4, f"t{u % 3}" if u % 5 else None)
         for d in ("a", "b") for u in range(20)],
        ["d", "u", "t"],
    )
    got = rows(multi_count_distinct(df, ["d"], ["u", "t"]))
    expect = rows(
        df.groupBy("d").agg(
            F.countDistinct("u").alias("n_distinct_u"),
            F.countDistinct("t").alias("n_distinct_t"),
        )
    )
    assert got == expect


def test_multi_count_distinct_no_expand_in_plan(spark):
    from etl_opensky_spark.operators.aggregates import multi_count_distinct

    df = spark.createDataFrame([("a", 1, "x")], ["d", "u", "t"])
    ours = multi_count_distinct(df, ["d"], ["u", "t"])
    assert "Expand" not in ours._jdf.queryExecution().executedPlan().toString()
    builtin = df.groupBy("d").agg(
        F.countDistinct("u"), F.countDistinct("t")
    )
    # the built-in multi-distinct DOES replicate rows via Expand — the
    # thing this operator exists to avoid
    assert "Expand" in builtin._jdf.queryExecution().executedPlan().toString()
