"""Deduplication operators for training-data pipelines.

Four tiers, all partition-parallel (no global sorts, no driver collects):

- exact:   window row_number over a canonical fingerprint (md5)
- minhash: MinHash signatures + LSH banding -> candidate pairs -> verify
- simhash: 64-bit sign-of-sum fingerprint, near-dup = small Hamming distance
- n-gram Jaccard: exact set-similarity self-join on shared tokens

Scale notes: every self-join here goes through an equi-key (fingerprint,
band hash, token) so Spark shuffles on that key only.  The token/band
join is the classic candidate-generation trick from MinHash-LSH (Broder
'97 / Leskovec et al., Mining of Massive Datasets ch.3): quadratic
verification happens only inside buckets, never across the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_opensky_spark.functions.text import fingerprint_md5, tokenize, word_shingles

#: below this edge count, connected components solves on the driver
#: (union-find) instead of paying per-round distributed scheduling
SMALL_GRAPH_EDGES = 1_000_000


def _materialize_gram_table(df: DataFrame, pruned: bool) -> DataFrame:
    """Materialize a pair-op gram table ONCE (guide §2.4/§5) — but ONLY
    on the document-frequency-pruned paths (``pruned=True``).

    Round-12 measurement (isolated per-query JVMs, warm runs, matched
    machine control): the eager ``localCheckpoint`` wins where the df
    prune bounds downstream work and the table is consumed by the
    prune + sizes + both join sides (q24 2.8–3.3 s ckpt vs 3.7–4.1 s
    without; q99 2.4–3.2 vs 3.1–3.3), but LOSES on the unpruned
    truth-gate path (q83: 8.2–10.2 s ckpt vs 6.7–7.8 s without) —
    blocking materialization + block-manager residency of the full
    gram table costs more than the re-derivations it saves, and at
    100 TB an unpruned full-corpus materialization is a scale hazard
    (``max_df=None`` is documented truth-gate-only, so production
    corpora always take the pruned path).  A lazy
    ``persist(MEMORY_AND_DISK)`` measured no better than the winner in
    either case and has no release path in a long-lived session
    (CacheManager pins the relation until an explicit unpersist —
    ADVICE r4), so it stays rejected."""
    return df.localCheckpoint(eager=True) if pruned else df


def _release_local_checkpoints(*dfs: DataFrame) -> None:
    """Free the storage blocks of eagerly ``localCheckpoint``-ed frames
    whose every consumer has already materialized (guide §5: unpersist
    when done).  A localCheckpoint's blocks are the frame's ONLY copy —
    the frame is unusable afterwards — so callers release strictly
    after the last action that reads it.  Without this, blocks are
    freed only when a driver GC lets the ContextCleaner reap the RDD
    (default periodic GC: every 30 min), and a long-lived session
    accumulates dead blocks that steal unified memory from execution —
    measured round 11/12 as monotonic in-session inflation of the
    block-manager-heavy queries (q114_op 2.8 s fresh → 10-19 s late in
    a sweep, restored by cleanup).  Best-effort: an already-released or
    never-checkpointed frame is ignored."""
    for df in dfs:
        try:
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — release is an optimization
            pass


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


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — MinHash over word ``shingle_n``-grams.

    EXPLODED CODEGEN shape (the q215 lesson, applied here in round 5):
    shingles explode to (id, xxhash64(shingle)) rows — one codegen'd
    string hash each — then ``num_hashes`` UNROLLED ``min(xxhash64(h, i))``
    aggregates (plain column expressions, whole-stage codegen, map-side
    combined) build the signature in ONE narrow shuffle of
    (id × num_hashes longs) pre-combined rows.  The previous per-row
    ``aggregate``/``zip_with``/``transform`` fold kept the pipeline
    shuffle-free but ran ~shingles × num_hashes INTERPRETED lambda evals
    per doc (SCALE.md lesson 6) — measured 5.7 s → 44 s sf0.1 → sf1; the
    exploded shape moves the same hash count into codegen.  Signatures
    are BIT-IDENTICAL (same xxhash64(h, i) family, min order-free).

    Docs with fewer than ``shingle_n`` tokens get a NULL signature (no
    shingle rows → left-join miss): a shared sentinel signature would
    make every pair of short docs collide in every LSH band as a false
    1.0 near-duplicate.  ``minhash_lsh_pairs`` skips NULL signatures.
    """
    from etl_opensky_spark.functions.text import word_shingle_rows

    grams = word_shingle_rows(df, id_col, text_col, shingle_n).select(
        id_col, F.xxhash64(F.col("_g")).alias("_h")
    )
    mins = [
        F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sigs = grams.groupBy(id_col).agg(*mins)
    signature = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return df.select(F.col(id_col)).join(
        sigs.select(F.col(id_col), signature.alias("signature")),
        id_col,
        "left",
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 8,
    sig_col: str = "signature",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from LSH banding.

    Signature length must divide evenly into ``num_bands``; a pair is a
    candidate when any band's row-slice hashes equal.  Self-join is on
    (band index, band hash) — the shuffle key is the bucket, so skew only
    occurs when a bucket is genuinely hot (near-identical corpus slices).
    """
    bands = signatures.filter(F.col(sig_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                # slice the signature into num_bands equal chunks and hash each
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col(sig_col),
                                b * (F.size(F.col(sig_col)) / num_bands).cast("int") + 1,
                                (F.size(F.col(sig_col)) / num_bands).cast("int"),
                            ),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("_band", "_bh"),
    )
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col("_band"), F.col("_bh")
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col("_band"), F.col("_bh")
    )
    return (
        left.join(right, on=["_band", "_bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def estimate_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature positions."""
    eq = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x)
    )
    return eq / F.size(sig_a)


# Spark XxHash64 (= XXH64 of fixed-width scalars), vectorized in numpy so
# Arrow-path operators can re-hash JVM-produced hashes BIT-IDENTICALLY.
# Spark hashes an 8-byte long via hashLong and a 4-byte int via hashInt;
# multi-argument xxhash64(a, b) chains: seed 42 -> hash(a) -> seed for b.
# Equivalence to F.xxhash64 is pinned by tests (test_round4_ops.py).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_u64(x):
    import numpy as np

    return np.asarray(x).astype(np.int64).view(np.uint64)


def _xxh64_avalanche(h):
    import numpy as np

    u = np.uint64
    h = h ^ (h >> u(33))
    h = h * u(_XXH_P2)
    h = h ^ (h >> u(29))
    h = h * u(_XXH_P3)
    h = h ^ (h >> u(32))
    return h


def _xxh64_rotl(x, r):
    import numpy as np

    u = np.uint64
    return (x << u(r)) | (x >> u(64 - r))


def xxh64_long_np(values, seed):
    """Spark ``XxHash64.hashLong`` over a numpy int64/uint64 array."""
    import numpy as np

    u = np.uint64
    v = _np_u64(values)
    seed = np.asarray(seed).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + u(_XXH_P5) + u(8)
        h = h ^ (_xxh64_rotl(v * u(_XXH_P2), 31) * u(_XXH_P1))
        h = _xxh64_rotl(h, 27) * u(_XXH_P1) + u(_XXH_P4)
        return _xxh64_avalanche(h)


def xxh64_int_np(values, seed):
    """Spark ``XxHash64.hashInt`` over a numpy int32 array (4-byte path)."""
    import numpy as np

    u = np.uint64
    v = np.asarray(values).astype(np.int64).view(np.uint64) & u(0xFFFFFFFF)
    seed = np.asarray(seed).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + u(_XXH_P5) + u(4)
        h = h ^ (v * u(_XXH_P1))
        h = _xxh64_rotl(h, 23) * u(_XXH_P2) + u(_XXH_P3)
        return _xxh64_avalanche(h)


def minhash_signature_vectorized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Hash-identical to :func:`minhash_signature`, Arrow path.

    Same seam as :func:`simhash_vectorized`: shingle hashing stays
    JVM-side (``xxhash64`` under codegen); the ``num_hashes``-wide
    rehash+min fold moves to numpy — one ``hashLong`` pass for the
    per-shingle seeds, one broadcasted ``hashInt`` over the
    (shingles x num_hashes) matrix, ``np.minimum.reduceat`` (SIGNED
    int64 view — Spark's least() compares longs) per row.  Bit-equality
    with ``F.xxhash64(h, i)`` holds because Spark chains seed 42 ->
    hashLong(h) -> hashInt(i); both scalar paths are reimplemented
    exactly (equivalence pinned by tests).  Narrow map, no shuffle.

    MEASURED (updated round 5): the ranking is now exploded-codegen
    (``minhash_signature``, 3.3 s at sf1) > this Arrow path > the old
    per-row ``aggregate``/``zip_with`` fold (44 s at sf1 — the fold is
    INTERPRETED per element, so its "no shuffle" virtue was paid for
    ~shingles × num_hashes times per row; the r3-era 0.37 s-vs-3.6 s
    measurement that crowned it only held at sf0.1 where the
    interpreter tax was under the noise floor).  This path is kept for
    wide-signature regimes (hundreds of permutations amortize the
    transfer) and as the bit-exact numpy XxHash64 foundation
    (``xxh64_long_np`` / ``xxh64_int_np``) other Arrow operators can
    build on.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField(
                "signature", T.ArrayType(T.LongType(), True), True
            ),
        ]
    )
    hashed = df.select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), shingle_n),
            lambda s: F.xxhash64(s),
        ).alias("_sh"),
    )
    seeds_i = np.arange(num_hashes, dtype=np.int64)

    def fold(batches):
        u = np.uint64
        for pdf in batches:
            n = len(pdf)
            out = [None] * n
            arrs = [
                np.asarray(a, dtype=np.int64)
                if a is not None
                else np.empty(0, dtype=np.int64)
                for a in pdf["_sh"]
            ]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
            nz = np.flatnonzero(lens > 0)
            if len(nz):
                flat = np.concatenate([arrs[i] for i in nz])
                with np.errstate(over="ignore"):
                    seed1 = xxh64_long_np(flat, u(42))  # (F,)
                    mat = xxh64_int_np(
                        np.broadcast_to(
                            seeds_i, (len(flat), num_hashes)
                        ),
                        seed1[:, None],
                    )  # (F, num_hashes)
                nz_lens = lens[nz]
                offsets = np.zeros(len(nz_lens), dtype=np.int64)
                np.cumsum(nz_lens[:-1], out=offsets[1:])
                # SIGNED min — Spark's least() compares longs, so the
                # uint64 hash matrix must be reinterpreted first
                sigs = np.minimum.reduceat(
                    mat.view(np.int64), offsets, axis=0
                )  # (n_nz, num_hashes)
                for j, i in enumerate(nz):
                    out[i] = sigs[j].tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "signature": out})

    return hashed.mapInPandas(fold, schema=out_schema)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over tokens (Charikar '02).

    Each token hashes to 64 bits; bit b of the fingerprint is the sign of
    sum(±1 over tokens by their bit b).  Computed PER ROW in one pass:
    hash the token array once, fold into a 64-wide bit-sum accumulator,
    then reassemble the sign bits — no explode, no shuffle.  The bit-sum
    array is materialized in its own projection (referenced 64 times by
    the reassembly; CollapseProject keeps non-cheap multi-referenced
    aliases separate, so it is computed once per row).
    """
    hashes = F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t))
    # signed-long bit masks (bit 63 = sign bit) — literal array, const-folded
    bit_masks = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(64)]
    )
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_masks,
                lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
            lambda a, d: a + d,
        ),
    )
    summed = df.select(F.col(id_col), bit_sums.alias("_bits"))
    fingerprint = None
    for b in range(64):
        bit = F.when(
            F.element_at(F.col("_bits"), b + 1) > 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return summed.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_vectorized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) — hash-identical to :func:`simhash`, Arrow path.

    The expression-fold ``simhash`` evaluates a 64-wide ``aggregate``/
    ``zip_with`` accumulator per row — a huge codegen tree whose constant
    factor dominates at corpus scale (~5x its minhash sibling).  Here the
    work splits at the natural seam: token hashing stays JVM-side
    (``xxhash64`` under whole-stage codegen, same hash family — so the
    two paths are bit-identical), and the 64-wide ±1 bit fold moves to
    ONE numpy pass per Arrow batch: ``unpackbits`` → signed segment sums
    (``add.reduceat``) → sign bits → ``packbits``.  Still a narrow map —
    no shuffle, no Python per-row loop.

    Equivalence to the expression path is pinned by a test
    (tests/test_functions_trainingdata.py); null/empty text folds to
    fingerprint 0 on both paths.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("simhash", T.LongType(), False),
        ]
    )
    hashed = df.select(
        F.col(id_col),
        F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
            "_th"
        ),
    )

    def fold(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "simhash": np.array([], dtype=np.int64)}
                )
                continue
            arrs = [
                np.asarray(a, dtype=np.int64)
                if a is not None
                else np.empty(0, dtype=np.int64)
                for a in pdf["_th"]
            ]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
            fps = np.zeros(n, dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate([a for a in arrs if len(a)])
                # little-endian machine + bitorder='little': column j of the
                # unpacked matrix IS bit j of the 64-bit hash, so pack/unpack
                # round-trips the exact bit positions the JVM fold uses
                bits = np.unpackbits(
                    flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                ).astype(np.int32)
                signed = 2 * bits - 1
                nz_lens = lens[nz]
                offsets = np.zeros(len(nz_lens), dtype=np.int64)
                np.cumsum(nz_lens[:-1], out=offsets[1:])
                sums = np.add.reduceat(signed, offsets, axis=0)
                fp_bits = (sums > 0).astype(np.uint8)
                fps[nz] = (
                    np.packbits(fp_bits, axis=1, bitorder="little")
                    .view(np.int64)
                    .reshape(-1)
                )
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": fps})

    return hashed.mapInPandas(fold, schema=out_schema)


def _union_find():
    """Driver-side union-find with path compression: returns (parent, find)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    return parent, find


def _edge_signature(edges: DataFrame) -> tuple:
    """Order-independent (count, hash-sum) signature of an edge set —
    one scalar row per check, used to detect the star-contraction
    fixpoint without materializing a set comparison."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _star_contract(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond'): converges to a star
    forest — every node pointing at its component's MINIMUM id — in
    O(log n) rounds, unlike one-hop min-label propagation's O(diameter).

    Input: undirected edge list (src, dst).  Output: (src=node,
    dst=root) with root < node for every non-root node in the graph.

    large-star: each node u connects its LARGER neighbors to
    min(Γ(u) ∪ u); small-star: each node u (edges oriented big→small)
    connects its smaller neighbors and itself to that minimum.  Each
    half-round is one groupBy + one join on the node id; every emitted
    edge keeps src > dst, so the orientation invariant is maintained
    without re-sorting.

    Each round is materialized via ``localCheckpoint`` — iterative plans
    that merely ``persist`` nest the previous round's cached plan inside
    the next round's tree, and after a handful of rounds Catalyst's plan
    bookkeeping (not the data) blows the driver heap.  Checkpointing
    truncates the lineage to the round's output RDD.  (localCheckpoint
    trades executor-loss recovery for speed; this is the same choice
    GraphFrames makes for its iterative algorithms.)
    """
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    sig = _edge_signature(cur)
    for _ in range(max_iterations):
        # large star: for v in Γ(u), v > u  ->  (v, min(Γ(u) ∪ u))
        bi = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr_min = (
            bi.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("_mn", F.col("src")).alias("_m"))
        )
        large = (
            bi.join(nbr_min, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small star on the (big, small)-oriented result:
        # (v, min) for v in Γ≤(u), plus (u, min)
        nbr_min2 = large.groupBy("src").agg(F.min("dst").alias("_m"))
        small = (
            large.join(nbr_min2, "src")
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .unionByName(
                nbr_min2.select("src", F.col("_m").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _edge_signature(small)
        cur = small
        if new_sig == sig:
            return cur
        sig = new_sig
    raise RuntimeError(
        f"star contraction did not converge within {max_iterations} "
        "rounds — with O(log n) convergence this indicates a graph far "
        "beyond the round budget; raise max_iterations"
    )


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) — connected components over an undirected pair
    list; the component label is the component's minimum id.

    Hybrid execution: below ``SMALL_GRAPH_EDGES`` the edge list is
    collected and solved with driver-side union-find (a few hundred
    near-dup pairs do not deserve N Spark rounds of scheduling overhead);
    above it, distributed alternating star contraction
    (``_star_contract``) — O(log n) rounds of groupBy+join on the node
    id, intermediate edge sets persisted per round to cut lineage
    growth.  Raises if the round budget is exhausted before the
    fixpoint (never silently splits a component).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    if edges.count() <= SMALL_GRAPH_EDGES:
        parent, find = _union_find()
        touched = set()
        for row in edges.collect():
            touched.add(row["src"])
            touched.add(row["dst"])
            ra, rb = find(row["src"]), find(row["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        edges.unpersist()
        # only edge-touched nodes need a mapping; everyone else is a
        # singleton — ids stays distributed (it may be the whole corpus)
        spark = ids.sparkSession
        id_type = dict(ids.dtypes)[id_col]
        mapping = spark.createDataFrame(
            [(n, find(n)) for n in sorted(touched)],
            f"{id_col} {id_type}, _mapped {id_type}",
        )
        return ids.join(F.broadcast(mapping), on=id_col, how="left").select(
            F.col(id_col),
            F.coalesce("_mapped", id_col).alias("component"),
        )
    # star contraction leaves one (node, root) edge per non-root node;
    # everything absent from the mapping is a singleton or its own root
    stars = _star_contract(edges, max_iterations)
    mapping = stars.groupBy("src").agg(F.min("dst").alias("_root"))
    out = ids.join(
        mapping, ids[id_col] == mapping["src"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_root"), F.col(id_col)).alias("component"),
    )
    edges.unpersist()
    # the final star edge set is a localCheckpoint: node-count bounded
    # (two longs per non-root node) and GC'd once the result is dropped
    return out


def dedup_near(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Transitive near-duplicate removal: MinHash -> LSH candidates ->
    signature-verified pairs -> connected components -> keep the min-id
    doc per component.  Docs too short to shingle are always kept (no
    signature, never candidates).

    SIGNATURE-level PRE-COLLAPSE (the hot-cluster skew shield, round-5
    Zipf rehearsal: a 1,618-copy template put 1.3 M candidate pairs into
    one LSH band bucket — 60 s vs 3.8 s uniform): docs with IDENTICAL
    signatures estimate Jaccard 1.0 ≥ any threshold, share every band,
    and therefore always verify as pairs and share a component whose
    min id is the min id of their signature group — so banding runs
    over ONE representative (min id) per distinct signature and the
    other members are dropped directly: provably result-identical while
    turning an E-copy cluster's O(E²) candidates into zero.  The
    collapse is one groupBy over the already-persisted signature table
    (one 32-long row per doc — no extra corpus scan; collapsing on raw
    TEXT instead was measured to cost two more corpus-shaped shuffles).
    Docs too short to shingle have NULL signatures, never collapse, and
    are always kept — preserved."""
    sigs_all = minhash_signature(
        df, id_col, text_col, num_hashes, shingle_n
    ).persist()
    valid = sigs_all.filter(F.col("signature").isNotNull())
    rep = valid.groupBy("signature").agg(F.min(id_col).alias(id_col))
    exact_losers = (
        valid.join(
            rep.select(
                F.col("signature"), F.col(id_col).alias("_rep")
            ),
            "signature",
        )
        .filter(F.col(id_col) != F.col("_rep"))
        .select(id_col)
        # duplicate-count-sized; materialized NOW while the signature
        # cache is hot — it is consumed by the final anti-join AFTER the
        # unpersists below, which would otherwise recompute signatures
        .localCheckpoint(eager=True)
    )

    sigs = rep.select(id_col, "signature").persist()
    candidates = minhash_lsh_pairs(sigs, id_col, num_bands)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    verified = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(estimate_jaccard(F.col("_sa"), F.col("_sb")) >= threshold)
        .select("id_a", "id_b")
    ).persist()
    # full count (not isEmpty): materializes the verified cache in ONE pass
    # — a limit-1 probe would leave the cache partial and re-run the whole
    # signature pipeline on the next action
    n_pairs = verified.count()
    # no forced broadcast: the loser list is DUPLICATE-count-sized — on a
    # heavily duplicated corpus it is a large fraction of the input, and a
    # forced broadcast would OOM exactly when dedup matters most.  AQE
    # still broadcasts when the list is actually small.
    losers = _transitive_losers(df, verified, id_col, n_pairs).unionByName(
        exact_losers
    )
    out = df.join(losers, on=id_col, how="left_anti")
    sigs_all.unpersist()
    sigs.unpersist()
    verified.unpersist()
    return out


def _transitive_losers(
    df: DataFrame, verified: DataFrame, id_col: str, n_pairs: int
) -> DataFrame:
    """Ids to drop so each connected component of ``verified`` pairs keeps
    only its min id.  Driver union-find under ``SMALL_GRAPH_EDGES``,
    distributed components above (subgraph-sized, never corpus-sized)."""
    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    if n_pairs <= SMALL_GRAPH_EDGES:
        # resolve clusters driver-side in one pass: collect the (tiny)
        # verified pair list, union-find, anti-join the losers — avoids
        # half a dozen scheduled jobs for a few hundred rows
        parent, find = _union_find()
        touched = set()
        for row in verified.collect():
            a, b = row["id_a"], row["id_b"]
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        loser_ids = [n for n in touched if find(n) != n]
        return spark.createDataFrame(
            [(n,) for n in sorted(loser_ids)], f"{id_col} {id_type}"
        )
    else:
        # components only over the pair SUBGRAPH — every doc outside it is
        # a trivial singleton; the subgraph is |pairs|-sized, not corpus-sized
        pair_nodes = (
            verified.select(F.col("id_a").alias(id_col))
            .unionByName(verified.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        components = connected_components(verified, pair_nodes, id_col)
        return (
            components.withColumn(
                "_keep", F.min(id_col).over(Window.partitionBy("component"))
            )
            .filter(F.col(id_col) != F.col("_keep"))
            .select(id_col)
        )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def strip_common_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (the RefinedWeb/CCNet boilerplate
    pass): delete every line whose trimmed form occurs in more than
    ``max_doc_freq`` DISTINCT documents, and reassemble each document's
    surviving lines in their original order.  Documents left with zero
    lines are dropped entirely (pure boilerplate).

    Shape: posexplode (narrow) -> one shuffle counting distinct (doc,
    line) pairs per line -> the HOT-line list (only lines above the
    threshold — small by construction, broadcastable) anti-joined against
    the line stream -> one shuffle regrouping lines by document -> one
    join reattaching the non-text columns.  The full line stream is
    never joined against itself, so a boilerplate line shared by a
    billion docs costs one aggregate row, not a pair explosion.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"),
    )
    key = F.trim(F.col("_line"))
    hot = (
        lines.select(F.col(id_col), key.alias("_k"))
        .distinct()
        .groupBy("_k")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_k")
    )
    kept = lines.withColumn("_k", key).join(hot, "_k", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_line"))).alias("_ls"))
        .select(
            F.col(id_col),
            F.concat_ws(
                sep, F.transform("_ls", lambda s: s["_line"])
            ).alias(text_col),
        )
    )
    return df.drop(text_col).join(rebuilt, id_col, "inner")


def contaminated_ids(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Corpus ids sharing at least one word ``n``-gram with the reference
    set — train/test decontamination (the GPT-3/PaLM-style benchmark
    overlap check).

    Inverted-index shape: corpus shingles stay UN-shuffled (narrow
    explode, no distinct — a semi join neither needs distinct inputs nor
    multiplies rows), and only the reference side dedups its grams.  The
    reference is typically a small benchmark set, so AQE turns the semi
    join into a broadcast: the corpus-side gram stream is never
    exchanged at all — the shape that survives a 100 TB corpus.  With a
    large reference AQE falls back to a shuffle on the gram key; a semi
    join emits each corpus gram row at most once, so there is no
    quadratic blowup on a hot gram.  Pruning stop-grams would trade
    recall for speed — decontamination must not miss, so nothing is
    pruned here; raise ``n`` to sharpen specificity instead.
    """
    from etl_opensky_spark.functions.text import word_shingle_rows

    corpus_grams = word_shingle_rows(corpus, id_col, text_col, n)
    # reference grams through the SAME row-shape definition as the
    # corpus side (ADVICE r11: one gram definition for both sides —
    # and the codegen shape, should the reference set be large)
    ref_grams = (
        word_shingle_rows(
            reference.select(F.lit(1).alias("_rid"), F.col(text_col)),
            "_rid",
            text_col,
            n,
        )
        .select("_g")
        .distinct()
    )
    return (
        corpus_grams.join(ref_grams, "_g", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Drop every corpus row sharing a word ``n``-gram with ``reference``
    (see ``contaminated_ids``).  Documents too short to shingle are kept:
    they cannot contain a full benchmark n-gram."""
    return corpus.join(
        contaminated_ids(corpus, reference, id_col, text_col, n),
        on=id_col,
        how="left_anti",
    )


def _resolve_max_df(df: DataFrame, max_df: int | str | None) -> int | None:
    """Resolve the ``max_df`` knob shared by the inverted-index pair
    ops: ``"auto"`` (the DEFAULT) is corpus-relative — 5 % of the
    corpus, floor 2 — the configuration the corpus-scale gate (q24)
    proved out.  Costs one column-pruned ``count()`` action (parquet
    row-group counts; one cheap pass even at corpus scale) — callers
    that already know the corpus size pass the int directly.
    ``None`` opts OUT of pruning entirely: without a cap the self-join
    is quadratic in the hottest gram's document frequency (a
    stop-trigram touches ~every web doc), so uncapped runs are for
    bounded truth-gate corpora only — which is why unsafe is the
    opt-in, not the default (ADVICE r5)."""
    if max_df == "auto":
        return max(int(0.05 * df.count()), 2)
    return max_df


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.8,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity pairs (id_a < id_b, jaccard).

    Inverted-index self-join: explode distinct n-grams, join on the n-gram
    (shuffle key = token — candidate pairs only where sets intersect),
    count intersections, compute |A∪B| from per-doc set sizes.

    ``max_df`` caps a gram's document frequency before the self-join: a
    gram in d docs contributes d² candidate rows, so corpus-scale runs
    MUST prune stop-gram hot keys (jaccard then becomes a lower bound —
    set sizes still count pruned grams, intersections can't).  Default
    ``"auto"`` = 5 % of the corpus, floor 2 (:func:`_resolve_max_df`);
    ``None`` disables pruning (exact scores, truth-gate corpora only).

    .. note:: the default changed from ``None`` to ``"auto"`` in round
       6 — scores above the df cap became lower bounds and each call
       pays one extra ``count()``; see CHANGELOG.md.
    """
    max_df = _resolve_max_df(df, max_df)
    from etl_opensky_spark.functions.text import word_shingle_rows

    # materialize the distinct (id, gram) table ONCE on pruned paths
    # (guide §2.4/§5): it feeds the size table, the document-frequency
    # prune, and BOTH self-join sides — without the checkpoint Catalyst
    # plans the corpus scan + explode + distinct once PER CONSUMER (4-6
    # scans in the executed plan; no exchange reuse fires across the
    # broadcast sides).  On the UNPRUNED truth-gate path (max_df=None)
    # the checkpoint measured a net loss and is skipped — see
    # _materialize_gram_table.  Gram rows come from the exploded-index
    # codegen shape (word_shingle_rows, round 11).
    grams = _materialize_gram_table(
        word_shingle_rows(df, id_col, text_col, n, distinct=True),
        pruned=max_df is not None,
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("_sz"))
    if max_df is not None:
        rare = (
            grams.groupBy("_g")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_g")
        )
        grams = grams.join(rare, "_g", "left_semi")

    a = grams.select(F.col(id_col).alias("id_a"), "_g")
    b = grams.select(F.col(id_col).alias("id_b"), "_g")
    inter = (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    # no broadcast hint on the size tables: they are one row PER DOCUMENT
    # (corpus cardinality), so a forced broadcast OOMs at scale.  AQE
    # still picks a broadcast join when the corpus is small enough.
    out = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 40,
    sample_mod: int = 1,
    max_df: int = 10,
) -> DataFrame:
    """Exact substring-duplication pairs (the character-level half of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): two documents are flagged iff they share at least one
    verbatim ``window``-char substring; ``n_shared`` counts the shared
    distinct windows — a proxy for the duplicated span length.

    The suffix-array of the paper is a single-machine structure; the
    distributed shape is an inverted index over rolling windows:

    - explode each doc into ALL its ``window``-char substrings and hash
      them (md5 — same value in any engine, and collisions merge pairs
      identically on both sides of a gate);
    - distinct (doc, hash), then prune hashes by document frequency:
      a window in d docs yields d² candidate rows, so boilerplate
      windows MUST be capped (``max_df``) before the self-join —
      same hot-key rule as ``ngram_jaccard_pairs``;
    - equi-join on the hash (never all-pairs), count per pair.

    ``sample_mod=1`` is exact.  At corpus scale set ``sample_mod > 1``:
    only windows with ``crc32(window) % sample_mod == 0`` enter the
    index — CONTENT-defined selection (winnowing-style), so the kept
    set is identical whatever a span's alignment inside each document
    (a position stride would sample disjoint grids in two documents
    and miss their shared span entirely).  Expected 1/sample_mod of
    the windows survive; a duplicated span of ~``window +
    3*sample_mod`` chars is caught with high probability, and
    ``n_shared`` scales down by the same factor.
    """
    sub = F.col(text_col).substr(F.col("_p"), F.lit(window))
    # the explode fans each doc out ~|text| times: spread the INPUT rows
    # across the shuffle width first, or a single-file source runs the
    # whole window-hash stage in one task (docs are small pre-explode,
    # so this shuffle is cheap; the exploded rows never move)
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    wins = df.repartition(width).filter(F.length(text_col) >= window).select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - (window - 1))
        ).alias("_p"),
        F.col(text_col),
    )
    if sample_mod > 1:
        wins = wins.filter(F.crc32(sub.cast("binary")) % sample_mod == 0)
    wins = wins.select(F.col(id_col), F.md5(sub).alias("_h"))
    # the rolling-window explode fans each doc out ~|text| times and
    # feeds the df-prune plus both self-join sides — materialize the
    # distinct (id, window-hash) table once instead of re-exploding
    # the corpus per consumer (same rule as ngram_jaccard_pairs)
    grams = _materialize_gram_table(wins.distinct(), pruned=True)
    rare = (
        grams.groupBy("_h")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("_h")
    )
    pruned = grams.join(rare, "_h", "left_semi")
    a = pruned.select(F.col(id_col).alias("doc_a"), "_h")
    b = pruned.select(F.col(id_col).alias("doc_b"), "_h")
    return (
        a.join(b, "_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: Column,
    max_distance: int,
    compare_len: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs with key blocking: candidate
    pairs share ``block_col`` (e.g. first token, length bucket, phonetic
    key); survivors have ``levenshtein(a, b) <= max_distance`` on the
    (optionally length-capped) comparison string.

    Same candidate-generation shape as the LSH tiers — an equi-join on
    the blocking key confines the quadratic edit-distance work inside
    blocks; ``levenshtein`` is a JVM built-in, no UDF.  ``compare_len``
    caps the comparison to a prefix so the O(len^2) DP per pair stays
    bounded regardless of document size.  Recall is bounded by the
    blocking key (a typo inside the key splits the pair) — union several
    ``fuzzy_pairs`` calls with independent keys to amplify, exactly like
    the multi-table LSH amplifier.
    """
    cmp = F.col(text_col)
    if compare_len is not None:
        cmp = F.substring(cmp, 1, compare_len)
    t = df.select(F.col(id_col), cmp.alias("_cmp"), block_col.alias("_blk"))
    a = t.select(F.col(id_col).alias("id_a"), F.col("_cmp").alias("_ca"), "_blk")
    b = t.select(F.col(id_col).alias("id_b"), F.col("_cmp").alias("_cb"), "_blk")
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("_ca", "_cb"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
    gram_n: int = 1,
) -> DataFrame:
    """All document pairs with token-SET Jaccard >= num/den, found via
    PREFIX FILTERING (PPJoin family, Xiao et al. 2008) — provably
    LOSSLESS, unlike MinHash-LSH's probabilistic recall.

    Math: J(x,y) >= t implies |x∩y| >= t·|x| (and t·|y|).  Order every
    doc's tokens by a GLOBAL rarest-first key (document frequency, then
    token); if x and y share no token within x's first
    ``|x| - ceil(t·|x|) + 1`` tokens, they share at most
    ``ceil(t·|x|) - 1`` tokens total (pigeonhole) — below the bound.  So
    the equi-join on PREFIX tokens alone generates every qualifying
    pair; rare tokens drive candidate generation and stop-word fan-out
    never enters the join.  The threshold is a rational num/den and the
    final verify is exact integer arithmetic
    (``den·i >= num·(|x|+|y|-i)``): no float margins anywhere.

    Scale shape: token explode → df aggregate (word-count); per-doc
    ``array_sort(collect_list(struct(df, tok)))`` (state bounded by doc
    length); prefix explode; equi-join on token; then verification
    IN-ROW — candidate pairs join the two docs' sorted token ARRAYS
    (row count stays |candidates| through both joins) and overlap =
    ``size(array_intersect(...))``, a codegen'd per-row set op.  The
    alternative (re-joining candidates through the exploded token
    table) multiplies |candidates| by tokens-per-doc BEFORE matching
    the second id — measured 26x-super-linear at the round-5 sf1
    rehearsal (109 s vs 11 s for this shape).  Returns
    ``(id_a, id_b, n_common, size_a, size_b)``.

    ``gram_n > 1`` builds the sets from word n-GRAMS instead of
    unigrams — the deployment configuration when the token universe is
    small relative to the corpus: prefix filtering prunes by token
    RARITY, so with every unigram near-ubiquitous (e.g. a 31-word
    vocabulary, every long doc holding the identical token set) the
    prefix join degenerates to all-pairs — measured as a >25-minute
    sf0.1 blowup in the round-5 scale rehearsal.  n-gram universes grow
    combinatorially, keeping document frequencies low and prefixes
    selective; exact/near duplicates still share almost all grams, so
    the same rational-threshold Jaccard semantics apply unchanged.
    """
    base = (
        word_shingles(F.col(text_col), gram_n)
        if gram_n > 1
        else tokenize(F.col(text_col))
    )
    toks = F.array_distinct(F.filter(base, lambda x: x != F.lit("")))
    dt = df.select(F.col(id_col).alias("_id"), F.explode(toks).alias("tok"))
    dfreq = dt.groupBy("tok").agg(F.count("*").alias("_df"))
    # NOT materialized (round-12 reversal of the round-11 checkpoint):
    # `ordered` is one (df, tok) STRUCT ARRAY per document — the whole
    # corpus re-encoded as deserialized object graphs — and eagerly
    # checkpointing it measured a hard 2x loss on the production-shape
    # q114_ppjoin_op (5.3-5.7 s vs 2.7-3.1 s without, isolated A/B at
    # matched control; a lazy persist was no better and leaks — see
    # _materialize_gram_table).  The prefix self-join sides and the
    # verify-join sides are IDENTICAL aliased subtrees, so Catalyst's
    # exchange reuse already shares the aggregate between each pair;
    # the codegen re-derivation that remains is cheaper than holding
    # the object-heavy table in the block manager at any measured
    # scale, and at 100 TB the between-stage materialization of choice
    # is a parquet write of `ordered`, not driver-lifetime blocks.
    ordered = (
        dt.join(dfreq, "tok")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("tok")))
            ).alias("_ord"),
            F.count("*").alias("n"),
        )
    )
    # prefix length = n - ceil(t*n) + 1, exact integer ceil
    need = F.floor(
        (F.col("n") * threshold_num + threshold_den - 1) / threshold_den
    ).cast("long")
    plen = (F.col("n") - need + 1).cast("int")
    prefixes = ordered.select(
        "_id", F.explode(F.slice("_ord", 1, plen)).alias("_p")
    ).select("_id", F.col("_p.tok").alias("tok"))
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), "tok")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    # per-doc sorted token array for the in-row verify (reuses the
    # rarest-first _ord state — no second pass over the corpus)
    arrs = ordered.select(
        "_id",
        F.transform(F.col("_ord"), lambda s: s["tok"]).alias("_toks"),
        "n",
    )
    out = (
        cand.join(
            arrs.select(
                F.col("_id").alias("id_a"),
                F.col("_toks").alias("_ta"),
                F.col("n").alias("size_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("_id").alias("id_b"),
                F.col("_toks").alias("_tb"),
                F.col("n").alias("size_b"),
            ),
            "id_b",
        )
        .withColumn(
            "n_common",
            F.size(F.array_intersect("_ta", "_tb")).cast("long"),
        )
        .filter(
            F.col("n_common") * threshold_den
            >= (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            * threshold_num
        )
        .select("id_a", "id_b", "n_common", "size_a", "size_b")
    )
    return out


def _md5_int(col: Column) -> Column:
    """60-bit integer from md5 — the engine-portable hash row (DuckDB
    replay: CAST(CONCAT('0x', substr(md5(x),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH band table ``(id, band, bh)`` from an md5-based MinHash —
    unlike the xxhash64 signatures of ``minhash_signature`` (faster,
    JVM-only), every hash here is SQL-replayable in any engine, which
    is what lets the INCREMENTAL dedup gate (q215) verify the whole
    index→probe→verify pipeline against an oracle.

    Docs with fewer than ``shingle_n`` tokens produce no bands (and so
    can never be dup candidates) — pinned behavior.

    Shape note (measured, the SCALE.md lesson #6 in action): the
    obvious per-row formulation — ``transform(seq, i ->
    array_min(transform(shingles, md5…)))`` — runs every md5 in an
    INTERPRETED higher-order lambda and re-walks the shingle array per
    family member; at sf0.1 it benched 61 s.  Round 5 replaced it with
    an exploded shape (grams × ``num_hashes`` rows through codegen'd
    md5, two shuffles) at ~30× faster.  Round 11 (optimization —
    guide §2.3/§2.4) unrolls the hash family into ``num_hashes``
    map-side-combined MIN aggregate columns over the gram rows
    directly: the same md5 evaluations run per gram ROW (no
    ``num_hashes``× row blow-up through the exchange), ONE shuffle of
    (id × num_hashes longs) replaces the two exploded-shape shuffles,
    and the band hash is an in-row expression over the unrolled
    columns (no collect_list/array_sort interpreted path).  Band
    hashes stay byte-identical — same ``md5(h:gram)`` strings, same
    min, same ``h``-ordered comma-joined band string — which the
    oracle (same SQL shapes) and the q215/q227 gates pin; measured
    2.4× on the full banding pass at sf0.1."""
    from etl_opensky_spark.functions.text import word_shingle_rows

    rows = num_hashes // num_bands
    assert rows * num_bands == num_hashes
    # NON-distinct gram rows (round 11): min() is insensitive to
    # duplicate grams, so the per-document array_distinct the array
    # shape paid is pure overhead here — and the exploded-index row
    # shape keeps shingle assembly in whole-stage codegen
    # (word_shingle_rows; band output verified byte-identical)
    grams = word_shingle_rows(df, id_col, text_col, shingle_n)
    mins = [
        F.min(
            _md5_int(F.concat_ws(":", F.lit(str(h)), F.col("_g")))
        ).alias(f"_m{h}")
        for h in range(num_hashes)
    ]
    sigs = grams.groupBy(id_col).agg(*mins)
    band_hashes = []
    for b in range(num_bands):
        sig_str = F.concat_ws(
            ",",
            *[
                F.col(f"_m{h}").cast("string")
                for h in range(b * rows, (b + 1) * rows)
            ],
        )
        band_hashes.append(
            _md5_int(F.concat_ws(":", F.lit(str(b)), sig_str))
        )
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*band_hashes)).alias("band", "bh"),
    )


def build_dedup_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    **band_params,
) -> None:
    """Persist the corpus's LSH band index — built ONCE, reused by
    every incoming batch (``dedup_batch_against_index``).  At 100 TB
    this is the difference between re-scanning the corpus per daily
    batch and touching only index rows + candidate documents.

    The index lands HASH-DISTRIBUTED on ``(band, bh)`` across the
    session's parallelism: one parquet file is ONE streamed partition
    at read time, so an AQE-coalesced tiny build would otherwise
    serialize every future probe join onto a single task (measured 2×
    on the whole probe at sf0.1 — the r8 bench regression)."""
    n = corpus.sparkSession.sparkContext.defaultParallelism
    md5_minhash_bands(corpus, id_col, text_col, **band_params).repartition(
        n, "band", "bh"
    ).write.mode("overwrite").parquet(path)


def append_to_dedup_index(
    kept: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    **band_params,
) -> None:
    """Index MAINTENANCE: append the surviving batch docs' band rows to
    the persisted LSH index, so the NEXT batch dedups against
    corpus ∪ every previously-kept doc — the missing piece between
    :func:`build_dedup_index` (one-time build) and
    :func:`dedup_batch_against_index` (per-batch probe) that makes the
    incremental pipeline self-sustaining.  Cost is O(batch) banding +
    an append write; the corpus index is never rebuilt.  Callers MUST
    materialize the kept set (``localCheckpoint``) BEFORE appending —
    a lazy kept evaluated after the append would see its own band rows
    and self-match."""
    md5_minhash_bands(kept, id_col, text_col, **band_params).write.mode(
        "append"
    ).parquet(path)


def dedup_batch_against_index(
    spark,
    batch: DataFrame,
    corpus: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    _with_bands: bool = False,
    _scratch: list | None = None,
    **band_params,
) -> DataFrame:
    """Incremental dedup: drop batch docs that near-duplicate (Jaccard
    ≥ t_num/t_den on word shingles) ANY corpus doc, using the
    PERSISTED corpus band index — the daily-ingest dedup shape.

    ``_with_bands=True`` (internal, :func:`dedup_and_index_batch`)
    additionally CHECKPOINTS the batch's band table and returns
    ``(kept, bands)`` so an index-maintenance append can reuse the
    bands instead of re-hashing the kept docs.  ``_scratch`` (internal,
    same caller): collects every eagerly checkpointed intermediate so
    the caller can release its blocks once the kept set is itself
    materialized (:func:`_release_local_checkpoints`).

    Cost model: batch-side banding is O(batch); the probe is an
    equi-join on (band, hash) against the index; exact verification
    touches only CANDIDATE corpus docs (semi-join pruned) — the corpus
    is never rescanned.  The Jaccard test is pure integer arithmetic
    (``(t_den+t_num)·i ≥ t_num·(sa+sb)``), so the decision is bit-exact
    in any engine; candidate recall is the LSH banding's, by
    construction (the q215 oracle replays the same bands, so the gate
    is exact end-to-end)."""
    idx = spark.read.parquet(index_path)
    # defensive parallelism: an index written by an older build (or a
    # tiny AQE-coalesced one) may be a single parquet file — a single
    # streamed partition that would serialize the probe join onto one
    # task.  Re-spreading a small index is ~free; large indexes always
    # arrive multi-file and skip this.
    par = spark.sparkContext.defaultParallelism
    if idx.rdd.getNumPartitions() < max(2, par // 4):
        idx = idx.repartition(par, "band", "bh")
    probes = md5_minhash_bands(
        batch, id_col, text_col, shingle_n=shingle_n, **band_params
    )
    if _with_bands:
        # materialize the band table once: the candidate probe below
        # AND the caller's index append both read it (re-banding the
        # kept docs would redo every md5 of the hash family)
        probes = probes.localCheckpoint(eager=True)
        if _scratch is not None:
            _scratch.append(probes)
    cand = (
        probes.select(F.col(id_col).alias("_bid"), "band", "bh")
        .join(
            idx.select(F.col(id_col).alias("_cid"), "band", "bh"),
            ["band", "bh"],
        )
        .select("_bid", "_cid")
        .distinct()
        # feeds three joins below (batch grams, corpus-gram semi-prune,
        # pair verify) — q112 exchange-reuse lesson.  Materialized EAGERLY
        # via localCheckpoint: a lazy persist()+unpersist() pair around a
        # returned lazy DataFrame never caches (ADVICE r4), and the
        # truncated lineage means the band-probe join runs exactly once;
        # storage is released when the checkpointed RDD is GC'd.
        .localCheckpoint(eager=True)
    )
    if _scratch is not None:
        _scratch.append(cand)

    from etl_opensky_spark.functions.text import word_shingle_rows

    def grams(df: DataFrame, alias: str) -> DataFrame:
        # distinct gram rows via the exploded-index codegen shape
        # (round 11) — the array_distinct(word_shingles(...)) array
        # form ran an interpreted per-shingle lambda (measured 2.4 s
        # vs 0.4 s on the q227 corpus, multiset-identical)
        return word_shingle_rows(
            df, id_col, text_col, shingle_n, distinct=True
        ).withColumnRenamed(id_col, alias)

    # both gram tables feed TWO consumers each (the size aggregate and
    # the intersection join) — materialize once (guide §2.4/§5, same
    # rule as the pair ops) instead of re-exploding the batch and the
    # candidate corpus per consumer; candidate-pruned, so the corpus
    # gram table is bounded by the candidate set, never the corpus
    bg = grams(batch, "_bid").localCheckpoint(eager=True)
    cg = grams(
        corpus.join(
            cand.select(F.col("_cid").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        "_cid",
    ).localCheckpoint(eager=True)
    if _scratch is not None:
        _scratch.extend((bg, cg))
    bsz = bg.groupBy("_bid").agg(F.count("*").alias("_sa"))
    csz = cg.groupBy("_cid").agg(F.count("*").alias("_sb"))
    inter = (
        cand.join(bg, "_bid")
        .join(cg, ["_cid", "_g"])
        .groupBy("_bid", "_cid")
        .agg(F.count("*").alias("_i"))
    )
    dups = (
        inter.join(bsz, "_bid")
        .join(csz, "_cid")
        .filter(
            (t_den + t_num) * F.col("_i")
            >= t_num * (F.col("_sa") + F.col("_sb"))
        )
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    kept = batch.join(dups, id_col, "left_anti")
    return (kept, probes) if _with_bands else kept


def dedup_and_index_batch(
    spark,
    batch: DataFrame,
    corpus: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    **kwargs,
) -> DataFrame:
    """One FULL ingest step of the incremental dedup loop: probe the
    batch against the persisted index, MATERIALIZE the survivors, and
    append their band rows to the index — the
    :func:`dedup_batch_against_index` + :func:`append_to_dedup_index`
    composition, fused so the kept docs' bands are FILTERED from the
    probe's already-computed band table (one semi-join of in-memory
    rows) instead of re-run through the whole md5 hash family (round-11
    optimization, guide §1.2 — don't compute things twice).  Band rows
    are byte-identical either way: banding is per-row deterministic and
    kept ⊆ batch.  Returns the materialized kept frame (decisions
    pinned BEFORE the index mutates, same contract as the manual
    composition)."""
    scratch: list = []
    kept_lazy, bands = dedup_batch_against_index(
        spark, batch, corpus, index_path, id_col, text_col,
        _with_bands=True, _scratch=scratch, **kwargs,
    )
    kept = kept_lazy.localCheckpoint()
    bands.join(
        kept.select(id_col), id_col, "left_semi"
    ).write.mode("append").parquet(index_path)
    # kept is materialized and the append is on disk: every checkpointed
    # intermediate (probe bands, candidate pairs, both gram tables) is
    # now dead — release its blocks NOW instead of waiting for a driver
    # GC (guide §5; `bands` is `probes`, already in scratch)
    _release_local_checkpoints(*scratch)
    return kept


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs — the snippet-in-document
    detector symmetric Jaccard misses: a 50-gram snippet fully pasted
    into a 5,000-gram page has Jaccard ~0.01 but containment 1.0.
    ``containment = |A ∩ B| / min(|A|, |B|)``; the smaller set is the
    CONTAINED side (ties: the lower id).

    Same inverted-index candidate machinery as
    :func:`ngram_jaccard_pairs` (shared-gram equi-join, ``max_df``
    stop-gram pruning under which the score becomes a lower
    bound — set sizes still count pruned grams, intersections can't).
    Default ``"auto"`` = 5 % of the corpus, floor 2
    (:func:`_resolve_max_df`); ``None`` disables pruning (exact
    scores, truth-gate corpora only).  The default changed from
    ``None`` to ``"auto"`` in round 6 — see CHANGELOG.md.
    The score is emitted as exact integer micros
    (``floor(1e6 * i / smin)`` by integer division), so the whole pair
    table hash-matches a relational replay.

    Returns ``(contained_id, container_id, containment_micros)``.
    """
    max_df = _resolve_max_df(df, max_df)
    from etl_opensky_spark.functions.text import word_shingle_rows

    # one materialization feeds sizes, the df-prune, and both self-join
    # sides — same rationale (and measured win) as ngram_jaccard_pairs,
    # pruned paths only (see _materialize_gram_table); gram rows via
    # the exploded-index codegen shape (round 11)
    grams = _materialize_gram_table(
        word_shingle_rows(df, id_col, text_col, n, distinct=True),
        pruned=max_df is not None,
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("_sz"))
    if max_df is not None:
        rare = (
            grams.groupBy("_g")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_g")
        )
        grams = grams.join(rare, "_g", "left_semi")
    a = grams.select(F.col(id_col).alias("id_a"), "_g")
    b = grams.select(F.col(id_col).alias("id_b"), "_g")
    inter = (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_i"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    smin = F.least(F.col("_sza"), F.col("_szb"))
    scored = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "containment_micros",
            F.expr("CAST((1000000 * _i) div least(_sza, _szb) AS BIGINT)"),
        )
        .filter(
            F.col("containment_micros")
            >= F.lit(int(round(threshold * 1_000_000)))
        )
    )
    contained = F.when(F.col("_szb") < F.col("_sza"), F.col("id_b")).otherwise(
        F.col("id_a")
    )
    container = F.when(F.col("_szb") < F.col("_sza"), F.col("id_a")).otherwise(
        F.col("id_b")
    )
    return scored.select(
        contained.alias("contained_id"),
        container.alias("container_id"),
        "containment_micros",
    )
