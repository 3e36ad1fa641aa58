"""Scale rehearsal (VERDICT r4 next-round item 1): measure how the heavy
operator family actually GROWS from sf0.1 (driver bench scale) to sf1
(10x, self-generated via tools/gen_scale_data.py), plus the Zipf-skewed
hot-key variant.

For each query: t(sf0.1) and t(sf1) -> scaling exponent
    e = log10(t_sf1 / t_sf0.1)
e ~= 1.0 is linear scaling, < 1 means fixed costs still dominate at sf1,
> 1 is super-linear — the thing this rehearsal exists to catch.

Protocol: one trivial warm-up per dir; each query timed TWICE per dir and
the MIN kept (the VM's scheduling noise is one-sided — see docs/NOTES_r4
thermal notes); sf0.1 first, then sf1, then zipf, single sweep.

Writes BENCH_sf1.json at the repo root and prints a table.

Usage: python tools/bench_scale.py [--quick]   (--quick: 1 rep)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = "scaledata/sf1"
SF_ZIPF = "scaledata/sf1zipf"

#: the heavy family (VERDICT r4: "bench the op-only paths of the heavy
#: family ... at sf0.1 vs sf1") + a scan-agg baseline for context.
SCALE_QUERIES = [
    "q01_pricing_summary",       # scan-agg baseline (lineitem 600k -> 6.1M)
    "q21_sessionize",            # per-user session windows (events 100k -> 1M)
    "q33_asof_join",             # as-of join
    "q167_rolling_distinct",     # 7-day HLL register merges
    "q42_embedding_dedup",       # cosine near-dup (embeddings 2k -> 20k)
    "q63_minhash_lsh_op",        # minhash signature + LSH banding
    "q71_simhash_op",            # vectorized simhash fingerprints
    "q83_near_dedup_op",         # full near-dedup pipeline w/ components
    "q99_substring_dedup_op",    # substring-window dup pairs
    "q24_ngram_jaccard_op",      # inverted-index jaccard w/ df pruning
    "q35_ann_ivf_op",            # IVF train + assign + 1-probe topk
    "q91_semdedup_op",           # kmeans x3 + per-cluster cosine dedup
    "q114_ppjoin_op",            # prefix-filtered set-similarity join
    "q174_entity_resolution_op", # blocked fuzzy match + components
    "q215_incremental_dedup_op", # batch-vs-index probe (steady state)
    # round-5 session-2 additions
    "q229_shortest_paths",       # 4-round Bellman-Ford over transitions
    "q230_time_weighted_average",# per-(user,day) step integral windows
    "q231_silhouette",           # centroid silhouette (points x labels x dims)
    "q234_target_encoding",      # LOO encode join-back over lineitem
    "q228_data_skipping",        # lake write + manifest prune + agg (sink gate)
    "q233_zorder_skipping",      # z-clustered lake write + 2-D prune (sink gate)
    "q238_copurchase_similarity",# basket self-join + support prune + top-3
    "q245_kn_perplexity",        # discounted LM train/eval pipeline
    "q249_containment_dedup",    # asymmetric 3-gram containment pairs
    "q243_bloom_point_lookup",   # bloom build + needle read (sink gate)
    # round-5 session-3 additions
    "q264_k_core",               # 3-round peel over supplier-part edges
    "q256_gini_skew",            # distributed-prefix rank sums
    # round-5 session-4 additions
    "q280_url_canonical",        # parse_url canonicalization projection
    "q285_pq_ann",               # PQ train + ADC probe + exact re-rank
    "q286_mmr_rerank",           # greedy diversified top-k (5 picks)
    # round-7 additions
    "q298_maintain_table",       # churn + REORG purge + OPTIMIZE (sink gate)
    "q295_lake_datasource_op",   # Python DS Arrow decode, full + pruned scan
    # round-8 additions
    "q297_ds_writer_op",         # DS-API Arrow ENCODE (bulk append)
    "q300_zero_copy_object_store",  # object-store commit lifecycle (sink gate)
    "q302_positional_delete",    # delete_where sidecars + REORG (sink gate)
    # round-9 additions
    "q305_concurrent_writers",   # interleaved merges + rebase (sink gate)
    "q307_bloom_repair",         # DS append + donor-seeded reindex (sink gate)
]

#: hot-key rehearsal: queries keyed on events.user_id or documents
#: gram/band keys — the ones a Zipf head could break.
ZIPF_QUERIES = [
    "q17_events_daily",
    "q21_sessionize",
    "q167_rolling_distinct",
    "q63_minhash_lsh_op",
    "q83_near_dedup_op",
    "q24_ngram_jaccard_op",
    "q215_incremental_dedup_op",
    "q229_shortest_paths",
    "q230_time_weighted_average",
]


def bench_dir(spark, catalog, names, sf_dir, reps, label):
    warm = f"{sf_dir}/region.parquet"
    if not os.path.exists(warm):  # zipf dir ships only its skewed tables
        warm = f"{sf_dir}/events.parquet"
    spark.read.parquet(warm).count()  # warm footer cache
    out = {}
    for name in names:
        best, rows = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = catalog[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = {"sec": round(best, 3), "rows": rows}
        print(f"# {label} {name}: {best:.3f}s ({rows} rows)", file=sys.stderr)
    return out


def main() -> None:
    reps = 1 if "--quick" in sys.argv else 2
    # --only=q305_x,q307_y: incremental sweep for newly-added entries —
    # results MERGE into BENCH_sf1.json, prior rows untouched
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    scale_qs = [q for q in SCALE_QUERIES if only is None or q in only]
    zipf_qs = [q for q in ZIPF_QUERIES if only is None or q in only]

    from etl_opensky_spark.queries import BENCH_ONLY_QUERIES, QUERIES
    from etl_opensky_spark.session import get_spark

    catalog = {**QUERIES, **BENCH_ONLY_QUERIES}
    spark = get_spark("bench-scale")

    small = bench_dir(spark, catalog, scale_qs, SF_SMALL, reps, "sf0.1")
    big = bench_dir(spark, catalog, scale_qs, SF_BIG, reps, "sf1")
    zipf = bench_dir(spark, catalog, zipf_qs, SF_ZIPF, reps, "sf1zipf")

    table = {}
    for name in scale_qs:
        t0, t1 = small[name]["sec"], big[name]["sec"]
        ratio = t1 / t0 if t0 > 0 else float("inf")
        table[name] = {
            "sf0.1_sec": t0,
            "sf1_sec": t1,
            "ratio": round(ratio, 2),
            "exponent": round(math.log10(ratio), 2) if ratio > 0 else None,
            "sf0.1_rows": small[name]["rows"],
            "sf1_rows": big[name]["rows"],
        }
    for name in zipf_qs:
        table.setdefault(name, {})
        table[name]["sf1zipf_sec"] = zipf[name]["sec"]
        if "sf1_sec" in table[name] and table[name]["sf1_sec"] > 0:
            table[name]["zipf_vs_uniform"] = round(
                zipf[name]["sec"] / table[name]["sf1_sec"], 2
            )

    result = {
        "metric": "scale_rehearsal_sf0.1_to_sf1",
        "unit": "sec",
        "reps": reps,
        "data": "sf1 = 10x sf0.1 via tools/gen_scale_data.py (seed 42); "
                "sf1zipf = Zipf(1.3) user skew + hot near-dup doc clusters",
        "queries": table,
    }
    # MERGE into the existing artifact: bench_mv_scale.py (and future
    # experiment tools) park results under other top-level keys —
    # overwriting the file would silently drop their evidence
    if os.path.exists("BENCH_sf1.json"):
        with open("BENCH_sf1.json") as fh:
            prior = json.load(fh)
        for key, val in prior.items():
            if key not in result and key != "queries":
                result[key] = val
        prior_q = prior.get("queries") or {}
        for qname, row in prior_q.items():
            result["queries"].setdefault(qname, row)
    with open("BENCH_sf1.json", "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))

    print(f"\n{'query':32} {'sf0.1':>8} {'sf1':>8} {'ratio':>6} {'exp':>5} "
          f"{'zipf':>8}", file=sys.stderr)
    for name, r in table.items():
        print(
            f"{name:32} {r.get('sf0.1_sec', float('nan')):>8} "
            f"{r.get('sf1_sec', float('nan')):>8} {r.get('ratio', ''):>6} "
            f"{r.get('exponent', ''):>5} {r.get('sf1zipf_sec', ''):>8}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
