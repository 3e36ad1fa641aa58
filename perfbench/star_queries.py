"""star_queries: the read-only analyst path over a star schema.

A fixed list of oracle-backed catalog queries from ``queries.QUERIES``
(star joins and aggregates, window top-k, ``functions`` dedup) runs as
passes in a seeded order over a TPC-H-shaped schema generated from the
seed with the repository's ``tools/gen_scale_data.py``.  No query writes,
so this isolates ``queries``/``operators``/``functions`` from every write
path.  Each query is timed through ``collect()``, which computes every
output column (``count()`` would let Catalyst prune them) and returns the
rows that are then checked, untimed, against the DuckDB oracle in
``queries.ORACLES`` with the comparison of ``tools/check_correctness.py``.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np

import gen
from harness import FAILED, Bench, expect

#: entries that write no temp lake: star joins and aggregates, window
#: top-k and exact dedup.  q42_embedding_dedup and q63_minhash_lsh are left
#: out: their first runs in a JVM take ~4 s and ~8 s on 4 cores, more than
#: a run's time budget can hold next to the rest of the list.
QUERIES_RUN = (
    "q01_pricing_summary", "q03_dim_lookup", "q07_dedup_exact", "q11_topk_per_group",
    "q13_monthly_orders", "q14_top_revenue_orders", "q20_rollup", "q38_regional_revenue",
    "q44_shipping_priority", "q48_grouping_sets", "q130_market_share",
)
#: scale of the generated schema relative to TPC-H SF1 (lineitem ~6x10^6 rows)
SCALE = 0.02
#: scale of the untimed warm-up pass: every query shape once, so code
#: generation and JIT warm-up do not land in the timed passes
WARMUP_SCALE = 0.001


def run(bench: Bench) -> dict:
    import duckdb
    from check_correctness import frame_multiset

    from etl_opensky_spark.queries import ORACLES, QUERIES

    tr = bench.tracer
    data_dir = os.path.join(bench.run_dir, "star")
    table_rows = gen.write_star_schema(data_dir, bench.seed, SCALE)
    warmup_dir = os.path.join(bench.run_dir, "star-warmup")
    gen.write_star_schema(warmup_dir, bench.seed, WARMUP_SCALE)
    spark = bench.setup(lambda rep_dir: bench.start_session(os.path.join(rep_dir, "warehouse")))

    results: dict[str, tuple[list[str], list]] = {}

    def query(name: str) -> None:
        with tr.span("queries.build"), tr.span(f"queries.build.{name}"):
            df = QUERIES[name](spark, data_dir)
        with tr.span("queries.exec"), tr.span(f"queries.exec.{name}"):
            results[name] = (df.columns, df.collect())

    for name in QUERIES_RUN:
        bench.warmup(lambda name=name: QUERIES[name](spark, warmup_dir).collect())

    order = np.random.default_rng([bench.seed, 9])
    while bench.more() or len(bench.ops["query_pass"]) < 2:
        pass_s, complete = 0.0, True
        with tr.span("op.query_pass"):
            for name in order.permutation(QUERIES_RUN):
                if bench.timed("query", partial(query, name)) is not FAILED:
                    pass_s += bench.ops["query"][-1]
                else:
                    complete = False
        if complete:
            bench.ops["query_pass"].append(pass_s)

    con = duckdb.connect()
    for table in table_rows:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")

    def check(name: str) -> None:
        cols, got = results[name]
        rel = con.execute(ORACLES[name])
        want_cols = [d[0] for d in rel.description]
        want = rel.fetchall()
        expect(sorted(cols) == sorted(want_cols),
               f"{name}: columns {sorted(cols)} != oracle {sorted(want_cols)}")
        expect(len(got) == len(want), f"{name}: {len(got)} rows != oracle {len(want)}")
        expect(frame_multiset(cols, got) == frame_multiset(want_cols, want),
               f"{name}: values differ from the oracle")

    for name in sorted(results):
        bench.check(f"star_queries.{name}", partial(check, name))
    con.close()

    def layer_metrics() -> dict:
        out = {
            "queries.build_s": (tr.median("queries.build"), "s"),
            "queries.exec_s": (tr.median("queries.exec"), "s"),
            "queries.jobs": (tr.mean_counter("queries.exec", "jobs"), "count"),
        }
        for name in QUERIES_RUN:
            out[f"queries.{name}_s"] = (
                tr.median(f"queries.build.{name}") + tr.median(f"queries.exec.{name}"), "s")
        return out

    return {
        "primary": "query",
        "secondary": "query_pass",
        "labels": ("query", "query_pass"),
        "extra": {},
        "layer_metrics": layer_metrics,
        "notes": {"passes": len(bench.ops["query_pass"]), "scale": SCALE},
    }
