"""Plan-shape tests (SURVEY §5.5): guard the physical-plan claims that make
the engine scale — partition pruning, filter pushdown, broadcast joins,
shuffle-free narrow ops.  These catch regressions Catalyst won't warn about.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_opensky_spark.operators.joins import lookup_dim
from etl_opensky_spark.sources.sinks import write_parquet_partitioned


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "flights")
    df = spark.createDataFrame(
        [(2018, 1, d, f"v{d}") for d in range(1, 10)],
        "flight_year int, flight_month int, flight_day int, v string",
    )
    write_parquet_partitioned(df, path, ["flight_year", "flight_month", "flight_day"])
    return path


def test_partition_pruning_in_plan(spark, lake):
    df = spark.read.parquet(lake).filter(
        (F.col("flight_year") == 2018)
        & (F.col("flight_month") == 1)
        & (F.col("flight_day") == 3)
    )
    plan = physical_plan(df)
    # equality predicates on partition columns must appear as PartitionFilters
    assert "PartitionFilters" in plan
    assert "flight_day" in plan.split("PartitionFilters")[1][:300]


def test_filter_pushdown_to_parquet(spark, lake):
    df = spark.read.parquet(lake).filter(F.col("v") == "v3").select("v")
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(v), EqualTo(v,v3)" in plan.replace("'", "")


def test_column_pruning_read_schema(spark, lake):
    df = spark.read.parquet(lake).select("v")
    plan = physical_plan(df)
    # ReadSchema must contain only the projected column
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "v:string" in read_schema.replace(" ", "")


def test_lookup_dim_broadcasts(spark):
    fact = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(10)], "dk long, name string")
    out = lookup_dim(fact, dim, "k", "dk", attach={"name": "dim_name"})
    assert "BroadcastHashJoin" in physical_plan(out)


def test_whole_stage_codegen_active(spark):
    df = (
        spark.range(100)
        .withColumn("x", F.col("id") * 2)
        .filter(F.col("x") > 10)
        .groupBy((F.col("id") % 10).alias("g"))
        .count()
    )
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    # whole-stage-codegen'd operators are starred "*(n)" in the plan string
    assert "*(1)" in physical_plan(df)


def _executed(df) -> str:
    df.collect()  # finalize AQE
    return physical_plan(df)


def test_q44_all_joins_broadcast_no_sort_shuffle(spark):
    """Q3-shape: every join broadcasts at gate scale; top-k is
    TakeOrdered (per-partition heaps), never a global Exchange+Sort.
    The customer join carries NO forced hint (fact-sized at 100x) —
    AQE's size check must still choose broadcast here, proving the old
    hint was redundant at gate scale."""
    from etl_opensky_spark.queries import QUERIES

    plan = _executed(
        QUERIES["q44_shipping_priority"](spark, "/root/testdata/sf0.001")
    ).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q38_unhinted_customer_join_still_broadcasts_via_aqe(spark):
    """Q5-shape 6-way join: with the forced customer hint removed, the
    finalized (AQE) plan still broadcasts every dimension side at gate
    scale — no SortMergeJoin anywhere in the final plan."""
    from etl_opensky_spark.queries import QUERIES

    plan = _executed(
        QUERIES["q38_regional_revenue"](spark, "/root/testdata/sf0.001")
    ).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q46_exists_is_semi_join_no_aggregation_of_lineitem(spark):
    """Q4-shape correlated EXISTS plans as a (broadcast) left-semi join —
    no row multiplication, no distinct over lineitem."""
    from etl_opensky_spark.queries import QUERIES

    plan = _executed(QUERIES["q82_order_priority_check"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan


def test_q47_both_windows_share_one_shuffle(spark):
    """ROWS and RANGE frames both partition by user_id: one exchange
    serves both window operators."""
    from etl_opensky_spark.queries import QUERIES

    # AQE's toString appends the initial plan after the final one —
    # count exchanges in the final plan only
    plan = _executed(
        QUERIES["q47_moving_metrics"](spark, "/root/testdata/sf0.001")
    ).split("== Initial Plan ==")[0]
    n_user_exchanges = plan.count("hashpartitioning(user_id")
    assert "Window" in plan and n_user_exchanges == 1


def test_q48_grouping_sets_single_expand_single_agg_shuffle(spark):
    """GROUPING SETS = one Expand (3 replicas) + one hash aggregate; no
    union-of-three-scans plan."""
    from etl_opensky_spark.queries import QUERIES

    plan = _executed(QUERIES["q48_grouping_sets"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Expand") >= 1
    assert "Union" not in plan


def test_runtime_bloom_pruning_injects_might_contain(spark, tmp_path_factory):
    """Inside runtime_bloom_pruning, a shuffle join whose build side
    carries a selective filter gets a Bloom probe (`might_contain`)
    pushed onto the probe side's scan — rows that cannot match die
    BEFORE the shuffle.  Outside the block the same plan has no probe
    (cluster-tuned thresholds) and the session confs are restored."""
    from etl_opensky_spark.operators.joins import runtime_bloom_pruning

    base = tmp_path_factory.mktemp("bloom")
    spark.range(0, 200_000).select(
        F.col("id").alias("fk"), (F.col("id") % 1000).alias("v")
    ).write.parquet(str(base / "big"))
    spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("tag")
    ).write.parquet(str(base / "small"))

    def build():
        big = spark.read.parquet(str(base / "big"))
        small = spark.read.parquet(str(base / "small")).filter(F.col("tag") == 3)
        return big.join(small, F.col("fk") == F.col("k")).agg(
            F.count("*").alias("n")
        )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    baseline = build()
    assert "might_contain" not in physical_plan(baseline).lower()

    with runtime_bloom_pruning(spark, disable_broadcast=True):
        pruned = build()
        [row] = pruned.collect()  # materialize INSIDE the block
        plan = physical_plan(pruned).lower()
    assert "might_contain" in plan
    assert "bloomfilter" in plan or "bloom_filter" in plan
    assert row["n"] == len([k for k in range(50_000) if k % 97 == 3])

    # confs restored on exit
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    assert "might_contain" not in physical_plan(build()).lower()


def test_winsorize_unhinted_stats_join_broadcasts_via_aqe(spark):
    """winsorize no longer forces a broadcast of the per-group quantile
    table (group cardinality is unbounded at corpus scale).  At gate
    scale AQE's size check must still pick a broadcast join on its own —
    proving the removed hint was redundant, exactly as with the q38/q44
    customer join."""
    from etl_opensky_spark.operators.aggregates import winsorize
    from etl_opensky_spark.queries import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    out = winsorize(ev, "value", ["event_type"])
    plan = _executed(out).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_normalize_features_unhinted_stats_joins_broadcast_via_aqe(spark):
    """Same contract for normalize_features: every stats-table join
    (moments+median, MAD, and the single combined join back onto the
    data) broadcasts via AQE with no hint.  Checked at sf0.01 — at
    sf0.001 the events file is so small the static planner broadcasts
    the SCAN side instead, which deprives AQE of the shuffle-stage
    boundaries it needs; realistic sizes give the realistic plan."""
    from etl_opensky_spark.operators.aggregates import normalize_features
    from etl_opensky_spark.queries import _events

    ev = _events(spark, "/root/testdata/sf0.01")
    out = normalize_features(ev, "value", ["event_type"])
    plan = _executed(out).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_scalar_broadcast_queries_use_broadcast_not_sort(spark):
    """q125/q126/q127's 1-row scalar sides must broadcast (BNLJ or BHJ on
    a 1-row build is the deliberate constant-side pattern), never a
    SortMergeJoin against the big side."""
    from etl_opensky_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in [
        "q125_nation_balance_share",
        "q126_top_quarter_suppliers",
        "q127_rich_inactive_customers",
    ]:
        plan = physical_plan(QUERIES[name](spark, sf))
        assert "Broadcast" in plan, name


def test_cdc_apply_window_group_limit_pushdown(spark):
    """apply_changelog's latest-wins filter must compile to
    WindowGroupLimit in PARTIAL mode — the top-1-per-key cut happens
    map-side BEFORE the shuffle, so a huge changelog never shuffles
    more than one candidate row per (key, partition).  The rank()
    ambiguity guard runs eagerly at call time and must be absent from
    the result plan."""
    from etl_opensky_spark.operators.cdc import apply_changelog

    target = spark.createDataFrame([(1, "a")], ["id", "v"])
    changes = spark.createDataFrame(
        [(1, "b", "U", 1)], ["id", "v", "op", "seq"]
    )
    plan = physical_plan(apply_changelog(target, changes, ["id"], "seq"))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "rank(" not in plan  # guard optimized out of the result plan


def test_q128_all_predicates_pushed_to_scan(spark):
    """Q6 shape: date range, discount band, and quantity cap must all
    reach the parquet scan as PushedFilters (the decimal-cast band
    pushes its IsNotNull at minimum; date + quantity push fully)."""
    from etl_opensky_spark.queries import q128_forecast_revenue

    plan = physical_plan(q128_forecast_revenue(spark, "/root/testdata/sf0.001"))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed
    assert "l_quantity" in pushed


def test_q136_disjunction_join_not_cartesian(spark):
    """Q19 shape: the OR-of-conjunctions must stay a broadcast hash
    equi-join on partkey with the quantity hull pushed to the scan —
    never a nested-loop cross filter."""
    from etl_opensky_spark.queries import q136_disjunctive_scan

    plan = physical_plan(q136_disjunctive_scan(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_quantity" in pushed


def test_q134_denylist_is_broadcast_anti_join(spark):
    from etl_opensky_spark.queries import q134_supplier_part_counts

    plan = physical_plan(
        q134_supplier_part_counts(spark, "/root/testdata/sf0.001")
    )
    assert "LeftAnti, BuildRight" in plan.replace("build right", "BuildRight")


def test_q140_triangle_pipeline_all_equi_joins(spark):
    from etl_opensky_spark.queries import q140_triangle_count

    plan = physical_plan(q140_triangle_count(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    # the 1-row x 1-row x 1-row count combine is the only BNLJ allowed
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_countmin_builds_cells_from_key_counts_not_rows(spark):
    """The depth-fold Generate (explode) must sit ABOVE the first
    count aggregate: the sketch explodes vocabulary rows, never corpus
    rows."""
    from etl_opensky_spark.functions.heavyhitters import countmin_estimates

    df = spark.createDataFrame([(i % 30,) for i in range(900)], ["k"])
    out = countmin_estimates(df, "k", top_k=5)
    out.count()
    plan = physical_plan(out)
    gen = plan.find("Generate explode")
    agg = plan.rfind("HashAggregate")  # deepest agg = the key-count
    assert gen != -1 and agg != -1
    # deepest HashAggregate (key counts) is BELOW the explode in the
    # tree printout (later in the string = deeper)
    assert agg > gen


def test_zorder_value_is_whole_stage_codegen_narrow(spark):
    from etl_opensky_spark.operators.layout import zorder_value

    df = spark.range(1000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") % 64).alias("y")
    )
    out = df.select(zorder_value(F.col("x"), F.col("y")).alias("z"))
    out.count()
    plan = physical_plan(out)
    assert "Exchange" not in plan  # narrow: no shuffle
    assert "*(1) Project" in plan  # codegen span marker (SCALE.md #3)


def test_gram_matrix_shuffles_partials_not_rows(spark):
    """The only Exchange in the Gram plan must sit above the Python
    (partial X^T X) stage — rows never shuffle, partials do."""
    from etl_opensky_spark.functions.linalg import gram_upper_triangle

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    out = gram_upper_triangle(df)
    out.count()
    plan = physical_plan(out)
    assert plan.count("Exchange") <= 2  # partial-agg exchange (+AQE read)
    py = plan.find("MapInPandas")
    ex = plan.find("Exchange")
    assert py != -1 and ex != -1
    assert py > ex  # python stage deeper than the exchange


def test_negative_samples_semi_join_is_not_broadcast_of_corpus(spark):
    """At corpus scale the validity check must be a shuffle semi join
    on the key, not a broadcast of all ids — pin that the semi join
    exists and candidates stay distributed (no CollectLimit/collect)."""
    from etl_opensky_spark.functions.sampling import negative_samples

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = negative_samples(df, "doc_id", k=2)
    out.count()
    plan = physical_plan(out)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(
    spark, tmp_path_factory
):
    """At 100 TB the fact scan must be pruned by the DIM filter at
    runtime (DPP) — the plan carries a dynamicpruning subquery on the
    fact's partition column when joining a filtered dim."""
    path = str(tmp_path_factory.mktemp("dpp") / "fact")
    fact = spark.range(2000).select(
        (F.col("id") % 20).alias("pk"), F.col("id").alias("v")
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(path)
    dim = spark.range(20).select(
        F.col("id").alias("pk"), (F.col("id") % 4).alias("grp")
    )
    joined = (
        spark.read.parquet(path)
        .join(dim.filter(F.col("grp") == 1), "pk")
        .agg(F.sum("v").alias("s"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan


def test_grid_nn_ring_join_is_equi_join_and_persisted(spark):
    """The 3x3 ring probe must be a hash equi-join on the cell key
    (never a cartesian of L x R), and the ring-best table must be
    persisted so the sure-winner filter and the fallback anti-join
    don't re-run the ring join."""
    from etl_opensky_spark.operators.geo import grid_nearest_neighbor

    ldf = spark.createDataFrame(
        [(i, i * 37 % 500, i * 91 % 500) for i in range(300)],
        "lid long, x long, y long",
    )
    rdf = spark.createDataFrame(
        [(i, i * 53 % 500, i * 17 % 500) for i in range(40)],
        "rid long, x long, y long",
    )
    out = grid_nearest_neighbor(ldf, rdf, "lid", "rid", cell=120)
    out.count()
    plan = physical_plan(out)
    # the only nested-loop join is the bounded fallback (broadcast of
    # the unresolved tail), never a CartesianProduct of the inputs
    assert "CartesianProduct" not in plan
    # ring-best is materialized ONCE (eager localCheckpoint since the
    # ADVICE-r4 leak fix — shows as checkpoint-RDD scans, not
    # InMemoryTableScan) and consumed by both the sure-winner filter
    # and the fallback anti-join without re-running the ring join
    assert plan.count("Scan ExistingRDD") >= 2


def test_interval_concurrency_window_is_over_aggregated_dates(spark):
    """The prefix-sum window must sit ABOVE the per-date aggregate
    (bounded input), not over raw interval rows."""
    import datetime

    from etl_opensky_spark.operators.intervals import interval_concurrency

    d = datetime.date
    iv = spark.createDataFrame(
        [(d(2020, 1, 1 + i % 20), d(2020, 1, 2 + i % 25)) for i in range(500)],
        ["s", "e"],
    )
    out = interval_concurrency(iv, "s", "e")
    plan = physical_plan(out)
    win = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert win != -1 and agg != -1
    assert win < agg  # window consumes the aggregate's (deeper) output


def test_hash_shards_manifest_is_one_aggregate_over_readback(spark, tmp_path):
    """Manifest aggregation reads the written files (partition-pruned
    schema incl. the shard dir column) with map-side combine — no sort,
    no window, no collect."""
    from etl_opensky_spark.sources.sinks import write_hash_shards

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(300)], ["id", "txt"]
    )
    manifest = write_hash_shards(df, str(tmp_path / "sh"), "id", 4)
    plan = physical_plan(manifest)
    assert "Window" not in plan and "Sort" not in plan.split("Exchange")[0]
    assert plan.count("HashAggregate") >= 2  # partial + final
