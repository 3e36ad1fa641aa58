"""Catalog table reads (``queries._t``): a table's parquet schema is inferred
once per set of files and per inference conf, so rebuilding a query over
unchanged files launches no Spark job, and a rewrite or a conf flip is
seen on the next read."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_opensky_spark.queries import QUERIES, _t
from tests.test_plans import _jobs_of

SF = "/root/testdata/sf0.001"

#: the entries the ``star_queries`` benchmark workload times
STAR_QUERIES = (
    "q01_pricing_summary", "q03_dim_lookup", "q07_dedup_exact", "q11_topk_per_group",
    "q13_monthly_orders", "q14_top_revenue_orders", "q20_rollup", "q38_regional_revenue",
    "q44_shipping_priority", "q48_grouping_sets", "q130_market_share",
)


def test_rebuilding_star_queries_runs_no_job(spark):
    """Building a query is planning: once each table's schema is known, a
    second build over the same files launches no Spark job."""
    for name in STAR_QUERIES:
        QUERIES[name](spark, SF)
    for name in STAR_QUERIES:
        _, jobs = _jobs_of(spark, lambda name=name: QUERIES[name](spark, SF))
        assert jobs == 0, (name, jobs)


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    spark.range(5).selectExpr("id AS a").write.parquet(str(tmp_path / "t.parquet"))
    assert _t(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    spark.range(5).selectExpr("CAST(id AS STRING) AS a", "id AS b").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "t.parquet"))
    df = _t(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "string"), ("b", "bigint")]
    assert sorted(r.b for r in df.collect()) == list(range(5))


def test_inference_conf_flip_is_seen_on_unchanged_file(spark, tmp_path):
    """An NTZ ``timestamp[us]`` file is TIMESTAMP_NTZ only while
    ``inferTimestampNTZ`` is on: the conf is part of what the schema is
    memoized under."""
    table = pa.table({"ts": pa.array([0, 10**6], type=pa.timestamp("us"))})
    pq.write_table(table, tmp_path / "ntz.parquet")
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)
    try:
        for value, want in (("true", "timestamp_ntz"), ("false", "timestamp"),
                            ("true", "timestamp_ntz")):
            spark.conf.set(conf, value)
            assert _t(spark, str(tmp_path), "ntz").dtypes == [("ts", want)], value
    finally:
        spark.conf.set(conf, before)


def test_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        _t(spark, str(tmp_path), "absent")


def test_q48_leaves_no_view(spark):
    session = spark.newSession()
    before = session.catalog.listTables()
    assert QUERIES["q48_grouping_sets"](session, SF).count() > 0
    assert session.catalog.listTables() == before


@pytest.mark.parametrize("name", [
    "q177_recursive_cte", "q178_udtf_tokens", "q180_range_interval_window",
    "q190_pipeline_spec", "q200_window_suite", "q204_not_in_null_semantics",
    "q208_parameterized_sql", "q210_filtered_aggregates", "q212_sql_unpivot",
    "q213_group_by_all", "q242_sql_pivot", "q275_recursive_cte", "q284_sql_programmability",
])
def test_sql_entry_leaves_no_view(spark, name):
    """Like q48, the other SQL-surface entries pass their frames as
    ``spark.sql`` parameters: the caller's session keeps exactly its views."""
    session = spark.newSession()
    before = session.catalog.listTables()
    assert QUERIES[name](session, SF).count() > 0
    assert session.catalog.listTables() == before
