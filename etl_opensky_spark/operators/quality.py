"""Data-quality validation: rule-based row quarantine.

The reference validates inputs implicitly (schema enforcement, FK
anti-joins — operators/joins.py:fk_orphans); production lakes also need
ROW-LEVEL expectation checks with a quarantine channel: bad rows are
routed aside with the reasons attached, never silently dropped, and the
clean stream proceeds.  This is the engine-side core of what
expectation frameworks (Great Expectations / dbt tests / Delta Live
Tables expectations) compile down to.

Scale shape: every rule is a Column predicate evaluated in the SAME
narrow pass (one scan, whole-stage codegen, zero shuffles); the
valid/quarantine split is two filters over that pass.  NULL handling is
explicit: a rule evaluating to NULL counts as a FAILURE (a null price
is not a positive price) — the semantics dbt's ``not_null`` +
``accepted_values`` users expect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FAILED_COL = "failed_rules"


def tag_rules(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Attach ``failed_rules: array<string>`` listing every rule the row
    fails (empty array = clean).  Rule order follows dict order, so the
    tag column is deterministic."""
    checks = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in rules.items()
    ]
    return df.withColumn(FAILED_COL, F.array_compact(F.array(*checks)))


def validate_rules(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, quarantined): valid rows drop the tag column,
    quarantined rows keep ``failed_rules`` for triage/replay."""
    tagged = tag_rules(df, rules)
    valid = tagged.filter(F.size(FAILED_COL) == 0).drop(FAILED_COL)
    quarantined = tagged.filter(F.size(FAILED_COL) > 0)
    return valid, quarantined


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    skew_share_pct: float = 1.0,
) -> DataFrame:
    """Join-key skew diagnostic: the pre-flight check before shuffling
    on ``key_col``.  Returns the ``top_k`` heaviest keys with their row
    counts, share of the table, and a ``skewed`` flag (share above
    ``skew_share_pct`` percent — a single reducer would receive that
    share of the shuffle).  This is the report that tells you to reach
    for ``salted_join``/AQE skew handling BEFORE the job dies at 100×.

    Shape: one map-side-combined count aggregate, a TakeOrdered top-k
    (never a global sort), one broadcast scalar total.  NULL keys count
    as a key — they hash to one reducer like any other hot key.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    total = counts.agg(F.sum("cnt").alias("_total"))
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
        .limit(top_k)
    )
    return top.crossJoin(F.broadcast(total)).select(
        "key",
        "cnt",
        (F.col("cnt") * 100.0 / F.col("_total")).alias("share_pct"),
        (F.col("cnt") * 100 > F.col("_total") * skew_share_pct).alias(
            "skewed"
        ),
        F.col("_total").alias("n_rows"),
    )


def constraint_audit(
    df: DataFrame,
    *,
    not_null: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    ranges: dict[str, tuple] | None = None,
    unique: list[list[str]] | None = None,
    relationships: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Table-level constraint audit (the dbt-test / expectation-suite
    compile target): returns one row per declared rule with its
    violation count — ``(rule: string, n_violations: bigint)``.

    Rule families and their scale shapes:

    - ``not_null`` / ``accepted_values`` / ``ranges`` are ROW-LEVEL
      predicates: all of them fold into ONE conditional-sum aggregate
      over a single scan (zero shuffles beyond the final 1-row agg;
      Catalyst prunes the scan to the referenced columns).
    - ``unique`` (one entry per key-column list) counts rows carrying a
      duplicated key: one map-side-combined count per key, summed where
      ``cnt > 1``.  Each unique rule is one key-partitioned shuffle of
      COUNTS, never of rows.
    - ``relationships`` ``(fk_col, dim_df, pk_col)`` counts orphans via
      a LEFT ANTI broadcast join (dims are small by definition; NULL
      FKs are not orphans, matching SQL FK semantics and the
      reference's orphan check, src/jobs/load_fct_flights.py).

    The per-family results are tiny (one row each) and are unioned at
    the end — the union is driver-side plan glue, not a data shuffle.
    NULL semantics: a NULL value *fails* ``not_null``, *passes* its own
    ``accepted_values``/``ranges`` rule only if NULL is listed/bounded —
    here NULL counts as a violation for accepted/range too (a null
    price is not a price in [lo, hi]), matching ``tag_rules``.
    """
    spark = df.sparkSession
    row_rules: list[tuple[str, Column]] = []
    for col in not_null or []:
        row_rules.append((f"not_null:{col}", F.col(col).isNotNull()))
    for col, values in (accepted_values or {}).items():
        row_rules.append(
            (f"accepted_values:{col}", F.col(col).isin(list(values)))
        )
    for col, (lo, hi) in (ranges or {}).items():
        row_rules.append((f"range:{col}", F.col(col).between(lo, hi)))

    parts: list[DataFrame] = []
    if row_rules:
        aggs = [
            F.sum(
                F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
            ).cast("bigint").alias(name)
            for name, cond in row_rules
        ]
        wide = df.agg(*aggs)
        stack = ", ".join(
            f"'{name}', `{name}`" for name, _ in row_rules
        )
        parts.append(
            wide.selectExpr(
                f"stack({len(row_rules)}, {stack}) AS (rule, n_violations)"
            )
        )

    for key_cols in unique or []:
        name = "unique:" + ",".join(key_cols)
        dup_rows = (
            df.groupBy(*key_cols)
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias(
                    "n_violations"
                )
            )
            .select(F.lit(name).alias("rule"), "n_violations")
        )
        parts.append(dup_rows)

    for fk_col, dim_df, pk_col in relationships or []:
        name = f"relationship:{fk_col}->{pk_col}"
        orphans = (
            df.filter(F.col(fk_col).isNotNull())
            .join(
                F.broadcast(dim_df.select(F.col(pk_col).alias(fk_col))),
                on=fk_col,
                how="left_anti",
            )
            .agg(F.count("*").cast("bigint").alias("n_violations"))
            .select(F.lit(name).alias("rule"), "n_violations")
        )
        parts.append(orphans)

    if not parts:
        return spark.createDataFrame([], "rule string, n_violations bigint")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pseudonymize(
    df: DataFrame, cols: Sequence[str], salt: str
) -> DataFrame:
    """Deterministic salted pseudonymization (GDPR Art. 4(5)): each
    listed column is replaced by ``sha2_256(salt | value)`` — stable
    within a salt epoch, so joins/groupBys on the pseudonym still work
    across tables tokenized with the same salt, while the raw value
    never leaves the cluster.  NULLs stay NULL (a constant
    hash-of-salt token would leak "this row had a NULL" across
    columns and make every NULL join-equal).  Rotating the salt
    re-keys the whole dataset — the revocation story that plain
    (unsalted) hashing lacks; for lookup-table reversibility use the
    q170 purge + a guarded mapping table instead.

    Pure Column expressions (JVM sha2, whole-stage codegen) — a
    map-only pass at any scale, composing with the governance suite:
    q170 keyed purge and q185 k-anonymity audit.
    """
    out = df
    for c in cols:
        tok = F.sha2(
            F.concat_ws("|", F.lit(salt), F.col(c).cast("string")), 256
        )
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), tok)
        )
    return out


#: declarative expectation ops — the rules-as-data counterpart to the
#: plans/spec.py DAG-as-data loader: expectations reviewed like config,
#: compiled to Column predicates, validated at LOAD time
_EXPECTATION_OPS = {
    "not_null", "gt", "ge", "lt", "le", "in", "max_length", "between"
}


def load_expectations(spec: list) -> dict[str, Column]:
    """Compile a list of expectation dicts into the ``rules`` mapping
    ``validate_rules``/``constraint_audit`` consume.  Structural
    problems (unknown op, missing keys, duplicate names) fail HERE —
    before any data is read — mirroring ``plans.spec.load_pipeline``.

    Supported ops: ``not_null``; ``gt/ge/lt/le value``; ``in values``;
    ``max_length value``; ``between lo hi``.
    """
    rules: dict[str, Column] = {}
    for ex in spec:
        unknown = set(ex) - {"name", "column", "op", "value", "values", "lo", "hi"}
        if unknown:
            raise ValueError(f"expectation {ex.get('name')!r}: unknown keys {sorted(unknown)}")
        name, col, op = ex.get("name"), ex.get("column"), ex.get("op")
        if not name or not col or op not in _EXPECTATION_OPS:
            raise ValueError(
                f"expectation needs name/column and op in "
                f"{sorted(_EXPECTATION_OPS)}: {ex!r}"
            )
        if name in rules:
            raise ValueError(f"duplicate expectation name {name!r}")
        c = F.col(col)
        if op == "not_null":
            rules[name] = c.isNotNull()
        elif op == "gt":
            rules[name] = c > ex["value"]
        elif op == "ge":
            rules[name] = c >= ex["value"]
        elif op == "lt":
            rules[name] = c < ex["value"]
        elif op == "le":
            rules[name] = c <= ex["value"]
        elif op == "in":
            rules[name] = c.isin(list(ex["values"]))
        elif op == "max_length":
            rules[name] = F.length(c) <= ex["value"]
        elif op == "between":
            rules[name] = c.between(ex["lo"], ex["hi"])
    if not rules:
        raise ValueError("empty expectation spec")
    return rules


def split_by_fk(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> tuple[DataFrame, DataFrame]:
    """Late-arriving-dimension split: ``(loadable, parked)`` — facts
    whose FK resolves load now; the rest PARK for a later drain once
    the dimension catches up (the operational fix for the reference's
    hard assert at load_dim_aircrafts.py:251, which fails the whole
    load on one orphan).  Both halves are key-partitioned semi/anti
    joins — no row ever inspected twice."""
    loadable = fact.join(
        dim.select(F.col(dim_key).alias(fact_key)), fact_key, "left_semi"
    )
    parked = fact.join(
        dim.select(F.col(dim_key).alias(fact_key)), fact_key, "left_anti"
    )
    return loadable, parked


def column_checksums(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-insensitive per-COLUMN content checksums: one row per
    column, ``(col, checksum, n_nonnull)`` — DECIMAL(38) sums of
    60-bit md5 row hashes (the q168 anti-entropy scheme, transposed to
    columns).  ONE scan computes every column's checksum (conditional
    aggregates, no shuffle beyond the final 1-row agg)."""
    aggs = []
    for c in cols:
        h = F.conv(
            F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10
        ).cast("decimal(38,0)")
        aggs.append(F.sum(h).alias(f"_cs_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"_n_{c}"))
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', `_cs_{c}`, `_n_{c}`" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, checksum, n_nonnull)"
    )


def detect_renames(
    old_df: DataFrame, new_df: DataFrame, cols_old: Sequence[str],
    cols_new: Sequence[str],
) -> DataFrame:
    """Schema-drift rename mapper: pair columns of two table versions
    whose CONTENT checksums match but whose names differ — the
    auto-mapping step when an upstream renames fields without notice
    (the reference's JSON dims do exactly this kind of drift,
    SURVEY §7.3-5).  Cost: one checksum scan per side (bounded
    column-count outputs), then a tiny join — never a row-level
    compare."""
    a = column_checksums(old_df, cols_old).withColumnRenamed("col", "old_col")
    b = column_checksums(new_df, cols_new).withColumnRenamed("col", "new_col")
    return (
        a.join(b, ["checksum", "n_nonnull"])
        .filter(F.col("old_col") != F.col("new_col"))
        .select("old_col", "new_col", "n_nonnull")
    )


def diversity_closeness_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
) -> DataFrame:
    """l-diversity + t-closeness audit per quasi-identifier group —
    the two disclosure checks k-anonymity (q185) cannot see: a group
    can be large (k fine) yet reveal its sensitive attribute because
    every member shares one value (l = 1) or because its value
    DISTRIBUTION diverges from the table's (t-closeness).

    Per group this reports ``n`` (group size, = k contribution),
    ``l_distinct`` (distinct sensitive values), and the total
    variation distance ``tvd = 1/2 sum_v |p_group(v) - p_global(v)|``
    computed EXACTLY in integers over a common denominator::

        tvd_num = sum_{v in group} |cnt_gv*N - cnt_v*n_g|
                  + n_g * (N - sum_{v in group} cnt_v)   # absent values
        tvd     = tvd_num / (2 * n_g * N)                # one IEEE divide

    (the absent-value tail folds to a closed form because global
    frequencies sum to N — no group x all-values materialization).

    Spark shape: one groupBy per granularity — (quasi x sensitive),
    the global sensitive histogram (broadcast: |values| rows), and the
    1-row total crossJoined in.  Everything is map-side-combined
    aggregates and broadcast joins; nothing is per-row Python and the
    widest intermediate is one row per observed (group, value) pair.
    Integer bound: ``cnt * N < 2^63`` holds through ~3e9 rows; beyond
    that swap the products to DECIMAL(38,0).
    """
    from pyspark.sql import Window

    quasi = list(quasi_cols)
    gv = df.groupBy(*quasi, sensitive_col).agg(F.count("*").alias("_cgv"))
    # group size via a window over the already-collapsed (group, value)
    # counts — |groups x values| rows, not the input
    ng = F.sum("_cgv").over(Window.partitionBy(*quasi))
    glob = df.groupBy(sensitive_col).agg(F.count("*").alias("_cv"))
    tot = df.agg(F.count("*").alias("_N"))
    out = (
        gv.withColumn("_ng", ng)
        .join(F.broadcast(glob), sensitive_col)
        .crossJoin(F.broadcast(tot))
        .groupBy(*quasi)
        .agg(
            F.max("_ng").cast("long").alias("n"),
            F.count("*").cast("long").alias("l_distinct"),
            F.sum(
                F.abs(
                    F.col("_cgv") * F.col("_N") - F.col("_cv") * F.col("_ng")
                )
            )
            .cast("long")
            .alias("_sum_abs"),
            F.sum("_cv").cast("long").alias("_present_glob"),
            F.max("_N").cast("long").alias("_N"),
        )
    )
    tvd_num = (
        F.col("_sum_abs") + F.col("n") * (F.col("_N") - F.col("_present_glob"))
    ).cast("long")
    return out.select(
        *quasi,
        "n",
        "l_distinct",
        tvd_num.alias("tvd_num"),
        (
            tvd_num.cast("double")
            / (F.lit(2).cast("long") * F.col("n") * F.col("_N")).cast("double")
        ).alias("tvd"),
    )
