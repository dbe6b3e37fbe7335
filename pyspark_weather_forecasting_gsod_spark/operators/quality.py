"""Data-quality operators: sentinel normalization and missing-value census.

Reference equivalents:
  * C1 ``normalize_sentinels`` — ipynb:239-247: a dict of column→sentinel
    (9999.9 / 999.9 / 99.99) applied via 12 chained ``withColumn(when(...))``.
  * C9 ``missing_census`` — ipynb:330, 1165: ``df.filter(col(c).isNull())
    .count()`` per column = N full table scans.

Scale changes: both are built as ONE ``select`` / ONE ``agg`` so the whole
thing is a single pass regardless of column count (chained ``withColumn``
grows the plan object superlinearly — the reference hits Spark's
"plan string too large" warning, ipynb:206).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sql_text import quote_ident, sql_literal

# Predicate-style sentinel spec: column -> either a literal sentinel value
# (reference style: exact equality, ipynb:246) or a Column predicate for
# range-style sentinels ("anything above the physical max is a bad read").
SentinelSpec = Mapping[str, object]


def _sentinel_predicate(col: str, spec: object) -> str | Column:
    """SQL text for a literal sentinel, a Column for a predicate spec."""
    if isinstance(spec, Column):
        return spec
    if callable(spec):
        return spec(F.col(quote_ident(col)))
    return f"{quote_ident(col)} = {sql_literal(spec)}"


def normalize_sentinels(df: DataFrame, sentinels: SentinelSpec) -> DataFrame:
    """Rewrite sentinel-encoded missing values to SQL NULL.

    Reference: ipynb:239-247 (`when(col(c) == sentinel, None).otherwise(col(c))`
    per column). Single projection here: Catalyst sees one Project node, the
    rewrite is codegen'd with the scan, and no lineage blowup occurs. The
    projection is SQL text (``operators.sql_text``); a Column or callable
    spec keeps its Column, and then each text item becomes one ``F.expr``.
    """
    exprs: list[str | Column] = []
    for name in df.columns:
        q = quote_ident(name)
        if name not in sentinels:
            exprs.append(q)
            continue
        pred = _sentinel_predicate(name, sentinels[name])
        if isinstance(pred, Column):
            exprs.append(F.when(pred, F.lit(None)).otherwise(F.col(q)).alias(name))
        else:
            exprs.append(f"CASE WHEN {pred} THEN NULL ELSE {q} END AS {q}")
    if all(isinstance(e, str) for e in exprs):
        return df.selectExpr(*exprs)
    return df.select(*[F.expr(e) if isinstance(e, str) else e for e in exprs])


def census_sql(columns: list[str]) -> list[str]:
    """``n_rows`` plus ``null_<col>`` per column, as aggregate SQL text."""
    return ["count(1) AS n_rows"] + [
        f"sum(CAST({quote_ident(c)} IS NULL AS BIGINT)) AS {quote_ident('null_' + c)}"
        for c in columns
    ]


def missing_census(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column null counts in ONE aggregation pass.

    Reference: ipynb:330 / ipynb:1165 run one full ``filter(isNull).count()``
    scan per column (~25 scans of a 4M-row table). Here:
    ``sum(isnull(c)::long)`` for every column in a single partial+final
    hash-agg — one scan at any column count, and the all-null-counts result is
    a single row.

    Returns one row: ``n_rows`` plus ``null_<col>`` per column.
    """
    return df.selectExpr(*census_sql(columns or df.columns))


def mad_outlier_flags(
    df: DataFrame,
    column: str,
    group_by: str,
    k: float = 3.0,
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Robust per-group outlier gating via the median absolute deviation:
    flag rows where ``|v - median(v)| > k * median(|v - median(v)|)``.

    The quality gate that belongs UPSTREAM of the imputation family: the
    reference nulls known sentinels (ipynb:239-247) but a 9998.9 typo sails
    through and poisons every frame mean. Median/MAD are robust to exactly
    such corruption (mean/stddev gating is not — the outlier inflates its
    own threshold). Groups with MAD = 0 (constant-valued) flag any
    deviation; NULLs are never flagged (three-valued logic preserved).

    Scale shape: two grouped exact-median aggs (the second over the
    deviation, which needs the first — an unavoidable two-pass dependency)
    each followed by a **broadcast** join back on the group key; the fact
    table itself never shuffles.
    """
    med_df = df.groupBy(group_by).agg(F.median(column).alias("__med"))
    with_med = df.join(F.broadcast(med_df), on=group_by, how="left")
    dev = F.abs(F.col(column) - F.col("__med"))
    mad_df = (
        with_med.groupBy(group_by)
        .agg(F.median(dev).alias("__mad"))
    )
    flagged = with_med.join(F.broadcast(mad_df), on=group_by, how="left")
    return flagged.withColumn(
        flag_col,
        F.when(
            F.col(column).isNotNull(),
            (F.abs(F.col(column) - F.col("__med")) > k * F.col("__mad")).cast("int"),
        ),
    ).drop("__med", "__mad")


def expectation_report(df: DataFrame, expectations: dict[str, Column]) -> DataFrame:
    """Declarative row-level data expectations in ONE scan: each entry is
    (constraint name → boolean Column that must hold); a NULL predicate
    counts as a violation (unknown is not a pass). Output is one row per
    constraint: (constraint, n_violations, n_rows) — the contract gate a
    pipeline asserts before publishing a 100 TB table, priced at a single
    conditional-aggregate pass like ``missing_census``, not a scan per
    rule."""
    if not expectations:
        # stack(0, ...) is malformed SQL — an empty rulebook is an empty
        # report, not a parse error (r06 review)
        return df.sparkSession.createDataFrame(
            [], "constraint string, n_violations long, n_rows long"
        )
    names = list(expectations)
    # positional internal aliases + literal name columns: constraint names
    # never touch SQL text, so quotes/backticks in a name can neither break
    # the parse nor inject expressions (r06 review: the old selectExpr
    # interpolated names unescaped)
    aggs = [
        F.sum(
            F.when(~F.coalesce(expectations[n], F.lit(False)), 1).otherwise(0)
        )
        .cast("long")
        .alias(f"__e{i}")
        for i, n in enumerate(names)
    ]
    wide = df.agg(*aggs, F.count(F.lit(1)).alias("__n"))
    pairs: list[Column] = []
    for i, n in enumerate(names):
        pairs += [F.lit(n), F.col(f"__e{i}")]
    return wide.select(
        F.stack(F.lit(len(names)), *pairs).alias("constraint", "n_violations"),
        F.col("__n").alias("n_rows"),
    )


def unique_key_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """(n_violations, n_rows) where a violation is any ROW beyond the
    first for its key — ONE hash aggregate on the key; n_rows is the sum
    of the same per-key counts, so the whole report is one lazy scan
    (r06 review: a separate eager df.count() scanned twice and froze a
    stale row count into the returned plan)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.coalesce(F.sum(F.col("__c") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations"),
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_rows"),
        )
    )


def foreign_key_violations(
    child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """(n_violations, n_rows): child rows whose non-NULL foreign key has
    no parent — a left-anti join on the key (broadcast when the parent is
    dimension-sized; NULL FKs are not violations, use a separate not-null
    expectation for that policy)."""
    orphans = (
        child.filter(F.col(fk).isNotNull())
        .join(parent.select(F.col(pk).alias(fk)).distinct(), on=fk, how="left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    # lazy scalar attach instead of an eager count(): both numbers come
    # from the same evaluation point, so re-running the returned plan
    # after data changes cannot report an inconsistent pair (r06 review)
    totals = child.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return orphans.crossJoin(F.broadcast(totals))


def cusum_drift(
    df: DataFrame,
    group_by: str,
    order_by: str,
    value_col: str,
    target: float,
    k: float = 0.0,
    h: float = 5.0,
    max_group_rows: int | None = None,
) -> DataFrame:
    """One-sided CUSUM drift detection per group — the sequential
    monitoring statistic (Page 1954) behind data-drift alarms:
    ``s_t = max(0, s_{t-1} + (x_t - target - k))`` flags when cumulative
    upward deviation from the reference level exceeds ``h``. The
    recursion cannot be a window frame (state is order-dependent), so
    each group's ordered sequence folds ONCE in a JVM ``aggregate``
    expression over its sorted array — the ewma/rolling-hash discipline:
    no Python, one shuffle (the group agg), per-group memory bounded by
    the sequence length (pre-aggregate to a coarser grain first for
    unbounded streams, as any CUSUM deployment does). Pass
    ``max_group_rows`` to ENFORCE that discipline: a one-count-agg
    pre-flight raises before any oversized group's array materializes
    (operators/guards.py — r05 VERDICT hardening).

    Returns per group: (group, n, cusum_max, first_alarm_at — 1-based
    index into the ordered sequence, NULL if never — drift_detected)."""
    from .guards import check_max_group_rows

    check_max_group_rows(
        df.filter(F.col(value_col).isNotNull()),
        group_by,
        max_group_rows,
        "cusum_drift",
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(F.col(order_by).alias("o"), F.col(value_col).alias("v"))
        )
    )
    base = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_by)
        .agg(arr.alias("__a"), F.count(F.lit(1)).alias("n"))
    )
    vals = "transform(__a, p -> CAST(p.v AS DOUBLE))"
    step = f"greatest(0D, acc.s + (x - {target!r}D - {k!r}D))"
    fold = (
        f"aggregate({vals}, "
        "struct(CAST(0.0 AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS smax, "
        "CAST(-1 AS INT) AS alarm, CAST(0 AS INT) AS i), "
        f"(acc, x) -> struct({step}, greatest(acc.smax, {step}), "
        f"IF(acc.alarm >= 0, acc.alarm, IF({step} > {h!r}D, acc.i + 1, -1)), "
        "acc.i + 1))"
    )
    return base.withColumn("__f", F.expr(fold)).select(
        group_by,
        "n",
        F.round(F.col("__f.smax"), 6).alias("cusum_max"),
        F.when(F.col("__f.alarm") >= 0, F.col("__f.alarm")).alias(
            "first_alarm_at"
        ),
        (F.col("__f.alarm") >= 0).alias("drift_detected"),
    )
