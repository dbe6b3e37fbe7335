"""Imputation operators — the heart of the reference's capability surface.

Reference equivalents (SURVEY.md §2.10), one operator per strategy:
  * C2 ``MedianImputer`` — ipynb:784-838: per-group median fill with global
    median fallback. The reference collects all group medians to a Python
    dict on the driver and re-applies them through a row-at-a-time UDF
    (ipynb:800, 819-826) — a driver bottleneck and a codegen break. Here it
    is a broadcast left join + ``coalesce``: fully distributed, no UDF, and
    the reference's FloatType downcast quirk (ipynb:822) is NOT replicated.
  * C3 ``ProximityMedian`` — ipynb:843-896: fill NULL with the mean of the
    ±N surrounding rows (same group, ordered) over a fixed list of passes,
    then the exact global median for the residue
    (``proximity_impute_fixed_schedule``). ROWS frames (observation-based,
    not calendar-based) exactly as the reference; ``schedule=(7, 14, 28)``
    is the reference's doubling.
  * C4 ``ImputeTempWithSeasonalMedian`` — ipynb:899-938: fill NULL with the
    (group, month) median via one aggregate + broadcast join-back, residue
    falling through to the proximity chain (``seasonal_median_impute``).
  * C5 zero-impute — ipynb:953: ``na.fill({'prcp': 0})``.
  * C6 strategy order — ipynb:947-956: the reference loops over an ordered
    column→transform map and re-executes the whole uncached lineage every
    iteration (1,462+ stages, ipynb:1752). ``pipelines/gsod.py`` composes
    the same order as one lazy plan over these operators, materialized once.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sql_text import quote_ident, window_sql


def _order_cols(order_by: Sequence[str]):
    return [F.col(c) for c in order_by]


def _ordered_out(cols: list[str], out_col: str, filled) -> list:
    """Projection preserving the INPUT column order: the filled expression
    replaces ``out_col`` in place when overwriting, else appends (r06
    review: emitting the imputed column last silently reordered the schema,
    misaligning positional consumers like union/insertInto)."""
    if out_col in cols:
        return [filled.alias(out_col) if c == out_col else F.col(c) for c in cols]
    return [F.col(c) for c in cols] + [filled.alias(out_col)]


def _projection_sql(columns: Sequence[str], replaced: dict[str, str]) -> list[str]:
    """``columns`` in order as SQL text, each name in ``replaced`` computed
    by its expression text instead of passed through."""
    return [
        f"{replaced[c]} AS {quote_ident(c)}" if c in replaced else quote_ident(c)
        for c in columns
    ]


def _global_median_fill(work: DataFrame, df: DataFrame, cur: dict[str, str]) -> DataFrame:
    """``work`` projected to ``df``'s columns, where each column named in
    ``cur`` is its expression ``cur[c]`` over ``work``, with the residue
    filled by the exact median of ``df``'s column (a 1-row broadcast)."""
    gmed = {c: quote_ident(f"__gmed_{c}") for c in cur}
    medians = df.selectExpr(*[f"median({quote_ident(c)}) AS {gmed[c]}" for c in cur])
    fills = {c: f"coalesce({cur[c]}, {gmed[c]})" for c in cur}
    return work.join(F.broadcast(medians)).selectExpr(*_projection_sql(df.columns, fills))


def impute_with_group_median(
    df: DataFrame,
    column: str,
    group_by: str | Sequence[str],
    out_col: str | None = None,
    broadcast_groups: bool | None = None,
) -> DataFrame:
    """Fill NULLs in ``column`` with the per-group exact median, falling back
    to the global median for groups that are entirely NULL.

    Scale shape: one hash-agg per grouping (shuffle on the group key, small
    output), then a broadcast left join back to the fact table — the agg
    side is |groups| rows, tiny relative to the fact side, so no fact-side
    shuffle happens. Replaces reference ipynb:797-826 (collect + dict + UDF).

    ``broadcast_groups``: ``True`` forces the ``F.broadcast`` hint (only do
    this when |groups| is known-bounded — the hint OVERRIDES Spark's
    ``autoBroadcastJoinThreshold`` size check, so an unbounded group key
    would OOM the driver); ``None`` (default) leaves the choice to
    Catalyst/AQE, which broadcasts iff the agg output is actually small at
    runtime; ``False`` never broadcasts. The 1-row global-median join is
    always hinted (size known by construction).
    """
    group_cols = [group_by] if isinstance(group_by, str) else list(group_by)
    out_col = out_col or column
    med_col, gmed_col = f"__med_{column}", f"__gmed_{column}"

    group_med = df.groupBy(*group_cols).agg(F.median(column).alias(med_col))
    global_med = df.agg(F.median(column).alias(gmed_col))

    if broadcast_groups:
        group_med = F.broadcast(group_med)
    elif broadcast_groups is False:
        group_med = group_med.hint("merge")  # sort-merge: safe at any |groups|
    joined = df.join(group_med, on=group_cols, how="left").join(
        F.broadcast(global_med)
    )
    filled = F.coalesce(F.col(column), F.col(med_col), F.col(gmed_col))
    return joined.select(*_ordered_out(df.columns, out_col, filled))


def proximity_impute_fixed_schedule(
    df: DataFrame,
    column: str | Sequence[str],
    group_by: str,
    order_by: Sequence[str],
    schedule: Sequence[int] = (2, 4),
) -> DataFrame:
    """Fill NULLs with the mean of the ±n surrounding observations in the
    same group, one pass per ``n`` in ``schedule``: each pass's frame
    averages over the previous pass's partially-filled column, the
    reference's per-pass semantics (ipynb:863-875), and ``(7, 14, 28)`` is
    its doubling. The pass list is fixed instead of stopping when a count
    reads zero, so the whole chain is one lazy plan (and SQL-expressible
    for the oracle). The residue takes the exact global median of the
    input column; the reference takes ``approxQuantile`` over the
    partly filled one (ipynb:879).

    Accepts MULTIPLE columns: all of them impute through the SAME window
    specs, so Catalyst plans one exchange + one sort per pass no matter how
    many columns fill — the reference pays the full shuffle per column per
    iteration.

    Layout invariant: the window input is hash-partitioned by ``group_by``
    into ``spark.sql.shuffle.partitions`` partitions with an explicit
    repartition, which AQE does not coalesce. Window cost scales with rows
    × frame width × columns, not with shuffle bytes, so AQE's byte-based
    coalescing of the exchange the windows would add anyway must not
    collapse this stage into one task (a ~1 MiB shuffle of a 10k-row table
    coalesced to one partition). Any later window over the same
    ``(group_by) / order_by`` spec, such as ``lead_labels``, reuses the
    layout. The global-median branch reads the un-repartitioned input, so
    it adds no exchange.
    """
    columns = [column] if isinstance(column, str) else list(column)
    cur = {c: quote_ident(c) for c in columns}
    work = df.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), group_by
    )
    for i, n in enumerate(schedule):
        over = window_sql(group_by, order_by, rows=(-n, n))
        # ONE projection per pass (not one per column): each DataFrame
        # transformation re-analyzes the whole deepening tree, so
        # per-column withColumn made driver-side analysis quadratic in
        # (passes × columns) — measured seconds at the gsod pipeline depth
        nxt = {c: quote_ident(f"__prox_{i}_{c}") for c in columns}
        work = work.selectExpr(
            "*",
            *[
                f"CASE WHEN {cur[c]} IS NULL THEN avg({cur[c]}) OVER ({over}) "
                f"ELSE {cur[c]} END AS {nxt[c]}"
                for c in columns
            ],
        )
        cur = nxt
    return _global_median_fill(work, df, cur)


def seasonal_median_impute(
    df: DataFrame,
    column: str | Sequence[str],
    group_by: str,
    date_col: str,
    fallback: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Fill NULLs in ``column`` (one name or a list) in place with the exact
    median of its (group, month-of-``date_col``) cell; rows in all-NULL
    cells fall through to ``fallback`` (the proximity chain in the
    reference, ipynb:933-935) or, if none is given, to the global median.

    Reference: ipynb:899-938 — groupBy(stn, month(date)) median, left-outer
    join back on a computed expression key (J1, ipynb:921), when-merge. The
    month key is computed once into the fact side, so the join is a plain
    two-key equi-join, and the aggregate side is |groups|×12 rows, so it is
    broadcast. Each column reads and writes only itself, so every column's
    output equals that of a one-column call, while all columns share one
    aggregate pass, one broadcast join and, through a multi-column
    ``fallback`` such as ``proximity_impute_fixed_schedule``, one window
    chain."""
    cols = [column] if isinstance(column, str) else list(column)
    mo = f"month({quote_ident(date_col)})"
    smed = {c: quote_ident(f"__smed_{c}") for c in cols}
    seasonal = df.groupBy(F.expr(quote_ident(group_by)), F.expr(f"{mo} AS __mo")).agg(
        *[F.expr(f"median({quote_ident(c)}) AS {smed[c]}") for c in cols]
    )
    fact = df.selectExpr("*", f"{mo} AS __mo")
    joined = fact.join(F.broadcast(seasonal), on=[group_by, "__mo"], how="left")
    # in the input's column order (a USING join outputs its key first)
    merged = joined.selectExpr(*_projection_sql(
        df.columns, {c: f"coalesce({quote_ident(c)}, {smed[c]})" for c in cols}
    ))
    if fallback is not None:
        return fallback(merged)
    return _global_median_fill(merged, df, {c: quote_ident(c) for c in cols})


def forward_fill(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: str | Sequence[str],
    out_col: str | None = None,
    backward: bool = False,
) -> DataFrame:
    """LOCF (last-observation-carried-forward) fill: replace each NULL with
    the most recent non-NULL value in the same group under ``order_by``
    (``backward=True`` carries the NEXT observation backward instead — NOCB).

    The natural extension of the reference's proximity family (ipynb:843-896)
    for time-series gaps: a weather station that stops reporting keeps its
    last reading rather than a frame mean. Scale shape: ONE shuffle on the
    group key + in-partition sort, then a running ``last(ignorenulls)`` —
    no iteration, no join, no growth with gap length (the frame is
    unbounded-preceding, computed in a single forward pass per partition).
    """
    order_cols = _order_cols([order_by] if isinstance(order_by, str) else list(order_by))
    out_col = out_col or column
    if backward:
        w = (
            Window.partitionBy(group_by)
            .orderBy(*order_cols)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = F.first(column, ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(group_by)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = F.last(column, ignorenulls=True).over(w)
    return df.select(
        *_ordered_out(df.columns, out_col, F.coalesce(F.col(column), carried))
    )


def linear_interpolate(
    df: DataFrame,
    column: str,
    group_by: str,
    time_col: str,
    tie_break: str | Sequence[str] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULL runs by linear interpolation between the bracketing non-NULL
    observations in the same group: ``prev + (next - prev) * (t - t_prev) /
    (t_next - t_prev)``, with ``time_col`` a NUMERIC time axis (epoch
    seconds / days). Edge rows with only one bracket take that bracket's
    value (nearest-neighbor extrapolation); all-NULL groups stay NULL.

    The calendar-aware upgrade of the reference's frame-mean imputer: a
    frame mean weights a 1-hour-old and a 6-day-old reading equally, while
    interpolation respects the time axis. Scale shape: both bracket scans
    (running ``last``/``first`` with ``ignorenulls``) share one partitioning
    and one sort order, so Catalyst plans a single exchange + single sort
    for all four carried columns — gap length never multiplies passes.
    """
    tie = [tie_break] if isinstance(tie_break, str) else list(tie_break)
    order_cols = _order_cols([time_col, *tie])
    out_col = out_col or column
    wp = (
        Window.partitionBy(group_by)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(group_by)
        .orderBy(*order_cols)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v, t = F.col(column), F.col(time_col)
    t_if_obs = F.when(v.isNotNull(), t)
    prev_v = F.last(v, ignorenulls=True).over(wp)
    prev_t = F.last(t_if_obs, ignorenulls=True).over(wp)
    next_v = F.first(v, ignorenulls=True).over(wn)
    next_t = F.first(t_if_obs, ignorenulls=True).over(wn)
    interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
    filled = (
        F.when(v.isNotNull(), v)
        .when(
            prev_v.isNotNull() & next_v.isNotNull() & (next_t != prev_t), interp
        )
        .otherwise(F.coalesce(prev_v, next_v))
    )
    return df.select(*_ordered_out(df.columns, out_col, filled))


def zero_impute(df: DataFrame, columns: dict[str, float]) -> DataFrame:
    """Constant fill (reference C5, ipynb:953: ``na.fill({'prcp': 0})`` —
    "no report means no rain")."""
    return df.na.fill(columns)
