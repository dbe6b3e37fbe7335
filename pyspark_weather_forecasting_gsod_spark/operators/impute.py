"""Imputation operators — the heart of the reference's capability surface.

Reference equivalents (SURVEY.md §2.10):
  * C2 ``MedianImputer`` — ipynb:784-838: per-group median fill with global
    median fallback. The reference collects all group medians to a Python
    dict on the driver and re-applies them through a row-at-a-time UDF
    (ipynb:800, 819-826) — a driver bottleneck and a codegen break. Here it
    is a broadcast left join + ``coalesce``: fully distributed, no UDF, and
    the reference's FloatType downcast quirk (ipynb:822) is NOT replicated.
  * C3 ``ProximityMedian`` — ipynb:843-896: fill NULL with the mean of the
    ±N surrounding rows (same group, ordered), N doubling until no nulls
    remain or a cap, then a global fallback. ROWS frames (observation-based,
    not calendar-based) exactly as the reference; a calendar-true variant is
    available via ``range_based=True``.
  * C4 ``ImputeTempWithSeasonalMedian`` — ipynb:899-938: fill NULL with the
    (group, month) median via groupBy + join-back, residue falling through to
    the proximity chain.
  * C5 zero-impute — ipynb:953: ``na.fill({'prcp': 0})``.
  * C6 strategy runner — ipynb:947-956, 1066-1067: ordered column→transform
    map. The reference's loop re-executes the entire uncached lineage every
    iteration (1,462+ stages, ipynb:1752); ours caches between steps.
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


def proximity_mean_impute(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: str | Sequence[str],
    initial_num_rows: int = 7,
    max_rows: int = 30,
    fallback: str = "median",
    range_based: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULLs with the mean of the ±N surrounding observations in the same
    group (ordered), doubling N until no NULLs remain or ``max_rows`` is hit;
    the residue is filled with a global median (or mean).

    Reference: ipynb:843-896. Semantics preserved exactly: ROWS frames (the
    "next" observation, not the next calendar unit — reference caveat at
    SURVEY.md §2.5), doubling schedule 7→14→28 capped at ``max_rows``, global
    fallback for rows whose whole frame is NULL. Two deliberate deviations,
    both documented: the declared fallback uses exact ``median`` instead of
    ``approxQuantile(relativeError=0.001)`` (ipynb:879 — sketch output is
    config-dependent, unsuitable for oracle checks), and each iteration runs
    on a **cached** frame so lineage does not grow superlinearly (the
    reference re-executes all prior iterations' plans every pass,
    ipynb:1066-1067 / 1752).

    ``range_based=True`` switches to a calendar-true RANGE frame over the
    (single) order column's day offset — the variant the reference's own
    comments wish for.
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    out_col = out_col or column
    work = df
    if out_col != column:
        work = work.withColumn(out_col, F.col(column))

    num = initial_num_rows
    # Eager convergence loop, as in the reference — but each iteration caches
    # its input and unpersists the previous one, so iteration i's plan does
    # not contain iterations 0..i-1.
    cached: list[DataFrame] = []
    while True:
        work = work.persist()
        cached.append(work)
        remaining = work.filter(F.col(out_col).isNull()).count()
        if remaining == 0 or num > max_rows:
            break
        if range_based:
            days = F.datediff(F.col(order_cols[0]), F.lit("1970-01-01"))
            w = (
                Window.partitionBy(group_by)
                .orderBy(days)
                .rangeBetween(-num, num)
            )
        else:
            w = (
                Window.partitionBy(group_by)
                .orderBy(*_order_cols(order_cols))
                .rowsBetween(-num, num)
            )
        work = work.withColumn(
            out_col,
            F.when(F.col(out_col).isNull(), F.avg(out_col).over(w)).otherwise(
                F.col(out_col)
            ),
        )
        num *= 2

    if remaining > 0:
        fb = F.median(out_col) if fallback == "median" else F.avg(out_col)
        fb_df = work.agg(fb.alias("__fb"))
        work = (
            work.join(F.broadcast(fb_df))
            .select(
                *[c for c in work.columns],
                F.coalesce(F.col(out_col), F.col("__fb")).alias("__filled"),
            )
            .drop(out_col, "__fb")
            .withColumnRenamed("__filled", out_col)
        )
    result = work.select(*df.columns) if out_col == column else work
    # Materialization happens lazily downstream; free intermediate caches of
    # earlier iterations but keep the last (it feeds the result plan; the
    # ContextCleaner reclaims it once the plan is no longer referenced).
    for c in cached[:-1]:
        c.unpersist()
    return result


def fixed_proximity_impute(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: Sequence[str],
    num_rows: int,
    out_col: str | None = None,
) -> DataFrame:
    """One deterministic proximity pass (±num_rows frame mean) + exact global
    median for the residue. This is the oracle-checkable declared variant of
    ``proximity_mean_impute`` — no data-dependent loop, same frame semantics.
    """
    out_col = out_col or column
    w = (
        Window.partitionBy(group_by)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(-num_rows, num_rows)
    )
    frame_mean = F.avg(column).over(w)
    gmed = df.agg(F.median(column).alias("__gmed"))
    filled = df.withColumn("__frame", F.when(F.col(column).isNull(), frame_mean))
    out_expr = F.coalesce(F.col(column), F.col("__frame"), F.col("__gmed"))
    return filled.join(F.broadcast(gmed)).select(
        *_ordered_out(df.columns, out_col, out_expr)
    )


def proximity_impute_fixed_schedule(
    df: DataFrame,
    column: str | Sequence[str],
    group_by: str,
    order_by: Sequence[str],
    schedule: Sequence[int] = (2, 4),
) -> DataFrame:
    """The doubling-schedule proximity imputer with a FIXED pass list — the
    reference's exact per-pass semantics (each pass's frame averages over the
    previous pass's partially-filled column, ipynb:863-875) but without the
    data-dependent eager convergence counts, so the whole chain is one lazy
    plan (and SQL-expressible for the oracle). Residue → exact global
    median.

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
    column: str,
    group_by: str,
    date_col: str,
    out_col: str | None = None,
    fallback: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Fill NULLs with the exact median for (group, month-of-``date_col``);
    rows in all-NULL (group, month) cells fall through to ``fallback`` (the
    proximity chain in the reference, ipynb:933-935) or, if none is given, to
    the global median.

    Reference: ipynb:899-938 — groupBy(stn, month(date)) median, left-outer
    join back on a **computed expression key** (J1, ipynb:921), when-merge.
    The month key is computed once into the fact side so the join is a plain
    two-key equi-join (hashable, broadcastable); the agg side is
    |groups|×12 rows → broadcast.
    """
    out_col = out_col or column
    mo = F.month(F.col(date_col))
    seasonal = (
        df.groupBy(F.col(group_by), mo.alias("__mo"))
        .agg(F.median(column).alias("__smed"))
    )
    fact = df.withColumn("__mo", mo)
    joined = fact.join(F.broadcast(seasonal), on=[group_by, "__mo"], how="left")
    merged = joined.withColumn(
        out_col,
        F.coalesce(F.col(column) if out_col != column else F.col(out_col), F.col("__smed")),
    ).drop("__mo", "__smed")
    if fallback is not None:
        return fallback(merged)
    gmed = df.agg(F.median(column).alias("__gmed"))
    out_expr = F.coalesce(F.col(out_col), F.col("__gmed"))
    return merged.join(F.broadcast(gmed)).select(
        *_ordered_out(merged.columns, out_col, out_expr)
    )


def seasonal_median_impute_multi(
    df: DataFrame,
    columns: Sequence[str],
    group_by: str,
    date_col: str,
    fallback: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Multi-column ``seasonal_median_impute`` (r11, guide §1.2/§2.3):
    per-column output PROVABLY identical to chaining the single-column
    imputer once per column — each stage only ever reads and writes its
    own column, so the (group, month) medians and every residue are
    column-independent — but all columns share ONE (group, month)
    aggregate pass, ONE broadcast join, and (via a multi-column
    ``fallback`` such as ``proximity_impute_fixed_schedule``) one shared
    window-exchange chain, where the chained form paid one full
    agg + join + fallback chain per column (the gsod pipeline's two
    seasonal stages, measured as separate checkpoint rounds). Fill is
    in-place (``out_col == column``), pytest-asserted equal to the
    sequential chain."""
    cols = list(columns)
    mo = f"month({quote_ident(date_col)})"
    smed = {c: quote_ident(f"__smed_{c}") for c in cols}
    seasonal = df.groupBy(F.expr(quote_ident(group_by)), F.expr(f"{mo} AS __mo")).agg(
        *[F.expr(f"median({quote_ident(c)}) AS {smed[c]}") for c in cols]
    )
    fact = df.selectExpr("*", f"{mo} AS __mo")
    joined = fact.join(F.broadcast(seasonal), on=[group_by, "__mo"], how="left")
    # a USING join outputs its key first, then the other fact columns
    merged = joined.selectExpr(*_projection_sql(
        [group_by, *(c for c in df.columns if c != group_by)],
        {c: f"coalesce({quote_ident(c)}, {smed[c]})" for c in cols},
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


def run_impute_strategy(
    df: DataFrame,
    strategy: dict[str, Callable[[DataFrame], DataFrame]],
    checkpoint_every: int = 0,
) -> DataFrame:
    """Apply an ordered column→imputer map (reference C6, ipynb:947-956).

    Order matters: already-imputed columns feed later windowed imputers,
    exactly as in the reference. ``checkpoint_every`` > 0 truncates lineage
    every N steps via ``localCheckpoint`` — at 100 TB an un-truncated
    30-step lineage makes every downstream stage replay the whole chain on
    any task retry.
    """
    for i, (col, fn) in enumerate(strategy.items()):
        df = fn(df)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            df = df.localCheckpoint(eager=False)
    return df
