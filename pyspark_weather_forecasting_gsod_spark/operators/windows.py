"""Window operators: offset labels and sliding-frame aggregates.

Reference equivalents (SURVEY.md §2.5):
  * W1 ``lead`` label construction — ipynb:1251-1257: per-station
    date-ordered ``lead(max)`` → next_day_max, ``lead(rain_drizzle)`` →
    next_day_rain. The reference's lead(1) is row-based (next *observation*,
    not next calendar day); both variants are offered here.
  * W2 symmetric ROWS frame mean — ipynb:863-875 (the proximity imputer's
    kernel).

Scale notes: a window ``partitionBy(k).orderBy(o)`` is one hash shuffle on k
plus an in-partition sort — the same exchange can be reused by every window
with the same partitioning, so label building and frame averaging over the
same key pipeline into one stage. Skewed groups (one giant station) are the
risk at 100 TB; AQE skew handling does not apply inside a window, so keys must
be checked for skew upstream (see ext/ salting helpers for the join case).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from .sql_text import quote_ident, sql_literal, window_sql


def keyed_window(group_by: str | Sequence[str], order_by: str | Sequence[str]) -> WindowSpec:
    group_cols = [group_by] if isinstance(group_by, str) else list(group_by)
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    return Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])


def lead_labels(
    df: DataFrame,
    group_by: str,
    order_by: str | Sequence[str],
    labels: dict[str, str],
    drop_null_labels: bool = True,
    calendar_strict: bool = False,
    date_col: str | None = None,
    max_gap_seconds: float | None = None,
) -> DataFrame:
    """Add next-observation label columns via ``lead(1)`` (reference C10).

    ``labels`` maps source column → label column, e.g.
    ``{"max": "next_day_max", "rain_drizzle": "next_day_rain"}``
    (ipynb:1251-1257). ``drop_null_labels`` drops each group's last row
    (ipynb:1260). ``calendar_strict=True`` additionally nulls labels whose
    next observation is not exactly the next calendar day of ``date_col`` —
    the reference's documented gap bug (SURVEY.md §2.5 W1), fixed opt-in.
    ``max_gap_seconds`` is the timestamp-grain variant: labels are nulled
    when the next observation is more than the gap away.
    """
    over = window_sql(group_by, order_by)
    gap_ok = None
    if calendar_strict or max_gap_seconds is not None:
        dc = quote_ident(
            date_col or (order_by if isinstance(order_by, str) else order_by[0])
        )
        nxt = f"lead({dc}, 1) OVER ({over})"
        if calendar_strict:
            gap_ok = f"datediff({nxt}, {dc}) = 1"
        else:
            # scale BEFORE rounding: int() truncation lost up to 1 µs and
            # rejected an observation exactly at the allowed gap (r08 review)
            limit = sql_literal(int(round(max_gap_seconds * 1_000_000)))
            gap_ok = f"unix_micros({nxt}) - unix_micros({dc}) <= {limit}"
    exprs = ["*"]
    for src, label in labels.items():
        led = f"lead({quote_ident(src)}, 1) OVER ({over})"
        if gap_ok is not None:
            led = f"CASE WHEN {gap_ok} THEN {led} END"
        exprs.append(f"{led} AS {quote_ident(label)}")
    out = df.selectExpr(*exprs)
    if drop_null_labels:
        out = out.filter(
            " AND ".join(f"{quote_ident(lab)} IS NOT NULL" for lab in labels.values())
        )
    return out


def ranked(
    df: DataFrame,
    group_by: str,
    order_by: Sequence[Column | str],
    n_tiles: int = 4,
) -> DataFrame:
    """row_number / rank / dense_rank / ntile over one shared window spec —
    the ranking vocabulary the reference's window module lacks (SURVEY.md
    §2.5). All four share a single exchange + sort."""
    w = Window.partitionBy(group_by).orderBy(*order_by)
    return df.select(
        *df.columns,
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(n_tiles).over(w).cast("long").alias("tile"),
    )


def lag_delta(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: Sequence[str],
    out_col: str = "delta",
) -> DataFrame:
    """Per-key difference vs previous observation (``lag``)."""
    w = keyed_window(group_by, order_by)
    return df.select(
        *df.columns,
        (F.col(column) - F.lag(column, 1).over(w)).alias(out_col),
    )


def calendar_range_avg(
    df: DataFrame,
    column: str,
    group_by: str,
    date_col: str,
    days_before: int,
    days_after: int,
    out_col: str,
) -> DataFrame:
    """Calendar-true RANGE frame mean: ±N *days* (not rows) around each
    observation — the fix for the reference's ROWS-frame caveat (SURVEY.md
    §2.5 W2): a station with missing days averages over the true window, not
    over whatever rows happen to exist."""
    days = F.datediff(F.col(date_col), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy(group_by)
        .orderBy(days)
        .rangeBetween(-days_before, days_after)
    )
    return df.withColumn(out_col, F.avg(column).over(w))


def sliding_frame_avg(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: str | Sequence[str],
    before: int,
    after: int,
    out_col: str,
) -> DataFrame:
    """Symmetric/asymmetric ROWS-frame mean (reference W2 kernel,
    ipynb:863-875: ``avg(c).over(rowsBetween(-n, n))``)."""
    w = keyed_window(group_by, order_by).rowsBetween(-before, after)
    return df.withColumn(out_col, F.avg(column).over(w))


def rolling_frame_median(
    df: DataFrame,
    column: str,
    group_by: str | Sequence[str],
    order_by: str | Sequence[str],
    before: int = 3,
    after: int = 3,
    out_col: str = "rolling_median",
    digits: int | None = 4,
    max_group_rows: int | None = None,
) -> DataFrame:
    """EXACT median over a symmetric/asymmetric ROWS frame — the robust
    (outlier-resistant) variant of ``sliding_frame_avg`` (what the
    reference's ProximityMedian name promises but its ``avg`` doesn't
    deliver, ipynb:866). Spark has no frame-capable ``median``, so the
    frame is gathered with ``collect_list`` (bounded: ≤ before+after+1
    values per row) and the interpolated middle taken JVM-side — same
    single shuffle + in-partition sort as any frame aggregate, matching
    DuckDB/Postgres windowed ``median`` interpolation semantics.

    NULL semantics: NULL values never enter the frame (``collect_list``
    skips them — the null-skipping every SQL aggregate shares), and a
    frame whose values are ALL NULL yields a NULL median rather than a
    runtime error (r06 review fix: the unguarded middle index was 0).

    Per-row memory is frame-bounded; per-GROUP the window sorts the whole
    group on one executor — ``max_group_rows`` pre-flights that skew
    (operators/guards.py — r05 VERDICT hardening)."""
    from .guards import check_max_group_rows

    check_max_group_rows(df, group_by, max_group_rows, "rolling_frame_median")
    w = keyed_window(group_by, order_by).rowsBetween(-before, after)
    arr = F.array_sort(F.collect_list(F.col(column)).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    # n == 0 (every value in the frame NULL → collect_list gathered
    # nothing) must yield NULL, not element_at(arr, 0) — which throws
    # INVALID_INDEX_OF_ZERO in any ANSI mode. CaseWhen evaluates only the
    # matched branch per row, so the guard is crash-proof.
    # untyped NULL: CaseWhen coerces NullType to the other branches' type,
    # so a decimal value column keeps its decimal output (a double-cast
    # NULL here would silently coerce the whole expression to double)
    med = F.when(n == 0, F.lit(None)).when(
        n % 2 == 1, lo
    ).otherwise((lo + hi) / 2)
    if digits is not None:
        med = F.round(med, digits)
    return df.withColumn(out_col, med)


def ewma(
    df: DataFrame,
    column: str,
    group_by: str,
    order_by: str | Sequence[str],
    alpha: float = 0.3,
    lookback: int = 20,
    out_col: str = "ewma",
    digits: int = 6,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average over a bounded ROWS frame —
    the smoothing kernel of a forecasting pipeline (the reference's domain)
    without any sequential/driver computation.

    For the frame [t-lookback+1 .. t] (ordered oldest→newest, m rows):
    ``y_t = Σ_k (1-α)^(m-1-k) x_k / Σ_k (1-α)^(m-1-k)`` — pandas'
    ``ewm(adjust=True)`` weighting truncated to the lookback, with one
    documented NULL deviation (r08 review): ``collect_list`` drops NULL
    values, so decay weights attach to the null-COMPACTED positions —
    pandas' ``ignore_na=True`` behavior, NOT its ``ignore_na=False``
    default (where a NULL still ages earlier observations); NULL rows do
    still consume lookback slots. The SQL oracle replays this exact fold,
    so the contract is bit-checked as stated here. The frame is
    materialized with ``collect_list`` (frame order follows the window
    ORDER BY) and folded with JVM-side higher-order expressions: per-row
    cost is O(lookback), shuffle cost is the one window exchange every
    keyed window already pays. A closed-form prefix trick would avoid the
    O(lookback) fold but is numerically explosive ((1-α)^-t overflows);
    the bounded frame is the scale-safe shape. The frame bounds per-ROW
    memory; per-GROUP the window still sorts the whole group on one
    executor — pass ``max_group_rows`` to pre-flight that skew
    (operators/guards.py — r05 VERDICT hardening).
    """
    from .guards import check_max_group_rows

    check_max_group_rows(df, group_by, max_group_rows, "ewma")
    w = keyed_window(group_by, order_by).rowsBetween(-(lookback - 1), 0)
    frame = F.collect_list(F.col(column)).over(w)
    decay = 1.0 - alpha
    num = (
        "aggregate(zip_with({f}, sequence(1, size({f})), "
        "(x, i) -> x * pow({d}, size({f}) - i)), 0D, (a, v) -> a + v)"
    )
    den = (
        "aggregate(sequence(1, size({f})), 0D, "
        "(a, i) -> a + pow({d}, size({f}) - i))"
    )
    tmp = "__ewma_frame"
    out = (
        df.withColumn(tmp, frame)
        .withColumn(
            out_col,
            F.round(
                F.expr(num.format(f=tmp, d=decay)) / F.expr(den.format(f=tmp, d=decay)),
                digits,
            ),
        )
        .drop(tmp)
    )
    return out


def event_paths(
    df: DataFrame,
    group_cols: str | Sequence[str],
    order_by: Sequence[str],
    symbol_col: str,
    symbols: dict[str, str],
    max_group_rows: int | None = 100_000,
) -> DataFrame:
    """Per-group ordered event-path string — MATCH_RECOGNIZE-lite for
    funnel/path analysis: each group's events become ONE string of
    single-char symbols in ``order_by`` order, and downstream pattern
    questions ("did view precede click precede purchase?", "how many
    purchases?") are plain ``rlike``/``length`` expressions on that
    string — engine-portable, no iterative state machine, no UDF.

    ``symbols`` maps ``symbol_col`` values to single characters; unmapped
    values (and NULLs) become '_' so positions stay faithful to the raw
    sequence — a pattern can deliberately match or skip them. Ordering is
    total: pass a tie-break column (an id) in ``order_by``, exactly like
    the fold family, so the path is deterministic across engines and
    partitionings.

    Scale shape: ONE hash aggregate; the fold materializes each group's
    sequence, so per-executor memory is proportional to the LARGEST
    group — guarded by ``check_max_group_rows`` (operators/guards.py),
    the same opt-out contract as cusum/ewma. Output: group_cols +
    (n_events, path)."""
    from .guards import check_max_group_rows

    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    check_max_group_rows(df, gcols, max_group_rows, "event_paths")
    sym = None
    for raw, ch in sorted(symbols.items()):
        if len(ch) != 1:
            raise ValueError(f"event_paths: symbol for {raw!r} must be 1 char")
        cond = F.col(symbol_col) == raw
        sym = F.when(cond, F.lit(ch)) if sym is None else sym.when(cond, F.lit(ch))
    sym = F.lit("_") if sym is None else sym.otherwise(F.lit("_"))
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_by], sym.alias("__sym")))
    )
    path = F.array_join(F.transform(ordered, lambda x: x["__sym"]), "")
    return df.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_events"), path.alias("path")
    )


def funnel_within(
    df: DataFrame,
    group_cols: str | Sequence[str],
    ts_col: str,
    tie_col: str,
    type_col: str,
    steps: Sequence[str],
    within_seconds: float,
    bound: str = "step",
) -> DataFrame:
    """Time-bounded funnel — the MATCH_RECOGNIZE ``WITHIN`` analog
    ``event_paths`` structurally cannot answer (its path string drops
    timestamps, r07 VERDICT): per group, the deepest prefix of ``steps``
    completable by SOME chain of events where each step strictly follows
    the previous one (total order ``(ts_col, tie_col)``) and the time
    bound holds. Two industry-standard bounds:

    * ``bound='step'`` (default): each step starts at most
      ``within_seconds`` after the PREVIOUS one — "click within N hours
      of view, purchase within N hours of click" (the per-transition
      WITHIN of MATCH_RECOGNIZE).
    * ``bound='first'``: every step lands within ``within_seconds`` of
      the chain's FIRST step — ClickHouse ``windowFunnel`` semantics
      ("complete the whole funnel inside one N-hour window").

    EXACT exists-a-chain semantics WITHOUT a state machine, join tree, or
    UDF — one recurrence covers both bounds, keeping this one exchange +
    k−1 linear scans. For ``'step'``: a step-i event at time t is
    chain-reachable iff some REACHABLE step-(i−1) event lies in
    ``[t − W, t)`` (strictly before it in the total order); every
    reachable step-(i−1) time visible to the running window is ≤ t
    already, so ``max(reach_{i−1}) OVER (rows unbounded preceding .. 1
    preceding) ≥ t − W`` holds iff such an event exists — keeping only
    the LATEST reachable time is lossless, where a naive earliest-chain
    (min-ts per step) is NOT: an early step can time out a window a
    later one would satisfy (tested trap). For ``'first'``: the
    recurrence propagates each chain's START time instead — a step-i
    event extends some chain iff the max chain-start among level-(i−1)
    rows strictly before it is ≥ t − W, and keeping only the MAX start
    is lossless because every future constraint (t' − start ≤ W) is
    monotone in start. The 1-PRECEDING frame excludes the current row,
    so repeated step types (``view → view``) need two distinct events,
    and equal timestamps are legal when the tie column orders them.

    Scale shape: ONE exchange on the group key; the k−1 running maxes
    share the same window (partition, order, frame), so Spark evaluates
    them over a single sort — per-step cost is a linear scan, state is
    one timestamp per step, never a per-group event buffer (the
    ``event_paths`` collect_list guard is unnecessary here). Output:
    group_cols + (steps_completed, completed, first_completion_us).
    ``first_completion_us`` is the earliest FINAL-step event time over
    all completing chains, in epoch microseconds — BIGINT so oracles
    hash it without timezone coupling; NULL until the funnel completes.
    (Identical definition under both bounds: the minimum own-time of a
    reachable final-step event.)"""
    from pyspark.sql.window import Window

    if len(steps) < 2:
        raise ValueError("funnel_within: need at least 2 steps")
    if within_seconds <= 0:
        raise ValueError("funnel_within: within_seconds must be > 0")
    if bound not in ("step", "first"):
        raise ValueError("funnel_within: bound must be 'step'|'first'")
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    reserved = {f"__r{i}" for i in range(1, len(steps) + 1)} | {"__done_us"}
    clash = reserved & set(df.columns)
    if clash:
        # an input column named like the recurrence state would silently
        # corrupt the chain computation — refuse, like cap_per_group does
        raise ValueError(f"funnel_within: input already has {sorted(clash)}")
    order = Window.partitionBy(*gcols).orderBy(
        F.col(ts_col).asc(), F.col(tie_col).asc()
    )
    w = order.rowsBetween(Window.unboundedPreceding, -1)
    us = F.unix_micros(F.col(ts_col))
    # truncating BEFORE the multiply silently turned fractional seconds
    # in (0, 1] into a 0-µs window (r08 review) — scale first, then round
    w_us = int(round(within_seconds * 1_000_000))
    # the (ts, tie) order must be TOTAL or the 1-PRECEDING frame is
    # partition-layout-dependent — same execution-time doctrine as the
    # sampling operators (guards.assert_no_order_tie: a lag over the
    # already-paid sort)
    from .guards import assert_no_order_tie

    df = assert_no_order_tie(
        df, order, [F.col(ts_col), F.col(tie_col)], "funnel_within"
    )
    # __r{i} is set iff this event is a reachable level-i chain end; its
    # VALUE is what the next level's feasibility test needs: the end time
    # (bound='step') or the chain-start time (bound='first').
    cur = df.withColumn("__r1", F.when(F.col(type_col) == steps[0], us))
    for i, s in enumerate(steps[1:], start=2):
        best_prev = F.max(f"__r{i - 1}").over(w)
        feasible = (F.col(type_col) == s) & (best_prev >= us - F.lit(w_us))
        value = us if bound == "step" else best_prev
        cur = cur.withColumn(f"__r{i}", F.when(feasible, value))
    k = len(steps)
    depth = F.lit(0)
    for i in range(1, k + 1):
        depth = F.when(F.max(f"__r{i}").isNotNull(), i).otherwise(depth)
    completion = F.when(F.col(f"__r{k}").isNotNull(), us)
    cur = cur.withColumn("__done_us", completion)
    return cur.groupBy(*gcols).agg(
        depth.cast("int").alias("steps_completed"),
        F.max(f"__r{k}").isNotNull().alias("completed"),
        F.min("__done_us").alias("first_completion_us"),
    )
