"""Sampling & split operators for training-data pipelines.

The reference's only split is an UNSEEDED ``randomSplit([0.8, 0.2])``
(ipynb:1376, SURVEY.md §2.8) — nondeterministic across runs, and unstable
under data growth even when seeded (Bernoulli draws depend on partition
layout). Two scale-correct alternatives:

  * ``hash_split`` — assignment is a pure function of the row's key
    (md5-derived bucket), so it is reproducible run-to-run, engine-portable
    (DuckDB computes the identical assignment), and STABLE: adding new rows
    never flips an existing row's split. This is the right way to hold out
    eval data at 100 TB.
  * ``stratified_sample`` — seeded per-stratum Bernoulli via ``sampleBy``;
    keeps rare strata represented when downsampling a corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .guards import assert_no_order_tie
from .sql_text import sql_literal

HEX = "0123456789abcdef"


def null_safe_key(key: str) -> Column:
    """The shared NULL-sentinel key expression of the md5-decision
    doctrine: ``coalesce(key::string, '__null_key__')``. Every keyed
    deterministic-decision operator in this module MUST hash through this
    (r08 review: four operators hand-rolled the raw key and silently
    DROPPED NULL-key rows — md5(NULL) is NULL, so the bucket comparison
    fell through — the exact bug class the r06 hash_split fix closed).
    All NULL-key rows share one digest, so they act as ONE deterministic
    cohort (kept or dropped together, same copies, same split side) —
    clustered but reproducible, which is the honest behavior for a
    population that is rarely a random slice."""
    return F.coalesce(F.col(key).cast("string"), F.lit("__null_key__"))


def hash_bucket(key: Column, buckets: int = 100, hex_chars: int = 4) -> Column:
    """Deterministic bucket in [0, buckets): int value of the first
    ``hex_chars`` hex chars of md5(key as string), mod buckets.
    Engine-portable (no xxhash64 dependence) and uniform enough for split
    assignment. ``hex_chars`` must give 16**hex_chars >> buckets for the
    mod to stay uniform (4 chars for percent splits, 6+ for ppm rates)."""
    h = F.substring(F.md5(key.cast("string").cast("binary")), 1, hex_chars)
    return F.conv(h, 16, 10).cast("long") % buckets


def hash_bucket_sql(key_sql: str, buckets: int = 100, hex_chars: int = 4) -> str:
    """``hash_bucket`` as SQL text over the SQL expression ``key_sql``, for
    projections built as text (``operators.sql_text``); the same
    expression, so the same buckets."""
    return (
        f"CAST(conv(substring(md5(CAST(CAST({key_sql} AS STRING) AS BINARY)), "
        f"1, {sql_literal(hex_chars)}), 16, 10) AS BIGINT) % {sql_literal(buckets)}"
    )


def hash_split(
    df: DataFrame,
    key: str,
    train_pct: int = 80,
    out_col: str = "split",
) -> DataFrame:
    """Tag each row 'train'/'test' by its key's hash bucket. NULL keys
    hash on a sentinel, so they land together on ONE deterministic side —
    without it the NULL comparison fell through ``when`` and the test set
    was silently enriched with exactly the NULL-key population (r06
    review); a NULL-key cohort is rarely a random slice, so keeping it
    un-split (and deterministic) is the honest behavior."""
    bucket = hash_bucket(null_safe_key(key))
    return df.withColumn(
        out_col, F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("test"))
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Seeded per-stratum Bernoulli sample (``sampleBy``): map-only, no
    shuffle; strata absent from ``fractions`` are dropped (fraction 0)."""
    return df.sampleBy(stratum_col, fractions, seed=seed)


def collect_strata(
    df: DataFrame, stratum_col: str, max_strata: int = 10_000
) -> list:
    """Bounded driver-collect of the distinct stratum keys — the safe
    constructor for ``sampleBy``-style per-stratum dicts (r08 VERDICT #3
    minor: the raw ``.distinct().collect()`` had no cardinality contract).

    Per-stratum APIs are |strata|-bounded BY DESIGN: the fractions dict,
    the sampling plan, and the broadcast all live on the driver, so a
    stratum column must be low-cardinality (language, domain, split —
    thousands, not millions). The limit-probe makes that contract explicit:
    exceeding ``max_strata`` raises with the scale-path pointer instead of
    silently materializing an unbounded distinct on the driver. Same
    guard pattern as the dedup routers' limit probes — O(max_strata) work,
    never a full distinct when over."""
    rows = (
        df.select(stratum_col).distinct().limit(max_strata + 1).collect()
    )
    if len(rows) > max_strata:
        raise ValueError(
            f"collect_strata: over {max_strata} distinct values in "
            f"'{stratum_col}' — per-stratum sampling holds |strata| state "
            "on the driver and is not meant for high-cardinality keys. "
            "Use hash_bucket/hash_split (pure-function assignment) or "
            "cap_per_group (per-group top-n) instead, or raise max_strata "
            "deliberately."
        )
    return [r[0] for r in rows]


def cap_per_group(
    df: DataFrame,
    group_by: str | list[str],
    n: int,
    id_col: str,
    keep: str = "hash",
) -> DataFrame:
    """Keep at most ``n`` rows per group — the corpus-curation cap ("at most
    N documents per domain/language") that bounds any one group's share of
    a training set.

    ``keep='hash'`` orders rows inside each group by an md5 of their id, so
    the kept subset is a deterministic, engine-portable pseudo-random
    sample that is STABLE under reruns and unaffected by input partition
    layout (unlike ``rand()``-ordered limits). Any other value of ``keep``
    is used as a column name and the TOP-n by that column (desc, id
    tie-break) survive — the "keep the highest-quality n" variant.

    One hash shuffle on the group key; ``row_number`` is a
    WindowGroupLimit-eligible rank, so executors discard beyond-n rows
    during the partial sort instead of materializing whole groups (the
    shape that survives a group with a billion rows — no group fits in
    memory requirement beyond the top-n heap).

    Determinism PRECONDITION: ``id_col`` must be unique (it is an id).
    Duplicate or multi-NULL ids tie the full ordering tuple at the cap
    boundary, and which row survives then depends on partition layout.
    The lag-assert the non-rank operators use is deliberately NOT added
    here: an extra window expression would defeat the WindowGroupLimit
    pushdown this operator's scale story depends on — callers with
    untrusted ids should validate uniqueness upstream (r08 review).
    """
    from pyspark.sql.window import Window

    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    rn = "__cap_rn"
    if rn in df.columns:
        raise ValueError(f"cap_per_group: input already has a {rn!r} column")
    if keep == "hash":
        order = [F.md5(F.col(id_col).cast("string").cast("binary")).asc(),
                 F.col(id_col).asc()]
    else:
        order = [F.col(keep).desc(), F.col(id_col).asc()]
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= n)
        .drop(rn)
    )


def rate_sample_by_stratum(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key: str,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the domain-mixing primitive
    ("keep 50% of English, all of French, ..."): a row survives iff its
    key's md5 bucket falls under the stratum's rate.

    Unlike seeded ``sampleBy`` (partition-layout-sensitive Bernoulli
    draws), the decision is a pure function of the row key: reproducible
    across engines and runs, stable under data growth, map-only and
    shuffle-free at any scale. Strata absent from ``rates`` are dropped.

    ``hex_chars=8`` keeps ``hash_bucket``'s uniformity precondition
    (16**8 ≈ 4.3e9 >> 1e6 buckets, still fits in a long): at 6 chars the
    16.78M hash space mod 1M gave buckets below 777216 one extra md5
    preimage each, skewing realized keep-rates ~1% off nominal.
    """
    if not rates:
        raise ValueError("rate_sample_by_stratum: rates must be non-empty")
    bad = {k: v for k, v in rates.items() if not 0.0 <= v <= 1.0}
    if bad:
        raise ValueError(
            f"rate_sample_by_stratum: rates must be in [0, 1], got {bad}"
        )
    # realized keep-rate quantizes to whole buckets: ceil(rate*buckets)/
    # buckets qualify, so rates below 1/buckets keep ~1e-6, not 0 (r08
    # review) — raise `buckets` for ppb-grade rates. NULL keys hash via
    # the shared sentinel: one deterministic cohort, never silently
    # dropped (md5(NULL) was NULL and the comparison fell through).
    b = hash_bucket(null_safe_key(key), buckets, hex_chars=8)
    expr: Column | None = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(stratum_col) == stratum
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(0.0))
    return df.filter(b < (rate * buckets))


def weighted_repeat(
    df: DataFrame,
    key: str,
    weight: Column,
    epoch_col: str = "epoch",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic fractional up/down-sampling by row weight — the
    epoch-mixing primitive of pretraining data recipes ("2.5 epochs of
    wiki, 0.7 of web"): a row with weight ``w`` is emitted
    ``floor(w) + Bernoulli(frac(w))`` times, tagged 1..n in ``epoch_col``,
    where the fractional draw is the row key's md5 bucket (same
    partition-independent, engine-portable decision as
    ``rate_sample_by_stratum`` — never Spark RNG). ``w < 1`` degenerates
    to plain rate sampling; ``w = 0`` drops the row.

    Map-only 1→N fan-out (``explode(sequence(...))``): no shuffle, no
    Python, stable under data growth — adding rows never changes an
    existing row's copy count, so incremental corpus builds stay
    reproducible at 100 TB.
    """
    b = hash_bucket(null_safe_key(key), buckets, hex_chars=8)
    n_copies = F.floor(weight).cast("long") + (
        b < ((weight - F.floor(weight)) * buckets)
    ).cast("long")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") >= 1)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n"))),
        )
        .drop("__n")
    )


def weighted_sample_k(
    df: DataFrame,
    key: str,
    weight: Column,
    k: int,
    score_col: str = "sample_score",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis A-Res scheme (each row scores ``u^(1/w)`` for a
    uniform u, the k largest scores are an exact ∝-weight sample) with the
    uniform drawn from the row key's md5 — the same engine-portable,
    partition-independent substitution for RNG as ``hash_split``. Rows
    with non-positive weight are excluded.

    One map-only scoring pass + a top-k (Spark plans
    ``TakeOrderedAndProject`` — per-partition heaps, no global sort), so
    the selection is reproducible at any scale and stable run-to-run.

    Determinism PRECONDITION: keys must be unique (duplicate keys draw
    the SAME uniform, so equal-weight duplicates tie on (score, key) at
    the k boundary and partition layout picks the survivor — and
    correlated draws break the ∝-weight guarantee). NULL keys hash via
    the shared sentinel: deterministic, but ≥2 NULL-key equal-weight rows
    tie the same way (r08 review)."""
    b = 1 << 32
    u = (hash_bucket(null_safe_key(key), b, hex_chars=8) + F.lit(0.5)) / F.lit(float(b))
    return (
        df.filter(weight > 0)
        .withColumn(score_col, F.pow(u, F.lit(1.0) / weight))
        .orderBy(F.col(score_col).desc(), F.col(key))
        .limit(k)
    )


def sampled_sum_estimate(
    df: DataFrame,
    key: str,
    value_col: str,
    rate: float = 0.01,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Approximate-query-processing SUM/COUNT estimator (the BlinkDB
    shape): aggregate a deterministic md5-bucket sample and scale by
    1/rate, with a CLT 95% confidence interval derived from the sample
    variance — one row: (n_sampled, sum_est, ci_low, ci_high, count_est).

    Because the sample is a pure function of the row key (same doctrine
    as ``hash_split``), the estimate is reproducible across runs, engines
    and partitionings — which makes even the APPROXIMATE answer
    oracle-hashable, something no RNG-sampled estimator can offer. At
    100 TB this reads ``rate`` of the data (with a sample table
    materialized once, it is also the always-on dashboard path).

    The REALIZED inclusion probability is quantized to whole buckets:
    ``p = max(1, round(rate·buckets)) / buckets`` — and the estimator
    scales by p, not by the requested rate (r06 review: scaling by a
    non-realizable rate biased the estimate by up to 2×, and rates below
    1/buckets silently produced an empty sample; now at least one bucket
    always qualifies and the scale factor matches the filter exactly)."""
    k = max(1, round(rate * buckets))
    p = k / buckets
    b = hash_bucket(null_safe_key(key), buckets, hex_chars=8)
    s = df.filter(b < k).select(F.col(value_col).alias("v"))
    n = F.count(F.lit(1)).cast("long")
    # Bernoulli-sampling variance of the scaled sum: Var = (1-p)/p² · Σv²
    # (NOT n·var(v)/p² — central variance drops the count-variation term
    # through mean², understating the CI by >2× on positive-valued sums)
    se = F.sqrt(F.lit(1.0 - p) * F.sum(F.col("v") * F.col("v"))) / p
    return s.agg(
        n.alias("n_sampled"),
        (F.sum("v") / p).alias("sum_est"),
        (F.sum("v") / p - 1.96 * se).alias("ci_low"),
        (F.sum("v") / p + 1.96 * se).alias("ci_high"),
        (n / p).cast("long").alias("count_est"),
    )


def shuffle_shards(
    df: DataFrame,
    key: str,
    n_shards: int = 64,
    seed: str = "s0",
) -> DataFrame:
    """Deterministic global training-order shuffle, sharded — the
    data-ordering step every pre-training run needs (examples must arrive
    in a fixed pseudo-random order, reproducible across re-runs and
    engines) WITHOUT the global sort a naive ``ORDER BY rand()`` implies.

    Each row gets ``shard = md5-bucket(seed||key)`` and ``pos`` = its rank
    within the shard under the md5 hex ordering (a second, independent
    digest — ``'o:'`` domain-separated so position is not a function of
    shard). A trainer streams shard files in shard order (or round-robins
    them across data-parallel workers); (shard, pos) is a total order.

    Scale shape: assignment is map-only; ranking is a window partitioned
    by shard — ``n_shards`` independent sorts that parallelize across the
    cluster (pick n_shards ≥ cores; at 100 TB, thousands), never one
    global ordering task. Changing ``seed`` is a fresh permutation for the
    next epoch. Deterministic md5 keys keep the full output — order
    included — oracle-hashable, the same doctrine as ``hash_split``.

    NULL keys coalesce to the same sentinel ``hash_split`` uses (r06
    advice): without it ``concat`` nulls out the digest and NULL-key rows
    got NULL (shard, pos) — silently breaking the documented total-order
    contract. ONE NULL-key row lands in a deterministic shard slot; the
    key must otherwise be unique (and a literal ``'__null_key__'`` key,
    which shares the sentinel digest, still orders deterministically —
    NULL sorts first in the key tie-break). A second NULL-key row or any
    duplicate key ties the full ranking tuple, which ``row_number`` would
    break nondeterministically — the embedded zero-cost tie assert raises
    instead (r07 advice)."""
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    clash = {"shard", "pos", "__ok"} & set(df.columns)
    if clash:
        # 'shard'/'pos' are plausible REAL column names — silently
        # overwriting them hands downstream consumers shuffle ranks where
        # they expected their own data (r08 review); refuse instead
        raise ValueError(f"shuffle_shards: input already has {sorted(clash)}")
    k = null_safe_key(key)
    shard = hash_bucket(F.concat(F.lit(f"{seed}:"), k), n_shards, hex_chars=8)
    order_key = F.md5(F.concat(F.lit(f"{seed}:o:"), k).cast("binary"))
    w = Window.partitionBy("shard").orderBy(
        F.col("__ok").asc(), F.col(key).asc_nulls_first()
    )
    out = (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("__ok", order_key)
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )
    out = assert_no_order_tie(
        out, w, [F.col("__ok"), F.col(key)], "shuffle_shards"
    )
    return out.drop("__ok")


def quota_sample(
    df: DataFrame,
    stratum_col: str,
    weights: dict[str, float],
    total: int,
    key: str,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """EXACT-count stratified selection via largest-remainder (Hamilton)
    apportionment — the "build me a 10B-token corpus that is 40% English,
    18% German, ..." primitive. Rate-based mixing
    (``rate_sample_by_stratum``) realizes each stratum's share only in
    expectation; training-mixture specs are usually exact budgets, so this
    operator allocates INTEGER per-stratum quotas that sum to ``total``:

      quota_f = weight / sum(weights) * total
      base    = floor(quota_f) of the UNROUNDED quota — rounding quota_f
                first could round UP across an integer boundary and make
                sum(base) exceed the budget (r07 advice: the overshoot
                broke the exact-``total`` promise). Only the fractional
                remainder used for RANKING is rounded (6 dp), which keeps
                the apportionment engine-reproducible: a last-ulp flip at
                an integer boundary moves one unit between base and
                leftover, and the ≈1.0-rounded remainder ranks first and
                hands that unit straight back — the final allocation is
                invariant. The leftover is additionally clamped at 0.
      leftover ``max(0, total - sum(base))`` units go to the largest
                fractional remainders (ties: stratum asc) — the Hamilton
                method, which never violates quota by > 1.

    Each stratum then keeps its ``min(quota, stratum_size)`` rows with the
    smallest ``md5(seed || key)`` digests (ties: key asc) — the same pure
    key-function doctrine as ``hash_split``/``shuffle_shards``: the
    selected SET is deterministic, engine-portable (an oracle replays it),
    and insensitive to partition layout. ONE NULL key coalesces to the
    shared sentinel so it ranks deterministically instead of nulling the
    digest; a second NULL-key row or any duplicate key would tie the full
    ranking tuple and make the quota boundary nondeterministic — the
    embedded zero-cost tie assert raises instead (r07 advice).
    With ``order_col`` set, each stratum instead fills its quota with its
    HIGHEST-``order_col`` rows (NULLs last; ties: md5 digest, then key) —
    "meet the English share with the highest-quality documents", the
    quality-first mixture variant (the ``cap_per_group(keep='score')``
    doctrine applied to apportioned quotas). Still fully deterministic.

    A stratum smaller than its quota yields all its rows and the output
    falls short of ``total`` — quotas are NOT redistributed (redistribution
    makes one stratum's size leak into every other stratum's selection,
    breaking incremental reproducibility; callers chasing a hard total
    should rebalance weights over the surviving strata and re-run). Strata
    absent from ``weights`` are dropped. Symmetrically, a WEIGHTED stratum
    absent from the data contributes no base quota: its units inflate the
    leftover, which can hand each present stratum at most its one
    largest-remainder unit — the output again falls short of ``total``
    rather than silently reshaping the mix (same no-redistribution
    doctrine; rebalance and re-run).

    Scale shape: one hash agg for counts (|strata| rows — the global
    window over it is bounded by construction), a broadcast join to attach
    quotas, and one rank window PARTITIONED BY stratum — |strata|
    independent sorts, never a global ordering task. At 100 TB the rank
    window's sort is the only super-linear stage and it parallelizes
    per-stratum; a stratum too large to sort can pre-thin with
    ``rate_sample_by_stratum`` at a few× the target rate first.
    """
    from pyspark.sql.window import Window

    if total < 0:
        raise ValueError("quota_sample: total must be >= 0")
    if not weights:
        raise ValueError("quota_sample: weights must be non-empty")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("quota_sample: weights must sum > 0")
    clash = {"__stratum", "__ok", "__rk", "__quota"} & set(df.columns)
    if clash:
        # a caller's __stratum would be silently overwritten then dropped;
        # __quota would go ambiguous after the broadcast join (r08 review)
        raise ValueError(f"quota_sample: input already has {sorted(clash)}")
    spark = df.sparkSession
    from ..session import local_rows_df

    wdf = local_rows_df(
        spark,
        [(s, float(w)) for s, w in sorted(weights.items())],
        "__stratum string, __w double",
    )
    strat = F.col(stratum_col).cast("string")
    counts = df.groupBy(strat.alias("__stratum")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    quota_f = F.col("__w") * F.lit(float(total)) / F.lit(wsum)
    # global windows on the |strata|-row allocation frame only — bounded
    w_all = Window.partitionBy(F.lit(1)).orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rem = Window.partitionBy(F.lit(1)).orderBy(
        F.col("__frac").desc(), F.col("__stratum").asc()
    )
    alloc = (
        counts.join(F.broadcast(wdf), "__stratum")
        .withColumn("__qf", quota_f)
        # floor the UNROUNDED quota (rounding first could cross an integer
        # boundary and overshoot the budget); round only the ranking
        # remainder, clamp the leftover — see the Hamilton notes above
        .withColumn("__base", F.floor("__qf"))
        .withColumn("__frac", F.round(F.col("__qf") - F.col("__base"), 6))
        .withColumn(
            "__leftover",
            F.greatest(F.lit(0), F.lit(total) - F.sum("__base").over(w_all)),
        )
        .withColumn("__rr", F.row_number().over(w_rem))
        .withColumn(
            "__quota",
            F.least(
                F.col("__base")
                + F.when(F.col("__rr") <= F.col("__leftover"), 1).otherwise(0),
                F.col("__cnt"),
            ),
        )
        .select("__stratum", "__quota")
    )
    k = null_safe_key(key)
    order_key = F.md5(F.concat(F.lit(f"{seed}:q:"), k).cast("binary"))
    sel_order = [F.col("__ok").asc(), F.col(key).asc_nulls_first()]
    tie_cols = [F.col("__ok"), F.col(key)]
    if order_col is not None:
        sel_order = [F.col(order_col).desc_nulls_last(), *sel_order]
        tie_cols = [F.col(order_col), *tie_cols]
    w_sel = Window.partitionBy("__stratum").orderBy(*sel_order)
    out = (
        df.withColumn("__stratum", strat)
        .join(F.broadcast(alloc), "__stratum")
        .withColumn("__ok", order_key)
        .withColumn("__rk", F.row_number().over(w_sel))
    )
    out = assert_no_order_tie(out, w_sel, tie_cols, "quota_sample")
    return (
        out.filter(F.col("__rk") <= F.col("__quota"))
        .drop("__stratum", "__ok", "__rk", "__quota")
    )
