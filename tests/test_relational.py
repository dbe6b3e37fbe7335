"""Top-k / mode primitives (reference A6/O1, ipynb:642-643)."""

from pyspark.sql import Row

from pyspark_weather_forecasting_gsod_spark.operators.profile import profile_categorical, profile_numeric
from pyspark_weather_forecasting_gsod_spark.operators.relational import mode_top1, top_k


def test_top_k_desc_with_tie_break(spark):
    df = spark.createDataFrame(
        [Row(k="x", n=5), Row(k="y", n=5), Row(k="z", n=3)]
    )
    got = [(r.k, r.n) for r in top_k(df, 2, by="n", tie_break="k").collect()]
    assert got == [("x", 5), ("y", 5)]


def test_mode_deterministic_tie_break(spark):
    # b and a both appear twice: tie breaks to the smaller value, every run
    df = spark.createDataFrame([Row(c=v) for v in ["b", "a", "b", "a", "z"]])
    got = mode_top1(df, "c").collect()
    assert [(r.c, r.cnt) for r in got] == [("a", 2)]


def test_profile_numeric_single_pass(spark):
    df = spark.createDataFrame([Row(v=1.0), Row(v=2.0), Row(v=3.0), Row(v=None)])
    row = profile_numeric(df, ["v"]).collect()[0]
    assert row.n_rows == 4
    assert row.mean_v == 2.0
    assert row.median_v == 2.0
    assert row.min_v == 1.0 and row.max_v == 3.0
    assert row.distinct_v == 3


def test_profile_numeric_scalable_median_path_matches_single_pass(spark):
    """Above the row threshold, profile_numeric swaps F.median for the
    bounded-memory scalable_exact_median — identical values, identical
    schema/column order, so the switch is invisible to consumers (and to
    the profile_lineitem oracle)."""
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    single = profile_numeric(li, cols, scalable_median_over=None).collect()[0]
    scal = profile_numeric(li, cols, scalable_median_over=10).collect()[0]
    s, c = single.asDict(), scal.asDict()
    assert list(s) == list(c)  # identical schema and column order
    for k in s:
        if k.startswith(("median_", "min_", "max_", "n_rows", "distinct_")):
            assert s[k] == c[k], k  # medians (and exact stats) match exactly
        else:
            # mean/stddev: dropping the median columns changes the physical
            # agg, so partial-sum order (and the last float bits) may differ
            assert abs(s[k] - c[k]) <= 1e-9 * max(abs(s[k]), 1.0), k


def test_profile_categorical(spark):
    df = spark.createDataFrame([Row(a="x", b="1"), Row(a="y", b="1")])
    row = profile_categorical(df, ["a", "b"]).collect()[0]
    assert row.distinct_a == 2 and row.distinct_b == 1


def test_scalable_exact_median_matches_builtin(spark):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import scalable_exact_median
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    exact = li.agg(F.median("l_extendedprice")).first()[0]
    # force the iterative narrowing path with a tiny max_exact
    got = scalable_exact_median(li, "l_extendedprice", eps=0.05, max_exact=500)
    assert got == exact


def test_scalable_exact_median_edge_cases(spark):
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import scalable_exact_median

    assert scalable_exact_median(
        spark.createDataFrame([Row(v=None)], "v double"), "v"
    ) is None
    assert scalable_exact_median(
        spark.createDataFrame([Row(v=3.0), Row(v=1.0)], "v double"), "v"
    ) == 2.0
    assert scalable_exact_median(
        spark.createDataFrame([Row(v=float(i)) for i in range(101)], "v double"), "v"
    ) == 50.0


def test_keep_latest_deterministic_winner(spark):
    from pyspark_weather_forecasting_gsod_spark.operators.relational import keep_latest

    df = spark.createDataFrame(
        [
            Row(k="a", ts=1, uid=10, v=1.0),
            Row(k="a", ts=3, uid=11, v=2.0),
            Row(k="a", ts=3, uid=12, v=3.0),  # ts tie → larger uid wins
            Row(k="b", ts=5, uid=13, v=4.0),
        ]
    )
    got = {
        (r.k, r.uid, r.v)
        for r in keep_latest(df, keys=["k"], order_by=["ts", "uid"]).collect()
    }
    assert got == {("a", 12, 3.0), ("b", 13, 4.0)}
    # non-key columns and schema pass through untouched (minus the helper)
    assert keep_latest(df, ["k"], ["ts", "uid"]).columns == ["k", "ts", "uid", "v"]


def test_hash_split_deterministic_and_stable(spark):
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import hash_split

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    a = {(r.k, r.split) for r in hash_split(df, "k").collect()}
    b = {(r.k, r.split) for r in hash_split(df, "k").collect()}
    assert a == b  # reproducible
    # stable under growth: the first 1000 rows keep their assignment
    grown = spark.range(0, 2000).withColumnRenamed("id", "k")
    g = {(r.k, r.split) for r in hash_split(grown, "k").collect() if r.k < 1000}
    assert g == a
    frac = sum(1 for _, s in a if s == "train") / len(a)
    assert 0.7 < frac < 0.9  # ~80% within hash-uniformity tolerance


def test_stratified_sample_seeded_and_sized(spark):
    from pyspark.sql import Row
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import stratified_sample

    rows = [Row(g="a", i=i) for i in range(1000)] + [Row(g="b", i=i) for i in range(100)]
    df = spark.createDataFrame(rows)
    s1 = stratified_sample(df, "g", {"a": 0.1, "b": 0.5}, seed=7).collect()
    s2 = stratified_sample(df, "g", {"a": 0.1, "b": 0.5}, seed=7).collect()
    assert {(r.g, r.i) for r in s1} == {(r.g, r.i) for r in s2}
    na = sum(1 for r in s1 if r.g == "a")
    nb = sum(1 for r in s1 if r.g == "b")
    assert 50 <= na <= 160 and 30 <= nb <= 70


def test_collect_strata_bounded_and_raises_over_cap(spark):
    """r08 VERDICT #3 minor: the strata collect behind sampleBy-style
    dicts must carry a cardinality contract — a bounded limit-probe that
    raises with the scale-path pointer, never an unbounded distinct on
    the driver."""
    import pytest
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.operators.sampling import collect_strata

    rows = [Row(g=f"s{i % 5}", i=i) for i in range(100)]
    df = spark.createDataFrame(rows)
    assert sorted(collect_strata(df, "g")) == [f"s{i}" for i in range(5)]
    with pytest.raises(ValueError, match="hash_bucket"):
        collect_strata(df, "i", max_strata=10)


def test_keep_latest_rejects_sentinel_column_collision(spark):
    import pytest

    from pyspark_weather_forecasting_gsod_spark.operators.relational import keep_latest

    df = spark.createDataFrame([Row(k=1, ts=1, __kl_rn=9)])
    with pytest.raises(ValueError, match="__kl_rn"):
        keep_latest(df, keys=["k"], order_by=["ts"])


def test_cap_per_group_hash_and_quality_modes(spark):
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [Row(id=i, g="a" if i % 2 == 0 else "b", score=float(i)) for i in range(40)]
    )
    capped = cap_per_group(df, "g", 5, id_col="id")
    per_g = {r.g for r in capped.collect()}
    assert capped.count() == 10 and per_g == {"a", "b"}
    # deterministic: identical subset on rerun
    again = cap_per_group(df, "g", 5, id_col="id")
    assert sorted(r.id for r in capped.collect()) == sorted(r.id for r in again.collect())
    # quality mode keeps the top-n by score
    best = cap_per_group(df, "g", 3, id_col="id", keep="score")
    assert sorted(r.id for r in best.filter("g = 'a'").collect()) == [34, 36, 38]

    import pytest
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="__cap_rn"):
        cap_per_group(df.withColumn("__cap_rn", F.lit(1)), "g", 5, id_col="id")


def test_r06_null_and_edge_guards(spark):
    """r06 review fixes across operator files, pinned in one place:
    quantile_bins gives NULL values a NULL bin (not bin 0); hash_split
    routes NULL keys to one deterministic side (not silently all-test);
    sampled_sum_estimate scales by the REALIZED bucket-quantized rate;
    range_join_within refuses tolerance 0 (div-by-zero → empty result);
    cms_table refuses fractional weights (silent truncation); k-fold CV
    keeps NULL-key rows (they fold together instead of vanishing)."""
    import pytest
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import quantile_bins
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import (
        hash_split,
        sampled_sum_estimate,
    )
    from pyspark_weather_forecasting_gsod_spark.operators.sketches import cms_table
    from pyspark_weather_forecasting_gsod_spark.operators.temporal import (
        range_join_within,
    )

    # quantile_bins: NULL value -> NULL bin
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)] + [(99, None)], "id long, v double"
    )
    bins = {r.id: r.bin for r in quantile_bins(df, "v", n_bins=4).collect()}
    assert bins[99] is None and bins[1] == 0 and bins[20] == 3

    # hash_split: NULL keys all land on ONE side, deterministically
    ndf = spark.createDataFrame(
        [(None,)] * 10 + [(str(i),) for i in range(50)], "k string"
    )
    split = hash_split(ndf, "k")
    null_sides = (
        split.filter("k IS NULL").select("split").distinct().collect()
    )
    assert len(null_sides) == 1
    again = hash_split(ndf, "k").filter("k IS NULL").select("split").distinct().collect()
    assert null_sides == again

    # sampled_sum_estimate: sub-1/buckets rate no longer yields an empty
    # sample; the scale matches the realized one-bucket probability
    small = spark.createDataFrame(
        [(str(i), 1.0) for i in range(2000)], "k string, v double"
    )
    est = sampled_sum_estimate(small, "k", "v", rate=1e-7, buckets=100).first()
    assert est["n_sampled"] > 0  # one bucket (p=1/100) always qualifies
    assert est["count_est"] == est["n_sampled"] * 100

    # range_join_within: tolerance 0 raises instead of returning empty
    ev = spark.createDataFrame(
        [Row(k=1, ts=__import__("datetime").datetime(2024, 1, 1))]
    )
    with pytest.raises(ValueError, match="tolerance_sec > 0"):
        range_join_within(ev, ev, "k", "ts", "ts", 0, [])

    # cms_table: fractional weights refused, integral accepted
    wdf = spark.createDataFrame([("a", 0.9), ("b", 1.5)], "k string, w double")
    with pytest.raises(ValueError, match="integral"):
        cms_table(wdf, "k", weight_col="w")
    idf = spark.createDataFrame([("a", 2), ("b", 3)], "k string, w int")
    total = sum(r["cell_count"] for r in cms_table(idf, "k", depth=1, width=4, weight_col="w").collect())
    assert total == 5


def test_kfold_cv_keeps_null_key_rows(spark):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ml.features import assemble_features
    from pyspark_weather_forecasting_gsod_spark.ml.models import kfold_cv_regression

    df = spark.createDataFrame(
        [(str(i) if i % 4 else None, float(i), float(2 * i)) for i in range(1, 81)],
        "k string, x double, y double",
    )
    feat = df.select("k", "y", F.array("x").cast("array<double>").alias("arr"))
    from pyspark.ml.functions import array_to_vector

    feat = feat.withColumn("features", array_to_vector("arr"))
    metrics = kfold_cv_regression(feat, "y", "k", k=4)
    assert sum(m["n_test"] for m in metrics) == 80  # no silently dropped rows


def test_quota_sample_hamilton_allocation_and_determinism(spark):
    """quota_sample: per-stratum counts equal the largest-remainder
    apportionment, short strata yield everything they have (no
    redistribution), selection is a pure key function (stable across
    calls), and NULL keys rank deterministically instead of vanishing."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.sampling import quota_sample

    rows = (
        [Row(k=i, s="a") for i in range(100)]
        + [Row(k=200 + i, s="b") for i in range(50)]
        + [Row(k=400 + i, s="c") for i in range(3)]  # smaller than its quota
        + [Row(k=500 + i, s="zz") for i in range(10)]  # absent from weights
    )
    df = spark.createDataFrame(rows)
    # weights: a .5, b .3, c .2 of total 21 -> qf 10.5 / 6.3 / 4.2,
    # base 10+6+4=20, leftover 1 -> 'a' (largest frac .5); c capped at 3
    out = quota_sample(df, "s", {"a": 0.5, "b": 0.3, "c": 0.2}, total=21, key="k")
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 11, "b": 6, "c": 3}
    # determinism: the exact same SET comes back on a fresh call
    sel1 = sorted(r["k"] for r in out.collect())
    sel2 = sorted(
        r["k"]
        for r in quota_sample(
            df, "s", {"a": 0.5, "b": 0.3, "c": 0.2}, total=21, key="k"
        ).collect()
    )
    assert sel1 == sel2
    # stability: adding rows to stratum 'zz' (unweighted) changes nothing
    more = df.union(spark.createDataFrame([Row(k=900 + i, s="zz") for i in range(5)]))
    sel3 = sorted(
        r["k"]
        for r in quota_sample(
            more, "s", {"a": 0.5, "b": 0.3, "c": 0.2}, total=21, key="k"
        ).collect()
    )
    assert sel3 == sel1

    # NULL keys: rank via the shared sentinel, output size unchanged
    withnull = spark.createDataFrame(
        [Row(k=None, s="a")] + [Row(k=i, s="a") for i in range(30)]
    )
    outn = quota_sample(withnull, "s", {"a": 1.0}, total=10, key="k")
    assert outn.count() == 10

    # a WEIGHTED stratum absent from the data: present strata gain at most
    # their one largest-remainder unit; the output falls short of total
    # rather than silently reshaping the mix
    absent = quota_sample(
        df, "s", {"a": 0.5, "ghost": 0.5}, total=100, key="k"
    )
    got_abs = {r["s"]: r["n"] for r in absent.groupBy("s").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert got_abs == {"a": 51}  # base floor(50.0)=50, +1 remainder unit

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        quota_sample(df, "s", {}, total=5, key="k")
    with pytest.raises(ValueError, match=">= 0"):
        quota_sample(df, "s", {"a": 1.0}, total=-1, key="k")


def test_property_quota_sample_hamilton_invariants(spark):
    """Property (hypothesis): for random strata populations, weights, and
    budgets, quota_sample satisfies the Hamilton apportionment contract —
    per-stratum take == min(apportioned quota, stratum size); apportioned
    quotas (pre-cap) sum exactly to the budget when every weighted
    stratum is present; quotas never deviate from the ideal share by
    more than 1 (Hamilton never violates quota); and the selected set is
    deterministic across calls."""
    import math

    from hypothesis import given, settings, strategies as st

    from pyspark_weather_forecasting_gsod_spark.operators.sampling import quota_sample

    pops = st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=40),
        min_size=2, max_size=4,
    )
    wts = st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False),
        min_size=2, max_size=4,
    )

    @settings(max_examples=6, deadline=None)
    @given(pops, wts, st.integers(min_value=0, max_value=60))
    def check(populations, weights, total):
        rows = []
        k = 0
        for s, n in sorted(populations.items()):
            for _ in range(n):
                rows.append((k, s))
                k += 1
        df = spark.createDataFrame(rows, "k long, s string")
        out = quota_sample(df, "s", weights, total=total, key="k")
        got = {
            r["s"]: r["n"]
            for r in out.groupBy("s").count().withColumnRenamed("count", "n").collect()
        }
        # replay Hamilton in pure Python (floor of the UNROUNDED quota +
        # 6dp-rounded ranking remainder + clamped leftover mirrors the
        # operator's r07 arithmetic exactly)
        wsum = sum(weights.values())
        present = sorted(set(populations) & set(weights))
        qf = {s: weights[s] * total / wsum for s in present}
        base = {s: math.floor(qf[s]) for s in present}
        leftover = max(0, total - sum(base.values()))
        order = sorted(present, key=lambda s: (-round(qf[s] - base[s], 6), s))
        quota = dict(base)
        for i, s in enumerate(order):
            if i < leftover:
                quota[s] += 1
        for s in present:
            want = min(quota[s], populations[s])
            assert got.get(s, 0) == want, (s, got, quota, populations, total)
        assert set(got) <= set(present)
        # quota property: pre-cap quotas within 1 of the ideal share
        for s in present:
            assert abs(quota[s] - qf[s]) < 1 + 1e-9
        # determinism
        again = sorted(r["k"] for r in quota_sample(
            df, "s", weights, total=total, key="k").collect())
        assert again == sorted(r["k"] for r in out.collect())

    check()


def test_deterministic_order_tie_guard(spark):
    """r07 advice: with >=2 NULL-key rows (one shared sentinel digest) or
    any duplicate key, the md5-rank total order has a tie and row_number
    would break it nondeterministically across partitionings —
    shuffle_shards and quota_sample must RAISE at execution instead of
    emitting a nondeterministic order. One NULL-key row stays legal, and
    a literal '__null_key__' key (which shares the sentinel digest)
    orders deterministically against the NULL via the key tie-break."""
    import pytest

    from pyspark_weather_forecasting_gsod_spark.operators.sampling import (
        quota_sample,
        shuffle_shards,
    )

    ok = spark.createDataFrame(
        [(None, "a")] + [(str(i), "a") for i in range(5)], "k string, s string"
    )
    assert shuffle_shards(ok, "k", n_shards=2).count() == 6
    assert quota_sample(ok, "s", {"a": 1.0}, total=4, key="k").count() == 4

    # the sentinel-collision case: deterministic, never raises
    collide = spark.createDataFrame(
        [(None, "a"), ("__null_key__", "a"), ("x", "a")], "k string, s string"
    )
    got = {
        (r["k"], r["pos"])
        for r in shuffle_shards(collide, "k", n_shards=1).collect()
    }
    assert len(got) == 3

    twonull = spark.createDataFrame(
        [(None, "a"), (None, "a"), ("x", "a")], "k string, s string"
    )
    with pytest.raises(Exception, match="ordering tie"):
        shuffle_shards(twonull, "k", n_shards=2).collect()
    with pytest.raises(Exception, match="ordering tie"):
        quota_sample(twonull, "s", {"a": 1.0}, total=2, key="k").collect()

    dupkey = spark.createDataFrame(
        [("7", "a"), ("7", "a"), ("1", "a")], "k string, s string"
    )
    with pytest.raises(Exception, match="ordering tie"):
        shuffle_shards(dupkey, "k", n_shards=2).collect()
    with pytest.raises(Exception, match="ordering tie"):
        quota_sample(dupkey, "s", {"a": 1.0}, total=2, key="k").collect()

    # order_col variant: distinct scores keep duplicate-free keys legal;
    # a full-tuple tie (same score, same key) still raises
    scored = spark.createDataFrame(
        [("7", "a", 1.0), ("7", "a", 1.0), ("1", "a", 2.0)],
        "k string, s string, score double",
    )
    with pytest.raises(Exception, match="ordering tie"):
        quota_sample(
            scored, "s", {"a": 1.0}, total=2, key="k", order_col="score"
        ).collect()

    # a caller's own __tie column must not be silently consumed
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="__tie"):
        shuffle_shards(ok.withColumn("__tie", F.lit(1)), "k", n_shards=2)


def test_quota_sample_quality_first_variant(spark):
    """order_col: each stratum's quota is filled with its highest-score
    rows (NULL scores last), quota counts unchanged from the md5 mode."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.sampling import quota_sample

    rows = (
        [Row(k=i, s="a", score=float(i)) for i in range(20)]
        + [Row(k=100 + i, s="b", score=float(i)) for i in range(10)]
        + [Row(k=200, s="a", score=None)]
    )
    df = spark.createDataFrame(rows)
    out = quota_sample(
        df, "s", {"a": 0.5, "b": 0.5}, total=8, key="k", order_col="score"
    )
    got = {r["s"]: sorted(x["k"] for x in out.collect() if x["s"] == r["s"])
           for r in out.select("s").distinct().collect()}
    # quotas: 4 each; 'a' keeps its top-4 scores (k=16..19), NULL never in
    assert got == {"a": [16, 17, 18, 19], "b": [106, 107, 108, 109]}
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 4, "b": 4}


def test_profile_numeric_default_counts_median_matches_in_agg(spark):
    """The r11 default regime computes medians from frequency-table order
    statistics cross-joined onto the profile row (the F.median value
    buffer never rides the multi-distinct Expand). Values must equal the
    legacy all-in-one-aggregate plan EXACTLY — same interpolation
    arithmetic as Percentile(0.5), not just same-after-rounding."""
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    legacy = profile_numeric(li, cols, scalable_median_over=None).collect()[0]
    fast = profile_numeric(li, cols).collect()[0]
    s, c = legacy.asDict(), fast.asDict()
    assert list(s) == list(c)  # identical schema and column order
    for k in s:
        if k.startswith(("median_", "min_", "max_", "n_rows", "distinct_")):
            assert s[k] == c[k], k
        else:
            assert abs(s[k] - c[k]) <= 1e-9 * max(abs(s[k]), 1.0), k


def test_exact_percentile_bounds_bit_exact_vs_builtin(spark):
    """exact_percentile_bounds must reproduce F.percentile BIT-exactly
    (two-sided weighted interpolation at p*(n-1) with the higher==lower
    short-circuit) — quantile_bins' boundary semantics ride on it."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import (
        exact_percentile_bounds,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    probs = [i / 10 for i in range(1, 10)]
    builtin = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(%s))"
            % ", ".join(f"{p!r}D" for p in probs)
        )
    ).first()[0]
    got = exact_percentile_bounds(li, "l_extendedprice", probs).first()[0]
    assert got == builtin  # exact float equality, all nine boundaries


def test_exact_percentile_bounds_null_and_empty(spark):
    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import (
        exact_median_frame,
        exact_percentile_bounds,
    )

    empty = spark.createDataFrame([], "v double")
    assert exact_percentile_bounds(empty, "v", [0.5]).first()[0] is None
    allnull = spark.createDataFrame([Row(v=None)], "v double")
    assert exact_percentile_bounds(allnull, "v", [0.5]).first()[0] is None
    mixed = spark.createDataFrame(
        [Row(v=1.0), Row(v=None), Row(v=3.0), Row(v=2.0), Row(v=4.0)]
    )
    # n=4 non-null, pos=1.5 -> (2.0 + 3.0 interpolated at 0.5) = 2.5
    assert exact_median_frame(mixed, "v", "m").first()["m"] == 2.5


def test_exact_percentile_bounds_cardinality_guard(spark):
    """r12 (r11 VERDICT #2): the frequency-table path is bounded by
    |distinct|; a column whose distinct count exceeds ``max_distinct``
    must route to the Greenwald-Khanna boundary path (same one-row
    array<double> contract, rank error ≤ n/accuracy) instead of
    degenerating into the single-task O(n) cumulative window. Below the
    cap the exact path is unchanged (bit-exact vs F.percentile — pinned
    by the test above)."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import (
        exact_percentile_bounds,
    )

    n = 10_000
    hi_card = spark.range(n).select((F.col("id") * 1.0).alias("v"))
    probs = [0.25, 0.5, 0.75]
    # force the guard with a tiny cap: every value distinct > 100
    got = exact_percentile_bounds(
        hi_card, "v", probs, max_distinct=100, approx_accuracy=10_000
    ).first()[0]
    want = hi_card.agg(
        F.percentile_approx(
            F.col("v").cast("double"),
            F.array(*[F.lit(p) for p in probs]),
            F.lit(10_000),
        )
    ).first()[0]
    assert got == want  # the guard IS percentile_approx, value for value
    # GK rank error bound: accuracy 10k on 10k rows -> error <= 1 rank
    for p, g in zip(probs, got):
        assert abs(g - p * (n - 1)) <= 2.0
    # same data below the cap stays on the exact interpolated path
    exact = exact_percentile_bounds(
        hi_card, "v", probs, max_distinct=n + 10
    ).first()[0]
    builtin = hi_card.agg(
        F.expr("percentile(v, array(0.25D, 0.5D, 0.75D))")
    ).first()[0]
    assert exact == builtin


def test_exact_percentile_bounds_reports_route(spark, caplog):
    """The switch to percentile_approx above ``max_distinct`` is reported:
    ``approx`` with the distinct count past a small cap, ``exact`` within
    the default cap, each read against the cap through the ``spark_graft``
    route record."""
    import logging

    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.quantiles import (
        exact_percentile_bounds,
    )

    vals = spark.range(500).select((F.col("id") * 1.0).alias("v"))

    def routes(**kw):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="spark_graft"):
            exact_percentile_bounds(vals, "v", [0.5], **kw).first()
        return [
            (r.operator, r.route, r.probes)
            for r in caplog.records
            if r.name == "spark_graft"
        ]

    assert routes(max_distinct=100) == [
        ("exact_percentile_bounds", "approx", {"distinct": (101, 100)})
    ]
    assert routes() == [
        ("exact_percentile_bounds", "exact", {"distinct": (500, 4_000_000)})
    ]
