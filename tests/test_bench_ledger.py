"""bench.py ledger policy: plan-fingerprint-keyed floors (r10 VERDICT #2).

The cross-sweep per-query-min ledger is the bench headline, and before
r11 its floors were monotonically non-increasing across CODE changes —
a floor measured under an old plan kept vouching for a new one
(fuzzy_name_pairs swept at 114 s in the round its family changed; only
an out-of-band on-HEAD measurement could clear it). These tests pin the
fix: each floor is keyed to a normalized optimized-plan fingerprint and
resets when the fingerprint changes.
"""

from bench import plan_fingerprint, update_ledger


def _slice():
    return {"sweeps": 0, "queries": {}}


def test_update_ledger_new_entry_carries_fingerprint():
    sl = _slice()
    update_ledger(sl, {"q": 5.0}, {"q": "aaaa"})
    assert sl["sweeps"] == 1
    assert sl["queries"]["q"] == {"min": 5.0, "n": 1, "fp": "aaaa"}


def test_update_ledger_same_fingerprint_accumulates_min():
    sl = _slice()
    update_ledger(sl, {"q": 5.0}, {"q": "aaaa"})
    update_ledger(sl, {"q": 3.0}, {"q": "aaaa"})
    update_ledger(sl, {"q": 9.0}, {"q": "aaaa"})
    assert sl["queries"]["q"] == {"min": 3.0, "n": 3, "fp": "aaaa"}


def test_update_ledger_fingerprint_change_resets_floor():
    """The core r10 VERDICT #2 property: a code change (new plan) must
    let the floor REGRESS instead of remembering the old plan's wall."""
    sl = _slice()
    update_ledger(sl, {"q": 2.0}, {"q": "aaaa"})
    update_ledger(sl, {"q": 50.0}, {"q": "bbbb"})  # plan changed, slower
    assert sl["queries"]["q"] == {"min": 50.0, "n": 1, "fp": "bbbb"}


def test_update_ledger_legacy_entry_without_fp_resets_once():
    """Pre-r11 era entries carry no fingerprint; they must reset on the
    first fingerprinted sweep (a floor that cannot be tied to the
    current plan must not vouch for it), then accumulate normally."""
    sl = _slice()
    sl["queries"]["q"] = {"min": 1.0, "n": 12}
    update_ledger(sl, {"q": 4.0}, {"q": "aaaa"})
    assert sl["queries"]["q"] == {"min": 4.0, "n": 1, "fp": "aaaa"}
    update_ledger(sl, {"q": 3.5}, {"q": "aaaa"})
    assert sl["queries"]["q"] == {"min": 3.5, "n": 2, "fp": "aaaa"}


def test_update_ledger_unavailable_fingerprint_never_accumulates():
    sl = _slice()
    update_ledger(sl, {"q": 4.0}, {"q": "unavailable"})
    update_ledger(sl, {"q": 9.0}, {"q": "unavailable"})
    # conservative: no provable plan identity -> floor is just this sweep
    assert sl["queries"]["q"] == {"min": 9.0, "n": 1, "fp": "unavailable"}


def test_update_ledger_malformed_entries_reset_not_crash():
    sl = _slice()
    sl["queries"] = {
        "a": {"min": "x", "n": 2, "fp": "aaaa"},
        "b": {"min": True, "n": 2, "fp": "aaaa"},
        "c": {"min": 1.0, "n": True, "fp": "aaaa"},
        "d": "garbage",
        "e": {"min": 1.0, "n": 2, "fp": 7},
    }
    walls = {k: 5.0 for k in "abcde"}
    fps = {k: "aaaa" for k in "abcde"}
    update_ledger(sl, walls, fps)
    for k in "abcde":
        assert sl["queries"][k] == {"min": 5.0, "n": 1, "fp": "aaaa"}


def test_plan_fingerprint_stable_across_rebuilds_and_exprids(spark):
    """Two rebuilds of the same query get fresh expression ids (#123
    tokens differ); the normalized fingerprint must be identical.
    Building an unrelated frame in between shifts the id counter, which
    is exactly the session-varying noise the normalization strips."""
    def build():
        return (
            spark.range(100)
            .selectExpr("id", "id % 7 AS k")
            .groupBy("k")
            .count()
        )

    fp1 = plan_fingerprint(build())
    spark.range(1000).selectExpr("id * 2 AS x").count()  # shift exprId counter
    fp2 = plan_fingerprint(build())
    assert fp1 == fp2
    assert fp1 != "unavailable" and len(fp1) == 16


def test_plan_fingerprint_distinguishes_different_plans(spark):
    a = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    b = spark.range(100).selectExpr("id % 8 AS k").groupBy("k").count()
    assert plan_fingerprint(a) != plan_fingerprint(b)


def test_plan_fingerprint_stable_for_multi_distinct_aggregates(spark, sf_dir):
    """Pins the observed r11 flap: Spark's RewriteDistinctAggregates
    assigns gid slots in a run-varying order for multi-distinct
    aggregates, permuting Expand projections / FILTER(gid=..) pairings
    within plan lines between otherwise-identical builds. The per-line
    sorted-token canonicalization must make rebuilds agree."""
    from pyspark_weather_forecasting_gsod_spark.plans import queries as Q

    fn = Q()["cohort_retention"]
    fps = {plan_fingerprint(fn(spark, sf_dir)) for _ in range(6)}
    assert len(fps) == 1, fps


def test_plan_fingerprint_line_order_still_distinguishes(spark):
    """The per-line token sort must NOT erase structural differences:
    the same operators stacked in a different order (filter above vs
    below the aggregate) are different plans."""
    base = spark.range(1000).selectExpr("id", "id % 10 AS k")
    early = base.filter("k < 5").groupBy("k").count()
    late = base.groupBy("k").count().filter("k < 5")
    # Catalyst may or may not collapse these to the same plan; assert on
    # the actual plan strings rather than the construction order.
    sa = early._jdf.queryExecution().optimizedPlan().toString()
    sb = late._jdf.queryExecution().optimizedPlan().toString()
    import re

    same_text = re.sub(r"#\d+", "#", sa) == re.sub(r"#\d+", "#", sb)
    if same_text:
        assert plan_fingerprint(early) == plan_fingerprint(late)
    else:
        assert plan_fingerprint(early) != plan_fingerprint(late)


def test_query_fingerprint_resets_on_source_change(spark):
    """r11: materialized-result queries (localCheckpoint-rooted) present a
    LogicalRDD plan whose normalized string never changes with upstream
    code; the combined plan x source fingerprint must still differ when
    the query function's source differs, stay stable for identical calls,
    and pass 'unavailable' through untouched."""
    from bench import plan_fingerprint, query_fingerprint

    df = spark.range(3).localCheckpoint(eager=True)
    df2 = spark.range(3).localCheckpoint(eager=True)
    # the blind spot: two materialized frames share a plan fingerprint
    assert plan_fingerprint(df) == plan_fingerprint(df2)

    def q_v1(s, d):
        return s.range(3).localCheckpoint(eager=True)

    def q_v2(s, d):
        return s.range(3).filter("id >= 0").localCheckpoint(eager=True)

    f1a = query_fingerprint(df, q_v1)
    f1b = query_fingerprint(df2, q_v1)
    f2 = query_fingerprint(df2, q_v2)
    assert f1a == f1b            # stable across rebuilds
    assert f1a != f2             # source change resets even behind ckpt
    assert f1a != "unavailable"


def test_query_fingerprint_closure_resets_on_library_edit(spark, monkeypatch):
    """r12 (r11 VERDICT #7): the fingerprint must cover the query's CODE
    CLOSURE — the engine modules its body imports, transitively — so an
    ext/-only edit resets a checkpoint-rooted query's floor even though
    neither the LogicalRDD plan nor the query function's own source
    changed. Simulated here by swapping the cached AST hash of
    ext.dedup (what a real edit would change) under a real declared
    query whose body imports it."""
    import bench
    from pyspark_weather_forecasting_gsod_spark.plans import queries as Q

    fn = Q()["neardup_clusters"]
    # stand-in for the query's materialized (LogicalRDD-rooted) result —
    # the regime where the plan fingerprint is blind
    df = spark.range(3).localCheckpoint(eager=True)
    base = bench.query_fingerprint(df, fn)
    assert base != "unavailable"
    dedup_mod = "pyspark_weather_forecasting_gsod_spark.ext.dedup"
    # the closure walk must actually have reached the dedup library
    assert bench._MODULE_AST_HASHES.get(dedup_mod) not in (None, "unavailable")
    # "edit" ext/dedup.py: same plan, same query source, new module AST
    monkeypatch.setitem(bench._MODULE_AST_HASHES, dedup_mod, "0" * 16)
    edited = bench.query_fingerprint(df, fn)
    assert edited != base
    # and the ledger resets the floor on that fingerprint change
    sl = {"sweeps": 0, "queries": {}}
    update_ledger(sl, {"neardup_clusters": 2.0}, {"neardup_clusters": base})
    update_ledger(sl, {"neardup_clusters": 50.0}, {"neardup_clusters": edited})
    assert sl["queries"]["neardup_clusters"] == {
        "min": 50.0, "n": 1, "fp": edited
    }


def test_closure_hash_covers_same_module_helpers(monkeypatch):
    """The query's defining module seeds its closure: ml_regression_metrics
    builds its input through the same-module helper _events_feature_frame,
    which no import in its body names, so an edit to plans/queries.py
    must still reset its floor."""
    import bench
    from pyspark_weather_forecasting_gsod_spark.plans import queries as Q

    fn = Q()["ml_regression_metrics"]
    base = bench._closure_hash(fn)
    assert base != "unavailable"
    monkeypatch.setitem(bench._MODULE_AST_HASHES, fn.__module__, "0" * 16)
    assert bench._closure_hash(fn) != base


def test_resolve_pkg_import_returns_every_engine_alias():
    """``import a, b`` contributes every engine module it names, not only
    the first; third-party names contribute none."""
    import ast

    from bench import _ENGINE_PKG, _resolve_pkg_import

    node = ast.parse(
        f"import {_ENGINE_PKG}.ext.dedup, os, {_ENGINE_PKG}.ext.similarity"
    ).body[0]
    assert _resolve_pkg_import(node, _ENGINE_PKG) == [
        f"{_ENGINE_PKG}.ext.dedup",
        f"{_ENGINE_PKG}.ext.similarity",
    ]
    assert _resolve_pkg_import(ast.parse("import os, json").body[0], _ENGINE_PKG) == []


def test_closure_hash_comment_blind(spark):
    """r11 ADVICE #3: comment-only differences must NOT reset floors —
    the hash is over the AST, not the raw source."""
    from bench import _closure_hash

    def q_a(s, d):
        return s.range(3)

    def q_b(s, d):
        # a comment that would have changed a raw-source hash
        return s.range(3)

    # same AST shape up to the function name — normalize by comparing a
    # rename-free pair: parse-level equality is what the hash sees
    import ast
    import textwrap
    import inspect

    ta = ast.dump(ast.parse(textwrap.dedent(inspect.getsource(q_a))))
    tb = ast.dump(ast.parse(textwrap.dedent(inspect.getsource(q_b))))
    assert ta.replace("q_a", "q_b") == tb  # comments invisible to the AST
    ha, hb = _closure_hash(q_a), _closure_hash(q_b)
    assert ha != "unavailable" and hb != "unavailable"


def test_query_fingerprint_unavailable_passthrough():
    from bench import query_fingerprint

    class _BadDF:  # no _jdf: plan_fingerprint returns 'unavailable'
        pass

    def q(s, d):
        return None

    assert query_fingerprint(_BadDF(), q) == "unavailable"
