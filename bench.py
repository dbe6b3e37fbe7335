"""Benchmark harness: runs the declared headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on) and
prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a noop-format write (full distributed
execution, no driver-side collect cost in the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import box  # noqa: E402
from pyspark_weather_forecasting_gsod_spark.plans import queries  # noqa: E402
from pyspark_weather_forecasting_gsod_spark.session import get_spark  # noqa: E402


def plan_fingerprint(df) -> str:
    """Stable hash of a DataFrame's optimized logical plan (r10 VERDICT
    #2): the ledger keys each per-query floor to this fingerprint and
    RESETS the floor when it changes, so the cross-sweep-min headline can
    regress when code does — previously the floor was monotonically
    non-increasing across code changes and silently vouched for plans
    that were never re-measured (r10's fuzzy_name_pairs swept at 114 s
    min-of-runs in the same round its family changed; only an on-HEAD
    ratio artifact could clear it).

    Session-varying tokens are normalized out (expression ids `#123`,
    JVM object addresses, plan ids, RDD numbers from localCheckpoint);
    what remains is the operator tree + expressions + data paths — the
    thing a code change actually alters. Computed on the already-built
    measured DataFrame, so it costs one plan analysis, zero execution.

    Lines are additionally canonicalized by sorting their whitespace
    tokens IN PLACE (line order preserved): Spark's
    RewriteDistinctAggregates assigns multi-distinct `gid` slots in a
    run-varying order (observed: cohort_retention's Expand projections
    and FILTER(gid=...) pairings permute between otherwise-identical
    builds), which is a pure within-line permutation of the same token
    multiset. Sorting per line makes the fingerprint blind to that
    while the preserved LINE sequence still catches structural changes
    (a filter hoisted past a join, an exchange added/removed, an
    expression rewritten) — the changes a floor reset exists for."""
    import hashlib
    import re

    try:
        s = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        try:
            s = df._jdf.queryExecution().logical().toString()
        except Exception:
            return "unavailable"
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"@[0-9a-fA-F]{6,}", "@", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\bRDD(\[| )\d+", r"RDD\g<1>", s)
    canon = "\n".join(
        " ".join(sorted(line.split())) for line in s.splitlines()
    )
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


#: package whose internal modules form a query's code closure
_ENGINE_PKG = "pyspark_weather_forecasting_gsod_spark"
#: module-name -> sha256-of-AST cache (one parse per module per process)
_MODULE_AST_HASHES: dict[str, str] = {}
#: module-name -> package-internal imports cache
_MODULE_PKG_IMPORTS: dict[str, list[str]] = {}


def _resolve_pkg_import(node, current_pkg: str) -> list[str]:
    """Map an ast.Import/ImportFrom node to the engine-package module
    names it imports — every one of ``import a, b`` — and to none for
    third-party modules or other nodes. Relative imports resolve against
    ``current_pkg`` (the importing module's package)."""
    import ast

    if isinstance(node, ast.ImportFrom):
        if node.level:
            parts = current_pkg.split(".")
            if node.level > len(parts):
                return []
            base = ".".join(parts[: len(parts) - node.level + 1])
            mod = f"{base}.{node.module}" if node.module else base
        else:
            mod = node.module or ""
        return [mod] if mod.startswith(_ENGINE_PKG) else []
    if isinstance(node, ast.Import):
        return [a.name for a in node.names if a.name.startswith(_ENGINE_PKG)]
    return []


def _module_ast_hash(modname: str) -> str:
    """sha256 of the module file's ast.dump — comment/formatting-blind
    (r11 ADVICE #3), code-change-sensitive."""
    import ast
    import hashlib
    import importlib

    cached = _MODULE_AST_HASHES.get(modname)
    if cached is not None:
        return cached
    try:
        mod = importlib.import_module(modname)
        path = getattr(mod, "__file__", None)
        with open(path) as f:
            tree = ast.parse(f.read())
        h = hashlib.sha256(ast.dump(tree).encode()).hexdigest()[:16]
        imports = []
        pkg = modname.rsplit(".", 1)[0] if "." in modname else modname
        for node in ast.walk(tree):
            imports.extend(_resolve_pkg_import(node, pkg))
        _MODULE_PKG_IMPORTS[modname] = imports
    except Exception:
        h = "unavailable"
        _MODULE_PKG_IMPORTS[modname] = []
    _MODULE_AST_HASHES[modname] = h
    return h


def _closure_hash(fn) -> str:
    """Hash of the query function's CODE CLOSURE: the ast.dump of its own
    source plus the AST hashes of every engine-package module reachable
    from it (its defining module, imports in the function body, and each
    module's own package-internal imports, transitively).

    Closes the r11 residual (OPTIMIZATION_r11.md item 12 hand-off, r11
    VERDICT #7): queries whose measured frame is localCheckpoint-rooted
    present an immutable LogicalRDD plan, and hashing only the query
    FUNCTION source still missed rewires inside the library operators the
    function calls (ext/dedup.py etc.). With the closure hashed, an
    ext/-only edit resets the floors of exactly the queries that import
    that module. AST-dump hashing (not raw source) keeps comment-only
    edits from resetting floors spuriously (r11 ADVICE #3)."""
    import ast
    import hashlib
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
        own = hashlib.sha256(ast.dump(ast.parse(src)).encode()).hexdigest()[:16]
        fn_tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        return "unavailable"
    own_mod = getattr(fn, "__module__", None) or _ENGINE_PKG
    pkg = own_mod.rsplit(".", 1)[0] if "." in own_mod else own_mod
    # the defining module seeds the closure: same-module helpers (and its
    # module-level imports) feed the query without appearing in its body
    seeds = [own_mod] if own_mod.startswith(_ENGINE_PKG) else []
    for node in ast.walk(fn_tree):
        seeds.extend(_resolve_pkg_import(node, pkg))
    seen: set[str] = set()
    frontier = list(seeds)
    while frontier:
        m = frontier.pop()
        if m in seen:
            continue
        seen.add(m)
        _module_ast_hash(m)  # populates _MODULE_PKG_IMPORTS[m]
        frontier.extend(_MODULE_PKG_IMPORTS.get(m, []))
    parts = [own] + sorted(f"{m}:{_MODULE_AST_HASHES[m]}" for m in seen)
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()[:16]


def query_fingerprint(df, fn) -> str:
    """Ledger key = plan fingerprint x query code-closure hash (r10
    VERDICT #2, r11, r12).

    The plan fingerprint alone has a blind spot the r11 optimization pass
    exposed: queries whose measured frame is a materialized result
    (``localCheckpoint``-rooted — the CC family, pagerank, the composite
    pipelines) present a LogicalRDD plan whose normalized string NEVER
    changes when the code upstream of the materialization does, so their
    floors silently min across code eras — exactly the staleness the r10
    VERDICT #2 fingerprint policy exists to prevent. r11 hashed the query
    function's raw source; r12 widens that to the function's CODE CLOSURE
    (AST of the function + every engine module it transitively imports,
    see ``_closure_hash``), so library-internal rewires behind a
    checkpoint reset floors too, and narrows it to be comment-blind. A
    spurious reset only forgets history, never vouches for anything."""
    import hashlib

    closure = _closure_hash(fn)
    plan = plan_fingerprint(df)
    if plan == "unavailable" or closure == "unavailable":
        # keep the never-accumulate semantics: a floor that cannot be
        # tied to the current plan+code must not vouch for it
        return "unavailable"
    return hashlib.sha256((plan + "\x00" + closure).encode()).hexdigest()[:16]


def update_ledger(
    sl: dict, timings: dict, fingerprints: dict
) -> None:
    """Fold one sweep's walls into an SF-scoped ledger slice IN PLACE.

    Floor policy (r10 VERDICT #2): each entry carries the plan
    fingerprint its floor was measured under. When this sweep's
    fingerprint differs — the query's optimized plan changed, i.e. code
    changed — the floor RESETS to this sweep's wall instead of min'ing
    against walls of a plan that no longer exists. Entries with no
    recorded fingerprint (pre-r11 ledger era, or a query whose plan was
    unavailable this sweep) also reset: a floor that cannot be tied to
    the current plan must not vouch for it. Malformed entries (hand
    edits, interrupted rewrites) reset rather than crash after the whole
    sweep ran (r08 review / r09 ADVICE #3)."""
    sl["sweeps"] += 1
    for name, wall in timings.items():
        q = sl["queries"].get(name)
        fp = fingerprints.get(name, "unavailable")
        if (
            not isinstance(q, dict)
            or not isinstance(q.get("min"), (int, float))
            or isinstance(q.get("min"), bool)  # bool passes the int check
            or not isinstance(q.get("n"), int)
            or isinstance(q.get("n"), bool)  # (r09 ADVICE #3)
            or not isinstance(q.get("fp"), str)
            or q.get("fp") != fp
            or fp == "unavailable"
        ):
            sl["queries"][name] = {"min": round(wall, 3), "n": 1, "fp": fp}
        else:
            q["min"] = round(min(q["min"], wall), 3)
            q["n"] += 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Size the session to the box by the benchmark's own rule
    # (perfbench/box.py): every core this process may run on, and a
    # quarter of RAM between 1 and 4 GiB for the single-JVM heap. Both are
    # overridable via env; a larger box can take a larger heap (a 178-query
    # sweep on a 128 GiB box read neardup_clusters 11.9 s at 8g vs 4.2 s at
    # 48g, from tenured garbage late in the sweep).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(box.cpus()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{box.heap_mib(box.mem_total_mib())}m")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark("gsod-engine-bench", master=f"local[{cpus}]")

    qs = queries()
    # Per-query: one warm-up execution (Janino codegen compilation of large
    # fold expressions costs seconds on first run), then one measured run —
    # steady-state throughput, the honest comparison against the oracle
    # engine's runtime. Training-style queries (ML fits, LSH model fits,
    # composite pipeline) are measured cold: their cost IS the fit.
    # a cold-only wall at or above this gets one cold retry (min kept):
    # every phantom regression the noise bursts produced was >= 2x a
    # normal wall, and normal cold walls here are 1-16 s
    COLD_RETRY_OVER_SEC = 20.0
    cold_only = {
        "ml_regression_metrics",
        "ml_classification_metrics",
        "ml_feature_pipeline",
        "gsod_pipeline_e2e",
        # NOT embedding_neardup (r11): since the r10 routing change its
        # auto route is the exact block matmul + exact recall companion —
        # deterministic, NO fitted state (the BRP/LSH fit that justified
        # cold measurement is no longer on the measured path), so it now
        # meets the same steady-state criteria as neardup_clusters below
        # (measured: 7.5 s cold-first vs 2.7 s steady)
        "ann_lsh_topk",
        "ivf_ann_topk",
        "streaming_tumbling",
        "semantic_dedup",  # KMeans fit + CC loop: the fit IS the cost
        "streaming_stream_join",  # stream executes on call; no codegen warm-up to buy
        "python_source_stream_agg",  # multi-batch stream drain on call
        "bpe_tokenizer",  # iterative merge-loop fit: the training IS the cost
        "pca_project_check",  # covariance fit + driver eigh on call
        "streaming_static_join",  # stream executes on call; no warm-up to buy
        "streaming_sketch_merge",  # multi-batch stream drain on call
        "ml_kfold_cv",  # k sequential fits: the training IS the cost
    }
    # NOT cold: neardup_clusters / neardup_keep_best / pagerank_orders.
    # These are deterministic iterative loops with NO fitted state — every
    # iteration re-executes in full on the measured run (each call builds a
    # fresh lineage; clearCache runs between queries), so a warm-up pass
    # buys only Janino codegen/JIT, exactly what warm-up exists to strip.
    # Leaving them cold made the r04 numbers order-dependent: whichever of
    # the neardup pair ran FIRST absorbed ~9 s of one-time shingle-regex
    # codegen (measured r05: clusters-first = 13.1/6.0 s, keep_best-first =
    # 15.1/5.5 s; warm steady state = 4.9 s) — the whole "regression" the
    # r04 verdict flagged was warm-up attribution, not the widen_for_fanout
    # change.
    # Code-path warm-ups for cold-measured training pipelines: a TINY
    # fixture run compiles the same generated classes (window frames,
    # imputer folds, MLlib fit paths) WITHOUT touching the measured data
    # or model — the measured run still executes every fit in full. This
    # removes the sweep-position dependence that produced two rounds of
    # phantom gsod regressions (r03 measured it late — after the ml_*
    # queries had warmed MLlib codegen — r04/r05 rotations moved it early;
    # cold-vs-warm delta is ~9 s of Janino/JIT, per the phase_* rows).
    def _warm_gsod(s):
        from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
            run_gsod_pipeline,
            weather_fixture,
        )

        run_gsod_pipeline(
            weather_fixture(s, n_stations=20, n_days=30),
            fast=True,
            with_classifier=False,
        )

    code_warmups = {"gsod_pipeline_e2e": _warm_gsod}

    # JVM-level warm-up (r09 VERDICT #8): the box's FIRST query in a fresh
    # JVM pays a 107-247 s spike (vs 15-30 s warm; BENCH_sf1 routes) —
    # classloading, Arrow/parquet init, codegen infrastructure, executor
    # thread spin-up. One UNMEASURED throwaway pass through a real parquet
    # scan + shuffle + noop write before the first measured query strips
    # that position-dependent tax from whichever query happens to run
    # first. Deliberately tiny and fixed so it adds ~seconds, not a sweep.
    try:
        from pyspark.sql import functions as _F

        _warm = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        (
            _warm.groupBy("n_regionkey")
            .agg(_F.count(_F.lit(1)).alias("c"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        pass  # warm-up is best-effort; never fail the sweep over it
    # Streaming-machinery warm-up (r11, same doctrine as the batch JVM
    # warm-up above): the FIRST streaming query in a fresh JVM pays the
    # one-time StreamExecution / state-store-provider / memory-sink /
    # Python-streaming-source class-loading (measured: python_source_
    # stream_agg 10.3 s cold-first vs 4.6 s after any tiny stream;
    # streaming_tumbling 1.4 s vs 9.6 s in the r10 sweep). One UNMEASURED
    # miniature stream at sf0.001 (file source + watermark agg) plus one
    # 2-batch Python-source stream strips that position-dependent tax;
    # each measured streaming query still executes its full stream drain
    # on the measured data with a fresh checkpoint.
    try:
        from pyspark_weather_forecasting_gsod_spark.sources.pyds import (
            run_python_source_stream,
        )
        from pyspark_weather_forecasting_gsod_spark.streaming.stream import (
            run_streaming_tumbling_append,
        )

        tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        if os.path.isdir(tiny):
            run_streaming_tumbling_append(spark, tiny)
        run_python_source_stream(spark, n_rows=8, rows_per_batch=4, n_users=2)
    except Exception:
        pass  # best-effort, as above
    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    for name, fn in qs.items():
        warm_wall = None
        if name in code_warmups:
            code_warmups[name](spark)
        elif name not in cold_only:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm_wall = time.time() - t0
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        # fingerprint AFTER the timed region (one plan re-analysis, zero
        # execution) so the measured methodology is unchanged
        fingerprints[name] = query_fingerprint(df, fn)
        # the warm-up executed the IDENTICAL full query; best-of-2 at zero
        # extra cost. This box shows sporadic multi-x slowdowns on random
        # queries per sweep (same code measured cms_join_estimate at 3.3 s
        # and 22.8 s an hour apart) — min-of-runs is the standard
        # steady-state estimator under external noise. The first (warm-up)
        # run still carries codegen cost, so it only wins when the
        # measured run caught a noise burst. BOTH walls are recorded
        # (r05 ADVICE): `queries` is the min estimator, `queries_first_run`
        # the codegen-inclusive first execution, so cross-round comparisons
        # can pick either estimator and per-query spread is visible.
        first_runs[name] = round(warm_wall if warm_wall is not None else wall, 3)
        if warm_wall is not None:
            wall = min(wall, warm_wall)
        elif wall >= COLD_RETRY_OVER_SEC:
            # cold-only queries used to get ONE shot, which is exactly where
            # the box's noise bursts became phantom regressions (r7: one
            # sweep recorded gsod_pipeline_e2e at 39.6 s, the next at
            # 15.7 s, same code). A burst-suspect cold wall gets ONE retry
            # and keeps the min — still a cold measurement (clearCache +
            # fresh lineage; fits/streams re-execute in full), bounded
            # extra cost because it only triggers on already-slow walls.
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            retry = time.time() - t0
            first_runs[name] = round(max(wall, retry), 3)
            wall = min(wall, retry)
        timings[name] = round(wall, 3)
        # Operators that persist intermediates (shingle arrays, featurized
        # frames) release them only while their own call is live; each bench
        # invocation is a fresh lineage, so leftovers accumulate across the
        # 90-query sweep and the eviction/GC churn taxed late queries 3-4x
        # (measured: minhash_neardup 4s isolated vs 14s late-in-sweep).
        # Clearing between queries restores the per-job memory a real
        # pipeline stage would have.
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # Rolling per-query min ledger (r07 VERDICT #5): this box's whole-sweep
    # environment spread is 15-20% (four same-code r07 sweeps: 316.7/312.1/
    # 260.2/299.2 s first-run totals), so ONE sweep's number is weather as
    # much as code. BASELINE.md's stated estimator — "per-query min across
    # sweeps is the honest steady-state signal" — is now emitted by the
    # bench itself: BENCH_LEDGER.json accumulates each query's minimum wall
    # across every sweep at the same SF (keyed by SF so an sf0.001 smoke
    # run can't pollute the sf0.1 ledger), and meta.rolling_min_total /
    # rolling_min_sweeps surface the cross-sweep floor next to the
    # headline. The ledger starts at r08 — it never mixes walls from
    # different methodology eras, and a code change that legitimately
    # slows a query still shows in `queries` (current sweep) even when
    # the ledger floor remembers the faster past.
    ledger_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LEDGER.json"
    )
    ledger: dict = {}
    if os.path.exists(ledger_path):
        try:
            with open(ledger_path) as f:
                ledger = json.load(f)
        except (json.JSONDecodeError, OSError):
            ledger = {}
    # valid-JSON-wrong-shape content (hand edit, interrupted rewrite) must
    # not crash AFTER the whole sweep ran (r08 review) — reset, don't raise
    if not isinstance(ledger, dict):
        ledger = {}
    sl = ledger.setdefault(str(sf_val), {"sweeps": 0, "queries": {}})
    if (
        not isinstance(sl, dict)
        or not isinstance(sl.get("queries"), dict)
        or not isinstance(sl.get("sweeps"), int)
    ):
        sl = ledger[str(sf_val)] = {"sweeps": 0, "queries": {}}
    update_ledger(sl, timings, fingerprints)
    with open(ledger_path, "w") as f:
        f.write(json.dumps(ledger, sort_keys=True) + "\n")
    rolling_min_total = round(
        sum(sl["queries"][n]["min"] for n in timings), 3
    )
    # Methodology metadata (r05 ADVICE): the estimator, run count, and heap
    # are part of the measurement — without them cross-round regression
    # comparisons silently compare different methodologies (the r05 warm-up
    # + min-estimator + 48g changes shifted numbers for non-code reasons).
    # The LEDGER FLOOR is the headline (r08 VERDICT #6): this box's
    # whole-sweep spread is 15-20%, so a single sweep's total is weather as
    # much as code and has repeatedly manufactured phantom regressions. The
    # cross-sweep per-query-min floor is the stated BASELINE.md estimator;
    # the current single sweep stays in meta.single_sweep_total (and the
    # full per-query map in `queries`) so a real slowdown still shows.
    meta = {
        "headline": "rolling_min_total (cross-sweep per-query-min floor; "
        "single sweep is weather — see single_sweep_total)",
        "rolling_min_total": rolling_min_total,
        "rolling_min_sweeps": sl["sweeps"],
        "single_sweep_total": total,
        "estimator": "min_of_runs",
        "runs_warm": 2,
        "runs_cold": "1 (+1 retry when the single cold wall >= "
        f"{COLD_RETRY_OVER_SEC:.0f}s — burst suspect)",
        "n_cold_only": len(cold_only),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "cpus": cpus,
        "first_run_total": round(sum(first_runs.values()), 3),
        "jvm_warmup": "one unmeasured nation-parquet agg + noop write, plus "
        "one miniature sf0.001 streaming pass + a 2-batch Python-source "
        "stream, before the first measured query (strips the fresh-JVM "
        "first-query spike and the first-stream class-loading tax; r09 "
        "VERDICT #8, extended r11)",
        "ledger_policy": "per-query floors keyed to a normalized "
        "optimized-plan fingerprint x query CODE-CLOSURE hash (r10 "
        "VERDICT #2; r11 added a query-source hash so materialized-"
        "result queries' LogicalRDD plans cannot pin a stale floor; r12 "
        "widened it to the AST of the query function PLUS every engine "
        "module it transitively imports — library-internal rewires "
        "behind a checkpoint now reset floors too — and made it "
        "comment-blind): a fingerprint change RESETS that query's floor "
        "to the current sweep's wall, so the rolling-min headline can "
        "regress when code does. Era boundaries (each resets every floor "
        "once, by the fingerprint-mismatch rule): r11 (source-hash era), "
        "r12 (AST-closure era).",
    }
    payload = {
        "metric": "rolling_min_total_wall",
        "value": rolling_min_total,
        "unit": "sec",
        # top-level sibling of `value` (r09 ADVICE #1): `value` is the
        # cross-sweep rolling-min floor and is monotonically non-increasing,
        # so regression tooling keying on `value` alone can never see a
        # slowdown — this sweep's actual total is promoted to the top level
        # for exactly that comparison.
        "single_sweep_total": total,
        "n_queries": len(timings),
        "queries": timings,
        "queries_first_run": first_runs,
        "meta": meta,
        "sf": sf_val,
    }
    # Persist the complete timing map so per-query regressions stay diffable
    # round over round (the driver's stdout capture is tail-limited).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_full.json"), "w") as f:
        f.write(json.dumps(payload) + "\n")
    # The driver keeps only the LAST 2000 chars of stdout (BENCH_r02.json:
    # "tail" len == 2000, "parsed": null because our 2810-char line lost its
    # head). Print a compact line that fits: keep the slowest queries (the
    # informative ones) and drop the fastest until the line fits the buffer.
    compact = dict(payload)
    del compact["queries_first_run"]  # full map lives in BENCH_full.json
    kept = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    while True:
        compact["queries"] = {k: kept[k] for k in sorted(kept)}
        compact["omitted_fast"] = len(timings) - len(kept)
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= 1900 or not kept:
            break
        kept.pop(min(kept, key=lambda k: kept[k]))
    print(line)


if __name__ == "__main__":
    main()
