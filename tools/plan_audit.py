"""Physical-plan audit: captures ``explain("formatted")`` for the headline
queries and checks each plan for the scale properties it is supposed to have
(pushdown, pruned ReadSchema, broadcast joins, top-k without full sort, wide
WholeStageCodegen spans, bounded shuffles). Writes PLANS.md.

Usage:  python tools/plan_audit.py [sf_dir]

This is the engineering loop the repo runs after every operator lands:
correctness via tools/check_oracle.py, then the plan via this audit — a plan
that scans extra columns, misses a broadcast, or full-sorts for a limit is a
bug at 100 TB even when the sf0.01 answer is right.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# query -> (required substrings, forbidden substrings, one-line rationale)
AUDITS: dict[str, tuple[list[str], list[str], str]] = {
    "projection_cast": (
        ["PushedFilters:", "GreaterThan(l_discount,0.05)"],
        ["SortMergeJoin"],
        "filter + projection must reach the parquet scan (no post-scan filtering of unpruned rows)",
    ),
    "q1_pricing_summary": (
        ["HashAggregate", "Exchange"],
        ["Sort "],
        "partial+final hash agg over one exchange; no sort anywhere. (Codegen spans aren't shown inside an un-executed AdaptiveSparkPlan; the `*` markers on projection_cast's non-AQE plan are the codegen evidence)",
    ),
    "revenue_by_nation": (
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],
        "all dimension edges broadcast — the fact table never shuffles for the joins",
    ),
    "top10_orders": (
        ["TakeOrderedAndProject"],
        [],
        "LIMIT k over ORDER BY plans a per-partition top-k merge, not a global sort",
    ),
    "impute_group_median_events": (
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],
        "group-median frame broadcasts back onto the fact table (the reference's collect+UDF, distributed)",
    ),
    "sentinel_census": (
        ["HashAggregate"],
        ["SortMergeJoin"],
        "whole-table null census in ONE aggregate pass (reference ran a scan per column)",
    ),
    "lead_labels_events": (
        ["Window", "Sort "],
        ["SortMergeJoin"],
        "single hash-partition on user_id + in-partition sort feeds the window — one shuffle total",
    ),
    "dedup_keep_latest": (
        ["Window", "row_number"],
        ["SortMergeJoin"],
        "keep-latest is row_number over one key shuffle; no self-join",
    ),
    "rollup_reuse_daily": (
        ["HashAggregate"],
        [],
        "daily derives from hourly partials — second agg reads the tiny intermediate, not raw events",
    ),
    "semi_join_customers": (
        ["LeftSemi"],
        [],
        "EXISTS compiles to a semi join (no fact duplication, no distinct afterwards)",
    ),
    "tfidf_exact_norms": (
        ["HashAggregate"],
        ["CartesianProduct"],
        "explode → two hash aggs + equi-join on term; n_docs scalar is a broadcast, never a cartesian row-multiply",
    ),
    "cosine_topk": (
        ["LocalTableScan"],
        ["CartesianProduct", "Exchange", "Join", "Window"],
        "exact top-k within the driver cap: two bounded Arrow fetches feed the in-process numpy kernel, so the plan is the local result — no join, no exchange, no rank window (past the cap the kernel keeps each Arrow batch's top-k in mapInArrow and one rank window finishes)",
    ),
    "bucketed_join_revenue": (
        ["SortMergeJoin"],
        ["Exchange", "BroadcastHashJoin", "CartesianProduct"],
        "bucketed+sorted tables make the fact-fact merge join AND the same-key aggregation run with ZERO Exchange nodes — the shuffle was paid once at write time",
    ),
    "fuzzy_name_pairs": (
        ["HashAggregate"],
        ["CartesianProduct"],
        "edit-distance candidates come from the rarest-first positional q-gram PREFIX equi-join (Ed-Join) — hot grams never enumerate quadratically; the one nested-loop join in the plan is the short-string cohort — broadcast, length-filtered, and limit-probe-guarded at max_short, the same bounded-BNLJ doctrine as the crossJoin summary attaches",
    ),
    "grouping_sets_revenue": (
        ["Expand", "HashAggregate"],
        ["Join", "Window", "CartesianProduct"],
        "custom grouping sets plan one Expand + partial/final hash agg over a single scan - N grains for one pass, no per-grain jobs",
    ),
    "event_transitions": (
        ["Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
        "one lead window on the user_id exchange + a |types|^2 hash agg; probability normalization windows over the bounded type-pair table, never the corpus",
    ),
    "funnel_paths_users": (
        ["HashAggregate"],
        ["Window", "Join", "CartesianProduct"],
        "path construction is ONE guarded hash aggregate (sorted-struct fold); funnel regex and purchase counts are projections on the path string - no window, no join, no state machine",
    ),
    "funnel_within_users": (
        ["Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
        "time-bounded funnel: k-1 running-max windows share ONE user_id exchange + sort (exact exists-chain semantics, no state machine), then a per-user hash agg; no join tree, no per-step job",
    ),
    "funnel_since_first_users": (
        ["Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
        "windowFunnel (bound='first') variant: identical plan shape — the recurrence propagates chain-START times through the same k-1 running-max windows over one exchange; semantics change, plan does not",
    ),
    "user_value_trend": (
        ["HashAggregate", "Exchange"],
        ["Window", "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
        "per-key OLS is ONE map-side-combinable hash agg of integer sufficient statistics — no window, no join, no per-group Python fit",
    ),
    "hard_negatives_topk": (
        ["LocalTableScan"],
        ["CartesianProduct", "Exchange", "Join", "Window"],
        "same kernel and placements as cosine_topk, the label mismatch deciding which pairs exist before any ranking: within the driver cap the plan is the local result",
    ),
    "quota_mix_docs": (
        ["BroadcastHashJoin", "Window"],
        ["SortMergeJoin", "CartesianProduct"],
        "|strata|-row quota frame broadcasts onto the corpus; the md5 rank window partitions by stratum — |strata| independent sorts, never a global ordering task (the rank bound is a per-stratum COLUMN, so no WindowGroupLimit — the filter applies post-window)",
    ),
    "token_stats": (
        ["Project", "Scan parquet"],
        ["Exchange", "Window", "Join"],
        "token counting + rolling hash are ONE codegen'd map-only projection — zero shuffles at any scale",
    ),
    "zorder_keys": (
        ["Project", "Scan parquet"],
        ["Exchange", "Join"],
        "Morton-key interleave is pure bit arithmetic inside whole-stage codegen — map-only, no shuffle",
    ),
    "sequence_packing": (
        ["Window", "Exchange"],
        ["Join", "SortMergeJoin"],
        "concatenate-and-chunk packing is one hash exchange on the shard key + per-partition sort — a single shuffle regardless of corpus size",
    ),
    "snapshot_diff_orders": (
        ["SortMergeJoin FullOuter"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "snapshot diff is exactly one full-outer shuffle join carrying (key, row-hash), never a nested-loop compare",
    ),
    "corpus_prep_pipeline": (
        ["LeftSemi", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin FullOuter"],
        "corpus prep fuses score→lang-ID→filter into the scan projection; dedup is one hash agg + semi join (broadcast at small rep-sets, AQE picks SMJ when the rep-set outgrows the driver)",
    ),
    "q3_shipping_priority": (
        ["PushedFilters:", "BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct"],
        "selective dim/date filters reach the scans, customer broadcasts, top-10 is a per-partition top-k merge — never a global sort",
    ),
    "q5_local_supplier_volume": (
        ["BroadcastHashJoin", "PushedFilters:"],
        ["CartesianProduct"],
        "6-table join: the lineitem⨝orders exchange is the only fact shuffle; customer/supplier/nation/region all broadcast",
    ),
    "top_terms_by_lang": (
        ["WindowGroupLimit", "HashAggregate"],
        ["Join"],
        "per-group top-k keeps only each partition's top rows before the sort (rank pushdown), after a two-level hash agg",
    ),
    "dup_span_stats": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "duplicated-span audit is hash aggs + an equi-join on the span key — never a document self-join",
    ),
    "label_centroids": (
        ["Generate", "HashAggregate"],
        ["Join"],
        "posexplode + partial map-side agg; the exchange carries (label, dim) partials, not vectors",
    ),
    "q19_discounted_revenue": (
        ["Or(And(EqualTo(p_brand,Brand#1)", "Or(And(GreaterThanOrEqual(l_quantity,10.0)"],
        ["CartesianProduct"],
        "the per-table halves of the OR-of-ANDs predicate each push down to their scan (part gets the brand/size disjunction, lineitem the quantity ranges)",
    ),
    "q12_shipmode_priority": (
        ["HashAggregate", "PushedFilters:"],
        ["CartesianProduct"],
        "CASE-inside-SUM tallies both priority buckets in ONE aggregation pass; the shipdate range reaches the lineitem scan",
    ),
    "q2_min_cost_supplier": (
        ["BroadcastHashJoin", "Window", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin"],
        "the correlated MIN is a window over one part-key shuffle (no second scan, no self-join); every dim edge broadcasts; top-100 is a per-partition top-k merge",
    ),
    "q4_order_priority": (
        ["LeftSemi", "PushedFilters:"],
        ["CartesianProduct"],
        "EXISTS with a correlated non-equi predicate compiles to a LEFT SEMI join with the range check as a residual; the orderdate window reaches the scan",
    ),
    "q8_market_share": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct"],
        "seven-table star: part/supplier/nation×2/region broadcast; the conditional-sum ratio is one aggregation pass",
    ),
    "q9_product_profit": (
        ["BroadcastHashJoin", "PushedFilters:"],
        ["CartesianProduct", "SortMergeJoin"],
        "LIKE-pruned part dim broadcasts; profit expression folds into the scan projection; lineitem⨝orders is the only exchange",
    ),
    "q11_important_parts": (
        ["ReusedExchange", "BroadcastExchange"],
        ["CartesianProduct"],
        "the HAVING threshold aggregates the SAME per-part subtree — ReuseExchange dedupes the shuffle so lineitem is scanned once; the 1-row scalar broadcasts",
    ),
    "q15_top_supplier": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "argmax via global window MAX over the post-aggregate rev view (supplier-cardinality, so the single-partition frame is safe) — lineitem scans once; supplier broadcasts",
    ),
    "q16_supplier_count": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
        "NOT IN compiles to a broadcast LEFT ANTI join; COUNT DISTINCT expands to a two-level partial aggregate on one grouping exchange",
    ),
    "q17_small_quantity_revenue": (
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "SortMergeJoin"],
        "the correlated AVG is a window over the brand-restricted join — one part-key shuffle, no decorrelation join, no second lineitem scan",
    ),
    "q20_excess_shippers": (
        ["LeftSemi", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "nested IN chain: the inner aggregate reduces to supplier keys before any dim join; the semi-join side is tiny and broadcasts",
    ),
    "q21_last_shipper": (
        ["LeftSemi", "LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "EXISTS/NOT-EXISTS self-joins are semi+anti hash joins on the SAME order key — inequality predicates ride as residuals, never a nested loop",
    ),
    "q22_idle_customers": (
        ["LeftAnti", "BroadcastHashJoin"],
        ["CartesianProduct"],
        "NOT EXISTS is an anti join against the date-pruned orders key projection; the average-balance scalar and nation dim broadcast",
    ),
    "contamination_check": (
        ["HashAggregate", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "contamination audit is explode → distinct → equi-join on the span key against the DISTINCT-reduced benchmark dictionary — never doc×doc",
    ),
    "embedding_quantize": (
        ["Project", "Scan parquet"],
        ["Exchange", "Join", "Generate"],
        "int8 quantization + error accounting are per-row array expressions fused into the scan — zero shuffles, zero explode, zero Python",
    ),
    "bm25_topk": (
        ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct"],
        "BM25 filters the token explode to the query vocabulary before aggregating; df and corpus stats are broadcast scalars; top-k never global-sorts",
    ),
    "dedup_strip_spans": (
        ["HashAggregate", "Generate", "LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "exact-substring removal is explode → span-dictionary hash agg → equi-join → anti-join of covered positions → per-doc reassembly; never doc×doc, never a regex scan",
    ),
    "lm_bigram_nll": (
        ["HashAggregate", "Generate", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "the bigram LM is two hash aggs; scoring joins per-doc bigrams to the model with the (vocab-sized) context table and V scalar broadcast",
    ),
    "cms_heavy_hitters": (
        ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "the depth×width sketch table broadcasts to the probe join; build is one in-row fan-out + map-side-combined agg; top-k never global-sorts",
    ),
    "embedding_covariance": (
        ["MapInPandas", "HashAggregate"],
        ["Generate", "CartesianProduct", "SortMergeJoin"],
        "covariance partials reduce per partition inside MapInPandas (BLAS X^T X) — the exchange carries |partitions|·d² scalars, never an exploded (row, i, j) stream",
    ),
    "pmi_collocations": (
        ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "PMI joins the pair table to broadcast unigram/total sides after the min-support filter; top-k is a per-partition top-k merge",
    ),
    "epoch_weighted_mix": (
        ["Generate"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"],
        "epoch fan-out is a pure map-side explode fused into the scan: zero shuffles, zero Python — adding 2.5 epochs of a source costs exactly the extra output rows",
    ),
    "bloom_prune_dedup": (
        ["md5", "Union"],
        ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "the bloom membership test is literal-mask JVM expressions on the map side (no Python, no join for the bloom-negative branch); only bloom-positive rows reach the exact-verify join",
    ),
    "quantile_bins_price": (
        ["HashAggregate", "BroadcastNestedLoopJoin", "Window"],
        ["SortMergeJoin", "Exchange rangepartitioning"],
        "equal-frequency binning without NTILE: boundaries come from a frequency-table percentile (hash agg on value, then a cumulative window over the |distinct|-bounded counts — r11, replacing the non-spillable O(n) percentile buffer), broadcast as a single row (the nested-loop join is 1-row × N — a broadcast attach, not a cartesian blowup); assignment is a map-only fold, so the DATA is never range-partitioned or globally sorted — the only Window sits on the distinct-value table",
    ),
    "attribution_last_touch": (
        ["Window", "Sort "],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
        "attribution is ONE window pass (hash exchange on user_id + in-partition sort) with carry-forward last-ignorenulls — never a purchase×click self-join",
    ),
    "weighted_sample_docs": (
        ["TakeOrderedAndProject"],
        ["Exchange hashpartitioning", "Window"],
        "A-Res weighted sampling plans per-partition top-k heaps (TakeOrderedAndProject) over a map-only scoring pass — no shuffle before the top-k merge",
    ),
    "nb_lang_classify": (
        ["BroadcastHashJoin LeftOuter BuildRight", "WindowGroupLimit"],
        [],
        "the vocab-sized NB model BROADCASTS onto the exploded (doc, word) stream (the fan-out side never shuffles for the scoring join) and the per-doc argmax plans WindowGroupLimit rank-1, not a full per-doc sort",
    ),
    "lang_id_confusion": (
        ["HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin"],
        "confusion cells are ONE classify-pass hash aggregate; precision/recall come from windows over the tiny cell table — no join anywhere",
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark_weather_forecasting_gsod_spark.plans.queries import queries
    from pyspark_weather_forecasting_gsod_spark.session import get_spark

    spark = get_spark("gsod-engine-plan-audit", master="local[4]")
    qs = queries()

    sections: list[str] = []
    failures: list[str] = []
    for name, (required, forbidden, why) in AUDITS.items():
        df = qs[name](spark, sf_dir)
        if "ReusedExchange" in required:
            # exchange reuse is an AQE-finalization decision: execute first so
            # the explain shows the plan that actually ran
            df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # same text explain() prints
            df._jdf.queryExecution(), "formatted"
        )
        checks = []
        for s in required:
            ok = s in plan
            checks.append(("+", s, ok))
            if not ok:
                failures.append(f"{name}: missing {s!r}")
        for s in forbidden:
            ok = s not in plan
            checks.append(("-", s, ok))
            if not ok:
                failures.append(f"{name}: contains forbidden {s!r}")
        # keep the operator-tree header of the plan (drop the verbose
        # per-node detail section) so PLANS.md stays readable
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+", "#N", tree)  # expr ids churn between runs
        marks = "\n".join(
            f"  {'OK ' if ok else 'FAIL'} {sign} `{s}`" for sign, s, ok in checks
        )
        sections.append(
            f"## {name}\n\n{why}.\n\n```\n{tree}\n```\n\nChecks "
            f"(`+` must appear, `-` must not):\n\n{marks}\n"
        )

    doc = (
        "# PLANS — physical-plan audit of the headline queries\n\n"
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` "
        "(plan shape is scale-factor-independent; expression ids normalized "
        "to `#N`). Each section states the scale property the plan must "
        "exhibit and shows the operator tree Catalyst/AQE actually produced.\n\n"
        + "\n".join(sections)
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(doc)

    print(f"PLANS.md written ({len(AUDITS)} plans)")
    if failures:
        print("FAILURES:")
        for f_ in failures:
            print(" ", f_)
        sys.exit(1)
    print("ALL PLAN CHECKS OK")


if __name__ == "__main__":
    main()
