"""Scale rehearsal at sf1 for the regime routers (r05 VERDICT ask #6).

The regime routers (``ngram_jaccard_pairs_auto``'s dense/prefix probes,
``bpe_train``'s 100k-vocab driver/distributed cutover, ``semantic_dedup``'s
giant-cell split guard) document crossover points that BENCH only ever
exercised at sf0.1. This tool synthesizes an sf1-scale corpus (10x sf0.1,
derived deterministically — no RNG) under ``.scratch/sf1``, runs the
router-bearing workloads there, records which regime each router picked and
how long each path took, and writes ``BENCH_sf1.json``.

Synthesis (rehearsal data, never used for correctness gates): each sf0.1
document/embedding is replicated 10x with remapped ids; replica k != 0 gets
a replica-tag token appended (documents) or a (1 + k*1e-3) element scale
(embeddings), so replicas are NEAR-duplicates — preserving the near-dup /
ANN structure the routed operators exist for — without being byte-identical.

Usage:  python tools/bench_sf1.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scratch", "sf1")
REPLICAS = 10


def synthesize(spark) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    n_docs = docs.count()
    n_emb = emb.count()
    reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("rep"))
    docs1 = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep").cast("long") * n_docs).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" rtag"), F.col("rep")))
            .alias("text"),
            "lang",
            "source",
            F.when(F.col("rep") == 0, F.col("n_chars"))
            .otherwise(F.col("n_chars") + 6)
            .alias("n_chars"),
        )
    )
    emb1 = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep").cast("long") * n_emb).alias("vec_id"),
            F.expr(
                "transform(embedding, x -> CAST(x * (1.0 + rep * 0.001) AS FLOAT))"
            ).alias("embedding"),
            "label",
        )
    )
    docs1.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1, "documents.parquet")
    )
    emb1.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1, "embeddings.parquet")
    )
    # r7: fact tables for the bucketed-join rehearsal — replica k remaps
    # every order key by k*keyspan on BOTH sides, so lineitem replica k
    # joins orders replica k and the join fan-out matches 10x reality
    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    keyspan = orders.agg(F.max("o_orderkey")).first()[0] + 1
    orders1 = orders.crossJoin(F.broadcast(reps)).withColumn(
        "o_orderkey",
        F.col("o_orderkey") + F.col("rep").cast("long") * F.lit(keyspan),
    ).drop("rep")
    li1 = li.crossJoin(F.broadcast(reps)).withColumn(
        "l_orderkey",
        F.col("l_orderkey") + F.col("rep").cast("long") * F.lit(keyspan),
    ).drop("rep")
    orders1.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1, "orders.parquet")
    )
    li1.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1, "lineitem.parquet")
    )
    synthesize_events(spark)


def synthesize_events(spark) -> None:
    """r8: events for the streaming-family rehearsal — replica k remaps
    event_id and user_id by k×span, so per-user stream shape (events per
    key, event-time density per key) is preserved while the KEY population
    — the thing streaming state actually scales with — grows 10×.
    Timestamps stay in the same 30-day window: 10× denser event time, the
    honest scale-up for watermark/window state. Read through load_table
    (ns→µs conversion), written as native timestamps; load_table's footer
    probe handles both generations."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    ev = load_table(spark, SRC, "events")
    user_span = ev.agg(F.max("user_id")).first()[0] + 1
    event_span = ev.agg(F.max("event_id")).first()[0] + 1
    reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("rep"))
    ev1 = (
        ev.crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") + F.col("rep").cast("long") * event_span).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("rep").cast("long") * user_span).alias(
                "user_id"
            ),
            "event_type",
            "value",
            "props",
        )
    )
    ev1.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1, "events.parquet")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.session import get_spark
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    from perfbench import box

    # the bench's box-sized defaults (bench.py, perfbench/box.py)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{box.heap_mib(box.mem_total_mib())}m")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(box.cpus()))
    spark = get_spark("gsod-engine-bench-sf1", master=f"local[{cpus}]")

    if "--rebuild" in sys.argv or not os.path.isdir(
        os.path.join(SF1, "documents.parquet")
    ):
        synthesize(spark)
    elif not os.path.isdir(os.path.join(SF1, "events.parquet")):
        # r8 migration: events joined the rehearsal corpus after the rest
        synthesize_events(spark)

    timings: dict[str, float | None] = {}
    routes: dict[str, str] = {}

    only = [a for a in sys.argv[1:] if not a.startswith("--")]

    def timed(name: str, fn) -> None:
        if only and name not in only:
            return
        print(f"[sf1] {name} ...", file=sys.stderr, flush=True)
        t0 = time.time()
        try:
            fn()
            timings[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — rehearsal records failures
            # null, not a numeric sentinel: a -1.0 in a walls map silently
            # poisons downstream aggregation (r10 VERDICT #6)
            timings[name] = None
            routes[name] = (
                routes.get(name, "") + f" ERROR: {type(exc).__name__}: {exc}"
            )[:400].strip()
        print(f"[sf1] {name} -> {timings[name]}s", file=sys.stderr, flush=True)
        spark.catalog.clearCache()
        # localCheckpoint blocks are freed by the ContextCleaner only after
        # the driver-side refs are GC'd; across a multi-query rehearsal in
        # one JVM they accumulate until a full-GC pause exceeds the 10 s
        # RPC timeout and the scheduler dies (observed r10 on a 48g heap: zipf pass
        # crashed with 'Cannot find endpoint: CoarseGrainedScheduler' after
        # two checkpoint-heavy queries). Nudge both collectors between
        # queries — cheap next to any rehearsal wall.
        import gc as _gc

        _gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — cleanup must never fail a run
            pass

    docs = load_table(spark, SF1, "documents")
    emb = load_table(spark, SF1, "embeddings")
    n_docs, n_emb = docs.count(), emb.count()

    # JVM warm-up (r09 VERDICT #8): the box's first query in a fresh JVM
    # pays a 107-247 s classload/codegen/thread-spin spike that lands on
    # whichever workload runs first (the r09 embedding_neardup 170.7 s row
    # carried it). One unmeasured agg + noop write strips it; subset
    # (--merge) re-measures are warm-position by construction too.
    (
        docs.limit(2000)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # --- router 1: ngram_jaccard_pairs_auto (dense vs prefix probes) ----
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs_auto,
        shingle_arrays,
    )

    if not only or "jaccard_auto" in only:  # r08: no probes in subset mode
        vocab_probe = (
            shingle_arrays(docs, "doc_id", "text", 3)
            .select(F.explode("shingles").alias("s"))
            .distinct()
            .limit(4097)
            .count()
        )
        routes["jaccard_auto"] = (
            f"corpus={n_docs} vocab_probe={'>4096' if vocab_probe > 4096 else vocab_probe}"
            f" -> {'prefix' if (n_docs > 200_000 or vocab_probe > 4096) else 'dense'}"
        )
        timed(
            "jaccard_auto",
            lambda: ngram_jaccard_pairs_auto(
                docs, "doc_id", "text", n=3, min_jaccard=0.8
            ).count(),
        )

    # --- router 2: bpe_train (driver loop vs distributed fold) ----------
    from pyspark_weather_forecasting_gsod_spark.ext.tokenizer import (
        bpe_train,
        word_symbol_table,
    )

    if not only or any(n.startswith("bpe_train") for n in only):
        vocab_rows = word_symbol_table(docs, "text").count()
        routes["bpe_train"] = (
            f"word_vocab={vocab_rows} -> "
            f"{'driver' if vocab_rows <= 100_000 else 'distributed'} (cutover 100k)"
        )
        timed("bpe_train_routed", lambda: bpe_train(docs, "text", num_merges=5))
        # force the OTHER regime on identical data: the crossover is
        # validated only if the routed side is not slower than the forced
        forced = (
            "bpe_train_forced_distributed"
            if vocab_rows <= 100_000
            else "bpe_train_forced_driver"
        )
        timed(
            forced,
            lambda: bpe_train(
                docs,
                "text",
                num_merges=5,
                max_driver_vocab=(1 if vocab_rows <= 100_000 else 10_000_000),
            ),
        )

    # --- router 3: semantic_dedup giant-cell guard ----------------------
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import semantic_dedup

    # (a) max_cell_rows below |corpus|/n_cells forces the split path but
    # leaves headroom above the replica-clump floor -> splits SUCCEED
    split_rows = max(1000, n_emb // 13)
    if not only or "semantic_dedup_split_path" in only:
        routes["semantic_dedup_split_path"] = (
            f"n_emb={n_emb} n_cells=8 max_cell_rows={split_rows}"
            " (forces recursive split; succeeds)"
        )
        timed(
            "semantic_dedup_split_path",
            lambda: semantic_dedup(
                emb, min_cosine=0.35, n_cells=8, max_cell_rows=split_rows
            ).count(),
        )
    # (b) max_cell_rows below what KMeans can achieve on this clumped
    # corpus -> the giant-cell guard must RAISE (loud, named cell) instead
    # of letting the |cell|^2 matmul OOM an executor; the raise is the
    # PASS condition here
    def guard_case():
        try:
            semantic_dedup(
                emb, min_cosine=0.35, n_cells=8, max_cell_rows=n_emb // 40,
                max_split_depth=1,
            ).count()
        except ValueError as exc:
            routes["semantic_dedup_guard_fires"] = f"raised as designed: {exc}"[:300]
            return
        raise AssertionError(
            "guard did not fire at max_cell_rows=" + str(n_emb // 40)  # noqa: ISC003
        )

    timed("semantic_dedup_guard_fires", guard_case)

    # --- bucketed/banded scale paths: declared doc/embedding queries ----
    from pyspark_weather_forecasting_gsod_spark.plans import queries

    qs = queries()
    for name in [
        "minhash_neardup",
        "simhash_fingerprints",
        # r9: the trio's last unmeasured member — BRP-LSH over 20k vectors
        # with the sampled-audit truth (r08 VERDICT #2 routing)
        "embedding_neardup",
        "ann_lsh_topk",
        "ivf_ann_topk",
        "embedding_neardup_blocked",
        "cdc_chunks_docs",
        "neardup_index_probe",
        "bpe_tokenizer",
        "ngram_containment_docs",
        "text_quality",
        # r8: the changed-code sampling queries — the zero-shuffle order-tie
        # assert rides the rank's own window sort, so 10x keys must show
        # ~10x-data scan cost and nothing else (no extra exchange)
        "quota_mix_docs",
        "shuffle_shards_docs",
    ]:
        timed(
            name,
            lambda n=name: qs[n](spark, SF1)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

    # --- CC family at scale (r06 VERDICT #4): the pointer-jumping and
    # deletion paths' asymptotic claims get the same measured evidence the
    # routers got — wall + propagation round count per query, plus the
    # routed-vs-forced-banded 1-NN edge build that feeds the deletion
    # query's best-match graph.
    from pyspark_weather_forecasting_gsod_spark.ext import dedup as _dedup

    def cc_query(name: str) -> None:
        qs[name](spark, SF1).write.format("noop").mode("overwrite").save()
        routes[name] = (
            routes.get(name, "") + f" cc_rounds={_dedup.LAST_CC_ROUNDS}"
        ).strip()

    for name in [
        "neardup_clusters",
        "neardup_keep_best",
        "neardup_clusters_incremental",
        "neardup_clusters_deletion",
    ]:
        timed(name, lambda n=name: cc_query(n))

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import ngram_best_match

    half = docs.filter(F.col("doc_id") % 2 == 0)
    n_half = half.count()
    routes["ngram_best_match"] = (
        f"n_docs={n_half} -> "
        f"{'exact' if n_half <= 20_000 else 'banded'} (cutover 20k)"
    )
    timed(
        "ngram_best_match_routed",
        lambda: ngram_best_match(half, "doc_id", "text", n=2).count(),
    )
    timed(
        "ngram_best_match_forced_banded",
        lambda: ngram_best_match(
            half, "doc_id", "text", n=2, force="banded"
        ).count(),
    )
    # r9: the tiered exact regime on the identical slice — exact 1-NN by
    # construction (unlike banded, which is recall-lossy), so a wall at or
    # below the banded row makes tiered strictly dominant on this corpus
    if not only or "ngram_best_match_tiered" in only:
        routes["ngram_best_match_tiered"] = (
            f"n_docs={n_half} exact-by-construction (auto-routed tier-1 "
            "pairs + unmatched-only remainder); compare the banded row — "
            "lossy — and the r08 348.6s full-exact deletion pin"
        )
    timed(
        "ngram_best_match_tiered",
        lambda: ngram_best_match(
            half, "doc_id", "text", n=2, force="tiered"
        ).count(),
    )

    # --- r10: tiered vs exact on a MOSTLY-UNIQUE (Zipf-like) corpus ------
    # (r09 VERDICT #5). The tiered regime's cost is linear in the tier-2
    # (unmatched) population; on the clumped replica corpus above that
    # population is tiny, but a mostly-unique corpus is the adversarial
    # case: tier-1 finds ~nothing and tier-2 == the whole corpus, so
    # tiered degenerates to exact + the tier-1 pass. Synthesis (no RNG):
    # 5x the base sf0.1 docs, each copy's text interleaved with a
    # doc-UNIQUE token after every 2nd word — pairwise Jaccard is capped
    # ~1/3 (< tier_jaccard 0.5) because half of every doc's shingles are
    # unique to it, while the PRESERVED original word-bigrams keep
    # postings hot (the Zipf property that makes the exact join
    # expensive; fully-disjoint shingle sets would make it trivially
    # cheap and prove nothing).
    _zipf_names = {"zipf_tiered", "zipf_banded", "zipf_exact"}
    if not only or _zipf_names & set(only):
        zipf_path = os.path.join(SF1, "documents_zipf.parquet")
        if not os.path.isdir(zipf_path):
            base = load_table(spark, SRC, "documents")
            n_base = base.count()
            reps5 = spark.range(5).select(F.col("id").cast("int").alias("rep"))
            (
                base.crossJoin(F.broadcast(reps5))
                .select(
                    (F.col("doc_id") + F.col("rep").cast("long") * n_base).alias(
                        "doc_id"
                    ),
                    "text",
                    "rep",
                )
                .select(
                    "doc_id",
                    F.expr(
                        r"regexp_replace(text, '(\\S+ \\S+) ', "
                        r"concat('$1 zd', CAST(doc_id AS STRING), 'zx '))"
                    ).alias("text"),
                )
                .repartition(32)
                .write.mode("overwrite")
                .parquet(zipf_path)
            )
        zipf = spark.read.parquet(zipf_path)
        n_zipf = zipf.count()
        t1_probe = ngram_jaccard_pairs_auto(
            zipf, "doc_id", "text", n=2, min_jaccard=0.5
        )
        n_t1_docs = (
            t1_probe.select(F.col("doc_a").alias("doc_id"))
            .unionAll(t1_probe.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .count()
        )
        routes["zipf_corpus"] = (
            f"n_docs={n_zipf} tier1_matched_docs={n_t1_docs} "
            f"tier2_population={n_zipf - n_t1_docs} — the adversarial "
            "mostly-unique case. r10 first-pass measured tier 2's "
            "directed enumeration at 798 s vs plain exact 209 s (2·uf·E "
            "as predicted), so 'tiered' now self-routes: above 50% "
            "unmatched it re-runs the plain undirected enumeration "
            "(identical exact output) — its wall should land at ~exact + "
            "the tier-1 pass; banded is the only sublinear regime here "
            "and is recall-lossy by design"
        )
        timed(
            "zipf_exact",
            lambda: ngram_best_match(
                zipf, "doc_id", "text", n=2, force="exact"
            ).count(),
        )
        timed(
            "zipf_tiered",
            lambda: ngram_best_match(
                zipf, "doc_id", "text", n=2, force="tiered"
            ).count(),
        )
        timed(
            "zipf_banded",
            lambda: ngram_best_match(
                zipf, "doc_id", "text", n=2, force="banded"
            ).count(),
        )

    # --- r12: AllPairs size filter on a SKEWED-LENGTH corpus -------------
    # (r11 VERDICT #8). The replica corpus is equal-sized by construction,
    # so the length filter (J >= t forces t·|A| <= |B| <= |A|/t) can prune
    # nothing there; this fixture is the regime it exists for: each base
    # doc appears as full text + 1/2, 1/4, 1/8 truncations (truncations
    # share the head's rare shingles with the full doc -> prefix-join
    # candidates — but deep truncations provably fail the threshold on
    # size ratio alone). Measured: candidate count with vs without the
    # filter, and the wall of the filtered prefix join.
    if not only or "prefix_skewed_sizefilter" in only:
        from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
            ngram_jaccard_pairs_prefix,
            word_shingles,
        )
        from pyspark.sql import Window as _W

        skew_path = os.path.join(SF1, "documents_skewed.parquet")
        if not os.path.isdir(skew_path):
            base = load_table(spark, SRC, "documents")
            n_base = base.count()
            fracs = spark.createDataFrame(
                [(0, 1), (1, 2), (2, 4), (3, 8)], "rep int, frac int"
            )
            words = F.split(F.regexp_replace(F.trim("text"), r"\s+", " "), " ")
            (
                base.crossJoin(F.broadcast(fracs))
                .select(
                    (F.col("doc_id") + F.col("rep").cast("long") * n_base).alias(
                        "doc_id"
                    ),
                    F.array_join(
                        F.slice(
                            words,
                            1,
                            F.greatest(
                                F.lit(4), (F.size(words) / F.col("frac")).cast("int")
                            ),
                        ),
                        " ",
                    ).alias("text"),
                )
                .repartition(32)
                .write.mode("overwrite")
                .parquet(skew_path)
            )
        skew = spark.read.parquet(skew_path)
        n_skew = skew.count()
        # candidate-set sizes under the identical prefix construction,
        # with and without the length predicate (the thing the filter
        # actually reduces — the verify join's input)
        t = 0.5
        sh = word_shingles(skew, "doc_id", "text", 2)
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        wrk = _W.partitionBy("doc_id").orderBy("__df", "shingle")
        wsz = _W.partitionBy("doc_id")
        ranked = (
            sh.join(freq, "shingle")
            .withColumn("__rk", F.row_number().over(wrk))
            .withColumn("__sz", F.count(F.lit(1)).over(wsz))
        )
        prefix = ranked.filter(
            F.col("__rk") <= F.col("__sz") - F.ceil(F.col("__sz") * t - 1e-9) + 1
        ).select("doc_id", "shingle", "__sz").localCheckpoint(eager=True)
        pa = prefix.select(
            F.col("doc_id").alias("a"), "shingle", F.col("__sz").alias("sza")
        )
        pb = prefix.select(
            F.col("doc_id").alias("b"), "shingle", F.col("__sz").alias("szb")
        )
        raw_cand = pa.join(pb, "shingle").filter(F.col("a") < F.col("b"))
        n_cand_all = raw_cand.select("a", "b").distinct().count()
        n_cand_flt = (
            raw_cand.filter(
                (F.col("szb").cast("double") >= F.col("sza") * t - 1e-9)
                & (F.col("sza").cast("double") >= F.col("szb") * t - 1e-9)
            )
            .select("a", "b")
            .distinct()
            .count()
        )
        out_counts = {}
        timed(
            "prefix_skewed_sizefilter",
            lambda: out_counts.__setitem__(
                "flt",
                ngram_jaccard_pairs_prefix(
                    skew, "doc_id", "text", n=2, min_jaccard=t
                ).count(),
            ),
        )
        routes["prefix_skewed_sizefilter"] = (
            f"n_docs={n_skew} candidates {n_cand_all} -> {n_cand_flt} "
            f"({(1 - n_cand_flt / max(1, n_cand_all)) * 100:.0f}% pruned by "
            f"the length filter); {out_counts.get('flt')} output rows"
        )

    # --- r8: streaming family at 10x (r07 VERDICT #7) --------------------
    # the one query family with no scale evidence. streaming_stream_join is
    # the 5th most expensive sf0.1 query and its cost is CLAIMED to be
    # trigger/checkpoint latency, not data volume — at 10x the key
    # population (events replicated by remapped user_id/event_id, same
    # 30-day event-time window) a data-volume-bound query would grow ~10x;
    # a trigger-bound one stays near-flat. Wall + the sf0.1 wall ratio is
    # the regime note.
    _streaming_names = [
        "streaming_stream_join",
        "streaming_session_windows",
        "streaming_tumbling",
        "streaming_stateful_totals",
        # batch, but events-shaped: the r08 time-bounded funnel — one
        # user_id exchange + k-1 running-max scans should scale ~with
        # data volume, no state/trigger axis
        "funnel_within_users",
    ]
    # guard the block in `only` mode (r08 review): the 1M-row count and
    # the routes[...] stamps must not run — or overwrite fresh-looking
    # route entries — for queries this invocation never measures
    if os.path.isdir(os.path.join(SF1, "events.parquet")) and (
        not only or set(_streaming_names) & set(only)
    ):
        n_events = load_table(spark, SF1, "events").count()
        for name in _streaming_names:
            if only and name not in only:
                continue
            routes[name] = f"n_events={n_events} (10x keys, same event-time span)"
            timed(
                name,
                lambda n=name: qs[n](spark, SF1)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )

    # --- r9: round-7/8 analytics additions at 10x (r08 VERDICT #5) -------
    # the last query families with no scale evidence. Expected regimes:
    # funnel_since_first is one user_id exchange + k running-max window
    # scans (data-volume-bound, ~10x); user_value_trend is ONE map-side-
    # combinable hash agg of integer sufficient statistics (the flattest
    # possible scaling — sums combine before the exchange, the shuffle
    # carries |users| rows); event_transitions is a lag window + pair agg
    # (volume-bound); pagerank_orders' per-round traffic is rank rows
    # (|nodes|), so 10x edges should cost ~the edge-list build, not 10x
    # rounds.
    _analytics_names = [
        "funnel_since_first_users",
        "user_value_trend",
        "event_transitions",
    ]
    if os.path.isdir(os.path.join(SF1, "events.parquet")) and (
        not only or set(_analytics_names) & set(only)
    ):
        for name in _analytics_names:
            if only and name not in only:
                continue
            routes[name] = "10x events, 10x user keys (remapped replicas)"
            timed(
                name,
                lambda n=name: qs[n](spark, SF1)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
    if os.path.isdir(os.path.join(SF1, "orders.parquet")) and (
        not only or "pagerank_orders" in only
    ):
        routes["pagerank_orders"] = (
            "10x orders/lineitem edges (replica-remapped keys -> 10x "
            "nodes), 3 fixed rounds; per-round traffic is |nodes| rank "
            "rows"
        )
        timed(
            "pagerank_orders",
            lambda: qs["pagerank_orders"](spark, SF1)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

    # --- r7: edit-distance join (Ed-Join prefix filter) ----------------
    # slice = replicas 1-4 of every clump (4-member clumps whose rtag
    # digits differ pairwise by exactly 1 edit): real planted structure,
    # 20k strings of ~160 chars — the open-vocabulary regime the Ed-Join
    # prefix path exists for. (The all-grams Gravano count filter, since
    # removed, was measured-aborted on this slice at >1385 s against 75.3 s
    # for the prefix path, and at >570 s against 10.5 s on a 5k slice.)
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        edit_distance_pairs,
    )

    n0 = n_docs // REPLICAS
    ed_slice = docs.filter(
        (F.col("doc_id") >= n0) & (F.col("doc_id") < 5 * n0)
    )
    n_ed = ed_slice.count()
    if not only or "edit_distance_prefix" in only:
        routes["edit_distance_prefix"] = (
            f"n_strings={n_ed} max_dist=1 q=3 method=prefix"
        )
    timed(
        "edit_distance_prefix",
        lambda: edit_distance_pairs(
            ed_slice, "doc_id", "text", max_dist=1, q=3
        ).count(),
    )

    # --- r7: bucketed vs shuffled fact-fact join at sf1 ------------------
    # pay-the-shuffle-once evidence at 10x: write orders/lineitem bucketed
    # by the join key (one-time cost, timed separately), then time the
    # zero-exchange merge join + same-key agg against the identical plan
    # over raw parquet (which must shuffle both sides every run).
    if os.path.isdir(os.path.join(SF1, "orders.parquet")):
        from pyspark_weather_forecasting_gsod_spark.sources.bucketing import (
            write_bucketed,
        )

        ord1 = load_table(spark, SF1, "orders")
        li1 = load_table(spark, SF1, "lineitem")

        def _join_agg(a, b):
            j = a.hint("merge").join(b, a["o_orderkey"] == b["l_orderkey"])
            return j.groupBy("o_orderkey").agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "rev"
                ),
            )

        timed(
            "bucketed_join_write_once",
            lambda: (
                write_bucketed(ord1, "sf1_b_orders", "o_orderkey",
                               num_buckets=32, sort_by="o_orderkey"),
                write_bucketed(li1, "sf1_b_lineitem", "l_orderkey",
                               num_buckets=32, sort_by="l_orderkey"),
            ),
        )

        def _probe(name, a, b):
            out = _join_agg(a, b)
            plan = out._jdf.queryExecution().executedPlan().toString()
            out.write.format("noop").mode("overwrite").save()
            routes[name] = f"exchanges_in_plan={plan.count('Exchange')}"

        timed(
            "bucketed_join_probe",
            lambda: _probe(
                "bucketed_join_probe",
                spark.table("sf1_b_orders"),
                spark.table("sf1_b_lineitem"),
            ),
        )
        timed(
            "shuffle_join_baseline",
            lambda: _probe("shuffle_join_baseline", ord1, li1),
        )
        routes["bucketed_vs_shuffle_note"] = (
            "walls are near-equal at this scale BY EXPECTATION — a 6M-row "
            "shuffle on one page-cached box is ~free; the structural "
            "evidence is exchanges_in_plan (0 bucketed vs 2 raw): shuffle "
            "cost grows with data x network fan-out on a real cluster "
            "while the bucketed plan's zero-exchange shape is "
            "scale-invariant, and its one-time write cost is recorded "
            "separately"
        )

    # not-run/errored entries are null (never numeric sentinels); keep
    # the headline sum over measured walls only
    ok = {
        k: v
        for k, v in timings.items()
        if isinstance(v, (int, float)) and v >= 0
    }
    payload = {
        "metric": "sf1_router_rehearsal_wall",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "sf": 1.0,
        "n_docs": n_docs,
        "n_embeddings": n_emb,
        "replicas": REPLICAS,
        "queries": timings,
        "routes": routes,
        "meta": {
            "estimator": "single_cold_run",
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
            "cpus": cpus,
            "data": "derived 10x sf0.1 (deterministic near-dup replicas)",
            "reading_the_walls": (
                "replication makes every doc part of a 10-member near-dup "
                "clump, so TRUE pair count grows ~45x (10 choose 2 per "
                "clump), not 10x — pair-emitting queries (minhash_neardup, "
                "simhash_fingerprints, ngram_containment_docs) scale with "
                "that output size plus their in-query recall companions; "
                "superlinear wall vs sf0.1 here reflects the planted pair "
                "density, not candidate-generation blow-up (the banded/"
                "bucketed candidate sets stay output-proportional)"
            ),
        },
    }
    out_path = os.path.join(REPO, "BENCH_sf1.json")
    if only and "--merge" in sys.argv:
        # subset run folding into the existing record: update only the
        # named queries' timings/routes, recompute the headline sum, and
        # stamp which entries came from which pass in meta.passes
        with open(out_path) as f:
            prior = json.load(f)
        prior["queries"].update(timings)
        prior["routes"].update(routes)
        prior["value"] = round(
            sum(
                v
                for v in prior["queries"].values()
                if isinstance(v, (int, float)) and v >= 0
            ),
            3,
        )
        prior.setdefault("meta", {})["passes"] = (
            prior["meta"].get("passes", ["initial"]) + [sorted(timings)]
        )
        payload = prior
    elif only:
        # subset run (debug/repro): don't clobber the full-suite record
        print(json.dumps(payload, separators=(",", ":")))
        return
    with open(out_path, "w") as f:
        f.write(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
