"""Round-4c analytics extras, grouped by family:

* **graph** — ``pagerank_orders``: fixed-iteration PageRank over the
  customer↔supplier order graph (ext/graph.py), the iterative-DataFrame
  family alongside connected components, oracle-checked by UNROLLING the
  same three power iterations as DuckDB CTEs.
* **sketches** — ``bloom_prune_dedup`` (bloom-gated incremental dedup;
  the oracle rebuilds the identical md5-cell filter so the
  no-false-negative property is VERIFIED, not assumed),
  ``histogram_quantiles_value`` (mergeable equi-width histogram:
  estimate, exact, and realized error all hash-checked),
  ``streaming_sketch_merge`` (foreachBatch cell-wise merge across a
  multi-batch replay == one-pass batch histogram, proving micro-batch
  boundaries cannot change a mergeable sketch).
* **sampling / mixing** — ``epoch_weighted_mix`` (deterministic
  fractional up/down-sampling, the "2.5 epochs of wiki" recipe),
  ``weighted_sample_docs`` (Efraimidis-Spirakis A-Res without
  replacement, md5 uniforms instead of RNG — a weighted sample that is
  oracle-hashable), ``quantile_bins_price`` (equal-frequency binning via
  one percentile aggregate + map-only fold, no NTILE sort).
* **similarity** — ``pq_ann_topk`` (product-quantization ADC on a
  build-once index, rows-only with in-query recall_vs_exact),
  ``neardup_index_probe`` (persisted-LSH incremental near-dup, probe-only
  batches, recall 1.0 / FP 0 measured in-query),
  ``source_js_divergence`` (per-source Jensen-Shannon drift diagnostic).
* **event analytics / streaming** — ``attribution_last_touch`` (windowed
  carry-forward attribution, one shuffle, no self-join),
  ``streaming_static_join`` (per-micro-batch broadcast dimension
  enrichment, zero join state).

All hashing conventions follow plans.queries (shared aliases, rounded
derived floats, BIGINT counts, tie-broken LIMITs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .llm_extra import _FOLD8
from .queries import _t, query

# --------------------------------------------------------------------------
# PageRank: 3 unrolled power iterations, damping 0.85. Node ids are
# namespaced ARITHMETICALLY (customer 2k / supplier 2k+1 — long keys
# shuffle far cheaper than string-prefixed ids) so the bipartite sides
# never collide; edges run both directions (undirected random walk).
# --------------------------------------------------------------------------

_PR_ITER_SQL = """
    c{i} AS (
        SELECT e.dst AS node, SUM(r.pr / d.deg) AS mass
        FROM edges e
        JOIN r{prev} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT nd.node, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(c.mass, 0.0) AS pr
        FROM nodes nd LEFT JOIN c{i} c ON c.node = nd.node
    )"""

_PAGERANK_SQL = (
    """
    WITH e0 AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
        SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), nn AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
    ),"""
    + ",".join(_PR_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
    SELECT r3.node, ROUND(r3.pr, 11) AS pagerank,
           CAST(d.deg AS BIGINT) AS out_degree
    FROM r3 JOIN deg d ON d.src = r3.node
    ORDER BY ROUND(r3.pr, 11) DESC, r3.node
    LIMIT 20
    """
)


@query("pagerank_orders", _PAGERANK_SQL)
def pagerank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the customer↔supplier graph induced by
    orders⨝lineitem. A FIXED iteration count (3) keeps the computation
    ANSI-SQL-expressible — the oracle unrolls the identical three rounds —
    and the rounded rank is also the sort key on both engines so the
    LIMIT-20 frontier cannot be flipped by sub-rounding float noise.

    Scale shape (ext/graph.py::pagerank): the degree-annotated edge list
    is cached once; each round is one ranks⨝edges shuffle + one hash agg
    on dst. Rank rows (one per node) are the only per-round traffic."""
    from ..ext.graph import pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        # materialized once (r11, guide §1.2): the undirected union below
        # references this join+distinct subtree twice, and the graph build
        # (degree agg + node set + cache warm-up) re-reads it again —
        # edge-list-sized by construction
        .localCheckpoint(eager=True)
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(
        edges, iterations=3, damping=0.85, with_degree=True, assume_distinct=True
    )
    return (
        pr.select(
            "node",
            F.round("rank", 11).alias("pagerank"),
            "out_degree",
        )
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(20)
    )


_PPR_ITER_SQL = """
    c{i} AS (
        SELECT e.dst AS node, SUM(r.pr / d.deg) AS mass
        FROM edges e
        JOIN r{prev} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT nd.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN 0.15 / (SELECT n FROM ns) ELSE 0.0 END
                   + 0.85 * COALESCE(c.mass, 0.0) AS pr
        FROM nodes nd
        LEFT JOIN sd ON sd.node = nd.node
        LEFT JOIN c{i} c ON c.node = nd.node
    )"""

_PPR_SQL = (
    """
    WITH e0 AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
        SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src
    ), sd AS (
        SELECT DISTINCT n.node FROM nodes n
        WHERE n.node <= 20 AND n.node % 2 = 0
    ), ns AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sd
    ), r0 AS (
        SELECT nd.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS pr
        FROM nodes nd LEFT JOIN sd ON sd.node = nd.node
    ),"""
    + ",".join(_PPR_ITER_SQL.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
    SELECT r3.node, ROUND(r3.pr, 11) AS ppr
    FROM r3 WHERE ROUND(r3.pr, 11) > 0
    ORDER BY ROUND(r3.pr, 11) DESC, r3.node
    LIMIT 20
    """
)


@query("personalized_pagerank_orders", _PPR_SQL)
def personalized_pagerank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (ext/graph.py::personalized_pagerank),
    promoted from a library op to a declared query: teleport mass returns
    to the SEED customers (custkeys ≤ 10 → node ids ≤ 20, even) instead of
    all nodes — 'rank suppliers by relevance to THESE customers', the
    recommendation shape. Same single-job lazy power loop and the same
    unrolled-CTE oracle discipline as pagerank_orders, with the seed-aware
    teleport in every round; top-20 by 11-dp-rounded rank (zero-rank nodes
    outside the seeds' 3-hop reach are excluded on both engines)."""
    from ..ext.graph import personalized_pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        # materialized once (r11, guide §1.2): the undirected union below
        # references this join+distinct subtree twice, and the graph build
        # (degree agg + node set + cache warm-up) re-reads it again —
        # edge-list-sized by construction
        .localCheckpoint(eager=True)
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_custkey") * 2).alias("node"))
        .filter(F.col("node") <= 20)
        .distinct()
    )
    pr = personalized_pagerank(
        edges, seeds, iterations=3, damping=0.85, assume_distinct=True
    )
    return (
        pr.select("node", F.round("rank", 11).alias("ppr"))
        .filter(F.col("ppr") > 0)
        .orderBy(F.col("ppr").desc(), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Bloom-gated incremental dedup. Deliberately undersized filter (3×512 for
# a ~475-key store → ~60% row occupancy) so false positives are REAL and
# visible in the output, same teaching choice as cms_heavy_hitters.
# --------------------------------------------------------------------------

_BLOOM_DEPTH = 3
_BLOOM_WIDTH = 512
_NORM_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"


def _bloom_bucket_sql(key_sql: str) -> str:
    return (
        _FOLD8.format(x=f"CAST(r AS VARCHAR) || ':' || {key_sql}")
        + f" % {_BLOOM_WIDTH}"
    )


@query(
    "bloom_prune_dedup",
    f"""
    WITH d AS (
        SELECT doc_id, source, {_NORM_FP} AS fp FROM documents
    ), store AS (
        SELECT DISTINCT fp FROM d WHERE source <> 'src5'
    ), cells AS (
        SELECT DISTINCT r, {_bloom_bucket_sql('fp')} AS bucket
        FROM store, UNNEST(range(0, {_BLOOM_DEPTH})) AS u(r)
    ), probe AS (
        SELECT doc_id, fp, r, {_bloom_bucket_sql('fp')} AS bucket
        FROM d, UNNEST(range(0, {_BLOOM_DEPTH})) AS u(r)
        WHERE source = 'src5'
    ), hits AS (
        SELECT p.doc_id, p.fp,
               COUNT(c.bucket) = {_BLOOM_DEPTH} AS bloom_positive
        FROM probe p
        LEFT JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
        GROUP BY p.doc_id, p.fp
    )
    SELECT h.doc_id, h.bloom_positive, s.fp IS NULL AS is_new
    FROM hits h LEFT JOIN store s ON s.fp = h.fp
    """,
)
def bloom_prune_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch (source src5) against the
    fingerprint store (all other sources), gated by a Bloom filter of the
    store: bloom-NEGATIVE rows are certified new with ZERO join work (the
    mask is a literal, the test map-only), and only the bloom-positive
    minority pays the exact verify join. Output per batch doc:
    (bloom_positive, is_new) — a row with bloom_positive AND is_new is a
    measured false positive.

    The oracle recomputes the same md5-cell filter in SQL and derives
    is_new for EVERY row from the real store join, so a false negative
    (bloom says absent, store disagrees) would hash-mismatch — the no-FN
    guarantee is checked, not assumed. At 100 TB the store's bloom table
    is ≤ depth×width cells regardless of store size (mergeable,
    incrementally unionable as batches commit), the mask literal
    broadcasts with the task binary, and the verify join's shuffle
    carries only the FP-rate-sized remainder."""
    from ..ext.text import normalize_text
    from ..operators.sketches import (
        bloom_masks,
        bloom_might_contain,
        bloom_table,
    )

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(normalize_text("text").cast("binary"))
    store = (
        docs.filter(F.col("source") != "src5").select(fp.alias("fp")).distinct()
    )
    batch = docs.filter(F.col("source") == "src5").select(
        "doc_id", fp.alias("fp")
    )
    masks = bloom_masks(
        bloom_table(store, "fp", _BLOOM_DEPTH, _BLOOM_WIDTH),
        _BLOOM_DEPTH,
        _BLOOM_WIDTH,
    )
    probed = batch.withColumn(
        "bloom_positive",
        bloom_might_contain(F.col("fp"), masks, _BLOOM_WIDTH),
    )
    certified_new = probed.filter(~F.col("bloom_positive")).withColumn(
        "is_new", F.lit(True)
    )
    verified = (
        probed.filter(F.col("bloom_positive"))
        .join(store.withColumn("__hit", F.lit(1)), "fp", "left")
        .withColumn("is_new", F.col("__hit").isNull())
        .drop("__hit")
    )
    return certified_new.unionByName(verified).select(
        "doc_id", "bloom_positive", "is_new"
    )


# --------------------------------------------------------------------------
# Epoch-weighted data mixing: "2.5 epochs of src0, 0.4 of src3, ...".
# --------------------------------------------------------------------------

_MIX_WEIGHTS = {"src0": 2.5, "src1": 1.25, "src2": 2.0, "src3": 0.4}
_MIX_DEFAULT = 1.0
_MIX_BUCKETS = 1_000_000


@query(
    "epoch_weighted_mix",
    f"""
    WITH w AS (
        SELECT doc_id, source,
               CASE source
                    WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
                    WHEN 'src2' THEN 2.0 WHEN 'src3' THEN 0.4
                    ELSE {_MIX_DEFAULT} END AS wt,
               {_FOLD8.format(x="CAST(doc_id AS VARCHAR)")} % {_MIX_BUCKETS} AS b
        FROM documents
    ), n AS (
        SELECT doc_id, source,
               CAST(FLOOR(wt) AS BIGINT)
               + CASE WHEN b < (wt - FLOOR(wt)) * {_MIX_BUCKETS}
                      THEN 1 ELSE 0 END AS n_copies
        FROM w
    )
    SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
    FROM n WHERE n_copies >= 1
    """,
)
def epoch_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch mixing of the corpus by source weight
    (operators/sampling.py::weighted_repeat): integer part = guaranteed
    copies, fractional part = md5-bucket draw on doc_id, so the realized
    mix is a pure function of the data — reproducible across engines and
    runs, stable under corpus growth, and map-only (explode fan-out, no
    shuffle, no RNG). Weights above 1 up-sample (epochs), below 1
    down-sample, both through the same code path."""
    from ..operators.sampling import weighted_repeat

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    wt = None
    for src, w in sorted(_MIX_WEIGHTS.items()):
        cond = F.col("source") == src
        wt = F.when(cond, F.lit(w)) if wt is None else wt.when(cond, F.lit(w))
    weight = wt.otherwise(F.lit(_MIX_DEFAULT))
    return weighted_repeat(
        docs, "doc_id", weight, epoch_col="epoch", buckets=_MIX_BUCKETS
    )


# --------------------------------------------------------------------------
# PQ ANN with in-query recall accounting (rows-only: codebooks are
# seed/float-specific; the quality signal is measured, not asserted prose).
# --------------------------------------------------------------------------

_PQ_INDEX_CACHE: dict[str, str] = {}


def _pq_index_for(spark: SparkSession, sf_dir: str) -> str:
    from ..ext.similarity import build_pq_index

    if sf_dir not in _PQ_INDEX_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="pq_index_")
        build_pq_index(_t(spark, sf_dir, "embeddings"), d, m=32, k=32)
        _PQ_INDEX_CACHE[sf_dir] = d
    return _PQ_INDEX_CACHE[sf_dir]


@query("pq_ann_topk", None)  # PQ codebooks are KMeans-seed/float-specific
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN on the build-once/probe-many split: 32
    sub-spaces × 32 codes encode each 64-d vector as 32 small ints (an 8×
    scan-cost reduction vs float32 — the complementary axis to IVF's
    partition pruning), scored by per-query ADC lookup tables with
    per-partition pre-top-k so the exchange never carries corpus-sized
    traffic. Output rows carry per-query ``recall_vs_exact`` against the
    exact cosine companion, pytest-gated like the IVF and LSH paths.

    Measured mean recall 0.68 at sf0.01 for top-5 — on a largely-random
    64-d corpus whose non-self neighbors sit in a flat cosine band
    (≈0.24–0.32), the hardest regime for quantized scoring; coarser
    16×16 codes measured 0.36. The self-neighbor (the only structurally
    meaningful match) is recovered at rank 1 for every query."""
    from ..ext.similarity import cosine_topk, pq_search, topk_recall

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    idx = _pq_index_for(spark, sf_dir)
    approx = pq_search(spark, idx, q, topk=5).localCheckpoint(eager=True)
    return approx.join(topk_recall(approx, cosine_topk(emb, q, k=5)), "qid")


# --------------------------------------------------------------------------
# Mergeable histogram quantiles: deterministic sketch vs exact, side by side.
# --------------------------------------------------------------------------

_H_BINS = 125
_H_LO, _H_HI = 0.0, 250.0  # non-sentinel events.value domain
_H_W = (_H_HI - _H_LO) / _H_BINS  # 2.0 — exactly representable


@query(
    "histogram_quantiles_value",
    f"""
    WITH v AS (
        SELECT value FROM events
        WHERE value IS NOT NULL AND value <= 250.0
    ), h AS (
        SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT), 0),
                     {_H_BINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS bin_count
        FROM v GROUP BY 1
    ), c AS (
        SELECT bin, bin_count,
               SUM(bin_count) OVER (ORDER BY bin) AS cum,
               SUM(bin_count) OVER () AS total
        FROM h
    ), qs AS (
        SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q
    ), est AS (
        SELECT q,
               (SELECT 0.0 + (c.bin + (qs.q * c.total - (c.cum - c.bin_count))
                              / c.bin_count) * 2.0
                FROM c WHERE c.cum >= qs.q * c.total
                ORDER BY c.bin LIMIT 1) AS quantile_est
        FROM qs
    ), ex AS (
        SELECT 0.5::DOUBLE AS q, quantile_cont(value, 0.5) AS exact FROM v
        UNION ALL
        SELECT 0.9::DOUBLE, quantile_cont(value, 0.9) FROM v
        UNION ALL
        SELECT 0.99::DOUBLE, quantile_cont(value, 0.99) FROM v
    )
    SELECT e.q, ROUND(e.quantile_est, 6) AS quantile_est,
           ROUND(x.exact, 6) AS exact_quantile,
           ROUND(ABS(e.quantile_est - x.exact), 6) AS abs_err
    FROM est e JOIN ex x ON x.q = e.q
    """,
)
def histogram_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of events.value from a mergeable equi-width histogram
    sketch (operators/sketches.py::histogram_table) next to the exact
    answers, with the realized error in the output. GK ``approx_quantile``
    stays rows-only forever (traversal-order-defined); the fixed-bin
    histogram is a pure function of the data, so the whole
    estimate-vs-exact comparison is oracle-hashable — and the sketch table
    is the artifact per-day shards would SUM to answer any rollup without
    rescanning. Max error is one bin width (2.0 here) by construction."""
    from ..operators.sketches import histogram_quantiles, histogram_table
    from .queries import _events_normalized

    ev = _events_normalized(spark, sf_dir).filter(F.col("value").isNotNull())
    hist = histogram_table(ev, "value", _H_LO, _H_HI, _H_BINS)
    est = histogram_quantiles(hist, [0.5, 0.9, 0.99], _H_LO, _H_HI, _H_BINS)
    ex = ev.agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.9)").alias("e90"),
        F.expr("percentile(value, 0.99)").alias("e99"),
    ).selectExpr(
        "stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) as (q, exact)"
    )
    return est.join(F.broadcast(ex), "q").select(
        "q",
        F.round("quantile_est", 6).alias("quantile_est"),
        F.round("exact", 6).alias("exact_quantile"),
        F.round(F.abs(F.col("quantile_est") - F.col("exact")), 6).alias(
            "abs_err"
        ),
    )


# --------------------------------------------------------------------------
# Corpus-mix diagnostics: per-source Jensen-Shannon divergence from the
# rest of the corpus over the token distribution.
# --------------------------------------------------------------------------

_TOK_SQL = "string_split_regex(trim(text), '\\s+')"


@query(
    "source_js_divergence",
    f"""
    WITH tok AS (
        SELECT source, unnest({_TOK_SQL}) AS token FROM documents
    ), cst AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), ct AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS ctot FROM tok GROUP BY 1
    ), ns AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS ntot FROM tok GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS grand FROM tok
    ), grid AS (
        SELECT s.source, s.ntot, t.ctot,
               (SELECT grand FROM tot) AS grand,
               COALESCE(c.c, 0) AS c
        FROM ns s
        CROSS JOIN ct t
        LEFT JOIN cst c ON c.source = s.source AND c.token = t.token
    ), terms AS (
        SELECT source, ntot,
               c / CAST(ntot AS DOUBLE) AS p,
               (ctot - c) / CAST(grand - ntot AS DOUBLE) AS q
        FROM grid
    )
    SELECT source, MAX(ntot) AS n_tokens,
           ROUND(SUM(
               CASE WHEN p > 0
                    THEN 0.5 * p * log2(2.0 * p / (p + q)) ELSE 0.0 END
             + CASE WHEN q > 0
                    THEN 0.5 * q * log2(2.0 * q / (p + q)) ELSE 0.0 END
           ), 6) AS js_vs_rest
    FROM terms GROUP BY source
    """,
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's token
    distribution and the REST of the corpus — the data-mixing diagnostic
    that flags a domain drifting away from the blend (the quantitative
    companion to ``temperature_mix_sample``'s rate derivation).

    Scale shape: two hash aggs build the (source, token) and token margins;
    the dense grid is |sources| × |vocab| — both bounded (vocab by a
    heavy-hitter cap at 100 TB, as in ``bm25_topk``'s vocabulary filter) —
    and the divergence is one aggregate over it. All JVM expressions, one
    deterministic float fold, so the whole diagnostic is oracle-hashable.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tok = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(toks).alias("token"))
    )
    cst = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    ct = tok.groupBy("token").agg(F.count(F.lit(1)).alias("ctot"))
    ns = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ntot"))
    tot = tok.agg(F.count(F.lit(1)).alias("grand"))
    grid = (
        ns.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(cst, ["source", "token"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0).cast("long")))
    )
    p = F.col("c") / F.col("ntot").cast("double")
    q = (F.col("ctot") - F.col("c")) / (F.col("grand") - F.col("ntot")).cast(
        "double"
    )
    terms = grid.select(
        "source", "ntot", p.alias("p"), q.alias("q")
    )
    contrib = F.when(
        F.col("p") > 0,
        F.lit(0.5) * F.col("p") * F.log2(
            F.lit(2.0) * F.col("p") / (F.col("p") + F.col("q"))
        ),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("q") > 0,
        F.lit(0.5) * F.col("q") * F.log2(
            F.lit(2.0) * F.col("q") / (F.col("p") + F.col("q"))
        ),
    ).otherwise(F.lit(0.0))
    return terms.groupBy("source").agg(
        F.max("ntot").alias("n_tokens"),
        F.round(F.sum(contrib), 6).alias("js_vs_rest"),
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (A-Res).
# --------------------------------------------------------------------------


@query(
    "weighted_sample_docs",
    f"""
    WITH scored AS (
        SELECT doc_id, n_chars,
               POW(({_FOLD8.format(x="CAST(doc_id AS VARCHAR)")} % 4294967296
                    + 0.5) / 4294967296.0,
                   1.0 / n_chars) AS sample_score
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, ROUND(sample_score, 8) AS sample_score
    FROM scored
    ORDER BY sample_score DESC, doc_id
    LIMIT 50
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50 documents sampled without replacement with probability ∝ length
    (operators/sampling.py::weighted_sample_k — Efraimidis-Spirakis A-Res
    keyed by md5 uniforms instead of RNG, so the sample is a pure function
    of the data: engine-portable, partition-independent, stable across
    runs). The plan is one map-only scoring pass + TakeOrderedAndProject
    (per-partition heaps); DuckDB reproduces the identical selection, so
    — unlike seeded ``sample()``/``rand()`` — a weighted sample is
    oracle-hashable."""
    from ..operators.sampling import weighted_sample_k

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = weighted_sample_k(docs, "doc_id", F.col("n_chars"), k=50)
    return out.select(
        "doc_id", "n_chars", F.round("sample_score", 8).alias("sample_score")
    )


# --------------------------------------------------------------------------
# Incremental near-dup: probe a batch against the persisted LSH index.
# --------------------------------------------------------------------------

_NEARDUP_INDEX_CACHE: dict[str, str] = {}
_BATCH_SOURCES = ("src5", "src6", "src7")


def _neardup_index_for(spark: SparkSession, sf_dir: str) -> str:
    from ..ext.dedup import build_neardup_index

    if sf_dir not in _NEARDUP_INDEX_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="neardup_index_")
        store = _t(spark, sf_dir, "documents").filter(
            ~F.col("source").isin(*_BATCH_SOURCES)
        )
        build_neardup_index(store, d, "doc_id")
        _NEARDUP_INDEX_CACHE[sf_dir] = d
    return _NEARDUP_INDEX_CACHE[sf_dir]


@query("neardup_index_probe", None)  # xxhash64 band buckets → rows-only
def neardup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new batch (sources src5-7) probes the
    persisted LSH index of the store (ext/dedup.py::build_neardup_index /
    neardup_probe) — band-bucket equi-join for candidates, exact-Jaccard
    verify against the index's precomputed shingles, never re-reading the
    store text and never batch×store. The near-dup sibling of
    ``dedup_increment``'s exact fingerprint store.

    Rows-only (band buckets are xxhash64), but the output carries doc-level
    ``recall_vs_exact`` / ``n_false_positive`` measured in-query against
    the EXACT batch↔store Jaccard join (``set_similarity_pairs`` with
    ``against=``) — verification is exact, so false positives are
    structurally 0 and the pytest gate asserts it."""
    from ..ext.dedup import neardup_probe, set_similarity_pairs, shingle_corpus

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source").isin(*_BATCH_SOURCES))
    store = docs.filter(~F.col("source").isin(*_BATCH_SOURCES))
    idx = _neardup_index_for(spark, sf_dir)
    probed = neardup_probe(
        spark, idx, batch, "doc_id", min_jaccard=0.5
    ).localCheckpoint(eager=True)
    # materialized: the summary below reads the flagged batch docs twice
    exact_docs = (
        set_similarity_pairs(
            shingle_corpus(batch, "doc_id"), "jaccard", 0.5,
            against=shingle_corpus(store, "doc_id"),
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    flagged = probed.filter(F.col("best_match").isNotNull()).select("doc_id")
    hit = flagged.withColumn("__f", F.lit(1))
    summary = (
        exact_docs.join(hit, "doc_id", "left")
        .agg(
            F.round(
                F.count("__f") / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
            ).alias("recall_vs_exact"),
            F.count(F.lit(1)).alias("n_exact_flagged"),
        )
        .crossJoin(
            flagged.join(exact_docs.withColumn("__e", F.lit(1)), "doc_id", "left")
            .agg(
                F.sum(F.when(F.col("__e").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_false_positive")
            )
        )
    )
    return probed.crossJoin(F.broadcast(summary))


# --------------------------------------------------------------------------
# Streaming: stream-static enrichment join + incremental sketch merge.
# --------------------------------------------------------------------------


@query(
    "streaming_static_join",
    """
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.value <= 250.0
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join run as a REAL Structured Streaming
    query (streaming/stream.py::run_streaming_static_join): the event
    stream joins the broadcast customer dimension per micro-batch — the
    dimension is re-resolvable between triggers, the stream side is never
    shuffled for the join, and zero join state accumulates. The
    complete-mode aggregate over the AvailableNow replay must equal the
    batch join+agg, which is the oracle."""
    from ..session import tune
    from ..streaming.stream import run_streaming_static_join

    tune(spark)
    return run_streaming_static_join(spark, sf_dir)


@query(
    "streaming_sketch_merge",
    """
    WITH m AS (
        SELECT (i * 2654435761) % 2147483648 AS mixed
        FROM range(0, 2000) t(i)
    ), v AS (
        SELECT ROUND(mixed / 2147483648.0 * 100.0, 6) AS value FROM m
    )
    SELECT LEAST(GREATEST(CAST(FLOOR(value / 2.0) AS BIGINT), 0), 49) AS bin,
           CAST(COUNT(*) AS BIGINT) AS bin_count
    FROM v GROUP BY 1
    """,
)
def streaming_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental histogram-sketch maintenance over the replayable
    Python-source stream (streaming/stream.py::run_streaming_sketch_merge):
    every micro-batch reduces to a ≤50-row histogram partial and
    ``foreachBatch`` merges partials cell-wise; the runner raises unless
    the replay actually delivered multiple batches. The oracle computes
    the whole-stream histogram in one pass over the same deterministic
    generator — hash equality PROVES micro-batch boundaries cannot change
    a mergeable sketch, the property the HLL/CMS/bloom family asserts in
    prose."""
    from ..session import tune
    from ..streaming.stream import run_streaming_sketch_merge

    tune(spark)
    return run_streaming_sketch_merge(spark)


# --------------------------------------------------------------------------
# Equal-frequency quantile binning (ML feature prep).
# --------------------------------------------------------------------------


@query(
    "quantile_bins_price",
    """
    WITH b AS (
        SELECT quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bounds
        FROM lineitem
    ), assigned AS (
        SELECT l.l_extendedprice AS price,
               CAST(len(list_filter(b.bounds, x -> l.l_extendedprice > x))
                    AS INTEGER) AS bin
        FROM lineitem l CROSS JOIN b
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(price), 4) AS min_price,
           ROUND(MAX(price), 4) AS max_price,
           ROUND(AVG(price), 4) AS avg_price
    FROM assigned GROUP BY bin
    """,
)
def quantile_bins_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning of lineitem prices
    (operators/quantiles.py::quantile_bins): one aggregate derives the
    exact interior percentile boundaries, a broadcast of that single row
    makes assignment a map-only array fold — no NTILE global sort. The
    per-bin profile (count ≈ n/10, min/max/avg) is fully oracle-hashable
    because boundaries and fold are deterministic, unlike MLlib's
    QuantileDiscretizer (approxQuantile-backed)."""
    from ..operators.quantiles import quantile_bins

    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    binned = quantile_bins(li, "l_extendedprice", n_bins=10)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# Last-touch attribution (event analytics, windowed carry-forward).
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 7200 * 1_000_000  # 2 hours in microseconds


@query(
    "attribution_last_touch",
    f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, ts,
               last_value(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS click_id,
               last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS click_us
        FROM events
    )
    SELECT event_id AS purchase_id, user_id, click_id,
           CAST(epoch_us(ts) - click_us AS BIGINT) AS micros_since_click
    FROM ev
    WHERE event_type = 'purchase'
      AND click_id IS NOT NULL
      AND epoch_us(ts) - click_us <= {_ATTR_WINDOW_US}
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributes to the same user's
    most recent click within 2 hours — one window pass (carry-forward
    ``last`` with ignorenulls over a rows-preceding frame), one shuffle on
    user_id, no self-join. The timestamp pair rides the SAME frame so the
    (click_id, click_ts) attribution is consistent; microsecond integer
    arithmetic keeps the cutoff engine-exact."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    marked = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(is_click, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("click_us"),
    )
    return (
        marked.filter(
            (F.col("event_type") == "purchase")
            & F.col("click_id").isNotNull()
            & ((F.unix_micros("ts") - F.col("click_us")) <= _ATTR_WINDOW_US)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "click_id",
            (F.unix_micros("ts") - F.col("click_us"))
            .cast("long")
            .alias("micros_since_click"),
        )
    )


# --------------------------------------------------------------------------
# Declarative data-quality expectations (contract gate before publishing).
# --------------------------------------------------------------------------


@query(
    "data_quality_report",
    """
    WITH rowchecks AS (
        SELECT 'o_totalprice_nonneg' AS constraint,
               CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice >= 0, FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderdate_not_null',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority_in_domain',
               CAST(SUM(CASE WHEN NOT COALESCE(
                        o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                            '4-NOT SPECIFIED','5-LOW'),
                        FALSE) THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderkey_unique',
               CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
               CAST(SUM(c) AS BIGINT)
        FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        UNION ALL
        SELECT 'o_custkey_fk_customer',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
    )
    SELECT * FROM rowchecks
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over the orders table — the publish gate a
    production pipeline runs before committing a snapshot: three row-level
    predicates priced as ONE conditional-aggregate scan
    (operators/quality.py::expectation_report), plus a uniqueness check
    (one hash agg) and a referential-integrity check (left-anti join
    against the customer dimension). Output: (constraint, n_violations,
    n_rows) — all zeros on healthy data, and the zeros are oracle-checked
    so a silently-broken check (a predicate that can never fail) is
    caught by construction."""
    from ..operators.quality import (
        expectation_report,
        foreign_key_violations,
        unique_key_violations,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rowlevel = expectation_report(
        orders,
        {
            "o_totalprice_nonneg": F.col("o_totalprice") >= 0,
            "o_orderdate_not_null": F.col("o_orderdate").isNotNull(),
            "o_orderpriority_in_domain": F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        },
    )
    uniq = unique_key_violations(orders, ["o_orderkey"]).select(
        F.lit("o_orderkey_unique").alias("constraint"), "n_violations", "n_rows"
    )
    fk = foreign_key_violations(orders, "o_custkey", customer, "c_custkey").select(
        F.lit("o_custkey_fk_customer").alias("constraint"),
        "n_violations",
        "n_rows",
    )
    return rowlevel.unionByName(uniq).unionByName(fk)


# --------------------------------------------------------------------------
# SCD2 dimension maintenance: two deterministic snapshots of an
# order-priority dimension, advanced through init + one apply.
# --------------------------------------------------------------------------

_SCD2_T1 = "2024-01-01 00:00:00"
_SCD2_T2 = "2024-02-01 00:00:00"
_SCD2_K = 1000  # snapshot-1 keys: o_orderkey < 1000


@query(
    "scd2_orders_dim",
    f"""
    WITH s1 AS (
        SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey < {_SCD2_K}
    ), s2 AS (
        -- snapshot 2: %7 keys change priority, %11 keys deleted,
        -- keys in [1000, 1200) inserted
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'RE-PRIORITIZED'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders
        WHERE (o_orderkey < {_SCD2_K} AND o_orderkey % 11 <> 0)
           OR (o_orderkey >= {_SCD2_K} AND o_orderkey < {_SCD2_K + 200})
    ), changed AS (
        SELECT s1.o_orderkey FROM s1 JOIN s2 USING (o_orderkey)
        WHERE s1.o_orderpriority <> s2.o_orderpriority
    ), deleted AS (
        SELECT o_orderkey FROM s1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s2)
    ), inserted AS (
        SELECT o_orderkey FROM s2
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1)
    )
    SELECT s1.o_orderkey, s1.o_orderpriority,
           TIMESTAMP '{_SCD2_T1}' AS valid_from,
           TIMESTAMP '{_SCD2_T2}' AS valid_to,
           FALSE AS is_current
    FROM s1
    WHERE o_orderkey IN (SELECT o_orderkey FROM changed)
       OR o_orderkey IN (SELECT o_orderkey FROM deleted)
    UNION ALL
    SELECT s1.o_orderkey, s1.o_orderpriority,
           TIMESTAMP '{_SCD2_T1}', NULL, TRUE
    FROM s1
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM deleted)
    UNION ALL
    SELECT s2.o_orderkey, s2.o_orderpriority,
           TIMESTAMP '{_SCD2_T2}', NULL, TRUE
    FROM s2
    WHERE o_orderkey IN (SELECT o_orderkey FROM changed)
       OR o_orderkey IN (SELECT o_orderkey FROM inserted)
    """,
)
def scd2_orders_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built by
    operators/cdc.py::scd2_init + scd2_apply over two deterministic
    snapshots of an order-priority dimension (derived from orders: %7
    keys change, %11 keys delete, 200 keys insert): changed/deleted keys
    close their first-epoch row (valid_to = T2), unchanged keys keep
    their open row, changed/new keys open a second-epoch row. The oracle
    derives the identical history table declaratively, so the operator's
    close/keep/open routing is value-checked row for row — including
    that history rows are never rewritten (there is exactly one closed
    row per changed/deleted key, none for unchanged)."""
    from ..operators.cdc import scd2_apply, scd2_init

    orders = _t(spark, sf_dir, "orders")
    s1 = orders.filter(F.col("o_orderkey") < _SCD2_K).select(
        "o_orderkey", "o_orderpriority"
    )
    s2 = (
        orders.filter(
            (
                (F.col("o_orderkey") < _SCD2_K)
                & (F.col("o_orderkey") % 11 != 0)
            )
            | (
                (F.col("o_orderkey") >= _SCD2_K)
                & (F.col("o_orderkey") < _SCD2_K + 200)
            )
        )
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit("RE-PRIORITIZED")
            )
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
    )
    dim = scd2_init(s1, ["o_orderkey"], _SCD2_T1)
    return scd2_apply(dim, s2, ["o_orderkey"], _SCD2_T2)


# --------------------------------------------------------------------------
# Image near-dup: real BMP decode → dHash → lossless Hamming band join.
# --------------------------------------------------------------------------

_PHASH_VARIANT_OFFSET = 1_000_000
_PHASH_MAX_HAMMING = 8


@query("image_phash_neardup", None)  # BMP pixel decode is not SQL-expressible
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection across the REAL decode path: every
    document synthesizes a valid 24-bit BMP (the multimodal fixture), docs
    with ``doc_id % 10 == 0`` additionally emit a perturbed variant (two
    pixels inverted — a re-encode/watermark stand-in), and the pipeline
    runs decode → 64-bit dHash (ext/multimodal.py::dhash_bmp, integer
    arithmetic) → ``hamming_neardup_pairs`` (pigeonhole band join —
    LOSSLESS, unlike MinHash banding, so the pair set provably equals
    brute force; pytest asserts it). Perceptually-close images land
    within hamming ≤ 8; unrelated digest-tiled images sit
    near ~32 bits apart, so the planted pairs are exactly what surfaces.

    Rows-only (pixel parsing is not SQL-expressible); value-level
    correctness comes from the pytest brute-force parity + planted-pair
    coverage gates."""
    from ..ext.dedup import hamming_neardup_pairs
    from ..ext.multimodal import bmp_dhash_features, synthesize_bmp

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def full_frame_bmp(text: str) -> bytes:
        # md5-CHAINED fill (384 distinct bytes) rather than the 16-byte
        # tiling of the decode fixture: tiling repeats every image row
        # (48-byte period), which collapses dHash to 8 bits of entropy
        # and floods the Hamming ball with false neighbors
        import hashlib

        block = hashlib.md5(text.encode("utf-8")).digest()
        buf = b""
        while len(buf) < 384:
            buf += block
            block = hashlib.md5(block).digest()
        return synthesize_bmp(buf[:384])

    def perturb(payload: bytes) -> bytes:
        b = bytearray(payload)
        for i in range(6):
            b[54 + i] = 255 - b[54 + i]
        return bytes(b)

    import pandas as pd

    def gen_images(batches):
        for pdf in batches:
            out_ids, out_pay = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                p = full_frame_bmp(text)
                out_ids.append(did)
                out_pay.append(p)
                if did % 10 == 0:
                    out_ids.append(did + _PHASH_VARIANT_OFFSET)
                    out_pay.append(perturb(p))
            yield pd.DataFrame({"doc_id": out_ids, "payload": out_pay})

    images = docs.mapInPandas(gen_images, "doc_id long, payload binary")
    hashes = bmp_dhash_features(images)
    return hamming_neardup_pairs(
        hashes, "doc_id", "dhash", max_hamming=_PHASH_MAX_HAMMING
    )


# --------------------------------------------------------------------------
# Unpivot / melt — the inverse of the §2.4 pivot family.
# --------------------------------------------------------------------------


@query(
    "unpivot_event_stats",
    """
    WITH wide AS (
        SELECT event_type,
               ROUND(AVG(CASE WHEN value <= 250.0 THEN value END), 4) AS avg_value,
               ROUND(MIN(CASE WHEN value <= 250.0 THEN value END), 4) AS min_value,
               ROUND(MAX(CASE WHEN value <= 250.0 THEN value END), 4) AS max_value
        FROM events GROUP BY event_type
    )
    SELECT event_type, metric, metric_value
    FROM wide
    UNPIVOT (metric_value FOR metric IN (avg_value, min_value, max_value))
    """,
)
def unpivot_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``DataFrame.unpivot``/MELT — the inverse of
    ``pivot_user_event_counts``): a per-type stats wide table melts into
    (event_type, metric, metric_value) rows. Unpivot is a zero-shuffle
    1→N projection (each row fans out to one row per value column), so
    after the aggregate the reshape is free at any scale; DuckDB's
    UNPIVOT reproduces it exactly."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") <= 250.0, F.col("value"))
    wide = ev.groupBy("event_type").agg(
        F.round(F.avg(v), 4).alias("avg_value"),
        F.round(F.min(v), 4).alias("min_value"),
        F.round(F.max(v), 4).alias("max_value"),
    )
    return wide.unpivot(
        ["event_type"],
        ["avg_value", "min_value", "max_value"],
        "metric",
        "metric_value",
    )


# --------------------------------------------------------------------------
# Sliding-window distinct counting from hourly HLL sketches.
# --------------------------------------------------------------------------


@query("hll_sliding_distinct", None)  # HLL binary sketches are impl-defined
def hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 3-hour SLIDING window computed by merging hourly
    HLL sketches (operators/sketches.py) instead of rescanning events per
    window — the overlapping-window payoff only mergeable state gives
    you: exact distinct cannot reuse work across overlapping windows
    (distinct sets don't subtract), but each hourly sketch fans out
    map-only to the ≤3 windows containing it and a sketch-table-sized
    union-agg finishes the job. One corpus scan total, regardless of
    window count or overlap.

    Rows-only (Datasketches binaries are implementation-defined); pytest
    gates the estimates against exact per-window distincts (≤2% relative
    error at lgk=12)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    ).groupBy("hour").agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("hll")
    )
    fan = hourly.select(
        F.explode(
            F.array(*[
                (F.col("hour") + F.expr(f"INTERVAL {o} HOURS")).alias("w")
                for o in range(3)
            ])
        ).alias("window_end_hour"),
        "hll",
    )
    return (
        fan.groupBy("window_end_hour")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("hll")))
            .cast("long")
            .alias("n_distinct_est")
        )
        .orderBy("window_end_hour")
    )


# --------------------------------------------------------------------------
# Deterministic k-fold cross-validation (ML eval rigor).
# --------------------------------------------------------------------------


@query("ml_kfold_cv", None)  # training loops → rows-only (pytest-gated)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated linear regression on the events feature
    frame (ml/models.py::kfold_cv_regression): folds are md5 buckets of
    event_id — deterministic, partition-independent, growth-stable —
    instead of the reference's single unseeded randomSplit, so the
    variance ACROSS folds is measurable and every number reproduces
    exactly. Output: per-fold (rmse, r2, n_test) plus the cross-fold
    mean/stddev rows a model gate would threshold."""
    from ..ml.features import assemble_features
    from ..ml.models import kfold_cv_regression
    from .queries import _events_feature_frame

    df = _events_feature_frame(spark, sf_dir, keep_key=True)
    feat = assemble_features(
        df, categorical=["event_type"], numerical=["value", "hour", "dow"]
    )
    folds = kfold_cv_regression(feat, "next_value", key_col="event_id", k=5)
    rows = [
        (int(m["fold"]), round(float(m["rmse"]), 4), round(float(m["r2"]), 4), int(m["n_test"]))
        for m in folds
    ]
    import statistics

    rmses = [m["rmse"] for m in folds]
    rows.append((-1, round(statistics.mean(rmses), 4), round(statistics.pstdev(rmses), 4), sum(int(m["n_test"]) for m in folds)))
    from ..session import local_rows_df

    return local_rows_df(
        spark, rows, "fold int, rmse double, r2_or_stddev double, n_test long"
    )


# --------------------------------------------------------------------------
# CMS join-cardinality estimation (optimizer-style sketch use).
# --------------------------------------------------------------------------

_JS_DEPTH = 3
_JS_WIDTH = 262_144


def _js_bucket_sql(key_sql: str) -> str:
    return (
        _FOLD8.format(x=f"CAST(r AS VARCHAR) || ':' || {key_sql}")
        + f" % {_JS_WIDTH}"
    )


@query(
    "cms_join_estimate",
    f"""
    WITH ca AS (
        SELECT r, {_js_bucket_sql('o_orderkey')} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS ca
        FROM orders, UNNEST(range(0, {_JS_DEPTH})) AS u(r)
        GROUP BY 1, 2
    ), cb AS (
        SELECT r, {_js_bucket_sql('l_orderkey')} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cb
        FROM lineitem, UNNEST(range(0, {_JS_DEPTH})) AS u(r)
        GROUP BY 1, 2
    ), per_row AS (
        SELECT ca.r, SUM(ca.ca * cb.cb) AS prod
        FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
        GROUP BY ca.r
    ), all_rows AS (
        SELECT r FROM UNNEST(range(0, {_JS_DEPTH})) AS u(r)
    ), est AS (
        SELECT CAST(MIN(COALESCE(p.prod, 0)) AS BIGINT) AS join_size_est
        FROM all_rows a LEFT JOIN per_row p ON a.r = p.r
    ), ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )
    SELECT e.join_size_est, x.exact_join_size,
           CAST(e.join_size_est - x.exact_join_size AS BIGINT) AS overestimate
    FROM est e CROSS JOIN ex x
    """,
)
def cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from key sketches — the optimizer-style
    sketch use (AMS/CMS inner product): |orders ⨝ lineitem| is estimated
    from two KB-scale CMS tables WITHOUT joining or scanning the inputs
    together, and the estimate provably never underestimates (every true
    match shares a cell; collisions only add). The exact join size and
    the realized overestimate ride along, all hash-checked — a sampled
    estimator could never be oracle-exact.

    At 100 TB this is how a pipeline sizes a prospective join (pick
    broadcast vs shuffle vs pre-bucket) from per-table sketch metadata
    maintained incrementally (cms_table is mergeable cell-wise)."""
    from ..operators.sketches import cms_join_size_estimate, cms_table

    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ca = cms_table(orders, "o_orderkey", _JS_DEPTH, _JS_WIDTH)
    cb = cms_table(li, "l_orderkey", _JS_DEPTH, _JS_WIDTH)
    est = cms_join_size_estimate(ca, cb, _JS_DEPTH)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "exact_join_size",
        (F.col("join_size_est") - F.col("exact_join_size"))
        .cast("long")
        .alias("overestimate"),
    )


# --------------------------------------------------------------------------
# Per-group histogram quantiles + period-over-period reporting.
# --------------------------------------------------------------------------


@query(
    "histogram_quantiles_by_type",
    f"""
    WITH v AS (
        SELECT event_type, value FROM events
        WHERE value IS NOT NULL AND value <= 250.0
    ), h AS (
        SELECT event_type,
               LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT), 0),
                     124) AS bin,
               CAST(COUNT(*) AS BIGINT) AS bin_count
        FROM v GROUP BY 1, 2
    ), c AS (
        SELECT event_type, bin, bin_count,
               SUM(bin_count) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               SUM(bin_count) OVER (PARTITION BY event_type) AS total
        FROM h
    ), qs AS (
        SELECT unnest(CAST([0.5, 0.95] AS DOUBLE[])) AS q
    ), est AS (
        SELECT c.event_type, qs.q,
               0.0 + (c.bin + (qs.q * c.total - (c.cum - c.bin_count))
                      / c.bin_count) * 2.0 AS quantile_est,
               ROW_NUMBER() OVER (PARTITION BY c.event_type, qs.q
                                  ORDER BY c.bin) AS rn
        FROM c CROSS JOIN qs
        WHERE c.cum >= qs.q * c.total
    ), ex AS (
        SELECT event_type, 0.5::DOUBLE AS q,
               quantile_cont(value, 0.5) AS exact FROM v GROUP BY 1
        UNION ALL
        SELECT event_type, 0.95::DOUBLE,
               quantile_cont(value, 0.95) FROM v GROUP BY 1
    )
    SELECT e.event_type, e.q, ROUND(e.quantile_est, 6) AS quantile_est,
           ROUND(x.exact, 6) AS exact_quantile,
           ROUND(ABS(e.quantile_est - x.exact), 6) AS abs_err
    FROM est e JOIN ex x ON x.event_type = e.event_type AND x.q = e.q
    WHERE e.rn = 1
    """,
)
def histogram_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p95 from the GROUPED histogram sketch
    (operators/sketches.py::grouped_histogram_table/_quantiles) next to
    the exact per-group percentiles and the realized error — the grouped
    member of the deterministic quantile-sketch family (the |groups|·bins
    sketch answers every group's quantiles without rescanning; per-shard
    tables merge cell-wise per group). All hash-checked, like the global
    variant."""
    from ..operators.sketches import (
        grouped_histogram_quantiles,
        grouped_histogram_table,
    )
    from .queries import _events_normalized

    ev = _events_normalized(spark, sf_dir).filter(F.col("value").isNotNull())
    hist = grouped_histogram_table(
        ev, ["event_type"], "value", _H_LO, _H_HI, _H_BINS
    )
    est = grouped_histogram_quantiles(
        hist, ["event_type"], [0.5, 0.95], _H_LO, _H_HI, _H_BINS
    )
    ex = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.95)").alias("e95"),
    ).selectExpr(
        "event_type", "stack(2, 0.5D, e50, 0.95D, e95) as (q, exact)"
    )
    return est.join(ex, ["event_type", "q"]).select(
        "event_type",
        "q",
        F.round("quantile_est", 6).alias("quantile_est"),
        F.round("exact", 6).alias("exact_quantile"),
        F.round(F.abs(F.col("quantile_est") - F.col("exact")), 6).alias(
            "abs_err"
        ),
    )


@query(
    "period_over_period_revenue",
    """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           ROUND(revenue - lag(revenue) OVER (ORDER BY month), 4) AS mom_delta,
           ROUND((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6) AS mom_pct
    FROM m
    """,
)
def period_over_period_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue reporting: one aggregate to the monthly
    grain, then lag-window deltas OVER THE TINY AGGREGATED SERIES (a few
    dozen rows — the single-partition window is sketch-table-sized, never
    the fact table). The standard BI period-over-period shape, oracle-
    exact including the NULL first month."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        F.round(F.col("revenue") - prev, 4).alias("mom_delta"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )


# --------------------------------------------------------------------------
# Approximate query processing: deterministic-sample SUM with CLT CI.
# --------------------------------------------------------------------------

_AQP_RATE = 0.02
_AQP_BUCKETS = 1_000_000


@query(
    "aqp_sampled_revenue",
    f"""
    WITH s AS (
        SELECT l_extendedprice AS v FROM lineitem
        WHERE {_FOLD8.format(x="CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)")}
              % {_AQP_BUCKETS} < {_AQP_RATE} * {_AQP_BUCKETS}
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               SUM(v) / {_AQP_RATE} AS sum_est,
               SUM(v) / {_AQP_RATE}
               - 1.96 * SQRT((1.0 - {_AQP_RATE}) * SUM(v * v))
                 / {_AQP_RATE} AS ci_low,
               SUM(v) / {_AQP_RATE}
               + 1.96 * SQRT((1.0 - {_AQP_RATE}) * SUM(v * v))
                 / {_AQP_RATE} AS ci_high,
               CAST(COUNT(*) / {_AQP_RATE} AS BIGINT) AS count_est
        FROM s
    ), ex AS (
        SELECT SUM(l_extendedprice) AS exact_sum,
               CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM lineitem
    )
    SELECT a.n_sampled, ROUND(a.sum_est, 4) AS sum_est,
           ROUND(a.ci_low, 4) AS ci_low, ROUND(a.ci_high, 4) AS ci_high,
           a.count_est, ROUND(x.exact_sum, 4) AS exact_sum, x.exact_count,
           x.exact_sum BETWEEN a.ci_low AND a.ci_high AS ci_covers_exact
    FROM agg a CROSS JOIN ex x
    """,
)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-query-processing revenue estimate
    (operators/sampling.py::sampled_sum_estimate): total lineitem revenue
    from a deterministic 2% md5 sample with a CLT 95% confidence
    interval, next to the exact answer and whether the CI covers it. The
    sample is a pure function of the row key, so the approximate estimate
    itself is oracle-hashable — cross-engine-identical rows, something an
    RNG-sampled estimator can never provide. At 100 TB this is the
    dashboard path: 2% of the scan for an answer whose error is priced in
    the output."""
    from ..operators.sampling import sampled_sum_estimate

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "__rk", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    est = sampled_sum_estimate(
        li, "__rk", "l_extendedprice", rate=_AQP_RATE, buckets=_AQP_BUCKETS
    )
    exact = li.agg(
        F.sum("l_extendedprice").alias("exact_sum"),
        F.count(F.lit(1)).alias("exact_count"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_sampled",
        F.round("sum_est", 4).alias("sum_est"),
        F.round("ci_low", 4).alias("ci_low"),
        F.round("ci_high", 4).alias("ci_high"),
        "count_est",
        F.round("exact_sum", 4).alias("exact_sum"),
        "exact_count",
        F.col("exact_sum").between(F.col("ci_low"), F.col("ci_high")).alias(
            "ci_covers_exact"
        ),
    )
