"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json). Three tiers:

  * ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
    set against the full corpus; dot products are JVM-side ``zip_with`` +
    ``aggregate`` expressions (no Python). O(|Q|·N) — the correctness
    baseline and fine whenever |Q| is bounded.
  * ``brp_lsh_ann`` — MLlib BucketedRandomProjectionLSH approximate NN: the
    at-scale path (hash once, bucket-join, refine) for large query sets.
  * ``ivf_topk`` — inverted-file ANN: KMeans centroids (seeded), probe the
    ``nprobe`` nearest centroids only — corpus is bucketed by centroid so the
    scan touches ~nprobe/k of the data. The classic FAISS-IVF shape on
    DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..session import local_rows_df

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (qid, nid, cosine, rk). Queries are broadcast (they must be the
    small side); ranking uses round(cosine, 9) with id tie-break so results
    are deterministic across engines and runs.
    """
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("ne"))
    dot = F.expr(DOT.format(a="qe", b="ne"))
    nq = F.expr(NORM.format(a="qe"))
    nn = F.expr(NORM.format(a="ne"))
    pairs = (
        c.join(F.broadcast(q))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", (dot / (nq * nn)).alias("cos_raw"))
    )
    w = Window.partitionBy("qid").orderBy(F.round(F.col("cos_raw"), 9).desc(), F.col("nid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", F.round("cos_raw", 6).alias("cosine"), "rk")
    )


def hard_negatives_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-``k`` most
    cosine-similar CORPUS vectors carrying a DIFFERENT label — the
    contrastive/metric-learning data step (triplet mining, retrieval
    training, reranker negatives) where "hard" means maximally similar yet
    wrong. Returns (qid, q_label, nid, n_label, cosine, rk).

    Same contract as ``cosine_topk``: queries broadcast (they must be the
    small side), deterministic ranking via round(cosine, 9) with id
    tie-break. The label-mismatch predicate filters BEFORE the rank
    window, so the per-query sort only sees negative candidates. Rows with
    a NULL label (unlabeled) are never negatives — ``!=`` is NULL-reject
    on either side — which is the safe default for mined training pairs.

    At corpus scale, route candidate generation through ``ivf_search`` /
    ``brp_lsh_ann`` with an over-fetch factor and apply the same
    label-mismatch filter + exact re-rank to the candidates; this exact
    operator is the bounded-|Q| path and the recall oracle."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("ne"),
        F.col(label_col).alias("n_label"),
    )
    dot = F.expr(DOT.format(a="qe", b="ne"))
    nq = F.expr(NORM.format(a="qe"))
    nn = F.expr(NORM.format(a="ne"))
    pairs = (
        c.join(F.broadcast(q))
        .filter((F.col("qid") != F.col("nid")) & (F.col("q_label") != F.col("n_label")))
        .select("qid", "q_label", "nid", "n_label", (dot / (nq * nn)).alias("cos_raw"))
    )
    w = Window.partitionBy("qid").orderBy(F.round(F.col("cos_raw"), 9).desc(), F.col("nid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "q_label", "nid", "n_label", F.round("cos_raw", 6).alias("cosine"), "rk")
    )


#: ``cosine_allpairs`` refuses corpora larger than this (driver-collect +
#: broadcast matrix ≈ 8 B × rows × dim; 200k × 128-d ≈ 200 MB — the upper
#: end of what a driver/executor broadcast should carry). The unbounded
#: path is ``embedding_neardup_pairs`` (LSH bucket join, never all-pairs).
ALLPAIRS_MAX_ROWS = 200_000


def cosine_allpairs(
    corpus: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_rows: int = ALLPAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via Arrow-batched numpy matmul.

    Spark's higher-order-function expressions (zip_with/aggregate) are
    INTERPRETED, not codegen'd — at |corpus|² pairs they are ~100× slower
    than this vectorized path: the corpus matrix is broadcast once
    (8 bytes × n × dim — bounded-corpus operator by definition, like any
    exact all-pairs computation; LSH is the unbounded path) and each
    partition computes a (batch × corpus) matmul in one BLAS call.

    Guarded: a corpus over ``max_rows`` raises ``ValueError`` instead of
    OOMing the driver — at that size use ``embedding_neardup_pairs``
    (LSH bucket join) and verify only its candidates exactly.

    Returns (id_a, id_b, cosine) with id_a < id_b, matching the
    ``dot/(|a||b|)`` formula bit-for-bit within round_digits.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # limit(n+1).count() stops the scan after max_rows+1 rows — O(max_rows)
    # even on a 100 TB corpus, unlike a full count().
    n_probe = corpus.select(id_col).limit(max_rows + 1).count()
    if n_probe > max_rows:
        raise ValueError(
            f"cosine_allpairs: corpus exceeds max_rows={max_rows} "
            f"(driver-collect + broadcast matrix would not fit); use "
            f"cosine_allpairs_blocked (distributed exact, no collect) or "
            f"semantic_dedup / the IVF index family for corpora this size"
        )

    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    bc = corpus.sparkSession.sparkContext.broadcast((ids, M, norms))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def gen(batches):
        ids_b, Mb, nb = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            A = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            na = np.linalg.norm(A, axis=1)
            C = (A @ Mb.T) / (na[:, None] * nb[None, :])
            # id_a < id_b plus the threshold on the 9-dp-rounded value
            # (identical decision rule to the SQL oracle)
            mask = (a_ids[:, None] < ids_b[None, :]) & (
                np.round(C, 9) >= min_cosine
            )
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": ids_b[bi],
                    "cosine": np.round(C[ai, bi], round_digits),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(gen, out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    bucket_length: float = 0.25,
    num_hash_tables: int = 3,
    method: str = "auto",
    exact_cutover_docs: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine@6dp)
    for every pair with cosine ≥ ``min_cosine``.

    ``method`` (r10):

    * ``'exact'`` — the blocked BLAS matmul
      (``cosine_allpairs_blocked``): exact, distributed, no collect.
    * ``'brp'`` — MLlib BucketedRandomProjectionLSH
      ``approxSimilarityJoin`` on normalized vectors (Euclidean threshold
      sqrt(2 − 2·min_cosine) ⇔ the cosine bound). Seed-dependent recall.
    * ``'auto'`` (default) — ``'exact'`` up to ``exact_cutover_docs``
      (limit-probe); ABOVE the cutover it raises rather than silently
      selecting a dominated regime (r11): the measurements below show
      BRP at d ≲ 100 enumerates ~half of all |corpus|² pairs through a
      per-pair deserializing UDF — strictly worse than the exact matmul
      at the same pair count — so past the exact path's flops budget the
      correct tool is ``semantic_dedup`` (KMeans-cell bucketed exact) or
      ``build_ivf_index``/``ivf_search``, and the raise says so. The
      ``'brp'`` leg stays reachable by explicit name for its
      recall-gated ANN coverage.

    Id contract (r11): the exact route delegates to
    ``cosine_allpairs_blocked``, which casts ``id_col`` to ``long`` —
    non-integral ids (e.g. strings) would silently become NULL and
    collapse the output. ``'auto'`` therefore routes non-integral-id
    frames to ``'brp'`` (which preserves arbitrary id types, matching
    pre-r10 behavior), and an explicit ``method='exact'`` with a
    non-integral id column raises.

    Routing rationale — measured, r10: Spark's BRP is ONE random
    projection per table with OR-amplification only, and a unit vector's
    projection spread is 1/√d (0.125 at d=64), so equal-width buckets
    cannot cut the central mass: ``brp_bucket_occupancy`` measures
    collision_frac ≈ 0.48 PER TABLE at the calibrated 0.25 geometry —
    the join enumerates ~half of all |corpus|² candidate pairs, each
    paying a per-pair UDF distance with two VectorUDT deserializations
    (jstack-confirmed hot path). At the sf1 rehearsal's 20k vectors
    that is ~1900 s, while the exact blocked matmul computes ALL pairs
    in 2.8 s — BLAS flops are ~600× cheaper than per-pair UDF calls at
    equal pair counts, so at d ≲ 100 the "approximate" path is strictly
    dominated at any corpus size where either is feasible. (The r09
    bucketLength recalibration — 0.5 ≈ 4σ put the whole corpus in ONE
    bucket — fixed a silent degeneracy but cannot fix the ~0.5 per-table
    collision floor; sweep: 0.125/4 → recall 0.823, 0.25/3 → 0.934.)
    At corpora past the exact path's quadratic-flops budget, neither
    regime here is the answer: use ``semantic_dedup`` (KMeans-cell
    bucketed exact) or the IVF index family — cell joins are the
    embedding analogue of MinHash banding, with measured sf1 walls of
    23.6 s / 10.8 s."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT  # noqa: F401  (documents the type)

    if method not in ("auto", "exact", "brp"):
        raise ValueError("embedding_neardup_pairs: method must be auto|exact|brp")
    id_integral = isinstance(
        df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if method == "exact" and not id_integral:
        raise TypeError(
            f"embedding_neardup_pairs(method='exact'): id column {id_col!r} "
            f"is {df.schema[id_col].dataType.simpleString()}, but the exact "
            f"block-matmul path casts ids to long — non-integral ids would "
            f"silently become NULL. Use an integral id, or method='brp' "
            f"(preserves arbitrary id types)."
        )
    if method == "auto":
        if not id_integral:
            # pre-r10 behavior for arbitrary id types: the BRP leg carries
            # ids through untouched. Documented in the id contract above.
            method = "brp"
        else:
            probed = df.select(id_col).limit(exact_cutover_docs + 1).count()
            if probed > exact_cutover_docs:
                # Guard doctrine (cf. ngram_jaccard_pairs max_docs raise,
                # semantic_dedup giant-cell raise): above the exact flops
                # budget, silently routing to BRP would enumerate ~half of
                # all |corpus|^2 pairs through a per-pair deserializing UDF
                # (collision_frac ~= 0.48/table at d=64, measured by
                # brp_bucket_occupancy) — a 100x-scale-up killer, not an
                # approximation. Refuse and point at the scale paths.
                raise ValueError(
                    f"embedding_neardup_pairs(method='auto'): corpus exceeds "
                    f"exact_cutover_docs={exact_cutover_docs} and Spark's BRP "
                    f"LSH is structurally non-pruning at this dimensionality "
                    f"(collision_frac ~0.48 per table at d=64 — see "
                    f"brp_bucket_occupancy). For corpora this size use "
                    f"semantic_dedup (KMeans-cell bucketed exact near-dup) or "
                    f"build_ivf_index/ivf_search (partition-pruned ANN); pass "
                    f"method='brp' explicitly only if you accept the "
                    f"near-quadratic candidate join."
                )
            method = "exact"
    if method == "exact":
        return cosine_allpairs_blocked(
            df, min_cosine, id_col=id_col, vec_col=vec_col
        ).select("id_a", "id_b", "cosine")

    unit = F.expr(
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / ({NORM.format(a=vec_col)}))"
    )
    feat = df.select(F.col(id_col), array_to_vector(unit).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(feat)
    thresh = math.sqrt(max(2.0 - 2.0 * min_cosine, 0.0))
    joined = model.approxSimilarityJoin(feat, feat, thresh, distCol="dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("cosine"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def brp_bucket_occupancy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.25,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-hash-table bucket-occupancy diagnostics for a BRP-LSH geometry:
    one row per table with ``n_buckets`` (distinct hash values),
    ``max_frac`` (largest bucket's share of the corpus) and
    ``collision_frac`` (Σ(cᵢ/N)² — the fraction of all vector pairs the
    in-bucket candidate join would enumerate in that table).

    Exists because the r09 degeneracy was SILENT: ``bucketLength=0.5``
    (~4σ of a unit vector's 1/√d projection spread) collapsed every table
    to essentially one bucket, which made ``approxSimilarityJoin`` an
    in-bucket cross join — recall looked perfect at gate scale precisely
    because the join was exhaustive, and nothing structural failed until
    the sf1 rehearsal measured 1711 s. This surface makes the degeneracy
    class a loud, assertable property (see
    ``test_brp_bucket_occupancy_guards_geometry``): a healthy geometry
    keeps ``n_buckets`` well above 1 and ``collision_frac`` ≪ 1 per
    table. Cost: one LSH fit + transform + two bounded aggs — run it at a
    gate SF whenever the geometry, seed, or embedding dimension changes."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    unit = F.expr(
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / ({NORM.format(a=vec_col)}))"
    )
    feat = df.select(F.col(id_col), array_to_vector(unit).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    buckets = (
        lsh.fit(feat)
        .transform(feat)
        .select(F.posexplode("hashes").alias("tbl", "h"))
        .select("tbl", vector_to_array(F.col("h"))[0].alias("bucket"))
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        buckets.groupBy("tbl")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (F.max("c") / F.sum("c")).alias("max_frac"),
            (F.sum(F.col("c") * F.col("c")) / (F.sum("c") * F.sum("c"))).alias(
                "collision_frac"
            ),
        )
        .orderBy("tbl")
    )


def brp_lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH approxSimilarityJoin
    between the query set and corpus (normalized → cosine ordering).

    Bucket geometry follows the ``embedding_neardup_pairs`` r09
    calibration (projection std ≈ 1/√d for unit vectors): 0.25-wide
    buckets with 6 OR-tables measure recall 0.980 avg / 0.800 min at the
    sf0.01 gate — identical to the old 0.5/4 (which put most of the
    corpus in one bucket per table, hiding the join's selectivity) —
    while keeping per-table buckets cluster-sized so the candidate join
    stays output-proportional on dense corpora."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    unit = F.expr(
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / ({NORM.format(a=vec_col)}))"
    )
    feat_c = corpus.select(F.col(id_col).alias("nid"), array_to_vector(unit).alias("features"))
    feat_q = queries.select(F.col(id_col).alias("qid"), array_to_vector(unit).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.25, numHashTables=6, seed=42
    )
    model = lsh.fit(feat_c)
    joined = model.approxSimilarityJoin(feat_q, feat_c, 2.0, distCol="dist")
    pairs = joined.select(
        F.col("datasetA.qid").alias("qid"),
        F.col("datasetB.nid").alias("nid"),
        F.col("dist"),
    ).filter(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("cosine"), "rk")
    )


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> None:
    """Build a persistent IVF index: fit seeded KMeans ONCE over the corpus,
    then write

      * ``{index_dir}/corpus`` — the (nid, ne) vectors as parquet
        PARTITIONED BY ``centroid``, so a probe scan that filters on
        centroid ids is partition-pruned (reads ~nprobe/n_centroids of the
        data, the FAISS-IVF property), and
      * ``{index_dir}/centroids`` — the n_centroids (centroid, cvec) rows.

    This is the 100 TB shape: the expensive corpus pass (train + assign +
    re-layout) happens once at build time; every subsequent query batch is
    a probe-only ``ivf_search`` that never re-fits anything.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("ne"),
        array_to_vector(F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")).alias(
            "features"
        ),
    )
    km = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter,
        featuresCol="features", predictionCol="centroid",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).select("nid", "ne", "centroid")
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(
        f"{index_dir}/corpus"
    )
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    # one-slice local frame (see session.local_rows_df): the default
    # createDataFrame parallelization made this 16-row write the query's
    # single biggest wall at local[32] (4-5 s) and the source of its
    # 8-vs-32-core anti-scaling (r11 VERDICT #6)
    centers_df = local_rows_df(
        corpus.sparkSession, centers, "centroid bigint, cvec array<double>"
    )
    centers_df.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-only IVF ANN over an index built by ``build_ivf_index`` — no
    KMeans fit, no full-corpus pass.

    Each query ranks the (tiny, broadcast) centroid table and keeps its
    ``nprobe`` nearest cells; the union of probed cells (≤ n_centroids ids
    — a bounded driver collect by construction) becomes a STATIC partition
    filter on the bucketed corpus scan, so the scan physically reads only
    the probed partitions (``PartitionFilters`` in the plan, not a
    post-scan filter). Scoring then joins probes to the pruned corpus on
    ``centroid`` and takes per-query top-k.
    """
    centers_df = spark.read.parquet(f"{index_dir}/centroids")
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    qc = q.join(F.broadcast(centers_df))
    cdot = F.expr(DOT.format(a="qe", b="cvec"))
    cnq, cnc = F.expr(NORM.format(a="qe")), F.expr(NORM.format(a="cvec"))
    qc = qc.select("qid", "qe", "centroid", (cdot / (cnq * cnc)).alias("ccos"))
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("centroid"))
    probes = qc.withColumn("prk", F.row_number().over(wq)).filter(F.col("prk") <= nprobe)

    # bounded collect: the probed-cell union can never exceed n_centroids
    # ids, independent of corpus or query-batch size
    probed_cells = [r[0] for r in probes.select("centroid").distinct().collect()]
    assigned = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("centroid").isin(probed_cells)
    )

    pairs = probes.join(assigned, on="centroid").filter(F.col("qid") != F.col("nid"))
    dot = F.expr(DOT.format(a="qe", b="ne"))
    nq, nn = F.expr(NORM.format(a="qe")), F.expr(NORM.format(a="ne"))
    scored = pairs.select("qid", "nid", (dot / (nq * nn)).alias("cos_raw"))
    w = Window.partitionBy("qid").orderBy(F.round(F.col("cos_raw"), 9).desc(), F.col("nid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", F.round("cos_raw", 6).alias("cosine"), "rk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_dir: str | None = None,
) -> DataFrame:
    """One-shot convenience over ``build_ivf_index`` + ``ivf_search``:
    builds a transient index (under ``index_dir``, or a fresh temp dir) and
    probes it. Anyone issuing repeated query batches should call
    ``build_ivf_index`` once and ``ivf_search`` per batch — the build is a
    full corpus pass (KMeans fit + bucketed rewrite) and must not be paid
    per query."""
    import tempfile

    d = index_dir or tempfile.mkdtemp(prefix="ivf_index_")
    build_ivf_index(corpus, d, n_centroids, id_col, vec_col)
    return ivf_search(corpus.sparkSession, d, queries, k, nprobe, id_col, vec_col)


def hard_negatives_ann(
    spark,
    index_dir: str,
    queries: DataFrame,
    labels: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The at-scale path of ``hard_negatives_topk``: candidates come from
    a probe-only ``ivf_search`` over a prebuilt index (never a full-corpus
    scan per batch), over-fetched ``overfetch``× so the label filter has
    enough same-label survivors to discard, then label-mismatch-filtered
    and re-ranked to exact top-``k``. ``labels`` maps ``id_col`` →
    ``label_col`` for the corpus side; queries carry their own label
    column. NULL labels never pair (same contract as the exact operator).

    Recall caveat (same as any IVF search, measured by the caller's
    ``topk_recall`` gate): a hard negative living in an unprobed cell is
    missed; raise ``nprobe``/``overfetch`` to trade scan for recall. The
    over-fetch matters specifically here because the TRUE k-th hard
    negative may sit below k same-label neighbors in raw cosine order."""
    cand = ivf_search(
        spark, index_dir, queries, k=k * overfetch, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )
    q_lab = queries.select(
        F.col(id_col).alias("qid"), F.col(label_col).alias("q_label")
    )
    n_lab = labels.select(
        F.col(id_col).alias("nid"), F.col(label_col).alias("n_label")
    )
    filt = (
        cand.join(F.broadcast(q_lab), "qid")
        .join(n_lab, "nid")
        .filter(F.col("q_label") != F.col("n_label"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("nid")
    )
    return (
        filt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "q_label", "nid", "n_label", "cosine", "rk")
    )


def sampled_pair_audit(
    docs: DataFrame,
    id_col: str,
    approx: DataFrame,
    exact_fn,
    sample_pct: int = 30,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """The 100 TB recall-audit pattern: ground truth computed ONLY on a
    deterministic document sample, never the full corpus.

    At unbounded scale an exact all-pairs ground truth is impossible — the
    production audit instead md5-buckets ``sample_pct`` % of documents
    (engine-portable, partition-independent; operators/sampling.py), runs
    the caller's exact builder on that subset alone (quadratic work drops
    by sample²), restricts the approximate pair set to pairs with BOTH
    endpoints sampled (an unbiased pair sample under independent doc
    sampling), and compares with ``pair_recall_summary``. Output adds
    ``n_sampled_docs`` so a too-small audit is visible, and recall is NULL
    (not a fake 0 or 1) when the sample contains no exact pair to measure.
    """
    from ..operators.sampling import hash_bucket

    # Sample membership is a PURE FUNCTION of the id (md5 bucket < pct),
    # so it needs no id-list materialization at all: map-only filters on
    # both frames, fused into their scans. The previous shape semi-joined
    # a forced-broadcast id sample — corpus-proportional (10-30% of ALL
    # doc ids), i.e. the same 10^8-doc driver-OOM class as the r10
    # shingle-size de-broadcast (VERDICT r09 #1), and strictly more work
    # than re-evaluating one md5 per row.
    sampled_docs = docs.filter(hash_bucket(F.col(id_col)) < sample_pct)
    approx_s = approx.filter(
        (hash_bucket(F.col(id_a)) < sample_pct)
        & (hash_bucket(F.col(id_b)) < sample_pct)
    )
    exact_s = exact_fn(sampled_docs)
    n_docs = sampled_docs.agg(F.count(F.lit(1)).alias("n_sampled_docs"))
    summary = pair_recall_summary(approx_s, exact_s, id_a, id_b)
    return summary.crossJoin(F.broadcast(n_docs)).select(
        "n_exact",
        "n_approx",
        F.when(F.col("n_exact") > 0, F.col("recall_vs_exact")).alias(
            "recall_vs_exact"
        ),
        "n_false_positive",
        "n_sampled_docs",
    )


def semantic_dedup(
    corpus: DataFrame,
    min_cosine: float = 0.35,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    max_cell_rows: int = 200_000,
    max_split_depth: int = 3,
    index_dir: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): embedding
    near-duplicates are detected WITHIN KMeans cells only, so the pairwise
    work is one bounded BLAS task per cell instead of corpus².

    1. seeded KMeans partitions the corpus into ``n_cells`` semantic cells.
       Pass ``index_dir`` (a layout written by ``build_ivf_index`` over the
       SAME corpus) to skip the fit entirely and reuse the persisted
       centroid-partitioned assignment — the 100 TB path: cluster once at
       index-build time, dedup from the clustered layout;
    2. ONE Arrow task per cell does everything local to the cell: pairwise
       cosine ≥ ``min_cosine`` via an in-task matmul, then union-find over
       the resulting edges. Because edges never cross cells, components are
       cell-local BY CONSTRUCTION — no distributed label-propagation rounds
       at all (the iterative ``connected_components`` loop measured 27 s on
       this graph's long random-embedding chains vs ~0 in-task);
    3. the min-id member is the kept representative; survivors are
       representatives plus edge-free rows.

    Skew guard: one |cells|-row count aggregate checks every cell against
    ``max_cell_rows`` BEFORE any Arrow task materializes it (the per-task
    cost is |cell|² — a hot cell on a skewed real corpus would otherwise
    OOM an executor silently). Oversized cells are recursively re-clustered
    into ⌈|cell|/max_cell_rows⌉+1 sub-cells, up to ``max_split_depth``
    rounds; a cell that cannot be split (KMeans makes no progress —
    e.g. all-identical vectors — or depth is exhausted) raises, naming the
    cell and pointing at ``n_cells``/``max_cell_rows``. Splitting trades
    recall exactly like the cell partition itself does, and the declared
    query's ``pair_recall_vs_exact`` column measures that loss.

    Returns (id, cell, component, keep). Cross-cell near-dup pairs are
    invisible by construction — the SemDeDup approximation; the declared
    query quantifies that miss rate against the exact blocked all-pairs
    companion instead of leaving it as prose.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    def _featurize(df: DataFrame, idc, vecc) -> DataFrame:
        return df.select(
            F.col(idc).cast("long").alias("id"),
            F.col(vecc).alias("vec"),
            array_to_vector(
                F.expr(f"transform({vecc}, x -> CAST(x AS DOUBLE))")
            ).alias("features"),
        )

    if index_dir is not None:
        # reuse the persisted IVF layout: assignment already computed (and
        # physically clustered by cell) at build time — no fit, no full
        # KMeans pass; the scan is the partitioned index corpus itself.
        # On this path the index REPLACES the corpus argument (n_cells /
        # id_col / vec_col come from build time too), so validate it IS the
        # same corpus: a stale or mismatched index would otherwise silently
        # dedup different data than the caller passed (r05 ADVICE). Both
        # counts are parquet-metadata-cheap.
        assigned = corpus.sparkSession.read.parquet(f"{index_dir}/corpus").select(
            F.col("nid").cast("long").alias("id"),
            F.col("ne").alias("vec"),
            F.col("centroid").cast("int").alias("cell"),
        )
        n_index, n_corpus = assigned.count(), corpus.count()
        if n_index == 0:
            raise ValueError(
                f"semantic_dedup: index at {index_dir} is empty — rebuild it "
                f"with build_ivf_index over the corpus first"
            )
        if n_index != n_corpus:
            raise ValueError(
                f"semantic_dedup: index at {index_dir} holds {n_index} rows "
                f"but the passed corpus holds {n_corpus} — the index is stale "
                f"or was built from a different corpus; rebuild it or pass "
                f"index_dir=None to cluster the corpus directly"
            )
    else:
        feat = _featurize(corpus, id_col, vec_col)
        km = KMeans(
            k=n_cells, seed=seed, maxIter=max_iter,
            featuresCol="features", predictionCol="cell",
        )
        assigned = km.fit(feat).transform(feat).select("id", "vec", "cell")

    # ---- giant-cell guard: sizes are one |cells|-row agg (bounded collect)
    if index_dir is None:
        next_label = n_cells
    else:
        next_label = assigned.agg(F.max("cell")).first()[0] + 1
    for depth in range(max_split_depth + 1):
        sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        oversized = [(r["cell"], r["n"]) for r in sizes if r["n"] > max_cell_rows]
        if not oversized:
            break
        if depth == max_split_depth:
            worst = max(oversized, key=lambda cn: cn[1])
            raise ValueError(
                f"semantic_dedup: cell {worst[0]} still holds {worst[1]} rows "
                f"(> max_cell_rows={max_cell_rows}) after {max_split_depth} "
                f"split rounds; the per-cell matmul is |cell|^2 and would OOM "
                f"the executor. Raise n_cells, raise max_cell_rows, or "
                f"exact-dedup identical vectors first."
            )
        keep_part = assigned.filter(
            ~F.col("cell").isin([c for c, _ in oversized])
        )
        split_parts = [keep_part]
        for cell_id, n in oversized:
            sub = _featurize(
                assigned.filter(F.col("cell") == cell_id), "id", "vec"
            )
            k = min(math.ceil(n / max_cell_rows) + 1, n)
            sub_km = KMeans(
                k=k, seed=seed + 1 + depth, maxIter=max_iter,
                featuresCol="features", predictionCol="__sub",
            )
            relabeled = (
                sub_km.fit(sub).transform(sub)
                .select(
                    "id", "vec",
                    (F.col("__sub") + F.lit(next_label)).cast("int").alias("cell"),
                )
            )
            # no-progress probe (k tiny rows): all mass in one sub-cell means
            # the cell is unsplittable (identical/near-identical vectors)
            sub_sizes = [
                r["n"]
                for r in relabeled.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ]
            if max(sub_sizes) >= n:
                raise ValueError(
                    f"semantic_dedup: cell {cell_id} ({n} rows > "
                    f"max_cell_rows={max_cell_rows}) cannot be split — KMeans "
                    f"left all rows in one sub-cell (identical or "
                    f"near-identical vectors). Exact-dedup identical vectors "
                    f"first, or raise max_cell_rows."
                )
            next_label += k
            split_parts.append(relabeled)
        assigned = split_parts[0]
        for p in split_parts[1:]:
            assigned = assigned.unionByName(p)
        # materialize between split rounds (sf1 rehearsal finding): the
        # next depth's per-cell KMeans fits each re-execute this union's
        # lineage — which itself chains every earlier round's KMeans
        # transforms — so without truncation the re-execution work grows
        # quadratically with depth (measured: a forced 8-cell split at
        # 20k rows ran 25+ min; checkpointed it is seconds)
        assigned = assigned.localCheckpoint(eager=True)

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("component", T.LongType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def cell_dedup(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy(dtype=np.int64)
        cell = pdf["cell"].to_numpy(dtype=np.int32)
        parent = np.arange(len(ids))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        if len(ids) >= 2:
            m = np.array(pdf["vec"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            c = m @ m.T
            # same decision rule as the exact blocked path: round, compare
            mask = np.round(c, 9) >= min_cosine
            mask &= ids[:, None] < ids[None, :]
            for a, b in zip(*np.nonzero(mask)):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    parent[rb] = ra
        roots = np.array([find(int(i)) for i in range(len(ids))])
        # component label = min member id (deterministic representative)
        comp_min: dict[int, int] = {}
        for i, r in enumerate(roots):
            comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
        component = np.array([comp_min[r] for r in roots], dtype=np.int64)
        return pd.DataFrame(
            {
                "id": ids,
                "cell": cell,
                "component": component,
                "keep": ids == component,
            }
        )

    return assigned.groupBy("cell").applyInPandas(cell_dedup, out_schema)


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k result against its exact
    companion: (qid, recall_vs_exact) where recall = |approx ∩ exact| /
    |exact| for that qid. Both inputs carry (qid, nid) rows. The join keys
    are ids, not scores, so float noise cannot flip the measurement.

    Single-pass: one left join from exact onto approx + one aggregate, so
    each input's (possibly expensive) subtree appears exactly once in the
    plan — callers that also emit the approx rows should materialize the
    tiny approx result (``localCheckpoint``) rather than let the search
    re-run per reference."""
    e = exact.select("qid", "nid")
    a = approx.select("qid", "nid").withColumn("__in_a", F.lit(1))
    return (
        e.join(a, on=["qid", "nid"], how="left")
        .groupBy("qid")
        .agg(
            F.round(F.count("__in_a") / F.count(F.lit(1)), 6).alias(
                "recall_vs_exact"
            )
        )
    )


def pair_recall_summary(
    approx: DataFrame, exact: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """One-row (n_exact, n_approx, recall_vs_exact, n_false_positive)
    comparing two undirected pair sets (id_a < id_b convention on both
    sides). A false positive is an approx pair absent from the exact set.

    Single-pass: one full-outer join + one aggregate, so the approx and
    exact subtrees each appear exactly once in the plan (the previous
    four-aggregate formulation recomputed each side up to three times —
    a 3-4x wall-clock amplification when the sides are LSH pipelines or
    inverted-index Jaccard scans)."""
    a = approx.select(id_a, id_b).withColumn("__in_a", F.lit(1))
    e = exact.select(id_a, id_b).withColumn("__in_e", F.lit(1))
    j = a.join(e, on=[id_a, id_b], how="full_outer")
    return j.agg(
        F.count("__in_e").alias("n_exact"),
        F.count("__in_a").alias("n_approx"),
        F.round(
            F.count(F.when(F.col("__in_a").isNotNull(), F.col("__in_e")))
            / F.greatest(F.count("__in_e"), F.lit(1)),
            6,
        ).alias("recall_vs_exact"),
        F.count(F.when(F.col("__in_e").isNull(), F.col("__in_a"))).alias(
            "n_false_positive"
        ),
    )


def cosine_allpairs_blocked(
    corpus: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver collect — the
    distributed complement to ``cosine_allpairs`` (which broadcasts the
    whole corpus matrix and is row-capped for that reason).

    Block decomposition: rows hash into ``n_blocks`` blocks; the
    B·(B+1)/2 unordered block pairs each become one cogroup task that
    runs a single BLAS matmul over its two blocks. Every unordered row
    pair lands in exactly one block pair, so results are exact and
    duplicate-free. Each row is shuffled to B+1 block pairs, i.e. total
    shuffle volume is O(N·B) while per-task memory is O((N/B)·dim) —
    pick ``n_blocks`` ≈ corpus_bytes / executor_budget and the operator
    scales to corpora that could never be broadcast. The quadratic
    compute is inherent to EXACT all-pairs (use the LSH path
    ``embedding_neardup_pairs`` when approximate recall is acceptable);
    this shape just makes it embarrassingly parallel: B²/2 independent
    matmul tasks, no task ever sees more than two blocks.

    Decision rule (round to 9 dp, then compare) and output schema
    (id_a < id_b, cosine rounded to ``round_digits``) are bit-identical
    to ``cosine_allpairs`` and its SQL oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    block_pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]

    # one lineage, role-tagged self-UNION (r11, same restructuring as
    # ext.dedup._dense_pair_blocks): the old per-side fresh lineage
    # re-executed the corpus subtree per cogroup side (expensive when the
    # caller passes a derived frame, e.g. a sampled audit slice), and the
    # two-sided cogroup needed two grouped exchanges where the union
    # needs one; the block function splits roles per block pair
    tagged = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    # one-slice local frame (see session.local_rows_df)
    pair_df = local_rows_df(spark, block_pairs, "ba int, bb int")
    a_side = tagged.join(
        F.broadcast(pair_df), F.col("blk") == F.col("ba")
    ).select("ba", "bb", F.lit(0).alias("role"), "id", "vec")
    b_side = tagged.join(
        F.broadcast(pair_df), F.col("blk") == F.col("bb")
    ).select("ba", "bb", F.lit(1).alias("role"), "id", "vec")
    both = a_side.unionByName(b_side)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def block_matmul(key, pdf):
        ba, bb = key
        a_pdf = pdf[pdf["role"] == 0]
        b_pdf = pdf[pdf["role"] == 1]
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        a_ids = a_pdf["id"].to_numpy(dtype=np.int64)
        b_ids = b_pdf["id"].to_numpy(dtype=np.int64)
        A = np.array(a_pdf["vec"].tolist(), dtype=np.float64)
        B = np.array(b_pdf["vec"].tolist(), dtype=np.float64)
        C = (A @ B.T) / (
            np.linalg.norm(A, axis=1)[:, None] * np.linalg.norm(B, axis=1)[None, :]
        )
        # within-block pairs would otherwise appear twice (and self-pairs
        # once); id ordering picks each unordered pair exactly once
        mask = np.round(C, 9) >= min_cosine
        if ba == bb:
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(mask)
        ida, idb = a_ids[ai], b_ids[bi]
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(C[ai, bi], round_digits)}
        )

    return both.groupBy("ba", "bb").applyInPandas(block_matmul, out_schema)


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    with_sums: bool = False,
) -> DataFrame:
    """Population covariance matrix of the embedding column as a tidy
    ``(i, j, n_vecs, cov)`` table, upper triangle (i ≤ j).

    Scale shape — the d²-partials pattern: each partition reduces its rows
    to ONE d×d outer-product partial (numpy BLAS ``X.T @ X`` inside
    ``mapInPandas``) plus per-dimension sums, so the exchange carries
    |partitions|·d² tiny partial rows, never the vectors themselves; a
    d²-key hash agg finishes. d=64 → 2 080 output rows regardless of
    corpus size: covariance of 100 TB of vectors is one scan + a
    constant-size shuffle. This is the statistic PCA / whitening /
    Mahalanobis pipelines precompute offline.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            p = x.T @ x  # d×d product-sum partial
            s = x.sum(axis=0)  # per-dim sum partial
            iu, ju = np.triu_indices(x.shape[1])
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "pxy": p[iu, ju],
                    "psi": s[iu],
                    "psj": s[ju],
                    "pn": np.full(len(iu), len(pdf), dtype="int64"),
                }
            )

    part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
        partials,
        schema="i int, j int, pxy double, psi double, psj double, pn long",
    )
    agg = part.groupBy("i", "j").agg(
        F.sum("pxy").alias("sxy"),
        F.sum("psi").alias("si"),
        F.sum("psj").alias("sj"),
        F.sum("pn").alias("n_vecs"),
    )
    cov = (
        F.col("sxy") / F.col("n_vecs")
        - (F.col("si") / F.col("n_vecs")) * (F.col("sj") / F.col("n_vecs"))
    )
    cols = ["i", "j", "n_vecs", cov.alias("cov")]
    if with_sums:
        # per-dimension raw sums ride along (diagonal row (i,i) carries
        # sum of x_i) so downstream fits derive the mean vector without a
        # second corpus scan
        cols.append(F.col("si").alias("s_i"))
    return agg.select(*cols)


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> tuple[list[float], list[list[float]], list[float], float]:
    """Fit PCA from the distributed covariance: collect the d×d covariance
    table (tiny and corpus-size-independent — the ONLY thing that ever
    reaches the driver), eigendecompose with ``numpy.linalg.eigh``, and
    return ``(mean, components, eigenvalues, total_var)`` with a
    deterministic sign convention (each component's largest-|x| entry is
    positive) so repeated fits are bit-comparable.

    The collect here is the legitimate kind: d² scalars, not data."""
    import numpy as np

    rows = embedding_covariance(df, vec_col, with_sums=True).collect()
    d = max(r["j"] for r in rows) + 1
    c = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
        if r["i"] == r["j"]:
            # diagonal rows carry sum of x_i — the mean comes from the
            # same single corpus scan as the covariance
            mean[r["i"]] = r["s_i"] / r["n_vecs"]
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    evs = []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append([float(x) for x in v])
        evs.append(float(vals[idx]))
    return (
        [float(x) for x in mean],
        comps,
        evs,
        float(vals.sum()),
    )


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "pc",
) -> DataFrame:
    """Project vectors onto fitted components: center then dot with each
    component — pure JVM array expressions (the component matrix rides
    along as literals, d·k scalars), zero Python, zero shuffle; at 100 TB
    this is a map stage fused into the scan."""
    mean_lit = "array({})".format(", ".join(f"{m!r}D" for m in mean))
    centered = f"zip_with({vec_col}, {mean_lit}, (x, m) -> CAST(x AS DOUBLE) - m)"
    dots = ", ".join(
        "aggregate(zip_with(__c, array({w}), (x, w) -> x * w), 0D, (a, v) -> a + v)".format(
            w=", ".join(f"{w!r}D" for w in comp)
        )
        for comp in components
    )
    return df.withColumn("__c", F.expr(centered)).withColumn(
        out_col, F.expr(f"array({dots})")
    ).drop("__c")


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: the memory-bound scale path. IVF prunes
# which vectors a probe READS; PQ shrinks what each vector COSTS — m
# sub-space codes (m bytes at k≤256) instead of d floats, scored against a
# per-query lookup table (asymmetric distance computation, Jégou et al.
# 2011, "Product Quantization for Nearest Neighbor Search" — public paper).
# ---------------------------------------------------------------------------


def _pq_kmeans(x, k: int, seed: int, iters: int):
    """Deterministic Lloyd k-means for one PQ sub-space, run on the
    driver over a BOUNDED training sample (the FAISS practice: codebooks
    train on a sample, never the corpus). Seeded init, fixed iteration
    count, empty cells keep their previous centroid — bit-reproducible
    for a given sample."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=k, replace=len(x) < k)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def build_pq_index(
    corpus: DataFrame,
    index_dir: str,
    m: int = 16,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 2048,
    iters: int = 10,
) -> None:
    """Build a persistent PQ index:

    * ``{index_dir}/codebooks`` — m·k rows (subspace, code, cvec), trained
      by driver-side Lloyd over a deterministic bounded sample
      (``ORDER BY id LIMIT train_rows`` — sample size is a config constant,
      never corpus-sized; same legitimacy class as ``pca_fit``'s d²
      collect);
    * ``{index_dir}/codes`` — one (nid, codes array<m tinyint-range ints>)
      row per corpus vector, encoded DISTRIBUTED via an Arrow
      ``mapInPandas`` pass (vectorized argmin per sub-space).

    Vectors are L2-normalized before coding so ADC inner products rank by
    cosine. At 100 TB the corpus pass happens once; the scan a query pays
    afterward is m small ints per vector — a 16× I/O reduction at d=64.
    """
    import numpy as np
    import pandas as pd

    d_probe = len(
        corpus.select(F.col(vec_col).alias("e")).first()["e"]
    )
    if d_probe % m:
        raise ValueError(f"m={m} must divide embedding dim {d_probe}")
    dsub = d_probe // m

    sample = np.array(
        corpus.select(F.col(vec_col).alias("e"))
        .orderBy(F.col(id_col))
        .limit(train_rows)
        .toPandas()["e"]
        .tolist(),
        dtype=np.float64,
    )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.where(norms == 0, 1.0, norms)
    books = np.stack(
        [
            _pq_kmeans(sample[:, j * dsub : (j + 1) * dsub], k, seed + j, iters)
            for j in range(m)
        ]
    )  # (m, k, dsub)

    spark = corpus.sparkSession
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(m)
        for c in range(k)
    ]
    local_rows_df(
        spark, rows, "subspace bigint, code bigint, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebooks")

    def encode(batches):
        for pdf in batches:
            x = np.array(pdf["e"].tolist(), dtype=np.float64)
            n = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(n == 0, 1.0, n)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xj = x[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (xj**2).sum(axis=1, keepdims=True)
                    - 2.0 * xj @ books[j].T
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"nid": pdf["nid"], "codes": [list(map(int, c)) for c in codes]}
            )

    corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("e")
    ).mapInPandas(encode, "nid long, codes array<int>").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/codes")


def pq_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over a PQ index built by ``build_pq_index``: each query
    precomputes an m×k table of sub-space inner products against the
    codebooks (bounded: |query batch| × m × k floats, broadcast in the
    task closure), then every corpus CODE row scores as m table lookups —
    no float vectors are ever read at search time.

    Per-partition pre-top-k inside the Arrow pass (the map-side-combine
    shape) means the exchange carries ≤ partitions × |queries| × topk
    candidate rows, never corpus-sized traffic; one window rank finishes
    the global top-k. Returns (qid, nid, score_adc, rank)."""
    import numpy as np
    import pandas as pd

    books_rows = spark.read.parquet(f"{index_dir}/codebooks").collect()
    m = max(r["subspace"] for r in books_rows) + 1
    k = max(r["code"] for r in books_rows) + 1
    dsub = len(books_rows[0]["cvec"])
    books = np.zeros((m, k, dsub))
    for r in books_rows:
        books[r["subspace"], r["code"]] = r["cvec"]

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    ).collect()  # bounded query batch, same contract as cosine_topk
    qids = [r["qid"] for r in q_rows]
    qv = np.array([r["qe"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qv, axis=1, keepdims=True)
    qv = qv / np.where(qn == 0, 1.0, qn)
    # tables[q, j, c] = <q_j, codebook[j][c]>
    tables = np.einsum("qjd,jkd->qjk", qv.reshape(len(qv), m, dsub), books)

    def score(batches):
        jj = np.arange(m)
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
            nids = pdf["nid"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                s = tables[qi][jj[None, :], codes].sum(axis=1)  # (B,)
                keep = np.argsort(-s)[:topk]
                out_q.extend([qid] * len(keep))
                out_n.extend(nids[keep])
                out_s.extend(s[keep])
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "score_adc": out_s})

    partials = (
        spark.read.parquet(f"{index_dir}/codes")
        .mapInPandas(score, "qid long, nid long, score_adc double")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score_adc").desc(), F.col("nid"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the production ANN composition (FAISS IndexIVFPQ) — IVF prunes
# WHICH cells a probe reads, PQ shrinks what each vector in them COSTS,
# and the inner product decomposes exactly: <q, x> = <q, centroid> +
# <q, residual>, so ADC scores the residual codes and adds the cell bias.
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    m: int = 16,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 2048,
) -> None:
    """Build a persistent IVF-PQ index: seeded coarse KMeans over the
    L2-NORMALIZED corpus (one distributed fit), PQ codebooks trained on a
    bounded sample of RESIDUALS (vector − its centroid; driver Lloyd, the
    FAISS practice), then one distributed Arrow pass encodes every
    residual to m small ints and writes

      * ``{index_dir}/centroids`` — n_centroids (centroid, cvec) rows,
      * ``{index_dir}/codes`` — (nid, codes) parquet PARTITIONED BY
        centroid, so a probe scan is partition-pruned AND reads m bytes
        per vector instead of d floats — both scale levers at once.
    """
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d_probe = len(corpus.select(F.col(vec_col).alias("e")).first()["e"])
    if d_probe % m:
        raise ValueError(f"m={m} must divide embedding dim {d_probe}")
    dsub = d_probe // m

    norm_expr = (
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / "
        f"greatest({NORM.format(a=vec_col)}, 1e-30D))"
    )
    feat = corpus.select(
        F.col(id_col).alias("nid"),
        F.expr(norm_expr).alias("ne"),
    ).withColumn("features", array_to_vector("ne"))
    km = KMeans(
        k=n_centroids, seed=seed, maxIter=5,
        featuresCol="features", predictionCol="centroid",
    )
    model = km.fit(feat)
    centers = np.array([list(c) for c in model.clusterCenters()])
    assigned = model.transform(feat).select("nid", "ne", "centroid")

    sample = assigned.orderBy("nid").limit(train_rows).collect()
    res = np.array(
        [np.array(r["ne"]) - centers[r["centroid"]] for r in sample]
    )
    books = np.stack(
        [
            _pq_kmeans(res[:, j * dsub : (j + 1) * dsub], k, seed + j, 10)
            for j in range(m)
        ]
    )

    spark = corpus.sparkSession
    local_rows_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "centroid bigint, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    local_rows_df(
        spark,
        [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(m)
            for c in range(k)
        ],
        "subspace bigint, code bigint, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebooks")

    def encode(batches):
        for pdf in batches:
            x = np.array(pdf["ne"].tolist(), dtype=np.float64)
            cent = pdf["centroid"].to_numpy()
            r = x - centers[cent]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                rj = r[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (rj**2).sum(axis=1, keepdims=True)
                    - 2.0 * rj @ books[j].T
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "nid": pdf["nid"],
                    "codes": [list(map(int, c)) for c in codes],
                    "centroid": cent,
                }
            )

    assigned.mapInPandas(
        encode, "nid long, codes array<int>, centroid int"
    ).write.mode("overwrite").partitionBy("centroid").parquet(
        f"{index_dir}/codes"
    )


def ivfpq_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-only IVF-PQ ANN: each query ranks the broadcast centroid
    table, keeps its ``nprobe`` cells; the union of probed cell ids
    (bounded by n_centroids BY CONSTRUCTION) becomes a static partition
    filter on the codes scan — which then costs m bytes per vector. ADC
    scores ``<q, x> ≈ <q, centroid> + Σ_j table[j, code_j]`` (the inner
    product decomposes exactly over the residual; only the residual is
    quantized) with per-partition pre-top-k. Returns
    (qid, nid, score_adc, rank)."""
    import numpy as np
    import pandas as pd

    centers_rows = spark.read.parquet(f"{index_dir}/centroids").collect()
    n_cent = max(r["centroid"] for r in centers_rows) + 1
    centers = np.zeros((n_cent, len(centers_rows[0]["cvec"])))
    for r in centers_rows:
        centers[r["centroid"]] = r["cvec"]
    books_rows = spark.read.parquet(f"{index_dir}/codebooks").collect()
    m = max(r["subspace"] for r in books_rows) + 1
    kk = max(r["code"] for r in books_rows) + 1
    dsub = len(books_rows[0]["cvec"])
    books = np.zeros((m, kk, dsub))
    for r in books_rows:
        books[r["subspace"], r["code"]] = r["cvec"]

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    ).collect()  # bounded query batch, same contract as cosine_topk
    qids = [r["qid"] for r in q_rows]
    qv = np.array([r["qe"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qv, axis=1, keepdims=True)
    qv = qv / np.where(qn == 0, 1.0, qn)
    cell_scores = qv @ centers.T  # (Q, n_cent): the <q, centroid> bias
    probe_cells = np.argsort(-cell_scores, axis=1)[:, :nprobe]
    probed = sorted({int(c) for row in probe_cells for c in row})
    tables = np.einsum("qjd,jkd->qjk", qv.reshape(len(qv), m, dsub), books)

    def score(batches):
        jj = np.arange(m)
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            cents = pdf["centroid"].to_numpy()
            nids = pdf["nid"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                mask = np.isin(cents, probe_cells[qi])
                if not mask.any():
                    continue
                s = tables[qi][jj[None, :], codes[mask]].sum(axis=1)
                s = s + cell_scores[qi][cents[mask]]
                keep = np.argsort(-s)[:topk]
                sel_ids = nids[mask][keep]
                out_q.extend([qid] * len(keep))
                out_n.extend(sel_ids)
                out_s.extend(s[keep])
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "score_adc": out_s})

    partials = (
        spark.read.parquet(f"{index_dir}/codes")
        .filter(F.col("centroid").isin(probed))
        .mapInPandas(score, "qid long, nid long, score_adc double")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score_adc").desc(), F.col("nid"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )
