"""Similarity-search extension operators (ext/similarity.py)."""

import math

import pytest
from pyspark.sql import Row

from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
    brp_lsh_ann,
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
)


def _emb(spark):
    # vectors with known geometry: 0 ∥ 1, 0 ⟂ 2, 3 ≈ 0 (small angle)
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[2.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.1, 0.0, 0.0]),
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact_ordering(spark):
    # a zero vector has no direction: its cosine is NULL (as DuckDB's
    # 0.0/0.0) and ranks last, instead of failing under ANSI mode
    emb = _emb(spark).unionByName(
        spark.createDataFrame([Row(vec_id=5, embedding=[0.0, 0.0, 0.0, 0.0])])
    )
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=5)
    got = [(r.nid, r.cosine, r.rk) for r in out.orderBy("rk").collect()]
    # parallel, near, orthogonal, opposite, zero
    assert [g[0] for g in got] == [1, 3, 2, 4, 5]
    assert got[0][1] == 1.0
    assert abs(got[1][1] - 1 / math.sqrt(1.01)) < 1e-4
    assert got[2][1] == 0.0
    assert got[4][1] is None


def test_cosine_topk_excludes_self(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=10)
    assert 0 not in {r.nid for r in out.collect()}


# --- the exact top-k kernel against the SQL path it replaced ------------


def _sql_topk(corpus, queries, k, label_col=None):
    """The reference: the exact top-k as SQL expressions — broadcast
    queries, the ``DOT``/``NORM`` cosine (``_cosine``) and the rank window
    (``_rank_topk``)."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import _cosine, _rank_topk

    lab = [label_col] if label_col else []
    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        *[F.col(c).alias("q_label") for c in lab],
    )
    c = corpus.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"),
        *[F.col(c).alias("n_label") for c in lab],
    )
    keep = F.col("qid") != F.col("nid")
    if label_col:
        keep &= F.col("q_label") != F.col("n_label")
    cols = ["qid"] + ["q_label"] * bool(lab) + ["nid"] + ["n_label"] * bool(lab)
    pairs = c.join(F.broadcast(q)).filter(keep).select(
        *cols, _cosine("qe", "ne").alias("cos_raw")
    )
    return _rank_topk(pairs, k, cols)


def _result(df):
    """Schema and sorted rows, NaN as a string so that it compares."""
    rows = [
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in df.collect()
    ]
    return df.dtypes, sorted(rows, key=repr)


#: exact-cosine fixtures: vectors whose cosine with [1, 0] is exactly the
#: first element (x² + y² rounds to 1.0). 0.1234565 is a 6-dp half
#: (HALF_UP 0.123457, numpy's half-even 0.123456); 0.1000000005 ties
#: 0.100000001 at 9 dp under HALF_UP only.
_HALF_6DP = [0.1234565, 0.9923499849386556]
_HALF_9DP = [0.1000000005, 0.994987437056368]
_UP_9DP = [0.100000001, 0.9949874370061161]

_TOPK_CASES = {
    # float32 elements cast to double before the dot
    "float32": (
        "vec_id long, embedding array<float>",
        [(i, [0.1 * i, 0.7, -0.3 * (i % 3), 1.0 / (i + 1)]) for i in range(12)],
        [0, 5, 11],
        4,
    ),
    # zero, NULL, NULL-element and shorter vectors score NULL and rank
    # after every number; a length-3 query scores the length-3 vector; a
    # NULL-vector query ranks every corpus row NULL, by id
    "nulls_and_lengths": (
        "vec_id long, embedding array<double>",
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [2.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, None),
            (4, [1.0, None, 0.0, 0.0]),
            (5, [1.0, 1.0, 1.0]),
            (6, [0.5, 1.0, 0.0]),
            (7, [-1.0, 0.0, 0.0, 0.5]),
            (8, []),
        ],
        [0, 2, 3, 4, 6, 8],
        10,
    ),
    # NaN scores where Spark orders NaN: above every number
    "nan": (
        "vec_id long, embedding array<float>",
        [(0, [1.0, 0.0]), (1, [float("nan"), 1.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])],
        [0, 3],
        2,
    ),
    # a NULL id on either side and qid == nid produce no row; duplicate
    # vectors tie and break by id
    "ids_and_ties": (
        "vec_id long, embedding array<double>",
        [(None, [1.0, 0.0])]
        + [(i, [1.0, float(i % 2)]) for i in range(6)]
        + [(None, [1.0, 1.0])],
        [None, 0, 1, 3],
        3,
    ),
    # string ids rank in Spark's string order ("v10" < "v9")
    "string_ids": (
        "vec_id string, embedding array<double>",
        [(f"v{i}", [1.0, float(i % 3)]) for i in range(12)],
        ["v1", "v10", "v2"],
        4,
    ),
    # k larger than the corpus
    "k_past_corpus": (
        "vec_id long, embedding array<double>",
        [(i, [float(i), 1.0]) for i in range(5)],
        [0, 4],
        50,
    ),
    # Spark's HALF_UP at 6 dp (cosine) and at 9 dp (the rank key)
    "half_up": (
        "vec_id long, embedding array<double>",
        [(0, [1.0, 0.0]), (1, _HALF_9DP), (2, _UP_9DP), (3, _HALF_6DP), (4, [0.0, 1.0])],
        [0],
        4,
    ),
}


def _topk_frames(spark, case, labels=False):
    from pyspark.sql import functions as F

    schema, rows, qids, k = _TOPK_CASES[case]
    if labels:
        rows = [r + ([1, 2, None][i % 3],) for i, r in enumerate(rows)]
        schema += ", label int"
    # one partition: at the mapInArrow placement one batch holds the whole
    # corpus, so its per-batch top-k is the selection under test
    corpus = spark.createDataFrame(rows, schema).coalesce(1)
    if None in qids:
        queries = corpus.filter(F.col("vec_id").isin(qids[1:]) | F.col("vec_id").isNull())
    else:
        queries = corpus.filter(F.col("vec_id").isin(qids))
    return corpus, queries, k


@pytest.fixture(params=["in_process", "map_in_arrow"])
def placement(request, monkeypatch):
    """Each contract test runs at both placements; a driver cap of 0
    sends every corpus to ``mapInArrow``. Score blocks of 4 cells make
    the kernel merge its running top-k across blocks."""
    from pyspark_weather_forecasting_gsod_spark.ext import similarity

    monkeypatch.setattr(similarity, "_BLOCK_CELLS", 4)
    if request.param == "map_in_arrow":
        monkeypatch.setattr(similarity, "_TOPK_DRIVER_MAX_VALUES", 0)
    return request.param


@pytest.mark.parametrize("case", sorted(_TOPK_CASES))
def test_cosine_topk_matches_sql_reference(spark, placement, case):
    corpus, queries, k = _topk_frames(spark, case)
    got = _result(cosine_topk(corpus, queries, k=k))
    assert got == _result(_sql_topk(corpus, queries, k))
    assert got[1]


@pytest.mark.parametrize("case", sorted(_TOPK_CASES))
def test_hard_negatives_topk_matches_sql_reference(spark, placement, case):
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import hard_negatives_topk

    corpus, queries, k = _topk_frames(spark, case, labels=True)
    got = _result(hard_negatives_topk(corpus, queries, k=k))
    assert got == _result(_sql_topk(corpus, queries, k, "label"))


def test_cosine_topk_rounds_half_up(spark, placement):
    """The half_up case is sharp: HALF_UP at 6 dp, and the 9-dp tie ranks
    the smaller id first, where half-even rounding would not."""
    corpus, queries, k = _topk_frames(spark, "half_up")
    got = [(r.nid, r.cosine, r.rk) for r in cosine_topk(corpus, queries, k=k).collect()]
    assert sorted(got, key=lambda t: t[2]) == [
        (3, 0.123457, 1), (1, 0.1, 2), (2, 0.1, 3), (4, 0.0, 4),
    ]


def test_cosine_topk_in_process_job_count(spark):
    """Within the driver cap the exact top-k runs its two fetches and
    nothing else before it returns; executing the local result runs no
    join and no exchange."""
    corpus, queries, k = _topk_frames(spark, "float32")
    sc = spark.sparkContext
    group = "test-cosine-topk-in-process-jobs"
    sc.setJobGroup(group, group)
    try:
        out = cosine_topk(corpus, queries, k=k)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_exact_similarity_routes_are_reported(spark, caplog, monkeypatch):
    """Every exact top-k call reports its placement with the corpus and
    query rows against their caps; ``cosine_allpairs`` reports its
    collect-or-raise decision; a query side past its cap raises."""
    import logging

    from pyspark_weather_forecasting_gsod_spark.ext import similarity

    corpus, queries, k = _topk_frames(spark, "float32", labels=True)

    def routes(fn):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="spark_graft"):
            fn()
        return [(r.operator, r.route, r.probes) for r in caplog.records if r.name == "spark_graft"]

    [(op, route, probes)] = routes(lambda: cosine_topk(corpus, queries, k=k))
    cap = similarity._TOPK_DRIVER_MAX_VALUES // 4
    assert (op, route) == ("cosine_topk", "in_process")
    assert probes == {"corpus": (12, cap), "queries": (3, similarity._TOPK_MAX_QUERIES)}
    monkeypatch.setattr(similarity, "_TOPK_DRIVER_MAX_VALUES", 0)
    [(op, route, probes)] = routes(
        lambda: similarity.hard_negatives_topk(corpus, queries, k=k)
    )
    assert (op, route, probes["corpus"]) == ("hard_negatives_topk", "map_in_arrow", (1, 0))

    [(op, route, probes)] = routes(lambda: similarity.cosine_allpairs(_emb(spark), 0.9))
    assert (op, route, probes) == ("cosine_allpairs", "broadcast", {"corpus": (5, similarity.ALLPAIRS_MAX_ROWS)})
    with pytest.raises(ValueError, match="max_rows=3"):
        routes(lambda: similarity.cosine_allpairs(_emb(spark), 0.9, max_rows=3))
    assert [(r.route, r.probes) for r in caplog.records if r.name == "spark_graft"] == [
        ("refused", {"corpus": (4, 3)})
    ]

    monkeypatch.setattr(similarity, "_TOPK_MAX_QUERIES", 2)
    with pytest.raises(ValueError, match="_TOPK_MAX_QUERIES=2"):
        cosine_topk(corpus, queries, k=k)


def test_embedding_neardup_pairs_threshold(spark):
    out = embedding_neardup_pairs(_emb(spark), min_cosine=0.95)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in pairs  # identical direction
    assert (0, 3) in pairs  # cos ≈ 0.995
    assert (0, 2) not in pairs  # orthogonal
    assert (0, 4) not in pairs  # opposite


def test_brp_lsh_ann_returns_ranked_neighbors(spark):
    emb = _emb(spark)
    out = brp_lsh_ann(emb, emb.filter("vec_id = 0"), k=2)
    got = [r.nid for r in out.orderBy("rk").collect()]
    assert got[0] == 1  # nearest on the unit sphere


def test_ivf_topk_probes_clusters(spark):
    emb = _emb(spark)
    out = ivf_topk(emb, emb.filter("vec_id = 0"), k=2, n_centroids=2, nprobe=2)
    got = [r.nid for r in out.orderBy("rk").collect()]
    assert got[0] == 1


def test_cosine_allpairs_small_corpus_ok(spark):
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import cosine_allpairs

    out = cosine_allpairs(_emb(spark), min_cosine=0.95)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in pairs and (0, 3) in pairs and (0, 2) not in pairs


def test_cosine_allpairs_guard_refuses_oversized_corpus(spark):
    import pytest

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import cosine_allpairs

    # r11: the guard now points at the distributed exact twin and the
    # designated at-scale near-dup paths, not the (cutover-guarded) LSH leg
    with pytest.raises(ValueError, match="cosine_allpairs_blocked"):
        cosine_allpairs(_emb(spark), min_cosine=0.9, max_rows=3)


def test_cosine_allpairs_blocked_equals_broadcast_path(spark):
    """Both exact kernels equal a numpy brute force; a NULL id never pairs
    (SQL's ``a.id < b.id`` drops it) and string ids come back intact."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        cosine_allpairs,
        cosine_allpairs_blocked,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    # a NULL id whose vector duplicates row 0 (cosine 1.0 with it)
    df = spark.createDataFrame(
        rows + [(None, rows[0][1])], "vec_id long, embedding array<double>"
    )
    m = np.array([v for _, v in rows])
    c = (m @ m.T) / np.outer(np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1))
    want = {
        (a, b): round(float(c[a, b]), 6)
        for a in range(120)
        for b in range(a + 1, 120)
        if round(float(c[a, b]), 9) >= 0.2
    }
    assert len(want) > 50

    def pairs(out):
        return {(r.id_a, r.id_b): r.cosine for r in out.collect()}

    assert pairs(cosine_allpairs(df, min_cosine=0.2)) == want
    assert pairs(cosine_allpairs_blocked(df, min_cosine=0.2, n_blocks=5)) == want
    # single block degenerates to one within-block task; still exact
    assert pairs(cosine_allpairs_blocked(df, min_cosine=0.2, n_blocks=1)) == want

    # string ids (the NULL id stays NULL): the same pairs, same order
    sdf = df.withColumn(
        "vec_id", F.concat(F.lit("v"), F.lpad(F.col("vec_id").cast("string"), 3, "0"))
    )
    want_s = {(f"v{a:03d}", f"v{b:03d}"): cos for (a, b), cos in want.items()}
    assert pairs(cosine_allpairs(sdf, min_cosine=0.2)) == want_s
    assert pairs(cosine_allpairs_blocked(sdf, min_cosine=0.2, n_blocks=5)) == want_s


def test_build_ivf_index_then_search_probes_without_refit(spark, tmp_path):
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=2)
    # the index is physically centroid-bucketed parquet (partition pruning
    # on probe) plus a tiny centroid table
    import os

    parts = [d for d in os.listdir(f"{idx}/corpus") if d.startswith("centroid=")]
    assert len(parts) == 2
    assert os.path.isdir(f"{idx}/centroids")
    out = ivf_search(spark, idx, emb.filter("vec_id = 0"), k=2, nprobe=2)
    assert [r.nid for r in out.orderBy("rk").collect()][0] == 1
    # search again (fresh probe, same index) — build is not re-run: the
    # second search is probe-only against the already-written parquet
    out2 = ivf_search(spark, idx, emb.filter("vec_id = 3"), k=1, nprobe=2)
    assert [r.nid for r in out2.collect()] != []


def test_ivf_search_plan_prunes_partitions(spark, tmp_path):
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=2)
    out = ivf_search(spark, idx, emb.filter("vec_id = 0"), k=2, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus scan (the only partitioned scan in the query) must carry a
    # NON-EMPTY partition filter on centroid (one cell prints as
    # `centroid = N`, several as `centroid IN (...)`); plan lines truncate
    # long paths so we match any non-empty PartitionFilters entry
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters: [" in ln and "PartitionFilters: []" not in ln
    ]
    assert pf_lines and any("centroid" in ln for ln in pf_lines)


# ---------------------------------------------------------------------------
# Quantified recall gates for the rows-only ANN / near-dup queries: the
# declared queries now EMIT recall_vs_exact / n_false_positive, and these
# thresholds fail the suite if a regression drops them (previously recall
# lived only in prose).  Gates run at sf0.01 — the scale the driver's
# correctness gate uses (sf0.001 is a different generation with weaker
# cluster structure).  Measured at sf0.01: ann_lsh ≈ 0.96, ivf(16 cells,
# 8 probes) ≈ 0.92, embedding_neardup ≈ 0.90 (fp 0), minhash = 1.0 (fp 0),
# simhash ≈ 0.92.
# ---------------------------------------------------------------------------
SF_GATE = "/root/testdata/sf0.01"


def _declared(name):
    import importlib

    Q = importlib.import_module(
        "pyspark_weather_forecasting_gsod_spark.plans.queries"
    )
    return Q.QUERIES[name][0]


def test_ann_lsh_topk_recall_gate(spark):
    recs = {
        r.qid: r.recall_vs_exact for r in _declared("ann_lsh_topk")(spark, SF_GATE).collect()
    }
    assert recs, "no queries produced results"
    assert sum(recs.values()) / len(recs) >= 0.85
    assert min(recs.values()) >= 0.6


def test_ivf_ann_topk_recall_gate(spark):
    recs = {
        r.qid: r.recall_vs_exact for r in _declared("ivf_ann_topk")(spark, SF_GATE).collect()
    }
    assert recs, "no queries produced results"
    assert sum(recs.values()) / len(recs) >= 0.8
    assert min(recs.values()) >= 0.6


def test_embedding_neardup_quality_gate(spark):
    rows = _declared("embedding_neardup")(spark, SF_GATE).collect()
    assert rows, "no near-dup pairs found"
    # r10: the declared query routes 'auto' → exact blocked matmul below
    # the 100k cutover, so the in-query audit is an identity check
    assert rows[0].recall_vs_exact == 1.0
    assert rows[0].n_false_positive == 0


def test_minhash_neardup_quality_gate(spark):
    rows = _declared("minhash_neardup")(spark, SF_GATE).collect()
    assert rows, "no near-dup pairs found"
    assert rows[0].recall_vs_exact >= 0.9
    assert rows[0].n_false_positive == 0  # candidates are exact-verified


def test_simhash_neardup_recall_gate(spark):
    rows = _declared("simhash_fingerprints")(spark, SF_GATE).collect()
    assert rows, "no fingerprints"
    assert rows[0].neardup_recall_vs_jaccard >= 0.85


def test_brp_bucket_occupancy_guards_geometry(spark):
    """Structural guard for the r09 BRP degeneracy class (VERDICT r09 #3):
    the bucketLength=0.5 bug was SILENT — collapsing each hash table to
    ~one bucket made the candidate join exhaustive, so recall gates
    passed while the join went quadratic. Assert the production geometry
    (0.25 × 6 tables, the geometry of brp_lsh_ann) keeps every table
    meaningfully partitioned at gate scale, and prove the assert DISCRIMINATES by
    checking the old broken geometry fails it."""
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        brp_bucket_occupancy,
    )

    emb = spark.read.parquet(f"{SF_GATE}/embeddings.parquet")
    good = brp_bucket_occupancy(
        emb, bucket_length=0.25, num_hash_tables=6
    ).collect()
    assert len(good) == 6
    for r in good:
        # healthy geometry: several buckets per table, no bucket owns the
        # corpus, in-bucket pair work far from quadratic
        assert r.n_buckets >= 3, f"table {r.tbl} degenerate: {r.n_buckets} buckets"
        assert r.max_frac <= 0.75, f"table {r.tbl} max bucket {r.max_frac:.2f}"
        assert r.collision_frac <= 0.6, (
            f"table {r.tbl} would enumerate {r.collision_frac:.0%} of pairs"
        )
    # the r09 bug's geometry must FAIL the same assertions — otherwise the
    # guard can't catch a future re-degeneration
    bad = brp_bucket_occupancy(
        emb, bucket_length=0.5, num_hash_tables=3
    ).collect()
    assert any(r.n_buckets < 3 for r in bad), (
        "guard no longer discriminates: bucketLength=0.5 looks healthy"
    )


def test_recall_truth_routes_to_sampled_audit_above_cutover(spark, monkeypatch):
    """r08 VERDICT #2: above _AUDIT_CUTOVER_DOCS the exact-truth companion
    in minhash_neardup / simhash_fingerprints / embedding_neardup must
    switch to sampled_pair_audit (never the full quadratic denominator).
    Force the flip at gate scale by shrinking the cutover and raising the
    sample to keep the estimate meaningful; schema must not change and the
    FP invariant must hold in the sampled regime too."""
    import importlib

    # import_module, not `import ... as`: the plans package __init__
    # rebinds the `queries` attribute to the queries() FUNCTION, so the
    # attribute path resolves to a function while sys.modules holds the
    # actual module
    Q = importlib.import_module(
        "pyspark_weather_forecasting_gsod_spark.plans.queries"
    )
    monkeypatch.setattr(Q, "_AUDIT_CUTOVER_DOCS", 10)
    monkeypatch.setattr(Q, "_AUDIT_SAMPLE_PCT", 50)
    mh = _declared("minhash_neardup")(spark, SF_GATE)
    rows = mh.collect()
    assert rows and set(mh.columns) >= {"recall_vs_exact", "n_false_positive"}
    assert rows[0].n_false_positive == 0
    # planted near-dups are j≈1.0; the 50% doc-sample truth still sees them
    assert rows[0].recall_vs_exact is None or rows[0].recall_vs_exact >= 0.8
    en = _declared("embedding_neardup")(spark, SF_GATE)
    erows = en.collect()
    assert erows and erows[0].n_false_positive == 0
    sh = _declared("simhash_fingerprints")(spark, SF_GATE)
    srows = sh.collect()
    assert srows and set(sh.columns) >= {
        "neardup_recall_vs_jaccard",
        "n_hamming_only_pairs",
    }


def test_semantic_dedup_survivor_properties(spark, sf_dir):
    """Every dropped row shares a component with exactly one kept
    representative (the min id); survivors of different components in the
    SAME cell have no direct ≥-threshold edge between them."""
    import numpy as np

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import semantic_dedup
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = semantic_dedup(emb, min_cosine=0.35, n_cells=16).collect()
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r.keep]
        assert len(kept) == 1 and kept[0].id == comp == min(m.id for m in members)
    # survivor pair check within one cell: no direct near-dup edge remains
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    by_cell: dict[int, list] = {}
    for r in rows:
        if r.keep:
            by_cell.setdefault(r.cell, []).append(r.id)
    for cell, ids in by_cell.items():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                assert round(cos, 9) < 0.35, (cell, a, b, cos)


def test_semantic_dedup_unsplittable_giant_cell_raises(spark):
    """A degenerate corpus (all vectors identical) lands every row in one
    KMeans cell that re-clustering cannot split; before the r05 guard this
    silently queued an |cell|² matmul for one executor. Now it raises,
    naming the remedy."""
    import pytest
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import semantic_dedup

    emb = spark.range(200).select(
        "id",
        F.expr("array(1.0, 2.0, 3.0, 4.0)").alias("embedding"),
    )
    with pytest.raises(ValueError, match="cannot be split"):
        semantic_dedup(
            emb, min_cosine=0.35, n_cells=4, id_col="id",
            max_cell_rows=50,
        ).collect()


def test_semantic_dedup_splits_oversized_cell(spark):
    """A splittable hot cell (two separable blobs forced into one cell via
    n_cells=1) is recursively re-clustered instead of raising; the output
    still covers every id with valid survivor semantics."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import semantic_dedup

    # a 100-row blob with internal spread (splittable) + a 20-row far blob;
    # k=2 separates the blobs, leaving the big one over the 80-row cap
    emb = spark.range(120).select(
        "id",
        F.expr(
            "CASE WHEN id < 100 THEN"
            " array(10.0 + id % 7 * 0.5, CAST(id % 3 AS DOUBLE), 0.1, 0.0)"
            " ELSE array(0.1, 0.0, 50.0 + id % 5 * 0.01, 0.2) END"
        ).alias("embedding"),
    )
    rows = semantic_dedup(
        emb, min_cosine=0.999999, n_cells=2, id_col="id",
        max_cell_rows=80,
    ).collect()
    assert sorted(r.id for r in rows) == list(range(120))
    assert len({r.cell for r in rows}) > 2  # the hot cell actually split
    for r in rows:
        assert r.keep == (r.id == r.component)


def test_semantic_dedup_reuses_persisted_ivf_index(spark, sf_dir, tmp_path):
    """``index_dir=`` skips the per-call KMeans fit and reads the persisted
    centroid-partitioned layout (VERDICT r04 ask #6); with identical
    clustering params the result matches the convenience path exactly."""
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        build_ivf_index,
        semantic_dedup,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "ivf")
    build_ivf_index(emb, d, n_centroids=16, seed=42, max_iter=5)
    direct = {
        (r.id, r.component, r.keep)
        for r in semantic_dedup(emb, min_cosine=0.35, n_cells=16).collect()
    }
    via_index = {
        (r.id, r.component, r.keep)
        for r in semantic_dedup(emb, min_cosine=0.35, index_dir=d).collect()
    }
    assert direct == via_index


def test_semantic_dedup_query_recall_gate(spark, sf_dir):
    """The declared query's measured pair recall must stay above the
    cell-locality floor: a cell-assignment regression collapses recall
    toward ~1/n_cells ≈ 0.06; the seeded measurement on this corpus is
    ≈0.35 (sf0.001) / ≈0.43 (sf0.01) — isotropic random embeddings are
    SemDeDup's documented worst case."""
    from pyspark_weather_forecasting_gsod_spark.plans import queries

    row = queries()["semantic_dedup"](spark, sf_dir).limit(1).collect()[0]
    assert row.pair_recall_vs_exact >= 0.3
    assert row.n_transitive_pairs >= 0


def test_sampled_pair_audit_estimates_full_recall(spark, sf_dir):
    """The sampled audit's recall on a 50% doc sample must approximate the
    full-corpus recall (both computed on the same deterministic corpus) and
    report the sample size; FP stays 0 for the verified-candidate LSH."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        cosine_allpairs_blocked,
        embedding_neardup_pairs,
        pair_recall_summary,
        sampled_pair_audit,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    approx = embedding_neardup_pairs(emb, min_cosine=0.35).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    full = pair_recall_summary(
        approx,
        cosine_allpairs_blocked(emb, 0.35).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        "doc_a",
        "doc_b",
    ).collect()[0]
    audit = sampled_pair_audit(
        emb,
        "vec_id",
        approx,
        lambda sub: cosine_allpairs_blocked(sub, 0.35).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        sample_pct=50,
    ).collect()[0]
    assert 0 < audit.n_sampled_docs < 500 or audit.n_sampled_docs > 0
    assert audit.n_false_positive == 0
    if audit.recall_vs_exact is not None:
        assert abs(audit.recall_vs_exact - full.recall_vs_exact) < 0.25


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    import numpy as np

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        embedding_covariance,
    )

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(4)
    rows = df.select("embedding").collect()
    x = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    want = (x.T @ x) / len(x) - np.outer(x.mean(0), x.mean(0))
    got = embedding_covariance(df).collect()
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    for r in got:
        assert abs(r["cov"] - want[r["i"], r["j"]]) < 1e-9
        assert r["n_vecs"] == len(x)


def test_pca_components_orthonormal_and_variance_consistent(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        pca_fit,
        pca_project,
    )

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mean, comps, evs, total_var = pca_fit(df, k=4)
    w = np.array(comps)
    # orthonormal rows
    assert np.allclose(w @ w.T, np.eye(4), atol=1e-9)
    # deterministic sign convention: max-|x| entry positive
    for row in w:
        assert row[np.argmax(np.abs(row))] > 0
    # eigenvalues sorted descending, var share sane
    assert evs == sorted(evs, reverse=True)
    assert 0.0 < sum(evs) / total_var <= 1.0 + 1e-12
    # projected variance per component equals its eigenvalue
    proj = pca_project(df, mean, comps)
    stats = proj.select(
        *[
            F.variance(F.element_at("pc", i + 1)).alias(f"v{i}")
            for i in range(4)
        ]
    ).first()
    n = df.count()
    for i in range(4):
        # F.variance is the sample variance; eigenvalues are population
        pop_var = stats[f"v{i}"] * (n - 1) / n
        assert abs(pop_var - evs[i]) / evs[i] < 1e-6


def test_ivfpq_index_recall_and_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        build_ivfpq_index,
        cosine_topk,
        ivfpq_search,
        topk_recall,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    d = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, d, n_centroids=8, m=16, k=16)
    q = emb.filter(F.col("vec_id") < 5)
    approx = ivfpq_search(spark, d, q, topk=5, nprobe=8).localCheckpoint(
        eager=True
    )
    # nprobe == n_centroids → no cell pruning, so quality reflects the
    # residual-PQ quantization alone: the self-match must surface and
    # mean recall must beat the ~k/N random floor comfortably
    recs = {
        r["qid"]: r["recall_vs_exact"]
        for r in topk_recall(approx, cosine_topk(emb, q, k=5)).collect()
    }
    assert recs and sum(recs.values()) / len(recs) >= 0.4
    top1 = {r["qid"]: r["nid"] for r in approx.collect() if r["rank"] == 1}
    assert all(top1[qid] == qid for qid in top1)
    # pruned probe: nprobe=2 of 8 cells → the codes scan carries a
    # partition filter and still finds the self-match cell
    pruned = ivfpq_search(spark, d, q, topk=5, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters: [" in ln and "PartitionFilters: []" not in ln
        for ln in plan.splitlines()
    )


def test_semantic_dedup_index_corpus_mismatch_raises(spark, sf_dir, tmp_path):
    """r05 ADVICE: on the index path the persisted layout REPLACES the
    corpus argument, so a stale/mismatched index must raise instead of
    silently deduping different data; an empty index gets a clear error
    (previously TypeError None+1)."""
    import pytest

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        build_ivf_index,
        semantic_dedup,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "ivf")
    build_ivf_index(emb, d, n_centroids=4, seed=42, max_iter=3)
    with pytest.raises(ValueError, match="stale"):
        semantic_dedup(emb.limit(10), min_cosine=0.35, index_dir=d)
    empty = str(tmp_path / "ivf_empty")
    spark.createDataFrame(
        [], "nid long, ne array<double>, centroid int"
    ).write.parquet(f"{empty}/corpus")
    with pytest.raises(ValueError, match="empty"):
        semantic_dedup(emb, min_cosine=0.35, index_dir=empty)


def test_hard_negatives_topk_filters_same_label_and_nulls(spark):
    """hard_negatives_topk: only different-label corpus vectors rank;
    same-label twins (even a perfect cosine-1 duplicate) and NULL-label
    rows never appear; ordering and tie-breaks follow cosine_topk."""
    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        hard_negatives_topk,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0], label=1),
        Row(vec_id=1, embedding=[2.0, 0.0, 0.0, 0.0], label=1),  # same label
        Row(vec_id=2, embedding=[1.0, 0.05, 0.0, 0.0], label=2),  # hard negative
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0], label=2),  # easy negative
        Row(vec_id=4, embedding=[1.0, 0.01, 0.0, 0.0], label=None),  # unlabeled
    ]
    emb = spark.createDataFrame(rows)
    out = hard_negatives_topk(emb, emb.filter("vec_id = 0"), k=10)
    got = [(r.nid, r.n_label, r.rk) for r in out.orderBy("rk").collect()]
    # same-label 1 and NULL-label 4 excluded; hardest (closest) first
    assert got == [(2, 2, 1), (3, 2, 2)]
    # a NULL-label QUERY mines nothing (unlabeled anchors are not pairs)
    assert hard_negatives_topk(emb, emb.filter("vec_id = 4"), k=3).count() == 0


def test_hard_negatives_ann_recall_gate_and_label_purity(spark):
    """The ANN-backed miner must (a) keep decent recall vs the exact
    oracle-checked companion (IVF misses are priced in-query) and (b)
    NEVER emit a same-label or NULL-label pair — the label contract is
    exact regardless of the approximate candidate source."""
    rows = _declared("hard_negatives_ann")(spark, SF_GATE).collect()
    assert rows, "no queries produced results"
    recs = {r.qid: r.recall_vs_exact for r in rows}
    assert sum(recs.values()) / len(recs) >= 0.75  # measured 0.84 @ sf0.01
    assert min(recs.values()) >= 0.3  # measured 0.4
    assert all(r.q_label != r.n_label for r in rows)
    assert all(r.q_label is not None and r.n_label is not None for r in rows)


def test_property_hard_negatives_match_python_oracle(spark):
    """Property (hypothesis): on random small vector sets with random
    labels (NULLs included), hard_negatives_topk equals a pure-Python
    brute-force miner using the same round-9 ordering contract."""
    from hypothesis import given, settings, strategies as st

    from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
        hard_negatives_topk,
    )

    vec = st.lists(
        st.integers(min_value=-3, max_value=3).map(float), min_size=3, max_size=3
    ).filter(lambda v: any(x != 0 for x in v))
    item = st.tuples(vec, st.sampled_from([0, 1, 2, None]))

    @settings(max_examples=6, deadline=None)
    @given(st.lists(item, min_size=2, max_size=10), st.integers(1, 4))
    def check(items, k):
        rows = [(i, v, lab) for i, (v, lab) in enumerate(items)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        got = {
            (r.qid, r.nid, r.rk)
            for r in hard_negatives_topk(df, df, k=k).collect()
        }
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

        want = set()
        for qid, (qv, ql) in enumerate(items):
            if ql is None:
                continue
            cands = []
            for nid, (nv, nl) in enumerate(items):
                if nid == qid or nl is None or nl == ql:
                    continue
                cands.append((round(cos(qv, nv), 9), nid))
            cands.sort(key=lambda t: (-t[0], t[1]))
            for rk, (_, nid) in enumerate(cands[:k], start=1):
                want.add((qid, nid, rk))
        assert got == want, (items, k, got, want)

    check()


def test_embedding_neardup_auto_raises_above_exact_cutover(spark):
    """Above the exact cutover, embedding_neardup_pairs must REFUSE rather
    than run a quadratic job, and the raise must point the caller at the
    designated scale paths. (Cutover shrunk to 3 so the probe trips on a
    5-row frame — no 100k-vector corpus needed.)"""
    import pytest

    with pytest.raises(ValueError, match="semantic_dedup"):
        embedding_neardup_pairs(_emb(spark), exact_cutover_docs=3)


def test_embedding_neardup_id_type_contract(spark):
    """Non-integral ids (strings) get the exact pair set, with the ids
    intact rather than cast to long."""
    from pyspark.sql import functions as F

    emb_str = _emb(spark).withColumn(
        "vec_id", F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
    )
    out = embedding_neardup_pairs(emb_str, min_cosine=0.95)
    got = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    want = {
        (f"doc-{r.id_a}", f"doc-{r.id_b}"): r.cosine
        for r in embedding_neardup_pairs(_emb(spark), min_cosine=0.95).collect()
    }
    assert got == want
    assert set(got) == {("doc-0", "doc-1"), ("doc-0", "doc-3"), ("doc-1", "doc-3")}
