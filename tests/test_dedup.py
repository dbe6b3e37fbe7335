"""Dedup extension operators (ext/dedup.py)."""

from pyspark.sql import Row

from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
    exact_dedup_by_fingerprint,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    word_shingles,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d e f g h"),          # exact dup of 1
            Row(doc_id=3, text="a b c d e f g z"),          # near dup of 1
            Row(doc_id=4, text="q r s t u v w x"),          # unrelated
            Row(doc_id=5, text="xy"),                       # too short for 3-grams
        ]
    )


def test_word_shingles_counts_and_short_docs(spark):
    sh = word_shingles(_docs(spark), "doc_id", "text", n=3)
    counts = {r.doc_id: r.cnt for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    assert counts[1] == 6  # 8 words → 6 trigrams
    assert 5 not in counts  # below n words → no shingles


def test_ngram_jaccard_exact_and_near(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "doc_id", "text", n=3)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    # doc3 shares trigrams 'a b c'..'e f g' (5 of 6) with doc1: 5/(6+6-5)
    assert abs(got[(1, 3)] - 5 / 7) < 1e-12
    assert (1, 4) not in got  # no shared shingle → never a candidate


def test_exact_dedup_by_fingerprint_keeps_min_id(spark):
    out = exact_dedup_by_fingerprint(_docs(spark), "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc2 (dup of 1) dropped, representative = min id


def test_minhash_lsh_finds_near_dups(spark):
    pairs = minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", n=3, num_hashes=32, bands=16, min_jaccard=0.5
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # identical docs always collide in every band
    # jaccard values are EXACT (verification stage), not estimates
    if (1, 3) in got:
        assert abs(got[(1, 3)] - 5 / 7) < 1e-12


def test_simhash_identical_docs_equal_fingerprints(spark):
    sim = simhash64(_docs(spark), "doc_id")
    fp = {r.doc_id: r.simhash for r in sim.collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]
    # near-dup docs should be hamming-close
    ham = bin(fp[1] ^ fp[3]).count("1")
    assert ham <= 16


def test_connected_components_min_label(spark):
    from pyspark.sql import Row
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import connected_components

    # two components: {1,2,3} (chain) and {7,9}; 5 is isolated (absent)
    edges = spark.createDataFrame(
        [Row(doc_a=2, doc_b=3), Row(doc_a=1, doc_b=2), Row(doc_a=9, doc_b=7)]
    )
    got = {(r.node, r.comp) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}


def test_connected_components_driver_regime_equals_distributed(spark, monkeypatch):
    """r11: bounded graphs route to the driver-side vectorized union-find
    regime (one ``limit(cap + 1)`` Arrow fetch decides and feeds it). Both
    regimes must return the identical labeling — mixed shape (chain +
    clique + 2-cycle + huge ids) exercises pointer jumping and the
    min-representative rule. A fetch one row past the cap falls through
    to the distributed loop."""
    import pyspark_weather_forecasting_gsod_spark.ext.dedup as D

    big = 2**61
    rows = (
        [(i, i + 1) for i in range(50)]                     # chain 0..50
        + [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
        + [(big, big + 7), (big + 7, big)]                  # dup reversed
        + [(big + 1, 60), (60, 61)]
    )
    edges = spark.createDataFrame(rows, ["doc_a", "doc_b"])
    drv = {(r.node, r.comp) for r in D.connected_components(edges).collect()}
    dist = {
        (r.node, r.comp)
        for r in D.connected_components(edges, driver_max_edges=0).collect()
    }
    assert drv == dist and drv
    # and the driver regime actually ran (diagnostic rounds are vectorized)
    assert D.LAST_CC_ROUNDS >= 1

    solved = []
    solve = D._cc_driver_solve
    monkeypatch.setattr(
        D, "_cc_driver_solve", lambda spark, pdf: solved.append(len(pdf)) or solve(spark, pdf)
    )
    at_cap = {(r.node, r.comp) for r in D.connected_components(edges, driver_max_edges=len(rows)).collect()}
    past_cap = {
        (r.node, r.comp)
        for r in D.connected_components(edges, driver_max_edges=len(rows) - 1).collect()
    }
    assert at_cap == past_cap == dist and solved == [len(rows)]


def test_connected_components_high_diameter_chain(spark):
    """r08 VERDICT #4: the sf1 rehearsal's replica clumps are cliques
    (cc_rounds=2), so pointer-jumping had never been exercised past round
    3. A diameter-1000 path graph must converge in O(log diameter) rounds
    — plain propagation would need ~1000 — with every label the true
    component min and the per-round localCheckpoint keeping lineage (and
    the driver) bounded."""
    import pyspark_weather_forecasting_gsod_spark.ext.dedup as D

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], ["doc_a", "doc_b"]
    )
    got = D.connected_components(edges, max_iter=30, driver_max_edges=0).collect()
    assert len(got) == 1001
    assert all(r.comp == 0 for r in got)
    # 2 deferred plain rounds + ~log2(1000) compression rounds + slack;
    # a regression to linear propagation would hit max_iter=30 and raise
    assert 3 <= D.LAST_CC_ROUNDS <= 15, D.LAST_CC_ROUNDS


def test_connected_components_sum_witness_exact_at_huge_ids(spark):
    """r11: convergence is decided by comparing exact decimal Σcomp
    between rounds (labels only ever decrease). Node ids near 2^62 would
    wrap a plain long sum (3 ids > 2^63) and could fake a fixpoint; the
    decimal(38,0) sum must stay exact and the clusters correct."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import connected_components

    big = 2**62
    edges = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), (7, 9)], ["doc_a", "doc_b"]
    )
    got = {(r.node, r.comp) for r in connected_components(
        edges, driver_max_edges=0
    ).collect()}
    assert got == {
        (big, big), (big + 1, big), (big + 2, big), (7, 7), (9, 7),
    }


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import connected_components

    # path graph 0-1-2-...-7: min-label needs ~7 rounds; max_iter=2 must
    # raise instead of silently returning wrong labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="convergence"):
        connected_components(edges, src="src", dst="dst", max_iter=2, driver_max_edges=0)


def test_dedup_increment_drops_known_and_internal_dups(spark):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import dedup_increment
    from pyspark_weather_forecasting_gsod_spark.ext.text import normalize_text

    corpus = spark.createDataFrame(
        [(1, "the same old text"), (2, "something else")], ["doc_id", "text"]
    )
    known = corpus.select(
        F.md5(normalize_text("text").cast("binary")).alias("fingerprint")
    ).distinct()
    inc = spark.createDataFrame(
        [
            (10, "THE  SAME old   text"),  # normalizes to a known fingerprint
            (11, "genuinely new"),
            (12, "genuinely  NEW"),  # internal dup of 11 after normalization
            (13, "also new"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in dedup_increment(inc, known).collect())
    assert kept == [11, 13]  # 10 known, 12 loses smallest-id-wins to 11


def test_dedup_increment_publish_back_is_idempotent(spark):
    """After publishing the surviving increment's fingerprints back to the
    store, re-running the same increment must drop everything."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import dedup_increment
    from pyspark_weather_forecasting_gsod_spark.ext.text import normalize_text

    known = spark.createDataFrame([("seed",)], ["text"]).select(
        F.md5(normalize_text("text").cast("binary")).alias("fingerprint")
    )
    inc = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    kept = dedup_increment(inc, known)
    assert kept.count() == 2
    published = known.union(
        kept.select(F.md5(normalize_text("text").cast("binary")).alias("fingerprint"))
    )
    assert dedup_increment(inc, published).count() == 0


def test_exact_jaccard_variants_agree(spark, sf_dir):
    """The three exact n-gram Jaccard strategies (inverted index, AllPairs
    prefix filtering, dense-BLAS bitmap) must produce identical pair sets —
    same algorithm contract, different cost regimes."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_dense,
        ngram_jaccard_pairs_prefix,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")

    def key(rows):
        return {(r.doc_a, r.doc_b, r.common, round(r.jaccard, 9)) for r in rows}

    for n, t, mv in [(2, 0.5, 4096), (2, 0.7, 4096), (3, 0.3, 100_000)]:
        naive = key(
            ngram_jaccard_pairs(docs, "doc_id", "text", n=n, min_jaccard=t).collect()
        )
        prefix = key(
            ngram_jaccard_pairs_prefix(
                docs, "doc_id", "text", n=n, min_jaccard=t
            ).collect()
        )
        dense = key(
            ngram_jaccard_pairs_dense(
                docs, "doc_id", "text", n=n, min_jaccard=t, max_vocab=mv
            ).collect()
        )
        assert naive == prefix, (n, t, len(naive), len(prefix))
        assert naive == dense, (n, t, len(naive), len(dense))
        assert naive, "degenerate test: no pairs found"


def test_dense_jaccard_guards_raise(spark, sf_dir):
    import pytest as _pytest

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs_dense,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="docs"):
        ngram_jaccard_pairs_dense(docs, "doc_id", max_rows=3)
    with _pytest.raises(ValueError, match="shingles"):
        ngram_jaccard_pairs_dense(docs, "doc_id", n=3, max_vocab=16)
    with _pytest.raises(ValueError, match="min_jaccard"):
        ngram_jaccard_pairs_dense(docs, "doc_id", min_jaccard=0.0)


def test_property_jaccard_strategies_match_brute_force(spark):
    """Property: on randomized small-vocab corpora, all three exact
    strategies agree with a pure-Python brute force — an oracle
    independent of every Spark expression involved — for both measures:
    Jaccard, and containment (smaller set is the contained side, ties go
    to the lower id)."""
    from hypothesis import given, settings, strategies as st

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_containment_pairs,
        ngram_containment_pairs_dense,
        ngram_containment_pairs_prefix,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_dense,
        ngram_jaccard_pairs_prefix,
    )

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=2, max_size=12).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=8), st.sampled_from([0.3, 0.6]))
    def check(texts, t):
        rows = [(i, s) for i, s in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def shingles(s):
            w = s.split()
            return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

        sets = {i: shingles(s) for i, s in rows if len(s.split()) >= 2}
        want, want_c = set(), set()
        for a in sets:
            for b in sets:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    union = len(sets[a] | sets[b])
                    if union and inter / union >= t:
                        want.add((a, b, inter, round(inter / union, 9)))
                    small, big = (a, b) if len(sets[a]) <= len(sets[b]) else (b, a)
                    if inter / len(sets[small]) >= t:
                        want_c.add(
                            (small, big, inter, round(inter / len(sets[small]), 9))
                        )

        for fn in (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_prefix,
            ngram_jaccard_pairs_dense,
        ):
            got = {
                (r.doc_a, r.doc_b, r.common, round(r.jaccard, 9))
                for r in fn(df, "doc_id", "text", n=2, min_jaccard=t).collect()
            }
            assert got == want, (fn.__name__, t, texts)
        for fn in (
            ngram_containment_pairs,
            ngram_containment_pairs_prefix,
            ngram_containment_pairs_dense,
        ):
            got = {
                (r.doc_small, r.doc_big, r.common, round(r.containment, 9))
                for r in fn(df, "doc_id", "text", n=2, min_containment=t).collect()
            }
            assert got == want_c, (fn.__name__, t, texts)

    check()


def test_auto_jaccard_selects_and_matches(spark, sf_dir, monkeypatch):
    """auto must equal the strategy-specific outputs on both sides of its
    decision boundary (dense regime here; prefix regime forced via caps).
    The driver regime is switched off so both Spark routes run."""
    from pyspark_weather_forecasting_gsod_spark.ext import dedup
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    monkeypatch.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)

    docs = load_table(spark, sf_dir, "documents")

    def key(rows):
        return {(r.doc_a, r.doc_b, r.common, round(r.jaccard, 9)) for r in rows}

    want = key(ngram_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=0.5).collect())
    dense_route = key(
        ngram_jaccard_pairs_auto(docs, "doc_id", "text", n=2, min_jaccard=0.5).collect()
    )
    prefix_route = key(
        ngram_jaccard_pairs_auto(
            docs, "doc_id", "text", n=2, min_jaccard=0.5, max_vocab=16
        ).collect()
    )
    assert dense_route == want and prefix_route == want and want


def test_strip_duplicated_spans_removes_shared_span_only(spark):
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        strip_duplicated_spans,
    )

    shared = "a b c d e f g h"  # one 8-token span, present in docs 1 and 2
    rows = [
        (1, f"x1 x2 {shared} y1 y2"),
        (2, f"z1 {shared} z2 z3"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique: untouched
        (4, "short doc"),  # below span width: untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in strip_duplicated_spans(df).collect()}
    assert out[1]["clean_text"] == "x1 x2 y1 y2"
    assert out[1]["n_removed"] == 8
    assert out[2]["clean_text"] == "z1 z2 z3"
    assert out[2]["n_removed"] == 8
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "u1 u2 u3 u4 u5 u6 u7 u8 u9"
    assert out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == "short doc"


def test_strip_duplicated_spans_fully_duplicated_doc_empties(spark):
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        strip_duplicated_spans,
    )

    text = "t1 t2 t3 t4 t5 t6 t7 t8"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in strip_duplicated_spans(df).collect()}
    for i in (1, 2):
        assert out[i]["n_tokens"] == 8
        assert out[i]["n_removed"] == 8
        assert out[i]["clean_text"] == ""


def test_containment_catches_subset_docs_jaccard_misses(spark):
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    chunk = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i+1} w{i+2}" for i in range(0, 60, 3))
    big = chunk + " " + filler
    docs = spark.createDataFrame(
        [(1, chunk), (2, big), (3, "totally different words here entirely now")],
        ["doc_id", "text"],
    )
    cont = {
        (r["doc_small"], r["doc_big"]): r["containment"]
        for r in ngram_containment_pairs(docs, "doc_id", min_containment=0.8).collect()
    }
    # the chunk is fully contained in the big doc
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    # symmetric Jaccard at the same strictness misses it
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", min_jaccard=0.8).collect()
    }
    assert (1, 2) not in jac
    # unrelated doc matches nothing
    assert all(3 not in pair for pair in cont)


def test_split_leakage_audit_component_split_zeroes_leakage(spark):
    """Row-level splits of a near-dup-laden corpus leak; splitting by the
    connected-component representative (the operator docstring's remedy)
    makes cross-split pairs structurally zero."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        connected_components,
        ngram_jaccard_pairs,
        split_leakage_audit,
    )
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import hash_split

    # 30 near-dup pairs (2i, 2i+1 share pair-specific vocabulary; no token
    # crosses pairs) → 30 two-doc components, zero cross-pair similarity
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 9),"
            " j -> concat('w', CAST(id DIV 2 AS STRING), '_', j)))"
        ).alias("text"),
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=0.5)
    assert pairs.count() == 30

    # row-level split: some pair must straddle the boundary (md5 of the
    # doc id is independent of its twin's)
    row_split = hash_split(docs.select("doc_id"), "doc_id")
    row_audit = {
        (r["split_lo"], r["split_hi"]): r["n_pairs"]
        for r in split_leakage_audit(pairs, row_split, "doc_id").collect()
    }
    assert row_audit.get(("test", "train"), 0) > 0  # leakage exists
    assert sum(row_audit.values()) == 30  # every pair lands in one cell

    # component-level split: both members of a pair share the component id,
    # hence the split — the cross cell is structurally empty
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    keyed = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    comp_split = hash_split(keyed, "component").select("doc_id", "split")
    comp_audit = {
        (r["split_lo"], r["split_hi"]): r["n_pairs"]
        for r in split_leakage_audit(pairs, comp_split, "doc_id").collect()
    }
    assert comp_audit.get(("test", "train"), 0) == 0
    assert sum(comp_audit.values()) == 30


def test_content_defined_chunks_lossless_and_insertion_robust(spark):
    """CDC chunk boundaries depend only on local content: a head insertion
    re-aligns within ~one chunk and the downstream chunk hashes survive,
    while fixed-stride spans all shift. Also: chunks concatenate back to
    the normalized text (lossless)."""
    from pyspark.sql import Row, functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        content_defined_chunks,
    )

    base_text = " ".join(f"word{i % 13} tok{i % 7}" for i in range(120))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=base_text),
         Row(doc_id=2, text="INSERTED PREFIX " + base_text)]
    )
    chunks = content_defined_chunks(docs, "doc_id").collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_no)
        # losslessness: chunks re-concatenate to the normalized text
        rebuilt = "".join(r.chunk_text for r in rows)
        want = " ".join(("inserted prefix " + base_text if d == 2 else base_text).split()).lower()
        assert rebuilt == want
        assert len(rows) > 3  # the hash actually split the doc
    h1 = {r.chunk_hash for r in by_doc[1]}
    h2 = {r.chunk_hash for r in by_doc[2]}
    # insertion robustness: most of doc1's chunks survive verbatim in doc2
    assert len(h1 & h2) / len(h1) >= 0.6
    # contrast: fixed 64-char strides share almost nothing after the shift
    norm1 = " ".join(base_text.split()).lower()
    norm2 = "inserted prefix " + norm1
    s1 = {norm1[i : i + 64] for i in range(0, len(norm1), 64)}
    s2 = {norm2[i : i + 64] for i in range(0, len(norm2), 64)}
    assert len(s1 & s2) <= 1


def test_content_defined_chunks_single_exchange_plan(spark):
    """The claimed shuffle shape: ONE exchange total — the char-window
    partitioning by id also satisfies the (id, chunk_no) reassembly
    grouping, so no second shuffle appears."""
    import contextlib
    import io
    import re

    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        content_defined_chunks,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{j % 11}" for j in range(150)))
         for i in range(20)]
    )
    out = content_defined_chunks(docs, "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_property_cdc_chunks_lossless_on_random_text(spark):
    """Property: content-defined chunks always reassemble to the
    normalized text, for random word soups of any length (including
    below-window docs that yield a single chunk)."""
    from hypothesis import given, settings, strategies as st

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        content_defined_chunks,
    )

    word = st.sampled_from(["alpha", "bb", "c", "dddd", "eee"])
    doc = st.lists(word, min_size=1, max_size=60).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = content_defined_chunks(df, "doc_id").collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for i, t in enumerate(texts):
            want = " ".join(t.split()).lower()
            got = "".join(
                r.chunk_text
                for r in sorted(by_doc.get(i, []), key=lambda r: r.chunk_no)
            )
            assert got == want, (i, want, got)

    check()


def test_update_components_equals_full_recompute(spark):
    """Incremental CC via component contraction must equal a full
    recompute over (old ∪ new) edges for merge-heavy updates: new edges
    that bridge two old components, chain through brand-new nodes, and
    touch store nodes that previously had no edges at all."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        connected_components,
        update_components,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)], ["doc_a", "doc_b"]
    )
    labels = connected_components(old_edges)
    new_edges = spark.createDataFrame(
        [
            (3, 10),    # merges comp{1,2,3} with comp{10,11}
            (40, 41),   # brand-new standalone component
            (41, 20),   # ...which immediately merges into comp{20,21}
            (50, 31),   # new node joins comp{30,31}
            (1, 2),     # duplicate of an old edge: no-op
        ],
        ["doc_a", "doc_b"],
    )
    got = sorted(
        (r.node, r.comp)
        for r in update_components(labels, new_edges).collect()
    )
    want = sorted(
        (r.node, r.comp)
        for r in connected_components(
            old_edges.unionByName(new_edges)
        ).collect()
    )
    assert got == want
    assert (40, 20) in got and (50, 30) in got  # merges landed, min-id reps


def test_update_components_rejects_non_min_labeling(spark):
    """r05 ADVICE: the contraction proof needs min-member-id reps. A
    labeling whose comp ids are not self-labeled nodes (external system,
    hand-built) must raise instead of silently returning wrong clusters;
    validate_labels=False opts out for externally-proven labelings."""
    import pytest

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import update_components

    bad = spark.createDataFrame(
        [(1, 99), (2, 99), (3, 99)], ["node", "comp"]  # 99 is not a node
    )
    new_edges = spark.createDataFrame([(3, 4)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="min-member-id"):
        update_components(bad, new_edges)
    # the escape hatch still runs (caller vouches for the labeling)
    assert update_components(bad, new_edges, validate_labels=False).count() > 0


def test_widen_for_fanout_connect_safe(spark, tmp_path):
    """r05 VERDICT #4: no RDD probe. A narrow file-backed scan widens to
    the session's shuffle parallelism; a post-shuffle frame is returned
    untouched (identity — no extra exchange in anyone's plan)."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import widen_for_fanout

    p = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    widened = widen_for_fanout(narrow)
    # tests may probe the RDD; the package itself must not
    assert widened.rdd.getNumPartitions() == target
    no_files = spark.range(100)  # no file source in the lineage: identity
    assert widen_for_fanout(no_files) is no_files
    src = __import__("inspect").getsource(widen_for_fanout)
    assert ".rdd" not in src.replace("``df.rdd.getNumPartitions()``", "")


def test_remove_nodes_splits_and_passthrough(spark):
    """r05 VERDICT ask #5: deletions can SPLIT a component (cut vertex) —
    remove_nodes must equal a full recompute over the surviving edges:
    splits land, edge-free survivors drop out (connected_components
    semantics), untouched components pass through byte-identical."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        connected_components,
        remove_nodes,
    )

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),     # path: 2 is a cut vertex
            (10, 11), (11, 12), (10, 12),  # untouched clique
            (20, 21),                    # pair fully dissolved by removal
        ],
        ["doc_a", "doc_b"],
    )
    labels = connected_components(edges)
    removed = spark.createDataFrame([(2,), (20,)], ["doc_id"])
    got = sorted(
        (r.node, r.comp) for r in remove_nodes(labels, edges, removed).collect()
    )
    # full recompute over surviving edges: (3,4) and the clique; node 1
    # lost its only edge -> absent; 21 likewise; removed nodes absent
    surviving = spark.createDataFrame(
        [(3, 4), (10, 11), (11, 12), (10, 12)], ["doc_a", "doc_b"]
    )
    want = sorted(
        (r.node, r.comp) for r in connected_components(surviving).collect()
    )
    assert got == want
    assert (3, 3) in got and (4, 3) in got          # the split relabeled
    assert (10, 10) in got and (12, 10) in got      # untouched passthrough
    assert all(n not in (1, 2, 20, 21) for n, _ in got)


def test_remove_nodes_removing_representative_relabels(spark):
    """Removing a component's min-member REPRESENTATIVE forces the
    survivors onto the next-smallest id — the case a naive 'drop removed
    rows from the label table' silently gets wrong."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        connected_components,
        remove_nodes,
    )

    edges = spark.createDataFrame(
        [(5, 6), (6, 7), (5, 7)], ["doc_a", "doc_b"]
    )
    labels = connected_components(edges)
    removed = spark.createDataFrame([(5,)], ["doc_id"])
    got = sorted(
        (r.node, r.comp) for r in remove_nodes(labels, edges, removed).collect()
    )
    assert got == [(6, 6), (7, 6)]


def test_containment_prefix_matches_inverted_index(spark, sf_dir):
    """The asymmetric-prefix-filtered containment join must produce the
    identical pair set as the plain inverted index (same contract as the
    three exact Jaccard strategies) — sf1 rehearsal finding follow-up."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_containment_pairs,
        ngram_containment_pairs_dense,
        ngram_containment_pairs_prefix,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")

    def key(rows):
        return {
            (r.doc_small, r.doc_big, r.common, round(r.containment, 9))
            for r in rows
        }

    for n, t in [(2, 0.5), (2, 0.8), (3, 0.3)]:
        base = key(
            ngram_containment_pairs(
                docs, "doc_id", "text", n=n, min_containment=t
            ).collect()
        )
        pref = key(
            ngram_containment_pairs_prefix(
                docs, "doc_id", "text", n=n, min_containment=t
            ).collect()
        )
        dense = key(
            ngram_containment_pairs_dense(
                docs, "doc_id", "text", n=n, min_containment=t,
                max_vocab=100_000,
            ).collect()
        )
        assert base == pref, (n, t, len(base), len(pref))
        assert base == dense, (n, t, len(base), len(dense))
        assert base, "degenerate test: no pairs found"


def test_dense_paths_require_integral_ids_and_auto_routes_strings(spark):
    """r06 review fix: the dense BLAS paths pack ids into int64 matrices;
    a string id used to be cast('long') into NULLs that collapsed every
    row into one block and crashed densify. Dense must now refuse
    non-integral ids up front, and the auto routers must send string-id
    corpora down the prefix path (which handles any id type) and still
    return the correct pairs."""
    import pytest as _pytest
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_containment_pairs_auto,
        ngram_containment_pairs_dense,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        ngram_jaccard_pairs_dense,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=f"doc-{i:03d}", text=("red blue green yellow " * 3)
                + ("purple " if i % 2 else "orange "))
            for i in range(8)
        ]
    )
    with _pytest.raises(ValueError, match="integral id"):
        ngram_jaccard_pairs_dense(docs, "doc_id", n=2)
    with _pytest.raises(ValueError, match="integral id"):
        ngram_containment_pairs_dense(docs, "doc_id", n=2)

    def key(rows):
        return {(r.doc_a, r.doc_b, r.common, round(r.jaccard, 9)) for r in rows}

    want = key(ngram_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=0.5).collect())
    got = key(ngram_jaccard_pairs_auto(docs, "doc_id", "text", n=2, min_jaccard=0.5).collect())
    assert got == want and want
    # containment auto on string ids: must not crash, must emit the
    # wholly-contained even/odd sibling pairs
    cont = ngram_containment_pairs_auto(
        docs, "doc_id", "text", n=2, min_containment=0.8
    ).collect()
    assert cont and all(isinstance(r.doc_small, str) for r in cont)


def test_update_components_validates_touched_comps_exactly(spark):
    """r06 review: validation is exact over the comps the batch touches
    (the only ones the contraction proof relies on) — a broken label on
    an UNTOUCHED component no longer trips the check (it passes through
    unchanged), while a touched NULL comp is reported, not a TypeError."""
    import pytest

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import update_components

    # comp 99 invalid but UNTOUCHED by the batch; comp 10 valid + touched
    labels = spark.createDataFrame(
        [(1, 99), (2, 99), (10, 10), (11, 10)], ["node", "comp"]
    )
    out = update_components(labels, spark.createDataFrame([(11, 12)], ["doc_a", "doc_b"]))
    got = {(r.node, r.comp) for r in out.collect()}
    assert (12, 10) in got and (1, 99) in got  # merge landed; untouched rows pass through
    # a NULL comp on a touched node must raise the designed error
    nulled = spark.createDataFrame(
        [(1, None), (2, 2)], "node long, comp long"
    )
    with pytest.raises(ValueError, match="min-member-id"):
        update_components(nulled, spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"]))


def test_ngram_jaccard_pairs_max_docs_guard_fires(spark):
    """r06 VERDICT #2: the unthresholded inverted-index path must refuse
    corpora past the limit-probe bound instead of running Σ|posting|²
    work; max_docs=None keeps the pre-bounded-slice escape hatch."""
    import pytest

    docs = _docs(spark)
    with pytest.raises(ValueError, match="max_docs"):
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, max_docs=2).collect()
    # escape hatch: explicit None skips the probe entirely
    assert ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, max_docs=None
    ).count() > 0


def test_ngram_best_match_exact_semantics(spark):
    """Exact regime: true 1-NN per doc, jaccard-desc / partner-id-asc
    tie-break, docs sharing no shingle absent."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import ngram_best_match

    best = {
        r.doc_a: (r.doc_b, r.jaccard)
        for r in ngram_best_match(
            _docs(spark), "doc_id", "text", n=3, force="exact"
        ).collect()
    }
    assert best[1] == (2, 1.0)       # exact dup wins
    assert best[2] == (1, 1.0)       # symmetric, smallest-id tie-break
    assert abs(best[3][1] - 5 / 7) < 1e-12 and best[3][0] in (1, 2)
    assert best[3][0] == 1           # tie between 1 and 2 → smallest id
    assert 4 not in best and 5 not in best  # isolated / too short


def test_ngram_best_match_router_and_banded_parity(spark, sf_dir):
    """The router picks exact under max_exact_docs and banded above it;
    on the sf fixture the banded regime (LSH candidates + exact re-rank)
    reproduces the exact 1-NN for every doc it returns, with ≥90% recall
    of the exact assignment (planted near-dups are high-jaccard, where
    the s-curve is ~1)."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import ngram_best_match
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 2 = 0")
    exact = {
        r.doc_a: (r.doc_b, round(r.jaccard, 9))
        for r in ngram_best_match(docs, "doc_id", "text", n=2, force="exact").collect()
    }
    # max_exact_docs=1 forces the probe over the cutover → banded regime
    banded_rows = ngram_best_match(
        docs, "doc_id", "text", n=2, max_exact_docs=1
    ).collect()
    banded = {r.doc_a: (r.doc_b, round(r.jaccard, 9)) for r in banded_rows}
    assert exact, "degenerate test: exact 1-NN found nothing"
    # the banded contract is near-dup-grade recall: docs whose TRUE best
    # match is j ≥ 0.5 must be reproduced ≥90% (s-curve ~0.99 there); a
    # doc whose best partner is j≈0.08 is invisible to banding by design
    strong = {d: v for d, v in exact.items() if v[1] >= 0.5}
    assert strong, "degenerate test: no near-dup-grade best matches planted"
    agree = sum(1 for d, v in strong.items() if banded.get(d) == v)
    assert agree / len(strong) >= 0.9, (agree, len(strong))
    for d, (b, j) in banded.items():
        assert j <= exact[d][1] + 1e-9  # banded can miss, never overshoot
    # every banded row is an exactly scored pair: its common count and
    # jaccard are the full enumeration's, in either orientation
    full = set()
    for r in ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, min_jaccard=0.0, max_docs=None
    ).collect():
        full.add((r.doc_a, r.doc_b, r.common, r.jaccard))
        full.add((r.doc_b, r.doc_a, r.common, r.jaccard))
    missing = [r for r in banded_rows if tuple(r) not in full]
    assert not missing, missing[:5]
    import pytest

    with pytest.raises(ValueError, match="force"):
        ngram_best_match(docs, "doc_id", force="bogus")


def test_ngram_best_match_tiered_exact_parity(spark, sf_dir):
    """r08 VERDICT #1: the 'tiered' regime (lossless prefix pairs at
    j ≥ 0.5 + unmatched-only inverted-index remainder) must equal the
    exact regime doc-for-doc — partner, tie-break, and score — on a
    corpus that exercises BOTH tiers (planted near-dups answer in tier 1;
    every unique doc's best is far below 0.5 and falls to tier 2).
    ``tier2_max_unmatched_frac=1.0`` pins genuine tier-2 execution: this
    corpus is 94.8% unmatched at j ≥ 0.5, so the r10 mostly-unique
    fallback would otherwise route it to plain exact and tier 2 would
    silently lose its only parity coverage."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import ngram_best_match
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 2 = 0")
    exact = {
        r.doc_a: (r.doc_b, round(r.jaccard, 9), r.common)
        for r in ngram_best_match(
            docs, "doc_id", "text", n=2, force="exact"
        ).collect()
    }
    tiered = {
        r.doc_a: (r.doc_b, round(r.jaccard, 9), r.common)
        for r in ngram_best_match(
            docs, "doc_id", "text", n=2, force="tiered",
            tier2_max_unmatched_frac=1.0,
        ).collect()
    }
    assert exact and tiered == exact
    # the r10 mostly-unique fallback (default crossover 0.5): same corpus,
    # default routing — the fallback fires (94.8% unmatched) and must
    # return the identical exact output through the plain-enumeration leg
    fallback = {
        r.doc_a: (r.doc_b, round(r.jaccard, 9), r.common)
        for r in ngram_best_match(
            docs, "doc_id", "text", n=2, force="tiered"
        ).collect()
    }
    assert fallback == exact
    # both tiers genuinely exercised: some best matches at ≥0.5 (tier 1)
    # and some below (tier 2 exhaustive remainder)
    js = [v[1] for v in exact.values()]
    assert any(j >= 0.5 for j in js) and any(j < 0.5 for j in js)
    # micro fixture: the 1-vs-2 exact-dup tie and the doc-3 tie between
    # partners 1 and 2 must resolve identically (smallest id) in tiered
    micro = {
        r.doc_a: (r.doc_b, round(r.jaccard, 9))
        for r in ngram_best_match(
            _docs(spark), "doc_id", "text", n=3, force="tiered"
        ).collect()
    }
    assert micro[1] == (2, 1.0) and micro[2] == (1, 1.0)
    assert micro[3][0] == 1
    assert 4 not in micro and 5 not in micro


def test_dense_admission_probe_matches_full_decision(spark):
    """The standalone dense guard's cheap sample probe and the auto
    routers' one-pass admission must reach the SAME decision:

    * a >sample corpus with a Zipf-huge vocabulary is rejected by the
      sample alone (monotone: sample distinct > cap proves full > cap),
      and the full frequency pass rejects it too;
    * a >sample corpus drawn from a tiny shingle universe passes the
      sample AND the full pass, so dense is admitted;
    * docs shorter than n tokens carry no shingles: the admission counts
      exactly the shingle-bearing docs, and the routed output equals the
      plain inverted-index output.
    """
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        _dense_admission,
        _sample_vocab_exceeds,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        shingle_arrays,
    )

    # 2,500 docs (> the 2,000-doc sample), every doc a unique bigram universe
    big_vocab = spark.createDataFrame(
        [Row(doc_id=i, text=f"tok{i}a tok{i}b tok{i}c tok{i}d") for i in range(2500)]
    )
    assert _sample_vocab_exceeds(big_vocab, "doc_id", "text", 2, 4096)
    admit, n_docs, n_vocab, vidx, arrs, freq = _dense_admission(
        big_vocab, "doc_id", "text", 2, 200_000, 4096
    )
    assert not admit and n_docs == 2500 and n_vocab == 7500 and vidx is None
    assert freq.count() == n_vocab

    # 2,500 docs over a ~10-token universe: sample passes, full probe passes
    words = [f"w{k}" for k in range(10)]
    tiny_vocab = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(words[i % 5 : i % 5 + 4]))
            for i in range(2500)
        ]
    )
    assert not _sample_vocab_exceeds(tiny_vocab, "doc_id", "text", 2, 4096)
    admit, n_docs, n_vocab, vidx, arrs, freq = _dense_admission(
        tiny_vocab, "doc_id", "text", 2, 200_000, 4096
    )
    assert admit and n_docs == 2500
    # on admit the corpus carries the complete shingle->column index
    vrows = vidx.collect()
    assert len(vrows) == len({r.shingle for r in vrows}) == n_vocab
    assert sorted(r["__idx"] for r in vrows) == list(range(len(vrows)))
    # ...the materialized corpus-wide shingle pass: one row per
    # shingle-bearing doc, values identical to a fresh shingle_arrays run
    want_arrs = {
        (r.doc_id, tuple(sorted(r.shingles)))
        for r in shingle_arrays(tiny_vocab, "doc_id", "text", 2).collect()
    }
    got_arrs = {
        (r.doc_id, tuple(sorted(r.shingles))) for r in arrs.collect()
    }
    assert got_arrs == want_arrs
    # ...and each shingle's document frequency
    df_want: dict[str, int] = {}
    for _, sh in want_arrs:
        for x in sh:
            df_want[x] = df_want.get(x, 0) + 1
    assert {r.shingle: r["__df"] for r in freq.collect()} == df_want
    # a caller-handed arrs frame is passed through and reused, not rebuilt
    admit2, n2, _, _, arrs2, _ = _dense_admission(
        tiny_vocab, "doc_id", "text", 2, 200_000, 4096, arrs=arrs
    )
    assert admit2 and n2 == 2500 and arrs2 is arrs

    # short docs (< n tokens) are dropped by shingling, so only the 20
    # shingle-bearing docs count; the routed output must equal the plain
    # inverted-index output
    mixed = spark.createDataFrame(
        [Row(doc_id=i, text="red blue green yellow" if i % 2 else "solo")
         for i in range(40)]
    )
    admit, n_docs, n_vocab, vidx, arrs, freq = _dense_admission(
        mixed, "doc_id", "text", 2, 200_000, 4096
    )
    assert admit and n_docs == 20 and n_vocab == 3 and vidx is not None

    def key(rows):
        return {(r.doc_a, r.doc_b, r.common, round(r.jaccard, 9)) for r in rows}

    want = key(ngram_jaccard_pairs(mixed, "doc_id", "text", n=2, min_jaccard=0.5).collect())
    got = key(ngram_jaccard_pairs_auto(mixed, "doc_id", "text", n=2, min_jaccard=0.5).collect())
    assert got == want and want


def _zipf_texts(n_docs: int = 300, seed: int = 1) -> list[str]:
    """A seeded Zipf-vocabulary corpus (20k words, s = 1.1, 30-80 words a
    doc) with planted near-copies (one word replaced): its word 3-gram
    universe is far past the dense cap."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cdf = np.cumsum(np.arange(1, 20_001, dtype=float) ** -1.1)
    cdf /= cdf[-1]

    def draw(k):
        return np.minimum(np.searchsorted(cdf, rng.random(k)), 19_999)

    texts = []
    while len(texts) < n_docs:
        base = draw(int(rng.integers(30, 81)))
        texts.append(" ".join(f"w{i}" for i in base))
        if rng.random() < 0.3:
            copy = base.copy()
            copy[int(rng.integers(len(base)))] = draw(1)[0]
            texts.append(" ".join(f"w{i}" for i in copy))
    return texts[:n_docs]


def _zipf_docs(spark, path, n_docs: int = 300, seed: int = 1):
    """``_zipf_texts`` as (doc_id long, text), read back from one parquet
    file at ``path``, so the planner sees a file-sized scan, as for any
    corpus on storage."""
    spark.createDataFrame(
        list(enumerate(_zipf_texts(n_docs, seed))), "doc_id long, text string"
    ).coalesce(1).write.parquet(str(path))
    return spark.read.parquet(str(path)).localCheckpoint(eager=True)


def test_auto_routes_through_public_entries_once(spark, monkeypatch, tmp_path):
    """Each auto router decides from its one admission pass and calls the
    module-level strategy entry exactly once with the prepared corpus: the
    prefix entry on a Zipf corpus, the dense entry on a small universe.
    Both routes equal the inverted index, for Jaccard and containment. The
    driver regime is switched off: both corpora are small enough for it."""
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    monkeypatch.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)
    calls: list[str] = []

    def counted(name):
        fn = getattr(dedup, name)

        def wrapper(*args, **kwargs):
            assert kwargs.get("_corpus") is not None
            calls.append(name)
            return fn(*args, **kwargs)

        monkeypatch.setattr(dedup, name, wrapper)

    for m in ("jaccard", "containment"):
        for route in ("prefix", "dense"):
            counted(f"ngram_{m}_pairs_{route}")

    def rows(frame):
        return {(r[0], r[1], r[2], round(r[3], 9)) for r in frame.collect()}

    zipf = _zipf_docs(spark, tmp_path / "zipf.parquet")
    words = [f"w{k}" for k in range(8)]
    small = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(words[i % 4 : i % 4 + 3 + i % 3])) for i in range(60)]
    )
    for docs, route in ((zipf, "prefix"), (small, "dense")):
        for m, auto, plain, t in (
            ("jaccard", dedup.ngram_jaccard_pairs_auto, dedup.ngram_jaccard_pairs, 0.5),
            ("containment", dedup.ngram_containment_pairs_auto,
             dedup.ngram_containment_pairs, 0.6),
        ):
            calls.clear()
            got = rows(auto(docs, "doc_id", "text", 3, t))
            assert calls == [f"ngram_{m}_pairs_{route}"], (m, route, calls)
            assert got == rows(plain(docs, "doc_id", "text", 3, t)) and got, (m, route)


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_neardup_pairs_and_components_job_count(spark, tmp_path, monkeypatch):
    """Pairs → components on a Zipf corpus with a handed shingle
    checkpoint. The driver regime decides and solves from one postings
    fetch, so the auto pairs plus their checkpoint run 2 Spark jobs. With
    the driver regime off, one frequency checkpoint both routes the auto
    router and ranks the prefix kernel, within 7 jobs (separate admission
    probes and a re-aggregated frequency table ran 12). A bounded edge
    list is fetched once to decide and solve on the driver, so components
    plus their collect run 1 job (a count probe before the fetch ran 4)."""
    from pyspark_weather_forecasting_gsod_spark.ext import dedup
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        connected_components,
        ngram_jaccard_pairs_auto,
        shingle_arrays,
    )

    docs = _zipf_docs(spark, tmp_path / "zipf.parquet")
    arrs = shingle_arrays(docs, "doc_id", "text", 3).localCheckpoint(eager=True)

    def pairs_jobs(group):
        return _jobs_in_group(
            spark,
            group,
            lambda: ngram_jaccard_pairs_auto(
                docs, "doc_id", "text", n=3, min_jaccard=0.5, _arrs=arrs
            ).localCheckpoint(eager=True),
        )

    pairs, driver_jobs = pairs_jobs("test-neardup-pairs-driver-job-count")
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)
        spark_pairs, pair_jobs = pairs_jobs("test-neardup-pairs-job-count")
    comp, cc_jobs = _jobs_in_group(
        spark,
        "test-neardup-cc-job-count",
        lambda: connected_components(pairs).collect(),
    )
    assert pairs.count() > 0 and comp
    assert sorted(pairs.collect()) == sorted(spark_pairs.collect())
    assert driver_jobs <= 2, driver_jobs
    assert pair_jobs <= 7, pair_jobs
    assert cc_jobs <= 1, cc_jobs


def test_in_memory_corpus_pairs_job_count(spark):
    """A corpus built with ``createDataFrame`` carries no size statistics,
    so the Spark prefix kernel's joins plan without broadcasts and its
    auto pairs plus checkpoint ran 10 jobs on a 300-doc Zipf corpus. Below
    the driver caps the plan never runs: one postings fetch decides and
    solves, and the checkpoint of the local result is the second job."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        shingle_arrays,
    )

    docs = spark.createDataFrame(
        list(enumerate(_zipf_texts())), "doc_id long, text string"
    )
    arrs = shingle_arrays(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    pairs, jobs = _jobs_in_group(
        spark,
        "test-in-memory-pairs-job-count",
        lambda: ngram_jaccard_pairs_auto(
            docs, "doc_id", "text", n=3, min_jaccard=0.5, _arrs=arrs
        ).localCheckpoint(eager=True),
    )
    want = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.5)
    assert sorted(pairs.collect()) == sorted(want.collect()) and pairs.count()
    assert jobs <= 2, jobs


def _routed(caplog, fn):
    """``fn()`` and the (operator, route, probes) it reported."""
    import logging

    caplog.clear()
    with caplog.at_level(logging.INFO, logger="spark_graft"):
        out = fn()
    return out, [
        (r.operator, r.route, r.probes) for r in caplog.records if r.name == "spark_graft"
    ]


def test_routes_are_reported(spark, caplog, monkeypatch, tmp_path):
    """The pair routers and connected_components report the route they
    took and the probes that decided it, against their caps."""
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    zipf = _zipf_docs(spark, tmp_path / "zipf.parquet")
    pairs, routes = _routed(
        caplog, lambda: dedup.ngram_jaccard_pairs_auto(zipf, "doc_id", "text", 3, 0.5)
    )
    [(op, route, probes)] = routes
    assert (op, route) == ("ngram_jaccard_pairs_auto", "driver")
    assert probes["postings"][1] == dedup._DRIVER_MAX_POSTINGS
    assert 0 < probes["postings"][0] <= probes["postings"][1]
    assert 0 < probes["work"][0] <= probes["work"][1] == dedup._DRIVER_MAX_WORK
    assert probes["n_docs"] == 300 and probes["n_vocab"] > 0

    _, routes = _routed(caplog, lambda: dedup.connected_components(pairs))
    assert routes == [("connected_components", "driver", {"edges": (pairs.count(), 1_000_000)})]
    _, routes = _routed(
        caplog, lambda: dedup.connected_components(pairs, driver_max_edges=0).collect()
    )
    assert routes == [("connected_components", "distributed", {"edges": None})]

    monkeypatch.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)
    words = [f"w{k}" for k in range(8)]
    small = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(words[i % 4 : i % 4 + 5])) for i in range(40)]
    )
    for docs, route in ((small, "dense"), (zipf, "prefix")):
        _, routes = _routed(
            caplog,
            lambda: dedup.ngram_containment_pairs_auto(docs, "doc_id", "text", 3, 0.6),
        )
        [(op, got, probes)] = routes
        assert (op, got) == ("ngram_containment_pairs_auto", route)
        assert probes["n_docs"][1] == 200_000 and probes["n_vocab"][1] == 4096
        assert (probes["n_vocab"][0] <= 4096) == (route == "dense")


def _skewed_texts() -> list[str]:
    """Full docs plus truncations to 1/2, 1/4 and 1/8 of their length over a
    64-word cycle: heavy length skew, many overlapping pairs."""
    words = [f"tok{i}" for i in range(64)]
    texts = []
    for d in range(12):
        base = [words[(d * 7 + i) % 64] for i in range(48)]
        texts += [" ".join(base[: max(4, 48 // frac)]) for frac in (1, 2, 4, 8)]
    return texts


def test_driver_route_matches_inverted_index(spark, caplog, monkeypatch, tmp_path):
    """The driver regime's rows equal the inverted-index reference on a
    Zipf corpus and a skewed-length corpus, for long and string ids, both
    measures and t in {0.3, 0.5, 0.8, 1.0}; its schema equals the Spark
    routes' schema, ids keep their type, and an empty result keeps it."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    def as_ids(frame, ids):
        if ids == "string":
            return frame.select(
                F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"), "text"
            )
        return frame.select(F.col("doc_id").cast(ids), "text")

    zipf = _zipf_docs(spark, tmp_path / "zipf.parquet")
    skewed = spark.createDataFrame(list(enumerate(_skewed_texts())), "doc_id long, text string")
    measures = (
        (dedup.ngram_jaccard_pairs_auto, dedup.ngram_jaccard_pairs),
        (dedup.ngram_containment_pairs_auto, dedup.ngram_containment_pairs),
    )
    for name, corpus, n in (("zipf", zipf, 3), ("skewed", skewed, 2)):
        for ids in ("long", "string"):
            docs = as_ids(corpus, ids)
            for auto, plain in measures:
                # the reference at the lowest threshold holds every higher one
                ref = [tuple(r) for r in plain(docs, "doc_id", "text", n, 0.3).collect()]
                for t in (0.3, 0.5, 0.8, 1.0):
                    out, routes = _routed(caplog, lambda: auto(docs, "doc_id", "text", n, t))
                    assert [r[1] for r in routes] == ["driver"], (name, ids, t, routes)
                    got = sorted(tuple(r) for r in out.collect())
                    assert got == sorted(r for r in ref if r[3] >= t), (name, ids, auto.__name__, t)
                    assert got or t == 1.0, (name, ids, auto.__name__, t)
    for ids in ("long", "int", "string"):
        docs = as_ids(zipf, ids)
        # no pair of these three docs reaches t = 1
        few = as_ids(zipf.filter(F.col("doc_id") < 3), ids)
        for auto, _ in measures:
            with monkeypatch.context() as mp:
                mp.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)
                spark_schema = auto(docs, "doc_id", "text", 3, 0.5).schema
            empty = auto(few, "doc_id", "text", 3, 1.0)
            assert empty.schema == auto(docs, "doc_id", "text", 3, 0.5).schema == spark_schema
            assert empty.count() == 0


def test_driver_route_null_and_duplicate_ids(spark, caplog, monkeypatch):
    """NULL ids are dropped, as the Spark kernels drop them; duplicate ids
    fall through to the Spark routes, whose rows the router then returns."""
    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    texts = _skewed_texts()
    nulls = spark.createDataFrame(
        [(None if i % 5 == 0 else i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    for auto, plain in (
        (dedup.ngram_jaccard_pairs_auto, dedup.ngram_jaccard_pairs),
        (dedup.ngram_containment_pairs_auto, dedup.ngram_containment_pairs),
    ):
        out, routes = _routed(caplog, lambda: auto(nulls, "doc_id", "text", 2, 0.4))
        got = sorted(tuple(r) for r in out.collect())
        assert [r[1] for r in routes] == ["driver"]
        assert got == sorted(tuple(r) for r in plain(nulls, "doc_id", "text", 2, 0.4).collect())
        assert got and all(r[0] is not None and r[1] is not None for r in got)

    dups = spark.createDataFrame(
        [(i % 40, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    for auto in (dedup.ngram_jaccard_pairs_auto, dedup.ngram_containment_pairs_auto):
        out, routes = _routed(caplog, lambda: auto(dups, "doc_id", "text", 2, 0.4))
        [(_, route, probes)] = routes
        assert route in ("dense", "prefix") and "work" not in probes, routes
        with monkeypatch.context() as mp:
            mp.setattr(dedup, "_DRIVER_MAX_POSTINGS", 0)
            want = auto(dups, "doc_id", "text", 2, 0.4)
        assert sorted(out.collect()) == sorted(want.collect())


def test_auto_threshold_outside_unit_interval_unchanged(spark):
    """The driver regime takes only thresholds in (0, 1]; others reach the
    Spark routes, which raise (or, for a dense admit above 1, find no
    pairs) as before."""
    import pytest

    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    docs = spark.createDataFrame(list(enumerate(_skewed_texts())), "doc_id long, text string")
    sdocs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    for m in ("jaccard", "containment"):
        auto = getattr(dedup, f"ngram_{m}_pairs_auto")
        with pytest.raises(ValueError, match=f"dense {m} requires min_{m} > 0"):
            auto(docs, "doc_id", "text", 2, 0.0)
        assert auto(docs, "doc_id", "text", 2, 1.5).count() == 0
        for t in (0.0, 1.5):
            with pytest.raises(ValueError, match=f"requires 0 < min_{m} <= 1"):
                auto(sdocs, "doc_id", "text", 2, t)


def test_driver_work_bound_falls_through(spark, caplog):
    """A hot small-universe corpus (300 docs of 200 words over 15 words)
    is within the postings cap but past the candidate-work bound, so the
    router falls through: dense for long ids, prefix for string ids, with
    the fetch's frequency table handed over. Rows equal the dense and
    prefix strategies run on their own."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext import dedup

    rng = np.random.default_rng(0)
    texts = []
    for i in range(300):
        # every tenth doc is fresh; the nine after it are near-copies
        w = rng.integers(0, 15, 200) if i % 10 == 0 else w.copy()
        w[rng.integers(0, 200, 4)] = rng.integers(0, 15, 4)
        texts.append(" ".join(f"w{k}" for k in w))
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sdocs = docs.select(F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"), "text")
    for d, route in ((docs, "dense"), (sdocs, "prefix")):
        for m, t in (("jaccard", 0.5), ("containment", 0.8)):
            auto = getattr(dedup, f"ngram_{m}_pairs_auto")
            out, routes = _routed(caplog, lambda: auto(d, "doc_id", "text", 2, t))
            [(_, got, probes)] = routes
            assert got == route and probes["work"][0] > probes["work"][1], routes
            assert probes["postings"][0] <= probes["postings"][1]
            want = getattr(dedup, f"ngram_{m}_pairs_{route}")(d, "doc_id", "text", 2, t)
            rows = sorted(tuple(r) for r in out.collect())
            assert rows == sorted(tuple(r) for r in want.collect()) and rows, (m, route)


def test_prefix_size_filter_identical_on_skewed_lengths(spark):
    """AllPairs length filter: on a corpus with heavy length skew (full
    docs + truncations at 1/2, 1/4, 1/8) the size-ratio pruning must
    change NOTHING about the output — it is a necessary condition of
    J >= t — so the prefix route equals the plain inverted index, the
    reference."""
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    words = [f"tok{i}" for i in range(64)]
    rows = []
    for d in range(12):
        base = [words[(d * 7 + i) % 64] for i in range(48)]
        for k, frac in enumerate([1, 2, 4, 8]):
            rows.append(
                Row(doc_id=d * 4 + k, text=" ".join(base[: max(4, 48 // frac)]))
            )
    docs = spark.createDataFrame(rows)

    def key(out):
        return {
            (r.doc_a, r.doc_b, r.common, round(r.jaccard, 9))
            for r in out.collect()
        }

    truth = key(ngram_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=0.4))
    filtered = key(
        ngram_jaccard_pairs_prefix(docs, "doc_id", "text", n=2, min_jaccard=0.4)
    )
    assert filtered == truth and truth


def test_shared_arrs_handover_identical_outputs(spark):
    """r12 single-pass handover: routing a caller-materialized
    ``shingle_arrays`` checkpoint through the auto router and
    ``exact_cross_jaccard`` must change NOTHING about the outputs —
    the handed frame is the same map-only projection, materialized once.
    Covers both auto regimes (dense via tiny universe, prefix via a
    non-integral id that rejects admission before the vocab probe ever
    runs — arrs still handed to the prefix path)."""
    from pyspark.sql import Row, functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        exact_cross_jaccard,
        ngram_jaccard_pairs_auto,
        shingle_arrays,
    )

    words = [f"w{k}" for k in range(12)]
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(words[i % 6 : i % 6 + 5]))
            for i in range(60)
        ]
    )
    arrs = shingle_arrays(docs, "doc_id", "text", 2).localCheckpoint(
        eager=True
    )

    def key(rows):
        return {(r.doc_a, r.doc_b, r.common, round(r.jaccard, 9)) for r in rows}

    plain = key(
        ngram_jaccard_pairs_auto(
            docs, "doc_id", "text", n=2, min_jaccard=0.3
        ).collect()
    )
    shared = key(
        ngram_jaccard_pairs_auto(
            docs, "doc_id", "text", n=2, min_jaccard=0.3, _arrs=arrs
        ).collect()
    )
    assert shared == plain and plain

    # prefix regime: string ids reject dense admission; the handed arrs
    # must still be consumed by the prefix path with identical output
    sdocs = docs.select(
        F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text"
    )
    sarrs = shingle_arrays(sdocs, "doc_id", "text", 2).localCheckpoint(
        eager=True
    )
    p_plain = key(
        ngram_jaccard_pairs_auto(
            sdocs, "doc_id", "text", n=2, min_jaccard=0.3
        ).collect()
    )
    p_shared = key(
        ngram_jaccard_pairs_auto(
            sdocs, "doc_id", "text", n=2, min_jaccard=0.3, _arrs=sarrs
        ).collect()
    )
    assert p_shared == p_plain and p_plain

    # cross-jaccard with one or both sides handed over
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    store = docs.filter(F.col("doc_id") % 3 != 0)
    b_arrs = shingle_arrays(batch, "doc_id", "text", 2).localCheckpoint(
        eager=True
    )
    s_arrs = shingle_arrays(store, "doc_id", "text", 2).localCheckpoint(
        eager=True
    )

    def ckey(rows):
        return {(r.bid, r.sid, round(r.jaccard, 9)) for r in rows}

    c_plain = ckey(
        exact_cross_jaccard(
            batch, store, "doc_id", "text", n=2, min_jaccard=0.3
        ).collect()
    )
    c_shared = ckey(
        exact_cross_jaccard(
            batch, store, "doc_id", "text", n=2, min_jaccard=0.3,
            _batch_arrs=b_arrs, _store_arrs=s_arrs,
        ).collect()
    )
    c_half = ckey(
        exact_cross_jaccard(
            batch, store, "doc_id", "text", n=2, min_jaccard=0.3,
            _store_arrs=s_arrs,
        ).collect()
    )
    assert c_shared == c_plain == c_half and c_plain


def test_neardup_probe_against_index(spark, tmp_path):
    """A batch probed against a ``build_neardup_index`` store: an exact
    copy reports its store doc at 1.0 (the smaller store id on a tie), a
    doc sharing no shingle reports NULLs, and every reported best is an
    exactly scored pair of ``exact_cross_jaccard``."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        build_neardup_index,
        exact_cross_jaccard,
        neardup_probe,
    )

    greek = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    count = "one two three four five six seven eight nine ten eleven twelve"
    store = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text=greek),
            Row(doc_id=3, text=greek),  # ties doc 2 for any probe
            Row(doc_id=4, text=count),
            Row(doc_id=5, text="red orange yellow green blue indigo violet"),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=101, text=greek),
            Row(doc_id=102, text="nothing here is shared with any stored doc"),
            Row(doc_id=103, text=count.replace("twelve", "thirteen")),
        ]
    )
    index_dir = str(tmp_path / "index")
    build_neardup_index(store, index_dir, "doc_id")
    got = {
        r.doc_id: r
        for r in neardup_probe(spark, index_dir, batch, "doc_id").collect()
    }
    assert set(got) == {101, 102, 103}
    assert (got[101].best_match, got[101].best_jaccard) == (2, 1.0)
    assert got[101].n_candidates >= 2  # both copies were candidates
    assert got[102].best_match is None and got[102].best_jaccard is None
    exact = {
        (r.bid, r.sid): round(r.jaccard, 6)
        for r in exact_cross_jaccard(
            batch, store, "doc_id", min_jaccard=0.5
        ).collect()
    }
    reported = [r for r in got.values() if r.best_match is not None]
    assert reported
    for r in reported:
        assert exact[(r.doc_id, r.best_match)] == r.best_jaccard, r


def test_edit_distance_pairs_equals_brute_force(spark):
    """The Ed-Join positional q-gram prefix filter must lose NOTHING:
    output == brute-force Levenshtein join across thresholds, q sizes,
    short strings (dense cohort), empty strings, multi-line strings, and
    the short×long boundary pair the cohort split's algebra covers."""
    import itertools
    import random

    from pyspark_weather_forecasting_gsod_spark.ext.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta"]
    strs = []
    for _ in range(60):
        w = " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.6 and len(w) > 2:
            pos = rng.randrange(len(w))
            w = w[:pos] + rng.choice("abgd ") + w[pos + 1 :]
        strs.append(w)
    # dense-cohort material: empty, sub-q, and the len-8/len-9 boundary
    # pair that must cross the short/long cohort split (q=3, d=2); plus
    # multi-line strings — (?s) grams must cross the newline or the
    # prefix filter loses completeness
    strs += ["", "a", "ab", "abc", "abd", "abcdefgh", "abcdefghi",
             "alpha\nbeta gamma", "alpha\nbeta gamme"]
    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "id long, s string")
    for d, q in [(2, 3), (1, 2), (0, 3)]:
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if lev(a, b) <= d
        }
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_pairs(df, "id", "s", max_dist=d, q=q).collect()
        }
        assert got == want, (d, q, len(got), len(want))

    import pytest

    with pytest.raises(ValueError, match="max_short"):
        edit_distance_pairs(df, "id", "s", max_dist=2, q=3, max_short=3)
    with pytest.raises(ValueError, match="q must be"):
        edit_distance_pairs(df, "id", "s", q=1)


def test_edit_distance_prefix_dedup_ships_no_strings(spark):
    """r07 advice: the prefix path's candidate dedup must exchange only
    (id_a, id_b, dist) — previously the distinct carried BOTH full strings
    per candidate, doubling shuffle bytes on document-length strings for
    zero pruning benefit. Verification now runs map-side on the hit rows
    (verify-then-distinct), so the dedup Aggregate's grouping — and the
    Exchange feeding it — holds no string column."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import edit_distance_pairs

    # document-length strings, all past the dense-cohort cut (q=3, d=2)
    rows = [
        (i, ("lorem ipsum dolor sit amet consectetur " * 30) + f"tail{i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = edit_distance_pairs(df, "id", "s", max_dist=2, q=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    dedup_aggs = [
        ln for ln in plan.splitlines()
        if "Aggregate [" in ln and "id_a" in ln and "id_b" in ln
    ]
    assert dedup_aggs, plan  # the distinct survived optimization
    for ln in dedup_aggs:
        # the dedup groups on the id pair only — no raw or aliased string
        # column may ride through its exchange
        assert "__ps" not in ln and "__fs" not in ln, ln
        assert "__sa" not in ln and "__sb" not in ln, ln
    # and it still finds the near-identical tails correctly (tailN vs
    # tailM is distance <= 2 for single-digit N, M)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in got and all(a < b for a, b in got)


def test_is_bounded_probe_memoized_per_dataframe_object(spark):
    """r11 (VERDICT r10 #7): _is_bounded runs an eager limit-count job per
    call, so repeated invocations on the SAME DataFrame object must hit a
    memo instead of re-executing the lineage. Proven by poisoning the memo
    entry after the first probe: a second call returning the poisoned
    value can only have come from the cache. A new object over the same
    data must re-probe (object identity is the contract)."""
    from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
        _BOUNDED_MEMO,
        _is_bounded,
    )

    df = spark.range(10).toDF("doc_id")
    assert _is_bounded(df, max_rows=100) is True
    assert _BOUNDED_MEMO[id(df)][100] is True
    _BOUNDED_MEMO[id(df)][100] = False  # poison: detect any cache hit
    assert _is_bounded(df, max_rows=100) is False
    # distinct max_rows → distinct memo slot, fresh probe
    assert _is_bounded(df, max_rows=5) is False
    # a recreated frame (new object) probes fresh, not the poisoned slot
    df2 = spark.range(10).toDF("doc_id")
    assert _is_bounded(df2, max_rows=100) is True
    # eviction on GC: the finalizer drops the entry so id() reuse is safe
    import gc

    key = id(df2)
    del df2
    gc.collect()
    assert key not in _BOUNDED_MEMO
