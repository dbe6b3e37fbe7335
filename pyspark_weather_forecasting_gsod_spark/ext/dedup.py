"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extensions (BASELINE.json) for training-data pipelines. Scale
design:

  * exact dedup — hash-aggregate on a fingerprint column; one shuffle keyed
    by the fingerprint, no driver data.
  * n-gram set similarity (Jaccard, containment) — EXACT pairwise scores
    from one core of three kernels (inverted shingle index, rarest-first
    prefix filter, dense block BLAS) plus an auto router; never a cross
    join. The inverted index costs Σ_posting |posting|², so it is for
    capped/small corpora or as the verification stage after LSH banding.
  * MinHash+LSH — the 100 TB path: shingle → minhash signature (permutation
    hashes of xxhash64 values) → band buckets → candidate join inside
    buckets only → exact Jaccard verification of candidates. Fully
    expression-based (no Python UDFs); plus an MLlib MinHashLSH variant.
  * SimHash — 64-bit near-dup fingerprint from per-token hash bit votes;
    Hamming-adjacent buckets found by splitting the fingerprint into bands.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..report import record
from ..session import local_rows_df
from .text import normalize_text

# diagnostics only: propagation rounds of the most recent
# connected_components call (scale rehearsals log it; never part of the
# result contract)
LAST_CC_ROUNDS: int = 0


def widen_for_fanout(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition a narrow input up to the session's shuffle parallelism
    before CPU-heavy per-row fan-out (hashing, shingling, folds). This work
    scales with token count, not input bytes, so a small-file scan (1-2
    partitions) would serialize it on one core while 31 idle; at real scale
    the scan is already ≥ the core count and this is a no-op (no shuffle).

    Narrowness is decided WITHOUT an RDD probe (r05 VERDICT: the old
    ``df.rdd.getNumPartitions()`` forced a logical→RDD plan conversion —
    incompatible with Spark Connect and opaque to AQE). Instead:

    - file-backed frame with fewer files than ``target`` → narrow scan
      (each file yields ≥1 split, so < target files can mean < target
      busy cores): round-robin repartition. The shuffle moves only the
      narrow input's bytes, dwarfed by the fan-out CPU work by premise.
    - file-backed with ≥ target files → wide at real scale (files are
      ~128 MB+ there); leave the scan partitioning alone. A corpus of
      MANY tiny files bin-packs into fewer partitions, but then total
      bytes — and the token-proportional CPU work — are small too.
    - no file source anywhere in the lineage (createDataFrame, range,
      streaming) → either driver-local-small or already
      ``spark.sql.shuffle.partitions`` wide; no-op. (``inputFiles`` walks
      the WHOLE plan, so a post-agg frame derived from a narrow scan still
      counts as file-backed and widens — harmless: call sites apply this
      directly on scans, and the extra exchange only fires on inputs small
      enough to have few files.)
    """
    spark = df.sparkSession
    if target is None:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_files = len(df.inputFiles())
    except Exception:  # exotic source without file listing: leave alone
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def exact_dedup_by_fingerprint(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Keep the smallest ``id_col`` per normalized-text fingerprint — the
    deterministic representative-picking variant (plain dropDuplicates keeps
    an arbitrary row)."""
    fp = F.md5(normalize_text(text_col).cast("binary")).alias("__fp")
    ranked = df.select(*df.columns, fp).groupBy("__fp").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(ranked.select(id_col), on=id_col, how="left_semi")


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, array<distinct n-word shingles>) — map-only, no shuffle. The
    preferred shape: set size is ``size(shingles)`` (free), and exploding is
    deferred until (and unless) a join actually needs shingle rows.

    Overlapping n-grams come from ONE codegen'd regex pass: a lookahead
    group captures the n-token window at every token start
    (``(?=(tok( tok){n-1}))tok``). The obvious
    ``transform(sequence(...), i -> concat_ws(w[i], ...))`` formulation is
    an interpreted lambda — measured ~20× slower — and re-evaluates any
    inline split per element (quadratic in doc length).
    """
    # normalize whitespace first so captured shingles are single-spaced
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    pattern = r"(?=(\S+" + r" \S+" * (n - 1) + r"))\S+"
    toks = F.split(norm, " ")
    shingles = F.array_distinct(F.regexp_extract_all(norm, F.lit(pattern), 1))
    # NOTE: deliberately no widen_for_fanout here — the LSH pipeline
    # persists this frame and runs ~10 small candidate/verify joins over it;
    # widening a small corpus to 32 partitions makes every one of those
    # stages pay scheduling overhead for near-empty tasks (measured 2×
    # slower end-to-end). Callers that are single map-only passes (simhash,
    # fingerprints) widen at their own head instead.
    return df.filter(F.size(toks) >= n).select(F.col(id_col), shingles.alias("shingles"))


def word_shingles(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, n-word shingle) pairs (exploded form of
    ``shingle_arrays``). Documents with fewer than ``n`` words produce no
    shingles."""
    return shingle_arrays(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


_BOUNDED_MEMO: dict[int, dict[int, bool]] = {}


def _is_bounded(df: DataFrame, max_rows: int = 1_000_000) -> bool:
    """O(max_rows) limit-probe: True iff df provably has ≤ max_rows rows.
    It gates the broadcast of ``_index_pairs``' per-doc size tables, and
    one memoized probe covers both renamed views of a self-join's table.

    Why not a plain hint: the size tables are corpus-sized — one row per
    doc, a forced broadcast is a driver OOM at 10^8-10^9 docs. Why not NO
    hint: they derive from checkpointed scans with no size statistics, so
    the static planner cannot broadcast them and whether AQE rescues the
    join depends on stage materialization order — measured on the sf1
    Zipf rehearsal corpus: the unhinted plan sometimes SortMergeJoins the
    ~10^8-row ``common`` pair table against a 25k-row size table (tiered
    fallback 411 s + heartbeat-starving sorts vs 208 s with BHJ). The
    probe restores a GUARANTEED BroadcastHashJoin whenever the table is
    provably bounded (1M rows ≈ 16 MB of (long, long)) and degrades to the
    hint-free join — AQE may still convert — beyond.

    Memoized per DataFrame OBJECT (r11, VERDICT r10 #7): each probe is an
    eager limit-count job, so builders invoked repeatedly on the same
    frame (interactive loops over ngram_* on one corpus) would otherwise
    re-execute identical lineage every call. Keyed by ``id(df)`` with a
    weakref finalizer evicting on garbage collection — eviction runs
    before CPython can reuse the id, so stale hits are impossible. A
    RECREATED frame (new object, same lineage) probes again by design:
    object identity is the only safe proxy for "same data" here."""
    import weakref

    key = id(df)
    per = _BOUNDED_MEMO.get(key)
    if per is not None and max_rows in per:
        return per[max_rows]
    res = df.limit(max_rows + 1).count() <= max_rows
    if per is None:
        per = _BOUNDED_MEMO[key] = {}
        try:
            weakref.finalize(df, _BOUNDED_MEMO.pop, key, None)
        except TypeError:
            # non-weakrefable DataFrame impl: entry persists for the
            # session, bounded by the number of distinct probed frames
            pass
    per[max_rows] = res
    return res


# ---------------------------------------------------------------------------
# Exact n-gram set similarity: one core, two measures.
#
# Three kernels, each written once, read checkpointed ``shingle_arrays``
# frames: the inverted index (``_index_pairs``, the reference the others are
# tested against), the rarest-first prefix filter (``_prefix_pairs``) and
# the dense block BLAS (``_dense_pair_blocks``). A ``_Measure`` row holds all
# a measure changes: its score, its output columns and orientation, and its
# prefix candidate rule. ``ngram_{jaccard,containment}_pairs{,_prefix,
# _dense,_auto}`` and ``exact_cross_jaccard`` are thin calls into the core;
# both auto entries share one router (``_auto_pairs``), which first tries
# the prefix algorithm on the driver (``_driver_pairs``) for a bounded
# corpus.
#
# The banded near-dup paths filter, then verify: ``_band_pairs`` turns
# (band_no, bucket) tables into candidate pairs, and ``_index_pairs``
# restricted to those candidates scores them exactly. ``minhash_lsh_pairs``,
# ``ngram_best_match``'s banded regime and ``neardup_probe`` take both
# steps; ``simhash_neardup_pairs`` takes the candidates and verifies by
# Hamming distance; the tiered best match's tier 2 is ``_index_pairs`` over
# the docs tier 1 left unmatched.
# ---------------------------------------------------------------------------


def _prefix_x_prefix(
    prefix: DataFrame, postings: DataFrame, id_col: str, t: float
) -> DataFrame:
    """Jaccard candidate rule: J(A,B) ≥ t makes both prefixes share a
    shingle, and forces ``t·|A| ≤ |B| ≤ |A|/t`` (the AllPairs length
    filter, which drops cross-length candidates before the verify join).
    The -1e-9 cushion keeps borderline pairs for the exact verify; it
    never drops one."""
    pa = prefix.select(
        F.col(id_col).alias("doc_a"), "shingle", F.col("__sz").alias("__sza")
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_b"), "shingle", F.col("__sz").alias("__szb")
    )
    return (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("__szb").cast("double") >= F.col("__sza") * t - 1e-9)
            & (F.col("__sza").cast("double") >= F.col("__szb") * t - 1e-9)
        )
    )


def _prefix_x_full(
    prefix: DataFrame, postings: DataFrame, id_col: str, t: float
) -> DataFrame:
    """Containment candidate rule: ``|A∩B| / min(|A|,|B|) ≥ t`` is only
    sure to show in the SMALLER set's prefix, so prefixes probe the full
    postings, not the other prefixes. Still bounded: a hot shingle almost
    never sits in a prefix, so its posting list is never enumerated
    quadratically."""
    pa = prefix.select(F.col(id_col).alias("__p"), "shingle")
    pb = postings.select(F.col(id_col).alias("__q"), "shingle")
    return (
        pa.join(pb, "shingle")
        .filter(F.col("__p") != F.col("__q"))
        .select(
            F.least("__p", "__q").alias("doc_a"),
            F.greatest("__p", "__q").alias("doc_b"),
        )
    )


class _Measure(NamedTuple):
    """One exact set-similarity measure, as every pair kernel reads it.
    ``score`` and ``orient`` run on Spark Columns and on numpy arrays alike
    (``least``/``where`` name the backend's elementwise min and select)."""

    name: str  # score column; the entry points are ngram_{name}_pairs*
    cols: tuple[str, str]  # output id columns
    score: Callable  # (common, |a|, |b|, least) -> score
    orient: Callable  # (a, b, |a|, |b|, where) -> output ids, given a < b
    candidates: Callable  # prefix rule -> (doc_a, doc_b), doc_a < doc_b


_JACCARD = _Measure(
    name="jaccard",
    cols=("doc_a", "doc_b"),
    score=lambda c, sa, sb, least: c / (sa + sb - c),
    orient=lambda a, b, sa, sb, where: (a, b),
    candidates=_prefix_x_prefix,
)
# Broder's containment: a doc wholly quoted inside a larger one scores 1.0
# where its Jaccard is ≈ |A|/|B|. The smaller set is the contained side
# (a < b, so equal sizes go to the lower id); big-in-small is bounded above
# by small-in-big, so only the latter is reported.
_CONTAINMENT = _Measure(
    name="containment",
    cols=("doc_small", "doc_big"),
    score=lambda c, sa, sb, least: c / least(sa, sb),
    orient=lambda a, b, sa, sb, where: (
        where(sa <= sb, a, b),
        where(sa <= sb, b, a),
    ),
    candidates=_prefix_x_full,
)


def _when(cond, x, y):
    return F.when(cond, x).otherwise(y)


def _scored(pairs: DataFrame, m: _Measure, t: float, sz_a, sz_b) -> DataFrame:
    """Score (doc_a, doc_b, common) pairs, keep those at or above ``t`` and
    project them onto the measure's output columns."""
    lo, hi = m.orient(F.col("doc_a"), F.col("doc_b"), sz_a, sz_b, _when)
    return (
        pairs.withColumn(m.name, m.score(F.col("common"), sz_a, sz_b, F.least))
        .filter(F.col(m.name) >= t)
        .select(lo.alias(m.cols[0]), hi.alias(m.cols[1]), "common", m.name)
    )


def _prepared(
    df: DataFrame, id_col: str, text_col: str, n: int, arrs: DataFrame | None = None
) -> DataFrame:
    """The shingle arrays a kernel reads: ``arrs`` when the caller hands
    over an eager ``shingle_arrays(df, id_col, text_col, n)`` checkpoint,
    else one shingle pass materialized here. A checkpoint, not a persist:
    the kernels return frames that stay lazy over it, so no unpersist could
    pair with a persist inside the function."""
    if arrs is not None:
        return arrs
    return shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=True)


def _index_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    m: _Measure,
    t: float,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Inverted-index kernel: every (left, right) pair sharing ≥1 shingle
    is counted by one equi-join on the shingle key, then scored. Cost is
    Σ|posting|², not output-proportional. ``right is left`` is the
    self-join, which keeps doc_a < doc_b; otherwise doc_a is the left id
    and doc_b the right one.

    ``candidates`` (doc_a, doc_b) restricts the count to those pairs — the
    verify step of the banded paths: candidates ⋈ postings(left) on doc_a
    ⋈ postings(right) on (doc_b, shingle), so the cost is Σ_candidate
    |shingles| and the pairs keep the orientation the caller gave them.
    The shingle explode-join beats an ``array_intersect`` per pair where
    candidates are many (sf0.1, 4 cores: 1.4 s vs 3.6 s on 227k); on a
    few hundred both take under 0.3 s."""

    def postings(arrs: DataFrame, name: str) -> DataFrame:
        return arrs.select(
            F.col(id_col).alias(name), F.explode("shingles").alias("shingle")
        )

    def sizes(arrs: DataFrame) -> DataFrame:
        return arrs.select(
            F.col(id_col), F.size("shingles").cast("long").alias("sz")
        )

    if candidates is None:
        common = postings(left, "doc_a").join(postings(right, "doc_b"), on="shingle")
        if right is left:
            common = common.filter(F.col("doc_a") < F.col("doc_b"))
    else:
        common = candidates.join(postings(left, "doc_a"), on="doc_a").join(
            postings(right, "doc_b"), on=["doc_b", "shingle"]
        )
    common = common.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("common")
    )
    ls = sizes(left)
    rs = ls if right is left else sizes(right)
    za = ls.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = rs.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    # probe-gated broadcast (see _is_bounded); the self-join's two views
    # share one size table, so one memoized probe covers both
    if _is_bounded(ls) and _is_bounded(rs):
        za, zb = F.broadcast(za), F.broadcast(zb)
    return _scored(
        common.join(za, on="doc_a").join(zb, on="doc_b"),
        m, t, F.col("sz_a"), F.col("sz_b"),
    )


def _band_pairs(
    buckets: DataFrame, id_col: str, other: DataFrame | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs: docs sharing any
    (band_no, bucket) key. Alone, ``buckets`` is self-joined and keeps
    doc_a < doc_b; with ``other``, doc_a is the ``buckets`` id and doc_b
    the ``other`` id. The work is Σ_bucket |bucket|², set by the banding,
    never by the corpus's shingle postings."""
    a = buckets.select(F.col(id_col).alias("doc_a"), "band_no", "bucket")
    b = (buckets if other is None else other).select(
        F.col(id_col).alias("doc_b"), "band_no", "bucket"
    )
    pairs = a.join(b, on=["band_no", "bucket"])
    if other is None:
        pairs = pairs.filter(F.col("doc_a") < F.col("doc_b"))
    return pairs.select("doc_a", "doc_b").distinct()


def _shingle_freq(arrs: DataFrame) -> DataFrame:
    """(shingle, __df): each distinct shingle and its document frequency —
    the rarest-first order of the prefix kernel and, on a dense admit, the
    column index's vocabulary."""
    return (
        arrs.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


def _prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    m: _Measure,
    t: float,
    corpus: _Corpus | None = None,
) -> DataFrame:
    """Rarest-first prefix kernel (AllPairs/PPJoin, Bayardo et al.,
    WWW'07): the inverted index's output at a fraction of its cost when
    shingles have hot posting lists.

    Under any global total order on shingles, a pair scoring ≥ t must
    share an element among the first ``|S| - ceil(t·|S|) + 1`` shingles
    (the "prefix") of the set(s) the measure's candidate rule names.
    Ordering by ASCENDING global frequency puts the rare shingles in the
    prefixes, so the candidate join never touches hot posting lists (the
    Σ|posting|² blowup, measured 10× on 2-gram shingles at sf0.1).
    Candidates are verified exactly with one JVM ``array_intersect`` per
    pair. Plan: one window rank per doc over the frequency table, one
    candidate equi-join, one verify join carrying arrays for candidates
    only; nothing quadratic in the corpus. A prepared ``corpus`` supplies
    both the shingle arrays and the frequency table (the auto routers'
    admission pass); without one, the arrays are materialized here and the
    frequency aggregate stays part of the plan."""
    t = float(t)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"prefix filtering requires 0 < min_{m.name} <= 1")
    if corpus is None:
        arrs = _prepared(df, id_col, text_col, n)
        freq = _shingle_freq(arrs)
    else:
        arrs, freq = corpus.arrs, corpus.freq
    sh = arrs.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    wrk = Window.partitionBy(id_col).orderBy("__df", "shingle")
    wsz = Window.partitionBy(id_col)
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("__rk", F.row_number().over(wrk))
        .withColumn("__sz", F.count(F.lit(1)).over(wsz))
    )
    # the -1e-9 guards ceil against float error rounding an exact integer
    # product UP (which would shorten the prefix and break exactness);
    # overshooting the prefix is always safe, undershooting is not
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("__sz") - F.ceil(F.col("__sz") * t - 1e-9) + 1
    ).select(F.col(id_col), "shingle", "__sz")
    cand = m.candidates(prefix, sh, id_col, t).select("doc_a", "doc_b").distinct()
    aa = arrs.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("__sh_a"))
    bb = arrs.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("__sh_b"))
    pairs = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn(
            "common", F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long")
        )
    )
    return _scored(pairs, m, t, F.size("__sh_a"), F.size("__sh_b"))


def _id_dtype(df: DataFrame, id_col: str) -> str | None:
    # case-insensitive lookup, matching Spark's default column resolution
    lc = id_col.lower()
    for name, dt in df.dtypes:
        if name.lower() == lc:
            return dt
    return None


def _integral_id_dtype(df: DataFrame, id_col: str) -> bool:
    return _id_dtype(df, id_col) in ("tinyint", "smallint", "int", "bigint")


class _Corpus(NamedTuple):
    """A shingled corpus, prepared once: the auto routers build it in
    ``_dense_admission`` and hand it to whichever kernel wins, so neither
    the shingle pass nor the frequency aggregate runs twice."""

    # dense regime: integral ids, ≤ max_rows docs, ≤ max_vocab shingles
    admit: bool
    n_docs: int  # shingle-bearing docs (rows of arrs)
    n_vocab: int  # distinct shingles (rows of freq)
    vidx: DataFrame | None  # (shingle, __idx) column index; set iff admit
    arrs: DataFrame  # checkpointed shingle_arrays(df, id_col, text_col, n)
    freq: DataFrame  # checkpointed (shingle, __df) document frequencies


def _dense_admission(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_rows: int,
    max_vocab: int,
    arrs: DataFrame | None = None,
    counted: tuple | None = None,
) -> _Corpus:
    """Prepare the corpus and decide the dense regime in one pass.

    The shingle arrays (``arrs`` when the caller hands over an eager
    ``shingle_arrays(df, id_col, text_col, n)`` checkpoint, else one
    materialized here) feed one ``(shingle, __df)`` frequency aggregate,
    materialized by an eager localCheckpoint whose job also counts, through
    two ``DataFrame.observe`` counters, the shingle-bearing docs and the
    vocabulary. Dense is admitted for integral ids, ≤ ``max_rows`` docs
    and ≤ ``max_vocab`` shingles; the column index is then the frequency
    table's shingles in sorted order.

    Either route reads the frequency table: the prefix kernel ranks
    shingles by it, so a rejected corpus has paid for nothing the prefix
    path would not compute anyway. The cheap early rejects (raw-count and
    sample-vocab probes) belong to the standalone dense entries, the one
    caller they save a full pass for. In the Zipf regime the table holds
    the whole vocabulary, one row per distinct shingle.

    ``counted`` is (docs, pandas (shingle, __df) table) from a driver
    fetch that already held the whole corpus (``_driver_pairs``); the
    table is shipped as a local frame and no counting pass runs.
    """
    arrs = _prepared(df, id_col, text_col, n, arrs)
    if counted is None:
        docs_obs, vocab_obs = Observation(), Observation()
        freq = (
            _shingle_freq(arrs.observe(docs_obs, F.count(F.lit(1)).alias("n")))
            .observe(vocab_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_docs, n_vocab = docs_obs.get["n"], vocab_obs.get["n"]
    else:
        n_docs, table = counted
        freq = arrs.sparkSession.createDataFrame(table, "shingle string, __df long")
        n_vocab = len(table)
    admit = (
        _integral_id_dtype(df, id_col) and n_docs <= max_rows and n_vocab <= max_vocab
    )
    vidx = None
    if admit:
        vidx = freq.select(
            "shingle", (F.row_number().over(Window.orderBy("shingle")) - 1).alias("__idx")
        )
    return _Corpus(admit, n_docs, n_vocab, vidx, arrs, freq)


_VOCAB_SAMPLE_DOCS = 2_000


def _sample_vocab_exceeds(
    df: DataFrame, id_col: str, text_col: str, n: int, max_vocab: int
) -> bool:
    """True when the first ``_VOCAB_SAMPLE_DOCS`` docs alone hold more than
    ``max_vocab`` distinct shingles. The distinct count is monotone in the
    corpus, so a True PROVES the full corpus exceeds the cap too: the
    Zipf-vocabulary regime is rejected without a full map pass."""
    return (
        shingle_arrays(df.limit(_VOCAB_SAMPLE_DOCS), id_col, text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .limit(max_vocab + 1)
        .count()
        > max_vocab
    )


def _dense_pair_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    t: float,
    max_rows: int,
    max_vocab: int,
    m: _Measure,
    corpus: _Corpus | None = None,
) -> DataFrame:
    """Dense block-BLAS kernel, for a small shingle UNIVERSE: there every
    posting list is hot, so the inverted index and prefix filtering both
    degenerate to all-pairs work with giant shuffles (measured: the bitset
    path is ~8× faster than the inverted index on a ~900-bigram universe
    at sf0.1).

    Each doc's distinct-shingle set becomes a |vocab|-dim binary row of a
    block matrix; common counts are ONE BLAS matmul (``A @ B.T``) per
    unordered block pair — the same block decomposition as
    ``ext.similarity.cosine_allpairs_blocked`` (B·(B+1)/2 independent
    tasks, O(N·B) shuffle, no driver collect). Integer counts in float64
    are exact (set sizes ≪ 2^53). The quadratic pair loop is inherent to
    exact all-pairs; BLAS makes it ~vector-width·cores parallel.

    Guards, each raising with a pointer to the prefix path: ``t > 0``, an
    integral id column (ids are packed into int64 matrices), ≤
    ``max_rows`` docs and ≤ ``max_vocab`` distinct shingles. The auto
    routers hand their admitted ``corpus`` over, so no probe runs here.
    Called without one, the cheap rejects run first: a raw-row
    ``limit(max_rows + 1)`` count (shingling only ever drops rows, so it
    bounds the shingle-bearing docs from above) and the sample-vocab probe
    (``_sample_vocab_exceeds``); only a corpus passing both pays for
    ``_dense_admission``'s full pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    t = float(t)
    alt = f"ngram_{m.name}_pairs_prefix"
    if t <= 0.0:
        # at t=0 the dense path would emit zero-overlap pairs the inverted
        # index never materializes — keep the outputs identical. (A t=0 /
        # common≥1 dense mode for unthresholded enumeration was measured
        # and REJECTED: with output ≈ all pairs, Arrow-serializing the pair
        # rows out of the Python worker costs 3× the JVM inverted-index
        # join+agg — dense only wins when the threshold keeps output small.)
        raise ValueError(f"dense {m.name} requires min_{m.name} > 0")
    if not _integral_id_dtype(df, id_col):
        # a cast('long') on a string id yields NULLs that collapse every
        # row into one block and crash densify in the Python worker; the
        # inverted index and prefix paths handle any id type
        raise ValueError(
            f"dense {m.name} requires an integral id column "
            f"({id_col} is {_id_dtype(df, id_col)}); use {alt}"
        )
    rows_error = ValueError(
        f"dense {m.name} is guarded at {max_rows} docs; use "
        f"{alt} or a sampled audit subset"
    )
    vocab_error = ValueError(
        f"dense {m.name} is guarded at {max_vocab} distinct shingles "
        f"(the universe is no longer 'small'); use {alt}"
    )
    if corpus is None:
        n_raw = df.limit(max_rows + 1).count()
        if n_raw > max_rows:
            raise rows_error
        # a corpus no larger than the sample is decided by the full pass
        if n_raw > _VOCAB_SAMPLE_DOCS and _sample_vocab_exceeds(
            df, id_col, text_col, n, max_vocab
        ):
            raise vocab_error
        corpus = _dense_admission(df, id_col, text_col, n, max_rows, max_vocab)
    if corpus.n_docs > max_rows:
        raise rows_error
    if not corpus.admit:
        raise vocab_error
    vsize = corpus.n_vocab
    # block count scales with the corpus so per-task memory stays bounded:
    # the C = A @ B.T common-count matrix is (rows/B)² float64 per task, so
    # a FIXED B=8 at the 200k-doc guard limit would allocate 25k² ≈ 5 GB.
    # Capping block rows at ~4096 bounds C (and each densified side) at
    # ~134 MB; block-pair task count grows as B²/2 (all independent) and
    # shuffle as O(N·B) — the right trade for an exact all-pairs path.
    n_blocks = max(8, -(-corpus.n_docs // 4096))
    block_pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]

    # per-doc index lists, built ONCE and materialized: both matmul roles
    # read this table
    tagged = (
        corpus.arrs.select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .join(F.broadcast(corpus.vidx), "shingle")
        .groupBy(id_col)
        .agg(F.collect_list("__idx").alias("__idxs"))
        .select(F.col(id_col).cast("long").alias("id"), "__idxs")
        .withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
        )
        .localCheckpoint(eager=True)
    )
    # one-slice local frame: the default parallelization spun 32 pickle
    # slices for ~36 rows per kernel invocation (see session.local_rows_df)
    pair_df = local_rows_df(df.sparkSession, block_pairs, "ba int, bb int")
    # role-tagged self-UNION instead of a two-sided cogroup: joining the
    # same checkpointed table twice into cogroup trips the ambiguous-self-
    # join analyzer; a union is unambiguous and needs only ONE grouped
    # exchange (the function splits roles per block pair)
    a_side = tagged.join(
        F.broadcast(pair_df), F.col("blk") == F.col("ba")
    ).select("ba", "bb", F.lit(0).alias("role"), "id", "__idxs")
    b_side = tagged.join(
        F.broadcast(pair_df), F.col("blk") == F.col("bb")
    ).select("ba", "bb", F.lit(1).alias("role"), "id", "__idxs")
    both = a_side.unionByName(b_side)
    (lo_col, hi_col), score_col = m.cols, m.name
    out_schema = T.StructType(
        [
            T.StructField(lo_col, T.LongType()),
            T.StructField(hi_col, T.LongType()),
            T.StructField("common", T.LongType()),
            T.StructField(score_col, T.DoubleType()),
        ]
    )
    empty = pd.DataFrame(
        {lo_col: [], hi_col: [], "common": [], score_col: []}
    ).astype(
        {lo_col: "int64", hi_col: "int64", "common": "int64", score_col: "float64"}
    )
    # plain locals: the worker unpickles these lambdas by value
    score, orient = m.score, m.orient

    def block_common(key, pdf):
        ba, bb = key
        a_pdf = pdf[pdf["role"] == 0]
        b_pdf = pdf[pdf["role"] == 1]
        if a_pdf.empty or b_pdf.empty:
            return empty

        def densify(pdf):
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.zeros((len(pdf), vsize), dtype=np.float64)
            for r, ix in enumerate(pdf["__idxs"]):
                mat[r, np.asarray(ix, dtype=np.int64)] = 1.0
            return ids, mat

        a_ids, A = densify(a_pdf)
        b_ids, B = densify(b_pdf)
        C = A @ B.T  # exact integer intersection counts in float64
        sza, szb = A.sum(axis=1), B.sum(axis=1)
        sc = score(C, sza[:, None], szb[None, :], np.minimum)
        mask = sc >= t
        if ba == bb:
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(mask)
        # blocks are hash-assigned: put each pair in id order, then orient
        # it exactly as the Spark kernels do
        ida, idb, sa, sb = a_ids[ai], b_ids[bi], sza[ai], szb[bi]
        sw = ida > idb
        lo, hi = orient(
            np.where(sw, idb, ida), np.where(sw, ida, idb),
            np.where(sw, sb, sa), np.where(sw, sa, sb), np.where,
        )
        return pd.DataFrame(
            {
                lo_col: lo,
                hi_col: hi,
                "common": C[ai, bi].astype(np.int64),
                score_col: sc[ai, bi],
            }
        )

    return both.groupBy("ba", "bb").applyInPandas(block_common, out_schema)


# The auto routers' driver regime, with caps measured against the Spark
# routes (see ``ngram_jaccard_pairs_auto``): _DRIVER_MAX_POSTINGS bounds
# the driver's memory (the driver still wins on time past it), and past
# _DRIVER_MAX_WORK the Python candidate enumeration and verify lose to
# the dense kernel on hot small-universe corpora. A postings cap of 0
# switches the regime off (tests pin the Spark routes that way).
_DRIVER_MAX_POSTINGS = 1_000_000
_DRIVER_MAX_WORK = 1_000_000
_DRIVER_ID_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def _driver_pairs(
    arrs: DataFrame, id_col: str, m: _Measure, t: float, probes: dict
) -> tuple:
    """``_prefix_pairs`` run on the driver: (pairs, None), or (None,
    counted) when the corpus is not small enough for it. ``0 < t <= 1``
    and an id type that orders the same in Python as in Spark (integral or
    string) are the caller's preconditions.

    One Spark job fetches the (id, size, shingle) postings, at most one row
    past ``_DRIVER_MAX_POSTINGS``; a full fetch is the whole corpus, so the
    fetch is the decision and driver memory stays bounded by the cap
    whatever the document lengths. NULL ids are dropped before the fetch,
    as every Spark kernel's joins drop them; duplicate ids return (None,
    None), since shingles regrouped by id would merge the two documents.

    Then the prefix algorithm, in numpy: document frequencies, rarest-first
    prefixes of ``|S| - ceil(t·|S|) + 1`` shingles, and the measure's
    candidate rule (Jaccard: prefix × prefix and the AllPairs length
    filter; containment: prefix × full postings). The candidate work — Σ
    C(|prefix posting|, 2), or Σ |prefix posting|·|posting| — is known
    exactly before any pair is built, and past ``_DRIVER_MAX_WORK`` this
    returns no pairs. Candidates are verified by set intersection and
    scored and oriented by the measure, as ``_dense_pair_blocks`` does.
    The pairs are a local frame with the Spark routes' columns and types.

    ``counted`` is (docs, pandas (shingle, __df) table) when the fetch held
    the whole corpus under unique ids but the work bound tripped, so the
    fall-through need not count the corpus again; else None. ``probes``
    receives the postings and work read against their caps."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    cap = _DRIVER_MAX_POSTINGS
    # Arrow end to end: the shingle strings are dictionary-encoded without
    # a Python object per posting, and ids sort in Arrow's byte order,
    # which is Spark's string order
    tbl = (
        arrs.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.size("shingles").alias("sz"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .limit(cap + 1)
        .toArrow()
    )
    probes["postings"] = (tbl.num_rows, cap)
    if tbl.num_rows > cap:
        return None, None
    # index order is id order, so a < b on indices is doc_a < doc_b
    enc = pc.dictionary_encode(tbl.column("id")).combine_chunks()
    order = pc.sort_indices(enc.dictionary).to_numpy()
    ids = enc.dictionary.take(order).to_numpy(zero_copy_only=False)
    doc = np.argsort(order)[enc.indices.to_numpy()]
    # explode_outer keeps a shingle-less doc as one row: one row per
    # shingle, or one, for each id unless two documents share it
    rows = np.bincount(doc, minlength=len(ids))[doc]
    if np.any(rows != np.maximum(tbl.column("sz").to_numpy(), 1)):
        return None, None
    shingles = tbl.column("shingle")
    enc = pc.dictionary_encode(pc.drop_null(shingles)).combine_chunks()
    sh, vocab = enc.indices.to_numpy().astype(np.int64), enc.dictionary
    doc = doc[shingles.is_valid().to_numpy()]
    dfreq = np.bincount(sh, minlength=len(vocab))
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[np.argsort(dfreq, kind="stable")] = np.arange(len(vocab))
    # postings by (doc, rank): each doc's shingles rarest first
    o = np.argsort(doc * len(vocab) + rank[sh])
    doc, sh = doc[o], sh[o]
    sz = np.bincount(doc, minlength=len(ids))
    start = np.cumsum(sz) - sz
    pos = np.arange(len(doc)) - start[doc]
    # the -1e-9 keeps ceil from rounding an exact product up (as in
    # _prefix_pairs): a longer prefix is safe, a shorter one is not
    plen = sz - np.ceil(sz * t - 1e-9).astype(np.int64) + 1
    pre = pos < plen[doc]
    pdoc, psh = doc[pre], sh[pre]
    pcount = np.bincount(psh, minlength=len(vocab))
    if m.candidates is _prefix_x_prefix:
        work = int((pcount * (pcount - 1) // 2).sum())
    else:
        work = int((pcount * dfreq).sum())
    probes.update(
        work=(work, _DRIVER_MAX_WORK), n_docs=int((sz > 0).sum()), n_vocab=len(vocab)
    )
    if work > _DRIVER_MAX_WORK:
        table = pd.DataFrame({"shingle": vocab.to_numpy(zero_copy_only=False), "__df": dfreq})
        return None, (len(ids), table)

    def expand(starts, counts):
        # the index ranges [start, start + count), concatenated
        rep = np.repeat(starts - (np.cumsum(counts) - counts), counts)
        return rep + np.arange(int(counts.sum()))

    if m.candidates is _prefix_x_prefix:
        # prefix postings by (shingle, doc); each pairs with the later
        # members of its shingle's group
        o = np.argsort(psh * len(ids) + pdoc)
        pdoc, psh = pdoc[o], psh[o]
        gend = np.cumsum(pcount)[psh]
        after = gend - np.arange(len(pdoc)) - 1
        left = np.repeat(np.arange(len(pdoc)), after)
        a, b = pdoc[left], pdoc[expand(np.arange(len(pdoc)) + 1, after)]
        keep = (sz[b] >= sz[a] * t - 1e-9) & (sz[a] >= sz[b] * t - 1e-9)
        a, b = a[keep], b[keep]
    else:
        # each prefix posting meets the shingle's full posting list
        o = np.argsort(sh, kind="stable")
        fdoc = doc[o]
        fstart = np.cumsum(dfreq) - dfreq
        p = np.repeat(pdoc, dfreq[psh])
        q = fdoc[expand(fstart[psh], dfreq[psh])]
        keep = p != q
        a, b = np.minimum(p[keep], q[keep]), np.maximum(p[keep], q[keep])
    key = np.unique(a.astype(np.int64) * len(ids) + b)
    a, b = key // len(ids), key % len(ids)
    # sets only for docs in some candidate pair, a small share on a Zipf corpus
    sets = {
        d: frozenset(sh[start[d] : start[d] + sz[d]].tolist())
        for d in np.unique(np.concatenate([a, b])).tolist()
    }
    common = np.fromiter(
        (len(sets[i] & sets[j]) for i, j in zip(a.tolist(), b.tolist())),
        dtype=np.int64,
        count=len(a),
    )
    sa, sb = sz[a], sz[b]
    score = m.score(common, sa, sb, np.minimum)
    keep = score >= t
    lo, hi = m.orient(ids[a][keep], ids[b][keep], sa[keep], sb[keep], np.where)
    (lo_col, hi_col), id_type = m.cols, arrs.select(id_col).schema[0].dataType
    schema = T.StructType(
        [
            T.StructField(lo_col, id_type),
            T.StructField(hi_col, id_type),
            T.StructField("common", T.LongType()),
            T.StructField(m.name, T.DoubleType()),
        ]
    )
    out = pd.DataFrame(
        {lo_col: lo, hi_col: hi, "common": common[keep], m.name: score[keep]}
    )
    return arrs.sparkSession.createDataFrame(out, schema), None


def _auto_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    m: _Measure,
    t: float,
    max_rows: int,
    max_vocab: int,
    arrs: DataFrame | None,
) -> DataFrame:
    """The body of both auto routers: driver, else dense, else prefix.

    The driver regime (``_driver_pairs``) is tried first for thresholds in
    (0, 1] and integral or string ids; it reads ``arrs``, or a lazy
    checkpoint of the shingle pass when none is handed, so a corpus solved
    there runs one Spark job and a fall-through reads the arrays that job
    computed. Otherwise ``_dense_admission`` prepares the corpus and the
    public dense or prefix entry gets it; a threshold outside (0, 1]
    therefore raises (or, on a dense admit above 1, returns no pairs)
    exactly as those entries do."""
    op, probes, counted = f"ngram_{m.name}_pairs_auto", {}, None
    if (
        _DRIVER_MAX_POSTINGS
        and 0.0 < float(t) <= 1.0
        and _id_dtype(df, id_col) in _DRIVER_ID_TYPES
    ):
        if arrs is None:
            arrs = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
        pairs, counted = _driver_pairs(arrs, id_col, m, float(t), probes)
        if pairs is not None:
            record(op, "driver", **probes)
            return pairs
        # a small universe's table is cheaper to ship than to recount
        if counted is not None and len(counted[1]) > max_vocab:
            counted = None
    corpus = _dense_admission(
        df, id_col, text_col, n, max_rows, max_vocab, arrs=arrs, counted=counted
    )
    probes.update(n_docs=(corpus.n_docs, max_rows), n_vocab=(corpus.n_vocab, max_vocab))
    route = "dense" if corpus.admit else "prefix"
    record(op, route, **probes)
    # looked up by name at call time, so a wrapped entry sees the call
    entry = globals()[f"ngram_{m.name}_pairs_{route}"]
    if corpus.admit:
        return entry(df, id_col, text_col, n, t, max_rows, max_vocab, _corpus=corpus)
    return entry(df, id_col, text_col, n, t, _corpus=corpus)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
    max_docs: int | None = 200_000,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard for all pairs sharing ≥1 shingle.

    Returns (doc_a, doc_b, common, jaccard) with doc_a < doc_b. The
    inverted-index join means cost concentrates in hot shingles — at scale,
    run after LSH banding (``minhash_lsh_pairs``) or cap the corpus slice.
    This is the reference the prefix and dense strategies are tested
    against.

    ``max_docs`` is a limit-probe guard (the same pattern as the dense
    path's ``max_rows``): with ``min_jaccard == 0.0`` this enumerates EVERY
    pair sharing a shingle — Σ|posting|² work that no threshold bounds — so
    corpora larger than ``max_docs`` raise with a pointer to the bounded
    alternatives (``ngram_jaccard_pairs_prefix``/``_auto`` for thresholded
    sweeps, ``ngram_best_match`` for 1-NN edges, ``minhash_lsh_pairs`` for
    uncapped scale). Pass ``max_docs=None`` only when the caller has
    already bounded the input (e.g. a post-LSH candidate slice).
    """
    if max_docs is not None:
        probed = df.select(id_col).limit(max_docs + 1).count()
        if probed > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: corpus exceeds max_docs={max_docs} "
                f"(limit-probe saw >{max_docs} rows); the unthresholded "
                "inverted-index join is Σ|posting|² and not output-"
                "proportional at this size. Use ngram_jaccard_pairs_auto "
                "(thresholded), ngram_best_match (1-NN edges), or "
                "minhash_lsh_pairs (banded), or pass max_docs=None for a "
                "pre-bounded slice."
            )
    arrs = _prepared(df, id_col, text_col, n)
    return _index_pairs(arrs, arrs, id_col, _JACCARD, min_jaccard)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    _corpus: _Corpus | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard self-join with AllPairs/PPJoin prefix filtering
    and the AllPairs length filter (``_prefix_pairs``): output identical
    to ``ngram_jaccard_pairs`` at a fraction of the cost when shingles have
    hot posting lists. Requires ``0 < min_jaccard <= 1``. ``_corpus`` is
    the auto router's prepared corpus: its shingle arrays and frequency
    table replace a fresh shingle pass and the kernel's own frequency
    aggregate."""
    return _prefix_pairs(df, id_col, text_col, n, _JACCARD, min_jaccard, _corpus)


def ngram_jaccard_pairs_dense(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_rows: int = 200_000,
    max_vocab: int = 4096,
    _corpus: _Corpus | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via dense bitset intersection — the right plan
    when the shingle UNIVERSE is small (block BLAS; see
    ``_dense_pair_blocks`` for the decomposition, guards and memory
    bounds). Requires an integral id column; guards at ``max_rows`` docs /
    ``max_vocab`` distinct shingles with a pointer to
    ``ngram_jaccard_pairs_prefix`` (Zipf vocab at scale) or a sampled
    audit subset. Output is identical to ``ngram_jaccard_pairs``
    (doc_a, doc_b, common, jaccard), pytest-verified. ``_corpus`` is the
    auto router's admission result."""
    return _dense_pair_blocks(
        df, id_col, text_col, n, min_jaccard, max_rows, max_vocab,
        _JACCARD, _corpus,
    )


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_rows: int = 200_000,
    max_vocab: int = 4096,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard with automatic strategy selection: the same
    output contract as ``ngram_jaccard_pairs``/_prefix/_dense (all
    pytest-verified identical), in three regimes:

    * **driver** (``_driver_pairs``): one fetch of at most
      ``_DRIVER_MAX_POSTINGS`` + 1 (id, size, shingle) rows decides; when
      it holds the whole corpus and the exact prefix candidate work is
      within ``_DRIVER_MAX_WORK``, the prefix algorithm runs in numpy on
      the driver and the pairs come back as a local frame. Measured
      against the Spark prefix route on Zipf corpora (t = 0.5, min of 3,
      4 cores): 300 docs 0.10 vs 0.49 s, 10k docs (528k postings) 0.19
      vs 0.93 s, 30k (1.59M) 0.57 vs 2.55 s, so the 1M-postings cap is
      the driver memory bound (≈200 MiB at 1.06M postings), not a time
      crossover; past it the wasted fetch costs 0.19 s. On hot
      small-universe corpora the candidate work crosses over near 1.4M
      (Jaccard) and 2M (containment) against the dense route, hence the
      1M work cap;
    * integral id AND ≤ ``max_rows`` shingle-bearing docs AND shingle
      universe ≤ ``max_vocab`` → **dense** (block BLAS; every posting is
      hot in a small universe, so inverted indexes degenerate — measured
      6.7×);
    * otherwise → **prefix** (AllPairs filtering; on a Zipf vocabulary the
      rare-shingle prefixes keep hot postings out of the candidate join —
      and it handles any id type).

    Past the driver regime, one materialized shingle-frequency pass
    (``_dense_admission``) decides, and the prepared corpus (shingle
    arrays, frequency table, counts) is handed to whichever public
    strategy entry wins: the prefix kernel ranks by the same frequency
    table that decided the route, and the dense kernel indexes its columns
    from it. The route taken and its probes go to the ``spark_graft``
    logger (``report.record``). The plain inverted index remains
    available by name for corpora known to have uniformly short posting
    lists. ``_arrs`` lets a caller that already holds a checkpointed
    ``shingle_arrays(df, id_col, text_col, n)`` frame share it (the
    incremental clustering query shares one between this enumeration and
    its endpoint-class split).
    """
    return _auto_pairs(
        df, id_col, text_col, n, _JACCARD, min_jaccard, max_rows, max_vocab, _arrs
    )


def ngram_best_match(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    max_exact_docs: int = 20_000,
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
    force: str | None = None,
    tier_jaccard: float = 0.5,
    tier2_max_unmatched_frac: float = 0.5,
) -> DataFrame:
    """Per-document best match (1-NN by EXACT n-gram Jaccard; ties broken
    by smallest partner id): (doc_a, doc_b, common, jaccard), one row per
    doc_a with ≥1 candidate partner. This is the bounded constructor for
    best-match graphs (deletion-aware clustering, chain-shaped CC tests) —
    the job the unthresholded ``ngram_jaccard_pairs(min_jaccard=0.0)``
    call used to do with no guard.

    Router (same probe/guard pattern as ``ngram_jaccard_pairs_auto``):

    * corpus ≤ ``max_exact_docs`` (limit-probe, O(k)) → **exact**: every
      pair sharing ≥1 shingle is scored, so the returned row is provably
      the true 1-NN;
    * larger → **banded**: MinHash-LSH band buckets generate candidates
      (Σ_bucket |bucket|² work, controlled by ``bands`` × rows-per-band —
      never the inverted index's Σ|posting|²), then exact Jaccard re-ranks
      candidates only. A returned match is never mis-scored (scores are
      exact); it can be MISSED when the true best shares no band — the
      s-curve 1-(1-j^{h/b})^{b} makes that vanishing for near-dup-grade
      jaccard (j ≥ 0.5 with 16 bands of 2 hashes: >0.99), which is the
      regime best-match graphs care about. Raise ``bands`` for more recall
      at more candidate cost.

    ``force='exact' | 'banded' | 'tiered'`` pins the regime (tests; inputs
    the caller already bounded). Docs whose best candidate ties on jaccard
    resolve to the smallest partner id in ALL regimes, so regime choice
    never breaks determinism of the ties it does see.

    **'tiered' is exact-1-NN-by-construction at any scale** — the scale
    path for callers that need provable exactness, e.g. oracle-checked
    deletion clustering, without the unthresholded Σ|posting|² join:

    * tier 1: ALL pairs with jaccard ≥ ``tier_jaccard`` via the exact
      threshold auto-router (``ngram_jaccard_pairs_auto`` — dense
      block-BLAS on tiny-universe corpora, lossless AllPairs prefix
      filtering on Zipf ones; all strategies provably identical to full
      enumeration at the threshold). Routing matters here: raw prefix
      filtering DEGENERATES on a small uniform shingle universe (every
      "rare" gram still has a hot posting — measured: the sf1 clumped
      corpus ran >10 min where the routed dense pass takes ~100 s). A doc
      with ANY tier-1 partner has its global best at j ≥ ``tier_jaccard``,
      every partner tying that best is ≥ the threshold and therefore IN
      the tier-1 set, so the tier-1 argmax (same tie-break) IS the true
      1-NN.
    * tier 2: docs with NO tier-1 partner re-run the inverted-index join
      restricted to pairs touching them — Σ|posting∩tier2|·|posting|,
      LINEAR in the unmatched population instead of quadratic in the
      corpus. On the near-dup-dense corpora best-match graphs exist for
      (every doc in a replica clump), tier 2 is only the shingle-starved
      tail; on small corpora the router picks plain exact anyway.
      Tier-2 scores are full exact enumeration for those docs, so their
      argmax is the true 1-NN too.
    * mostly-unique fallback: tier 2 enumerates
      DIRECTED pairs, so its cost is ~2 × unmatched_fraction × the plain
      exact join — on a mostly-UNIQUE corpus (the adversarial case for
      this regime) tiered degenerates to worse-than-exact. Measured on a
      25k Zipf rehearsal corpus where tier 1 matched 0 docs: tiered
      798 s vs exact 209 s vs banded 16 s (BENCH_sf1 ``zipf_*`` rows).
      The regime therefore self-routes: when tier 1 leaves ≥ half the
      corpus unmatched (the analytic crossover of 2·uf·E vs E), it
      re-runs the plain undirected enumeration instead of tier 2 —
      identical exact output, ~E + tier-1 cost instead of ~2E + tier-1.
      'tiered' stays "exact 1-NN at any scale", with its SPEEDUP (not
      its correctness) conditional on near-dup density, as measured.
      ``tier2_max_unmatched_frac`` moves the crossover (1.0 disables the
      fallback — tests use it to pin genuine tier-2 execution on sparse
      corpora; every setting returns the identical exact output).

    Cutover calibration: the sf1 rehearsal (BENCH_sf1.json, 10× replica
    near-dup clumps) measured banded 1.6× faster than exact already at
    25k docs (153 s vs 244 s) — near-dup-DENSE corpora, the ones
    best-match graphs exist for, make postings hot and push the crossover
    well below a uniform corpus's. The 20k default routes that measured
    regime to banded while keeping every oracle-gate scale (≤5k docs) on
    the provably-exact path.
    """
    if force not in (None, "exact", "banded", "tiered"):
        raise ValueError(
            "ngram_best_match: force must be None|'exact'|'banded'|'tiered'"
        )

    regime = force
    if regime is None:
        probed = df.select(id_col).limit(max_exact_docs + 1).count()
        regime = "exact" if probed <= max_exact_docs else "banded"
    if regime == "exact":
        # the JVM inverted index, not the dense block-BLAS core: unthresholded
        # output is ≈ every overlapping pair (2.6M rows at sf0.1), and Arrow
        # serialization out of the Python worker costs ~3× the join + agg
        # (5.2 s vs 1.7 s); dense wins only when a threshold keeps it small
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, n, min_jaccard=0.0, max_docs=None
        )
        return _best_match_tail(pairs)
    # one corpus-wide shingle checkpoint: each leg below reads the arrays
    # more than once, and tier 1's router takes it in place of its own
    # admission pass, so the shingle regex runs once per call
    arrs = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=True)
    if regime == "banded":
        sig = minhash_signatures(arrs, id_col, num_hashes, seed)
        bucket = minhash_band_buckets(sig, id_col, num_hashes, bands)
        return _best_match_tail(
            _index_pairs(
                arrs, arrs, id_col, _JACCARD, 0.0,
                candidates=_band_pairs(bucket, id_col),
            )
        )
    # tier 1: exact thresholded pairs via the dense/prefix auto-router,
    # checkpointed because the matched ids and the final union both read it
    t1 = ngram_jaccard_pairs_auto(
        df, id_col, text_col, n, min_jaccard=tier_jaccard, _arrs=arrs
    ).localCheckpoint(eager=True)
    matched = (
        t1.select(F.col("doc_a").alias(id_col))
        .unionAll(t1.select(F.col("doc_b").alias(id_col)))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # tier 2 scores DIRECTED pairs (doc_a unmatched), ~2 × the unmatched
    # fraction × the exact join; above the crossover the undirected
    # enumeration is cheaper and returns the identical exact output
    n_all = arrs.count()
    n_matched = matched.count()
    if n_all - n_matched > tier2_max_unmatched_frac * n_all:
        return _best_match_tail(_index_pairs(arrs, arrs, id_col, _JACCARD, 0.0))
    # tier 2: every pair touching an unmatched doc, nothing else
    pairs2 = _index_pairs(
        arrs.join(matched, on=id_col, how="left_anti"), arrs, id_col, _JACCARD, 0.0
    ).filter(F.col("doc_a") != F.col("doc_b"))
    # the tail re-swaps the directional tier-2 rows; a swapped row either
    # loses its doc's window (a matched doc_b's tier-1 best is ≥
    # tier_jaccard, above any pair with an unmatched partner) or repeats a
    # tier-2 row with identical values, so the output is unchanged. The
    # checkpoint keeps the tail's two reads from replaying the tier-2 join.
    pairs = t1.unionByName(pairs2).localCheckpoint(eager=True)
    return _best_match_tail(pairs)


def _best_match_tail(pairs: DataFrame) -> DataFrame:
    """Shared 1-NN tail for every ``ngram_best_match`` regime: symmetrize
    the (doc_a < doc_b or directional) pair set and keep each doc's best
    partner (ties → smallest partner id) via a rank-1 window."""
    directed = pairs.select("doc_a", "doc_b", "common", "jaccard").unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "common",
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("jaccard"), F.asc("doc_b"))
    return (
        directed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


MINHASH_PRIME = (1 << 31) - 1  # a*x ≤ 2^62: never overflows int64 (ANSI mode)


def minhash_signature_col(
    shingles_col: str, num_hashes: int = 32, seed: int = 42
) -> F.Column:
    """Minhash signature as a single array-fold expression over a shingle
    array — MAP-ONLY: no explode, no shuffle, no UDF. Each row folds its
    shingle hashes through all permutations at once."""
    p = MINHASH_PRIME
    ab = minhash_permutations(num_hashes, seed)
    a_lit = "array(" + ", ".join(f"{a}L" for a, _ in ab) + ")"
    b_lit = "array(" + ", ".join(f"{b}L" for _, b in ab) + ")"
    hashes = f"transform({shingles_col}, s -> pmod(xxhash64({seed}, s), {p}L))"
    fold = (
        f"aggregate({hashes}, array_repeat({p}L, {num_hashes}), "
        f"(acc, x) -> zip_with(acc, sequence(0L, {num_hashes - 1}L), "
        f"(m, i) -> least(m, (x * element_at({a_lit}, CAST(i + 1 AS INT)) "
        f"+ element_at({b_lit}, CAST(i + 1 AS INT))) % {p}L)))"
    )
    return F.expr(fold)


def minhash_signatures(
    sh: DataFrame, id_col: str, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """Per-doc minhash signature ``sig`` (array<long>) from an
    (id, shingles array) frame produced by ``shingle_arrays`` — one
    projection, zero shuffles."""
    return sh.select(
        F.col(id_col),
        minhash_signature_col("shingles", num_hashes, seed).alias("sig"),
    )


def minhash_band_buckets(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Banded LSH bucket keys from a minhash signature frame: ``bands``
    rows per doc, each keyed by ``(band_no, bucket)`` where the bucket is
    the hash of that band's signature slice. Map-only projection + stack;
    this (id, band_no, bucket) table is also the PERSISTABLE near-dup
    index artifact ``build_neardup_index`` writes."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(F.lit(b), F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    return sig.select(id_col, *band_cols).selectExpr(
        id_col,
        "stack("
        + ", ".join([str(bands)] + [f"{b}, band_{b}" for b in range(bands)])
        + ") as (band_no, bucket)",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    seed: int = 42,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup detection, exact-Jaccard verified.

    shingle → signature → ``bands`` band-hash keys → candidates = pairs
    sharing any band bucket → exact Jaccard on shingle sets → threshold.
    This is the 100 TB shape: no cross join anywhere; candidate volume is
    controlled by bands/rows-per-band (8 bands × 4 rows ≈ s-curve threshold
    ~0.5), and verification touches only candidates.

    ``_arrs``: a caller that already holds a materialized
    ``shingle_arrays(df, id_col, text_col, n)`` frame — e.g. a query that
    also runs the exact truth companion over the same corpus — hands it
    in; the signature pass reads the materialized arrays instead of
    re-running the regex, and candidate verification becomes a semi-join
    over them instead of a second raw-doc regex pass. A self-built corpus
    pass stays lazy: materializing every shingle array upfront costs more
    than the lazy pipeline when nothing else reuses it (+2 s at sf0.1).
    """
    arrs = _arrs if _arrs is not None else shingle_arrays(df, id_col, text_col, n)
    sig = minhash_signatures(arrs, id_col, num_hashes, seed)
    bucket = minhash_band_buckets(sig, id_col, num_hashes, bands)
    # the candidate pairs, not the corpus, are what gets materialized: the
    # list is output-proportional and read three times (both id sides and
    # the verify join), so the banding runs exactly once
    candidates = _band_pairs(bucket, id_col).localCheckpoint(eager=True)
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .union(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # verify reads the CANDIDATE docs' arrays only (the raw docs are
    # semi-joined before the regex), four times over — checkpointed, and
    # candidate-proportional so the checkpoint is bounded
    if _arrs is not None:
        cand_arrs = _arrs.join(cand_ids, on=id_col, how="left_semi")
    else:
        cand_arrs = shingle_arrays(
            df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, n
        )
    cand_arrs = cand_arrs.localCheckpoint(eager=True)
    return _index_pairs(
        cand_arrs, cand_arrs, id_col, _JACCARD, min_jaccard, candidates=candidates
    ).select("doc_a", "doc_b", "jaccard")


def simhash64(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash fingerprint: per-token xxhash64, per-bit ±1 votes,
    sign of the vote sum sets each fingerprint bit.

    Implemented as a single array-fold projection (tokens → hash array →
    fold per-bit votes → reassemble bits) — MAP-ONLY: no explode, no
    shuffle, no per-bit aggregate columns. At 100 TB this runs at scan
    speed; the previous explode+groupBy formulation shuffled |tokens| rows.
    """
    hashes = f"transform(split(trim({text_col}), '\\\\s+'), t -> xxhash64(t))"
    votes = (
        f"aggregate({hashes}, array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0L, {bits - 1}L), "
        f"(v, i) -> v + IF((shiftright(h, CAST(i AS INT)) & 1L) = 1L, 1L, -1L)))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0L, {bits - 1}L), "
        f"(v, i) -> IF(v > 0L, shiftleft(1L, CAST(i AS INT)), 0L)), "
        f"0L, (acc, x) -> acc | x)"
    )
    return widen_for_fanout(df).select(F.col(id_col), F.expr(fp).alias("simhash"))


HEX = "0123456789abcdef"


def minhash_permutations(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a, b) permutation parameters — shared by the Spark operator and
    the generated SQL oracle so both compute identical signatures."""
    import random

    rng = random.Random(seed)
    p = MINHASH_PRIME
    return [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Engine-portable SimHash: per-token md5 (identical hex in any engine),
    per-bit ±1 votes aggregated JVM-side (explode → codegen'd SUM(CASE)),
    fingerprint emitted as a 64-char bit string. The xxhash64 fold variant
    (``simhash64``) is the faster scale path; this one exists so the SimHash
    *semantics* are DuckDB-oracle-checkable."""
    toks = widen_for_fanout(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).select(F.col(id_col), F.md5(F.col("tok").cast("binary")).alias("h"))
    # decode each nibble ONCE (16 string ops/row), then 64 cheap bit
    # extracts — vs 64 independent instr+substr evaluations per row
    nibbles = toks.select(
        F.col(id_col),
        *[
            F.expr(f"instr('{HEX}', substr(h, {j + 1}, 1)) - 1").alias(f"n{j}")
            for j in range(bits // 4)
        ],
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"n{i // 4}"), 3 - i % 4).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = nibbles.groupBy(id_col).agg(*votes)
    fp = F.concat(
        *[F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(bits)]
    )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def minhash_md5_signature(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Engine-portable MinHash signature: shingle → int via the first 8 hex
    chars of md5 (exact cross-engine), permutation mins as ``mh_0..mh_k``
    columns. Oracle-checkable counterpart of the xxhash64 fold signature."""
    sh = word_shingles(df, id_col, text_col, n)
    # materialize the hash int ONCE per row — each MIN agg expression is
    # evaluated independently, so an inline x would md5 every shingle
    # num_hashes times
    hashed = sh.select(
        F.col(id_col),
        F.expr("CAST(conv(substr(md5(shingle), 1, 8), 16, 10) AS BIGINT)").alias("x"),
    )
    p = MINHASH_PRIME
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(p)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_permutations(num_hashes, seed))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _cc_driver_solve(spark, pdf) -> DataFrame | None:
    """Vectorized min-label connected components over a bounded edge list
    already on the driver (two int64 columns a, b). Same fixpoint as the
    distributed loop: labels start as node ids, every round each node
    takes the min of its own and its neighbors' labels, plus pointer
    jumping (label-of-label) — O(log diameter) vectorized rounds, each a
    couple of ``np.minimum.at`` scatters over the edge arrays. Returns
    (node long, comp long); edge-free nodes are absent by construction,
    matching the distributed loop."""
    import numpy as np
    import pandas as pd

    global LAST_CC_ROUNDS
    a = pdf["a"].to_numpy(dtype=np.int64)
    b = pdf["b"].to_numpy(dtype=np.int64)
    # np.unique sorts, so index order == id order: a min over indices IS a
    # min over ids, and uniq[label] recovers the canonical representative
    uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    labels = np.arange(len(uniq), dtype=np.int64)
    rounds = 0
    converged = False
    for _ in range(10_000):  # log2(diameter) rounds; backstop only
        rounds += 1
        new = labels.copy()
        np.minimum.at(new, ai, labels[bi])
        np.minimum.at(new, bi, labels[ai])
        new = np.minimum(new, new[new])  # pointer jumping
        if np.array_equal(new, labels):
            converged = True
            break
        labels = new
    if not converged:
        # mirror the distributed loop's failure semantics (r11 ADVICE #2):
        # unreachable with pointer jumping (log2(diameter) << backstop),
        # but silently returning unconverged labels would be wrong clusters
        raise RuntimeError(
            "_cc_driver_solve: no convergence within the 10,000-round "
            "backstop (should be impossible with pointer jumping)"
        )
    LAST_CC_ROUNDS = rounds
    out = pd.DataFrame({"node": uniq, "comp": uniq[labels]})
    return spark.createDataFrame(out, schema="node long, comp long")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components of an undirected pair graph → (node, component),
    component = smallest node id in the component (a deterministic canonical
    representative — the doc to KEEP in near-dup dedup).

    Two regimes, decided by one bounded fetch:

    * **bounded graph** (≤ ``driver_max_edges`` edges): the edge list is
      fetched as ``limit(driver_max_edges + 1)`` in one Arrow transfer of
      the two long columns (~16 MB at the 1M-edge cap); when the frame
      holds no more than the cap it IS the whole edge list, and a
      vectorized numpy min-label + pointer-jumping solve runs on the
      driver. The fetch is the decision, so no separate count probe
      runs. Near-dup edge lists at gate scales are a few
      thousand rows, and the incremental/deletion paths call CC on
      contracted or subgraph frames that are delta-sized by construction
      — paying one distributed join + agg + localCheckpoint PER ROUND for
      those (measured: 7-round chain CC 5.5 s, 6-round post-deletion
      re-cluster 7.0 s at sf0.1) was pure scheduling overhead. Same
      bounded-collect doctrine as the BPE driver merge loop, the
      ≤max_exact quantile slices, ``cosine_allpairs`` and the near-dup
      auto routers' driver regime (``_driver_pairs``). Set
      ``driver_max_edges=0`` to pin the distributed loop (tests do).
    * **distributed loop** otherwise: iterative min-label propagation;
      each round every node takes the min of its own and its neighbors'
      labels; converges in O(graph diameter) rounds, with label-of-label
      pointer jumping from round 3 making that O(log diameter). The eager
      per-round Σcomp comparison is the convergence check — labels only
      ever decrease, so the exact decimal sum is a fixpoint witness; one
      agg over the round's persisted output where a labels⨝new join +
      count used to run (r11, guide §2.4: a full join removed per round);
      same driver-loop pattern as the reference's ProximityMedian
      (ipynb:872). Labels are re-persisted per round and
      localCheckpoint'ed periodically so lineage stays bounded.

    Both regimes return the identical labeling (pytest-asserted): the
    fixpoint of min-label propagation is unique.

    Nodes with no edges are absent from the output by definition (they are
    their own singleton cluster).

    Diagnostics: the module-level ``LAST_CC_ROUNDS`` is set to the number
    of propagation rounds the last call took (scale rehearsals log it;
    not part of the result contract), and the regime is reported through
    ``report.record`` with the fetched edge count against the cap.
    """
    global LAST_CC_ROUNDS
    # persist the directed edge list FIRST: the undirected union references
    # it twice, and without this the entire upstream pair-generation pipeline
    # (e.g. an exact-Jaccard join) executes twice before the loop even starts
    und = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).persist()
    fetched = None
    if driver_max_edges:
        # Arrow: two int64 columns, at most one row past the cap
        pdf = und.limit(driver_max_edges + 1).toPandas()
        fetched = (len(pdf), driver_max_edges)
        # NULL endpoints (non-integral ids cast to long) would need the
        # distributed loop's NULL-propagation semantics — don't guess,
        # fall through to the loop for those
        if len(pdf) <= driver_max_edges and not pdf.isnull().values.any():
            und.unpersist()
            record("connected_components", "driver", edges=fetched)
            return _cc_driver_solve(edges.sparkSession, pdf)
    record("connected_components", "distributed", edges=fetched)
    adj = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    adj.count()  # materialize adj now so und's lineage never re-runs
    und.unpersist()
    labels = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .persist()
    )
    # convergence ledger: every node's label is initially itself, and
    # min-propagation only ever DECREASES labels, so Σcomp strictly
    # decreases until (and only until) the fixpoint — comparing sums
    # replaces the old per-round labels⨝new join + count with one agg
    # over the already-persisted round output (guide §2.4: one shuffle
    # and a full join removed per round). decimal(38,0) keeps the sum
    # exact at any node-id magnitude (a long sum could wrap).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = None  # computed lazily: round 1 always runs
    for i in range(max_iter):
        nbr_min = adj.join(
            labels.select(F.col("node").alias("b"), "comp"), on="b"
        ).select(F.col("a").alias("node"), "comp")
        propagated = (
            labels.unionByName(nbr_min)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            # persisted BEFORE any second reference — in compression rounds
            # it is consumed twice (as labels and as the label-of-label
            # lookup side), and an unpersisted double reference re-executes
            # the whole union+agg lineage per consumer, per round
            .persist()
        )
        if i >= 2:
            # pointer-jumping compression (label-of-label): every comp value
            # is itself a node of the same component, so label(label(v)) is
            # too — taking the min halves remaining chain depth each round,
            # turning O(diameter) rounds into O(log diameter) on path-shaped
            # graphs (1-NN/best-match graphs). Labels only ever decrease and
            # stay member ids, so the fixpoint — and every oracle hash — is
            # identical to pure min propagation. Deferred until round 3:
            # clique-shaped near-dup graphs converge in ≤2 rounds and would
            # pay the self-join + per-round checkpoint for nothing (measured
            # +2.8–3.6 s per CC query at sf0.1); any graph still changing at
            # round 3 is chain-shaped and is exactly where compression wins.
            lbl_of_lbl = propagated.select(
                F.col("node").alias("comp"), F.col("comp").alias("__c2")
            )
            new = propagated.join(lbl_of_lbl, on="comp", how="left").select(
                "node",
                F.least(F.col("comp"), F.coalesce("__c2", F.col("comp"))).alias(
                    "comp"
                ),
            )
            # localCheckpoint EVERY compression round: the self-join doubles
            # the logical plan per round, so anything short of per-round
            # truncation grows the plan tree geometrically (measured: driver
            # heap OOM on plan-string generation with the old every-5-rounds
            # policy). Rounds are O(log diameter), so this is a handful of
            # label-table materializations, each |nodes| rows. The ≤2
            # uncheckpointed early rounds add only a linear union+agg step
            # each — bounded by construction.
            new = new.localCheckpoint()
        else:
            new = propagated
        if prev_sum is None:
            prev_sum = _label_sum(labels)
        new_sum = _label_sum(new)
        changed = int(new_sum != prev_sum)
        prev_sum = new_sum
        if new is not propagated:
            propagated.unpersist()
        labels.unpersist()
        labels = new
        LAST_CC_ROUNDS = i + 1
        if changed == 0:
            if new is propagated:
                # early (pre-compression) convergence returns a merely
                # persisted frame whose lineage reaches through adj — which
                # is unpersisted below. Truncate so lazy consumers never
                # replay the upstream pair generation.
                labels = propagated.localCheckpoint(eager=True)
                propagated.unpersist()
            break
    else:
        # exhausting max_iter means labels have NOT converged — returning
        # them silently would hand back wrong clusters for any graph with
        # diameter > max_iter
        adj.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f"connected_components: no convergence after {max_iter} rounds "
            f"(graph diameter exceeds max_iter); raise max_iter"
        )
    adj.unpersist()
    return labels


def simhash_band_buckets(
    sim: DataFrame, id_col: str, band_bits: int = 16
) -> DataFrame:
    """Split the 64-bit simhash into bands; docs sharing any band are
    Hamming-near candidates (≤ 64/band_bits - 1 differing bands)."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = [
        (F.shiftrightunsigned(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask))).alias(
            f"sb_{i}"
        )
        for i in range(n_bands)
    ]
    banded = sim.select(id_col, *bands)
    return banded.selectExpr(
        id_col,
        "stack("
        + ", ".join([str(n_bands)] + [f"{i}, sb_{i}" for i in range(n_bands)])
        + ") as (band_no, bucket)",
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    band_bits: int = 16,
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-duplicate pairs: band-bucket candidates (docs sharing
    any ``band_bits``-bit band of their 64-bit fingerprint), refined by an
    exact Hamming-distance cut on the full fingerprints.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b. Banding guarantees
    every pair within ``64/band_bits - 1`` differing bands is a candidate
    (pigeonhole), so with 4 bands and ``max_hamming ≤ 3`` recall is exact;
    larger cuts are approximate. Same scale shape as MinHash-LSH: bucket
    join → distinct candidates → refine candidates only, never all-pairs.
    """
    # eager localCheckpoint, not persist: returned frame is lazy over sim
    # (no paired unpersist possible); see the note in ngram_jaccard_pairs.
    sim = simhash64(df, id_col, text_col).localCheckpoint(eager=True)
    candidates = _band_pairs(simhash_band_buckets(sim, id_col, band_bits), id_col)
    fa = sim.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("__fp_a"))
    fb = sim.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("__fp_b"))
    return (
        candidates.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", F.bit_count(F.expr("__fp_a ^ __fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_increment(
    new_docs: DataFrame,
    known: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental dedup — the production daily-batch shape: drop from
    ``new_docs`` anything whose normalized-text fingerprint already exists
    in the historical fingerprint store ``known`` (a table of ``fp_col``),
    then dedup the increment internally (smallest id wins).

    Shape at scale: the increment is small relative to the corpus, so the
    anti-join shuffles only the increment's fingerprints against the
    bucketed/partitioned store — never rescans corpus text. The store is
    append-only: publish the surviving increment's fingerprints back after
    each batch.
    """
    fp = F.md5(normalize_text(text_col).cast("binary"))
    tagged = new_docs.withColumn("__fp", fp)
    fresh = tagged.join(
        known.select(F.col(fp_col).alias("__fp")), on="__fp", how="left_anti"
    )
    first = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(first.select(id_col), on=id_col, how="left_semi")
        .drop("__fp")
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring deduplication at token-span granularity (the
    "Deduplicating Training Data Makes Language Models Better" operation,
    Lee et al. 2022, arXiv:2107.06499): REMOVE every token covered by an
    ``n``-gram that occurs in at least ``min_docs`` distinct documents,
    and rebuild each document from its surviving tokens.

    Where ``dup_span_stats`` only *measures* cross-document span overlap,
    this operator performs the rewrite — the destructive step a curation
    pipeline actually ships. Returns one row per input document:
    ``(id, n_tokens, n_removed, clean_text)``.

    Scale shape (no suffix array needed at shingle granularity):
      1. one explode builds (doc, start_pos, span) — tokens×1 rows;
      2. span multiplicity is a hash agg on the span key (map-side
         combined; the exchange carries the span dictionary, not docs);
      3. duplicated spans come back via an equi-join on span (hot spans
         are FEW by definition of the dictionary agg — no skew blowup);
      4. covered positions are an ``n``-way in-row fan-out + distinct;
      5. surviving tokens anti-join covered and re-assemble per doc via
         a position-sorted array aggregation.
    Every stage is an explode / hash-agg / equi-join — never doc×doc,
    never a regex scan, never Python.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("toks"))
    # (doc, pos, token): pos is 1-based token position
    tok_pos = base.select(
        "__id", F.posexplode("toks").alias("pos0", "token")
    ).select("__id", (F.col("pos0") + 1).alias("pos"), "token")
    # (doc, start, span): all n-gram spans with their start positions
    spans = base.filter(F.size("toks") >= n).select(
        "__id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}), "
                f"i -> array_join(slice(toks, i, {n}), ' '))"
            )
        ).alias("start0", "span"),
    ).select("__id", (F.col("start0") + 1).alias("start"), "span")
    dup_spans = (
        spans.select("__id", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    covered = (
        spans.join(dup_spans, "span")
        .select(
            "__id",
            F.explode(
                F.expr(f"sequence(start, start + {n - 1})")
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_pos.join(covered, ["__id", "pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, token))), s -> s.token)"),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = tok_pos.groupBy("__id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
            ).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: persisted LSH index, probe-only batches — the
# near-dup companion to ``dedup_increment`` (exact store) and the same
# build-once/probe-many shape as similarity.build_ivf_index/ivf_search.
# ---------------------------------------------------------------------------


def build_neardup_index(
    df: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> None:
    """Build a persistent near-dup index over the corpus:

    * ``{index_dir}/buckets`` — the (id, band_no, bucket) LSH table,
      bucketed-by-key on disk via a ``bucket``-range sort so probe joins
      scan clustered keys;
    * ``{index_dir}/shingles`` — (id, shingles) for the exact-verify
      stage, so probing never re-reads or re-shingles the corpus text.

    At 100 TB this happens once per corpus snapshot; each arriving batch
    pays only its own shingling plus joins against the index. New batches
    that commit can APPEND their buckets/shingles — the index is
    incrementally maintainable because both artifacts are per-doc rows
    with no global state."""
    arrs = shingle_arrays(df, id_col, text_col, n).persist()
    sig = minhash_signatures(arrs, id_col, num_hashes, seed)
    buckets = minhash_band_buckets(sig, id_col, num_hashes, bands)
    buckets.repartitionByRange(8, "band_no", "bucket").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/buckets")
    arrs.write.mode("overwrite").parquet(f"{index_dir}/shingles")
    arrs.unpersist()


def neardup_probe(
    spark,
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Probe a batch against a ``build_neardup_index`` store WITHOUT
    touching the store's raw text: batch docs shingle + sign map-only,
    candidates come from the (band_no, bucket) equi-join against the
    index, and the exact-Jaccard verify joins candidate pairs to the
    index's precomputed shingle rows. Never batch×store — candidate
    volume is governed by the banding s-curve, verify cost by
    Σ|candidate| shingles.

    Returns one row per batch doc: (id, n_candidates, best_match,
    best_jaccard) — best = highest verified Jaccard ≥ ``min_jaccard``
    (ties broken toward the smaller store id), NULLs when nothing
    verified."""
    arrs = shingle_arrays(batch, id_col, text_col, n).persist()
    sig = minhash_signatures(arrs, id_col, num_hashes, seed)
    probe_buckets = minhash_band_buckets(sig, id_col, num_hashes, bands)
    store_buckets = spark.read.parquet(f"{index_dir}/buckets")
    cand = _band_pairs(probe_buckets, id_col, store_buckets).persist()
    store_sh = spark.read.parquet(f"{index_dir}/shingles").join(
        cand.select(F.col("doc_b").alias(id_col)).distinct(), on=id_col, how="left_semi"
    )
    verified = _index_pairs(
        arrs, store_sh, id_col, _JACCARD, min_jaccard, candidates=cand
    )
    w = Window.partitionBy("doc_a").orderBy(F.col("jaccard").desc(), F.col("doc_b"))
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("doc_a").alias("bid"),
            F.col("doc_b").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    ncand = cand.groupBy(F.col("doc_a").alias("bid")).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    out = (
        batch.select(F.col(id_col).alias("bid"))
        .join(ncand, "bid", "left")
        .join(best, "bid", "left")
        .select(
            F.col("bid").alias(id_col),
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "best_match",
            F.round("best_jaccard", 6).alias("best_jaccard"),
        )
    )
    # materialize the (one-row-per-batch-doc) result, then release the
    # cached intermediates — a long-lived session probing many batches
    # otherwise accumulates executor cache
    out = out.localCheckpoint(eager=True)
    arrs.unpersist()
    cand.unpersist()
    return out


def exact_cross_jaccard(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    _batch_arrs: DataFrame | None = None,
    _store_arrs: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs BETWEEN two corpora (batch id × store id,
    never within either side) via the inverted-index join — the ground
    truth ``neardup_probe``'s recall gate measures against. Same cost
    regime as ``ngram_jaccard_pairs``: fine at gate scale, post-LSH or
    sampled (``similarity.sampled_pair_audit``) at 100 TB.

    ``_batch_arrs``/``_store_arrs``: a caller that already holds an
    eagerly materialized ``shingle_arrays(side, id_col, text_col, n)``
    frame passes it here so that side's shingle pass is not re-run.

    Returns (bid, sid, jaccard), materialized: the pair set is
    threshold-bounded and callers read it more than once."""
    pairs = _index_pairs(
        _prepared(batch, id_col, text_col, n, _batch_arrs),
        _prepared(store, id_col, text_col, n, _store_arrs),
        id_col, _JACCARD, min_jaccard,
    )
    return pairs.select(
        F.col("doc_a").alias("bid"), F.col("doc_b").alias("sid"), "jaccard"
    ).localCheckpoint(eager=True)


def update_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    node_col: str = "node",
    comp_col: str = "comp",
    max_iter: int = 50,
    validate_labels: bool = True,
) -> DataFrame:
    """Incremental connected components: fold a batch of NEW edges into an
    existing (node, component) labeling WITHOUT re-traversing the old
    graph — the growing-corpus companion to ``dedup_increment`` /
    ``neardup_probe`` (cluster the store once; each arriving batch's
    near-dup edges update cluster membership at delta cost).

    PRECONDITION: ``labels`` must be a min-member-id labeling — every
    component id is the smallest node id in that component, i.e. output of
    ``connected_components`` or a previous ``update_components`` call. An
    external or hand-built labeling that violates this silently returns
    components that differ from a full recompute (the contraction proof
    below needs reps to be minima). ``validate_labels=True`` (default)
    checks the invariant for exactly the comp ids this call relies on —
    the labels of nodes incident to the new edges — each of which must
    exist as a node labeled with itself, else this raises. (Untouched
    components pass through unchanged, so their labels cannot make THIS
    update wrong; r06 review replaced a fixed-512 sample that was either
    unbounded or partition-biased with this exact, batch-bounded check.)

    Correctness rests on component contraction: every old component
    collapses to its representative (already the min member id), each new
    edge maps its endpoints through the labeling (unlabeled endpoints —
    brand-new docs, or store docs whose first edge is cross-batch — stay
    themselves), and min-label CC runs on that CONTRACTED graph only.
    Because old reps are minima of their members and CC picks the min of
    the contracted ids, the updated labels provably equal a full
    recompute over (old edges ∪ new edges) — which is exactly what the
    declared query's oracle checks.

    Cost: two broadcast-or-shuffle label lookups on the new edges + CC
    over a graph whose size is O(|new edges|) — independent of the
    accumulated corpus. Returns the full updated (node, comp) table."""
    # materialize the batch ONCE (r11, guide §1.2): it is O(|new edges|)
    # by the function's own contract, and it is consumed by BOTH the
    # validation probe and the contraction — callers usually pass a lazy
    # pair-enumeration plan (e.g. the incremental query's dense-BLAS
    # batch pairs), which would otherwise re-execute per consumer
    new_edges = new_edges.select(src, dst).localCheckpoint(eager=True)
    if validate_labels:
        # exact, batch-bounded precondition check: the contraction proof
        # relies only on the comp ids of nodes INCIDENT to the new edges,
        # so validate precisely those (≤ 2·|batch| distinct ids — the
        # function's own cost envelope). One join against the batch's
        # endpoints + one map-only self-label pass over labels; AQE
        # broadcasts the small sides. A NULL comp on a touched node (a
        # corrupt labeling) never anti-matches, so it is reported too.
        ends = new_edges.select(F.col(src).alias("__n")).unionByName(
            new_edges.select(F.col(dst).alias("__n"))
        )
        touched = (
            ends.join(
                labels.select(
                    F.col(node_col).alias("__n"), F.col(comp_col).alias("__c")
                ),
                "__n",
            )
            .select("__c")
            .distinct()
        )
        selfl = labels.filter(F.col(node_col) == F.col(comp_col)).select(
            F.col(comp_col).alias("__c")
        )
        bad = [
            r["__c"]
            for r in touched.join(selfl, "__c", "left_anti").limit(3).collect()
        ]
        if bad:
            raise ValueError(
                f"update_components: labels violate the min-member-id "
                f"invariant — comp ids {bad} (touched by this batch) have "
                f"no node labeled with itself. Labels must come from "
                f"connected_components/update_components (pass "
                f"validate_labels=False only if you have proven the "
                f"invariant externally)."
            )
    la = labels.select(
        F.col(node_col).alias(src), F.col(comp_col).alias("__ca")
    )
    lb = labels.select(
        F.col(node_col).alias(dst), F.col(comp_col).alias("__cb")
    )
    contracted = (
        new_edges.select(src, dst)
        .join(la, src, "left")
        .join(lb, dst, "left")
        .select(
            F.coalesce("__ca", F.col(src)).alias(src),
            F.coalesce("__cb", F.col(dst)).alias(dst),
        )
        .filter(F.col(src) != F.col(dst))
        .distinct()
        # materialize: the frame is O(|new edges|) by construction, every
        # CC round re-references it, and planning CC's loop through the
        # label table's own (iterative, persisted) lineage drives Catalyst
        # into a planning blow-up (measured: driver heap OOM on a 3-edge
        # graph without this truncation)
        .localCheckpoint(eager=True)
    )
    delta = connected_components(contracted, src, dst, max_iter=max_iter)
    remap = delta.select(
        F.col("node").alias("__old"), F.col("comp").alias("__new")
    )
    updated_old = labels.join(
        remap, labels[comp_col] == F.col("__old"), "left"
    ).select(
        F.col(node_col),
        F.coalesce("__new", F.col(comp_col)).alias(comp_col),
    )
    # contracted ids that are raw (previously unlabeled) nodes need rows
    fresh = delta.join(
        labels.select(F.col(node_col)),
        delta["node"] == labels[node_col],
        "left_anti",
    ).select(F.col("node").alias(node_col), F.col("comp").alias(comp_col))
    return updated_old.unionByName(fresh)


def remove_nodes(
    labels: DataFrame,
    edges: DataFrame,
    removed: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    node_col: str = "node",
    comp_col: str = "comp",
    max_iter: int = 50,
) -> DataFrame:
    """Deletion support for incremental connected components (r05 VERDICT
    ask #5): remove a set of documents (takedown, re-filter) from a
    clustered corpus and return labels equal to a FULL recompute over the
    surviving edge set — without re-traversing it.

    Additions only ever MERGE components (``update_components``'s
    contraction); deletions can SPLIT them, which contraction cannot
    express — removing a cut vertex disconnects its component. The dual
    trick makes the split cheap: deleted edges are all incident to removed
    nodes, and both endpoints of any edge share one component, so ONLY the
    components containing a removed node can change. Those are re-clustered
    from scratch on their own surviving internal edges; every other
    component's labels (including its min-member representative, which it
    kept — no member was removed) pass through untouched.

    Steps, each O(|affected subgraph|) past one pruned pass over the
    stores: (1) affected component ids = labels ⋉ removed (|removed| is
    takedown-batch-sized — broadcastable); (2) surviving members and their
    internal edges via semi/anti joins (at 100 TB, labels and the pair
    store bucketed by ``comp``/endpoint make these partition-pruned scans);
    (3) min-label CC on that subgraph; (4) union with pass-through labels.

    Matching ``connected_components`` semantics, survivors whose last edge
    vanished drop out of the labeling (edge-free nodes are not clustered);
    removed nodes drop out entirely. ``labels`` must satisfy the same
    min-member-id invariant as ``update_components``."""
    rm = removed.select(F.col(removed.columns[0]).alias("__rm")).distinct()
    affected = (
        labels.join(rm, labels[node_col] == F.col("__rm"), "left_semi")
        .select(F.col(comp_col).alias("__ac"))
        .distinct()
    )
    # survivors of affected components (members minus removed)
    surv = (
        labels.join(affected, labels[comp_col] == F.col("__ac"), "left_semi")
        .join(rm, labels[node_col] == F.col("__rm"), "left_anti")
        .select(F.col(node_col).alias("__sn"))
    )
    # surviving internal edges: both endpoints alive, inside affected comps.
    # Semi-joining BOTH endpoints against the survivor set is enough: an
    # edge with an endpoint outside the affected comps can't have its other
    # endpoint inside (edges never cross components).
    e = edges.select(src, dst)
    e_alive = (
        e.join(surv, e[src] == F.col("__sn"), "left_semi")
        .join(surv, e[dst] == F.col("__sn"), "left_semi")
        # materialize: O(|affected subgraph|) by construction, and CC's
        # iterative loop planning through the label table's own (often
        # iterative) lineage blows up Catalyst — same truncation as
        # update_components' contracted frame
        .localCheckpoint(eager=True)
    )
    relabeled = connected_components(e_alive, src, dst, max_iter=max_iter)
    untouched = labels.join(
        affected, labels[comp_col] == F.col("__ac"), "left_anti"
    ).select(node_col, comp_col)
    return untouched.unionByName(
        relabeled.select(
            F.col("node").alias(node_col), F.col("comp").alias(comp_col)
        )
    )


def content_defined_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 8,
    mask_bits: int = 6,
    base: int = 131,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Content-defined chunking (rsync/LBFS): split each document where a
    sliding ``window``-char Rabin-Karp hash hits ``h % 2**mask_bits == 0``
    (expected chunk length ≈ 2**mask_bits chars). Because boundaries
    depend only on LOCAL content, an insertion re-aligns within one chunk
    and every downstream chunk hash survives — the property fixed-stride
    spans structurally lack (one inserted word shifts every later span;
    pytest proves the contrast). Chunk-hash dedup on this output is
    therefore robust to edits, the storage-dedup trick applied to corpus
    near-dup detection.

    Shape: one char-level posexplode (linear in bytes — CDC is a
    byte-stream algorithm, this IS its cost), an 8-element frame fold per
    char, and one (id, chunk) reassembly agg. ONE exchange total: the
    window partitions by id and HashPartitioning(id) already satisfies
    the (id, chunk_no) grouping. Engine-portable modular arithmetic (the
    ``rolling_hash_fingerprint`` discipline, same BMP caveat).

    Returns (id, chunk_no, chunk_text, chunk_hash, n_chars)."""
    norm = normalize_text(text_col)
    chars = df.select(
        F.col(id_col), F.posexplode(F.split(norm, "")).alias("pos", "c")
    )
    w_frame = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(window - 1), 0)
    )
    wc = F.collect_list(F.ascii("c")).over(w_frame)
    h = F.expr(
        f"aggregate(__wc, 0L, (a, c) -> (a * {base} + c) % {mod})"
    )
    mask = (1 << mask_bits) - 1
    flagged = (
        chars.withColumn("__wc", wc)
        .withColumn(
            "__boundary",
            ((F.size("__wc") == window) & (h.bitwiseAND(F.lit(mask)) == 0))
            .cast("long"),
        )
        .drop("__wc")
    )
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.withColumn(
        "chunk_no", F.coalesce(F.sum("__boundary").over(w_cum), F.lit(0)).cast("long")
    )
    return (
        assigned.groupBy(id_col, "chunk_no")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("__ps"))
        .select(
            id_col,
            "chunk_no",
            F.expr("concat_ws('', transform(__ps, p -> p.c))").alias("chunk_text"),
        )
        .select(
            id_col,
            "chunk_no",
            "chunk_text",
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
            F.length("chunk_text").cast("long").alias("n_chars"),
        )
    )


def split_leakage_audit(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str,
    split_col: str = "split",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Cross-split contamination audit: label both endpoints of a near-dup
    pair set with their train/test assignment and count pairs per
    unordered (split, split) cell — the eval-integrity check every
    training-data split needs (a near-duplicate of a test document inside
    the train split leaks the answer; random row-level splits guarantee
    such pairs exist).

    ``pairs`` is any (id_a, id_b) near-dup edge set (exact Jaccard, LSH,
    embedding); ``splits`` maps ``id_col`` → ``split_col``. Output:
    (split_lo, split_hi, n_pairs, is_cross), ≤ |splits|² rows. Scale
    shape: two broadcast-or-shuffle equi-joins from the (already reduced)
    pair set to the split table + one tiny hash agg — never touches the
    corpus text. Fix for a failing audit: split by a GROUP key that
    contains the near-dup structure (domain, cluster representative from
    ``connected_components``) instead of the row id — ``hash_split`` on
    the component id makes leakage structurally zero."""
    sa = splits.select(
        F.col(id_col).alias(id_a), F.col(split_col).alias("__sa")
    )
    sb = splits.select(
        F.col(id_col).alias(id_b), F.col(split_col).alias("__sb")
    )
    lab = pairs.join(sa, id_a).join(sb, id_b)
    lo = F.least("__sa", "__sb")
    hi = F.greatest("__sa", "__sb")
    return (
        lab.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_cross"),
        )
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str = "dhash",
    max_hamming: int = 6,
    bits: int = 64,
) -> DataFrame:
    """EXACT Hamming-ball pair join over 64-bit fingerprints (SimHash,
    dHash, ...) WITHOUT an all-pairs comparison: split the hash into
    ``max_hamming + 1`` bit bands — by pigeonhole, two hashes within
    Hamming distance ``max_hamming`` must agree EXACTLY on at least one
    band — equi-join on (band_no, band_value) for candidates, then verify
    with one JVM ``bit_count(a ^ b)`` per candidate. Unlike MinHash
    banding this is lossless: the pair set provably equals the brute-force
    result (pytest-asserted), because the band agreement is a necessary
    condition, not a probabilistic one.

    Returns (id_a, id_b, hamming) with id_a < id_b. Scale shape: bands+1
    rows per hash explode, hash-partitioned bucket join, candidate-only
    verification — never N²."""
    bands = max_hamming + 1
    base = bits // bands
    h = hashes.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h"))
    band_cols = []
    for b in range(bands):
        shift = b * base
        width = bits - shift if b == bands - 1 else base
        mask = (1 << width) - 1
        band_cols.append(
            F.expr(f"shiftrightunsigned(__h, {shift}) & {mask}").alias(f"band_{b}")
        )
    bucket = h.select("__id", "__h", *band_cols).selectExpr(
        "__id",
        "__h",
        "stack("
        + ", ".join([str(bands)] + [f"{b}, band_{b}" for b in range(bands)])
        + ") as (band_no, band_val)",
    )
    a = bucket.select(
        F.col("__id").alias("id_a"), F.col("__h").alias("h_a"), "band_no", "band_val"
    )
    b_ = bucket.select(
        F.col("__id").alias("id_b"), F.col("__h").alias("h_b"), "band_no", "band_val"
    )
    return (
        a.join(b_, on=["band_no", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("bit_count(h_a ^ h_b)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_short: int = 10_000,
) -> DataFrame:
    """EXACT edit-distance similarity join — all (id_a, id_b, dist) pairs
    with Levenshtein distance ≤ ``max_dist`` — WITHOUT an all-pairs
    comparison: Ed-Join-style positional q-gram PREFIX filtering (Xiao,
    Wang & Lin, VLDB'08 "Ed-Join"; mismatch bound from Gravano et al.,
    VLDB'01) generates candidates from each string's rarest grams only,
    then one ``levenshtein()`` call verifies each candidate. The
    fuzzy-matching sibling of the exact set-similarity joins
    (`ngram_jaccard_pairs_*`): entity/name resolution, typo-tolerant
    record linkage, near-identical ID sweeps.

    Completeness argument (why the prefix never loses a true pair): one
    edit destroys at most q positional q-grams and shifts survivors by at
    most 1, so d edits destroy at most ``q·d`` grams — among ANY
    ``q·d+1`` of a string's grams, at least one survives in the partner
    with position offset ≤ d. Taking each string's ``q·d+1`` globally
    RAREST grams as its prefix and joining prefixes against the FULL
    posting index therefore witnesses every true pair (from the prefix
    side of either member); the length filter |La−Lb| ≤ d prunes first,
    and verification is exact, so extra candidates only cost time, never
    correctness.

    Cohort split (exact, disjoint): the prefix lemma needs ≥ ``q·d+1``
    grams, i.e. length ≥ ``q·(d+1)``; pairs where BOTH strings clear that
    bar go through the prefix filter. Any pair with at least one string
    at or under ``q·(d+1)−1`` is verified densely — its partner is
    within ``d`` of the cut by the length filter, so the dense cohort is
    every string of length ≤ ``q·(d+1)−1+d``, limit-probed against
    ``max_short`` and raising with guidance instead of exploding, with
    ``least(La,Lb) ≤ cut`` keeping the two paths disjoint.

    Scale shape: explode ≤ L−q+1 gram rows per string, ONE frequency
    agg, prefix join against the posting index — hot grams almost never
    appear in any rarest-first prefix, so their posting lists are never
    enumerated quadratically (the same reason the AllPairs/PPJoin prefix
    paths scale); the candidate dedup exchange carries (id_a, id_b) pairs
    ONLY — strings re-attach via an id equi-join (broadcast when the
    candidate set is small) and each candidate pair is levenshtein-
    verified exactly once. Property-tested identical to brute force.
    """
    if max_dist < 0:
        raise ValueError("edit_distance_pairs: max_dist must be >= 0")
    if q < 2:
        raise ValueError("edit_distance_pairs: q must be >= 2")
    d = int(max_dist)
    short_cut = q * (d + 1) - 1
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("__l"),
    ).filter(F.col("__s").isNotNull())
    # overlapping positional q-grams via the shingle_arrays lookahead
    # trick at char granularity; posexplode index IS the gram position.
    # (?s): dot must cross newlines or multi-line strings silently lose
    # grams and the prefix filter loses completeness
    grams_expr = F.expr(f"regexp_extract_all(__s, '(?s)(?=(.{{{q}}})).', 1)")
    long_side = base.filter(F.col("__l") > short_cut)
    g = long_side.select(
        "__id", "__s", "__l", F.posexplode(grams_expr).alias("__pos", "__gram")
    )
    # rarest-first prefix: q·d+1 grams per string under the global
    # (frequency, gram, pos) order — deterministic, hot grams excluded
    freq = g.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
    w_pref = Window.partitionBy("__id").orderBy("__df", "__gram", "__pos")
    prefix = (
        g.join(freq, "__gram")
        .withColumn("__rk", F.row_number().over(w_pref))
        .filter(F.col("__rk") <= q * d + 1)
        .select(
            F.col("__id").alias("__pid"), F.col("__s").alias("__ps"),
            F.col("__l").alias("__pl"), F.col("__pos").alias("__pp"), "__gram",
        )
    )
    full = g.select(
        F.col("__id").alias("__fid"), F.col("__s").alias("__fs"),
        F.col("__l").alias("__fl"), F.col("__pos").alias("__fp"), "__gram",
    )
    hit = prefix.join(full, "__gram").filter(
        (F.col("__pid") != F.col("__fid"))
        & (F.abs(F.col("__pl") - F.col("__fl")) <= d)
        & (F.abs(F.col("__pp") - F.col("__fp")) <= d)
    )
    # ids-only distinct, then re-attach strings: a distinct carrying both
    # FULL strings per candidate doubles shuffle bytes on document-length
    # strings for zero pruning benefit, and verify-then-distinct runs
    # levenshtein once per HIT instead of once per PAIR — a pair re-hit by
    # k shared rare grams costs k O(|s|²) verifications (measured 68%
    # slower on the sf1 document corpus, 126 s vs 75 s). This shape wins
    # on both axes: the dedup exchange carries (id_a, id_b) only, strings
    # re-attach via an id equi-join (AQE broadcasts the candidate set when
    # it is small, so base strings never shuffle at all; past broadcast it
    # shuffles each candidate DOC's string once), and levenshtein runs
    # exactly once per candidate pair.
    lo = F.col("__pid") < F.col("__fid")
    cand_ids = hit.select(
        F.when(lo, F.col("__pid")).otherwise(F.col("__fid")).alias("id_a"),
        F.when(lo, F.col("__fid")).otherwise(F.col("__pid")).alias("id_b"),
    ).distinct()
    str_a = long_side.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa")
    )
    str_b = long_side.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb")
    )
    verified = (
        cand_ids.join(str_a, "id_a")
        .join(str_b, "id_b")
        .select("id_a", "id_b", F.levenshtein("__sa", "__sb").alias("dist"))
        .filter(F.col("dist") <= d)
    )
    # dense cohort: every string within d of the short cut (see cohort
    # split above); limit-probe guarded; `least <= cut` keeps it disjoint
    # from the q-gram path
    dense_side = base.filter(F.col("__l") <= short_cut + d)
    n_dense = dense_side.limit(max_short + 1).count()
    if n_dense > max_short:
        raise ValueError(
            f"edit_distance_pairs: >{max_short} strings of length <= "
            f"{short_cut + d} — pairs involving them are verified densely; "
            "pre-slice them, raise q, or raise max_short deliberately"
        )
    if n_dense >= 2:
        sa = dense_side.select(
            F.col("__id").alias("id_a"), F.col("__s").alias("__sa"),
            F.col("__l").alias("__la"),
        )
        sb = dense_side.select(
            F.col("__id").alias("id_b"), F.col("__s").alias("__sb"),
            F.col("__l").alias("__lb"),
        )
        dense = (
            sa.join(F.broadcast(sb))
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("__la") - F.col("__lb")) <= d)
                & (F.least("__la", "__lb") <= short_cut)
            )
            .select("id_a", "id_b", F.levenshtein("__sa", "__sb").alias("dist"))
            .filter(F.col("dist") <= d)
        )
        verified = verified.unionByName(dense)
    return verified


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: ``|A∩B| / |A|`` — the
    subset-duplication detector symmetric Jaccard structurally misses
    (a document wholly quoted inside a much larger one has Jaccard
    ≈ |A|/|B| → 0 but containment 1.0; Broder's original resemblance/
    containment pair, and the reason extraction pipelines dedup chunks
    against full documents with containment, not Jaccard).

    Same inverted-shingle-index kernel and cost regime as
    ``ngram_jaccard_pairs`` (post-LSH or capped slices at 100 TB).
    Returns (doc_small, doc_big, common, containment): the SMALLER set is
    the contained side; ties by id. Only the small-in-big containment is
    reported (big-in-small is bounded above by it)."""
    arrs = _prepared(df, id_col, text_col, n)
    return _index_pairs(arrs, arrs, id_col, _CONTAINMENT, min_containment)


def ngram_containment_pairs_dense(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
    max_rows: int = 200_000,
    max_vocab: int = 4096,
    _corpus: _Corpus | None = None,
) -> DataFrame:
    """``ngram_containment_pairs`` via dense bitset intersection — the
    small-shingle-universe regime (``_dense_pair_blocks``: the same block
    BLAS kernel, guards and integral-id precondition as
    ``ngram_jaccard_pairs_dense``; only the score and orientation
    differ). Output contract matches the inverted index (doc_small,
    doc_big, common, containment), pytest-verified identical."""
    return _dense_pair_blocks(
        df, id_col, text_col, n, min_containment, max_rows, max_vocab,
        _CONTAINMENT, _corpus,
    )


def ngram_containment_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
    max_rows: int = 200_000,
    max_vocab: int = 4096,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """Containment with the same three regimes as
    ``ngram_jaccard_pairs_auto``: **driver** for a corpus within the
    postings cap whose prefix × full-postings work is within the work cap,
    else one ``_dense_admission`` frequency pass picking **dense** (small
    universe — every posting hot; the sf1 rehearsal measured the inverted
    index at 239× the sf0.1 wall on 10× docs of a ~1k-bigram universe) or
    **prefix** (Zipf universe at scale, any id type). The prepared corpus
    is handed to whichever strategy entry wins, so the frequency table
    that routed is the one the prefix kernel ranks by."""
    return _auto_pairs(
        df, id_col, text_col, n, _CONTAINMENT, min_containment, max_rows, max_vocab,
        _arrs,
    )


def ngram_containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
    _corpus: _Corpus | None = None,
) -> DataFrame:
    """``ngram_containment_pairs`` with prefix filtering adapted to the
    ASYMMETRIC containment constraint (``_prefix_pairs``): identical
    output, a fraction of the candidates (sf1 rehearsal finding: the plain
    inverted-index join ran 239× the sf0.1 wall at 10× the docs, because
    candidate pairs grow with Σ|posting|², not with output size).

    ``C(A,B) = |A∩B| / min(|A|,|B|) ≥ t`` forces the SMALLER set S to
    share ≥ ``ceil(t·|S|)`` elements with the other side, so S must hit it
    within its first ``|S| - ceil(t·|S|) + 1`` rarest shingles; those
    prefixes join the FULL posting index (not prefix × prefix as for
    Jaccard). Requires ``0 < min_containment <= 1``. ``_corpus`` is as
    for ``ngram_jaccard_pairs_prefix``.
    """
    return _prefix_pairs(
        df, id_col, text_col, n, _CONTAINMENT, min_containment, _corpus
    )
