"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json). Three tiers:

  * ``cosine_topk`` — exact top-k: one numpy block kernel (float64
    ``E @ Qᵀ / (‖E‖·‖Q‖)``, per-query top-k) at two placements. A bounded
    query side and a corpus within the driver cap run in-process after one
    Arrow fetch each; a larger corpus runs the kernel per Arrow batch in
    ``mapInArrow`` and ``_rank_topk`` finishes. The correctness baseline
    the ANN tiers are measured against.
  * ``brp_lsh_ann`` — MLlib BucketedRandomProjectionLSH approximate NN
    between a query set and the corpus (hash once, bucket-join, refine).
  * ``ivf_topk`` — inverted-file ANN: KMeans centroids (seeded), probe the
    ``nprobe`` nearest centroids only — corpus is bucketed by centroid so the
    scan touches ~nprobe/k of the data. The classic FAISS-IVF shape on
    DataFrames. ``build_ivfpq_index`` adds PQ codes per cell; plain PQ is
    its one-cell case.

The ANN tiers score their candidates with ``_cosine`` (the SQL
``dot/(|a||b|)`` expression) and rank with ``_rank_topk``; the exact
kernel ranks the same way in numpy, so every tier shares one score and
one tie-break contract: round(cosine, 9) DESC, then id.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..report import record
from ..session import local_rows_df

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
#: {a} scaled to unit length; the floor keeps a zero vector at zero
#: instead of dividing by zero. The one-element outer ``transform`` binds
#: the norm once per row: written inside the element lambda, Spark would
#: re-run the interpreted norm aggregate per element, O(d²) per row.
UNIT = (
    f"transform(array(greatest({NORM}, 1e-30D)), "
    f"n -> transform({{a}}, x -> CAST(x AS DOUBLE) / n))[0]"
)


def _cosine(a: str, b: str):
    """``dot(a, b) / (|a|·|b|)`` over two array columns. A zero-norm side
    gives NULL (``try_divide``), as DuckDB's ``0.0/0.0`` does, instead of
    an ANSI divide-by-zero error; NULL ranks last under ``_rank_topk``."""
    return F.try_divide(
        F.expr(DOT.format(a=a, b=b)),
        F.expr(NORM.format(a=a)) * F.expr(NORM.format(a=b)),
    )


def _rank_topk(pairs: DataFrame, k: int, cols: list[str]) -> DataFrame:
    """Per-``qid`` top-``k`` of ``pairs`` by ``cos_raw``: ranked on the
    9-dp-rounded score with ``nid`` tie-break, so results are deterministic
    across engines and runs. Returns ``cols`` + (cosine@6dp, rk). The
    ``row_number ≤ k`` filter plans as ``WindowGroupLimit``."""
    w = Window.partitionBy("qid").orderBy(F.round(F.col("cos_raw"), 9).desc(), F.col("nid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*cols, F.round("cos_raw", 6).alias("cosine"), "rk")
    )


# ---------------------------------------------------------------------------
# The exact cosine kernel. Vectors arrive as Arrow list columns and become
# float64 matrices (``_vec_matrix``); one block of scores is one BLAS
# matmul, ranked per query in numpy exactly as Spark ranks ``cos_raw``.
# ---------------------------------------------------------------------------

#: The exact top-k's placement rule (``_exact_topk``). A corpus of at most
#: _TOPK_DRIVER_MAX_VALUES vector elements (rows × the query dimension)
#: runs in-process; a larger one runs per Arrow batch in ``mapInArrow``.
#: The cap is the measured crossover (local[4], 64-d float32 parquet, 20
#: queries, k = 5, min of 3): in-process 0.37 / 0.73 / 0.85 / 1.23 /
#: 1.41 s against mapInArrow 0.61 / 0.86 / 0.94 / 1.00 / 0.94 s at 10k /
#: 50k / 100k / 150k / 200k rows, so 100k rows of 64-d. The driver's
#: memory bound is further out: its RSS grows 28-33 B per element (the
#: Arrow fetch plus the float64 matrix), ~200 MB at the cap.
#: A cap of 0 sends every corpus to ``mapInArrow`` (tests pin the route
#: that way). The query side is held by the driver and shipped to every
#: task whatever the placement; past _TOPK_MAX_QUERIES rows it raises. At
#: 10k queries a 10k-row Arrow batch already emits k candidate rows per
#: row it reads, so a larger query side is no longer the small side.
_TOPK_DRIVER_MAX_VALUES = 6_400_000
_TOPK_MAX_QUERIES = 10_000
#: (query, corpus) cells per score block: 32 MiB of float64 scores
_BLOCK_CELLS = 1 << 22
#: rank keys of a NULL score (below every number) and of no pair at all
_NULL_KEY = -1e300
_NO_PAIR = float("-inf")


def _vec_lengths(vecs):
    """Per row of an Arrow list column: its length, or -1 for a NULL vector
    or one that holds a NULL element (either scores NULL against every
    vector)."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy().astype(np.int64)
    child = vecs.values
    if child.null_count:
        offs = vecs.offsets.to_numpy()
        seen = np.concatenate([[0], np.cumsum(child.is_null().to_numpy(zero_copy_only=False))])
        lens[seen[offs[1:]] != seen[offs[:-1]]] = -1
    return lens


def _vec_matrix(vecs, dim: int, lens):
    """An Arrow list<float|double> column as a float64 (rows, ``dim``)
    matrix; float32 elements widen exactly. A row that is not a whole
    ``dim``-vector (its ``lens``, from ``_vec_lengths``, ≠ ``dim``) is all
    zeros, so its
    norm is 0 and every cosine with it is NULL: the SQL formula's answer
    for a NULL vector, a NULL element, or a length mismatch (``zip_with``
    pads the shorter side with NULLs)."""
    import numpy as np

    n, offs = len(vecs), vecs.offsets.to_numpy()
    whole = lens == dim
    if whole.all():
        # every row a whole dim-vector: the elements are one contiguous run
        flat = vecs.values.slice(offs[0], n * dim).to_numpy(zero_copy_only=False)
        return flat.astype(np.float64).reshape(n, dim)
    M = np.zeros((n, dim))
    rows = np.flatnonzero(whole)
    if len(rows) and dim:
        vals = vecs.values.to_numpy(zero_copy_only=False)
        M[rows] = vals[offs[rows, None] + np.arange(dim)]
    return M


def _norms(M):
    import numpy as np

    return np.sqrt(np.einsum("ij,ij->i", M, M))


class _QuerySide(NamedTuple):
    """Fetched query vectors as the kernel reads them: ids and labels
    (Arrow arrays, ``labels`` None without a label column) and, per vector
    length, (length, query rows, float64 matrix, norms)."""

    ids: object
    labels: object
    groups: list


def _query_side(tab, id_col: str, vec_col: str, label_col: str | None) -> _QuerySide:
    import numpy as np

    vecs = tab.column(vec_col).combine_chunks()
    lens = _vec_lengths(vecs)
    groups = []
    for dim in np.unique(lens[lens >= 0]).tolist():
        rows = np.flatnonzero(lens == dim)
        Q = _vec_matrix(vecs, dim, lens)[rows]
        groups.append((dim, rows, Q, _norms(Q)))
    labels = tab.column(label_col).combine_chunks() if label_col else None
    return _QuerySide(tab.column(id_col).combine_chunks(), labels, groups)


def _rank_key(cos, null):
    """The key Spark sorts ``round(cos, 9) DESC`` by, as floats to sort
    descending: the score in whole units of 1e-9, NaN above every number
    (Spark orders NaN greatest) and NULL below every number.

    Spark rounds the double's shortest decimal HALF_UP. Away from a half
    the binary ``|cos|·1e9`` rounds the same way; within 1e-6 of one
    (a few scores in a million) the decimal itself decides."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    with np.errstate(invalid="ignore"):
        y = np.abs(cos) * 1e9
        key = np.copysign(np.floor(y + 0.5), cos)
        near = np.abs(y - np.floor(y) - 0.5) < 1e-6
    for i in np.flatnonzero(near):
        d = Decimal(repr(float(cos[i]))).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        key[i] = float(d.scaleb(9))
    key[np.isnan(cos)] = np.inf
    key[null] = _NULL_KEY
    return key


def _candidates(cos, null, gone, k: int):
    """(row, column) of the block entries that can be in their row's top
    ``k``. Rounding to 9 dp moves a score by at most half of 1e-9, so
    every score within 2e-9 of the row's k-th largest is kept, ties
    included; NaN counts above every number and NULL below. ``gone``
    marks the entries that are no pair at all."""
    import numpy as np

    raw = np.where(np.isnan(cos), np.inf, cos)
    raw[null] = _NULL_KEY
    raw[gone] = _NO_PAIR
    keep = raw > _NO_PAIR
    n = raw.shape[1]
    if n > k:
        keep &= raw >= np.partition(raw, n - k, axis=1)[:, n - k, None] - 2e-9
    return np.nonzero(keep)


def _keep_topk(qi, key, ids, k: int):
    """Positions of each query's first ``k`` candidates by (key DESC, id)
    and their ranks from 1, grouped by query row ``qi``."""
    import numpy as np

    _, id_rank = np.unique(ids, return_inverse=True)
    order = np.lexsort((id_rank, -key, qi))
    q = qi[order]
    rk = np.arange(len(q)) - np.searchsorted(q, q)
    return order[rk < k], rk[rk < k] + 1


def _topk_kernel(qs: _QuerySide, c_ids, c_vecs, c_labels, k: int):
    """Each query's top-``k`` corpus rows: (query row, corpus row, cosine,
    NULL mask, rank) arrays, ranked by round(cosine, 9) DESC, then id.

    Scores are float64 ``q·e / (‖q‖·‖e‖)``; a zero denominator is NULL
    (``try_divide``), as are all the rows ``_vec_matrix`` zeroes. A pair
    with equal ids, and with ``c_labels`` a pair whose labels are equal or
    NULL, is no pair at all. The corpus is scored in blocks of
    ``_BLOCK_CELLS`` and each block's candidates merge into the running
    top-k, so memory is bounded by the block, not the corpus."""
    import numpy as np

    nq = len(qs.ids)
    n = len(c_ids) if nq and k >= 1 else 0
    nids = c_ids.to_numpy(zero_copy_only=False)
    qids = qs.ids.to_numpy(zero_copy_only=False)
    lens = _vec_lengths(c_vecs)
    mats = {}
    for dim, *_ in qs.groups:
        M = _vec_matrix(c_vecs, dim, lens)
        mats[dim] = (M, _norms(M))
    if c_labels is not None:
        ql = qs.labels.to_numpy(zero_copy_only=False)
        q_ok = qs.labels.is_valid().to_numpy(zero_copy_only=False)
        nl = c_labels.to_numpy(zero_copy_only=False)
        n_ok = c_labels.is_valid().to_numpy(zero_copy_only=False)
    best = (np.zeros(0, np.int64),) * 2 + (np.zeros(0), np.zeros(0), np.zeros(0, bool))
    rk = np.zeros(0, np.int64)
    step = max(1, _BLOCK_CELLS // max(nq, 1))
    for lo in range(0, n, step):
        hi = min(n, lo + step)
        cos = np.full((nq, hi - lo), np.nan)
        null = np.ones((nq, hi - lo), dtype=bool)
        with np.errstate(invalid="ignore", divide="ignore"):
            for dim, rows, Q, qn in qs.groups:
                M, cn = mats[dim]
                den = qn[:, None] * cn[None, lo:hi]
                cos[rows] = (Q @ M[lo:hi].T) / den
                null[rows] = den == 0
        gone = qids[:, None] == nids[None, lo:hi]
        if c_labels is not None:
            gone |= ~((ql[:, None] != nl[None, lo:hi]) & q_ok[:, None] & n_ok[None, lo:hi])
        qi, cj = _candidates(cos, null, gone, k)
        cos, null = cos[qi, cj], null[qi, cj]
        block = (qi, cj + lo, _rank_key(cos, null), cos, null)
        cand = [np.concatenate(p) for p in zip(best, block)]
        sel, rk = _keep_topk(cand[0], cand[2], nids[cand[1]], k)
        best = tuple(a[sel] for a in cand)
    qi, ci, _, cos, null = best
    return qi, ci, cos, null, rk


def _exact_topk(
    op: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """``_topk_kernel`` at its placement: (qid, [q_label,] nid, [n_label,]
    cosine, rk), ids and labels in their own types, ``cosine`` Spark's
    HALF_UP ``round(cos, 6)`` and ``rk`` an INT from 1.

    One Arrow fetch takes the query side (NULL ids dropped; past
    ``_TOPK_MAX_QUERIES`` rows it raises), a second the corpus, at most one
    row past its cap. A corpus within the cap is scored in-process and the
    result is a local relation: two Spark jobs, no join, no exchange. Past
    the cap each Arrow batch of the corpus keeps its own per-query top-k
    in ``mapInArrow``; every global top-k row is in its batch's top-k, so
    ``_rank_topk`` over the union is exact. Either way the route is
    reported through ``report.record``."""
    import pyarrow as pa
    from pyspark.sql import types as T

    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    q = queries.select(*cols).filter(F.col(id_col).isNotNull())
    q_tab = q.limit(_TOPK_MAX_QUERIES + 1).toArrow()
    if q_tab.num_rows > _TOPK_MAX_QUERIES:
        raise ValueError(
            f"{op}: the query side exceeds _TOPK_MAX_QUERIES="
            f"{_TOPK_MAX_QUERIES} rows; the driver holds it and ships it to "
            f"every task. Split the queries into batches, or search an IVF "
            f"index (build_ivf_index/ivf_search)"
        )
    qs = _query_side(q_tab, id_col, vec_col, label_col)
    c = corpus.select(*cols).filter(F.col(id_col).isNotNull())
    cap = _TOPK_DRIVER_MAX_VALUES // max([g[0] for g in qs.groups] + [1])
    c_tab = c.limit(cap + 1).toArrow()
    in_process = c_tab.num_rows <= cap
    record(
        op,
        "in_process" if in_process else "map_in_arrow",
        corpus=(c_tab.num_rows, cap),
        queries=(q_tab.num_rows, _TOPK_MAX_QUERIES),
    )

    out = [("qid", q, id_col)] + ([("q_label", q, label_col)] if label_col else [])
    out += [("nid", c, id_col)] + ([("n_label", c, label_col)] if label_col else [])
    names = [name for name, _, _ in out]
    fields = [T.StructField(name, side.schema[src].dataType) for name, side, src in out]
    fields.append(T.StructField("cos_raw", T.DoubleType()))

    def pairs(ids, vecs, labels=None):
        qi, ci, cos, null, rk = _topk_kernel(qs, ids, vecs, labels, k)
        arrays = [qs.ids.take(qi)] + ([qs.labels.take(qi)] if label_col else [])
        arrays += [ids.take(ci)] + ([labels.take(ci)] if label_col else [])
        return arrays + [pa.array(cos, mask=null)], rk

    if not in_process:
        def score(batches):
            for b in batches:
                arrays, _ = pairs(*b.columns)
                yield pa.RecordBatch.from_arrays(arrays, names=names + ["cos_raw"])

        return _rank_topk(c.mapInArrow(score, T.StructType(fields)), k, names)
    arrays, rk = pairs(*(col.combine_chunks() for col in c_tab.columns))
    local = corpus.sparkSession.createDataFrame(
        pa.Table.from_arrays(
            arrays + [pa.array(rk, pa.int32())], names=names + ["cos_raw", "rk"]
        ),
        T.StructType(fields + [T.StructField("rk", T.IntegerType())]),
    )
    return local.select(*names, F.round("cos_raw", 6).alias("cosine"), "rk")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (qid, nid, cosine, rk). The query side must be bounded (see
    ``_exact_topk`` for the placements). Ranking uses round(cosine, 9)
    with id tie-break so results are deterministic across engines and
    runs; a zero, NULL or differently sized vector scores NULL and ranks
    last, and a query never ranks itself."""
    return _exact_topk("cosine_topk", corpus, queries, k, id_col, vec_col)


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

    Same contract and placements as ``cosine_topk``. The label mismatch
    decides which pairs exist before any ranking, so a query ranks only
    negative candidates. Rows with a NULL label (unlabeled) are never
    negatives, on either side — the safe default for mined training pairs.

    At corpus scale, route candidate generation through ``ivf_search`` /
    ``brp_lsh_ann`` with an over-fetch factor and apply the same
    label-mismatch filter + exact re-rank to the candidates; this exact
    operator is the bounded-|Q| path and the recall oracle."""
    return _exact_topk(
        "hard_negatives_topk", corpus, queries, k, id_col, vec_col, label_col
    )


#: ``cosine_allpairs`` refuses corpora larger than this (driver-collect +
#: broadcast matrix ≈ 8 B × rows × dim; 200k × 128-d ≈ 200 MB — the upper
#: end of what a driver/executor broadcast should carry). The unbounded
#: exact path is ``cosine_allpairs_blocked`` (no collect).
ALLPAIRS_MAX_ROWS = 200_000


def _pairs_above(a_ids, A, b_ids, B, min_cosine, round_digits, ordered):
    """The exact all-pairs kernel: one BLAS matmul of row blocks ``A`` × ``B``
    and the ``round(cosine, 9) >= min_cosine`` decision of the SQL oracle.
    ``ordered`` keeps only ``a_id < b_id`` (both sides hold the same rows);
    otherwise each hit is written with the smaller id first. Ids may be any
    numpy-comparable type (int64 or object strings)."""
    import numpy as np
    import pandas as pd

    # a zero-norm row scores NaN, which never passes the threshold (SQL
    # drops its NULL score the same way)
    with np.errstate(invalid="ignore", divide="ignore"):
        C = (A @ B.T) / (
            np.linalg.norm(A, axis=1)[:, None] * np.linalg.norm(B, axis=1)[None, :]
        )
    mask = np.round(C, 9) >= min_cosine
    if ordered:
        mask &= a_ids[:, None] < b_ids[None, :]
    ai, bi = np.nonzero(mask)
    ida, idb = a_ids[ai], b_ids[bi]
    return pd.DataFrame(
        {
            "id_a": np.minimum(ida, idb),
            "id_b": np.maximum(ida, idb),
            "cosine": np.round(C[ai, bi], round_digits),
        }
    )


def _pairs_schema(corpus: DataFrame, id_col: str):
    """(id_a, id_b, cosine) with the ids in ``id_col``'s own type."""
    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType
    return T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )


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
    exact all-pairs computation) and each partition computes a
    (batch × corpus) matmul in one BLAS call.

    Guarded: a corpus over ``max_rows`` raises ``ValueError`` instead of
    OOMing the driver — at that size use ``cosine_allpairs_blocked``.

    Returns (id_a, id_b, cosine) with id_a < id_b in the id column's own
    type, matching the ``dot/(|a||b|)`` formula bit-for-bit within
    round_digits. Rows with a NULL id never pair (as ``a.id < b.id`` drops
    them in SQL). The vectors must share one length, else it raises.
    """
    import numpy as np

    corpus = corpus.select(id_col, vec_col).filter(F.col(id_col).isNotNull())
    # one bounded fetch is both the guard and the driver matrix: the limit
    # stops the scan after max_rows+1 rows — O(max_rows) even on a 100 TB
    # corpus — and a fetch within the cap is the whole corpus
    tab = corpus.limit(max_rows + 1).toArrow()
    fits = tab.num_rows <= max_rows
    record(
        "cosine_allpairs",
        "broadcast" if fits else "refused",
        corpus=(tab.num_rows, max_rows),
    )
    if not fits:
        raise ValueError(
            f"cosine_allpairs: corpus exceeds max_rows={max_rows} "
            f"(driver-collect + broadcast matrix would not fit); use "
            f"cosine_allpairs_blocked (distributed exact, no collect) or "
            f"semantic_dedup / the IVF index family for corpora this size"
        )

    vecs = tab.column(vec_col).combine_chunks()
    lens = _vec_lengths(vecs)
    dims = np.unique(lens[lens >= 0]).tolist()
    if len(dims) > 1:
        raise ValueError(
            f"cosine_allpairs: the corpus holds vectors of {len(dims)} "
            f"lengths ({dims[:4]}…); the matrix kernel needs one"
        )
    M = _vec_matrix(vecs, dims[0] if dims else 0, lens)
    ids = tab.column(id_col).combine_chunks().to_numpy(zero_copy_only=False)
    bc = corpus.sparkSession.sparkContext.broadcast((ids, M))

    def gen(batches):
        ids_b, Mb = bc.value
        for pdf in batches:
            A = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield _pairs_above(
                pdf[id_col].to_numpy(), A, ids_b, Mb, min_cosine, round_digits, True
            )

    return corpus.mapInPandas(gen, _pairs_schema(corpus, id_col))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    exact_cutover_docs: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine@6dp)
    for every pair with cosine ≥ ``min_cosine``, ids in their own type.

    Up to ``exact_cutover_docs`` vectors (limit-probe) this is the exact
    blocked BLAS matmul (``cosine_allpairs_blocked``): distributed, no
    collect. Above the cutover it raises: the exact path's work is
    quadratic, and Spark's BRP-LSH is no way out — one random projection
    per table leaves ~0.48 of all pairs colliding per table at d=64
    (``brp_bucket_occupancy``), so its self-join enumerates about half of
    all pairs through a per-pair UDF (~1900 s against 2.8 s for the exact
    matmul at 20k vectors). Corpora that size belong to ``semantic_dedup``
    (KMeans-cell bucketed exact) or ``build_ivf_index``/``ivf_search``."""
    probed = df.select(id_col).limit(exact_cutover_docs + 1).count()
    if probed > exact_cutover_docs:
        raise ValueError(
            f"embedding_neardup_pairs: corpus exceeds "
            f"exact_cutover_docs={exact_cutover_docs}, past the exact "
            f"all-pairs flops budget. For corpora this size use "
            f"semantic_dedup (KMeans-cell bucketed exact near-dup) or "
            f"build_ivf_index/ivf_search (partition-pruned ANN)."
        )
    return cosine_allpairs_blocked(df, min_cosine, id_col=id_col, vec_col=vec_col)


def _unit_features(df: DataFrame, id_col: str, vec_col: str, id_alias: str) -> DataFrame:
    """(id_alias, features): ``vec_col`` as a unit-length ml Vector, the BRP
    input — Euclidean distance between unit vectors orders by cosine."""
    from pyspark.ml.functions import array_to_vector

    return df.select(
        F.col(id_col).alias(id_alias),
        array_to_vector(F.expr(UNIT.format(a=vec_col))).alias("features"),
    )


def _brp_model(feat: DataFrame, bucket_length: float, num_hash_tables: int, seed: int = 42):
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    return BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feat)


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

    A degenerate geometry is SILENT otherwise: a ``bucketLength`` near 4σ
    of a unit vector's 1/√d projection spread (0.5 at d=64) collapses every
    table to essentially one bucket, which makes ``approxSimilarityJoin``
    an in-bucket cross join — recall looks perfect precisely because the
    join is exhaustive. This surface makes that a loud, assertable
    property (see ``test_brp_bucket_occupancy_guards_geometry``, which
    guards ``brp_lsh_ann``'s geometry): a healthy geometry keeps
    ``n_buckets`` well above 1 and ``collision_frac`` ≪ 1 per table.
    Cost: one LSH fit + transform + two bounded aggs — run it at a gate SF
    whenever the geometry, seed, or embedding dimension changes."""
    from pyspark.ml.functions import vector_to_array

    feat = _unit_features(df, id_col, vec_col, id_col)
    buckets = (
        _brp_model(feat, bucket_length, num_hash_tables, seed)
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

    Bucket geometry is calibrated to the projection spread of unit
    vectors (std ≈ 1/√d): 0.25-wide buckets with 6 OR-tables measure
    recall 0.980 avg / 0.800 min at the sf0.01 gate while keeping
    per-table buckets cluster-sized, so the candidate join stays
    output-proportional on dense corpora."""
    feat_c = _unit_features(corpus, id_col, vec_col, "nid")
    feat_q = _unit_features(queries, id_col, vec_col, "qid")
    model = _brp_model(feat_c, 0.25, 6)
    joined = model.approxSimilarityJoin(feat_q, feat_c, 2.0, distCol="dist")
    # unit vectors: |a − b|² = 2 − 2·cos(a, b)
    pairs = joined.select(
        F.col("datasetA.qid").alias("qid"),
        F.col("datasetB.nid").alias("nid"),
        (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cos_raw"),
    ).filter(F.col("qid") != F.col("nid"))
    return _rank_topk(pairs, k, ["qid", "nid"])


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
    qc = q.join(F.broadcast(centers_df)).select(
        "qid", "qe", "centroid", _cosine("qe", "cvec").alias("ccos")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("centroid"))
    probes = qc.withColumn("prk", F.row_number().over(wq)).filter(F.col("prk") <= nprobe)

    # bounded collect: the probed-cell union can never exceed n_centroids
    # ids, independent of corpus or query-batch size
    probed_cells = [r[0] for r in probes.select("centroid").distinct().collect()]
    assigned = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("centroid").isin(probed_cells)
    )

    pairs = (
        probes.join(assigned, on="centroid")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _cosine("qe", "ne").alias("cos_raw"))
    )
    return _rank_topk(pairs, k, ["qid", "nid"])


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
        .withColumnRenamed("cosine", "cos_raw")
    )
    return _rank_topk(filt, k, ["qid", "q_label", "nid", "n_label"])


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
    compute is inherent to EXACT all-pairs (``semantic_dedup`` and the
    IVF family are the approximate, cell-bucketed paths); this shape just
    makes it embarrassingly parallel: B²/2 independent matmul tasks, no
    task ever sees more than two blocks.

    Decision rule (round to 9 dp, then compare), output schema (id_a <
    id_b in the id column's own type, cosine rounded to
    ``round_digits``) and NULL-id handling are identical to
    ``cosine_allpairs`` and its SQL oracle.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    block_pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]

    # one lineage, role-tagged self-UNION (same shape as
    # ext.dedup._dense_pairs): the corpus subtree runs once and the
    # union needs one grouped exchange; the block function splits roles
    tagged = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .filter(F.col("id").isNotNull())
        .withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int"))
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
    out_schema = _pairs_schema(corpus, id_col)

    def block_matmul(key, pdf):
        ba, bb = key
        a_pdf = pdf[pdf["role"] == 0]
        b_pdf = pdf[pdf["role"] == 1]
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame(columns=out_schema.names)
        # within-block pairs would otherwise appear twice (and self-pairs
        # once); id ordering picks each unordered pair exactly once
        return _pairs_above(
            a_pdf["id"].to_numpy(),
            np.array(a_pdf["vec"].tolist(), dtype=np.float64),
            b_pdf["id"].to_numpy(),
            np.array(b_pdf["vec"].tolist(), dtype=np.float64),
            min_cosine,
            round_digits,
            ba == bb,
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
#
# IVF-PQ is the production composition (FAISS IndexIVFPQ): the inner
# product decomposes exactly, <q, x> = <q, centroid> + <q, residual>, so
# ADC scores the residual codes and adds the cell bias. Plain PQ is its
# one-cell case: a single zero centroid makes the residual the vector
# itself and the bias 0, so both share one trainer, encoder and scorer.
# ---------------------------------------------------------------------------

#: Lloyd iterations per PQ sub-space codebook
_PQ_ITERS = 10


def _pq_kmeans(x, k: int, seed: int):
    """Deterministic Lloyd k-means for one PQ sub-space, run on the
    driver over a BOUNDED training sample (the FAISS practice: codebooks
    train on a sample, never the corpus). Seeded init, fixed iteration
    count, empty cells keep their previous centroid — bit-reproducible
    for a given sample."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=k, replace=len(x) < k)].copy()
    for _ in range(_PQ_ITERS):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _build_ivfpq(
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int | None,
    m: int,
    k: int,
    id_col: str,
    vec_col: str,
    seed: int,
    train_rows: int,
) -> None:
    """Shared body of ``build_ivfpq_index`` and ``build_pq_index``;
    ``n_centroids=None`` writes the single zero centroid of plain PQ and
    fits no KMeans."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d_probe = len(corpus.select(F.col(vec_col).alias("e")).first()["e"])
    if d_probe % m:
        raise ValueError(f"m={m} must divide embedding dim {d_probe}")
    dsub = d_probe // m

    feat = corpus.select(
        F.col(id_col).alias("nid"), F.expr(UNIT.format(a=vec_col)).alias("ne")
    )
    if n_centroids is None:
        centers = np.zeros((1, d_probe))
        assigned = feat.withColumn("centroid", F.lit(0))
    else:
        feat = feat.withColumn("features", array_to_vector("ne"))
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=5,
            featuresCol="features", predictionCol="centroid",
        ).fit(feat)
        centers = np.array([list(c) for c in model.clusterCenters()])
        assigned = model.transform(feat).select("nid", "ne", "centroid")

    sample = assigned.orderBy("nid").limit(train_rows).select("ne", "centroid").toPandas()
    res = np.array(sample["ne"].tolist()) - centers[sample["centroid"].to_numpy()]
    books = np.stack(
        [_pq_kmeans(res[:, j * dsub : (j + 1) * dsub], k, seed + j) for j in range(m)]
    )  # (m, k, dsub)

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


def build_pq_index(
    corpus: DataFrame,
    index_dir: str,
    m: int = 16,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 2048,
) -> None:
    """Build a persistent PQ index — the one-cell IVF-PQ index (one zero
    centroid, no KMeans fit):

    * ``{index_dir}/codebooks`` — m·k rows (subspace, code, cvec), trained
      by driver-side Lloyd over a deterministic bounded sample
      (``ORDER BY id LIMIT train_rows`` — sample size is a config constant,
      never corpus-sized; same legitimacy class as ``pca_fit``'s d²
      collect);
    * ``{index_dir}/codes`` — one (nid, codes array<m small ints>) row per
      corpus vector, encoded DISTRIBUTED via an Arrow ``mapInPandas`` pass
      (vectorized argmin per sub-space), under the single ``centroid=0``
      partition;
    * ``{index_dir}/centroids`` — the one zero centroid.

    Vectors are L2-normalized before coding so ADC inner products rank by
    cosine. At 100 TB the corpus pass happens once; the scan a query pays
    afterward is m small ints per vector — a 16× I/O reduction at d=64.
    """
    _build_ivfpq(corpus, index_dir, None, m, k, id_col, vec_col, seed, train_rows)


def pq_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over a PQ index built by ``build_pq_index``: the
    one-cell ``ivfpq_search`` (``nprobe=1``, cell bias 0). Each query
    precomputes an m×k table of sub-space inner products against the
    codebooks, then every corpus CODE row scores as m table lookups — no
    float vectors are ever read at search time. Returns
    (qid, nid, score_adc, rank)."""
    return ivfpq_search(spark, index_dir, queries, topk, 1, id_col, vec_col)


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
      * ``{index_dir}/codebooks`` — m·k (subspace, code, cvec) rows,
      * ``{index_dir}/codes`` — (nid, codes) parquet PARTITIONED BY
        centroid, so a probe scan is partition-pruned AND reads m bytes
        per vector instead of d floats — both scale levers at once.
    """
    _build_ivfpq(
        corpus, index_dir, n_centroids, m, k, id_col, vec_col, seed, train_rows
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
    quantized) with per-partition pre-top-k, so the exchange carries
    ≤ partitions × |queries| × topk candidate rows; one window rank
    finishes the global top-k. Returns (qid, nid, score_adc, rank)."""
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
    # tables[q, j, c] = <q_j, codebook[j][c]>
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
