"""Distributed BPE tokenizer training and encoding.

The one first-class training-data-pipeline operation the suite still
lacked: learning the tokenizer itself FROM the corpus (Sennrich et al.
2016, arXiv:1508.07909 — the algorithm behind GPT-2/RoBERTa vocabularies),
then encoding the corpus with it. The reference has nothing comparable
(its tokens are whitespace words); this is a north-star extension.

Scale decomposition — the part that matters at 100 TB:

  1. ``bpe_train`` touches the raw corpus exactly ONCE, to build the
     word-frequency table (one hash aggregate; the classic trick — BPE
     statistics only ever depend on (word, count), so 100 TB of text
     reduces to a |word-vocab|-sized table before any iteration starts).
  2. The merge loop runs over that small table: each round is one
     pair-count aggregate (explode adjacent symbol pairs weighted by word
     count → top-1 by (count desc, pair asc) — a deterministic argmax)
     plus a JVM fold that applies the merge to every word's symbol array.
     Collecting ONE row per round is the KMeans-shaped iterative-driver
     pattern, not a data collect. ``localCheckpoint`` truncates the
     lineage each round so 10 rounds do not nest 10 fold expressions.
  3. ``bpe_encode`` re-applies the learned rules to documents as pure JVM
     array expressions (one fold per rule) — zero Python in the encode
     path, so at scale it is a map-only stage fused into the scan.

Correctness: ``tests/test_tokenizer.py`` trains a pure-Python reference
BPE on the SAME corpus and asserts the learned merge sequence and encoded
outputs match exactly (greedy leftmost non-overlapping application, ties
broken lexicographically) — engine-vs-engine parity in the pytest gate,
rows-only in the driver gate (an iterative train loop has no single-query
SQL oracle; SURVEY.md §7 convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: end-of-word sentinel — keeps merges from crossing word boundaries and
#: distinguishes "t h e </w>" from the prefix "t h e" of "t h e m </w>".
EOW = "▁"

#: word separator: whitespace PLUS the EOW char itself. A corpus word
#: containing U+2581 (common in ML-adjacent text — tokenizer dumps, model
#: cards) would otherwise smuggle a fake word boundary into the symbol
#: stream, corrupting merges and the lossless-roundtrip property (r06
#: review). Treating it as a separator is exactly SentencePiece's own
#: convention (it REPLACES whitespace with U+2581), so text that already
#: contains it is pre-tokenized content whose boundaries we honor.
WORD_SEP = r"[\s▁]+"


def _merge_fold(arr_sql: str, a: str, b: str) -> str:
    """SQL expression applying merge rule (a, b) -> a||b to a symbol array
    via a greedy leftmost non-overlapping fold (the BPE application rule).

    The fold walks the array once, carrying the rebuilt prefix: when the
    last emitted symbol is ``a`` and the next is ``b`` they fuse; a fused
    symbol never re-fuses with what follows in the same pass (standard
    BPE: one rule = one pass)."""
    qa = a.replace("\\", "\\\\").replace("'", "\\'")
    qb = b.replace("\\", "\\\\").replace("'", "\\'")
    qm = (a + b).replace("\\", "\\\\").replace("'", "\\'")
    return (
        f"aggregate({arr_sql}, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = '{qa}' AND x = '{qb}' "
        # guard: the just-emitted 'a' must not itself be the product of
        # this rule having fused at the previous position when a == b
        # (the fold below re-checks raw equality only, which is exactly
        # the greedy non-overlap semantics: a fused 'aa' has value a||b
        # and no longer equals 'a' unless b is empty — impossible here)
        f", concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
        f", concat(acc, array(x))))"
    )


def word_symbol_table(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The ONE corpus-sized step: whitespace-word frequencies, each word
    pre-split into its initial character symbols plus the ``EOW`` marker.
    Everything after this operates on |vocab| rows."""
    words = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), WORD_SEP)).alias("word")
    ).filter(F.col("word") != "")
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    syms = F.expr(f"concat(split(word, ''), array('{EOW}'))")
    return wc.select("word", "wc", syms.alias("syms"))


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
    )
    return (
        words.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "wc")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").alias("pair_count"))
    )


def _driver_merge_loop(
    words: list[tuple[list[str], int]], num_merges: int
) -> list[tuple[str, str, int]]:
    """The merge loop over an in-memory word table — IDENTICAL semantics
    to the distributed loop (argmax by count DESC then pair ASC; greedy
    leftmost non-overlapping application, a fused symbol never re-fuses
    in the same pass), pytest-verified equal."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wc
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        for i, (syms, wc) in enumerate(words):
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[i] = (out, wc)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    max_driver_vocab: int = 100_000,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merge rules from the corpus. Returns the
    ordered rule list ``[(a, b, pair_count), ...]`` — the tokenizer
    artifact a training pipeline persists alongside the data.

    Deterministic: the argmax pair each round is (count DESC, a ASC,
    b ASC) — no RNG, no partition-order dependence (counts are exact).

    Routed like ``ext.dedup.set_similarity_pairs``: the corpus pass always
    reduces to the (word, count, symbols) table first; when that table is
    ≤ ``max_driver_vocab`` rows (one fetch of at most
    ``max_driver_vocab + 1`` rows decides it, never a full count) the
    merge loop runs DRIVER-SIDE over the fetched table — the
    bounded-artifact class (every practical BPE trainer holds word counts
    in memory; 100k words ≈ a few MB), and measured ~8× faster than
    paying a scheduled round per merge. Larger vocabularies fall back to
    the distributed loop: one pair aggregate + one JVM fold per round,
    lineage checkpoint-truncated."""
    # the word table is |vocab|-sized, not corpus-sized: a handful of
    # partitions keeps every merge round a short single-stage job instead
    # of 32 near-empty tasks per round. Dropped checkpoint generations are
    # reclaimed by Spark's ContextCleaner once the DataFrame is dropped
    # (DataFrame.unpersist would be a no-op on localCheckpoint blocks).
    words = (
        word_symbol_table(df, text_col).coalesce(4).localCheckpoint(eager=True)
    )
    # one bounded fetch decides the route: at most one row past the cap
    fetched = words.select("syms", "wc").limit(max_driver_vocab + 1).collect()
    if len(fetched) <= max_driver_vocab:
        table = [(list(r["syms"]), int(r["wc"])) for r in fetched]
        return _driver_merge_loop(table, num_merges)
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
        merges.append((a, b, cnt))
        words = words.withColumn(
            "syms", F.expr(_merge_fold("syms", a, b))
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode documents with learned merge rules — pure JVM expressions
    (one greedy fold per rule applied to every word's symbol array), no
    Python in the path. Adds ``out_col`` (array<string> of subword tokens,
    word-end marked by ``EOW``) and ``n_bpe_tokens``."""
    inner = f"concat(split(w, ''), array('{EOW}'))"
    for rule in merges:
        inner = _merge_fold(inner, rule[0], rule[1])
    encode = (
        f"flatten(transform("
        f"filter(split(trim({text_col}), '[\\\\s▁]+'), w -> w != ''), "
        f"w -> {inner}))"
    )
    # NULL text → NULL tokens → NULL count: F.size(NULL) is -1 under the
    # legacy default, which would subtract from token-count SUMs (r06
    # review); NULL counts are skipped by aggregates, which is the honest
    # behavior for a row with no text
    n = F.when(F.col(out_col).isNull(), F.lit(None)).otherwise(F.size(out_col))
    return df.withColumn(out_col, F.expr(encode)).withColumn("n_bpe_tokens", n)


def merges_as_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The learned rules as a DataFrame artifact: (rank, left, right,
    merged, pair_count) — what a pipeline writes next to the corpus."""
    rows = [
        (i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)
    ]
    from ..session import local_rows_df

    return local_rows_df(
        spark, rows, "rank int, left string, right string, merged string, pair_count long"
    )


def bpe_encode_by_dict(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Dictionary-encoded BPE: apply the merge folds to each DISTINCT word
    ONCE (a vocab-sized frame — the same reduction ``bpe_train`` exploits:
    encoding is a pure function of the word), then broadcast-join the
    word→tokens dictionary back onto the exploded corpus and reassemble
    per document in original order (posexplode + array_sort on position).

    Identical output to ``bpe_encode`` (pytest-asserted) at a fraction of
    the cost: Spark's higher-order-function folds are interpreted, so
    paying them per corpus occurrence is ~10× slower than per distinct
    word (measured 14.2s → ~2s at sf0.1). At 100 TB the dictionary is the
    word vocabulary — broadcastable for natural-language corpora, but web
    text (URLs, typos, ids) can push distinct "words" past 10⁸, so the
    join carries NO broadcast hint (r10): AQE broadcasts the dictionary
    whenever it fits and falls back to a shuffle join when the vocabulary
    explodes, instead of a forced-broadcast OOM."""
    inner = f"concat(split(word, ''), array('{EOW}'))"
    for rule in merges:
        inner = _merge_fold(inner, rule[0], rule[1])
    words = (
        df.select(
            F.explode(F.split(F.trim(F.col(text_col)), WORD_SEP)).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .withColumn("__toks", F.expr(inner))
    )
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), WORD_SEP)).alias(
            "__pos", "word"
        ),
    ).filter(F.col("word") != "")
    assembled = (
        exploded.join(words, "word")
        .groupBy(id_col)
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(__pos, __toks))),"
                " s -> s.__toks))"
            ).alias(out_col)
        )
        .withColumn("n_bpe_tokens", F.size(out_col))
    )
    # contract parity with bpe_encode (r06 review): ALL original columns
    # pass through (a pipeline swapping encoders must not lose labels/
    # metadata); empty/whitespace docs get an empty token array; NULL text
    # gets NULL tokens (bpe_encode's expression propagates the NULL), and
    # n_bpe_tokens is recomputed as size(out_col) so both encoders agree
    # on every row class.
    tokens = F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
        F.coalesce(F.col(out_col), F.expr("CAST(array() AS ARRAY<STRING>)"))
    )
    return (
        df.join(assembled.select(id_col, out_col), id_col, "left")
        .withColumn(out_col, tokens)
        .withColumn(
            "n_bpe_tokens",
            F.when(F.col(out_col).isNull(), F.lit(None)).otherwise(
                F.size(out_col)
            ),
        )
    )
