"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, another seed gives other inputs of the same shape and
size. The engine only ever receives what these functions build.
"""

from __future__ import annotations

import os

import numpy as np

# --------------------------------------------------------------------------
# gsod_pipeline
# --------------------------------------------------------------------------


def gsod_fixture_seed(seed: int) -> int:
    """The seed handed to the engine's ``weather_fixture``."""
    return int(np.random.default_rng([seed, 1]).integers(1, 2**31 - 1))


# --------------------------------------------------------------------------
# query_mix: TPC-H-shaped star schema + events/documents/embeddings tables
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_rows(sf: float) -> dict[str, int]:
    n = {
        "region": 5,
        "nation": 25,
        "customer": 150_000,
        "supplier": 10_000,
        "part": 200_000,
        "orders": 1_500_000,
        "lineitem": 6_000_000,
        "events": 1_000_000,
    }
    rows = {k: (v if k in ("region", "nation") else max(1, int(v * sf))) for k, v in n.items()}
    rows["documents"] = max(500, int(50_000 * sf))
    rows["embeddings"] = max(500, int(20_000 * sf))
    return rows


def star_tables(seed: int, sf: float) -> dict:
    """The ten query_mix tables as pyarrow Tables, with the schema the
    engine's ``sources.io.load_table`` pins."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    n = table_rows(sf)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(values, k):
        return np.array(values, dtype=object)[rng.integers(0, len(values), k)]

    def days(base, span, k):
        return base + rng.integers(0, span, k).astype("timedelta64[D]")

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    k = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
            "c_mktsegment": pa.array(pick(_SEGMENTS, k), s),
        }
    )
    k = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
        }
    )
    k = n["part"]
    names = [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, k), pick(_PART_NOUN, k))]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)], s),
            "p_type": pa.array(pick(_PART_TYPES, k), s),
            "p_size": pa.array(rng.integers(1, 51, k), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 2), f64),
        }
    )
    k = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
            "o_orderstatus": pa.array(pick(["F", "O", "P"], k), s),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, k), f64),
            "o_orderdate": pa.array(days(_EPOCH_1995, 2405, k), ts),
            "o_orderpriority": pa.array(pick(_PRIORITIES, k), s),
        }
    )
    k = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(float), f64),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, k), f64),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0, f64),
            "l_returnflag": pa.array(pick(["A", "N", "R"], k), s),
            "l_linestatus": pa.array(pick(["F", "O"], k), s),
            "l_shipdate": pa.array(days(_EPOCH_1995 + np.timedelta64(1, "D"), 2500, k), ts),
        }
    )
    k = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), i64),
            "ts": pa.array(_EPOCH_2024 + np.sort(rng.integers(0, month_us, k)).astype("timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), k), i64),
            "event_type": pa.array(pick(_EVENT_TYPES, k), s),
            # exponential(50) tail puts ~0.7% of readings above the 250.0
            # sentinel threshold the quality/impute queries key on
            "value": pa.array(np.round(rng.exponential(50.0, k), 2), f64),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)], s),
        }
    )
    k = n["documents"]
    texts: list[str] = []
    for _ in range(k):
        if texts and rng.random() < 0.05:  # planted near-duplicate
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = pick(_DOC_WORDS, int(rng.integers(10, 101))).tolist()
        texts.append(" ".join(toks))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(pick(_LANGS, k), s),
            "source": pa.array([f"src{i % 20}" for i in range(k)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0.0, 0.01, (10, 64))
    x = centroids[labels] + rng.normal(0.0, 0.125, (k, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), i64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_star_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write ``star_tables(seed, sf)`` as ``{out_dir}/{name}.parquet`` (one
    file per table, as the engine's readers expect) and return ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def query_order(seed: int, names: list[str]) -> list[str]:
    """A seed-permuted order of the query_mix list."""
    order = np.random.default_rng([seed, 5]).permutation(len(names))
    return [names[i] for i in order]


# --------------------------------------------------------------------------
# near-dup corpus: Zipf vocabulary with planted near-duplicate families
# --------------------------------------------------------------------------


def zipf_corpus(
    seed: int,
    n_docs: int,
    vocab: int = 20_000,
    zipf_s: float = 1.1,
    family_share: float = 0.2,
    edit_rate: float = 0.04,
) -> tuple[list[int], list[str], list[int]]:
    """(doc_ids, texts, family) for a corpus of ``n_docs`` documents.

    Words are drawn from a Zipf(``zipf_s``) distribution over ``vocab``
    words; documents have 8-100 words. About ``family_share`` of the docs
    belong to planted near-duplicate families of 2-5 docs: one base doc of
    40-100 words and copies with ``edit_rate`` of its words replaced (at
    least one). A copy shares at least 70% of its word 3-gram set with its
    base, so each family is connected at Jaccard >= 0.5. ``family`` is the
    family number of each doc, -1 for singletons. Ids are a seeded
    permutation, so families are not contiguous.
    """
    rng = np.random.default_rng([seed, 6])
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=float) ** -zipf_s)
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), vocab - 1)

    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    texts: list[str] = []
    family: list[int] = []
    n_fam = 0
    while len(texts) < n_docs:
        left = n_docs - len(texts)
        if left >= 2 and rng.random() < family_share / 3.5:  # mean family size 3.5
            size = int(min(left, rng.integers(2, 6)))
            base = draw(int(rng.integers(40, 101)))
            texts.append(" ".join(words[base]))
            for _ in range(size - 1):
                copy = base.copy()
                n_edit = max(1, round(edit_rate * len(base)))
                at = rng.choice(len(base), n_edit, replace=False)
                copy[at] = draw(n_edit)
                texts.append(" ".join(words[copy]))
            family.extend([n_fam] * size)
            n_fam += 1
        else:
            texts.append(" ".join(words[draw(int(rng.integers(8, 101)))]))
            family.append(-1)
    ids = rng.permutation(n_docs).tolist()
    return ids, texts, family


def write_zipf_corpus(seed: int, n_docs: int, path: str) -> tuple[list[int], list[str], list[int]]:
    """Write ``zipf_corpus(seed, n_docs)`` as (doc_id long, text string)
    parquet at ``path`` and return it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts, family = zipf_corpus(seed, n_docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        path,
    )
    return ids, texts, family


def store_and_batches(
    seed: int, ids: list[int], n_batches: int, batch_size: int
) -> tuple[list[int], list[list[int]]]:
    """Split ``ids`` by seed into a store and ``n_batches`` arriving
    batches of ``batch_size`` ids each."""
    order = np.random.default_rng([seed, 7]).permutation(len(ids))
    picked = [ids[i] for i in order]
    cut = len(ids) - n_batches * batch_size
    batches = [picked[cut + k * batch_size: cut + (k + 1) * batch_size] for k in range(n_batches)]
    return sorted(picked[:cut]), [sorted(b) for b in batches]
