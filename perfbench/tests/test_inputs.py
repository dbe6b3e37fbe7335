"""Seeded inputs: the same seed gives byte-identical inputs, another seed
gives other inputs of the same shape.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import workloads  # noqa: E402


def digest(table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def test_gsod_fixture_seed():
    assert inputs.gsod_fixture_seed(1) == inputs.gsod_fixture_seed(1)
    assert inputs.gsod_fixture_seed(1) != inputs.gsod_fixture_seed(2)


def test_star_tables_byte_identical_per_seed():
    a = {k: digest(v) for k, v in inputs.star_tables(7, 0.001).items()}
    b = {k: digest(v) for k, v in inputs.star_tables(7, 0.001).items()}
    c = {k: digest(v) for k, v in inputs.star_tables(8, 0.001).items()}
    assert a == b
    # every seeded table differs; region and nation are fixed dimensions
    assert {k for k in a if a[k] != c[k]} == set(a) - {"region", "nation"}


def test_star_tables_shape_is_seed_independent():
    a, b = inputs.star_tables(1, 0.001), inputs.star_tables(2, 0.001)
    for name in a:
        assert a[name].schema == b[name].schema
        assert a[name].num_rows == b[name].num_rows == inputs.table_rows(0.001)[name]


def test_written_parquet_byte_identical(tmp_path):
    def files(seed, sub):
        d = inputs.write_star_tables(seed, 0.001, str(tmp_path / sub))
        return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}

    assert files(3, "a") == files(3, "b")
    assert files(3, "a")["events.parquet"] != files(4, "c")["events.parquet"]


def test_query_order():
    names = workloads.QUERY_MIX
    assert inputs.query_order(5, names) == inputs.query_order(5, names)
    assert sorted(inputs.query_order(5, names)) == sorted(names)
    assert inputs.query_order(5, names) != inputs.query_order(6, names)


def test_zipf_corpus_byte_identical_per_seed(tmp_path):
    def corpus(seed, name):
        path = str(tmp_path / name)
        inputs.write_zipf_corpus(seed, 300, path)
        return open(path, "rb").read()

    assert corpus(1, "a") == corpus(1, "b")
    assert corpus(1, "a") != corpus(2, "c")


def test_zipf_corpus_families_are_near_duplicates():
    ids, texts, family = inputs.zipf_corpus(3, 400)
    assert sorted(ids) == list(range(400))
    assert all(8 <= len(t.split()) <= 100 for t in texts)
    members = {}
    for i, f in zip(ids, family):
        if f >= 0:
            members.setdefault(f, []).append(i)
    assert all(2 <= len(m) <= 5 for m in members.values())
    assert 0.1 < sum(len(m) for m in members.values()) / len(ids) < 0.3
    # every planted family is connected by the reference exact pairs
    pairs = workloads.exact_pairs(ids, texts)
    parent = {i: i for i in ids}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert all(len({find(i) for i in m}) == 1 for m in members.values())
