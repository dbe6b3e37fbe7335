"""applyInPandas grouped-map, MERGE upsert sink, GSOD-CSV e2e, property tests."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyspark_weather_forecasting_gsod_spark.operators.grouped_map import group_zscore
from pyspark_weather_forecasting_gsod_spark.sources.merge import merge_upsert


@pytest.fixture()
def scratch():
    d = tempfile.mkdtemp(prefix="engine-merge-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_group_zscore_matches_manual(spark):
    df = spark.createDataFrame(
        [Row(event_id=1, user_id=1, value=10.0),
         Row(event_id=2, user_id=1, value=20.0),
         Row(event_id=3, user_id=1, value=30.0),
         Row(event_id=4, user_id=2, value=5.0)]  # singleton group → NULL
    )
    out = {r.event_id: r.zscore for r in group_zscore(df, "value", "user_id", "event_id").collect()}
    assert out[1] == -1.0 and out[2] == 0.0 and out[3] == 1.0
    assert out[4] is None


def test_merge_upsert_replace_and_append(spark, scratch):
    target = os.path.join(scratch, "tbl")
    base = spark.createDataFrame(
        [Row(k=1, v="old1", ver=1), Row(k=2, v="old2", ver=1)]
    )
    base.write.parquet(target)
    updates = spark.createDataFrame(
        [Row(k=2, v="new2", ver=2), Row(k=3, v="new3", ver=1)]
    )
    merge_upsert(spark, target, updates, keys=["k"], version_col="ver")
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {1: "old1", 2: "new2", 3: "new3"}


def test_merge_upsert_creates_when_missing(spark, scratch):
    target = os.path.join(scratch, "fresh")
    merge_upsert(
        spark, target, spark.createDataFrame([Row(k=1, v="a")]), keys=["k"]
    )
    assert spark.read.parquet(target).count() == 1


def test_merge_upsert_idempotent(spark, scratch):
    target = os.path.join(scratch, "idem")
    updates = spark.createDataFrame([Row(k=1, v="x"), Row(k=2, v="y")])
    merge_upsert(spark, target, updates, keys=["k"])
    merge_upsert(spark, target, updates, keys=["k"])
    assert spark.read.parquet(target).count() == 2


def test_gsod_pipeline_from_csv(spark, scratch):
    """S1 in anger: the reference's actual input format — weather data via
    CSV with an explicit schema — through the full pipeline."""
    from pyspark.sql import types as T

    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import run_gsod_pipeline, weather_fixture
    from pyspark_weather_forecasting_gsod_spark.sources.io import read_csv

    wx = weather_fixture(spark, n_stations=12, n_days=80)
    csv_dir = os.path.join(scratch, "gsod_csv")
    wx.write.option("header", "true").mode("overwrite").csv(csv_dir)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in wx.schema.fields]
    )
    back = read_csv(spark, csv_dir, schema)
    assert back.count() == wx.count()
    assert back.schema == schema  # no inference drift — stn stays string
    out = run_gsod_pipeline(back, with_classifier=False)
    assert all(v == 0 for k, v in out["census"].items() if k.startswith("null_"))


def test_property_imputation_never_modifies_non_null(spark):
    """Property (SURVEY §5): for randomized inputs, imputers only fill —
    existing values pass through bit-identical."""
    from hypothesis import given, settings, strategies as st

    from pyspark_weather_forecasting_gsod_spark.operators.impute import impute_with_group_median

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6,
                                               allow_nan=False)),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [Row(g=g, v=v) for g, v in rows], "g int, v double"
        )
        out = impute_with_group_median(df, "v", "g")
        before = sorted((g, v) for g, v in rows if v is not None)
        after_all = [(r.g, r.v) for r in out.collect()]
        # every original non-null survives exactly
        from collections import Counter

        assert Counter(before) <= Counter(after_all)
        # nulls only remain if the whole frame was null
        any_value = any(v is not None for _, v in rows)
        if any_value:
            assert all(v is not None for _, v in after_all)

    check()


def test_r06_packing_skew_session_guards(spark):
    """r06 review fixes: pack_sequences uses pmod (negative ids stayed in
    [0, shards)); packing_stats takes token_col; chunk_windows emits no
    phantom chunks for empty/NULL docs; salted_join rejects outer joins
    that would fabricate null-padded rows."""
    import pytest
    from pyspark.sql import Row

    from pyspark_weather_forecasting_gsod_spark.ext.packing import (
        chunk_windows,
        pack_sequences,
        packing_stats,
    )
    from pyspark_weather_forecasting_gsod_spark.operators.skew import salted_join

    # pmod shard on negative ids
    df = spark.createDataFrame(
        [Row(doc_id=-5, n_toks=10), Row(doc_id=7, n_toks=20)]
    )
    packed = pack_sequences(df, "doc_id", "n_toks", budget=16, shards=4)
    shards = {r.doc_id: r.shard for r in packed.collect()}
    assert shards[-5] == 3 and shards[7] == 3  # pmod(-5,4)=3, 7%4=3
    # packing_stats honors token_col
    stats = packing_stats(packed, budget=16, token_col="n_toks").collect()
    assert sum(r.n_docs for r in stats) == 2

    # chunk_windows: junk docs emit nothing; real docs still chunk
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="  "),
         Row(doc_id=3, text=None), Row(doc_id=4, text="")]
    )
    chunks = chunk_windows(docs, chunk_size=3, stride=2).collect()
    assert {r.doc_id for r in chunks} == {1}
    assert all(r.n_chunk_tokens > 0 for r in chunks)

    # salted_join: outer joins rejected, left family still exact
    left = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "k long, l string")
    right = spark.createDataFrame([(1, "r1"), (3, "r3")], "k long, r string")
    want = {(r.k, r.l, r.r) for r in left.join(right, "k", "left").collect()}
    got = {(r.k, r.l, r.r) for r in salted_join(left, right, "k", 4, how="left").collect()}
    assert got == want
    with pytest.raises(ValueError, match="spurious"):
        salted_join(left, right, "k", 4, how="full")
    with pytest.raises(ValueError, match="spurious"):
        salted_join(left, right, "k", 4, how="right")
