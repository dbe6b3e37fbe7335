"""Sources & sinks (S1 CSV explicit-schema, S4 Arrow toPandas, S6/S7 model
save/load, parquet writer with partitioning)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_weather_forecasting_gsod_spark.sources.io import load_table, read_csv, write_parquet


@pytest.fixture()
def scratch():
    d = tempfile.mkdtemp(prefix="engine-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_csv_with_explicit_schema(spark, scratch):
    path = os.path.join(scratch, "weather.csv")
    with open(path, "w") as f:
        f.write("stn,temp,prcp\n010010,50.5,0.0\n010020,9999.9,99.99\n")
    schema = T.StructType(
        [
            T.StructField("stn", T.StringType()),
            T.StructField("temp", T.DoubleType()),
            T.StructField("prcp", T.DoubleType()),
        ]
    )
    df = read_csv(spark, path, schema)
    rows = {r.stn: r for r in df.collect()}
    # explicit schema keeps station ids as zero-padded strings — CSV
    # inference (the reference's path) would retype them to int
    assert rows["010010"].temp == 50.5
    assert rows["010020"].temp == 9999.9
    assert df.schema == schema


def test_write_parquet_partitioned_roundtrip(spark, scratch, sf_dir):
    out = os.path.join(scratch, "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_parquet(ev, out, partition_by=["event_type"])
    # partition pruning: reading one event_type touches only its directory
    back = spark.read.parquet(out).filter("event_type = 'click'")
    assert back.count() == ev.filter("event_type = 'click'").count()
    assert os.path.isdir(os.path.join(out, "event_type=click"))


def test_topandas_arrow_export(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "value").limit(100)
    pdf = ev.toPandas()
    assert len(pdf) == 100
    assert list(pdf.columns) == ["event_id", "value"]


def test_local_rows_df_without_sparkcontext(spark):
    """A Spark Connect session raises on ``sparkContext``; local_rows_df
    must fall back to ``createDataFrame(rows, schema)`` instead."""
    from pyspark.errors import PySparkAttributeError

    from pyspark_weather_forecasting_gsod_spark.session import local_rows_df

    class ConnectLike:
        @property
        def sparkContext(self):
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": "sparkContext"},
            )

        def createDataFrame(self, data, schema):
            assert isinstance(data, list)
            return spark.createDataFrame(data, schema)

    rows = [(0, 1), (0, 2), (1, 1)]
    got = local_rows_df(ConnectLike(), rows, "ba int, bb int")
    assert sorted(map(tuple, got.collect())) == rows
    assert local_rows_df(ConnectLike(), [], "ba int, bb int").count() == 0


def test_model_sink_and_source_roundtrip(spark, scratch):
    """S6/S7: persist a fitted model, reload, identical predictions."""
    from pyspark.ml.regression import LinearRegressionModel

    from pyspark_weather_forecasting_gsod_spark.ml.features import assemble_features
    from pyspark_weather_forecasting_gsod_spark.ml.models import train_linear_regression

    df = spark.createDataFrame(
        [Row(cat="a" if i % 2 else "b", x=float(i), label=3.0 * i) for i in range(50)]
    )
    feat = assemble_features(df, categorical=["cat"], numerical=["x"])
    model = train_linear_regression(feat, "label")
    path = os.path.join(scratch, "lr_model")
    model.write().overwrite().save(path)
    loaded = LinearRegressionModel.load(path)
    orig = [r.prediction for r in model.transform(feat).select("prediction").collect()]
    back = [r.prediction for r in loaded.transform(feat).select("prediction").collect()]
    assert orig == back


def test_read_json_with_explicit_schema_and_corrupt_quarantine(spark, scratch):
    import pyspark.sql.types as T

    from pyspark_weather_forecasting_gsod_spark.sources.io import read_json

    path = os.path.join(scratch, "docs.jsonl")
    with open(path, "w") as f:
        f.write('{"id": 1, "score": 2.5}\n')
        f.write('{"id": 2, "score": "not-a-number"}\n')  # type mismatch
        f.write("this is not json at all\n")             # corrupt line
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    out = read_json(
        spark, path, schema, columnNameOfCorruptRecord="_corrupt"
    ).cache()
    rows = {r.id: r for r in out.collect()}
    assert rows[1].score == 2.5 and rows[1]._corrupt is None
    assert rows[2].score is None and rows[2]._corrupt is not None  # quarantined
    assert out.filter(F.col("id").isNull() & F.col("_corrupt").isNotNull()).count() == 1
    out.unpersist()


def test_events_ts_probe_handles_both_parquet_generations(spark, tmp_path):
    """The driver's testdata generator has emitted events.ts as both
    TIMESTAMP(NANOS) (Spark reads int64 under nanosAsLong) and
    TIMESTAMP(MICROS) (native timestamp). load_table must yield identical
    microsecond timestamps for either file."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    ts = [
        datetime.datetime(2024, 1, 1, 0, 0, 7, 123456),
        datetime.datetime(2024, 1, 2, 3, 4, 5, 654321),
    ]
    t_ns = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d_ns, d_us = tmp_path / "gen_ns", tmp_path / "gen_us"
    d_ns.mkdir(), d_us.mkdir()
    pq.write_table(t_ns, str(d_ns / "events.parquet"), version="2.6")
    pq.write_table(
        t_ns.set_column(1, "ts", t_ns["ts"].cast(pa.timestamp("us"))),
        str(d_us / "events.parquet"),
        version="2.6",
    )
    rows_ns = sorted(tuple(r) for r in load_table(spark, str(d_ns), "events").collect())
    rows_us = sorted(tuple(r) for r in load_table(spark, str(d_us), "events").collect())
    assert rows_ns == rows_us
    assert rows_ns[0][1] == ts[0]  # microsecond-exact instants survive


def test_python_datasource_partition_parallel_scan(spark):
    """Spark 4 Python DataSource: options reach the reader, partition count
    is respected, re-registration is idempotent, rows are the deterministic
    generator function of event_id."""
    from pyspark_weather_forecasting_gsod_spark.sources.pyds import _MIX, _MOD, register

    register(spark)
    register(spark)  # replaces with a warning; must not raise
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", "100")
        .option("n_partitions", "4")
        .option("n_users", "7")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r["event_id"]: r for r in df.collect()}
    assert len(rows) == 100
    for i in (0, 13, 99):
        mixed = (i * _MIX) % _MOD
        assert rows[i]["user_id"] == mixed % 7
        assert abs(rows[i]["value"] - round(mixed / _MOD * 100.0, 6)) < 1e-12


def test_python_datasource_stream_drains_all_batches(spark):
    from pyspark_weather_forecasting_gsod_spark.sources.pyds import (
        run_python_source_stream,
    )

    out = run_python_source_stream(
        spark, n_rows=600, rows_per_batch=100, n_users=10, timeout_sec=120
    )
    rows = out.collect()
    assert len(rows) == 10
    assert sum(r["n_events"] for r in rows) == 600  # every micro-batch counted once


def test_orc_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    """ORC is the other columnar format Spark ships natively — verify a
    lossless roundtrip of a driver table (schema + values) so the engine's
    source story is not parquet-only."""
    from pyspark_weather_forecasting_gsod_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.schema == orders.schema
    a = sorted(tuple(r) for r in orders.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """The real multimodal ingestion path: ``binaryFile`` reads opaque
    payload files as (path, length, content); the frame sampler consumes
    the binary column directly — no decode on the scan path."""
    import hashlib

    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ext.multimodal import sample_frames

    blobs = {"a.bin": b"\x01" * 700, "b.bin": b"\x02" * 300}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length"),
            F.col("content"),
        )
    )
    rows = {r["fname"]: r["length"] for r in df.collect()}
    assert rows == {"a.bin": 700, "b.bin": 300}
    keyed = df.withColumn(
        "doc_id", F.when(F.col("fname") == "a.bin", 1).otherwise(2).cast("long")
    )
    frames = sample_frames(keyed, payload_col="content", id_col="doc_id").collect()
    got = sorted((r["doc_id"], r["frame_idx"], r["frame_digest"]) for r in frames)
    # a.bin (700 B): only offset 0 fits a full 256-B frame at stride 512
    # (512+256 > 700); b.bin (300 B): only offset 0.
    want = sorted(
        [
            (1, 0, hashlib.md5(b"\x01" * 256).hexdigest()),
            (2, 0, hashlib.md5(b"\x02" * 256).hexdigest()),
        ]
    )
    assert got == want


def test_versioned_table_recovers_from_crashed_write(spark, tmp_path):
    """A partial v=N directory without _SUCCESS (crashed writer) must not
    wedge the table: the commit path is create-only (r06 — a reclaim
    rmtree could race a concurrent writer's committed rename), so the
    garbage slot is SKIPPED, the write lands on the next number, and
    vacuum later sweeps the stale directory under its TTL."""
    import os

    from pyspark_weather_forecasting_gsod_spark.sources.versioned import (
        list_versions,
        read_version,
        vacuum,
        write_version,
    )

    d = str(tmp_path / "vtable")
    write_version(spark.range(5).select("id"), d)
    # simulate a crash: partial v=2 with data but no _SUCCESS marker
    stale = os.path.join(d, "v=2")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "wb") as f:
        f.write(b"partial garbage")
    assert list_versions(d) == [1]
    v = write_version(spark.range(7).select("id"), d)
    assert v == 3 and list_versions(d) == [1, 3]
    assert read_version(spark, d, 3).count() == 7
    # the garbage dir survives the commit (create-only path)...
    assert os.path.isdir(stale)
    # ...and vacuum judges staleness by the NEWEST mtime inside (r06
    # advice): an old dir mtime with a recently-touched file inside is a
    # long write still in flight — NOT swept
    os.utime(stale, (1_000_000.0, 1_000_000.0))
    vacuum(d, keep_last=10)
    assert os.path.isdir(stale)
    # once the contents are old too, the TTL sweep takes it
    os.utime(os.path.join(stale, "part-00000.parquet"), (1_000_000.0, 1_000_000.0))
    os.utime(stale, (1_000_000.0, 1_000_000.0))
    vacuum(d, keep_last=10)
    assert not os.path.isdir(stale)
    assert list_versions(d) == [1, 3]
    # a COMMITTED version is still protected by errorifexists semantics
    assert write_version(spark.range(3).select("id"), d) == 4


def test_versioned_table_time_travel_and_diff(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.sources.versioned import (
        diff_versions,
        list_versions,
        read_version,
        table_history,
        write_version,
    )

    d = str(tmp_path / "vtable")
    v1_df = spark.range(10).select("id", (F.col("id") * 2).alias("val"))
    assert write_version(v1_df, d) == 1
    # v2: update id=3, delete id=9, insert id=100
    v2_df = (
        spark.range(9)
        .select("id", (F.col("id") * 2).alias("val"))
        .withColumn(
            "val", F.when(F.col("id") == 3, F.lit(999)).otherwise(F.col("val"))
        )
        .unionByName(
            spark.createDataFrame([(100, 7)], ["id", "val"])
        )
    )
    assert write_version(v2_df, d) == 2
    assert list_versions(d) == [1, 2]

    # time travel: pinned v1 is untouched by the v2 commit
    assert read_version(spark, d, 1).count() == 10
    got_v1 = {r["id"]: r["val"] for r in read_version(spark, d, 1).collect()}
    assert got_v1[3] == 6 and 9 in got_v1
    # latest == v2
    got_latest = {r["id"]: r["val"] for r in read_version(spark, d).collect()}
    assert got_latest[3] == 999 and 9 not in got_latest and got_latest[100] == 7

    ops = {
        (r["id"], r["change_op"])
        for r in diff_versions(spark, d, 1, 2, ["id"]).collect()
    }
    assert ops == {(3, "U"), (9, "D"), (100, "I")}

    hist = {r["version"]: r["n_files"] for r in table_history(spark, d).collect()}
    assert set(hist) == {1, 2} and all(n >= 1 for n in hist.values())

    # unknown version raises instead of silently reading latest
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, d, 7)


def test_versioned_vacuum_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.sources.versioned import (
        compact_version,
        list_versions,
        read_version,
        vacuum,
        write_version,
    )

    d = str(tmp_path / "vt")
    df = spark.range(5000).withColumn("v", F.col("id") * 3)
    write_version(df.repartition(16), d)  # fragmented v1
    v2 = compact_version(spark, d, target_file_bytes=1 << 30)
    assert v2 == 2
    import os as _os

    files_v2 = [
        f
        for f in _os.listdir(f"{d}/v=2")
        if f.endswith(".parquet")
    ]
    assert len(files_v2) < 16  # compacted
    # identical content, still time-travelable to the fragmented version
    assert (
        read_version(spark, d, 2).agg(F.sum("v")).first()[0]
        == read_version(spark, d, 1).agg(F.sum("v")).first()[0]
    )
    write_version(df.limit(10), d)
    dropped = vacuum(d, keep_last=2)
    assert dropped == [1]
    assert list_versions(d) == [2, 3]


def test_write_version_staging_commit_protocol(spark, tmp_path):
    """r05 ADVICE (medium): writes stage into _staging-<uuid> and atomically
    rename onto v=N, so a lost rename race retries on the next slot instead
    of deleting a live writer's output. Here: a failed rename is injected
    and the commit must still land; no staging debris may survive."""
    import os

    from pyspark_weather_forecasting_gsod_spark.sources import versioned
    from pyspark_weather_forecasting_gsod_spark.sources.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    d = str(tmp_path / "vtable")
    assert write_version(spark.range(4).select("id"), d) == 1
    real_rename = os.rename
    fails = {"n": 0}

    def flaky_rename(src, dst):
        if "/v=" in dst and fails["n"] == 0:
            fails["n"] += 1
            raise OSError("simulated rename race: slot taken")
        return real_rename(src, dst)

    os.rename = flaky_rename
    try:
        v = write_version(spark.range(6).select("id"), d)
    finally:
        os.rename = real_rename
    assert fails["n"] == 1 and v == 2
    assert list_versions(d) == [1, 2]
    assert read_version(spark, d, 2).count() == 6
    assert not [n for n in os.listdir(d) if n.startswith("_staging-")]


def test_vacuum_sweeps_stale_staging_dirs(spark, tmp_path):
    import os

    from pyspark_weather_forecasting_gsod_spark.sources.versioned import (
        vacuum,
        write_version,
    )

    d = str(tmp_path / "vtable")
    write_version(spark.range(3).select("id"), d)
    write_version(spark.range(3).select("id"), d)
    stale = os.path.join(d, "_staging-deadbeef")
    os.makedirs(stale)
    live = os.path.join(d, "_staging-cafebabe")
    os.makedirs(live)
    old = 1_000_000.0
    os.utime(stale, (old, old))
    vacuum(d, keep_last=2)
    # in-flight staging (young mtime) survives; crashed debris is swept
    assert not os.path.isdir(stale)
    assert os.path.isdir(live)


def test_read_csv_infer_schema_flag(spark, scratch):
    """r05 VERDICT ask #8: infer_schema=True restores the reference's
    exploratory inference (ipynb:187); schema XOR infer_schema enforced."""
    import pytest

    path = os.path.join(scratch, "infer.csv")
    with open(path, "w") as f:
        f.write("stn,temp,prcp\n010010,50.5,0.0\n010020,9999.9,99.99\n")
    df = read_csv(spark, path, infer_schema=True)
    types = dict(df.dtypes)
    # inference retypes the zero-padded station id — exactly the drift the
    # explicit-schema default exists to prevent; exploration accepts it
    assert types["stn"] in ("int", "bigint")
    assert types["temp"] == "double"
    with pytest.raises(ValueError, match="exactly one"):
        read_csv(spark, path)
    schema = T.StructType([T.StructField("stn", T.StringType())])
    with pytest.raises(ValueError, match="exactly one"):
        read_csv(spark, path, schema, infer_schema=True)


def test_avro_source_sink_honestly_gated(spark, tmp_path):
    """read_avro/write_avro either work (module deployed) or raise the
    pointer-carrying NotImplementedError — never Spark's generic
    failed-to-find error. Same gate doctrine as the XGBoost/SHAP paths."""
    import pytest

    from pyspark_weather_forecasting_gsod_spark.sources.io import read_avro, write_avro

    df = spark.range(3).withColumnRenamed("id", "v")
    dest = str(tmp_path / "avro_out")
    try:
        write_avro(df, dest)
    except NotImplementedError as exc:
        assert "spark-avro" in str(exc)
        with pytest.raises(NotImplementedError, match="spark-avro"):
            read_avro(spark, dest)
        return
    # module available: full roundtrip must hold
    assert sorted(r["v"] for r in read_avro(spark, dest).collect()) == [0, 1, 2]
