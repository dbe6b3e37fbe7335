"""SparkSession factory.

Reference equivalent: ipynb:103-107 (``SparkSession.builder.master("local")``,
single core, defaults everywhere). Our factory turns on AQE, pins the session
timezone to UTC (so date-part extraction matches the DuckDB oracle and is
cluster-location-independent), and sizes shuffle partitions for the target
parallelism instead of the Spark default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we also re-assert on externally provided sessions
# (the correctness driver builds its own SparkSession and passes it in).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
    # type for; read the raw int64 and convert in sources.io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "gsod-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``$SPARK_MASTER`` or ``local[*]``;
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS`` or else the
    number of cores this process may run on (``os.sched_getaffinity``), the
    width ``local[*]`` gets. On a real cluster pass the cluster master URL
    and a shuffle partition count sized to ~2-3x total executor cores (AQE
    coalesces the excess at runtime).
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    # remember whether the caller actually expressed a parallelism intent:
    # on a PRE-EXISTING session an unrequested default must not clobber a
    # deliberately configured shuffle width (r06 review)
    explicit_shuffle = (
        shuffle_partitions is not None or "SPARK_GRAFT_CPUS" in os.environ
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    # getOrCreate can also hand back the DEFAULT (last-instantiated)
    # session when none is active in the calling thread (r06 advice) —
    # check both, or an unrequested default shuffle width would clobber a
    # deliberately configured value on that path too. PySpark exposes no
    # public getDefaultSession; _instantiatedSession is the exact slot
    # getOrCreate's own fallback reads.
    def _live(s) -> bool:
        try:
            return s is not None and not s.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    pre_existing = _live(SparkSession.getActiveSession()) or _live(
        getattr(SparkSession, "_instantiatedSession", None)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # On a live session getOrCreate keeps the static confs (driver memory,
    # UI), which do not affect results; re-assert the runtime-settable ones
    # so a session built first elsewhere still gets UTC date parts and a
    # readable NANOS events table. The shuffle width is not a builder
    # option: getOrCreate copies builder options onto a live session, so an
    # unrequested default there would overwrite a configured width.
    tune(spark)
    if not pre_existing or explicit_shuffle:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a pre-existing session: not settable
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Bounded driver-side row list → DataFrame in O(few) slices.

    ``spark.createDataFrame(list)`` parallelizes the pickled rows into
    ``defaultParallelism`` slices — at ``local[32]`` that is 32 mostly
    EMPTY pickle partitions, each paying a Python-worker round trip per
    downstream job. Measured (r12, the r11 VERDICT #6 anti-scaling hunt):
    writing the 16-row IVF centroid table cost 4-5 s at local[32] vs
    1.2-2.5 s at local[8] — the scaling INVERSION was slice count, not
    KMeans; the dense-pair kernels' 36-row block-pair table paid the same
    tax per invocation. One slice per 100k rows (minimum one) is the
    scale-correct shape for the bounded artifacts this serves — block
    tables, centroid tables, metric rows, quantile probes; anything
    unbounded should not be a driver list in the first place.

    ``schema`` must be an explicit DDL string or StructType: skipping
    inference also skips the sampling job createDataFrame would run.

    A Spark Connect session has no ``sparkContext``; there the rows go
    straight to ``createDataFrame``, which ships them as one local
    relation.
    """
    if not rows:
        return spark.createDataFrame(rows, schema)
    try:
        sc = spark.sparkContext
    except AttributeError:  # Spark Connect: JVM attributes are unsupported
        return spark.createDataFrame(rows, schema)
    rdd = sc.parallelize(rows, numSlices=max(1, -(-len(rows) // 100_000)))
    return spark.createDataFrame(rdd, schema)


def tune(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable confs on an externally built session.

    Every declared query calls this so results are deterministic (UTC
    date-parts, AQE on) regardless of who built the session.
    """
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark
