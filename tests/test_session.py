"""Session factory: the shuffle width on a live session."""

import os


def test_get_spark_default_width_keeps_a_live_sessions_width(spark, monkeypatch):
    """With neither an argument nor ``$SPARK_GRAFT_CPUS`` the shuffle width
    defaults to the cores this process may run on. On a live session that
    unrequested default leaves the configured width alone, even when the
    core count differs; an explicit width still applies."""
    from pyspark_weather_forecasting_gsod_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(int(width) + 3)))
    try:
        assert S.get_spark("engine-tests", master="local[4]") is spark
        assert spark.conf.get(key) == width
        S.get_spark("engine-tests", master="local[4]", shuffle_partitions=int(width) + 1)
        assert spark.conf.get(key) == str(int(width) + 1)
    finally:
        spark.conf.set(key, width)
