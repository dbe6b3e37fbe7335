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


def test_default_driver_memory_is_half_of_memtotal_capped_at_8g(tmp_path):
    """Without ``$SPARK_DRIVER_MEMORY`` the driver heap is 8g, or half of
    MemTotal on a smaller box; an unreadable meminfo keeps 8g."""
    from pyspark_weather_forecasting_gsod_spark.session import default_driver_memory

    def meminfo(text: str) -> str:
        path = tmp_path / f"meminfo{len(list(tmp_path.iterdir()))}"
        path.write_text(text)
        return str(path)

    gib = 1024 * 1024  # kB
    assert default_driver_memory(meminfo(f"MemTotal:       {15 * gib} kB\nMemFree: 1 kB\n")) == "7680m"
    assert default_driver_memory(meminfo(f"MemFree: 1 kB\nMemTotal: {64 * gib} kB\n")) == "8192m"
    assert default_driver_memory(meminfo("MemFree: 1 kB\n")) == "8g"
    assert default_driver_memory(str(tmp_path / "absent")) == "8g"
