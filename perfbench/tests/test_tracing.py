"""The event-log fold and the span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import operator
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import tracing  # noqa: E402


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "name": str(i), "layer": layer, "parent": parent,
            "start": start, "end": end, "group": None}


def test_self_times_subtract_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 1, 2.0, 3.0),
             _span(3, 0, 5.0, 9.0)]
    own = tracing.self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_gsod_phases_split_the_pipeline_span():
    class Stub:
        spans = [
            _span(0, None, 100.0, 110.0, "pipelines.gsod.self_s"),
            {**_span(1, 0, 101.0, 102.0, "pipelines.gsod.self_s"), "action": "DataFrame.localCheckpoint"},
            {**_span(2, 0, 104.5, 105.0, "pipelines.gsod.self_s"), "action": "DataFrame.localCheckpoint"},
        ]

    tracing.attribute_gsod_phases(Stub, Stub.spans[0], {"impute_sec": 3.0, "census_sec": 1.0, "feature_fit_sec": 2.0})
    layers = {s["id"]: s["layer"] for s in Stub.spans}
    assert layers[1] == "operators.impute.self_s"
    assert layers[2] == "operators.windows.lead_labels_s"
    own = tracing.self_times(Stub.spans)
    by_layer = {}
    for s in Stub.spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own[s["id"]]
    assert by_layer["operators.impute.self_s"] == pytest.approx(3.0)
    assert by_layer["operators.quality.census_s"] == pytest.approx(1.0)
    assert by_layer["ml.features.fit_s"] == pytest.approx(1.5)
    assert by_layer["operators.windows.lead_labels_s"] == pytest.approx(0.5)
    assert by_layer["pipelines.gsod.self_s"] == pytest.approx(4.0)


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    """Fold the log of three known jobs: a two-stage shuffle job (4 map
    tasks, 2 reduce tasks) in group g1, a one-stage job (3 tasks) in g2,
    and a one-stage job (2 tasks) with no group."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    spark = (
        SparkSession.builder.master("local[2]").appName("fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("spark.jobGroup.id", "g1")
        out = sorted(
            sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
            .reduceByKey(operator.add, 2).collect()
        )
        assert out == [(0, 34), (1, 33), (2, 33)]
        sc.setLocalProperty("spark.jobGroup.id", "g2")
        assert sc.parallelize(range(10), 3).count() == 10
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.parallelize(range(4), 2).count() == 4
    finally:
        spark.stop()
    (log,) = os.listdir(log_dir)
    return eventlog.fold(os.path.join(log_dir, log))


def test_fold_counts_jobs_stages_tasks(folded):
    assert set(folded) == {"g1", "g2", None}
    g1, g2, none = folded["g1"], folded["g2"], folded[None]
    assert (g1.jobs, len(g1.stages), g1.tasks) == (1, 2, 6)
    assert (g2.jobs, len(g2.stages), g2.tasks) == (1, 1, 3)
    assert (none.jobs, len(none.stages), none.tasks) == (1, 1, 2)
    assert g1.shuffle_write_bytes > 0
    assert g2.shuffle_write_bytes == 0
    assert g1.task_skew() >= 1.0
