"""ML pipeline operators (M1-M13) + the recomposed GSOD pipeline."""

import pytest
from pyspark.sql import Row

from pyspark_weather_forecasting_gsod_spark.ml.explain import feature_importances, shap_values
from pyspark_weather_forecasting_gsod_spark.ml.features import assemble_features
from pyspark_weather_forecasting_gsod_spark.ml.models import (
    evaluate_classification,
    evaluate_regression,
    seeded_split,
    train_gbt_classifier,
    train_gbt_regressor,
    train_linear_regression,
    train_xgb_regressor,
)


def _frame(spark, n=200):
    rows = [
        Row(cat="a" if i % 3 else "b", x=float(i % 17), y=float(i % 5),
            label=2.0 * (i % 17) + (0.0 if i % 3 else 5.0))
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _record(monkeypatch, module, name, sink):
    """Wrap ``module.name`` so each call appends its first argument."""
    fn = getattr(module, name)

    def recording(df, *a, **k):
        sink.append(df)
        return fn(df, *a, **k)

    monkeypatch.setattr(module, name, recording)


def test_feature_pipeline_dimensions(spark):
    feat = assemble_features(_frame(spark), categorical=["cat"], numerical=["x", "y"])
    row = feat.select("features").first()
    # 1 one-hot slot (2 cats, last dropped, no invalid bucket) + 2 scaled
    assert row.features.size == 3
    assert "scaled_numerical_features" in feat.columns


def test_feature_pipeline_design_is_full_rank(spark):
    """With k−1 one-hot slots per categorical column the design has full
    rank next to the intercept, so LinearRegression solves the normal
    equations by Cholesky (0 iterations) instead of falling back to
    L-BFGS."""
    feat = assemble_features(_frame(spark), categorical=["cat"], numerical=["x", "y"])
    model = train_linear_regression(feat, "label")
    assert model.summary.totalIterations == 0


def test_linear_regression_learns_linear_signal(spark):
    feat = assemble_features(_frame(spark), categorical=["cat"], numerical=["x", "y"])
    train, test = seeded_split(feat)
    model = train_linear_regression(train, "label")
    metrics = evaluate_regression(model.transform(test), "label")
    assert metrics["r2"] > 0.99  # exactly linear target
    assert metrics["rmse"] < 1.0
    assert set(metrics) == {"rmse", "mse", "mae", "r2"}


def test_gbt_regressor_and_importances(spark):
    feat = assemble_features(_frame(spark), categorical=["cat"], numerical=["x", "y"])
    model = train_gbt_regressor(feat, "label", max_iter=5)
    preds = model.transform(feat)
    metrics = evaluate_regression(preds, "label")
    assert metrics["r2"] > 0.9
    names = [f"cat_{i}" for i in range(model.numFeatures - 2)] + ["x", "y"]
    imps = feature_importances(model, names)
    assert imps[0][1] >= imps[-1][1] and abs(sum(v for _, v in imps) - 1.0) < 1e-6


def test_gbt_classifier_metrics(spark):
    from pyspark.sql import functions as F

    df = _frame(spark).withColumn("up", (F.col("x") > 8).cast("double"))
    feat = assemble_features(df, categorical=["cat"], numerical=["x", "y"])
    train, test = seeded_split(feat)
    model = train_gbt_classifier(train, "up", max_iter=5)
    metrics = evaluate_classification(model.transform(test), "up")
    assert metrics["accuracy"] > 0.95  # threshold function of x is learnable
    assert 0.9 < metrics["areaUnderROC"] <= 1.0


def test_evaluate_regression_ignores_null_rows(spark):
    """r12 (r11 ADVICE #1): rows with NULL label or prediction must not
    count toward n — previously they deflated every mean — and metrics
    must equal the same computation over the pre-filtered frame."""
    from pyspark.sql import Row

    clean = spark.createDataFrame(
        [Row(label=1.0, prediction=2.0), Row(label=3.0, prediction=3.0),
         Row(label=5.0, prediction=4.0)]
    )
    dirty = clean.unionByName(spark.createDataFrame(
        [Row(label=None, prediction=9.0), Row(label=7.0, prediction=None)],
        "label double, prediction double",
    ))
    want = evaluate_regression(clean, "label", with_count=True)
    got = evaluate_regression(dirty, "label", with_count=True)
    assert got["n"] == want["n"] == 3
    for k in ("rmse", "mse", "mae", "r2"):
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_seeded_split_reproducible(spark):
    df = _frame(spark)
    a1, b1 = seeded_split(df)
    a2, b2 = seeded_split(df)
    assert a1.count() == a2.count() and b1.count() == b2.count()


def test_optional_deps_honestly_gated(spark):
    with pytest.raises(NotImplementedError):
        train_xgb_regressor(_frame(spark), "label")
    with pytest.raises(NotImplementedError):
        shap_values("/nonexistent", None)


def test_xgb_gate_body_executes_with_injected_module(spark, monkeypatch):
    """r08 VERDICT #7: the import gates are pytest-verified, but the code
    BEHIND them (SparkXGBRegressor construction + fit call) had zero
    execution coverage because the sandbox lacks xgboost. Injecting a
    minimal fake module executes the gated branch: the estimator must be
    built with the passed label_col/params and its fit() must receive the
    training frame."""
    import sys
    import types

    calls = {}

    class FakeSparkXGBRegressor:
        def __init__(self, label_col=None, **params):
            calls["init"] = {"label_col": label_col, **params}

        def fit(self, train):
            calls["fit_rows"] = train.count()
            return "fitted-xgb"

    fake_spark = types.ModuleType("xgboost.spark")
    fake_spark.SparkXGBRegressor = FakeSparkXGBRegressor
    fake_xgb = types.ModuleType("xgboost")
    fake_xgb.spark = fake_spark
    monkeypatch.setitem(sys.modules, "xgboost", fake_xgb)
    monkeypatch.setitem(sys.modules, "xgboost.spark", fake_spark)

    feat = assemble_features(_frame(spark), categorical=["cat"], numerical=["x", "y"])
    model = train_xgb_regressor(feat, "label", n_estimators=7)
    assert model == "fitted-xgb"
    assert calls["init"] == {"label_col": "label", "n_estimators": 7}
    assert calls["fit_rows"] == 200


def test_shap_gate_body_executes_with_injected_modules(monkeypatch):
    """r08 VERDICT #7, SHAP leg: booster reload + TreeExplainer +
    shap_values call behind the import gate, executed via fake modules —
    the model path must reach Booster.load_model and the explainer must
    wrap that booster and receive the feature frame."""
    import sys
    import types

    calls = {}

    class FakeBooster:
        def load_model(self, path):
            calls["loaded"] = path

    class FakeTreeExplainer:
        def __init__(self, booster):
            calls["explained"] = isinstance(booster, FakeBooster)

        def shap_values(self, pdf):
            calls["pdf"] = pdf
            return [[0.1, -0.2]]

    fake_xgb = types.ModuleType("xgboost")
    fake_xgb.Booster = FakeBooster
    fake_shap = types.ModuleType("shap")
    fake_shap.TreeExplainer = FakeTreeExplainer
    monkeypatch.setitem(sys.modules, "xgboost", fake_xgb)
    monkeypatch.setitem(sys.modules, "shap", fake_shap)

    out = shap_values("/models/booster.json", "sentinel-pdf")
    assert out == [[0.1, -0.2]]
    assert calls == {
        "loaded": "/models/booster.json",
        "explained": True,
        "pdf": "sentinel-pdf",
    }


def test_gsod_pipeline_end_to_end(spark):
    """Reference acceptance criterion: all-zero post-imputation census
    (ipynb:1128-1152) + sane regression metrics on the weather fixture."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import run_gsod_pipeline, weather_fixture

    wx = weather_fixture(spark, n_stations=20, n_days=90)
    out = run_gsod_pipeline(wx, with_classifier=False)
    assert all(v == 0 for k, v in out["census"].items() if k.startswith("null_"))
    # next_day_max is seasonal+noise: R² should be clearly positive
    assert out["regression"]["r2"] > 0.5
    assert out["regression"]["rmse"] < 20.0


def test_gsod_fast_pipeline_equals_staged_impute_chain(spark, monkeypatch):
    """The fast path's one-checkpoint plan gives exactly, with no tolerance,
    what the staged chain gives: proximity(visib, wdsp, mxpsd) → zero(prcp)
    → seasonal(max, min) with the (max, min, temp, stp) proximity fallback,
    then next-day labels. The fixture keeps the all-sentinel visib station,
    the all-sentinel (stn 1, Feb) max/min cells, date gaps and the
    single-row station. The census is taken before the label filter, so it
    counts every imputed row, each station's last row included."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.operators.impute import (
        proximity_impute_fixed_schedule,
        seasonal_median_impute,
        zero_impute,
    )
    from pyspark_weather_forecasting_gsod_spark.operators.quality import normalize_sentinels
    from pyspark_weather_forecasting_gsod_spark.operators.windows import lead_labels
    from pyspark_weather_forecasting_gsod_spark.pipelines import gsod as G

    fit_inputs = []
    _record(monkeypatch, G, "featurize", fit_inputs)
    wx = G.weather_fixture(spark, 12, 120)
    out = G.run_gsod_pipeline(wx, with_classifier=False)

    def prox(d, cols):
        return proximity_impute_fixed_schedule(
            d, cols, group_by="stn", order_by=["date"], schedule=(4, 8)
        )

    slim = normalize_sentinels(wx, G.GSOD_SENTINELS).drop(*G.GSOD_DROPS)
    staged = zero_impute(prox(slim, ["visib", "wdsp", "mxpsd"]), {"prcp": 0.0})
    staged = seasonal_median_impute(
        staged, ["max", "min"], group_by="stn", date_col="date",
        fallback=lambda m: prox(m, ["max", "min", "temp", "stp"]),
    )
    imputed = out["imputed"]
    assert imputed.columns == staged.columns
    expected = sorted(tuple(r) for r in staged.collect())
    assert sorted(tuple(r) for r in imputed.collect()) == expected

    label_cols = ["stn", "date", "next_day_max", "next_day_rain"]
    want = lead_labels(
        staged, group_by="stn", order_by="date",
        labels={"max": "next_day_max", "rain_drizzle": "next_day_rain"},
    ).withColumn("next_day_rain", F.col("next_day_rain").cast("double"))
    (labeled,) = fit_inputs
    got = sorted(tuple(r) for r in labeled.select(*label_cols).collect())
    assert got == sorted(tuple(r) for r in want.select(*label_cols).collect())
    assert len(got) < len(expected)

    assert out["census"]["n_rows"] == len(expected)
    assert all(v == 0 for k, v in out["census"].items() if k.startswith("null_"))


def test_gsod_fast_pipeline_job_count(spark):
    """Impute, census and labels run as one materialization, and the
    features are one assembler with no fitted stage, so the whole fast
    pipeline without the classifier stays within 10 Spark jobs. Each extra
    checkpoint or census pass adds jobs (three checkpoints and a census
    collect run 23), and so does each fitted feature stage (the
    indexer/one-hot/scaler Pipeline ran 15)."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
        run_gsod_pipeline,
        weather_fixture,
    )

    wx = weather_fixture(spark, 12, 120).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test-gsod-fast-pipeline-job-count"
    sc.setJobGroup(group, "gsod fast pipeline job count")
    try:
        run_gsod_pipeline(wx, with_classifier=False)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10


def _calling_thread_round_trips(monkeypatch, fn) -> int:
    """py4j commands ``fn()`` sends from the calling thread. py4j's
    finalizer thread sends the deletes of whatever garbage earlier code
    left, 250-700 of them during one pipeline run, so other threads'
    commands do not count."""
    import threading

    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == caller:
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return calls[0]


def test_gsod_fast_pipeline_py4j_round_trip_budget(spark, monkeypatch):
    """Building the fast pipeline's plans stays within 2,000 py4j round
    trips per run. The operators on its path write each projection as SQL
    text in one call; built as Column trees (a JVM call per ``F.col``,
    ``alias``, ``when``, ``over``, plus a call-site capture on each) the
    same run made ~5,200. Only the calling thread's commands count."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
        run_gsod_pipeline,
        weather_fixture,
    )

    if not hasattr(spark, "_jvm"):
        pytest.skip("Spark Connect: no py4j gateway")
    wx = weather_fixture(spark, 12, 120).localCheckpoint(eager=True)
    calls = _calling_thread_round_trips(
        monkeypatch, lambda: run_gsod_pipeline(wx, with_classifier=False)
    )
    assert 0 < calls <= 2000, calls


def test_weather_fixture_py4j_round_trip_budget(spark, monkeypatch):
    """The fixture writes its ~150 column expressions as SQL text: building
    it takes at most 200 round trips (measured 50). As Column trees it took
    ~3,060, paid by every GSOD test and every ``gsod_pipeline_e2e`` run."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import weather_fixture

    if not hasattr(spark, "_jvm"):
        pytest.skip("Spark Connect: no py4j gateway")
    calls = _calling_thread_round_trips(
        monkeypatch, lambda: weather_fixture(spark, 30, 365, seed=7)
    )
    assert 0 < calls <= 200, calls


def test_gsod_pipeline_rejects_staged_impute_chain(spark):
    """The one-checkpoint impute plan is the only one: any ``fast`` other
    than True raises instead of silently running something else."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
        run_gsod_pipeline,
        weather_fixture,
    )

    wx = weather_fixture(spark, 3, 10)
    for fast in (False, None):
        with pytest.raises(ValueError, match="staged impute chain was removed"):
            run_gsod_pipeline(wx, fast=fast)


def test_gsod_pipeline_classifier_leg(spark, monkeypatch):
    """The reference's rain classifier (M8): with ``with_classifier`` the
    pipeline trains a GBT on exactly the ``is_train`` rows of the featurized
    frame and reports accuracy, areaUnderROC and areaUnderPR, each in
    [0, 1], plus its phase wall."""
    from pyspark_weather_forecasting_gsod_spark.pipelines import gsod as G

    fit_inputs, gbt_trains = [], []
    _record(monkeypatch, G, "featurize", fit_inputs)
    _record(monkeypatch, G, "train_gbt_classifier", gbt_trains)
    out = G.run_gsod_pipeline(G.weather_fixture(spark, 12, 120))
    clf = out["classification"]
    assert set(clf) == {"accuracy", "areaUnderROC", "areaUnderPR"}
    assert all(0.0 <= v <= 1.0 for v in clf.values()), clf
    assert "clf_fit_eval_sec" in out["timings"]

    (labeled,), (train,) = fit_inputs, gbt_trains

    def rows(frame):
        return sorted(
            (tuple(r.features.toArray()), r.next_day_max, r.next_day_rain)
            for r in frame.select("features", "next_day_max", "next_day_rain").collect()
        )

    want = rows(G.featurize(labeled).filter("is_train"))
    assert rows(train) == want and want
    assert len(want) < labeled.count()


def test_gsod_regression_design_is_full_rank_and_equivalent(spark, monkeypatch):
    """The GSOD LR fit solves the normal equations by Cholesky (0
    iterations) on 16 features, and its test-side predictions equal those
    of the reference-shaped featurization over the same rows (one-hot
    flags, scaled numerics, full rank, ``year`` dropped): with an
    intercept both designs span the same columns, so the removed indexer,
    encoder and scaler fits did not change the model."""
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ml.features import build_feature_pipeline
    from pyspark_weather_forecasting_gsod_spark.pipelines import gsod as G

    labeled_in, models = [], []
    _record(monkeypatch, G, "featurize", labeled_in)
    fit = G.train_linear_regression

    def recording_fit(*a, **k):
        models.append(fit(*a, **k))
        return models[-1]

    monkeypatch.setattr(G, "train_linear_regression", recording_fit)
    wx = G.weather_fixture(spark, 12, 120)
    G.run_gsod_pipeline(wx, with_classifier=False)
    (labeled,), (model,) = labeled_in, models
    assert model.summary.totalIterations == 0
    assert len(model.coefficients) == 16

    ref_feat = build_feature_pipeline(
        categorical=G.INDICATORS, numerical=G.MEASURES + ["mo", "da"]
    ).fit(labeled).transform(labeled)
    ref = train_linear_regression(ref_feat.filter("is_train"), "next_day_max")
    assert ref.summary.totalIterations == 0

    def predictions(m, feat):
        rows = m.transform(feat.filter(~F.col("is_train"))).select(
            "stn", "date", "prediction"
        ).collect()
        return {(r.stn, r.date): r.prediction for r in rows}

    got = predictions(model, G.featurize(labeled))
    want = predictions(ref, ref_feat)
    assert got.keys() == want.keys() and got
    assert max(abs(got[k] - want[k]) for k in got) < 1e-9


def test_gsod_pipeline_split_is_layout_independent(spark, monkeypatch):
    """Train/test membership is a pure function of the (stn, date) key: the
    same rows land on each side whether the input arrives as 1 partition or
    as 7, with the shuffle width set to match, and the frames the model fits
    and scores are exactly the flagged rows. randomSplit membership moves
    with the partition layout."""
    from pyspark_weather_forecasting_gsod_spark.pipelines import gsod as G

    fit_inputs, trains, tests = [], [], []
    _record(monkeypatch, G, "featurize", fit_inputs)
    _record(monkeypatch, G, "train_linear_regression", trains)
    _record(monkeypatch, G, "evaluate_regression", tests)
    wx = G.weather_fixture(spark, 12, 120).localCheckpoint(eager=True)

    def labels(frame):
        return sorted(
            tuple(r) for r in frame.select("next_day_max", "next_day_rain").collect()
        )

    width = spark.conf.get("spark.sql.shuffle.partitions")
    splits = []
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            G.run_gsod_pipeline(wx.repartition(n), with_classifier=False)
            labeled, train, test = fit_inputs[-1], trains[-1], tests[-1]
            sides = {}
            for flag, frame in ((True, train), (False, test)):
                flagged = labeled.filter(labeled.is_train == flag)
                assert labels(frame) == labels(flagged)
                sides[flag] = {
                    (r.stn, r.date) for r in flagged.select("stn", "date").collect()
                }
            splits.append(sides)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)

    assert splits[0] == splits[1]
    n_train, n_test = len(splits[0][True]), len(splits[0][False])
    assert 0.75 < n_train / (n_train + n_test) < 0.85


def test_gsod_pipeline_from_csv_end_to_end(spark, tmp_path):
    """The reference's literal entry leg (S1, ipynb:187): CSV → explicit
    StructType → sentinel normalization → full pipeline (r09 VERDICT #7).
    The parquet-fixture e2e test covers the pipeline math; this one covers
    the CSV source leg — typed header read through ``read_csv`` (no
    inference scan), then the same zero-null-census acceptance criterion
    and metric band."""
    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
        gsod_csv_schema,
        run_gsod_pipeline,
        weather_fixture,
    )
    from pyspark_weather_forecasting_gsod_spark.sources.io import read_csv

    wx = weather_fixture(spark, n_stations=20, n_days=90)
    path = str(tmp_path / "gsod_csv")
    wx.write.option("header", True).mode("overwrite").csv(path)
    back = read_csv(spark, path, gsod_csv_schema())
    # the pinned schema really types every fixture column (no silent
    # string fallbacks), and the roundtrip loses no rows
    assert [f.name for f in back.schema.fields] == wx.columns
    assert {f.dataType.simpleString() for f in back.schema.fields} == {
        "string", "int", "date", "double",
    }
    assert back.count() == wx.count()
    out = run_gsod_pipeline(back, with_classifier=False)
    assert all(v == 0 for k, v in out["census"].items() if k.startswith("null_"))
    assert out["regression"]["r2"] > 0.5
    assert out["regression"]["rmse"] < 20.0


def test_gsod_pipeline_metric_parity_band(spark):
    """BASELINE parity envelope on the full 347k-row fixture (the declared
    ``gsod_pipeline_e2e`` config): the reference publishes LR RMSE 6.2103 /
    R² 0.93168 on real GSOD 2023 (BASELINE.md, ipynb:1528/1531). The
    synthetic fixture is easier than real weather (measured R² ≈ 0.965,
    RMSE ≈ 4.08 — seasonal signal + bounded uniform noise, no fronts or
    regime shifts), so exact parity is impossible; the band instead pins
    the metrics to a regression-catching envelope: R² ≥ 0.9 (a silent
    feature-pipeline bug — dropped column, mis-joined label — craters R²
    long before it reaches 0.9) and 2.0 ≤ RMSE ≤ 6.5 (the lower bound
    catches label leakage: predicting next_day_max better than the
    fixture's irreducible ±6 noise band means the label leaked into the
    features)."""
    import importlib

    Q = importlib.import_module("pyspark_weather_forecasting_gsod_spark.plans.queries")
    rows = Q.QUERIES["gsod_pipeline_e2e"][0](spark, "/root/testdata/sf0.001").collect()
    m = {r.metric: r.value for r in rows}
    assert all(v == 0.0 for k, v in m.items() if k.startswith("census_null_"))
    assert m["reg_r2"] >= 0.9, f"feature pipeline regression: R²={m['reg_r2']}"
    assert 2.0 <= m["reg_rmse"] <= 6.5, f"RMSE out of band: {m['reg_rmse']}"
    # the per-phase breakdown rows (bench-drift diagnosis) are present
    phases = {k for k in m if k.startswith("phase_")}
    assert {"phase_impute_sec", "phase_lr_fit_sec", "phase_lr_eval_sec"} <= phases


def test_weather_fixture_pathologies(spark):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import weather_fixture

    wx = weather_fixture(spark, n_stations=10, n_days=60)
    # all-sentinel column for station 0 (forces global fallback)
    s0 = wx.filter("stn = '000000'")
    assert s0.filter(F.col("visib") != 999.9).count() == 0
    # single-row station
    assert wx.filter(f"stn = '{9:06d}'").count() == 1
    # deterministic across invocations
    assert wx.agg(F.sum("temp")).first()[0] == weather_fixture(
        spark, n_stations=10, n_days=60
    ).agg(F.sum("temp")).first()[0]


def test_kfold_cv_deterministic_balanced_and_disjoint(spark):
    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.ml.models import (
        kfold_cv_regression,
    )
    from pyspark.ml.feature import VectorAssembler

    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 97).cast("double").alias("x"),
    ).withColumn("y", F.col("x") * 3.0 + 1.0)
    feat = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
    folds = kfold_cv_regression(feat, "y", key_col="id", k=4)
    # perfect linear data → every fold fits exactly
    assert all(m["r2"] > 0.999 for m in folds)
    # md5 folds: balanced within a loose band, cover everything
    sizes = [m["n_test"] for m in folds]
    assert sum(sizes) == 2000
    assert all(2000 / 4 * 0.8 <= s <= 2000 / 4 * 1.2 for s in sizes)
    # determinism: same folds regardless of partitioning
    folds2 = kfold_cv_regression(feat.repartition(13), "y", key_col="id", k=4)
    assert [m["n_test"] for m in folds2] == sizes


def test_kfold_cv_classification_deterministic_and_learns(spark):
    from pyspark.sql import functions as F
    from pyspark.ml.feature import VectorAssembler

    from pyspark_weather_forecasting_gsod_spark.ml.models import (
        kfold_cv_classification,
    )

    # separable data: label = x > 50
    df = spark.range(1200).select(
        "id", (F.col("id") % 101).cast("double").alias("x")
    ).withColumn("y", (F.col("x") > 50).cast("double"))
    feat = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
    folds = kfold_cv_classification(feat, "y", key_col="id", k=3, max_iter=5)
    assert len(folds) == 3
    assert sum(m["n_test"] for m in folds) == 1200
    assert all(m["accuracy"] > 0.95 for m in folds)
    folds2 = kfold_cv_classification(
        feat.repartition(7), "y", key_col="id", k=3, max_iter=5
    )
    assert [m["n_test"] for m in folds2] == [m["n_test"] for m in folds]
