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
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ml.models import (
    evaluate_classification,
    evaluate_regression,
    train_gbt_classifier,
    train_linear_regression,
)
from ..operators.impute import (
    proximity_impute_fixed_schedule,
    seasonal_median_impute,
    zero_impute,
)
from ..operators.quality import census_sql, normalize_sentinels
from ..operators.sampling import hash_bucket_sql
from ..operators.sql_text import quote_ident, sql_literal
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


def _u(seed: int, *cols: str) -> str:
    """SQL text of a deterministic uniform [0,1): hash-based and
    partitioning-independent (unlike rand(), whose stream depends on the
    partition layout). ``cols`` are SQL expression texts."""
    return (
        f"(pmod(xxhash64({sql_literal(seed)}, {', '.join(cols)}), 1000000)"
        " / 1000000.0D)"
    )


def weather_fixture(
    spark: SparkSession, n_stations: int = 50, n_days: int = 200, seed: int = 42
) -> DataFrame:
    """GSOD-shaped synthetic table, one row per (stn, date), sentinel-encoded
    missing values, FIXTURES.md §A pathological cases baked in.

    The ~150 column expressions are SQL text (``operators/sql_text.py``),
    one ``selectExpr`` for all of them: built as Column trees they cost
    ~3,000 py4j round trips per call."""
    lit = sql_literal
    base = spark.range(n_stations * n_days).selectExpr(
        f"CAST(id / {lit(n_days)} AS BIGINT) AS stn_idx",
        f"pmod(id, {lit(n_days)}) AS day_idx",
    )
    date = "date_add(CAST('2023-01-01' AS DATE), CAST(day_idx AS INT))"
    seasonal = (
        f"(((sin(day_idx * {lit(2.0 * math.pi / 365.0)}) * 30.0D) + 50.0D)"
        " - ((stn_idx % 20) * 0.8D))"
    )

    def u(seed_: int, name: str) -> str:
        return _u(seed_, "stn_idx", "day_idx", lit(name))

    # pathological: station 0's visib entirely sentinel; (station 1, month 2)
    # all-sentinel for max/min (forces seasonal→fallback chain)
    miss = {
        c: f"({u(seed + 1, c)} < {lit(0.9 if c in ('sndp', 'gust') else 0.08)})"
        for c in GSOD_SENTINELS
    }
    miss["visib"] = f"({miss['visib']} OR (stn_idx = 0))"
    for c in ("max", "min"):
        miss[c] = f"({miss[c]} OR ((stn_idx = 1) AND (month({date}) = 2)))"

    def measure(name: str, center: str, spread: float) -> str:
        noise = f"(({u(seed, name)} - 0.5D) * {lit(2 * spread)})"
        return (
            f"CASE WHEN {miss[name]} THEN {lit(GSOD_SENTINELS[name])} "
            f"ELSE round(({center} + {noise}), 2) END AS {quote_ident(name)}"
        )

    df = base.selectExpr(
        "lpad(CAST(stn_idx AS STRING), 6, '0') AS stn",
        "99999 AS wban",
        f"{date} AS `date`",
        f"year({date}) AS `year`",
        f"month({date}) AS mo",
        f"dayofmonth({date}) AS da",
        measure("temp", seasonal, 8.0),
        measure("dewp", f"({seasonal} - 10.0D)", 8.0),
        measure("slp", "1013.0D", 15.0),
        measure("stp", "990.0D", 15.0),
        measure("max", f"({seasonal} + 10.0D)", 6.0),
        measure("min", f"({seasonal} - 10.0D)", 6.0),
        measure("visib", "9.0D", 5.0),
        measure("wdsp", "8.0D", 6.0),
        measure("mxpsd", "15.0D", 8.0),
        measure("gust", "22.0D", 10.0),
        measure("sndp", "4.0D", 3.0),
        f"CASE WHEN {miss['prcp']} THEN 99.99D ELSE "
        f"round(greatest((({u(seed, 'prcp')} * 2.0D) - 1.5D), 0.0D), 2) END AS prcp",
        *[f"12 AS count_{c}" for c in ("temp", "dewp", "slp", "stp", "visib", "wdsp")],
        *[f"CAST(NULL AS STRING) AS {c}" for c in ("flag_max", "flag_min", "flag_prcp")],
        *[f"CAST(({u(seed + 2, c)} < 0.2D) AS INT) AS {c}" for c in INDICATORS],
    )
    # per-station date gaps (row-vs-calendar lead caveat) + a single-row station
    gaps = f"({_u(seed + 3, 'stn', 'da', 'mo')} < 0.05D)"
    last = f"lpad(CAST({lit(n_stations - 1)} AS STRING), 6, '0')"
    return df.filter(f"(NOT {gaps}) OR (da = 1)").filter(
        f"(stn != {last}) OR ((mo = 1) AND (da = 1))"
    )


def featurize(labeled: DataFrame) -> DataFrame:
    """Add the ``features`` vector of the ``FEATURES`` columns. A plain
    VectorAssembler transform: nothing is fitted, so it runs no job."""
    return VectorAssembler(inputCols=FEATURES, outputCol="features").transform(labeled)


def run_gsod_pipeline(
    df: DataFrame, fast: bool = True, with_classifier: bool = True
) -> dict[str, object]:
    """Full reference pipeline. Returns the imputed frame, the null census
    row, train/eval metrics, and a per-phase wall-clock breakdown
    (``timings``) so bench regressions decompose to a named stage instead
    of one opaque number (VERDICT r04 What's-wrong #1).

    ``fast`` remains for callers that pass ``fast=True``, the one impute
    plan there is; any other value raises."""
    import time as _time

    if fast is not True:
        raise ValueError(
            f"run_gsod_pipeline: fast={fast!r}: the staged impute chain was "
            "removed; the one-checkpoint plan (fast=True, the default) is the "
            "only one"
        )

    timings: dict[str, float] = {}
    _t0 = _time.time()

    def _mark(phase: str) -> None:
        nonlocal _t0
        now = _time.time()
        timings[phase] = round(now - _t0, 3)
        _t0 = now

    norm = normalize_sentinels(df, GSOD_SENTINELS)
    slim = norm.drop(*GSOD_DROPS)
    # The reference's ordered strategy (ipynb:947-956): proximity for
    # visib/wdsp/mxpsd, zero for prcp, seasonal with a proximity fallback
    # for max/min, proximity for temp/stp. One lazy plan: every imputed
    # column reads and writes only itself, so all seven proximity columns
    # share the seasonal stage's fallback window chain and each value
    # still equals what the ordered strategy computes.
    imputed = seasonal_median_impute(
        zero_impute(slim, {"prcp": 0.0}), ["max", "min"],
        group_by="stn", date_col="date",
        fallback=lambda m: proximity_impute_fixed_schedule(
            m, ["visib", "wdsp", "mxpsd", "max", "min", "temp", "stp"],
            group_by="stn", order_by=["date"], schedule=(4, 8),
        ),
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
        imputed.observe(census_obs, *map(F.expr, census_sql(MEASURES))),
        group_by="stn", order_by="date", labels=labels, drop_null_labels=False,
    ).localCheckpoint(eager=True)
    _mark("impute_sec")
    census = census_obs.get
    _mark("census_sec")

    imputed = both.drop(*labels.values())
    # The 80/20 split is a pure function of the (stn, date) key, so its
    # membership does not depend on partition layout or row order.
    labeled = both.dropna(subset=list(labels.values())).withColumns({
        "next_day_rain": F.expr("CAST(next_day_rain AS DOUBLE)"),
        "is_train": F.expr(
            hash_bucket_sql("concat_ws('|', stn, CAST(date AS STRING))") + " < 80"
        ),
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
    featurized = featurize(labeled).selectExpr(
        "features", "next_day_max", "next_day_rain", "is_train"
    ).persist()
    _mark("feature_fit_sec")
    train = featurized.filter("is_train")
    test = featurized.filter("NOT is_train")
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
