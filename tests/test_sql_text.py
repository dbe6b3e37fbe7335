"""Projections built as SQL text: identifier quoting and literal types.

The fast-path operators write their projections through
``operators.sql_text``. A column whose name has a space, a backtick, or is
a keyword or function name (``date``, ``max``) must stay a plain column
reference, and a rendered literal must keep the type ``F.lit`` gives the
same Python value."""

import datetime
import math
import statistics
from decimal import Decimal

from pyspark.sql import functions as F

from pyspark_weather_forecasting_gsod_spark.ml.models import evaluate_regression
from pyspark_weather_forecasting_gsod_spark.operators.impute import (
    proximity_impute_fixed_schedule,
    seasonal_median_impute_multi,
)
from pyspark_weather_forecasting_gsod_spark.operators.quality import (
    missing_census,
    normalize_sentinels,
)
from pyspark_weather_forecasting_gsod_spark.operators.sql_text import (
    quote_ident,
    sql_literal,
)
from pyspark_weather_forecasting_gsod_spark.operators.windows import lead_labels

LITERALS = [
    9999.9, -1.5, 1e20, 2.5e-7, float("nan"), float("inf"), float("-inf"),
    0, -7, 2**31 - 1, -(2**31), 2**31, -(2**63),
    "it's a \\ test", "", True, False, None,
    Decimal("1.50"), datetime.date(2023, 1, 2),
]


def test_sql_literal_keeps_flit_type_and_value(spark):
    one = spark.range(1)
    text = one.selectExpr(*[f"{sql_literal(v)} AS c{i}" for i, v in enumerate(LITERALS)])
    lit = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(LITERALS)])
    # same types; only the NaN/±inf casts are nullable before constant folding
    assert [f.dataType for f in text.schema] == [f.dataType for f in lit.schema]
    got, want = text.collect()[0], lit.collect()[0]
    for i, v in enumerate(LITERALS):
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(got[i])
        else:
            assert got[i] == want[i] == v, (i, v)


def test_quote_ident_names_one_top_level_column(spark):
    names = ["a b", "we`ird", "date", "max", "x.y", "``"]
    df = spark.createDataFrame([tuple(range(len(names)))], names)
    out = df.selectExpr(*[f"{quote_ident(n)} + 1 AS {quote_ident(n)}" for n in names])
    assert out.columns == names
    assert list(out.collect()[0]) == [i + 1 for i in range(len(names))]


D0 = datetime.date(2023, 1, 30)
SCHEMA = "`max` string, `date` date, `a b` double, `we``ird` int"


def _rows():
    """Two groups by ``max``, eight days each, across a month boundary;
    9999.9 / -1 / 'NA' are sentinels of `a b` / `we`ird` / `max`."""
    a = {"g1": [9999.9, 9999.9, 3.5, None, 9999.9, 9999.9, 9999.9, 2.0],
         "g2": [9999.9, 4.0, 6.0, 9999.9, 8.5, 1.0, None, 3.0]}
    w = {"g1": [5, -1, 7, 8, -1, 10, 11, 12],
         "g2": [-1, 2, 3, 4, 5, -1, 7, 8]}
    return [
        (g, D0 + datetime.timedelta(days=d), a[g][d], w[g][d])
        for g in ("g1", "g2") for d in range(8)
    ] + [("NA", D0, 2.0, 1)]


def _normalized_py(cut: datetime.date):
    out = []
    for g, d, a, w in _rows():
        out.append((
            None if g == "NA" else g,
            None if d > cut else d,
            None if a == 9999.9 else a,
            None if w == -1 else w,
        ))
    return out


def test_normalize_sentinels_quoted_names_and_literal_kinds(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    cut = datetime.date(2023, 2, 5)
    out = normalize_sentinels(
        df, {"a b": 9999.9, "we`ird": -1, "max": "NA", "date": lambda c: c > cut}
    )
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(
        _normalized_py(cut), key=repr
    )
    # a callable spec on a backticked name still sees that one column
    out = normalize_sentinels(
        df, {"a b": 9999.9, "we`ird": lambda c: c == -1, "max": "NA", "date": lambda c: c > cut}
    )
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(
        _normalized_py(cut), key=repr
    )
    # all-literal specs take the text-only projection; same answer
    lit_only = normalize_sentinels(df, {"a b": 9999.9, "we`ird": -1, "max": "NA"})
    assert lit_only.schema == df.schema
    assert sorted(map(tuple, lit_only.collect()), key=repr) == sorted(
        _normalized_py(datetime.date.max), key=repr
    )


def _clean(spark):
    """The normalized frame without the 'NA' row: groups g1/g2, NULLs in
    `a b` and `we`ird`."""
    df = normalize_sentinels(
        spark.createDataFrame(_rows(), SCHEMA), {"a b": 9999.9, "we`ird": -1}
    )
    return df.filter("`max` <> 'NA'")


def _py_frame():
    return [r for r in _normalized_py(datetime.date.max) if r[0] is not None]


def _mean(vals):
    vals = [v for v in vals if v is not None]
    return sum(vals) / len(vals) if vals else None


def test_proximity_fixed_schedule_on_quoted_name(spark):
    df = _clean(spark)
    out = proximity_impute_fixed_schedule(
        df, "a b", group_by="max", order_by=["date"], schedule=(1,)
    )
    assert out.schema == df.schema
    rows = _py_frame()
    gmed = statistics.median(r[2] for r in rows if r[2] is not None)
    want = set()
    for g in ("g1", "g2"):
        grp = sorted((r for r in rows if r[0] == g), key=lambda r: r[1])
        vals = [r[2] for r in grp]
        for i, r in enumerate(grp):
            v = vals[i] if vals[i] is not None else _mean(vals[max(0, i - 1):i + 2])
            want.add((g, r[1], v if v is not None else gmed, r[3]))
    assert set(map(tuple, out.collect())) == want


def test_seasonal_multi_on_quoted_names(spark):
    df = _clean(spark)
    out = seasonal_median_impute_multi(df, ["a b"], group_by="max", date_col="date")
    assert out.schema == df.schema
    rows = _py_frame()
    glob = statistics.median(x[2] for x in rows if x[2] is not None)
    want = set()
    for g, d, a, w in rows:
        cell = [x[2] for x in rows
                if x[0] == g and x[1].month == d.month and x[2] is not None]
        if a is None:
            a = statistics.median(cell) if cell else glob
        want.add((g, d, a, w))
    assert set(map(tuple, out.collect())) == want


def test_lead_labels_and_census_on_quoted_names(spark):
    df = _clean(spark)
    out = lead_labels(
        df, group_by="max", order_by="date",
        labels={"a b": "next a b", "we`ird": "next`w"}, drop_null_labels=False,
    )
    assert out.columns == df.columns + ["next a b", "next`w"]
    assert out.schema["next a b"].dataType == df.schema["a b"].dataType
    assert out.schema["next`w"].dataType == df.schema["we`ird"].dataType
    rows = _py_frame()
    want = set()
    for g in ("g1", "g2"):
        grp = sorted((r for r in rows if r[0] == g), key=lambda r: r[1])
        for i, r in enumerate(grp):
            nxt = grp[i + 1] if i + 1 < len(grp) else (None, None, None, None)
            want.add((*r, nxt[2], nxt[3]))
    assert set(map(tuple, out.collect())) == want

    census = missing_census(df, ["a b", "we`ird", "date"]).collect()[0].asDict()
    assert census == {
        "n_rows": len(rows),
        "null_a b": sum(r[2] is None for r in rows),
        "null_we`ird": sum(r[3] is None for r in rows),
        "null_date": 0,
    }


def test_evaluate_regression_on_quoted_names(spark):
    pairs = [(1.0, 1.5), (2.0, 1.0), (4.0, None), (3.0, 3.25)]
    df = spark.createDataFrame(pairs, "`y val` double, `p``red` double")
    m = evaluate_regression(df, "y val", prediction_col="p`red", with_count=True)
    kept = [(y, p) for y, p in pairs if p is not None]
    mse = sum((p - y) ** 2 for y, p in kept) / len(kept)
    ybar = sum(y for y, _ in kept) / len(kept)
    sst = sum((y - ybar) ** 2 for y, _ in kept)
    assert m["n"] == len(kept)
    assert math.isclose(m["mse"], mse) and math.isclose(m["rmse"], mse ** 0.5)
    assert math.isclose(m["mae"], sum(abs(p - y) for y, p in kept) / len(kept))
    assert math.isclose(m["r2"], 1 - mse * len(kept) / sst)


def test_hash_bucket_sql_equals_hash_bucket(spark):
    """The split text in the GSOD pipeline gives the Column form's buckets
    and type, NULL parts and BIGINT bucket counts included."""
    from pyspark_weather_forecasting_gsod_spark.operators.sampling import (
        hash_bucket,
        hash_bucket_sql,
    )

    df = spark.createDataFrame(
        [("000001", datetime.date(2023, 1, 2)), ("a b", None), (None, D0)],
        "stn string, date date",
    )
    key = F.concat_ws("|", F.col("stn"), F.col("date").cast("string"))
    key_sql = "concat_ws('|', stn, CAST(date AS STRING))"
    cases = [(100, 4), (1_000_000, 8), (2**33, 8)]
    out = df.select(
        *[hash_bucket(key, b, hex_chars=h).alias(f"c{i}") for i, (b, h) in enumerate(cases)],
        *[F.expr(hash_bucket_sql(key_sql, b, h)).alias(f"t{i}") for i, (b, h) in enumerate(cases)],
    )
    for i in range(len(cases)):
        assert out.schema[f"c{i}"].dataType == out.schema[f"t{i}"].dataType
    for r in out.collect():
        assert [r[f"c{i}"] for i in range(len(cases))] == [r[f"t{i}"] for i in range(len(cases))]
