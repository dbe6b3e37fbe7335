"""Feature-engineering pipeline (reference M1-M5, ipynb:1237-1327).

The reference fits StringIndexer/OneHotEncoder per column in a Python loop
(one aggregation job per column) and never composes a Pipeline. Here all
stages are one ``pyspark.ml.Pipeline``: multi-column StringIndexer (single
pass over all categorical columns), OneHotEncoder, numeric VectorAssembler,
StandardScaler (unit-stddev, no mean centering — the reference's default,
ipynb:1321), final assembler to ``features``. ``stringOrderType`` is pinned
for determinism (SURVEY.md §7 risk 7).

The design is full rank: a column with k categories gets k−1 one-hot slots
(``dropLast``, no invalid bucket), so with LinearRegression's intercept the
normal equations solve by Cholesky instead of falling back to L-BFGS. The
GSOD pipeline does not use this Pipeline: its categorical columns are
already 0/1 integers, so ``pipelines.gsod.featurize`` assembles them as
numerics and needs no fitted stage.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame


def build_feature_pipeline(
    categorical: list[str],
    numerical: list[str],
    output_col: str = "features",
) -> Pipeline:
    """M1-M5 as a single Pipeline: index → one-hot → assemble → scale →
    final assemble. Fit = 2 passes (indexers batch into one, scaler one);
    the reference spends one job per categorical column.

    The indexer runs with ``handleInvalid="error"``: a NULL or unseen
    category raises Spark's StringIndexer error naming the column and
    value, rather than landing in an extra bucket. That bucket made the
    one-hot slots of each column sum to 1, a copy of the intercept."""
    stages = []
    vec_inputs: list[str] = []
    if categorical:
        stages.append(
            StringIndexer(
                inputCols=categorical,
                outputCols=[f"{c}_index" for c in categorical],
                stringOrderType="frequencyDesc",
                handleInvalid="error",
            )
        )
        stages.append(
            OneHotEncoder(
                inputCols=[f"{c}_index" for c in categorical],
                outputCols=[f"{c}_vec" for c in categorical],
            )
        )
        vec_inputs += [f"{c}_vec" for c in categorical]
    if numerical:
        stages.append(
            VectorAssembler(inputCols=numerical, outputCol="numerical_features")
        )
        stages.append(
            StandardScaler(
                inputCol="numerical_features",
                outputCol="scaled_numerical_features",
                withMean=False,  # reference default (ipynb:1321-1322)
                withStd=True,
            )
        )
        vec_inputs.append("scaled_numerical_features")
    stages.append(VectorAssembler(inputCols=vec_inputs, outputCol=output_col))
    return Pipeline(stages=stages)


def assemble_features(
    df: DataFrame,
    categorical: list[str],
    numerical: list[str],
    output_col: str = "features",
) -> DataFrame:
    """Fit+transform convenience wrapper returning the featurized frame."""
    return (
        build_feature_pipeline(categorical, numerical, output_col)
        .fit(df)
        .transform(df)
    )
