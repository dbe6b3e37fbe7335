"""Model-explanation interop (reference M13, ipynb:1820-1885).

The reference saves the Spark XGBoost model, reloads it as a native booster,
pulls the FULL test feature matrix to the driver with ``toPandas`` and runs
SHAP single-process. Here shap/xgboost are optional deps, so the SHAP path is
import-gated; the no-extra-deps explain path is MLlib tree
``featureImportances``.
"""

from __future__ import annotations


def feature_importances(model: object, feature_names: list[str]) -> list[tuple[str, float]]:
    """Explain path with no extra deps: MLlib tree-ensemble importances,
    name-matched and sorted descending."""
    imp = model.featureImportances
    pairs = [(feature_names[i], float(imp[i])) for i in range(len(feature_names))]
    return sorted(pairs, key=lambda p: (-p[1], p[0]))


def shap_values(model_path: str, features_pdf) -> object:
    """M13 exact-parity path: native-booster reload + TreeExplainer.
    Optional deps, import-gated (absent in this container)."""
    try:
        import shap  # type: ignore
        import xgboost as xgb  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "shap/xgboost not installed; use feature_importances"
        ) from e
    booster = xgb.Booster()
    booster.load_model(model_path)
    explainer = shap.TreeExplainer(booster)
    return explainer.shap_values(features_pdf)
