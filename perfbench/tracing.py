"""Span recorder and the wrappers that feed it.

A span is (name, layer, start, end, parent). Spans stay in memory and are
written out when the run ends. Each span sets the Spark job group to a
unique id while it is open, so the event-log fold (``eventlog.fold``) can
hand every job's task metrics to the span, and so the layer, that ran it.

``instrument`` wraps, from outside the engine, the public functions a
workload calls and the Spark actions inside them. A wrapper does nothing
but call through while the tracer is disabled, so one process can time
untraced and traced runs side by side.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PKG = "pyspark_weather_forecasting_gsod_spark"
MIB = 1024.0 * 1024.0

# Public engine functions that run Spark actions -> the layer their span is
# charged to. Functions that only build a lazy plan are not wrapped: the
# workload charges the action that runs the plan to the plan's layer.
FUNCTION_LAYERS = {
    "pipelines.gsod.run_gsod_pipeline": "pipelines.gsod.self_s",
    "ml.models.train_linear_regression": "ml.models.lr_fit_s",
    "ml.models.evaluate_regression": "ml.models.lr_eval_s",
}

# Functions whose calls are counted: the pair strategy the auto router picks.
FUNCTION_COUNTS = {
    "ext.dedup.ngram_jaccard_pairs_dense": "ext.dedup.route_dense",
    "ext.dedup.ngram_jaccard_pairs_prefix": "ext.dedup.route_prefix",
}

# run_gsod_pipeline returns per-phase walls in out["timings"]; work at its
# own checkpoints is charged to the layer of the phase it falls in.
GSOD_PHASE_LAYERS = {
    "impute_sec": "operators.impute.self_s",
    "census_sec": "operators.quality.census_s",
    "feature_fit_sec": "ml.features.fit_s",
    "lr_fit_sec": "ml.models.lr_fit_s",
    "lr_eval_sec": "ml.models.lr_eval_s",
}
# the label window is materialized by the checkpoint inside the feature phase
GSOD_LABEL_CHECKPOINT = ("feature_fit_sec", "operators.windows.lead_labels_s")


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = {}
        self.gsod_runs: list[tuple[dict, dict]] = []  # (span, out["timings"])

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer or (parent["layer"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        sp["group"] = f"{sp['layer']}#{sp['id']}"
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp["group"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.stack.pop()
            self._set_group(self.stack[-1]["group"] if self.stack else None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def _wrap_function(tracer: Tracer, fn, qualname: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(qualname, layer):
            out = fn(*args, **kwargs)
        if qualname == "ml.models.train_linear_regression":
            # the pipeline's one persisted frame is filled by the LR fit
            infos = tracer.sc._jsc.sc().getRDDStorageInfo()
            tracer.count("ml.models.cache_mib", sum(i.memSize() for i in infos) / MIB)
        return out

    return wrapper


def _count_calls(tracer: Tracer, fn, count_name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.count(count_name, 1)
        return fn(*args, **kwargs)

    return wrapper


def _wrap_action(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        caller = sys._getframe(1).f_code.co_name
        with tracer.span(f"{name}@{caller}", action=name):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer) -> None:
    """Install the wrappers. Each public function is replaced in its own
    module and in every loaded engine module that imported it by name."""
    import importlib

    from pyspark.ml.base import Estimator
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    def replace(qual: str, make) -> None:
        mod_name, fn_name = qual.rsplit(".", 1)
        fn = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
        wrapped = make(fn)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG) and getattr(m, fn_name, None) is fn:
                setattr(m, fn_name, wrapped)

    for qual, layer in FUNCTION_LAYERS.items():
        replace(qual, lambda fn: _wrap_function(tracer, fn, qual, layer))
    for qual, name in FUNCTION_COUNTS.items():
        replace(qual, lambda fn: _count_calls(tracer, fn, name))
    for cls, meth in (
        (DataFrame, "localCheckpoint"),
        (DataFrame, "collect"),
        (DataFrame, "count"),
        (DataFrameWriter, "save"),
        (Estimator, "fit"),
    ):
        setattr(cls, meth, _wrap_action(tracer, getattr(cls, meth), f"{cls.__name__}.{meth}"))


def attribute_gsod_phases(tracer: Tracer, gsod_span: dict, timings: dict) -> None:
    """Split a run_gsod_pipeline span into its phases: one synthetic child
    span per phase window (the phases are consecutive from the call's
    start), each re-parenting the direct children that started inside it."""
    t = gsod_span["start"]
    children = [s for s in tracer.spans if s["parent"] == gsod_span["id"]]
    for phase, secs in timings.items():
        layer = GSOD_PHASE_LAYERS.get(phase)
        if layer is None:
            t += secs
            continue
        ph = {
            "id": len(tracer.spans),
            "name": f"phase {phase}",
            "layer": layer,
            "parent": gsod_span["id"],
            "start": t,
            "end": min(t + secs, gsod_span["end"]),
            "group": None,
        }
        tracer.spans.append(ph)
        for c in children:
            if ph["start"] <= c["start"] < ph["end"]:
                c["parent"] = ph["id"]
                if c.get("action") and c["layer"] == gsod_span["layer"]:
                    label = (
                        GSOD_LABEL_CHECKPOINT[1]
                        if phase == GSOD_LABEL_CHECKPOINT[0]
                        and c["action"] == "DataFrame.localCheckpoint"
                        else layer
                    )
                    _relayer(tracer, c, gsod_span["layer"], label)
        t += secs


def _relayer(tracer: Tracer, span: dict, old: str, new: str) -> None:
    """Move ``span`` and its descendants that inherited ``old`` to ``new``."""
    span["layer"] = new
    for s in tracer.spans:
        if s["parent"] == span["id"] and s["layer"] == old:
            _relayer(tracer, s, old, new)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of one
    span never overlap: the driver is single-threaded)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
