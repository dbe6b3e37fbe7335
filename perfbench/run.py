"""Benchmark driver: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload gsod_pipeline --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0 --smoke
    python3 perfbench/run.py compare A.json B.json

One Python driver process, one client, ``local[nproc]``. ``setup`` builds
the inputs from ``--seed``, starts the session, and runs one checked warm-up;
then whole runs repeat for ``--seconds`` (at least one; no further run is
started that would end past the window at the median run's pace, so a slow
box does fewer runs rather than overrunning).

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
alternates untraced and traced runs and reports the per-layer metrics, the
traced and untraced walls and their difference (the tracing overhead).
Human-readable lines first; the last stdout line is one JSON object. A full
record, stamped with the box, goes to ``.perfbench/results/``; ``compare``
refuses two records whose box stamps differ.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pyspark_weather_forecasting_gsod_spark"
PKG_DIR = os.path.join(ROOT, PKG)
WORK = os.path.join(ROOT, ".perfbench")
MIB = 1024.0 * 1024.0


def _percentile_with_ten_beyond(samples: list[float]) -> tuple[float, float] | None:
    """(p, value): the highest percentile with at least ten samples above
    it, or None when there are too few samples for one."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10  # samples at or below the percentile
    return 100.0 * k / n, sorted(samples)[k - 1]


def _prepare_work_dir() -> None:
    for sub in ("tmp", "spark-local", "eventlog", "data", "spans"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    # Python's tempfile, the gateway launcher and the Python workers all
    # keep their scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import tempfile

    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def _start_session(trace: bool):
    import box
    from pyspark_weather_forecasting_gsod_spark.session import get_spark

    master, conf = box.session_conf(WORK, trace)
    spark = get_spark("perfbench", master=master, shuffle_partitions=box.cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every Python
    worker it started have exited."""
    import box
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    box.wait_children_gone()


class StreamingProgress:
    """Collects (trigger time, batch ms, state rows, query id) per
    micro-batch from a StreamingQueryListener."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                state = sum(op.numRowsTotal for op in p.stateOperators)
                rows.append((ts, p.batchDuration, state, str(p.id)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def within(self, windows: list[tuple[float, float]]):
        return [r for r in self.rows if any(a <= r[0] <= b for a, b in windows)]


def _timed_loop(run_once, seconds: float):
    """Call ``run_once()`` until the next call would end past ``seconds``
    at the median pace so far (at least once)."""
    walls = []
    t_begin = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        run_once()
        walls.append(time.perf_counter() - t0)
        elapsed = time.perf_counter() - t_begin
        if elapsed + statistics.median(walls) > seconds:
            return walls


def _layer_metrics(tracer, ctx, spec_names, n_runs, log_path, streaming, windows):
    import eventlog
    from tracing import attribute_gsod_phases, self_times

    for sp, timings in tracer.gsod_runs:
        attribute_gsod_phases(tracer, sp, timings)
    spans = tracer.spans
    own = self_times(spans)
    vals: dict[str, float] = defaultdict(float)
    for s in spans:
        vals[s["layer"]] += own[s["id"]] / n_runs
    groups = eventlog.fold(log_path)
    by_layer: dict[str, eventlog.GroupStats] = defaultdict(eventlog.GroupStats)
    total = eventlog.GroupStats()
    for s in spans:
        g = groups.get(s["group"]) if s["group"] else None
        if g is not None:
            by_layer[s["layer"]].add(g)
            total.add(g)

    def spark_of(*layers):
        out = eventlog.GroupStats()
        for layer in layers:
            out.add(by_layer[layer])
        return out

    imp = spark_of("operators.impute.self_s")
    vals["operators.impute.jobs"] = imp.jobs / n_runs
    vals["operators.impute.checkpoints"] = sum(
        1 for s in spans
        if s["layer"] == "operators.impute.self_s" and s.get("action") == "DataFrame.localCheckpoint"
    ) / n_runs
    vals["operators.impute.shuffle_write_mib"] = imp.shuffle_write_bytes / MIB / n_runs
    vals["operators.impute.spill_mib"] = imp.spill_bytes / MIB / n_runs
    vals["operators.impute.gc_s"] = imp.gc_s / n_runs
    vals["operators.impute.task_skew"] = imp.task_skew() if imp.tasks else 0.0
    vals["operators.windows.shuffle_write_mib"] = (
        spark_of("operators.windows.lead_labels_s").shuffle_write_bytes / MIB / n_runs
    )
    vals["ml.features.jobs"] = spark_of("ml.features.fit_s").jobs / n_runs
    vals["ml.models.jobs"] = spark_of("ml.models.lr_fit_s", "ml.models.lr_eval_s").jobs / n_runs
    pairs = spark_of("ext.dedup.pairs_s")
    vals["ext.dedup.pairs_shuffle_write_mib"] = pairs.shuffle_write_bytes / MIB / n_runs
    vals["ext.dedup.pairs_spill_mib"] = pairs.spill_bytes / MIB / n_runs
    vals["ext.dedup.cc_jobs"] = spark_of("ext.dedup.cc_s").jobs / n_runs
    for name, v in tracer.counts.items():
        vals[name] = v / n_runs
    vals["sources.io.read_mib"] = total.files_bytes / MIB / n_runs
    vals["sources.io.files_read"] = total.files_read / n_runs
    batches = streaming.within(windows) if streaming else []
    vals["streaming.batches"] = len(batches) / n_runs
    vals["streaming.batch_p50_ms"] = statistics.median(b[1] for b in batches) if batches else 0.0
    last_state: dict[str, int] = {}
    for b in batches:
        last_state[b[3]] = b[2]
    vals["streaming.state_rows"] = sum(last_state.values()) / n_runs
    vals["spark.jobs"] = total.jobs / n_runs
    vals["spark.stages"] = len(total.stages) / n_runs
    vals["spark.tasks"] = total.tasks / n_runs
    vals["spark.executor_run_s"] = total.executor_run_s / n_runs
    vals["spark.executor_cpu_s"] = total.executor_cpu_s / n_runs
    vals["spark.gc_s"] = total.gc_s / n_runs
    vals["spark.shuffle_write_mib"] = total.shuffle_write_bytes / MIB / n_runs
    vals["spark.spill_mib"] = total.spill_bytes / MIB / n_runs
    vals["spark.task_skew"] = total.task_skew() if total.tasks else 0.0
    for name, v in ctx.layer.items():
        vals.setdefault(name, v)
    span_layers = {s["layer"] for s in spans}
    unknown = sorted(span_layers - set(spec_names))
    if unknown:
        raise RuntimeError(f"spans charged to undeclared layers: {unknown}")
    vals["trace.self_sum_s"] = sum(vals[n] for n in span_layers)
    return {n: float(vals.get(n, 0.0)) for n in spec_names}


def run_workload(args) -> int:
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: engine package {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    _prepare_work_dir()
    import box
    import workloads
    from tracing import Tracer, instrument

    trace = bool(args.trace) or args.smoke
    t0 = time.perf_counter()
    spark = _start_session(trace)
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext)
        streaming = None
        if trace:
            instrument(tracer)
            streaming = StreamingProgress(spark)
        wl = workloads.WORKLOADS[args.workload]()
        ctx = workloads.Ctx(spark, args.seed, args.smoke, WORK, tracer, trace, T_PROCESS)
        ctx.layer["session.start_s"] = session_start_s
        in_setup = wl.setup(ctx)
        setup_s = time.perf_counter() - T_PROCESS
        stamp = box.stamp(spark, ROOT, PKG_DIR)
        ops: list[tuple[str, float]] = []
        attempted = failed = 0
        notes: list[str] = []
        traced_walls: list[float] = []
        windows: list[tuple[float, float]] = []

        def tally(oc) -> None:
            nonlocal attempted, failed
            attempted += len(oc.ops)
            failed += oc.failed
            notes.extend(oc.notes)

        tally(in_setup)

        def untraced():
            tracer.enabled = False
            oc = wl.run(ctx)
            ops.extend(oc.ops)
            tally(oc)

        def traced():
            tracer.enabled = True
            w0, t = time.time(), time.perf_counter()
            with tracer.span("run", "bench.check_s"):
                oc = wl.run(ctx)
            traced_walls.append(time.perf_counter() - t)
            windows.append((w0, time.time()))
            tracer.enabled = False
            tally(oc)

        jvm_pid = spark.sparkContext._gateway.proc.pid
        with box.RssSampler(jvm_pid) as rss:
            if trace:
                def pair():
                    untraced()
                    traced()

                walls = _timed_loop(pair, args.seconds)
                walls = [w - t for w, t in zip(walls, traced_walls)]
            else:
                walls = _timed_loop(untraced, args.seconds)
        time.sleep(1.0 if trace else 0)  # let the last listener events land
    finally:
        _stop_session(spark)

    e2e = {
        "setup_s": (setup_s, 1),
        "wall_s": (statistics.median(walls), len(walls)),
    }
    ctx.layer["spark.peak_rss_mib"] = rss.peak_mib
    extra = {
        "failed_ratio": (failed / attempted, attempted, "ratio"),
        "peak_rss_mib": (rss.peak_mib, 1, "MiB"),
    }
    latencies = [secs for _, secs in ops]
    if len(ops) > len(walls):  # more than one operation per run
        extra["op_p50_s"] = (statistics.median(latencies), len(ops), "s")
        tail = _percentile_with_ten_beyond(latencies)
        if tail:
            extra[f"op_p{tail[0]:.0f}_s"] = (tail[1], len(ops), "s")
        by_op: dict[str, list[float]] = defaultdict(list)
        for name, secs in ops:
            by_op[name].append(secs)
        for name, secs in by_op.items():
            extra[f"op.{name}_p50_s"] = (statistics.median(secs), len(secs), "s")
    if hasattr(wl, "lr_rmse"):
        extra["lr_rmse"] = (wl.lr_rmse, 1, "degF")
    if hasattr(wl, "lsh_recall"):
        extra["lsh_recall"] = (wl.lsh_recall, 1, "ratio")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# {args.workload} seed={args.seed} box={json.dumps(stamp, sort_keys=True)}")
    for name, (v, n) in e2e.items():
        print(f"{name:40s} {v:14.6f} {units[name]:6s} n={n}")
    for name, (v, n, unit) in extra.items():
        print(f"{name:40s} {v:14.6f} {unit:6s} n={n}")
    for note in notes[:20]:
        print(f"FAILED {note}")
    metrics = {}
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        per_layer_names = [m["name"] for m in spec["per_layer"]]
        layer = _layer_metrics(
            tracer, ctx, per_layer_names, len(traced_walls), logs[0], streaming, windows
        )
        layer["trace.wall_s"] = statistics.median(traced_walls)
        layer["trace.untraced_wall_s"] = statistics.median(walls)
        layer["trace.overhead_s"] = layer["trace.wall_s"] - layer["trace.untraced_wall_s"]
        for name in per_layer_names:
            print(f"{name:40s} {layer[name]:14.6f} {units[name]:6s} n={len(traced_walls)}")
        tracer.dump(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"))
        metrics.update({k: {"value": v, "unit": units[k]} for k, v in layer.items()})
    if not args.trace or args.smoke:
        metrics.update({k: {"value": v, "unit": units[k]} for k, (v, _) in e2e.items()})
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": stamp,
        "samples": {k: n for k, (_, n) in e2e.items()},
        "extra": {k: v for k, (v, _, _) in extra.items()},
        "walls": walls,
        "ops": ops,
        "metrics": metrics,
    }
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, one process each."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    rc = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        rc = max(rc, subprocess.run(cmd).returncode)
    return rc


def compare(path_a: str, path_b: str) -> int:
    import box

    with open(path_a, encoding="utf-8") as fa, open(path_b, encoding="utf-8") as fb:
        a, b = json.load(fa), json.load(fb)
    bad = box.box_mismatch(a["box"], b["box"])
    if bad:
        print("refusing to compare results from different boxes: " + "; ".join(bad), file=sys.stderr)
        return 3
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("refusing to compare different workloads or trace modes", file=sys.stderr)
        return 3
    for name in a["metrics"]:
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        ratio = f"{vb / va:8.3f}x" if va else "      --"
        print(f"{name:40s} {va:14.6f} {vb:14.6f} {ratio}")
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            print("usage: run.py compare A.json B.json", file=sys.stderr)
            return 2
        return compare(argv[1], argv[2])
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; report every end-to-end and per-layer metric")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
