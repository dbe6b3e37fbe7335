"""Isolated per-query measurement + plan capture (guide §1).

Runs the named declared queries in a fresh session with the bench's
environment (box-sized heap, local[$SPARK_GRAFT_CPUS] defaulting to the
cores this process may run on, JVM warm-up pass), times
each with the noop sink, and, only when ``--tag`` is given, writes
``explain("formatted")`` to ``plans/<plandir>/<name>_<tag>.txt`` so plan
claims are auditable.

Each run splits into a build (calling the query function, which builds
the plan in Python over py4j) and an execute (the noop write). A query
whose build is a large share of its wall is bound by py4j round trips, not
by Spark.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--tag TAG [--plandir DIR]] q1 q2 ...
Prints one JSON line per query: {"name":..., "walls":[...], "min":...,
"build_walls":[...], "build_round_trips":[...], "execute_walls":[...]}.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import threading
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class RoundTrips:
    """Counts the py4j commands this thread sends to the JVM while ``on``
    (py4j's finalizer thread, which deletes garbage JVM references, is
    left out)."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self.n, self.on = 0, False
        send = ClientServerConnection.send_command
        caller = threading.get_ident()

        def counting(conn, command, *args, **kwargs):
            if self.on and threading.get_ident() == caller:
                self.n += 1
            return send(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = counting


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default=None, help="write plans/<dir>/<q>_<tag>.txt")
    ap.add_argument("--plandir", default="r12", help="subdir of plans/ for --tag output")
    args = ap.parse_args()

    from perfbench import box

    # the bench's box-sized defaults (bench.py, perfbench/box.py)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{box.heap_mib(box.mem_total_mib())}m")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(box.cpus()))

    from pyspark.sql import functions as F

    from pyspark_weather_forecasting_gsod_spark.plans import queries
    from pyspark_weather_forecasting_gsod_spark.session import get_spark

    spark = get_spark("gsod-profile", master=f"local[{cpus}]")
    qs = queries()

    # JVM warm-up (same as bench.py): strip the fresh-JVM first-query spike
    warm = spark.read.parquet(os.path.join(args.sf, "nation.parquet"))
    warm.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("c")).write.format(
        "noop"
    ).mode("overwrite").save()

    rt = RoundTrips()
    for name in args.queries:
        if name not in qs:
            print(json.dumps({"name": name, "error": "unknown query"}))
            continue
        walls, builds, trips, executes = [], [], [], []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile: {name}")
            rt.n, rt.on = 0, True
            t0 = time.time()
            df = qs[name](spark, args.sf)
            t1 = time.time()
            rt.on = False
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            walls.append(round(t2 - t0, 3))
            builds.append(round(t1 - t0, 3))
            trips.append(rt.n)
            executes.append(round(t2 - t1, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        if args.tag:
            out_dir = os.path.join(REPO, "plans", args.plandir)
            os.makedirs(out_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        print(json.dumps({
            "name": name, "walls": walls, "min": min(walls), "build_walls": builds,
            "build_round_trips": trips, "execute_walls": executes,
        }), flush=True)


if __name__ == "__main__":
    main()
