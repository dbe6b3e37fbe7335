"""Isolated per-query measurement + plan capture (guide §1).

Runs the named declared queries in a fresh session with the bench's
environment (box-sized heap, local[$SPARK_GRAFT_CPUS] defaulting to the
cores this process may run on, JVM warm-up pass), times
each with the noop sink, and, only when ``--tag`` is given, writes
``explain("formatted")`` to ``plans/<plandir>/<name>_<tag>.txt`` so plan
claims are auditable.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--tag TAG [--plandir DIR]] q1 q2 ...
Prints one JSON line per query: {"name":..., "walls":[...], "min":...}.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


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

    for name in args.queries:
        if name not in qs:
            print(json.dumps({"name": name, "error": "unknown query"}))
            continue
        walls = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile: {name}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
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
        print(json.dumps({"name": name, "walls": walls, "min": min(walls)}), flush=True)


if __name__ == "__main__":
    main()
