#!/usr/bin/env python3
"""Phase decomposition for one store-backed render query: times the
store build (Engine.write), the bounds acquisition, the render PLAN
(building the DataFrame: fetch plans, render compile) and the render
EXECUTION separately, so write- and plan-cost claims are measurable per
phase. Each render phase also reports how many Spark jobs it ran — a
plan-time job is setup work the request pays before it executes.

Usage: python tools/store_decompose.py [--sf DIR] [--reps N]
Prints one JSON line per rep: {"write": s, "bounds": s, "render_plan": s,
"render_plan_jobs": n, "render_exec": s, "render_exec_jobs": n, "total": s}.
Uses graphite_render_group_order's store (the heaviest store-family
query) rebuilt the same way the query builds it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    while args:
        if args[0] == "--sf":
            sf_dir = args[1]
            args = args[2:]
        elif args[0] == "--reps":
            reps = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown arg {args[0]}")

    from pyspark.sql import functions as F

    from kenshin_backup_spark.api import Engine
    from kenshin_backup_spark.cache import clear_tracked
    from kenshin_backup_spark.operators.policies import Policy
    from kenshin_backup_spark.plans import spark_jobs
    from kenshin_backup_spark.queries.batch80 import _store_points
    from kenshin_backup_spark.queries.batch83 import _T_BRANCH, _T_SORTED
    from kenshin_backup_spark.session import get_spark
    from kenshin_backup_spark.sources.tables import staged_path

    spark = get_spark("kenshin-store-decompose")
    for _ in range(reps):
        clear_tracked()
        spark.catalog.clearCache()
        pts = _store_points(spark, sf_dir)
        eng = Engine(
            spark,
            staged_path(sf_dir, "grouporder_store", tables=("events",)),
            policies=[Policy(name="hourly", pattern=".*", steps=(3600,),
                             agg="max")],
        )
        t0 = time.perf_counter()
        try:
            bounds = eng.write(pts, observe_bounds=True)
        except TypeError:  # pre-r16 Engine.write (A/B against old code)
            eng.write(pts)
            bounds = None
        t1 = time.perf_counter()
        if bounds is None:  # old-code path: separate bounds scan
            es = F.unix_timestamp("ts").cast("long")
            bd = pts.agg(F.min(es).alias("lo"), F.max(es).alias("hi")).collect()[0]
            bounds = (bd.lo, bd.hi)
        t2 = time.perf_counter()
        lo = bounds[0] - bounds[0] % 86400
        # the clocks stop inside each block: the job counter's closing
        # sentinel job is not part of either phase
        with spark_jobs(spark) as plan:
            out = eng.render_many([_T_SORTED, _T_BRANCH], lo, bounds[1] + 1)
            t3 = time.perf_counter()
        with spark_jobs(spark) as run:
            t4 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            t5 = time.perf_counter()
        print(json.dumps({
            "write": round(t1 - t0, 3),
            "bounds": round(t2 - t1, 3),
            "render_plan": round(t3 - t2, 3),
            "render_plan_jobs": plan["jobs"],
            "render_exec": round(t5 - t4, 3),
            "render_exec_jobs": run["jobs"],
            "total": round(t3 - t0 + t5 - t4, 3),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
