"""Per-query profiling for the bench set (guide §1: measure first).

For each query: warm once, then time ``count()`` (the bench action) and a
``noop``-sink write (full materialization, guide §1.4), and record the number
of Spark jobs/stages/tasks the steady run launches (statusTracker over a
per-query job group) and the classes Janino compiles during it
(``compiles``: nonzero means a steady run missed the codegen cache).
Writes JSON to plans/r14/profile_<tag>.json and the ``explain("formatted")``
text per query to plans/r14/<name>_<tag>.txt.

Usage: python scripts/profile_bench.py <tag> [--only a,b,c] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_etl_fiap_spark.queries import REGISTRY  # noqa: E402
from aws_etl_fiap_spark.session import codegen_compiles, get_spark  # noqa: E402

BENCH_NAMES = None  # filled in main from bench.py lists


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("--only", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink write")
    args = ap.parse_args()

    import bench

    names = [n for n in bench.HEADLINE + bench.REPRESENTATIVE if n in REGISTRY]
    if args.only:
        names = [n for n in args.only.split(",") if n in REGISTRY]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_bench")
    sc = spark.sparkContext
    os.makedirs(os.path.join(REPO, "plans", "r14"), exist_ok=True)

    # Warmup
    REGISTRY["flagship_refined_summary"].spark(spark, sf_dir).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].spark
        df = fn(spark, sf_dir)
        # plan text
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(REPO, "plans", "r14", f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(plan)
        # cold run (per-process first execution of this plan)
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        cold = time.perf_counter() - t0
        # steady runs with job accounting on the last one
        runs = []
        for i in range(args.runs):
            group = f"{name}-run{i}"
            sc.setJobGroup(group, name)
            compiled = codegen_compiles(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            compiled = codegen_compiles(spark) - compiled
            sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(f"{name}-run{args.runs - 1}")
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        rec = {
            "cold": round(cold, 4),
            "best": round(min(runs), 4),
            "spread": round(max(runs) - min(runs), 4),
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": n_tasks,
            "compiles": compiled,
            "exchanges": plan.count("Exchange"),
            "python_nodes": sum(
                plan.count(k)
                for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
            ),
        }
        if args.noop:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            rec["noop"] = round(time.perf_counter() - t0, 4)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    path = os.path.join(REPO, "plans", "r14", f"profile_{args.tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
