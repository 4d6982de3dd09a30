"""Per-query profiling for the bench set (guide §1: measure first).

For each query: time it with bench.py's loop (one cold run, then ``--runs``
steady ``count()`` runs), optionally a ``noop``-sink write (full
materialization, guide §1.4), and record the number of Spark jobs/stages/tasks
the last steady run launches (statusTracker over a per-query job group), the
classes Janino compiles during it (``compiles``: nonzero means a steady run
missed the codegen cache), and the plan's Exchange and Python-node counts
(plan_audit.features, the counter behind PLANS.md's EXCH column).
Writes JSON to plans/r14/profile_<tag>.json and the ``explain("formatted")``
text per query to plans/r14/<name>_<tag>.txt.

Usage: python scripts/profile_bench.py <tag> [--only a,b,c] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import time
from contextlib import contextmanager

from _checkout import ROOT

import bench
from aws_etl_fiap_spark.queries import REGISTRY
from aws_etl_fiap_spark.session import codegen_compiles, get_spark
from plan_audit import features


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("--only", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink write")
    args = ap.parse_args()

    names = [n for n in bench.HEADLINE + bench.REPRESENTATIVE if n in REGISTRY]
    if args.only:
        names = [n for n in args.only.split(",") if n in REGISTRY]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_bench")
    sc = spark.sparkContext
    out_dir = os.path.join(ROOT, "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)

    compiled = {}

    @contextmanager
    def accounted(name, i):
        sc.setJobGroup(f"{name}-run{i}", name)
        before = codegen_compiles(spark)
        yield
        compiled[name] = codegen_compiles(spark) - before
        sc.setJobGroup(None, None)

    out: dict[str, dict] = {}
    for name, _, cold, runs in bench.time_queries(spark, sf_dir, names, args.runs, accounted):
        fn = REGISTRY[name].spark
        df = fn(spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
        plan = features(df)
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
            "compiles": compiled[name],
            "exchanges": plan["exch"],
            "python_nodes": plan["python"],
        }
        if args.noop:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            rec["noop"] = round(time.perf_counter() - t0, 4)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    path = os.path.join(out_dir, f"profile_{args.tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
