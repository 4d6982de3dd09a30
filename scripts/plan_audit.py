"""Full-registry physical-plan inventory -> PLANS.md.

Walks every registered query at sf0.01, extracts the plan features the
100 TB design cares about — scan count, pushed filters, broadcast vs
sort-merge joins, exchange (shuffle) count, map-side partial aggregates,
cartesian products, Arrow stages — and writes a one-line-per-query table
plus aggregate counts.

This complements tests/test_plan_quality.py (hard per-query gates on the
headline plans): the inventory is BREADTH — every query's plan shape on
one page, so a regression (a broadcast that became a sort-merge join, a
filter that stopped pushing) is visible as a diff in PLANS.md at review
time.

Anti-pattern flags (conservative; the gates in test_plan_quality.py stay
authoritative):
- CARTESIAN: CartesianProduct in the plan (broadcast nested loop joins
  against 1-row/driver-literal frames are NOT flagged);
- GLOBAL-WINDOW: a Window operator with an empty partition spec feeding a
  non-LIMIT plan (single-reducer risk) — matched textually.

Usage: python scripts/plan_audit.py [--sf DIR] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import re
import time

import _checkout  # noqa: F401


def features(df) -> dict:
    """The plan counts of ``df``'s physical plan (``executedPlan``, each
    node once); the one plan counter the registry scripts share."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
    return {
        "scans": len(scans),
        "pushed": sum("PushedFilters: [" in ln and "PushedFilters: []" not in ln for ln in scans),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cart": plan.count("CartesianProduct"),
        "exch": plan.count("Exchange"),
        # AQE plans print isFinalPlan=false before execution, so codegen
        # stage markers are absent — count map-side partial aggregates
        # instead (the combine-before-shuffle evidence that matters at
        # scale).
        "partial": len(re.findall(r"partial_(?:sum|count|min|max|avg)", plan)),
        "arrow": plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
        # every Python boundary: the Arrow stages plus UDF evaluation
        "python": sum(
            plan.count(k)
            for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        ),
        "gwin": len(
            re.findall(r"Window .*windowspecdefinition\(((?!.*PARTITION).)*$", plan, re.M)
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from aws_etl_fiap_spark.queries import REGISTRY
    from aws_etl_fiap_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows, failed = [], []
    t0 = time.time()
    for name in sorted(REGISTRY):
        try:
            rows.append((name, features(REGISTRY[name].spark(spark, args.sf))))
        except Exception as exc:  # noqa: BLE001 — inventory, not a gate
            failed.append((name, f"{type(exc).__name__}: {exc}"[:100]))
    took = time.time() - t0

    tot = {k: sum(f[k] for _, f in rows) for k in rows[0][1]} if rows else {}
    with open(args.out, "w") as fh:
        fh.write(
            "# Physical-plan inventory (generated by scripts/plan_audit.py)\n\n"
            f"{len(rows)} query plans at {args.sf}.  Columns:\n"
            "scans / scans-with-pushed-filters, joins (BHJ broadcast, SMJ\n"
            "sort-merge, SHJ shuffled-hash, BNLJ nested-loop), CART cartesian,\n"
            "EXCH exchanges, PARTIAL map-side partial-aggregate functions\n"
            "(combine-before-shuffle), ARROW mapInPandas/grouped-map stages.\n\n"
            f"Aggregate: {tot.get('bhj',0)} broadcast joins vs {tot.get('smj',0)} "
            f"sort-merge ({tot.get('cart',0)} cartesians), "
            f"{tot.get('pushed',0)}/{tot.get('scans',0)} scans carry pushed "
            f"filters, {tot.get('exch',0)} exchanges, {tot.get('partial',0)} partial-agg "
            f"functions, {tot.get('arrow',0)} Arrow stages.\n\n"
            "| query | scans | pushed | BHJ | SMJ | SHJ | BNLJ | CART | EXCH | PARTIAL | ARROW |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, f in rows:
            fh.write(
                f"| {name} | {f['scans']} | {f['pushed']} | {f['bhj']} | {f['smj']} "
                f"| {f['shj']} | {f['bnlj']} | {f['cart']} | {f['exch']} | {f['partial']} "
                f"| {f['arrow']} |\n"
            )
        if failed:
            fh.write("\n## Plan-extraction failures\n\n")
            for name, err in failed:
                fh.write(f"- {name}: {err}\n")
    print(f"{len(rows)} plans, {len(failed)} failures, {took:.0f}s -> {args.out}")
    for name, err in failed:
        print("FAIL", name, err)


if __name__ == "__main__":
    main()
