"""Driver-protocol simulation: vanilla SparkSession + __spark_entry__ vs DuckDB.

Mirrors the round driver's correctness gate: for every query in
__spark_entry__.queries() (each has an oracle_sql() entry), run both at sf0.01,
sort columns by name, sort rows, compare str()-ized cells EXACTLY.

The same sweep screens the types the driver's pandas canonicalizer hashes:
its value hash fails a DuckDB HUGEINT (fetched as float64) against a Spark
LONG (int64) even when the str()-ized values agree (round-1:
pivot_priority_by_status, events_json_agg), and its sort_values crashes on
unhashable cells (round-1: agg_approx_profile, media_extract_features).
Over the collected Spark rows and the oracle's ``.df()`` (fetchall() gives
plain ints and hides the HUGEINT hazard), each query is FLAGged for
  * a list/ndarray/dict/set cell on either side;
  * a column that is int on one side and float on the other.
int32-vs-int64 and datetime64[ns]-vs-[us] hash equal, so they pass.

Exits 1 on any FAIL or FLAG.

Usage: python scripts/verify_driver.py [--only name1,name2] [--sf DIR]
"""
import argparse
import sys
import time

import _checkout  # noqa: F401


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(str(r[i]) for i in order))
    out.sort()
    return out


def unhashable(v):
    import numpy as np

    return isinstance(v, (list, dict, set, np.ndarray))


def dtype_kind(dt):
    s = str(dt)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    return s


def type_hazards(spd, dpd):
    """FLAG reasons for a Spark and an oracle pandas frame with the same
    column names; the first 20 rows stand for each column's cells."""
    flags = []
    for side, pdf in (("spark", spd), ("oracle", dpd)):
        for c in pdf.columns:
            bad = sorted({type(v).__name__ for v in pdf[c].head(20) if unhashable(v)})
            if bad:
                flags.append(f"{side} col {c!r} has unhashable {bad}")
    if len(spd) and len(dpd):
        for c in spd.columns:
            if {dtype_kind(spd[c].dtype), dtype_kind(dpd[c].dtype)} == {"int", "float"}:
                flags.append(
                    f"int/float {c!r}: spark={spd[c].dtype} duck={dpd[c].dtype}"
                    " (HUGEINT hazard)"
                )
    return flags


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    from aws_etl_fiap_spark.queries.registry import oracle_views

    builder = SparkSession.builder.master(args.master)
    if args.shuffle_partitions:
        # Parallelism sweep: exact results must be partition-count invariant
        # (the round driver's session config is not ours to choose).
        builder = builder.config("spark.sql.shuffle.partitions", args.shuffle_partitions)
    spark = builder.getOrCreate()
    import __spark_entry__ as e

    # smoke
    df = e.entry(spark)
    n = df.count()
    assert n >= 0, "entry() returned negative count?!"
    print(f"smoke entry(): {n} rows", flush=True)

    con = oracle_views(duckdb.connect(), args.sf)

    queries = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = 0
    failures, flagged = [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark raised {ex!r}", flush=True)
            n_fail += 1
            failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dpd = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb raised {ex!r}", flush=True)
            n_fail += 1
            failures.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}", flush=True)
            n_fail += 1
            failures.append(name)
            continue
        flags = type_hazards(pd.DataFrame(srows, columns=scols), dpd)
        if flags:
            flagged.append(name)
            print(f"FLAG {name}: " + "; ".join(flags), flush=True)
        a = normalize(srows, scols)
        b = normalize(drows, dcols)
        ok = a == b
        if ok:
            n_pass += 1
            print(f"ok   {name}: {len(a)} rows exact_match=True ({time.time()-t0:.1f}s)", flush=True)
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: exact_match=False spark={len(a)} duck={len(b)}", flush=True)
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff row {i}:\n    spark={x}\n    duck ={y}")
                    break

    print(f"\nSUMMARY: {n_pass} exact, {n_fail} FAIL")
    print(f"{len(flagged)} type flags")
    if failures:
        print("failures:", ",".join(failures))
    if flagged:
        print("flagged:", ",".join(flagged))
    if failures or flagged:
        sys.exit(1)


if __name__ == "__main__":
    main()
