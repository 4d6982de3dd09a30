"""Driver-protocol simulation: vanilla SparkSession + __spark_entry__ vs DuckDB.

Mirrors the round driver's correctness gate: for every query in
__spark_entry__.queries() (each has an oracle_sql() entry), run both at sf0.01,
sort columns by name, sort rows, compare str()-ized cells EXACTLY.

Usage: python scripts/verify_driver.py [--only name1,name2] [--sf DIR]
"""
import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_etl_fiap_spark.sources.readers import TABLES  # noqa: E402


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(str(r[i]) for i in order))
    out.sort()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    import duckdb
    from pyspark.sql import SparkSession

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

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    queries = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = 0
    failures = []
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
    if failures:
        print("failures:", ",".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
