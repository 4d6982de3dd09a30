"""Type-level oracle audit: mimic the round driver's pandas canonicalizer.

The driver hashes pandas-typed values, so a DuckDB HUGEINT (-> object/float)
vs Spark LONG (-> int64) mismatch fails the value-hash even when str()-ized
values agree (round-1: pivot_priority_by_status, events_json_agg).  The local
str()-based verify cannot see this; this audit can.

For every query with an oracle, at sf0.001 (types are schema-level):
  * run Spark + DuckDB, convert both to pandas the way the driver does
    (pd.DataFrame over fetched rows), sort columns by name;
  * FLAG any cell that is unhashable (list/ndarray/dict) -- these crash the
    driver's sort_values (round-1: agg_approx_profile, media_extract_features);
  * FLAG any column whose pandas dtype differs between the two sides;
  * FLAG any object-dtype column whose element python types differ.

Usage: python scripts/audit_types.py [--sf DIR] [--only a,b]
"""
import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_etl_fiap_spark.sources.readers import TABLES  # noqa: E402


def canon(rows, cols):
    import pandas as pd

    df = pd.DataFrame(list(rows), columns=list(cols))
    return df[sorted(df.columns)]


def cell_kind(v):
    import numpy as np

    if isinstance(v, (list, dict, set, np.ndarray)):
        return f"UNHASHABLE:{type(v).__name__}"
    return type(v).__name__


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    queries, oracles = e.queries(), e.oracle_sql()
    n_flag = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        flags = []
        try:
            sdf = fn(spark, args.sf)
            spd = canon([tuple(r) for r in sdf.collect()], sdf.columns)
        except Exception as ex:
            print(f"ERR  {name}: spark raised {ex!r}")
            n_flag += 1
            continue
        # unhashable cells break the driver canonicalizer even without oracle
        for c in spd.columns:
            head = spd[c].head(20)
            bad = {cell_kind(v) for v in head if cell_kind(v).startswith("UNHASHABLE")}
            if bad:
                flags.append(f"spark col {c!r} has {sorted(bad)}")
        if name in oracles:
            try:
                # .df(), not fetchall(): duckdb's pandas conversion is what the
                # driver hashes, and it maps HUGEINT->float64 (fetchall() gives
                # plain ints and hides the mismatch).
                raw = con.execute(oracles[name]).df()
                dpd = raw[sorted(raw.columns)]
            except Exception as ex:
                print(f"ERR  {name}: duckdb raised {ex!r}")
                n_flag += 1
                continue
            if list(spd.columns) != list(dpd.columns):
                flags.append(f"cols differ: {list(spd.columns)} vs {list(dpd.columns)}")
            else:
                # Round-1 driver evidence: int32-vs-int64 and datetime64[ns]-vs-[us]
                # hash EQUAL; int-vs-float (DuckDB HUGEINT->float64) and unhashable
                # list cells FAIL.  Flag only the fatal classes.
                def kind(dt):
                    s = str(dt)
                    if s.startswith("int") or s.startswith("uint"):
                        return "int"
                    if s.startswith("float"):
                        return "float"
                    if s.startswith("datetime"):
                        return "ts"
                    return s
                for c in spd.columns:
                    for v in dpd[c].head(20):
                        k = cell_kind(v)
                        if k.startswith("UNHASHABLE"):
                            flags.append(f"oracle col {c!r} has {k}")
                            break
                    sk, dk = kind(spd[c].dtype), kind(dpd[c].dtype)
                    if len(spd) and len(dpd) and {sk, dk} == {"int", "float"}:
                        flags.append(
                            f"int/float {c!r}: spark={spd[c].dtype} duck={dpd[c].dtype}"
                            " (HUGEINT hazard)"
                        )
        if flags:
            n_flag += 1
            print(f"FLAG {name}: " + "; ".join(flags))
        else:
            print(f"ok   {name}")
    print(f"\n{n_flag} flagged")
    sys.exit(1 if n_flag else 0)


if __name__ == "__main__":
    main()
