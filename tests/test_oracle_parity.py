"""Local mirror of the driver's t2 correctness gate: run every registered
Spark query and its DuckDB oracle on the same parquet, compare row count,
column names, and values (order-insensitive, exact for non-floats, tight
tolerance for floats — the driver hashes exactly, so any tolerance hit beyond
last-ulp noise is a bug to fix, not to tolerate).
"""

from __future__ import annotations

import math

import pytest

from aws_etl_fiap_spark.queries import REGISTRY

ABS_TOL = 0.0
REL_TOL = 0.0


def _normalize(rows, columns):
    """Sort columns by name (driver semantics) then rows, normalizing cell
    types so Spark and DuckDB values compare naturally."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if hasattr(v, "isoformat"):  # date/datetime -> ISO string
                v = v.isoformat()
            elif isinstance(v, bool):
                v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t)), [columns[i] for i in order]


def _cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b or str(a) == str(b)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_correctness, duck_correctness):
    qd = REGISTRY[name]
    sdf = qd.spark(spark, sf_correctness)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck_correctness.sql(qd.oracle)
    duck_cols = list(res.columns)
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_norm, cols = _normalize(spark_rows, spark_cols)
    d_norm, _ = _normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (srow, drow) in enumerate(zip(s_norm, d_norm)):
        for c, (sa, db) in enumerate(zip(srow, drow)):
            if not _cells_equal(sa, db):
                mismatches.append((i, cols[c], sa, db))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    assert not mismatches, f"{name}: value mismatches (row, col, spark, duck): {mismatches}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_every_oracle_key_has_query():
    import __spark_entry__ as e

    q = e.queries()
    for name in e.oracle_sql():
        assert name in q
