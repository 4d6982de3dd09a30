"""Static type screen over every registered DuckDB oracle.

Round-6 post-mortem: all five driver hash failures were oracles whose
integer SUM produced a DuckDB HUGEINT (int128) — rendered as float64 by
the driver's pandas fetch, as int by the local fetchall() twin, so the
divergence was INVISIBLE to the str()-compare gate and only the driver
caught it.  This test closes the class permanently: DESCRIBE every oracle
(plan-only — no query execution, no Spark, runs in seconds) and fail on
any HUGEINT/UHUGEINT output column.  The fix is always the same: wrap the
expression in CAST(... AS BIGINT) (registry.py module docstring).

The FLAG screen in scripts/verify_driver.py remains the deeper dynamic
check (runs both engines, also catches unhashable cells and int/float
dtype splits); this test is the cheap always-on guard.
"""

from __future__ import annotations

import duckdb

BANNED = {"HUGEINT", "UHUGEINT"}


def test_no_oracle_emits_hugeint(duck_smoke):
    from aws_etl_fiap_spark import queries  # noqa: F401  (populate REGISTRY)
    from aws_etl_fiap_spark.queries.registry import REGISTRY

    bad = {}
    for name, d in REGISTRY.items():
        try:
            cols = duck_smoke.execute(f"DESCRIBE {d.oracle}").fetchall()
        except duckdb.Error as ex:  # pragma: no cover - surfaced as failure
            bad[name] = f"DESCRIBE failed: {ex}"
            continue
        hot = [
            (c[0], c[1])
            for c in cols
            if any(b in str(c[1]).upper() for b in BANNED)
        ]
        if hot:
            bad[name] = hot
    assert not bad, (
        "oracles with HUGEINT output columns (driver pandas fetch renders "
        f"these as float64 -> hash mismatch): {bad}"
    )
