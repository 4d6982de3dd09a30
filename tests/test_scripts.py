"""The registry scripts under ``scripts/`` run from any directory, and share
one plan counter."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
SCRIPT_NAMES = sorted(
    f for f in os.listdir(SCRIPTS) if f.endswith(".py") and not f.startswith("_")
)


def _run(args, cwd, timeout):
    # No inherited PYTHONPATH: the script alone must find its checkout.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=timeout,
    )


@pytest.mark.parametrize("script", SCRIPT_NAMES)
def test_script_help_runs_from_any_directory(tmp_path, script):
    out = _run([os.path.join(SCRIPTS, script), "--help"], tmp_path, 120)
    assert out.returncode == 0, out.stderr[-2000:]


def test_verify_driver_runs_python_stages_from_any_directory(tmp_path, sf_correctness):
    """Spark's Python workers import the package through the PYTHONPATH the
    script exports, not from the working directory: ``media_resize`` runs
    a ``mapInPandas`` stage."""
    out = _run(
        [os.path.join(SCRIPTS, "verify_driver.py"), "--only", "media_resize",
         "--master", "local[2]", "--sf", sf_correctness],
        tmp_path, 600,
    )
    assert "SUMMARY: 1 exact, 0 FAIL" in out.stdout, (out.stdout[-2000:], out.stderr[-2000:])
    assert "0 type flags" in out.stdout
    assert out.returncode == 0


@pytest.fixture
def scripts_importable(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    # importing a script exports the checkout on PYTHONPATH; undo it after
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))


def test_plan_counter_counts_each_exchange_once(spark, scripts_importable):
    """``explain("formatted")`` lists every node twice (tree and details);
    the shared counter reads the physical plan, where the one shuffle of a
    repartition is one Exchange."""
    from plan_audit import features

    assert features(spark.range(10).repartition(3))["exch"] == 1


def test_type_screen_flags_hugeint_and_unhashable_cells(scripts_importable):
    """The driver's pandas canonicalizer fails an uncast DuckDB integer SUM
    (HUGEINT, fetched as float64) against a Spark int64, and crashes on
    list cells; a BIGINT cast and scalar cells pass."""
    import duckdb
    import pandas as pd
    from verify_driver import type_hazards

    spark_side = pd.DataFrame([("a", 3)], columns=["k", "s"])
    con = duckdb.connect()
    uncast = con.execute("SELECT 'a' AS k, SUM(x) AS s FROM range(3) t(x)").df()
    cast = con.execute("SELECT 'a' AS k, CAST(SUM(x) AS BIGINT) AS s FROM range(3) t(x)").df()
    assert type_hazards(spark_side, uncast) == [
        "int/float 's': spark=int64 duck=float64 (HUGEINT hazard)"
    ]
    assert type_hazards(spark_side, cast) == []
    listy = pd.DataFrame([("a", [1, 2])], columns=["k", "s"])
    assert type_hazards(listy, cast) == ["spark col 's' has unhashable ['list']"]
