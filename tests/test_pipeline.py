"""End-to-end pipeline test: the reference's EP1->EP2->EP3 chain (collect ->
raw layer -> refined layer -> catalog -> SQL) against the deterministic
fixture source, including the hyphenated ``stock-splits`` identifier
round-trip, the dynamic-partition-overwrite semantics, and the stage task
counts that size the fetch and the layer writes to the session's task
slots."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from aws_etl_fiap_spark.plans import pipeline
from aws_etl_fiap_spark.sources.ingest import collect_keys, fixture_fetcher
from aws_etl_fiap_spark.sources.writers import write_partitioned

KEYS = ["PETR4", "VALE3", "ITUB4", "BBDC4", "ABEV3"]
GROUP = "test_pipeline"


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    """One pipeline run under the job group ``GROUP``; each layer write
    runs under ``GROUP:<layer>`` so its stages can be told apart."""
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    sc = spark.sparkContext

    def grouped_write(df, path, *args, **kwargs):
        sc.setJobGroup(f"{GROUP}:{os.path.basename(path)}", path)
        try:
            write_partitioned(df, path, *args, **kwargs)
        finally:
            sc.setJobGroup(GROUP, "run_pipeline")

    sc.setJobGroup(GROUP, "run_pipeline")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(pipeline, "write_partitioned", grouped_write)
            return pipeline.run_pipeline(spark, warehouse, KEYS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _stage_tasks(spark, group: str) -> dict[int, int]:
    """Task count of every stage of every job run under ``group``."""
    st = spark.sparkContext.statusTracker()
    tasks = {}
    for jid in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks[sid] = info.numTasks
    return tasks


def test_stages_sized_to_task_slots(result, spark):
    """Task counts, unlike timings, do not depend on machine load: no
    pipeline stage fans out wider than the session's task slots, and the
    refined write runs on every slot (AQE may not fold it into one task)."""
    slots = spark.sparkContext.defaultParallelism
    writes = {layer: _stage_tasks(spark, f"{GROUP}:{layer}") for layer in ("raw", "refined")}
    stages = {**_stage_tasks(spark, GROUP), **writes["raw"], **writes["refined"]}
    assert writes["raw"] and writes["refined"]
    assert max(stages.values()) <= slots, stages
    # The write itself is the last stage of the refined write's last job.
    assert writes["refined"][max(writes["refined"])] == slots, writes["refined"]


def test_refined_layout_one_file_per_partition(result):
    """Each (dataproc, ticker) directory is written by exactly one task."""
    dataprocs = [os.path.basename(d) for d in glob.glob(f"{result.raw_path}/dataproc=*")]
    assert dataprocs
    for dp in dataprocs:
        dirs = glob.glob(f"{result.refined_path}/{dp}/ticker=*")
        assert sorted(os.path.basename(d) for d in dirs) == sorted(f"ticker={k}" for k in KEYS)
        for d in dirs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d


@pytest.mark.parametrize("extra", [-3, 3])
def test_collect_keys_one_partition_per_task_slot(spark, extra):
    slots = spark.sparkContext.defaultParallelism
    keys = [f"K{i:03d}" for i in range(max(1, slots + extra))]
    df = collect_keys(spark, keys)
    assert df.rdd.getNumPartitions() == min(len(keys), slots)


def test_collect_keys_failed_fetch_drops_only_that_key(spark):
    keys = ["PETR4", "VALE3", "BROKEN", "ITUB4"]

    def fetcher(key):
        if key == "BROKEN":
            raise ConnectionError(key)
        return fixture_fetcher(key)

    rows = collect_keys(spark, keys, fetcher).groupBy("ticker").count().collect()
    assert {r.ticker: r["count"] for r in rows} == {k: 22 for k in keys if k != "BROKEN"}


def test_raw_layer(result, spark):
    assert result.raw_count == len(KEYS) * 22
    raw = spark.read.parquet(result.raw_path)
    # Normalization produced the reference's hyphenated column (S2/P6).
    assert "stock-splits" in raw.columns
    assert "dataproc" in raw.columns  # partition col recovered from layout


def test_refined_layer(result, spark):
    refined = spark.read.parquet(result.refined_path)
    assert result.refined_count == result.raw_count
    # lag(7): first 7 rows per ticker have NULL variacao_7d.
    nulls = refined.filter(F.col("variacao_7d").isNull()).groupBy("ticker").count().collect()
    assert all(r["count"] == 7 for r in nulls)


def test_catalog_sql_surface(result, spark):
    """EP3: the canonical Athena query works against the registered tables."""
    out = spark.sql(
        """
        SELECT ticker, COUNT(*) AS n, ROUND(AVG(preco_fechamento), 2) AS avg_price
        FROM b3_data.stocks_refined
        GROUP BY ticker ORDER BY ticker
        """
    ).collect()
    assert len(out) == len(KEYS)
    assert all(r.n == 22 for r in out)
    # Hyphenated identifier through SQL needs backticks (reference quirk).
    raw_cols = spark.sql("SELECT `stock-splits` FROM b3_data.stocks LIMIT 1").columns
    assert raw_cols == ["stock-splits"]


def test_summary_matches_detail(result):
    summary = result.summary.collect()
    assert len(summary) == len(KEYS)  # one month per ticker in the fixture
    assert all(r.total_registros == 22 for r in summary)


def test_dynamic_partition_overwrite(result, spark):
    """Re-writing one dataproc partition must not clobber the others."""
    refined = spark.read.parquet(result.refined_path)
    parts_before = {r.dataproc for r in refined.select("dataproc").distinct().collect()}
    one_ticker = refined.filter(F.col("ticker") == KEYS[0]).withColumn(
        "dataproc", F.lit("19990101")
    )
    one_ticker.write.mode("overwrite").partitionBy("dataproc", "ticker").parquet(
        result.refined_path
    )
    after = spark.read.parquet(result.refined_path)
    parts_after = {r.dataproc for r in after.select("dataproc").distinct().collect()}
    assert parts_after == parts_before | {"19990101"}


def test_analyze_table_feeds_cbo(spark, sf_correctness, tmp_path):
    """ANALYZE must record table stats the optimizer can see: the logical
    plan's sizeInBytes for the analyzed table should equal the catalog stat
    rather than a default guess, and rowCount should be exact."""
    from aws_etl_fiap_spark.sources.catalog import analyze_table, register_table
    from aws_etl_fiap_spark.sources.readers import load_table

    src = load_table(spark, sf_correctness, "nation")
    loc = str(tmp_path / "nation_tbl")
    src.write.mode("overwrite").parquet(loc)
    register_table(spark, src, "statsdb", "nation_stats", loc)
    try:
        stats = analyze_table(spark, "statsdb", "nation_stats", columns=["n_nationkey"])
        assert "Statistics" in stats
        assert f"{src.count()} rows" in stats["Statistics"]
        # The optimizer sees the recorded rowCount on the table's plan.
        rel = spark.table("statsdb.nation_stats")
        row_count = (
            rel._jdf.queryExecution().optimizedPlan().stats().rowCount()
        )
        assert row_count.isDefined() and int(str(row_count.get())) == src.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS statsdb.nation_stats")


def test_update_external_table_schema_evolution(spark, tmp_path):
    """Reference b3_transform.py:139-199: re-registering after a schema
    change must evolve the catalog WITHOUT dropping data (EXTERNAL drop is
    metadata-only)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.sources.catalog import update_external_table

    loc = str(tmp_path / "evolving")
    v1 = spark.range(3).select(F.col("id"), F.lit("x").alias("a"))
    v1.write.mode("overwrite").parquet(loc)
    assert update_external_table(spark, v1, "evo_db", "t", loc) == "created"
    assert update_external_table(spark, v1, "evo_db", "t", loc) == "unchanged"

    # New column appended: old files read it as NULL, nothing rewritten.
    v2 = v1.withColumn("b", F.lit(1).cast("long"))
    v2.limit(0).write.mode("append").parquet(loc)
    assert update_external_table(spark, v2, "evo_db", "t", loc) == "altered"
    got = spark.table("evo_db.t")
    assert set(got.columns) == {"id", "a", "b"}
    assert got.count() == 3

    # Type change: re-declare in place; data files survive.
    v3 = v1.withColumn("a", F.lit(2.5))
    assert update_external_table(spark, v3, "evo_db", "t", loc) == "recreated"
    assert spark.table("evo_db.t").count() == 3
    spark.sql("DROP TABLE IF EXISTS evo_db.t")


def test_update_external_table_refuses_managed_drop(spark, tmp_path):
    """A type change must NOT drop a MANAGED table that happens to share the
    name: managed drop deletes the data files, contradicting the metadata-only
    contract (round-2 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.sources.catalog import update_external_table

    spark.sql("CREATE DATABASE IF NOT EXISTS evo_db2")
    v1 = spark.range(3).select(F.col("id"), F.lit("x").alias("a"))
    try:
        v1.write.mode("overwrite").saveAsTable("evo_db2.managed_t")  # MANAGED
        v_changed = v1.withColumn("a", F.lit(2.5))
        with pytest.raises(ValueError, match="not an EXTERNAL table"):
            update_external_table(
                spark, v_changed, "evo_db2", "managed_t", str(tmp_path / "loc")
            )
        # The managed table (and its data) must be untouched.
        assert spark.table("evo_db2.managed_t").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS evo_db2.managed_t")


def test_cli_shim_runs_pipeline(tmp_path):
    """S10/S11: the argparse twin of getResolvedOptions drives the full
    pipeline."""
    import json

    from aws_etl_fiap_spark import cli

    out = tmp_path / "wh"
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["--warehouse", str(out), "--keys", "AAAA3,BBBB4", "--cpus", "8"])
    assert rc == 0
    payload = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert payload["raw_rows"] > 0 and payload["refined_rows"] > 0


def test_driver_mem_resolved_at_call_time(monkeypatch):
    """ADVICE r12 medium: SPARK_GRAFT_DRIVER_MEM must be honored even when
    set AFTER aws_etl_fiap_spark.session is imported (scale_smoke's 48g
    default used to be inert because the old module-level constant froze
    the env at import time)."""
    from aws_etl_fiap_spark import session

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert session._default_driver_mem() == "7g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session._default_driver_mem() == (
        f"{max(8, session.DEFAULT_LOCAL_CPUS // 2)}g"
    )
