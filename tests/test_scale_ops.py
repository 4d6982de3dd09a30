"""Scale-mechanics tests: salting must be value-identical to the straight
plan, and bucketing must actually remove the join exchange from the physical
plan (the property is asserted on the plan, not assumed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.skew import salted_agg, salted_join
from aws_etl_fiap_spark.sources.readers import load_table
from aws_etl_fiap_spark.sources.writers import write_bucketed


def test_salted_agg_equals_plain(spark, sf_correctness):
    li = load_table(spark, sf_correctness, "lineitem")
    salted = salted_agg(
        li,
        keys=["l_returnflag"],
        sum_cols=["l_quantity", "l_extendedprice"],
        salt_source=["l_orderkey", "l_linenumber"],
        n_salts=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double").alias("sum_l_quantity"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("sum_l_extendedprice"),
    )
    got = {r.l_returnflag: (r.n_rows, r.sum_l_quantity, r.sum_l_extendedprice)
           for r in salted.collect()}
    want = {r.l_returnflag: (r.n_rows, r.sum_l_quantity, r.sum_l_extendedprice)
            for r in plain.collect()}
    assert got == want


def test_salted_join_equals_plain(spark, sf_correctness):
    orders = load_table(spark, sf_correctness, "orders")
    cust = load_table(spark, sf_correctness, "customer").select("c_custkey", "c_mktsegment")
    salted = salted_join(
        orders, cust, "o_custkey", "c_custkey", salt_source=["o_orderkey"], n_salts=8
    ).select("o_orderkey", "c_mktsegment")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_mktsegment"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_partition_pruning_in_plan(spark, sf_correctness, tmp_path):
    """A filter on the partition column must become a PartitionFilters entry
    (directory pruning — scans only matching partitions), not a post-scan
    predicate over the full table."""
    li = load_table(spark, sf_correctness, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_by_year")
    li.write.mode("overwrite").partitionBy("ship_year").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("ship_year") == 1996)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ship_year" in plan.split("PartitionFilters")[1].split("]")[0]
    expected = li.filter(F.col("ship_year") == 1996).count()
    assert scan.count() == expected


def test_bucketed_join_has_no_exchange(spark, sf_correctness, tmp_path):
    """Two tables bucketed on the join key by the same bucket count must
    sort-merge join with zero Exchange operators — co-location is the whole
    point of paying the bucketed write."""
    orders = load_table(spark, sf_correctness, "orders")
    cust = load_table(spark, sf_correctness, "customer")
    write_bucketed(
        orders, "b_orders", ["o_custkey"], 8,
        path=str(tmp_path / "b_orders"), sort_cols=["o_custkey"],
    )
    write_bucketed(
        cust, "b_customer", ["c_custkey"], 8,
        path=str(tmp_path / "b_customer"), sort_cols=["c_custkey"],
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # And it still computes the right thing.
            n_joined = joined.count()
            n_expected = (
                orders.join(cust, orders.o_custkey == cust.c_custkey).count()
            )
            assert n_joined == n_expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_write_partitioned_caps_rows_per_file(spark, tmp_path):
    """``target_file_rows`` bounds every file: one Hive partition of 250
    rows at 100 rows per file lands as ceil(250 / 100) = 3 files."""
    import glob

    from aws_etl_fiap_spark.sources.writers import write_partitioned

    path = str(tmp_path / "capped")
    src = spark.range(250).select(F.col("id"), F.lit("x").alias("p"))
    write_partitioned(src, path, ["p"], target_file_rows=100)

    assert len(glob.glob(f"{path}/p=x/*.parquet")) == 3
    got = sorted(r.id for r in spark.read.parquet(path).filter(F.col("p") == "x").collect())
    assert got == list(range(250))


def test_compact_partitions_shrinks_files_preserves_values(spark, sf_correctness, tmp_path):
    from aws_etl_fiap_spark.sources.writers import compact_partitions

    path = str(tmp_path / "littered")
    src = load_table(spark, sf_correctness, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    # Simulate a sliver-littered sink: every task writes into every partition.
    src.repartition(24).write.partitionBy("o_year").parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).select("o_orderkey", "o_totalprice").collect()))

    stats = compact_partitions(spark, path, ["o_year"], target_rows_per_file=1_000_000)

    assert stats["files_after"] <= stats["partitions"], stats
    assert stats["files_after"] < stats["files_before"] // 4, stats
    got = sorted(map(tuple, spark.read.parquet(path).select("o_orderkey", "o_totalprice").collect()))
    assert got == want
    # Staging directory must be gone after the swap.
    import os
    assert not os.path.exists(path + "__compact_staging")


def test_compact_partitions_recovers_crashed_swap(spark, sf_correctness, tmp_path):
    """If a previous run died between rename(path -> backup) and
    rename(staging -> path), the backup is the ONLY copy.  A subsequent run
    must restore it, not delete it as a 'stale backup' (round-2 advice)."""
    import os

    from aws_etl_fiap_spark.sources.writers import compact_partitions

    path = str(tmp_path / "tbl")
    src = load_table(spark, sf_correctness, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    src.repartition(8).write.partitionBy("o_year").parquet(path)
    want = sorted(
        map(tuple, spark.read.parquet(path).select("o_orderkey", "o_totalprice").collect())
    )
    # Simulate the crash window: live generation renamed aside, new one never
    # landed.
    os.rename(path, path + "__compact_old")
    assert not os.path.exists(path)

    stats = compact_partitions(spark, path, ["o_year"], target_rows_per_file=1_000_000)

    assert not os.path.exists(path + "__compact_old")
    got = sorted(
        map(tuple, spark.read.parquet(path).select("o_orderkey", "o_totalprice").collect())
    )
    assert got == want
    assert stats["files_after"] <= stats["partitions"], stats


def test_writepath_queries_honor_sink_dir_override(spark, sf_smoke, tmp_path, monkeypatch):
    """Both write-path gates must land their sinks under SPARK_GRAFT_SINK_DIR
    (round-5 verdict #5): on a real cluster executors cannot reach the
    driver's /tmp, so the override is the only cluster-honest path.  Run
    both at sf0.001 with the override pointed at tmp_path and assert every
    sink directory was created there (captured before each query's own
    cleanup deletes it)."""
    import tempfile as _tempfile

    from aws_etl_fiap_spark.queries.writepath_q import (
        bucketed_join_colocated_agg,
        roundtrip_partitioned_agg,
    )

    sink = tmp_path / "sink_override"
    sink.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SINK_DIR", str(sink))
    made = []
    real_mkdtemp = _tempfile.mkdtemp

    def spy_mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(_tempfile, "mkdtemp", spy_mkdtemp)

    assert roundtrip_partitioned_agg(spark, sf_smoke).count() > 0
    assert bucketed_join_colocated_agg(spark, sf_smoke).count() > 0
    assert len(made) == 2, f"expected one sink dir per query: {made}"
    stray = [p for p in made if not p.startswith(str(sink))]
    assert not stray, f"sink dirs ignored SPARK_GRAFT_SINK_DIR: {stray}"


def test_scratch_sink_honors_override_and_always_cleans_up(tmp_path, monkeypatch):
    """scratch_sink puts its directory under SPARK_GRAFT_SINK_DIR and
    deletes it on normal exit and when the block raises (no Spark)."""
    import os

    import pytest

    from aws_etl_fiap_spark.sources.writers import scratch_sink

    monkeypatch.setenv("SPARK_GRAFT_SINK_DIR", str(tmp_path))
    with scratch_sink("unit_") as d:
        assert os.path.dirname(d) == str(tmp_path)
        assert os.path.basename(d).startswith("unit_")
        with open(os.path.join(d, "part-0"), "w") as fh:
            fh.write("x")
    assert not os.path.exists(d)

    with pytest.raises(ValueError, match="boom"):
        with scratch_sink("unit_") as d:
            os.mkdir(os.path.join(d, "nested"))
            raise ValueError("boom")
    assert not os.path.exists(d)
    assert os.listdir(tmp_path) == []


def test_upsert_partitioned_merge_semantics(spark, tmp_path):
    """upsert_partitioned must replace matching keys, insert new ones,
    relocate partition-movers WITHOUT leaving the old copy behind, and drop
    a partition whose every row merged away (the phantom-directory case)."""
    import os

    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    path = str(tmp_path / "t")
    rows = [(k, 1, float(k)) for k in range(10)] + [(k, 2, float(k)) for k in range(10, 20)]
    spark.createDataFrame(rows, "k long, p int, v double").write.partitionBy(
        "p"
    ).parquet(path)
    # Batch: update k=0 in place; move ALL of p=1 (k 0..9) to p=3 except
    # k=0; insert k=100 into p=4; update k=15 in p=2 in place.
    batch_rows = (
        [(0, 1, 999.0)]
        + [(k, 3, float(k)) for k in range(1, 10)]
        + [(100, 4, 100.0), (15, 2, -15.0)]
    )
    batch = spark.createDataFrame(batch_rows, "k long, p int, v double")
    stats = upsert_partitioned(
        spark, path, batch, ["k"], ["p"], keys_partition_stable=False
    )
    # The repo session disables partition-column type inference (string
    # partition values by design); normalize for comparison.
    got = {(r.k, int(r.p), r.v) for r in spark.read.parquet(path).collect()}
    expect = set(batch_rows) | {(k, 2, float(k)) for k in range(10, 20) if k != 15}
    assert got == expect
    assert stats["affected_partitions"] == 4  # p=1,2,3,4
    assert stats["rewritten_partitions"] == 4
    assert stats["dropped_partitions"] == 0

    # Now merge the remaining p=1 row away entirely: p=1 must VANISH.
    batch2 = spark.createDataFrame([(0, 3, 999.0)], "k long, p int, v double")
    stats2 = upsert_partitioned(
        spark, path, batch2, ["k"], ["p"], keys_partition_stable=False
    )
    got2 = {(r.k, int(r.p), r.v) for r in spark.read.parquet(path).collect()}
    assert (0, 3, 999.0) in got2 and not any(p == 1 for _, p, _ in got2)
    assert stats2["dropped_partitions"] == 1
    assert not os.path.exists(os.path.join(path, "p=1"))
    # No staging/backup litter left behind.
    assert not os.path.exists(path + "__upsert_staging")
    assert not os.path.exists(path + "__upsert_old")


def test_upsert_partition_stable_skips_table_scan_but_merges(spark, tmp_path):
    """With keys_partition_stable=True (the default) the merge must still be
    correct when keys really are partition-stable."""
    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    path = str(tmp_path / "t2")
    rows = [(k, k % 3, float(k)) for k in range(30)]
    spark.createDataFrame(rows, "k long, p long, v double").write.partitionBy(
        "p"
    ).parquet(path)
    batch = spark.createDataFrame(
        [(3, 0, -3.0), (31, 1, 31.0)], "k long, p long, v double"
    )
    # Delete delivered as a bare key: the op must locate its partition via
    # the semi-join even under stable keys.
    dels = spark.createDataFrame([(7,)], "k long")
    upsert_partitioned(spark, path, batch, ["k"], ["p"], deletes=dels)
    got = {(r.k, int(r.p), r.v) for r in spark.read.parquet(path).collect()}
    expect = {(k, k % 3, float(k)) for k in range(30) if k not in (3, 7)} | {
        (3, 0, -3.0),
        (31, 1, 31.0),
    }
    assert got == expect


def test_write_clustered_layout_confines_key_ranges(spark, sf_correctness, tmp_path):
    """write_clustered must produce non-overlapping per-file key ranges: a
    point predicate's matching rows live in ONE file (of 8), and the
    predicate reaches the parquet reader as a pushed filter so its min/max
    row-group pruning actually fires.  Contrast: an unclustered write
    scatters the same key across every file."""
    from aws_etl_fiap_spark.sources.readers import load_table
    from aws_etl_fiap_spark.sources.writers import write_clustered

    ev = load_table(spark, sf_correctness, "events").select(
        "event_id", "user_id", "value"
    )
    clustered = str(tmp_path / "ev_clustered")
    scattered = str(tmp_path / "ev_scattered")
    write_clustered(ev, clustered, ["user_id"], 8)
    ev.repartition(8).write.parquet(scattered)

    def files_holding(path, uid):
        back = spark.read.parquet(path).filter(F.col("user_id") == uid)
        return back.select(F.input_file_name()).distinct().count()

    uid = 77
    assert files_holding(clustered, uid) == 1
    assert files_holding(scattered, uid) > 1
    # The predicate is pushed to the reader (row-group pruning eligible).
    plan = (
        spark.read.parquet(clustered)
        .filter(F.col("user_id") == uid)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1].split("]")[0]
    # Files cover non-overlapping ranges: per-file (min, max) intervals of
    # the cluster key must not intersect.
    back = spark.read.parquet(clustered)
    ranges = sorted(
        (r.lo, r.hi)
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .collect()
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_correctness, tmp_path):
    """Z-ordered layout gives min/max file skipping on BOTH interleaved
    columns; single-column clustering serves only its own column.  Compare
    files touched by a selective per-dimension predicate across layouts."""
    from aws_etl_fiap_spark.sources.readers import load_table
    from aws_etl_fiap_spark.sources.writers import write_clustered, write_zordered

    # No input-layout pinning needed: write_zordered computes EXACT
    # equi-depth z boundaries (rank thresholds, not repartitionByRange's
    # sample), so the file layout is identical whatever partitioning the
    # suite-wide scan state hands us.
    orders = load_table(spark, sf_correctness, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16
    zpath, cpath = str(tmp_path / "z"), str(tmp_path / "c")
    write_zordered(orders, zpath, "o_orderkey", "o_custkey", n_files)
    write_clustered(orders, cpath, ["o_orderkey"], n_files)

    def files_touched(path, col, lo, hi):
        back = spark.read.parquet(path).filter(F.col(col).between(lo, hi))
        return back.select(F.input_file_name()).distinct().count()

    hi_key = orders.agg(F.max("o_orderkey")).first()[0]
    hi_cust = orders.agg(F.max("o_custkey")).first()[0]
    k_band = (0, hi_key // 16)          # selective on o_orderkey
    c_band = (0, hi_cust // 16)         # selective on o_custkey
    # orderkey predicate: single-dim clustering is optimal (~1 file); the
    # z-order still skips most files (< half).
    assert files_touched(zpath, "o_orderkey", *k_band) <= n_files // 2
    # custkey predicate: the o_orderkey-clustered layout scatters custkey
    # across every file; z-order must do strictly better.
    z_cust = files_touched(zpath, "o_custkey", *c_band)
    c_cust = files_touched(cpath, "o_custkey", *c_band)
    assert c_cust == n_files, "orderkey clustering cannot serve custkey"
    assert z_cust < c_cust, f"z-order should skip files on dim 2: {z_cust} vs {c_cust}"


def test_murmur3_twin_matches_spark_hash(spark):
    """The driver-side murmur3 twin must be bit-identical to F.hash on int
    columns — it is what lets write_zordered predict shuffle routing."""
    from aws_etl_fiap_spark.sources.writers import _murmur3_hash_int

    vals = [0, 1, 2, 7, 42, 1000, 65535, 2**31 - 1, -1, -2**31]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v int")
        .select(F.hash("v").alias("h"))
        .collect()
    )
    assert [r.h for r in got] == [_murmur3_hash_int(v) for v in vals]


def test_distinct_partition_labels_route_one_per_partition(spark):
    """Each label must land in its own shuffle partition under
    repartition(n, label) — the collision-free routing write_zordered
    relies on for one-z-bucket-per-file determinism."""
    from aws_etl_fiap_spark.sources.writers import _distinct_partition_labels

    n = 16
    labels = _distinct_partition_labels(n)
    assert len(set(labels)) == n
    pids = (
        spark.createDataFrame([(l,) for l in labels], "label int")
        .repartition(n, F.col("label"))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert pids == n


def test_zorder_layout_is_deterministic_across_input_layouts(spark, sf_correctness, tmp_path):
    """Same data, different input partitionings -> byte-identical file
    layout: per-file (min_z, max_z, rows) sets must agree.  This is the
    regression test for the r10 order-dependent flake, where sampled
    repartitionByRange boundaries drifted with suite scan state."""
    from aws_etl_fiap_spark.sources.readers import load_table
    from aws_etl_fiap_spark.sources.writers import morton_code, write_zordered

    orders = load_table(spark, sf_correctness, "orders").select(
        "o_orderkey", "o_custkey"
    )

    def layout(path):
        back = spark.read.parquet(path)
        z = morton_code(F.col("o_orderkey"), F.col("o_custkey"))
        return sorted(
            (r.lo, r.hi, r.n)
            for r in back.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min(z).alias("lo"),
                F.max(z).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_zordered(orders.coalesce(1), p1, "o_orderkey", "o_custkey", 8)
    write_zordered(
        orders.repartition(13, "o_custkey"), p2, "o_orderkey", "o_custkey", 8
    )
    l1, l2 = layout(p1), layout(p2)
    assert l1 == l2
    # Non-degenerate: files cover strictly disjoint z-ranges (each bucket
    # holds z < next boundary; z == boundary opens the next bucket).
    for (_, hi1, _), (lo2, _, _) in zip(l1, l1[1:]):
        assert hi1 < lo2


def test_runtime_bloom_filter_prunes_shuffle_join_fact_side(spark, sf_correctness):
    """Catalyst's runtime bloom-filter injection (the row-level runtime
    filter AQE adds for selective dim joins, Spark >= 3.3): with broadcast
    off and the size thresholds scaled to the fixture, the fact side of
    lineitem JOIN (selective part) must scan through
    bloom_filter_might_contain before the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~1% that can match."""
    from aws_etl_fiap_spark.sources.readers import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_correctness, "lineitem").select(
            "l_partkey", "l_quantity"
        )
        part = load_table(spark, sf_correctness, "part").filter(F.col("p_size") == 1)
        joined = li.join(part, li.l_partkey == part.p_partkey).groupBy("p_brand").agg(
            F.sum("l_quantity").alias("qty")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert joined.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_prunes_fact_scan(spark, sf_correctness, tmp_path):
    """Dynamic partition pruning (Spark >= 3.0): joining a partitioned fact
    on its partition column against a SELECTIVE dim must inject a
    dynamicpruning subquery into the fact scan's PartitionFilters — the
    fact directories for non-matching keys are never read.  At 100 TB this
    is the star-schema workhorse: the dim filter is only known at runtime,
    yet the fact scan still skips whole partitions."""
    li = load_table(spark, sf_correctness, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_dpp")
    li.write.mode("overwrite").partitionBy("ship_year").parquet(path)
    fact = spark.read.parquet(path)
    # The session disables partition-type inference (Hive/Glue string
    # convention), so the read-back partition column is STRING — the dim
    # key must match exactly or the cast blocks DPP.  DPP also requires a
    # SELECTIVE predicate on the dim side (an unfiltered dim never
    # triggers the pruning subquery).
    dim = (
        spark.range(1990, 2000)
        .select(
            F.col("id").cast("string").alias("ship_year"),
            F.col("id").alias("yr"),
        )
        .filter(F.col("yr").isin(1995, 1996))
    )
    joined = fact.join(F.broadcast(dim), "ship_year").groupBy("yr").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan
    rows = {r["yr"]: r["n"] for r in joined.collect()}
    expected = {
        y: li.filter(F.col("ship_year") == y).count() for y in (1995, 1996)
    }
    assert rows == expected


def test_upsert_partitioned_escaped_partition_values(spark, tmp_path):
    """r10 review regression: partition DIRECTORY names are Hive-escaped by
    Spark ('a b:c' -> 'p=a b%3Ac'); the swap must address staged/live dirs
    by the ESCAPED name or the merge silently drops the staged rows and
    keeps the replaced ones."""
    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    path = str(tmp_path / "t")
    rows = [(1, "a b:c", 1.0), (2, "plain", 2.0), (3, "x=y/z%", 3.0)]
    spark.createDataFrame(rows, "k long, p string, v double").write.partitionBy(
        "p"
    ).parquet(path)
    # Replace k=1 in the escaped partition, insert k=4 into ANOTHER
    # escaping-needing partition, update k=3 in place.
    batch = spark.createDataFrame(
        [(1, "a b:c", 111.0), (4, "new:part", 4.0), (3, "x=y/z%", -3.0)],
        "k long, p string, v double",
    )
    stats = upsert_partitioned(spark, path, batch, ["k"], ["p"])
    got = {(r.k, r.p, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "a b:c", 111.0),
        (2, "plain", 2.0),
        (3, "x=y/z%", -3.0),
        (4, "new:part", 4.0),
    }
    assert stats["rewritten_partitions"] == 3
    assert stats["dropped_partitions"] == 0


def test_upsert_partitioned_random_commits_property(spark, tmp_path):
    """Property (r10): for ARBITRARY interleavings of upsert/delete commits
    against a dict model {key: (partition, value)} — partition movers,
    phantom drops, re-inserts, Hive-escaping hazard values, and the NULL
    partition — the on-disk table must equal the model EXACTLY after every
    commit.  This pins the merge ALGEBRA (affected-partition discovery,
    survivor anti-join, staged swap) itself, not one scripted scenario."""
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    keys = st.integers(min_value=1, max_value=8)
    part = st.sampled_from(["plain", "a b:c", "x=y%", None])
    val = st.integers(min_value=-50, max_value=50)
    batch = st.dictionaries(keys, st.tuples(part, val), min_size=0, max_size=5)
    commit = st.tuples(batch, st.sets(keys, min_size=0, max_size=3))

    def df_of(d):
        return spark.createDataFrame(
            [(k, p, v) for k, (p, v) in sorted(d.items())],
            "k int, p string, v int",
        )

    @settings(max_examples=5, deadline=None)
    @given(
        st.dictionaries(keys, st.tuples(part, val), min_size=1, max_size=6),
        st.lists(commit, min_size=1, max_size=3),
    )
    def prop(init, commits):
        tmp = tempfile.mkdtemp(prefix="upsprop_")
        path = tmp + "/t"
        try:
            df_of(init).write.partitionBy("p").parquet(path)
            model = dict(init)
            for updates, deletes in commits:
                # A key in both halves of one batch is ambiguous CDC input
                # (callers sequence their batches); keep the property to the
                # documented contract by dropping the collision.
                deletes = {k for k in deletes if k not in updates}
                next_model = {k: v for k, v in model.items() if k not in deletes}
                next_model.update(updates)
                if not updates and not deletes:
                    continue  # empty commit: nothing to assert beyond no-op
                if not next_model:
                    continue  # bare partitioned parquet cannot hold 0 rows
                model = next_model
                dels = (
                    spark.createDataFrame(
                        [(k,) for k in sorted(deletes)], "k int"
                    )
                    if deletes
                    else None
                )
                upsert_partitioned(
                    spark, path, df_of(updates), ["k"], ["p"],
                    keys_partition_stable=False, deletes=dels,
                )
                got = {
                    (r.k, r.p, r.v)
                    for r in spark.read.parquet(path).collect()
                }
                want = {(k, p, v) for k, (p, v) in model.items()}
                assert got == want
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    prop()


def test_morton_code_matches_python_model_property(spark):
    """Property (r10): the magic-mask Morton interleave equals the textbook
    per-bit Python interleave for arbitrary (x, y, bits<=16) — including the
    all-ones corner and bit widths below 16 where the mask must truncate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.sources.writers import morton_code

    def model(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    @settings(max_examples=4, deadline=None)
    @given(
        st.integers(min_value=1, max_value=16),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=(1 << 16) - 1),
                st.integers(min_value=0, max_value=(1 << 16) - 1),
            ),
            min_size=1,
            max_size=64,
        ),
    )
    def prop(bits, pairs):
        df = spark.createDataFrame(pairs, "x long, y long")
        got = {
            (r.x, r.y): r.z
            for r in df.select(
                "x", "y", morton_code(F.col("x"), F.col("y"), bits).alias("z")
            ).collect()
        }
        mask = (1 << bits) - 1
        for x, y in pairs:
            assert got[(x, y)] == model(x & mask, y & mask, bits)

    prop()


def test_zorder_file_layout_matches_equi_depth_model_property(spark, tmp_path):
    """Property (r11): write_zordered's FILE LAYOUT — not just the morton
    math — equals a pure-Python equi-depth model.  For arbitrary (x, y)
    multisets and file counts, compute morton codes and exact rank-quantile
    boundaries in Python (boundary i = smallest z whose cumulative count
    reaches ceil(i*n/k); bucket = #(boundaries <= z)), and require the
    written files' (min_z, max_z, row_count) multiset to equal the model's
    non-empty buckets exactly.  This is the determinism contract the r10
    flake showed sampled repartitionByRange could not give: the layout is
    a FUNCTION of the data, never of the input partitioning."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.sources.writers import morton_code, write_zordered

    def py_morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    counter = [0]

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 63), st.integers(0, 63)),
            min_size=1,
            max_size=40,
        ),
        st.integers(1, 6),
        st.integers(1, 7),
    )
    def prop(pairs, n_files, n_input_parts):
        counter[0] += 1
        # ---- Python model ----
        zs = sorted(py_morton(x, y) for x, y in pairs)
        n = len(zs)
        if n_files > 1:
            thresholds = [
                -(-i * n // n_files) for i in range(1, n_files)
            ]  # ceil(i*n/k)
            boundaries = sorted(zs[t - 1] for t in thresholds)
        else:
            boundaries = []
        buckets: dict = {}
        for z in zs:
            b = sum(1 for bd in boundaries if z >= bd)
            buckets.setdefault(b, []).append(z)
        expected = sorted(
            (min(v), max(v), len(v)) for v in buckets.values()
        )
        # ---- actual layout, under an adversarial input partitioning ----
        df = spark.createDataFrame(pairs, "x long, y long").repartition(
            n_input_parts
        )
        path = str(tmp_path / f"zprop_{counter[0]}")
        write_zordered(df, path, "x", "y", n_files)
        back = spark.read.parquet(path)
        z = morton_code(F.col("x"), F.col("y"))
        got = sorted(
            (r.lo, r.hi, r.n)
            for r in back.groupBy(F.input_file_name())
            .agg(
                F.min(z).alias("lo"),
                F.max(z).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert got == expected, (pairs, n_files, got, expected)

    prop()


def test_zorder_survives_all_null_keys(spark, tmp_path):
    """Regression (r11 advice): a frame where EVERY row has a NULL key
    column yields a NULL morton code for every row, so the boundary pass
    sees zero non-NULL z groups — the old code propagated NULL min(__z)
    into ``int(...)`` and aborted the whole write with a TypeError.  The
    write must succeed and preserve every row."""
    from aws_etl_fiap_spark.sources.writers import write_zordered

    df = spark.createDataFrame(
        [(None, i) for i in range(20)], "x long, y long"
    )
    path = str(tmp_path / "znull_all")
    write_zordered(df, path, "x", "y", n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 20
    assert back.filter(F.col("x").isNotNull()).count() == 0


def test_zorder_null_keys_route_to_bucket_zero(spark, tmp_path):
    """Partial-NULL frames: NULL-z rows are excluded from the equi-depth
    boundary pass and route deterministically to bucket 0 (NULL never
    satisfies ``z >= boundary``), while the non-NULL rows keep the exact
    equi-depth layout computed over the non-NULL population alone."""
    from aws_etl_fiap_spark.sources.writers import morton_code, write_zordered

    rows = [(int(x), int(x) * 7 % 64) for x in range(40)] + [
        (None, 5),
        (3, None),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "x long, y long").repartition(5)
    path = str(tmp_path / "znull_partial")
    write_zordered(df, path, "x", "y", n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == len(rows)
    # all NULL-key rows land in ONE file (bucket 0) together with the
    # lowest-z rows — their file also holds the global min z.
    null_files = {
        r.f
        for r in back.filter(
            F.col("x").isNull() | F.col("y").isNull()
        )
        .select(F.input_file_name().alias("f"))
        .collect()
    }
    assert len(null_files) == 1
    z = morton_code(F.col("x"), F.col("y"))
    min_z_file = (
        back.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(F.input_file_name().alias("f"), z.alias("z"))
        .orderBy("z")
        .first()
        .f
    )
    assert null_files == {min_z_file}


def test_upsert_recovers_crashed_partition_swap(spark, tmp_path):
    """r13 crash property (red before the recovery-first fix): a crash
    BETWEEN rename-aside and swap-in leaves a partition's pre-merge rows
    only in the backup dir; the next run must restore them before its
    stale-backup cleanup, or re-running the same batch silently loses the
    partition's unmatched survivor rows."""
    import os

    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k int, p string, v int"
    ).write.partitionBy("p").parquet(path)
    updates = spark.createDataFrame([(1, "a", 11)], "k int, p string, v int")

    # Simulate the crash window mid-swap: p=a renamed aside into the
    # backup dir, replacement staged but never landed.
    os.makedirs(path + "__upsert_old", exist_ok=True)
    os.rename(path + "/p=a", path + "__upsert_old/p=a")
    spark.createDataFrame([(1, 11), (2, 20)], "k int, v int").write.mode(
        "overwrite"
    ).parquet(path + "__upsert_staging/p=a")
    spark.catalog.refreshByPath(path)

    upsert_partitioned(spark, path, updates, ["k"], ["p"])  # re-run same batch

    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == sorted([(1, 11, "a"), (2, 20, "a"), (3, 30, "b")])
    assert not os.path.exists(path + "__upsert_old")
    assert not os.path.exists(path + "__upsert_staging")


def test_upsert_compact_interplay_property(spark, tmp_path):
    """Property (r13, verdict task 4b): ARBITRARY interleavings of upsert
    commits and compact_partitions maintenance passes against the dict
    model — the two stateful writers share a table and must compose: the
    table equals the model exactly after EVERY operation, compaction never
    changes values, and its file count respects the per-partition budget."""
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.sources.writers import (
        compact_partitions,
        upsert_partitioned,
    )

    keys = st.integers(min_value=1, max_value=8)
    part = st.sampled_from(["plain", "a b:c", None])
    val = st.integers(min_value=-50, max_value=50)
    upsert_op = st.tuples(
        st.just("upsert"),
        st.dictionaries(keys, st.tuples(part, val), min_size=1, max_size=5),
        st.sets(keys, min_size=0, max_size=2),
    )
    compact_op = st.tuples(
        st.just("compact"), st.just(None), st.just(None)
    )
    op = st.one_of(upsert_op, compact_op)

    def df_of(d):
        return spark.createDataFrame(
            [(k, p, v) for k, (p, v) in sorted(d.items())],
            "k int, p string, v int",
        )

    @settings(max_examples=4, deadline=None)
    @given(
        st.dictionaries(keys, st.tuples(part, val), min_size=2, max_size=6),
        st.lists(op, min_size=2, max_size=4),
    )
    def prop(init, ops):
        tmp = tempfile.mkdtemp(prefix="upscompact_")
        path = tmp + "/t"
        try:
            # litter the initial write so compaction has work to do
            df_of(init).repartition(4).write.partitionBy("p").parquet(path)
            model = dict(init)
            for kind, updates, deletes in ops:
                if kind == "compact":
                    stats = compact_partitions(
                        spark, path, ["p"], target_rows_per_file=1_000_000
                    )
                    assert stats["files_after"] <= stats["file_budget"]
                else:
                    deletes = {k for k in deletes if k not in updates}
                    next_model = {
                        k: v for k, v in model.items() if k not in deletes
                    }
                    next_model.update(updates)
                    if not next_model:
                        continue  # bare parquet cannot hold 0 rows
                    model = next_model
                    dels = (
                        spark.createDataFrame(
                            [(k,) for k in sorted(deletes)], "k int"
                        )
                        if deletes
                        else None
                    )
                    upsert_partitioned(
                        spark, path, df_of(updates), ["k"], ["p"],
                        keys_partition_stable=False, deletes=dels,
                    )
                got = {
                    (r.k, r.p, r.v)
                    for r in spark.read.parquet(path).collect()
                }
                assert got == {(k, p, v) for k, (p, v) in model.items()}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    prop()
