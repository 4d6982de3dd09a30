"""Write-path round-trip query ([EXT]; reference S4/S6 sinks +
compaction maintenance) — puts the PARTITIONED PARQUET SINK itself behind
the driver's exact-value gate.

Everything else the driver grades is read-side; this entry writes a real
partitioned table (the reference's refined-layer sink shape,
b3_transform.py:309-312), litters it across many tasks, compacts it with the
staging+swap rewrite, reads it back, and aggregates.  The result must
hash-equal an oracle computed straight from the source table — so partition
layout, dynamic overwrite, the compaction rewrite, and partition-column
round-tripping (values survive the directory encoding) are all inside the
verified loop.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_fiap_spark.functions.parity import dec_sum, sql_dec_sum
from aws_etl_fiap_spark.queries.registry import query
from aws_etl_fiap_spark.sources.readers import load_table
from aws_etl_fiap_spark.sources.writers import (
    compact_partitions,
    read_back,
    scratch_sink,
    write_partitioned,
)


@query(
    "roundtrip_partitioned_agg",
    oracle=f"""
SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY 1, 2
""",
)
def roundtrip_partitioned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S6 + compaction under the driver's eye: orders -> partitioned
    parquet sink (by o_year, deliberately littered across 8 writer tasks) ->
    compact_partitions (staging + atomic swap) -> read back -> aggregate.
    The aggregate must match the oracle computed from the ORIGINAL table, so
    any row lost/duplicated/mangled by the write, the partition encoding, or
    the compaction rewrite hash-fails.  The sink is a ``scratch_sink``."""
    with scratch_sink("roundtrip_") as tmp:
        path = os.path.join(tmp, "orders_by_year")
        src = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        # Deliberately litter: 8 writer tasks x N years sliver files, the
        # daily-sink reality compaction exists for.
        write_partitioned(src.repartition(8), path, ["o_year"])
        stats = compact_partitions(spark, path, ["o_year"], target_rows_per_file=1_000_000)
        # Explicit raise, not assert (asserts vanish under python -O), and
        # against the real invariant: files_after is bounded by the
        # per-partition file budget sum(ceil(rows/target)), which equals
        # `partitions` only while every o_year stays under target rows
        # (breaks around sf>=5 for TPC-H orders — round-3 advice).
        if stats["files_after"] > stats["file_budget"]:
            raise RuntimeError(f"compaction exceeded its file budget: {stats}")
        back = read_back(spark, path)
        out = back.groupBy("o_year", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", 2).alias("total_price"),
        )
        # Eager materialization: the temp table is deleted on return, so the
        # frame the driver collects must not lazily re-scan it.
        return out.localCheckpoint(eager=True)


@query(
    "bucketed_join_colocated_agg",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def bucketed_join_colocated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] bucketed co-located join under the driver's exact-value gate:
    orders and customer are written ``bucketBy(custkey)`` with the same
    bucket count, then joined WITHOUT ANY EXCHANGE — the query RAISES if the
    executed join plan contains one, so the driver row certifies both the
    values (vs an oracle joining the ORIGINAL tables) and the co-location
    property itself.

    This is the 100 TB fact-to-fact join answer: broadcast covers small
    dims, but two big tables joined repeatedly on the same key should pay
    the bucketed write once and never shuffle again.  Broadcast is disabled
    (scoped) so the plan can't dodge the claim.
    """
    from aws_etl_fiap_spark.confs import scoped_conf
    from aws_etl_fiap_spark.sources.writers import write_bucketed

    run_id = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"b_orders_{run_id}", f"b_customer_{run_id}"
    with scratch_sink(f"bucketed_{run_id}_") as tmp:
        try:
            write_bucketed(
                load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
                t_orders, ["o_custkey"], 8,
                path=os.path.join(tmp, t_orders), sort_cols=["o_custkey"],
            )
            write_bucketed(
                load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
                t_cust, ["c_custkey"], 8,
                path=os.path.join(tmp, t_cust), sort_cols=["c_custkey"],
            )
            with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
                joined = spark.table(t_orders).join(
                    spark.table(t_cust), F.col("o_custkey") == F.col("c_custkey")
                )
                plan = joined._jdf.queryExecution().executedPlan().toString()
                if "Exchange" in plan:
                    raise RuntimeError(
                        "bucketed join planned an Exchange — co-location lost:\n" + plan
                    )
                out = joined.groupBy("c_mktsegment").agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    dec_sum("o_totalprice", 2).alias("total_price"),
                )
                # Eager: the catalog tables and files are dropped on return.
                return out.localCheckpoint(eager=True)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
            spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


@query(
    "upsert_partitioned_merge",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
),
upd AS (
    SELECT o_orderkey, o_orderstatus,
           o_totalprice + 1.0 AS o_totalprice,
           CASE WHEN o_orderkey % 130 = 0
                THEN o_orderdate + INTERVAL 370 DAY
                ELSE o_orderdate END AS o_orderdate
    FROM src WHERE o_orderkey % 13 = 0
),
ins AS (
    SELECT o_orderkey + 1000000 AS o_orderkey, o_orderstatus, o_totalprice,
           o_orderdate + INTERVAL 400 DAY AS o_orderdate
    FROM src WHERE o_orderkey % 97 = 3
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
del AS (
    SELECT o_orderkey FROM src
    WHERE o_orderkey % 89 = 7 AND o_orderkey % 13 <> 0
),
merged AS (
    SELECT * FROM batch
    UNION ALL
    SELECT * FROM src
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
)
SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM merged
GROUP BY 1, 2
""",
)
def upsert_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Partition-level MERGE under the driver's exact-value gate:
    seed a partitioned table from orders, apply one batch holding in-place
    updates (key % 13: price + 1.00), partition-MOVING updates (key % 130:
    date + 370 days, so the row must leave its old o_year directory),
    inserts (key % 97 == 3, re-keyed +1M, date + 400 days), and DELETES
    (key % 89 == 7, disjoint from the update set, delivered as bare keys so
    the op must locate their partitions itself), then read the table back
    and aggregate.  The oracle recomputes the merge in SQL from the
    ORIGINAL table, so replaced rows, moved rows (and the absence of their
    stale old copies), inserted rows, removed rows, and untouched
    partitions are all inside the verified loop — the incremental-refresh counterpart to
    roundtrip_partitioned_agg's full-rewrite gate."""
    from aws_etl_fiap_spark.sources.writers import upsert_partitioned

    with scratch_sink("upsert_") as tmp:
        path = os.path.join(tmp, "orders_merge")
        src = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate").cast("int"))
        )
        write_partitioned(src.repartition(4), path, ["o_year"])
        upd = (
            src.filter(F.col("o_orderkey") % 13 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .withColumn(
                "o_orderdate",
                F.when(
                    F.col("o_orderkey") % 130 == 0,
                    F.expr("timestampadd(DAY, 370, o_orderdate)"),
                ).otherwise(F.col("o_orderdate")),
            )
        )
        ins = (
            src.filter(F.col("o_orderkey") % 97 == 3)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1_000_000))
            .withColumn(
                "o_orderdate", F.expr("timestampadd(DAY, 400, o_orderdate)")
            )
        )
        batch = (
            upd.unionByName(ins)
            .withColumn("o_year", F.year("o_orderdate").cast("int"))
        )
        dels = src.filter(
            (F.col("o_orderkey") % 89 == 7) & (F.col("o_orderkey") % 13 != 0)
        ).select("o_orderkey")
        upsert_partitioned(
            spark, path, batch, ["o_orderkey"], ["o_year"],
            keys_partition_stable=False, deletes=dels,
        )
        back = read_back(spark, path)
        out = back.groupBy(
            F.col("o_year").cast("int").alias("o_year"), "o_orderstatus"
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
            dec_sum("o_totalprice", 2).alias("total_price"),
        )
        return out.localCheckpoint(eager=True)


def _zorder_oracle() -> str:
    from aws_etl_fiap_spark.sources.writers import sql_morton_code

    z = sql_morton_code("o_orderkey & 65535", "o_custkey & 65535")
    return f"""
WITH z AS (SELECT {z} AS zv, o_orderkey FROM orders)
SELECT zv >> 16 AS z_bucket,
       COUNT(*) AS n_orders,
       MIN(zv) AS min_z,
       MAX(zv) AS max_z,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM z GROUP BY 1
"""


@query("layout_zorder_orders", oracle=_zorder_oracle())
def layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Morton (Z-order) interleave of (o_orderkey, o_custkey) — the
    multi-dimensional clustering key behind writers.write_zordered
    (Delta/Iceberg OPTIMIZE ZORDER equivalent) — aggregated per 65536-way
    z-bucket so every row's full 32-bit code is inside the verified hash.
    Pure shift/mask expressions in whole-stage codegen; the oracle runs the
    identical chain on BIGINT."""
    from aws_etl_fiap_spark.sources.writers import morton_code

    orders = load_table(spark, sf_dir, "orders")
    z = morton_code(
        F.col("o_orderkey").bitwiseAND(F.lit(65535)),
        F.col("o_custkey").bitwiseAND(F.lit(65535)),
    )
    return (
        orders.select(z.alias("zv"), "o_orderkey")
        .groupBy(F.shiftright(F.col("zv"), 16).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("zv").alias("min_z"),
            F.max("zv").alias("max_z"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )


@query(
    "acid_snapshot_isolation",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
upd AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice
    FROM src WHERE o_orderkey % 13 = 0
),
ins AS (
    SELECT o_orderkey + 1000000 AS o_orderkey, o_orderstatus, o_totalprice
    FROM src WHERE o_orderkey % 97 = 3
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
del AS (
    SELECT o_orderkey FROM src
    WHERE o_orderkey % 89 = 7 AND o_orderkey % 13 <> 0
),
v2 AS (
    SELECT * FROM batch
    UNION ALL
    SELECT * FROM src
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
),
snaps AS (
    SELECT 'v1' AS snap, o_orderstatus, o_orderkey, o_totalprice FROM src
    UNION ALL
    SELECT 'v2' AS snap, o_orderstatus, o_orderkey, o_totalprice FROM v2
)
SELECT snap, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM snaps
GROUP BY snap, o_orderstatus
""",
)
def acid_snapshot_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S4-S6 extension] Snapshot isolation under the exact gate
    (sources/snapshot.py — the manifest-log table format): seed a snapshot
    table from orders (v1), PIN a reader on the v1 manifest, then commit a
    file-granular copy-on-write MERGE (updates keys %13 with +1.00,
    inserts %97==3 re-keyed +1M, deletes %89==7 disjoint from updates) to
    produce v2 — and only THEN collect both readers.

    The output aggregates the pinned v1 reader and a fresh latest reader
    side by side; the oracle recomputes both states straight from orders.
    A v1 reader that leaked post-commit files (lost isolation), a v1 row
    surviving into v2 wrongly, or a merge that dropped/duplicated anything
    hash-fails — the concurrent-reader consistency story the rename-swap
    upsert cannot give."""
    from aws_etl_fiap_spark.sources import snapshot as snap

    with scratch_sink("acid_") as tmp:
        path = os.path.join(tmp, "orders_snap")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        snap.create_table(spark, src, path, n_files=4)
        pinned_v1 = snap.read_table(spark, path)  # resolves the v1 manifest
        upd = src.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        ins = src.filter(F.col("o_orderkey") % 97 == 3).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000)
        )
        dels = src.filter(
            (F.col("o_orderkey") % 89 == 7) & (F.col("o_orderkey") % 13 != 0)
        ).select("o_orderkey")
        snap.upsert(
            spark, path, upd.unionByName(ins), ["o_orderkey"], deletes=dels
        )
        latest = snap.read_table(spark, path)  # resolves v2

        def agg(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("key_sum"),
                dec_sum("o_totalprice", 2).alias("total_price"),
            ).select(F.lit(label).alias("snap"), "*")

        out = agg(pinned_v1, "v1").unionByName(agg(latest, "v2"))
        return out.localCheckpoint(eager=True)


@query(
    "acid_merge_on_read_delete",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
doomed AS (
    SELECT o_orderkey FROM src WHERE o_orderkey % 17 = 0
),
v2 AS (
    SELECT * FROM src
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM doomed)
),
snaps AS (
    SELECT 'v1' AS snap, o_orderstatus, o_orderkey, o_totalprice FROM src
    UNION ALL
    SELECT 'v2' AS snap, o_orderstatus, o_orderkey, o_totalprice FROM v2
)
SELECT snap, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM snaps
GROUP BY snap, o_orderstatus
""",
)
def acid_merge_on_read_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S4-S6 extension] Merge-on-read DELETE under the exact gate
    (sources/snapshot.delete — the deletion-vector path): seed a snapshot
    table from orders (v1, range-clustered with manifest key stats), pin a
    reader on v1, then commit a positional delete of keys %17 == 0 —
    recording (file, row_index) sidecars, REWRITING ZERO DATA FILES (the
    query raises if the v2 manifest's file list differs from v1's) — and
    only then collect both readers.

    The oracle recomputes both states from orders, so the DV anti-join at
    scan time (broadcast positions), the pinned reader's isolation from
    the delete commit, and the untouched-file guarantee are all inside the
    verified loop.  Companion to acid_snapshot_isolation's copy-on-write
    merge: together they pin both sides of the CoW/MoR trade-off."""
    from aws_etl_fiap_spark.sources import snapshot as snap

    with scratch_sink("acid_mor_") as tmp:
        path = os.path.join(tmp, "orders_snap")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        snap.create_table(
            spark,
            src.repartitionByRange(4, "o_orderkey"),
            path,
            n_files=None,
            stats_cols=["o_orderkey"],
        )
        pinned_v1 = snap.read_table(spark, path)
        doomed = src.filter(F.col("o_orderkey") % 17 == 0).select("o_orderkey")
        snap.delete(spark, path, doomed, ["o_orderkey"])
        m1 = snap._read_manifest(spark, path, 1)
        m2 = snap._read_manifest(spark, path, 2)
        if m2["files"] != m1["files"]:
            raise RuntimeError(
                "merge-on-read delete rewrote data files: "
                f"{m1['files']} -> {m2['files']}"
            )
        latest = snap.read_table(spark, path)

        def agg(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("key_sum"),
                dec_sum("o_totalprice", 2).alias("total_price"),
            ).select(F.lit(label).alias("snap"), "*")

        out = agg(pinned_v1, "v1").unionByName(agg(latest, "v2"))
        return out.localCheckpoint(eager=True)


@query(
    "mv_incremental_refresh",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
),
upd AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           o_totalprice + 2.0 AS o_totalprice
    FROM src WHERE o_orderkey % 19 = 0
),
ins AS (
    SELECT o_orderkey + 2000000 AS o_orderkey, o_orderstatus,
           o_orderpriority, o_totalprice
    FROM src WHERE o_orderkey % 101 = 5
),
batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
del AS (
    SELECT o_orderkey FROM src
    WHERE o_orderkey % 73 = 11 AND o_orderkey % 19 <> 0
),
v2 AS (
    SELECT * FROM batch
    UNION ALL
    SELECT * FROM src
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
)
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM v2
GROUP BY o_orderstatus, o_orderpriority
""",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S4-S6 extension] Incremental materialized-view maintenance
    under the exact gate (operators/incremental.py over the
    sources/snapshot.py manifest log): seed a snapshot table from orders
    (v1), bootstrap the rollup state with ``full_agg_state``, commit a CoW
    merge (updates %19 +2.00, inserts %101==5 re-keyed +2M, deletes %73==11
    disjoint from updates) producing v2, then roll the state forward with
    ``incremental_agg_refresh`` — which reads ONLY the files the commit
    removed/added (the query RAISES if the delta scan touched a carried
    file), never the carried majority.

    The returned frame is the REFRESHED STATE, presented per parity rules
    (decimal accumulators rendered once); the oracle recomputes the v2
    rollup from orders directly — a delta that dropped/double-counted a
    row, missed a moved file, or lost exactness to float summation
    hash-fails.  At 100 TB this is the difference between a full
    scan+shuffle per refresh and work proportional to one commit."""
    from aws_etl_fiap_spark.operators.incremental import (
        full_agg_state,
        incremental_agg_refresh,
    )
    from aws_etl_fiap_spark.sources import snapshot as snap

    keys = ["o_orderstatus", "o_orderpriority"]
    sums = {"key_sum": ("o_orderkey", 0), "total_price": ("o_totalprice", 2)}
    with scratch_sink("mv_") as tmp:
        path = os.path.join(tmp, "orders_snap")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        snap.create_table(
            spark,
            src.repartitionByRange(6, "o_orderkey"),
            path,
            n_files=None,
            stats_cols=["o_orderkey"],
        )
        state1 = full_agg_state(
            snap.read_table(spark, path), keys, sums
        ).localCheckpoint(eager=True)

        upd = src.filter(F.col("o_orderkey") % 19 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
        )
        ins = src.filter(F.col("o_orderkey") % 101 == 5).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(2_000_000)
        )
        dels = src.filter(
            (F.col("o_orderkey") % 73 == 11) & (F.col("o_orderkey") % 19 != 0)
        ).select("o_orderkey")
        snap.upsert(
            spark, path, upd.unionByName(ins), ["o_orderkey"], deletes=dels
        )

        state2 = incremental_agg_refresh(
            spark, path, state1, 1, 2, keys, sums
        )
        # Prune proof, in the verified loop: the delta may read only files
        # the commit removed or added, never the carried majority.
        m1 = snap._read_manifest(spark, path, 1)
        m2 = snap._read_manifest(spark, path, 2)
        changed = set(m1["files"]) ^ set(m2["files"])
        old_side, new_side = snap.changed_sides(spark, path, 1, 2)
        touched = {
            f.rsplit("/", 1)[-1]
            for side in (old_side, new_side)
            for f in side.inputFiles()
        }
        if not touched <= changed:
            raise RuntimeError(
                f"delta scan touched carried files: {touched - changed}"
            )
        out = state2.select(
            "o_orderstatus",
            "o_orderpriority",
            "n_rows",
            F.col("key_sum").cast("long").alias("key_sum"),
            F.col("total_price").cast("double").alias("total_price"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "acid_hidden_partition_prune",
    oracle=f"""
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
),
win AS (
    SELECT * FROM src
    WHERE o_orderdate >= TIMESTAMP '1996-11-15 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-02-16 00:00:00'
),
mf AS (
    SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS INTEGER)
             AS n_month_files_scanned
    FROM src
    WHERE o_orderdate >= TIMESTAMP '1996-11-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
),
dfc AS (
    SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS INTEGER)
             AS n_day_files_scanned
    FROM src
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-02-16 00:00:00'
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dec_sum('o_totalprice', 2)} AS total_price,
       n_month_files_scanned, n_day_files_scanned
FROM win CROSS JOIN mf CROSS JOIN dfc
GROUP BY o_orderstatus, n_month_files_scanned, n_day_files_scanned
""",
)
def acid_hidden_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S4-S6 extension] HIDDEN PARTITIONING with spec evolution under
    the exact gate (sources/snapshot.append_partitioned /
    read_table_pruned — the Iceberg flagship): pre-1997 orders commit
    partitioned by month(o_orderdate), the 1997+ half commits under an
    EVOLVED daily spec on the same column, and the boundary-spanning read
    [1996-11-15, 1997-02-15] prunes month-files by month and day-files by
    day from manifest metadata alone (one file per partition value by
    construction — repartition on the hidden value before partitionBy).

    The scanned-file census rides INSIDE the hash gate: the oracle
    predicts exactly how many month files (distinct months with data in
    Nov-Dec 1996) and day files (distinct days with data in
    1997-01-01..02-15) a correct pruner must keep — prune too much and
    the aggregate loses rows, prune too little and the census mismatches.
    The row-level residual predicate is applied on top, the Iceberg
    scan-plus-residual contract."""
    from aws_etl_fiap_spark.sources import snapshot as snap

    with scratch_sink("hidpart_") as tmp:
        path = os.path.join(tmp, "orders_part")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        boundary = F.lit("1997-01-01").cast("timestamp")
        snap.append_partitioned(
            spark, src.filter(F.col("o_orderdate") < boundary),
            path, "month", "o_orderdate",
        )
        # the daily-spec half covers H1-1997 only: the read window ends in
        # February, and one-file-per-DAY over four more years would be
        # ~1600 tiny files of data the gate never scans.
        snap.append_partitioned(
            spark,
            src.filter(
                (F.col("o_orderdate") >= boundary)
                & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
            ),
            path, "day", "o_orderdate",
        )
        pruned = snap.read_table_pruned(
            spark, path, "o_orderdate", "1996-11-15", "1997-02-15"
        )
        man = snap._read_manifest(spark, path, 2)
        scanned = {f.split("/")[-1] for f in pruned.inputFiles()}
        n_m = sum(
            1 for n in scanned
            if man["partitions"][n]["transform"] == "month"
        )
        n_d = sum(
            1 for n in scanned
            if man["partitions"][n]["transform"] == "day"
        )
        out = (
            pruned.filter(
                (F.col("o_orderdate") >= F.lit("1996-11-15").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-02-16").cast("timestamp"))
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("key_sum"),
                dec_sum("o_totalprice", 2).alias("total_price"),
            )
            .withColumn("n_month_files_scanned", F.lit(n_m))
            .withColumn("n_day_files_scanned", F.lit(n_d))
        )
        return out.localCheckpoint(eager=True)
