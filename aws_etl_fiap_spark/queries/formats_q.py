"""Interchange-format round-trip gates ([EXT]; reference S4/S5 edges beyond
its parquet-only at-rest layer — the CSV / JSON-lines / ORC surfaces an ETL
engine meets at its boundaries, each behind the driver's exact-value gate).

Pattern mirrors writepath_q.py: write the real sink into a
``sources.writers.scratch_sink`` directory, read it back through the
schema-enforced readers in sources/formats.py, aggregate, eagerly
localCheckpoint, and hash the result against an oracle computed straight
from the ORIGINAL parquet table — so the serializer, the header/encoding,
the schema-on-read enforcement, and (for JSONL) the PERMISSIVE corrupt-row
quarantine are all inside the verified loop.

Exactness notes:
- doubles survive CSV/JSON textually because Spark writes the shortest
  round-trip decimal repr and parses it back to the identical IEEE value;
  the aggregate then uses DECIMAL(38,2) partial sums (functions/parity) so
  summation order cannot leak in;
- timestamps are cast to DATE before the text write — date strings are
  format-stable, while timestamp text formats drag in zone/precision policy
  that belongs to the events/NTZ read path, not to this gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_fiap_spark.functions.parity import dec_sum, sql_dec_sum
from aws_etl_fiap_spark.queries.registry import query
from aws_etl_fiap_spark.sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)
from aws_etl_fiap_spark.sources.readers import load_table
from aws_etl_fiap_spark.sources.writers import scratch_sink

_N_CORRUPT = 7


@query(
    "roundtrip_csv_scan",
    oracle=f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 2)} AS total_price,
       MIN(CAST(o_orderdate AS DATE)) AS first_date,
       MAX(CAST(o_orderdate AS DATE)) AS last_date
FROM orders
GROUP BY o_orderpriority, o_orderstatus
""",
)
def roundtrip_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5 edge] CSV sink + schema-enforced scan under the exact gate:
    orders -> header CSV (8 writer tasks) -> read with an EXPLICIT schema
    (never inference — at 100 TB inference doubles the read and drifts with
    the sample; sources/formats.py docstring) -> aggregate.  Values must
    hash-equal the oracle over the original parquet, so the text encode /
    decode of bigint, double, date and quoted strings is all verified."""
    with scratch_sink("csv_rt_") as tmp:
        path = os.path.join(tmp, "orders_csv")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_date"),
        )
        write_csv(src.repartition(8), path)
        back = read_csv(
            spark,
            path,
            "o_orderkey bigint, o_orderstatus string, o_orderpriority string,"
            " o_totalprice double, o_date date",
        )
        out = back.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", 2).alias("total_price"),
            F.min("o_date").alias("first_date"),
            F.max("o_date").alias("last_date"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "roundtrip_jsonl_quarantine",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dec_sum('value', 2)} AS total_value
FROM events
GROUP BY event_type
UNION ALL
SELECT NULL AS event_type,
       {_N_CORRUPT} AS n_events,
       CAST(NULL AS DECIMAL(38, 2)) AS total_value
""",
)
def roundtrip_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5 edge] JSON-lines sink + PERMISSIVE quarantine under the exact
    gate: events -> JSONL, then {_N_CORRUPT} deliberately broken lines are
    appended (the 100 TB reality this mode exists for), and the read-back
    uses the schema-enforced PERMISSIVE reader — broken lines surface as
    all-NULL rows with the raw line preserved in _corrupt_record.  The
    aggregate keeps them as the NULL event_type group, so the oracle pins
    BOTH the good-row values (vs original parquet) and the exact quarantine
    count: a reader that dropped or mis-parsed corrupt lines hash-fails."""
    with scratch_sink("jsonl_rt_") as tmp:
        path = os.path.join(tmp, "events_jsonl")
        src = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        # Encode width stays 8 (r14 A/B): widening to session parallelism
        # halves the WRITE (1.09 -> 0.57 s at 32 tasks) but the 4x file
        # count makes the PERMISSIVE read-back slower by more — in-session
        # interleaved minimums 5.39 s (8) vs 6.14 s (32).  File-sizing
        # discipline (guide §6) agrees: more, smaller files hurt readers.
        write_jsonl(src.repartition(8), path)
        corrupt = spark.createDataFrame(
            [('{"event_id": broken',)] * _N_CORRUPT, "value string"
        )
        corrupt.coalesce(1).write.mode("append").text(path)
        back = read_jsonl(
            spark, path, "event_id bigint, event_type string, value double"
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", 2).alias("total_value"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "roundtrip_orc_scan",
    oracle=f"""
SELECT p_brand,
       COUNT(*) AS n_parts,
       {sql_dec_sum('p_retailprice', 2)} AS total_retail,
       CAST(SUM(p_size) AS BIGINT) AS sum_size
FROM part
GROUP BY p_brand
""",
)
def roundtrip_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5 edge] ORC sink + scan under the exact gate: part -> ORC ->
    read back -> aggregate, hash-equal to the oracle over the original
    parquet — the columnar sibling format round-trips binary-exactly (no
    text encode), so this pins the writer/reader pair itself."""
    with scratch_sink("orc_rt_") as tmp:
        path = os.path.join(tmp, "part_orc")
        src = load_table(spark, sf_dir, "part")
        write_orc(src.repartition(8), path)
        back = read_orc(spark, path)
        out = back.groupBy("p_brand").agg(
            F.count(F.lit(1)).alias("n_parts"),
            dec_sum("p_retailprice", 2).alias("total_retail"),
            F.sum(F.col("p_size").cast("bigint")).alias("sum_size"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "roundtrip_schema_evolution",
    oracle=f"""
WITH evolved AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1
                THEN CAST(YEAR(o_orderdate) AS INT) END AS o_year
    FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 2)} AS total_price,
       COUNT(o_year) AS n_evolved_rows,
       CAST(SUM(o_year) AS BIGINT) AS sum_year
FROM evolved
GROUP BY o_orderstatus
""",
)
def roundtrip_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5/S7] Schema evolution on read (mergeSchema): two generations
    of the same table land in one directory — generation 1 with three
    columns, generation 2 with an added o_year — and the read-back merges
    the footers so old files surface the new column as NULL.  The aggregate
    pins exactly which rows carry the evolved column (COUNT/SUM over it),
    so a reader that dropped the column, defaulted it wrongly, or failed
    the merge hash-fails.  At 100 TB this is the additive-column migration
    path: no rewrite of historical files, schema merged at scan time (pay
    the footer merge only when evolution is in flight; freeze the final
    schema in the catalog afterwards — sources/catalog.py)."""
    with scratch_sink("evolve_rt_") as tmp:
        path = os.path.join(tmp, "orders_evolving")
        src = load_table(spark, sf_dir, "orders")
        gen1 = src.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        gen2 = src.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        gen1.repartition(4).write.mode("overwrite").parquet(path)
        gen2.repartition(4).write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        out = back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", 2).alias("total_price"),
            F.count("o_year").alias("n_evolved_rows"),
            F.sum(F.col("o_year").cast("bigint")).alias("sum_year"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "roundtrip_corrupt_file_skip",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def roundtrip_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5 edge] Corrupt-object resilience: the orders table is written
    as parquet, then two GARBAGE objects (random bytes with a .parquet
    name, and a zero-file with a valid footer magic prefix) are dropped
    into the directory — the few-bad-objects reality of any 100 TB lake.
    With ``spark.sql.files.ignoreCorruptFiles`` scoped on, the scan must
    skip exactly the garbage and aggregate the good files to hash-equality
    with the source-table oracle (a silent row loss OR a crash both fail
    the gate).  The conf is scoped, not session-global: corruption
    tolerance is an opt-in per read — default-on would mask real damage."""
    from aws_etl_fiap_spark.confs import scoped_conf

    with scratch_sink("corrupt_rt_") as tmp:
        path = os.path.join(tmp, "orders_pq")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        src.repartition(4).write.parquet(path)
        with open(os.path.join(path, "part-junk-0.parquet"), "wb") as fh:
            fh.write(b"\x13\x37" * 4096)  # not parquet at all
        with open(os.path.join(path, "part-junk-1.parquet"), "wb") as fh:
            fh.write(b"PAR1" + b"\x00" * 64)  # magic but truncated garbage
        with scoped_conf(spark, "spark.sql.files.ignoreCorruptFiles", "true"):
            back = spark.read.parquet(path)
            out = back.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                dec_sum("o_totalprice", 2).alias("total_price"),
            )
            return out.localCheckpoint(eager=True)
