"""The three benchmark workloads and their output checks.

A workload makes its inputs, names a warm-up operation, lists the
operations of one pass, runs one operation through the runner's phases, and
checks its outputs once per run against DuckDB (outside every timed region).
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa

import inputs

REFINED_SQL_OPS = (
    "flagship_refined_summary",
    "refined_detail_lag",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
)
LLM_CURATION_OPS = (
    "dedup_cluster_canonical",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "basket_brand_pairs_lift",
    "graph_pagerank_bipartite",
    "corpus_curation_funnel",
    "text_bpe_encode",
    "sim_topk_lsh",
)


# -- order-insensitive result hashing ---------------------------------------------


def _normalized(table: pa.Table) -> pa.Table:
    """One type per value domain, so both engines' results print alike:
    floats as double, zoned timestamps as their naive UTC value."""
    cols = []
    for col in table.columns:
        t = col.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            col = col.cast(pa.timestamp(t.unit))
        elif pa.types.is_floating(t):
            col = col.cast(pa.float64())
        elif pa.types.is_list(t) and pa.types.is_floating(t.value_type):
            col = col.cast(pa.list_(pa.float64()))
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def table_digest(con: duckdb.DuckDBPyConnection, table: pa.Table) -> tuple:
    """(rows, sorted column names, order-insensitive value hash).  Each row
    is hashed as the DuckDB text of its cells, columns sorted by name, and
    the row hashes are summed — a Spark result and a DuckDB result with the
    same values digest equal."""
    names = tuple(sorted(table.column_names))
    con.register("digest_input", _normalized(table))
    cells = ", ".join(f"coalesce(CAST(\"{n}\" AS VARCHAR), chr(0))" for n in names)
    rows, value_hash = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {cells}))), 0)::VARCHAR "
        "FROM digest_input"
    ).fetchone()
    con.unregister("digest_input")
    return rows, names, value_hash


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{src}')")


# -- workloads -------------------------------------------------------------------


class RegistryWorkload:
    """Registered queries over generated fixture tables, each forced with
    a global count — the aggregate ``DataFrame.count()`` runs."""

    ops: tuple[str, ...] = ()
    #: A cheap single-scan query: the set-up pays JVM and session start,
    #: not a workload's compile-heavy first operation.
    warmup_op = "tpch_q6_forecast_revenue"

    def __init__(self, sf: float, copies: int) -> None:
        self.sf, self.copies = sf, copies
        self.sf_dir = ""

    def prepare(self, work: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work, "tables")
        stats = inputs.write_tables(self.sf_dir, self.sf)
        if self.copies > 1:
            inputs.clone(self.sf_dir, self.copies, stats)
        self.rng = random.Random(seed)
        return {"sf": self.sf, "copies": self.copies, "tables": stats}

    def order(self) -> list[str]:
        return self.rng.sample(self.ops, len(self.ops))

    def warmup(self, spark) -> None:
        from aws_etl_fiap_spark.queries import REGISTRY

        REGISTRY[self.warmup_op].spark(spark, self.sf_dir).count()

    def before_pass(self, spark, index: int) -> None:
        pass

    def after_pass(self, spark) -> dict:
        return {}

    def run_op(self, rt, op: str) -> int:
        from aws_etl_fiap_spark.queries import REGISTRY

        with rt.phase(op, "construct", "queries.construct"):
            df = REGISTRY[op].spark(rt.spark, self.sf_dir)
        return rt.count(op, df)

    def check(self, spark, frames: dict) -> dict[str, dict]:
        """Each operation's cold-pass DataFrame, collected outside timing,
        against its ``oracle_sql()`` twin on the same input directory: row
        count plus value hash.  DuckDB runs the oracles on a second thread
        while Spark recomputes the outputs."""
        from aws_etl_fiap_spark.queries import oracle_sql

        oracles = oracle_sql()

        def digests(result) -> dict:
            con = duckdb.connect()
            duck_views(con, self.sf_dir)
            out = {}
            for op in self.ops:
                try:
                    out[op] = table_digest(con, result(con, op))
                except Exception as exc:  # a raised check is a failed check
                    out[op] = exc
            con.close()
            return out

        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(digests, lambda con, op: con.execute(oracles[op]).arrow())
            got = digests(lambda con, op: frames[op].toArrow())
            want = oracle.result()
        out = {}
        for op in self.ops:
            bad = next((d for d in (want[op], got[op]) if isinstance(d, Exception)), None)
            if bad is not None:
                out[op] = {"ok": False, "rows": None, "error": repr(bad)[:300]}
            else:
                out[op] = {"ok": got[op] == want[op], "rows": want[op][0]}
        return out


class RefinedSql(RegistryWorkload):
    ops = REFINED_SQL_OPS


class LlmCuration(RegistryWorkload):
    ops = LLM_CURATION_OPS


AGG_SQL = """
SELECT ticker, year, month,
       COUNT(*) AS total_registros,
       CAST(SUM(volume_negociado) AS BIGINT) AS volume_total_mes,
       MIN(preco_fechamento) AS preco_minimo_mes,
       MAX(preco_fechamento) AS preco_maximo_mes
FROM {source}
GROUP BY ticker, year, month
"""


class DailyEtl:
    """The reference pipeline: collect -> raw/ -> refined/ -> catalog, an
    AvailableNow drain of raw/ into interim/, and one Athena-style
    aggregate over ``b3_data.stocks_refined``.  Each pass writes into a
    fresh warehouse; the previous one is deleted outside timing."""

    ops = ("pipeline", "drain", "aggregate")
    rows_per_ticker = 22

    def __init__(self, n_tickers: int) -> None:
        self.n_tickers = n_tickers
        self.batches = 0

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.tickers = inputs.tickers(seed, self.n_tickers)
        self.warehouse = ""
        return {"tickers": self.n_tickers, "raw_rows": self.n_tickers * self.rows_per_ticker}

    def order(self) -> list[str]:
        return list(self.ops)

    def warmup(self, spark) -> None:
        """Declare the database and run one small shuffle job; the cold
        pass pays the first Python-worker start of the collect stage."""
        from aws_etl_fiap_spark.sources.catalog import ensure_database

        ensure_database(spark, "b3_data")
        spark.range(1 << 16).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def before_pass(self, spark, index: int) -> None:
        spark.sql("DROP TABLE IF EXISTS b3_data.stocks")
        spark.sql("DROP TABLE IF EXISTS b3_data.stocks_refined")
        if self.warehouse:
            inputs.remove(self.warehouse)
        self.warehouse = os.path.join(self.work, f"warehouse-{index}")

    def _layer(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def after_pass(self, spark) -> dict:
        def walk(name):
            files = size = 0
            for root, _, names in os.walk(self._layer(name)):
                for f in names:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
            return files, size

        (rf, rb), (ff, fb), (_, ib) = walk("raw"), walk("refined"), walk("interim")
        return {
            "files_written": rf + ff,
            "bytes_written": rb + fb,
            "stored_bytes_ratio": (fb + ib) / rb if rb else 0.0,
            "batches": self.batches,
        }

    def run_op(self, rt, op: str) -> int:
        from aws_etl_fiap_spark.plans import pipeline
        from aws_etl_fiap_spark.streaming import file_trigger

        spark = rt.spark
        if op == "pipeline":
            with rt.phase(op, "action", "plans.pipeline.run_pipeline"):
                res = pipeline.run_pipeline(spark, self.warehouse, self.tickers)
            want = self.rows_per_ticker * self.n_tickers
            if not res.raw_count == res.refined_count == want:
                raise AssertionError(
                    f"raw {res.raw_count} / refined {res.refined_count} rows, want {want}"
                )
            return res.refined_count
        if op == "drain":
            self.batches = 0

            def transform(batch):
                self.batches += 1
                return batch

            with rt.phase(op, "action", "streaming.file_trigger.process_available_files"):
                raw = self._layer("raw")
                stream = file_trigger.stream_from_directory(spark, raw, spark.read.parquet(raw).schema)
                file_trigger.process_available_files(
                    stream, transform, self._layer("interim"), self._layer("checkpoint"), ["dataproc"]
                )
            return self.batches
        with rt.phase(op, "construct", "queries.construct"):
            df = spark.sql(AGG_SQL.format(source="b3_data.stocks_refined"))
        return rt.count(op, df)

    def check(self, spark, frames: dict) -> dict[str, dict]:
        """DuckDB over the cold pass's files: the refined/ aggregate equals
        the cold pass's Spark SQL result, and interim/ holds every raw/
        row."""
        con = duckdb.connect()
        raw_rows = self.rows_per_ticker * self.n_tickers
        out = {"pipeline": {"ok": True, "rows": raw_rows}}
        try:
            refined = f"read_parquet('{self._layer('refined')}/**/*.parquet', hive_partitioning=true)"
            want = table_digest(con, con.execute(AGG_SQL.format(source=refined)).arrow())
            got = table_digest(con, frames["aggregate"].toArrow()) if "aggregate" in frames else None
            out["aggregate"] = {"ok": got == want, "rows": want[0]}
            interim = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{self._layer('interim')}/**/*.parquet')"
            ).fetchone()[0]
            out["drain"] = {"ok": interim == raw_rows, "rows": None, "interim_rows": interim}
        except Exception as exc:
            for op in ("aggregate", "drain"):
                out.setdefault(op, {"ok": False, "rows": None, "error": repr(exc)[:300]})
        con.close()
        return out


def make(name: str, small: bool):
    """Workload ``name`` at its benchmark size, or at the smallest size."""
    if name == "refined_sql":
        return RefinedSql(0.001, 2) if small else RefinedSql(0.02, 2)
    if name == "llm_curation":
        return LlmCuration(0.001, 1) if small else LlmCuration(0.01, 1)
    if name == "daily_etl":
        return DailyEtl(20 if small else 100)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("refined_sql", "llm_curation", "daily_etl")
