"""Registry plumbing for the (Spark query, DuckDB oracle) catalog.

Contract (driver's __spark_entry__ protocol):
- each Spark callable takes (spark, sf_dir) and returns a lazy DataFrame;
- the oracle is ANSI SQL DuckDB runs over the same parquet tables, registered
  as views named region/nation/customer/supplier/part/orders/lineitem/events/
  documents/embeddings;
- the comparison is row-count + schema + ORDER-INSENSITIVE value hash, with
  columns sorted BY NAME — so every computed column must carry the same alias
  on both sides.

Determinism rules every entry must obey (else the hash is meaningless):
- window/LIMIT queries use a TOTAL order (unique tiebreaker columns);
- no current_timestamp/random in compared output;
- double aggregates are rounded on both sides to kill summation-order ulps;
- every DuckDB integer SUM (plain or windowed) and any expression derived
  from one is wrapped in CAST(... AS BIGINT): DuckDB promotes integer SUM
  to HUGEINT (int128), which a pandas/arrow fetch renders as float64 —
  value-hash poison that a fetchall()-based local compare CANNOT see (the
  round-6 driver failed exactly the five uncast-SUM oracles while the
  local twin passed them byte-exactly).  ``scripts/verify_driver.py``
  screens the whole registry for this class (its ``FLAG`` lines) in the
  same sweep as the exact compare; run it on every new batch BEFORE the
  driver does.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from aws_etl_fiap_spark.sources.readers import TABLES

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    spark: SparkQuery
    oracle: str  # DuckDB SQL


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query and its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(spark=fn, oracle=oracle)
        return fn

    return deco


def oracle_views(con, sf_dir: str):
    """Register each testdata table under ``sf_dir`` as a DuckDB view of
    its name on ``con`` (the oracle's environment above); absent tables
    are skipped.  Returns ``con``."""
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# The round driver grades only the first 50 ``queries()`` entries; this
# tuple is that window, edited by hand.  Every other registered query
# follows in registration order.
DRIVER_PRIORITY: tuple[str, ...] = (
    "text_index_search",
    "corpus_curation_funnel",
    "dedup_cluster_canonical",
    "agg_approx_profile",
    "agg_cube_flag_status",
    "agg_distinct_percentiles",
    "agg_grouping_sets_sql",
    "agg_rollup_status_priority",
    "conditional_round",
    "date_parts_cast",
    "dedup_exact",
    "dedup_incremental_new_docs",
    "distinct_pairs",
    "events_json_typed_parse",
    "events_rollup_type_user",
    "events_session_30min",
    "events_sliding_10min_5min",
    "events_tumbling_10min",
    "global_count",
    "graph_degree_distribution",
    "join_asof_prev_low_order",
    "join_full_nation_activity",
    "join_left_customer_orders",
    "join_range_price_bands",
    "join_semi_urgent_customers",
    "keyed_stats_single",
    "null_filter_project",
    "refined_detail_lag",
    "rename_literal_hyphen",
    "roundtrip_partitioned_agg",
    "set_nations_except",
    "set_nations_except_all",
    "set_nations_intersect",
    "set_nations_intersect_all",
    "sim_topk_ivf",
    "sim_topk_ivfpq",
    "sim_topk_lsh",
    "sim_topk_pq",
    "skew_salted_agg",
    "sort_limit_topn",
    "sql_athena_canonical",
    "sql_hint_broadcast_join",
    "stream_dedup_equiv",
    "stream_sliding_10min_5min_equiv",
    "text_top_sources_with_other",
    "union_all_sources",
    "unpivot_lineitem_measures",
    "window_lead_first_last_ntile",
    "window_rank_top3_orders",
    "window_rolling_7row_avg",
)


def _ordered() -> list[str]:
    missing = [n for n in DRIVER_PRIORITY if n not in REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_PRIORITY names not registered: {missing}")
    prio = set(DRIVER_PRIORITY)
    return list(DRIVER_PRIORITY) + [n for n in REGISTRY if n not in prio]


def queries() -> dict[str, SparkQuery]:
    return {name: REGISTRY[name].spark for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].oracle for name in _ordered()}
