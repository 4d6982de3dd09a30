"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, "rows": {name: n, ...}}

Each query is forced with a count() (full plan execution, no driver-side
result transfer cost). A warmup run of the flagship amortizes JVM/codegen
startup out of the per-query numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

from aws_etl_fiap_spark.queries import REGISTRY
from aws_etl_fiap_spark.session import get_spark

# Headline set: the flagship pipeline + scan/agg/join classics + the widest
# extension ops. Keep this list stable across rounds so BENCH_r{N}.json is
# comparable round-over-round.
HEADLINE = [
    "flagship_refined_summary",
    "refined_detail_lag",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
]

# One representative per operator family beyond the headline; timed and
# reported, but not part of the headline total. Every registered query (240
# today) runs with SPARK_GRAFT_BENCH_ALL=1 (kept out of the default run to
# bound the per-round bench wall-clock).
REPRESENTATIVE = [
    "tpch_q9_product_profit",        # widest star join
    "tpch_q18_large_orders",         # agg-then-semi-join
    "tpch_q21_suppliers_kept_waiting",  # exists/not-exists decorrelation
    "window_rolling_7row_avg",       # window frames
    "agg_rollup_status_priority",    # grouping sets family
    "pivot_priority_by_status",      # pivot
    "events_session_30min",          # session windows
    "events_json_agg",               # JSON extraction
    "text_top_terms_per_lang",       # text analysis
    "dedup_ngram_jaccard",           # inverted-index dedup
    "dedup_minhash_lsh",             # signature dedup (scale path)
    "dedup_cluster_canonical",       # iterative connected components
    "sim_topk_bruteforce",           # exact ANN baseline
    "sim_topk_lsh",                  # ANN scale path (r3: replaces
    #   sim_topk_ivf, which became an empty-violation recall GATE — timing a
    #   query whose steady-state output is 0 rows said nothing about ANN
    #   throughput; LSH bucketed top-k is the production surface)
    "media_frame_sample",            # multimodal mapInPandas
    "text_redact_pii",               # regex scrub (r6: PII pass over corpus)
    "join_skew_salted_bigbig",       # salted shuffle join (r6: skew recipe)
    "corpus_decontaminate",          # broadcast benchmark-overlap (r6)
    "scd2_event_history",            # single-shuffle SCD2 build (r6)
    "graph_pagerank_bipartite",      # fixed-iteration PageRank (r6)
    "order_global_index_orders",     # no-single-reducer global index (r6)
    "text_unigram_surprisal",        # corpus-LM quality signal (r6)
    "events_funnel_conversion",      # ordered funnel detection (r6)
    "dedup_winnow_overlap",          # winnowing fingerprints (r6 batch 3)
    "er_blocked_part_names",         # blocked record linkage (r6 batch 3)
    "text_tfidf_top_terms",          # per-doc keyword extraction (r6 batch 3)
    "fin_ohlc_daily_bars",           # one-aggregate OHLC bars (r6 batch 4)
    "sketch_cms_heavy_hitters",      # relational count-min sketch (r6 batch 4)
    "basket_brand_pairs_lift",       # capped basket association (r6 batch 4)
    "fin_rolling_corr_view_click",   # rolling bivariate moments (r6 batch 5)
    "fs_point_in_time_join",         # leakage-free PIT feature join (r6 batch 6)
    "text_bpe_encode",               # tokenizer application over the vocab (r8)
    "text_bigram_lm_nll",            # broadcast-LM fluency scoring (r8)
    "corpus_token_budget_select",    # two-pass prefix-sum selection (r8)
    "dedup_semdedup_embed",          # SRP-bucketed embedding prune (r8)
    "web_domain_policy_rollup",      # URL canonicalization rollup (r8)
]


def time_queries(spark, sf_dir, names, runs, around_run=None):
    """Time each registered query in ``names``, forced with ``count()``.

    One warm-up of the flagship first (JVM + codegen + parquet footer
    caches).  Then per query one cold run, which pays one-time whole-stage-
    codegen compilation (hundreds of ms of Janino per distinct plan, which
    a long-lived cluster amortizes to zero only while the class stays in
    the codegen cache: session.CODEGEN_CACHE_ENTRIES), and ``runs`` steady
    runs; callers report the MIN with the (max-min) spread so round-over-
    round deltas can be separated from machine-load noise (round-2
    verdict: byte-identical queries drifted a uniform 1.2-1.4x between
    rounds under n<=2; the r8->r9 +32% drift on byte-identical plans
    pushed the default from 3 to 5 — r9 verdict task 2: the rebuttal must
    live IN the artifact).

    ``around_run(name, i)``, if given, returns a context manager entered
    around steady run ``i`` outside its timed region.  Yields ``(name,
    rows, cold_s, [steady_s, ...])`` per query.
    """
    REGISTRY["flagship_refined_summary"].spark(spark, sf_dir).count()
    for name in names:
        fn = REGISTRY[name].spark
        start = time.perf_counter()
        rows = fn(spark, sf_dir).count()
        cold = time.perf_counter() - start
        steady = []
        for i in range(runs):
            with around_run(name, i) if around_run else nullcontext():
                start = time.perf_counter()
                fn(spark, sf_dir).count()
                steady.append(time.perf_counter() - start)
        yield name, rows, cold, steady


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="aws_etl_fiap_spark-bench")

    names = [n for n in HEADLINE if n in REGISTRY]
    bench_half = os.environ.get("SPARK_GRAFT_BENCH_HALF")
    if os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        names += [n for n in REPRESENTATIVE if n in REGISTRY and n not in names]
        rest = [n for n in sorted(REGISTRY) if n not in names]
        if bench_half in ("0", "1"):
            # Steady-state ROTATION (round-6 verdict #8): the registry has
            # outgrown a full min-of-3 sweep per round, so the tail beyond
            # headline+representatives splits into two deterministic halves
            # (sorted-name parity) timed on alternating rounds — every
            # family keeps a steady-state number at most two rounds old
            # while the sweep wall-clock stays flat as the registry grows.
            rest = [n for i, n in enumerate(rest) if i % 2 == int(bench_half)]
        names += rest
    else:
        names += [n for n in REPRESENTATIVE if n in REGISTRY and n not in names]

    n_steady = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    cold: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, n_rows, cold_s, runs in time_queries(spark, sf_dir, names, n_steady):
        rows[name] = n_rows
        cold[name] = round(cold_s, 4)
        timings[name] = round(min(runs), 4)
        spread[name] = round(max(runs) - min(runs), 4)

    # Machine-load stamp: a high 1-minute load average at measurement time
    # is the documented signature of the r7/r8/r9 uniform drift on
    # byte-identical plans — recording it makes the noise argument an
    # artifact property instead of prose (r9 verdict task 2).
    try:
        loadavg_1m = round(os.getloadavg()[0], 2)
    except OSError:
        loadavg_1m = None

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings[n] for n in names if n in HEADLINE), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows": rows,
        "queries_spread": spread,
        "steady_runs": n_steady,
        "cold_value": round(sum(cold[n] for n in names if n in HEADLINE), 4),
        "bench_half": bench_half,
        "loadavg_1m": loadavg_1m,
    }
    # The round driver records only a fixed-size TAIL of stdout; round 3's
    # single full-payload line outgrew it and the head (with "value") was
    # truncated -> BENCH_r03.json parsed:null.  So: full payload goes to a
    # repo file, and stdout gets ONE compact line (metric/value/unit/sf/
    # queries/spreads/cold) that always fits the capture window.
    # Artifact naming (r9 verdict task 3): the default headline run and the
    # SPARK_GRAFT_BENCH_ALL full-registry sweep get DISTINCT files so the
    # driver's per-round headline write can never shadow the committed
    # registry-wide sweep.
    full_name = (
        "bench_registry_latest.json"
        if os.environ.get("SPARK_GRAFT_BENCH_ALL")
        else "bench_full_latest.json"
    )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             full_name)
    try:
        with open(full_path, "w") as fh:
            json.dump(out, fh)
    except OSError:
        pass  # read-only checkout: the compact stdout line still carries the result
    # r10 post-mortem (BENCH_r10.json parsed:null): putting the 42-entry
    # per-query timing AND spread dicts on this line overflowed the driver's
    # fixed-size stdout-tail capture, truncating the head (with "value") for
    # the second time (after r3).  The line must stay near-constant size:
    # keep the per-query timings (they fit r1-r9's capture and the driver's
    # documented line format includes them) but the spread dict — the r10
    # addition that tipped it over — stays in the JSON file named by "full".
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "queries": timings,
        "steady_runs": n_steady,
        "cold_value": out["cold_value"],
        "bench_half": bench_half,
        "loadavg_1m": loadavg_1m,
        "full": full_name,
    }
    # Hard guard: the driver's stdout capture is 2000 chars (measured from
    # BENCH_r10.json's tail field).  r9's line was 1594 chars — only ~400 of
    # headroom — so if the headline set ever grows the timings past the
    # window, drop them from the line rather than lose the headline again.
    line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
