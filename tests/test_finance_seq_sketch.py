"""Unit/property tests for the batch-4 operators: market-data analytics
(operators/finance.py), count-min sketch (operators/sketches.py), and
sequence/association mining (operators/sequences.py).  Value parity vs
DuckDB is covered for every registered query by test_oracle_parity; these
pin the operator-level invariants and plan shapes."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.finance import drawdown, ohlc_bars, rolling_bands
from aws_etl_fiap_spark.operators.sequences import basket_pairs, transition_matrix
from aws_etl_fiap_spark.operators.sketches import cms_build, cms_estimate
from aws_etl_fiap_spark.sources.readers import load_table


# ---------------------------------------------------------------- finance

def test_ohlc_is_single_aggregate_no_window(spark, sf_smoke):
    """min_by/max_by keep OHLC a one-shuffle hash aggregate: a Window over
    raw events would add a sort + extra exchange that a 100 TB scan can't
    afford."""
    ev = load_table(spark, sf_smoke, "events")
    bars = ohlc_bars(ev, "event_type", "ts", "event_id", "value", F.col("ts").cast("date"))
    plan = bars._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_ohlc_semantics_match_pandas_model(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events").select("event_type", "ts", "event_id", "value")
    bars = ohlc_bars(
        ev, "event_type", "ts", "event_id", "value", F.col("ts").cast("date")
    ).toPandas()
    pdf = ev.toPandas().sort_values(["event_type", "ts", "event_id"])
    pdf["bar"] = pdf["ts"].dt.date
    g = pdf.groupby(["event_type", "bar"])["value"]
    model = pd.DataFrame(
        {"open": g.first(), "high": g.max(), "low": g.min(), "close": g.last()}
    ).reset_index()
    merged = bars.merge(model, on=["event_type", "bar"], suffixes=("", "_m"))
    assert len(merged) == len(bars) == len(model)
    for c in ("open", "high", "low", "close"):
        assert (merged[c] == merged[f"{c}_m"]).all()


def test_bollinger_matches_float_model_within_cent_quantization(spark, sf_smoke):
    """The integer-cents rolling moments must agree with a plain pandas
    rolling mean/std up to the cent-quantization error (<= 0.005 on the
    mean, proportionally bounded on the bands)."""
    ev = load_table(spark, sf_smoke, "events").select("event_type", "ts", "value")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum("value").alias("daily_total")
    )
    out = (
        rolling_bands(daily, "event_type", "day", "daily_total", n_rows=20)
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    for _, grp in out.groupby("event_type"):
        x = grp["daily_total"].round(2)  # cent quantization of the model
        mean = x.rolling(20, min_periods=1).mean()
        std = x.rolling(20, min_periods=1).std(ddof=0).fillna(0.0)
        assert (grp["sma"] - mean).abs().max() < 0.01
        assert (grp["bb_upper"] - (mean + 2 * std)).abs().max() < 0.02
        assert (grp["bb_lower"] - (mean - 2 * std)).abs().max() < 0.02


def test_drawdown_invariants(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events").select("event_type", "ts", "value")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum("value").alias("daily_total")
    )
    out = drawdown(daily, "event_type", "day", "daily_total").toPandas()
    assert (out["drawdown_pct"] >= 0).all()  # never above the running peak
    assert (out["running_peak"] >= out["daily_total"] - 1e-9).all()
    # first row of each series: zero drawdown, zero cumulative return
    first = out.sort_values("day").groupby("event_type").first()
    assert (first["drawdown_pct"] == 0).all()
    assert (first["cum_return_pct"] == 0).all()


# ---------------------------------------------------------------- sketches

def test_cms_never_undercounts_and_state_is_bounded(spark, sf_smoke):
    orders = load_table(spark, sf_smoke, "orders").select("o_custkey")
    depth, width = 4, 256  # deliberately narrow: forces real collisions
    sketch = cms_build(orders, "o_custkey", depth=depth, width=width)
    assert sketch.count() <= depth * width
    est = cms_estimate(
        orders.distinct(), sketch, "o_custkey", depth=depth, width=width
    )
    true = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_count"))
    j = est.join(true, "o_custkey").toPandas()
    assert len(j) == orders.distinct().count()
    assert (j["est_count"] >= j["true_count"]).all()  # CM one-sided error
    # and with collisions forced, at least one estimate exceeds truth —
    # proving the probe actually reads merged buckets, not exact counts
    assert (j["est_count"] > j["true_count"]).any()


def test_cms_estimate_passthrough_matches_join(spark, sf_smoke):
    """r13 optimization invariant: probing from the exact-counts frame with
    true_count as a passthrough group key must equal the old shape
    (distinct keys -> estimate -> equi-join back) value-for-value — the
    passthrough is functionally dependent on the key, so it can never
    change which probe rows group together."""
    orders = load_table(spark, sf_smoke, "orders").select("o_custkey")
    depth, width = 3, 128
    sketch = cms_build(orders, "o_custkey", depth=depth, width=width)
    true = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_count"))
    via_pass = {
        (r["o_custkey"], r["est_count"], r["true_count"])
        for r in cms_estimate(
            true, sketch, "o_custkey", depth=depth, width=width,
            passthrough=["true_count"],
        ).collect()
    }
    via_join = {
        (r["o_custkey"], r["est_count"], r["true_count"])
        for r in cms_estimate(
            orders.distinct(), sketch, "o_custkey", depth=depth, width=width
        ).join(true, "o_custkey").collect()
    }
    assert via_pass == via_join


def test_cms_merge_is_bucket_sum(spark, sf_smoke):
    """Sketch(A union B) == bucketwise sum of Sketch(A) + Sketch(B): the
    mergeability contract that lets per-partition sketches combine."""
    orders = load_table(spark, sf_smoke, "orders").select("o_custkey")
    a = orders.filter(F.col("o_custkey") % 2 == 0)
    b = orders.filter(F.col("o_custkey") % 2 != 0)
    whole = cms_build(orders, "o_custkey", depth=2, width=128).toPandas()
    merged = (
        cms_build(a, "o_custkey", depth=2, width=128)
        .unionByName(cms_build(b, "o_custkey", depth=2, width=128))
        .groupBy("seed", "bucket")
        .agg(F.sum("n").alias("n"))
        .toPandas()
    )
    key = ["seed", "bucket"]
    assert (
        whole.sort_values(key).reset_index(drop=True).equals(
            merged.sort_values(key).reset_index(drop=True)
        )
    )


# ---------------------------------------------------------------- sequences

def test_transition_probabilities_normalize(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    tm = transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"]).toPandas()
    sums = tm.groupby("from_state")["p_transition"].sum()
    # each row rounds half-up at 6dp, so a k-way fan-out drifts <= k*5e-7
    assert ((sums - 1.0).abs() < 1e-4).all()
    assert (tm["n_transitions"] > 0).all()


def test_transition_counts_conserve_events(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    tm = transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])
    total_transitions = tm.agg(F.sum("n_transitions")).collect()[0][0]
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # each user contributes (its event count - 1) transitions
    assert total_transitions == n_events - n_users


def test_basket_pairs_respects_cap_and_symmetric_support(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_smoke, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    out = basket_pairs(
        baskets, "l_orderkey", "p_brand", max_basket=16, min_pair_count=1
    ).toPandas()
    assert (out["item_a"] < out["item_b"]).all()  # each unordered pair once
    assert (out["support"] > 0).all() and (out["support"] <= 1).all()
    assert (out["confidence_a_to_b"] <= 1 + 1e-9).all()
    # lift is symmetric in (a, b) by construction: n_ab * N / (n_a * n_b)
    # — sanity: recompute one row by hand
    row = out.iloc[0]
    sized = (
        baskets.distinct()
        .withColumn("k", F.count(F.lit(1)).over(__import__("pyspark").sql.Window.partitionBy("l_orderkey")))
        .filter(F.col("k") <= 16)
    )
    n_baskets = sized.select("l_orderkey").distinct().count()
    n_a = sized.filter(F.col("p_brand") == row["item_a"]).count()
    expected_conf = row["n_ab"] / n_a
    assert math.isclose(row["confidence_a_to_b"], round(expected_conf, 6), abs_tol=1e-6)
    assert math.isclose(row["support"], round(row["n_ab"] / n_baskets, 6), abs_tol=1e-6)


# ---------------------------------------------------------------- stats (batch 5)

def test_rolling_corr_matches_pandas_model(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.stats import rolling_corr

    ev = load_table(spark, sf_smoke, "events").select("event_type", "ts", "value")
    daily = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", F.col("value"))).alias("x"),
            F.sum(F.when(F.col("event_type") == "click", F.col("value"))).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    out = rolling_corr(daily, "day", "x", "y", n_rows=20).toPandas().sort_values("day")
    model = out[["x", "y"]].round(2)  # cent quantization of the model
    expected = model["x"].rolling(20, min_periods=1).corr(model["y"])
    got = out["rolling_corr"].reset_index(drop=True)
    expected = expected.reset_index(drop=True)
    mask = got.notna() & expected.notna()
    assert mask.sum() > 10
    assert (got[mask] - expected[mask]).abs().max() < 1e-3
    # n=1 leading row: zero variance -> NULL, matching DuckDB's x/0 -> NULL
    assert pd.isna(got.iloc[0])


def test_chi2_matches_numpy_model(spark, sf_smoke):
    import numpy as np

    from aws_etl_fiap_spark.operators.stats import chi2_independence

    ev = load_table(spark, sf_smoke, "events").select("event_type", "ts")
    row = chi2_independence(ev, F.col("event_type"), F.expr("weekday(ts)")).collect()[0]
    pdf = ev.toPandas()
    pdf["dow"] = pdf["ts"].dt.weekday
    ct = pd.crosstab(pdf["event_type"], pdf["dow"]).to_numpy().astype(float)
    e = ct.sum(axis=1, keepdims=True) @ ct.sum(axis=0, keepdims=True) / ct.sum()
    chi2 = ((ct - e) ** 2 / e)[ct > 0].sum()  # cells absent from the grid excluded
    assert abs(row["chi2"] - chi2) < 1e-3
    assert row["dof"] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
    assert row["n_obs"] == len(pdf)


def test_welch_matches_numpy_model(spark, sf_smoke):
    import numpy as np

    from aws_etl_fiap_spark.operators.stats import welch_z_test

    ev = load_table(spark, sf_smoke, "events").select("event_type", "value")
    row = welch_z_test(ev, F.col("event_type"), "value", "view", "click").collect()[0]
    pdf = ev.toPandas()
    a = pdf.loc[pdf.event_type == "view", "value"].round(2).to_numpy()
    b = pdf.loc[pdf.event_type == "click", "value"].round(2).to_numpy()
    z = (a.mean() - b.mean()) / np.sqrt(a.var() / len(a) + b.var() / len(b))
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["z_stat"] - z) < 1e-3


def test_attribution_counts_bounded_and_strictly_before(spark, sf_smoke):
    from aws_etl_fiap_spark.queries.stats_q import attr_last_touch_purchase

    out = attr_last_touch_purchase(spark, sf_smoke).toPandas()
    assert (out["n_attributed"] <= out["n_purchases"]).all()
    assert (out["attributed_share"] <= 1.0).all()
    assert out["n_purchases"].sum() > 0


def test_profile_snapshot_survivorship(spark, sf_smoke):
    from aws_etl_fiap_spark.queries.stats_q import profile_user_snapshot

    out = profile_user_snapshot(spark, sf_smoke).toPandas()
    ev = (
        load_table(spark, sf_smoke, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    assert len(out) == ev["user_id"].nunique()
    last_type = ev.groupby("user_id")["event_type"].last()
    merged = out.set_index("user_id")
    assert (merged["last_event_type"] == last_type).all()
    # last_purchase_value is NULL exactly for users with no purchase event
    has_purchase = ev[ev.event_type == "purchase"].groupby("user_id").size()
    for uid, r in merged.iterrows():
        if uid in has_purchase.index:
            assert not pd.isna(r["last_purchase_value"])
        else:
            assert pd.isna(r["last_purchase_value"])


# ------------------------------------------------- features/graph (batch 6)

def test_point_in_time_join_is_leakage_free(spark, sf_smoke):
    from aws_etl_fiap_spark.queries.features_q import fs_point_in_time_join

    out = fs_point_in_time_join(spark, sf_smoke).toPandas()
    n_purchases = (
        load_table(spark, sf_smoke, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(out) == n_purchases  # cold-start labels kept, not dropped
    matched = out[out["feature_ts"].notna()]
    assert len(matched) > 0
    # strict precedence: the feature snapshot is effective before the label
    assert (matched["feature_ts"] <= matched["ts"]).all()
    # effective-from-next-midnight: feature describes a FULLY elapsed day
    assert (
        matched["feature_ts"].dt.normalize() == matched["feature_ts"]
    ).all()
    cold = out[out["feature_ts"].isna()]
    assert cold["n_clicks"].isna().all() and cold["click_value"].isna().all()


def test_feature_hashing_bounded_dims_and_determinism(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.features import feature_hashing

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    out = feature_hashing(docs, "doc_id", "text", n_dims=16).toPandas()
    assert out["dim"].between(0, 15).all()
    assert (out["weight"] == out["weight"].astype(int)).all()
    # deterministic: a second run yields the identical frame
    again = feature_hashing(docs, "doc_id", "text", n_dims=16).toPandas()
    key = ["doc_id", "dim"]
    assert out.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )
    # total signed mass is conserved: sum of weights == sum of token signs,
    # independent of the dim partitioning
    toks = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    n_toks = toks.count()
    assert out["weight"].abs().sum() <= n_toks
    assert len(out) <= docs.count() * 16


def test_balanced_sample_equalizes_classes(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.sampling import balanced_class_sample

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "lang")
    out = balanced_class_sample(docs, ["lang"], "doc_id").toPandas()
    class_counts = docs.groupBy("lang").count().toPandas()
    m = class_counts["count"].min()
    got = out.groupby("lang").size()
    assert (got == m).all()
    assert set(got.index) == set(class_counts["lang"])
    # deterministic subset of the source
    assert out["doc_id"].is_unique


def test_triangle_counts_match_bruteforce_model(spark):
    from itertools import combinations

    from aws_etl_fiap_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant edge
    edges = [(a, b) for a, b in combinations([1, 2, 3, 4], 2)] + [(4, 5)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


# ------------------------------------------------- bloom/bottomk/skyline (batch 7)

def test_bloom_no_false_negatives_even_when_dense(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.sketches import bloom_build, bloom_probe

    members = (
        load_table(spark, sf_smoke, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    # deliberately tiny filter: dense bitmap, many false positives — the
    # no-false-negative guarantee must hold regardless
    bloom = bloom_build(members, "k", n_bits=256, n_hashes=3)
    assert bloom.count() <= 8  # 256 bits / 32-bit words
    probes = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("k")
    )
    tested = bloom_probe(probes, bloom, "k", n_bits=256, n_hashes=3).toPandas()
    member_ids = {r["k"] for r in members.collect()}
    probed_members = tested[tested["k"].isin(member_ids)]
    assert len(probed_members) > 0
    assert probed_members["passed"].all()  # zero false negatives


def test_bloom_merge_is_bitwise_or(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.sketches import bloom_build

    keys = (
        load_table(spark, sf_smoke, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    a = keys.filter(F.col("k") % 2 == 0)
    b = keys.filter(F.col("k") % 2 != 0)
    whole = bloom_build(keys, "k", n_bits=512).toPandas()
    merged = (
        bloom_build(a, "k", n_bits=512)
        .unionByName(bloom_build(b, "k", n_bits=512))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .toPandas()
    )
    assert whole.sort_values("word").reset_index(drop=True).equals(
        merged.sort_values("word").reset_index(drop=True)
    )


def test_bottom_k_is_mergeable_subset(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.sampling import bottom_k_sample

    docs = load_table(spark, sf_smoke, "documents").select("doc_id")
    s50 = {r["doc_id"] for r in bottom_k_sample(docs, "doc_id", 50).collect()}
    s100 = {r["doc_id"] for r in bottom_k_sample(docs, "doc_id", 100).collect()}
    assert len(s50) == 50 and len(s100) == 100
    assert s50 < s100  # bottom-k grows monotonically: no resample churn
    # merge property: bottom-k of two halves' bottom-ks == global bottom-k
    h1 = bottom_k_sample(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", 50)
    h2 = bottom_k_sample(docs.filter(F.col("doc_id") % 2 != 0), "doc_id", 50)
    merged = {
        r["doc_id"]
        for r in bottom_k_sample(h1.unionByName(h2), "doc_id", 50).collect()
    }
    assert merged == s50


def test_pareto_frontier_matches_bruteforce(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.aggregates import pareto_frontier_2d

    part = load_table(spark, sf_smoke, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    got = pareto_frontier_2d(part, "p_retailprice", "p_size").toPandas()
    pdf = part.toPandas()
    rows = list(pdf.itertuples(index=False))

    def dominated(r):
        return any(
            (o.p_retailprice <= r.p_retailprice and o.p_size >= r.p_size)
            and (o.p_retailprice < r.p_retailprice or o.p_size > r.p_size)
            for o in rows
        )

    expect = {r.p_partkey for r in rows if not dominated(r)}
    assert set(got["p_partkey"]) == expect
    assert len(expect) > 0


def test_quantile_summary_exact_when_stride_is_one(spark):
    """With k >= partition sizes the stride is 1, so the summary is the
    full sorted multiset and every estimate is the exact ceil(p*n)-th
    order statistic (and the violation gate is trivially empty)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.sketches import mergeable_quantile_summary

    n = 1000
    df = spark.range(n).select(((F.col("id") * 7919) % n).cast("double").alias("x"))
    out = mergeable_quantile_summary(df, "x", probs=(0.5, 0.9), k=10_000)
    assert out.count() == 0  # gate empty
    ests = {
        r["prob"]: r
        for r in mergeable_quantile_summary(
            df, "x", probs=(0.5, 0.9), k=10_000, emit="estimates"
        ).collect()
    }
    # values are a permutation of 0..n-1: the ceil(p*n)-th order statistic
    # is exactly p*n - 1
    assert ests[0.5]["est"] == 499.0 and ests[0.5]["exact_rank"] == 500
    assert ests[0.9]["est"] == 899.0 and ests[0.9]["exact_rank"] == 900


def test_quantile_summary_bound_holds_under_coarse_k(spark):
    """k=4 gives huge strides; the gate must STILL be empty because the
    bound scales with the strides (the accounting, not luck)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.sketches import mergeable_quantile_summary

    df = spark.range(5000).select((F.col("id") % 977).cast("double").alias("x"))
    out = mergeable_quantile_summary(df, "x", k=4)
    assert out.count() == 0


def test_ewma_volatility_matches_numpy(spark):
    import math

    from aws_etl_fiap_spark.operators.finance import ewma_volatility

    lam, k = 0.94, 5
    vals = [100.0, 102.0, 101.0, 105.0, 103.0, 104.0, 108.0, 107.0, 110.0]
    rows = [("s", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, t int, px double")
    out = {
        r["t"]: r["ewma_vol"]
        for r in ewma_volatility(df, "key", "t", "px", lam=lam, n_rows=k).collect()
    }
    rets = [(vals[i] - vals[i - 1]) / vals[i - 1] for i in range(1, len(vals))]
    norm = (1.0 - lam) / (1.0 - lam**k)
    # full windows only: first emitted row is the k-th return
    assert sorted(out) == list(range(k, len(vals)))
    for t in out:
        ri = t - 1  # return index of row t
        s = sum(lam**j * rets[ri - j] ** 2 for j in range(k))
        expect = math.floor(math.sqrt(s * norm) * 1e8 + 0.5) / 1e8
        assert abs(out[t] - expect) < 1e-12, (t, out[t], expect)


def test_ewma_volatility_zero_prev_drops_row(spark):
    from aws_etl_fiap_spark.operators.finance import ewma_volatility

    rows = [("s", 0, 0.0), ("s", 1, 10.0), ("s", 2, 11.0), ("s", 3, 12.0)]
    df = spark.createDataFrame(rows, "key string, t int, px double")
    out = ewma_volatility(df, "key", "t", "px", lam=0.9, n_rows=2).collect()
    # the 0 -> 10 return is NULL (try_divide) and dropped; two valid
    # returns remain, so exactly one full-window row survives
    assert [r["t"] for r in out] == [3]


def test_quantile_gate_sound_on_duplicate_heavy_data(spark):
    """Late-r9 review: the violation gate compared count(v <= est) to
    target_rank, so a CONSTANT column (exact_rank = n for a PERFECT
    estimate) always fired.  The gate now tests the attainable-rank
    INTERVAL [count(v < est) + 1, count(v <= est)] against the band."""
    from aws_etl_fiap_spark.operators.sketches import mergeable_quantile_summary

    df = spark.range(1000).select((F.lit(7.0)).alias("x"))
    out = mergeable_quantile_summary(df, "x", probs=(0.5, 0.9), k=16)
    assert out.count() == 0  # perfect estimate on all-duplicates: no violation
    ests = mergeable_quantile_summary(
        df, "x", probs=(0.5,), k=16, emit="estimates"
    ).collect()
    assert ests[0]["est"] == 7.0 and ests[0]["target_rank"] == 500


def test_quantile_target_rank_exact_rational(spark):
    """Late-r9 review: ceil(0.55 * 100) was 56 under double math
    (0.55*100 == 55.000000000000007); targets are now exact integers."""
    from aws_etl_fiap_spark.operators.sketches import mergeable_quantile_summary

    df = spark.range(1, 101).select(F.col("id").cast("double").alias("x"))
    est = mergeable_quantile_summary(
        df, "x", probs=(0.55,), k=256, emit="estimates"
    ).collect()[0]
    assert est["target_rank"] == 55


def test_sketch_parameter_guards(spark):
    """Late-r9 review: depth/n_hashes = 0 silently built nonsense sketches
    via the descending sequence(0, -1); unknown hash families silently
    fell back to xxhash64, surfacing later as oracle mismatches."""
    import pytest

    from aws_etl_fiap_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        cms_build,
    )

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="depth"):
        cms_build(df, "k", depth=0)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_build(df, "k", n_hashes=0)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_probe(df, df, "k", n_hashes=0)
    with pytest.raises(ValueError, match="hash family"):
        cms_build(df, "k", hash_family="portible").collect()


def test_sql_cms_bucket_null_key_matches_spark(spark):
    """Late-r9 review: Spark's concat_ws drops a NULL key AND the ':'
    separator while DuckDB's CONCAT kept the ':', so NULL keys hashed to
    different buckets in the two engines."""
    import duckdb

    from aws_etl_fiap_spark.operators.sketches import _bucket, sql_cms_bucket

    df = spark.createDataFrame([("a",), (None,)], "k string")
    got = {
        (r["k"], r["b"])
        for r in df.select(
            "k", _bucket(F.lit(3), F.col("k"), 64, "portable").alias("b")
        ).collect()
    }
    con = duckdb.connect()
    want = set(
        con.execute(
            f"SELECT k, {sql_cms_bucket('3', 'k', 64)} AS b "
            "FROM (VALUES ('a'), (NULL)) t(k)"
        ).fetchall()
    )
    assert got == want


def test_sketch_invariant_properties(spark):
    """Property (r10): the two frequency sketches' defining guarantees on
    ARBITRARY key streams — count-min NEVER under-counts (est >= true for
    every key, exact when no collision), and the Bloom filter has NO false
    negatives (every inserted key passes)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        cms_build,
        cms_estimate,
    )

    key = st.text(alphabet="abcdef", min_size=1, max_size=4)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(key, min_size=1, max_size=40), st.sets(key, min_size=1, max_size=8))
    def prop(stream, probes):
        true = Counter(stream)
        df = spark.createDataFrame([(k,) for k in stream], "k string")
        sketch = cms_build(df, "k", depth=3, width=64).localCheckpoint(eager=True)
        keys_df = spark.createDataFrame(
            [(k,) for k in sorted(set(stream) | probes)], "k string"
        )
        est = {
            r["k"]: r["est_count"]
            for r in cms_estimate(keys_df, sketch, "k", depth=3, width=64).collect()
        }
        for k in set(stream) | probes:
            assert est[k] >= true.get(k, 0), (k, est[k], true.get(k, 0))

        bloom = bloom_build(df, "k", n_bits=256, n_hashes=3).localCheckpoint(
            eager=True
        )
        passed = {
            r["k"]: r["passed"]
            for r in bloom_probe(keys_df, bloom, "k", n_bits=256, n_hashes=3).collect()
        }
        for k in set(stream):
            assert passed[k] is True, f"false negative for inserted key {k!r}"

    prop()


def test_point_in_time_join_matches_python_model_property(spark):
    """Property (r10): the union + running-last PIT lookup equals the
    brute-force model "latest feature with ts STRICTLY BEFORE the label's"
    — a feature at EXACTLY the label instant must NOT attach (same-instant
    leakage), duplicate label timestamps disambiguate via the tiebreak,
    and cold-start labels keep NULL features."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.features import point_in_time_join

    feat = st.dictionaries(  # (key, ts) -> value; unique by construction
        st.tuples(st.integers(1, 2), st.integers(0, 8)),
        st.integers(-9, 9),
        min_size=0,
        max_size=6,
    )
    lab = st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 8), st.integers(-9, 9)),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=6, deadline=None)
    @given(feat, lab)
    def prop(features, labels):
        fdf = spark.createDataFrame(
            [(k, t, v) for (k, t), v in sorted(features.items())] or [],
            "k int, ts int, fv int",
        )
        ldf = spark.createDataFrame(
            [(k, t, y, i) for i, (k, t, y) in enumerate(labels)],
            "k int, ts int, y int, tb int",
        )
        out = point_in_time_join(
            fdf, ldf, "k", "ts", ["fv"], ["y", "tb"], tiebreak="tb"
        )
        got = {
            r.tb: (r.k, r.ts, r.y, r.feature_ts, r.fv) for r in out.collect()
        }
        want = {}
        for i, (k, t, y) in enumerate(labels):
            prior = [(ft, v) for (fk, ft), v in features.items()
                     if fk == k and ft < t]
            ft, fv = max(prior) if prior else (None, None)
            want[i] = (k, t, y, ft, fv)
        assert got == want

    prop()


def test_basket_pairs_matches_python_model_property(spark):
    """Property (r10): the expression-only combination explode equals the
    brute-force pair model — duplicate (basket, item) rows collapse first,
    over-cap baskets are DROPPED whole (and still excluded from the basket
    total and single-item supports), the min-pair floor filters, and
    support/confidence/lift replicate the exact-integer-over-IEEE-divide
    rounding."""
    import math
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.sequences import basket_pairs

    MAXB, MINP = 3, 2
    row = st.tuples(st.integers(1, 4), st.sampled_from(list("abcde")))

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def model(rows):
        baskets = {}
        for bk, it in set(rows):
            baskets.setdefault(bk, set()).add(it)
        kept = {bk: its for bk, its in baskets.items() if len(its) <= MAXB}
        n_baskets = len(kept)
        singles = {}
        pairs = {}
        for its in kept.values():
            for it in its:
                singles[it] = singles.get(it, 0) + 1
            for a, b in combinations(sorted(its), 2):
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
        out = {}
        for (a, b), n_ab in pairs.items():
            if n_ab < MINP:
                continue
            out[(a, b)] = (
                n_ab,
                r6(float(n_ab) / float(n_baskets)),
                r6(float(n_ab) / float(singles[a])),
                r6(float(n_ab * n_baskets) / float(singles[a] * singles[b])),
            )
        return out

    @settings(max_examples=6, deadline=None)
    @given(st.lists(row, min_size=1, max_size=16))
    def prop(rows):
        df = spark.createDataFrame(rows, "bk int, it string")
        out = basket_pairs(df, "bk", "it", max_basket=MAXB, min_pair_count=MINP).collect()
        got = {
            (r.item_a, r.item_b): (
                r.n_ab, r.support, r.confidence_a_to_b, r.lift
            )
            for r in out
        }
        # The edge contract the graph loops rely on: each undirected pair
        # once, oriented item_a < item_b (the dict would hide a duplicate).
        assert len(out) == len(got)
        assert all(r.item_a < r.item_b for r in out)
        assert got == model(rows)

    prop()


def test_cms_matches_python_model_property(spark):
    """Property (r10): the relational count-min sketch equals a bit-exact
    Python twin (md5-prefix hash, concat_ws NULL semantics) at a WIDTH
    SMALL ENOUGH TO COLLIDE — estimates are min-over-rows of colliding
    bucket counts, every estimate >= the true count (the CMS guarantee),
    and unseen probe keys hit empty buckets (coalesce-to-0 before min)."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.sketches import cms_build, cms_estimate

    DEPTH, WIDTH = 2, 4

    def bucket(seed, key):
        s = str(seed) if key is None else f"{seed}:{key}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % WIDTH

    key = st.sampled_from(["a", "b", "cc", "d1", "", None])

    @settings(max_examples=6, deadline=None)
    @given(st.lists(key, min_size=1, max_size=14), st.sets(key, min_size=1))
    def prop(keys, probes):
        df = spark.createDataFrame([(k,) for k in keys], "k string")
        sketch = cms_build(df, "k", depth=DEPTH, width=WIDTH)
        pdf = spark.createDataFrame([(p,) for p in sorted(probes, key=repr)],
                                    "k string")
        got = {
            r.k: r.est_count
            for r in cms_estimate(pdf, sketch, "k", depth=DEPTH, width=WIDTH).collect()
        }
        table = {}
        for k in keys:
            for s in range(DEPTH):
                table[(s, bucket(s, k))] = table.get((s, bucket(s, k)), 0) + 1
        want = {
            p: min(table.get((s, bucket(s, p)), 0) for s in range(DEPTH))
            for p in probes
        }
        assert got == want
        for p in probes:
            assert want[p] >= sum(1 for k in keys if k == p)

    prop()


def test_ohlc_bars_match_python_model_property(spark):
    """Property (r10): min_by/max_by OHLC selections under the unique
    (ts, tiebreak) struct order equal the Python fold — duplicate
    timestamps resolve via the tiebreak (open = value at the SMALLEST
    (ts, tb), close at the largest), single-trade bars have
    open=high=low=close, totals are exact decimal sums of cent values."""
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.finance import ohlc_bars

    trade = st.tuples(
        st.integers(1, 2),      # key
        st.integers(0, 5),      # ts
        st.integers(-99, 99),   # value in cents
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(trade, min_size=1, max_size=14))
    def prop(trades):
        rows = [
            (k, t, i, c / 100.0) for i, (k, t, c) in enumerate(trades)
        ]
        df = spark.createDataFrame(rows, "key int, ts int, tb int, v double")
        got = {
            (r.key, r.bar): (
                r.open, r.high, r.low, r.close, r.n_trades,
                Decimal(f"{r.traded_value:.2f}"),
            )
            for r in ohlc_bars(
                df, "key", "ts", "tb", "v", (F.col("ts") / 2).cast("int")
            ).collect()
        }
        want = {}
        for (k, b) in {(k, t // 2) for k, t, _ in trades}:
            mine = [
                (t, i, c / 100.0)
                for i, (kk, t, c) in enumerate(trades)
                if kk == k and t // 2 == b
            ]
            by_order = sorted(mine)
            vals = [v for _, _, v in mine]
            total = sum(Decimal(f"{v:.2f}") for v in vals)
            want[(k, b)] = (
                by_order[0][2], max(vals), min(vals), by_order[-1][2],
                len(mine), Decimal(f"{total:.2f}"),
            )
        assert got == want

    prop()


def test_rolling_bands_match_python_model_property(spark):
    """Property (r10): the exact-integer-moments Bollinger bands equal a
    bit-exact Python replication (same IEEE op order: one divide for the
    mean, two chained divides for the variance, one sqrt) — short heads
    (n < window), all-equal runs (variance exactly 0), negative values."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.finance import rolling_bands

    N = 3

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 2), st.integers(-999, 999)),
            min_size=1,
            max_size=12,
        )
    )
    def prop(rows):
        data = [(k, d, c / 100.0) for d, (k, c) in enumerate(rows)]
        df = spark.createDataFrame(data, "key int, day int, v double")
        got = {
            (r.key, r.day): (r.n_in_window, r.sma, r.bb_upper, r.bb_lower)
            for r in rolling_bands(df, "key", "day", "v", n_rows=N).collect()
        }
        want = {}
        series = {}
        for k, d, v in data:
            series.setdefault(k, []).append((d, v))
        for k, pts in series.items():
            pts.sort()
            for i, (d, v) in enumerate(pts):
                frame = [math.floor(x * 100.0 + 0.5) for _, x in pts[max(0, i - N + 1): i + 1]]
                n = len(frame)
                s1, s2 = sum(frame), sum(x * x for x in frame)
                mean = float(s1) / (100.0 * n)
                var = float(n * s2 - s1 * s1) / float(n * n) / 10000.0
                std = math.sqrt(var)
                want[(k, d)] = (n, r4(mean), r4(mean + 2.0 * std), r4(mean - 2.0 * std))
        assert got == want

    prop()


def test_drawdown_matches_python_model_property(spark):
    """Property (r10): running peak / drawdown / cumulative return equal
    the Python fold — zero peaks and zero first values must yield NULL
    ratios (try_divide), new-peak rows have drawdown exactly 0, negative
    series keep peak at the least-negative value."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.finance import drawdown

    def r6(x):
        return None if x is None else math.floor(x * 1e6 + 0.5) / 1e6

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 2), st.integers(-50, 50)),
            min_size=1,
            max_size=12,
        )
    )
    def prop(rows):
        data = [(k, d, c / 2.0) for d, (k, c) in enumerate(rows)]
        df = spark.createDataFrame(data, "key int, day int, v double")
        got = {
            (r.key, r.day): (r.running_peak, r.drawdown_pct, r.cum_return_pct)
            for r in drawdown(df, "key", "day", "v").collect()
        }
        want = {}
        series = {}
        for k, d, v in data:
            series.setdefault(k, []).append((d, v))
        for k, pts in series.items():
            pts.sort()
            peak, first = -math.inf, pts[0][1]
            for d, v in pts:
                peak = max(peak, v)
                dd = None if peak == 0.0 else (peak - v) / peak
                cr = None if first == 0.0 else v / first - 1.0
                want[(k, d)] = (peak, r6(dd), r6(cr))
        assert got == want

    prop()


def test_top_paths_and_modal_value_match_python_models_property(spark):
    """Property (r10): (a) the lead-chain path miner equals the Python
    n-gram fold under the unique (ts) order — paths never cross keys,
    rank ties resolve (count DESC, path ASC), k cuts mid-tie; (b)
    modal_value returns the smallest value among tied-max counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.sequences import top_paths
    from aws_etl_fiap_spark.operators.stats import modal_value

    ev = st.tuples(st.integers(1, 2), st.sampled_from("xyz"))

    @settings(max_examples=6, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=14), st.integers(1, 4))
    def prop(events, k):
        rows = [(u, i, s) for i, (u, s) in enumerate(events)]
        df = spark.createDataFrame(rows, "u int, ts int, s string")
        got = {
            r.path: (r.n_occurrences, r.rank)
            for r in top_paths(df, "u", "s", ["ts"], length=2, k=k).collect()
        }
        seqs = {}
        for u, i, s in sorted(rows, key=lambda r: r[1]):
            seqs.setdefault(u, []).append(s)
        counts = {}
        for seq in seqs.values():
            for a, b in zip(seq, seq[1:]):
                p = f"{a}>{b}"
                counts[p] = counts.get(p, 0) + 1
        ranked = sorted(counts.items(), key=lambda x: (-x[1], x[0]))
        want = {p: (n, i + 1) for i, (p, n) in enumerate(ranked) if i < k}
        assert got == want

        got_m = {
            r.u: r.mode for r in modal_value(df, "u", "s").collect()
        }
        want_m = {}
        for u, seq in seqs.items():
            c = {}
            for s in seq:
                c[s] = c.get(s, 0) + 1
            best = max(c.values())
            want_m[u] = min(s for s, n in c.items() if n == best)
        assert got_m == want_m

    prop()


def test_ewma_and_trailing_zscore_match_python_models_property(spark):
    """Property (r10): (a) EWMA volatility replicates bit-exactly in
    Python (same left-associated weighted-sum order, literal lam^j
    weights, returns via try_divide — zero previous values drop the
    return); (b) trailing z-score replicates from exact cent moments with
    the current row excluded, NULL under min_n baseline or zero variance."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.finance import ewma_volatility
    from aws_etl_fiap_spark.operators.stats import trailing_zscore

    LAM, NR = 0.75, 3

    def rhu(x, s):
        if x is None:
            return None
        p = float(10 ** s)
        return math.floor(x * p + 0.5) / p

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(-20, 20), min_size=2, max_size=12))
    def prop(cents):
        vals = [c / 2.0 for c in cents]
        rows = [(1, d, v) for d, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key int, day int, v double")

        # EWMA model.
        rets = []
        for prev, cur in zip(vals, vals[1:]):
            if prev != 0.0:
                rets.append((cur - prev) / prev)
        want_e = {}
        for i in range(NR - 1, len(rets)):
            acc = None
            for j in range(NR):
                term = (rets[i - j] ** 2) * (LAM ** j)
                acc = term if acc is None else acc + term
            norm = (1.0 - LAM) / (1.0 - LAM ** NR)
            want_e[i + 1] = rhu(math.sqrt(acc * norm), 8)
        got_e = {
            r["__i"]: r.ewma_vol
            for r in ewma_volatility(
                df.withColumn("__i", F.col("day")), "key", "day", "v",
                lam=LAM, n_rows=NR,
            ).withColumnRenamed("day", "__i").collect()
        }
        # map model keys (index into rets, 1-based rownum) onto days:
        # ret t lives on the day of its CURRENT value; zero-prev returns
        # are dropped BEFORE windowing, so re-derive the surviving days.
        days = [d for d, (prev, cur) in enumerate(zip(vals, vals[1:]), start=1)
                if prev != 0.0]
        want_days = {
            days[i - 1]: v for i, v in want_e.items()
        }
        assert got_e == want_days

        # Trailing z-score model.
        got_z = {
            r.day: (r.n_baseline, r.z_score, r.is_anomaly)
            for r in trailing_zscore(
                df.select("day", "v"), "day", "v", n_rows=NR, min_n=2
            ).collect()
        }
        cents_i = [math.floor(v * 100.0 + 0.5) for v in vals]
        want_z = {}
        for d in range(len(vals)):
            base = cents_i[max(0, d - NR): d]
            n = len(base)
            if n < 2:
                z = None
            else:
                s1, s2 = sum(base), sum(x * x for x in base)
                mean = float(s1) / n
                var = float(n * s2 - s1 * s1) / float(n * n)
                sd = math.sqrt(var)
                z = None if sd == 0.0 else (float(cents_i[d]) - mean) / sd
            want_z[d] = (
                n,
                rhu(z, 6),
                None if z is None else int(abs(z) > 3.0),
            )
        assert got_z == want_z

    prop()


def test_transition_matrix_matches_python_model_property(spark):
    """Property (r10): first-order Markov transition counts/probabilities
    equal the Python fold — chains never cross keys, terminal states emit
    no row, probabilities normalize per from_state with half-up 6dp."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.sequences import transition_matrix

    ev = st.tuples(st.integers(1, 2), st.sampled_from("xyz"))

    @settings(max_examples=6, deadline=None)
    @given(st.lists(ev, min_size=1, max_size=14))
    def prop(events):
        rows = [(u, i, s) for i, (u, s) in enumerate(events)]
        df = spark.createDataFrame(rows, "u int, ts int, s string")
        got = {
            (r.from_state, r.to_state): (r.n_transitions, r.p_transition)
            for r in transition_matrix(df, "u", "s", ["ts"]).collect()
        }
        seqs = {}
        for u, i, s in sorted(rows, key=lambda r: r[1]):
            seqs.setdefault(u, []).append(s)
        counts = {}
        for seq in seqs.values():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        want = {}
        for (a, b), n in counts.items():
            row_total = sum(v for (aa, _), v in counts.items() if aa == a)
            p = math.floor(float(n) / float(row_total) * 1e6 + 0.5) / 1e6
            want[(a, b)] = (n, p)
        assert got == want

    prop()


def test_hll_shard_merge_equals_single_shot_property(spark):
    """Property (r10): the mergeable-summary contract for Spark's HLL —
    union-merging per-shard sketches estimates EXACTLY what one global
    sketch over the same rows estimates (datasketches HLL is
    deterministic for a given input SET at a given lgK), regardless of how
    rows are sharded, with duplicates and skewed shards."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(1, 40)),
            min_size=1,
            max_size=20,
        )
    )
    def prop(rows):
        df = spark.createDataFrame(rows, "shard int, k long")
        single = df.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("k", F.lit(12))
            ).alias("est")
        ).collect()[0].est
        merged = (
            df.groupBy("shard")
            .agg(F.hll_sketch_agg("k", F.lit(12)).alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()[0]
            .est
        )
        assert merged == single

    prop()


def test_feature_hashing_matches_python_model_property(spark):
    """Property (r10): the signed hashing trick equals the bit-exact md5
    Python twin — collision cancellation (opposite-sign tokens in one
    bucket sum toward 0), repeated tokens accumulate, multi-space text
    mints no '' token."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.features import feature_hashing

    DIMS = 4

    def h(prefix, tok):
        return int(hashlib.md5(f"{prefix}:{tok}".encode()).hexdigest()[:15], 16)

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.lists(word, min_size=0, max_size=6), min_size=1, max_size=4))
    def prop(docs):
        rows = [(i, "  ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_id, r.dim): r.weight
            for r in feature_hashing(df, "doc_id", "text", n_dims=DIMS).collect()
        }
        want = {}
        for i, ws in enumerate(docs):
            for w in ws:
                d = h("feat-dim", w) % DIMS
                s = 1 - 2 * (h("feat-sign", w) % 2)
                want[(i, d)] = want.get((i, d), 0) + s
        assert got == want

    prop()
