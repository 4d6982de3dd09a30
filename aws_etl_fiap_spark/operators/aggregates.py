"""Aggregation operators (reference §2.4 A1-A4; [EXT] rollup/cube/pivot/
percentiles/approx-distinct).

Spark executes every groupBy here as partial (map-side) hash aggregation ->
hash exchange on the grouping keys -> final hash aggregation, so the shuffle
carries one row per (partition, group), not per input row. That partial-agg
property is the core 100 TB guarantee of this module; nothing below breaks it
(no UDAFs, no collect_list on the hot path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_etl_fiap_spark.functions.parity import dec_avg, dec_sum, round_half_up


def monthly_summary(
    df: DataFrame,
    keys: Sequence[str],
    price_col: str,
    volume_col: str,
    pct7_col: str | None = None,
    pct30_col: str | None = None,
    decimals: int = 2,
) -> DataFrame:
    """Reference A1 ("requirement A", b3_transform.py:88-112): per-key
    count / volume sum / avg-min-max price / avg pct-changes, ordered by the
    grouping keys (reference O1).

    Money aggregates run in exact DECIMAL then surface as double
    (functions.parity): order-independent — a 100 TB sum gives the same
    answer for any partitioning — and bit-identical to the SQL oracle.
    """
    aggs: list[Column] = [
        F.count(F.lit(1)).alias("total_registros"),
        dec_sum(volume_col, decimals).alias("volume_total"),
        dec_avg(price_col, decimals).alias("preco_medio"),
        round_half_up(F.min(F.col(price_col)), decimals).alias("preco_minimo"),
        round_half_up(F.max(F.col(price_col)), decimals).alias("preco_maximo"),
    ]
    if pct7_col:
        aggs.append(dec_avg(pct7_col, decimals).alias("variacao_7d_media"))
    if pct30_col:
        aggs.append(dec_avg(pct30_col, decimals).alias("variacao_30d_media"))
    return df.groupBy(*keys).agg(*aggs).orderBy(*keys)


def count_delta(df_before: DataFrame, df_after: DataFrame) -> tuple[int, int, int]:
    """Reference A4 (b3_transform.py:128-133): removed-row accounting."""
    before, after = df_before.count(), df_after.count()
    return before, after, before - after


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    sum_scale: int = 2,
) -> DataFrame:
    """Equi-width histogram of a numeric column with fixed [lo, hi) bounds:
    per bucket the row count, exact-decimal sum, and true min/max — the
    one-pass distribution profile behind range-partition planning and DQ
    drift checks.

    The bucket index is explicit floor arithmetic (``floor((x-lo)/width)``
    clamped to [0, n_buckets-1]) rather than an engine built-in, so any SQL
    engine reproduces the exact same bucketing bit-for-bit. Single map-side
    combined aggregate over at most ``n_buckets`` keys — no sort, no second
    pass, nothing scales with row count but the scan.
    """
    width = (hi - lo) / n_buckets
    x = F.col(value_col).cast("double")
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.filter(x.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(value_col, sum_scale).alias("sum_value"),
            F.min(x).alias("min_value"),
            F.max(x).alias("max_value"),
        )
        .withColumn("bucket_lo", F.lit(lo) + F.col("bucket").cast("double") * F.lit(width))
        .withColumn("bucket_hi", F.lit(lo) + (F.col("bucket") + F.lit(1)).cast("double") * F.lit(width))
    )


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
) -> DataFrame:
    """2-D skyline: rows not dominated by any other (dominator has <=
    ``minimize``, >= ``maximize``, strict in at least one).

    Sort-free-of-raw-data shape: reduce to one best (max ``maximize``)
    row per distinct ``minimize`` value, take the running max of that
    best over ascending ``minimize`` (a window over the DISTINCT-VALUE
    frame, not the raw table), and keep rows that strictly beat every
    cheaper group's best.  Raw data pays one groupBy shuffle; the window
    runs over |distinct minimize values| rows.  Ties on both dimensions
    are mutually non-dominating and all survive (hence the join back on
    (minimize, maximize) rather than a per-group top-1).
    """
    best = df.groupBy(minimize).agg(F.max(maximize).alias("__best"))
    w = Window.orderBy(minimize).rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        best.withColumn("__prev_max", F.max("__best").over(w))
        .filter(
            F.col("__prev_max").isNull() | (F.col("__best") > F.col("__prev_max"))
        )
        .select(minimize, F.col("__best").alias(maximize))
    )
    return df.join(frontier, [minimize, maximize]).select(*df.columns)


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    sum_scale: int = 2,
) -> DataFrame:
    """EQUI-DEPTH histogram: bucket boundaries at the exact rank quantiles
    (boundary i = the smallest value whose cumulative count reaches
    ``ceil(i*n/k)``), so every bucket holds ~n/k rows regardless of how
    skewed the distribution is — the profile that drives range-partition
    planning where the equi-width sibling's fixed bounds collapse under a
    heavy tail.

    Fully deterministic, no interpolation: boundaries come from INTEGER
    rank thresholds over the distinct-value frame, computed with the
    range-partitioned two-pass prefix sum (operators/sampling — never a
    row-sized window); the k-1 boundary values ride back as one broadcast
    array row and the bucket index is a pure expression
    (``1 + count(boundaries below v)``).  One map-side-combined aggregate
    over at most k keys ends it.  Output per bucket: row count, true
    min/max, exact decimal sum."""
    from aws_etl_fiap_spark.operators.sampling import ordered_prefix_sum

    spark = df.sparkSession
    vals = df.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())
    g = vals.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    r = ordered_prefix_sum(g, ["v"], "cnt", out="cum")
    n_total = vals.count()
    idx = spark.range(1, n_buckets).select(F.col("id").alias("i"))
    thr = F.floor(
        (F.col("i") * F.lit(n_total) + F.lit(n_buckets - 1))
        / F.lit(float(n_buckets))
    ).cast("long")
    bounds = (
        r.crossJoin(F.broadcast(idx.select("i", thr.alias("thr"))))
        .filter(F.col("cum") >= F.col("thr"))
        .groupBy("i")
        .agg(F.min("v").alias("bval"))
    )
    barr = bounds.agg(
        F.array_sort(F.collect_list(F.struct("i", "bval"))).alias("s")
    ).select(F.transform(F.col("s"), lambda x: x["bval"]).alias("barr"))
    vx = F.col("v")
    bucket = (
        F.lit(1)
        + F.size(F.filter(F.col("barr"), lambda b: vx > b))
    ).alias("bucket")
    return (
        vals.crossJoin(F.broadcast(barr))
        .select(bucket, "v")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum(F.col("v").cast(f"decimal(38,{sum_scale})"))
            .cast("double")
            .alias("sum_v"),
        )
    )
