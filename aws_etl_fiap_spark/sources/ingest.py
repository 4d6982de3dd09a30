"""Ingestion layer (reference S1-S3): external per-key fetch -> normalized
Spark DataFrame.

The reference loops 10 tickers over yfinance on the DRIVER, single-threaded
(b3_collector.py:56-112) — its scaling bottleneck. Here the fetch function is
(a) injectable, so tests never touch a network, and (b) executed inside
``mapInPandas`` over a keys DataFrame split into one partition per task
slot (``sparkContext.defaultParallelism``), so the keys are fetched by every
slot at once with Arrow-batched results instead of serializing on the
driver.  More partitions than slots only queue: each extra Python task adds
~45-60 ms of fixed runner cost (100 fixture keys on 4 cores: 3.6-4.3 s as
64 tasks, 0.6-0.8 s as 4).

Column normalization reproduces the reference exactly: lowercase + space->
hyphen (b3_collector.py:78 — the origin of the ``stock-splits`` hyphenated
identifier), literal ticker column, ``dataproc`` processing-date partition
column, and the date-column fallback rename (b3_collector.py:88-95).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from aws_etl_fiap_spark.operators.columns import (
    add_processing_date,
    normalize_column_names,
    rename_date_fallback,
)

# A fetcher returns the raw per-key frame (yfinance-shaped: Date index reset
# to a column, OHLCV etc.). Must be picklable (executed on executors).
Fetcher = Callable[[str], pd.DataFrame]


def fixture_fetcher(key: str) -> pd.DataFrame:
    """Deterministic offline stand-in for the yfinance call (S1): ~22
    business days of plausible OHLCV derived from the key's hash."""
    seed = sum(ord(c) for c in key)
    dates = pd.bdate_range("2024-01-01", periods=22)
    base = 20.0 + (seed % 80)
    closes = [round(base + ((seed * (i + 3)) % 17) * 0.25 - 2.0, 2) for i in range(22)]
    return pd.DataFrame(
        {
            "Date": dates,
            "Open": [round(c * 0.995, 2) for c in closes],
            "High": [round(c * 1.01, 2) for c in closes],
            "Low": [round(c * 0.99, 2) for c in closes],
            "Close": closes,
            "Volume": [1000 * ((seed + i * 7) % 97 + 1) for i in range(22)],
            "Dividends": [0.0] * 22,
            "Stock Splits": [0.0] * 22,
        }
    )


def collect_keys(
    spark: SparkSession,
    keys: list[str],
    fetcher: Fetcher = fixture_fetcher,
    key_column: str = "ticker",
) -> DataFrame:
    """Distributed multi-key collect (S2): each executor partition fetches
    its keys and yields Arrow batches; failures skip the key (the
    reference's try/except-per-ticker, b3_collector.py:63-68).

    The keys split into ``min(len(keys), defaultParallelism)`` partitions —
    one Python task per task slot.  At most that many tasks run at once, and
    every task beyond them pays the Python runner's fixed start-up again
    (~45-60 ms each, measured on 4 cores) without fetching any sooner.

    The output schema is taken from one driver-side probe fetch (schema must
    be declared before the distributed plan runs).
    """
    probe = fetcher(keys[0])
    probe[key_column] = keys[0]
    # Schema inference needs rows (Arrow refuses empty frames); the probe is
    # one key's frame — cheap, and never touches executors.
    schema_df = spark.createDataFrame(probe)
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema_df.schema.fields)

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for key in pdf["__key"]:
                try:
                    out = fetcher(key)
                except Exception:
                    continue  # skip failed source, keep the run alive
                out[key_column] = key
                yield out

    slots = spark.sparkContext.defaultParallelism
    keys_df = spark.createDataFrame([(k,) for k in keys], "__key string").repartition(
        min(len(keys), slots), "__key"
    )
    raw = keys_df.mapInPandas(fetch_partition, schema=fields)
    raw = normalize_column_names(raw)
    raw = rename_date_fallback(raw)
    return add_processing_date(raw)
