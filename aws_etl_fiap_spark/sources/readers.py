"""Parquet scan layer (reference S5: ``spark.read.parquet``, b3_transform.py:241).

At 100 TB the scan is where most time goes, so the rules here are:
- never infer schemas row-by-row — parquet footers carry the schema;
- keep reads lazy and column-pruned (callers ``select`` before any action, and
  Catalyst pushes the projection into the parquet reader);
- partition-column filters must prune directories, so partitioned tables are
  read from their root, not per-file.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_fiap_spark.confs import scoped_conf

# Driver-provided synthetic tables (TESTDATA.md): TPC-H-ish star schema plus
# events / documents / embeddings extension tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Entries each driver cache below keeps: far above one process's working
#: set (a sweep over the whole registry at one scale factor leaves 10
#: schema and 9 partition-count entries), but bounded, so a long-lived
#: driver reading ever new paths or plans does not grow without limit.
CACHE_ENTRIES = 1024


class _LRUCache(OrderedDict):
    """A dict that keeps its ``cap`` most recently used entries: ``get``
    and item assignment mark a key used, and an insert past the cap evicts
    the least recently used one.  Both are locked, so driver threads
    sharing the module-level caches stay as safe as with a plain dict."""

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            if key not in self:
                return default
            self.move_to_end(key)
            return self[key]

    def __setitem__(self, key, value):
        with self._lock:
            super().__setitem__(key, value)
            self.move_to_end(key)
            if len(self) > self.cap:
                self.popitem(last=False)


#: Resolved parquet schemas, keyed by (path, mtime) — the in-process stand-in
#: for the catalog the reference keeps in Glue (schemas are DECLARED there;
#: only this bare-path reader has to infer).  ``spark.read.parquet`` runs
#: footer inference on EVERY call, ~70-90 ms of driver-side work per table
#: per query (r13 profile: with ~100 registered queries reading 1-6 tables
#: each, schema inference alone was seconds of pure latency).  Caching the
#: SCHEMA (metadata, never data or results) and passing it explicitly skips
#: the footer pass; the mtime key drops the entry if the file changes.
_SCHEMA_CACHE = _LRUCache(CACHE_ENTRIES)


def _data_mtime(path: str) -> float:
    """Freshness stamp for the schema cache.  For a DIRECTORY table no
    directory's own mtime changes when a part file is rewritten in place
    (r13 advice), and part files sit in partition subdirectories
    (``k=1/part-0.parquet``), so take the max over the whole tree — pure
    metadata, no footer read."""
    mt = os.stat(path).st_mtime
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            mt = max(mt, os.stat(os.path.join(root, name)).st_mtime)
    return mt


def _cached_schema(path: str):
    try:
        key = (path, _data_mtime(path))
    except OSError:
        return None, None
    return key, _SCHEMA_CACHE.get(key)


#: Scan partition counts keyed by (analyzed-plan semanticHash, parallelism)
#: — metadata only, like the schema cache above.  ``df.rdd.getNumPartitions``
#: forces physical planning + RDD conversion on EVERY call (~tens of ms of
#: driver latency per spread site per query construction — r13 advice); the
#: bench reconstructs each query per timed run, so identical plans re-probe
#: constantly.  Semantically-equal plans have equal scan splits as long as
#: the underlying fixture files are unchanged (they are immutable per run;
#: a changed file changes the schema-cache key and the resulting plan).
_NPARTS_CACHE = _LRUCache(CACHE_ENTRIES)


def spread_input(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Raise a narrow input's partition count to the session's parallelism
    before an expensive per-row stage — the guide-§2.5 'input skew' remedy
    (one huge unsplittable file: repartition immediately after the read).

    A single-row-group parquet file scans as ONE partition no matter the
    split size, so every downstream Arrow pass / hash cascade / shingle
    explode would run serially on one core regardless of cluster width;
    the exchange this inserts moves only the narrow projected input once.
    On a real table with >= parallelism splits the condition is false and
    this is a NO-OP — the decision adapts to the actual scan layout, never
    to a local-vs-cluster constant.  Round-robin repartition is
    deterministic under task retries (sortBeforeRepartition stays on), and
    every caller feeds row-local or order-insensitive consumers."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    want = parallelism * multiplier
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(), parallelism)
    except Exception:
        key = None
    n = _NPARTS_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _NPARTS_CACHE[key] = n
    if n >= want:
        return df
    return df.repartition(want)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from a scale-factor directory (lazy parquet scan).

    events.ts is parquet TIMESTAMP(NANOS); what Spark hands back is
    version-dependent, so branch on the RESOLVED type and normalize both
    shapes to session-tz ``timestamp``:

    - Spark 4.1+ reads nanos natively as TIMESTAMP_NTZ, truncating ns -> us
      (verified value-identical to DuckDB's truncating TIMESTAMP_NS ->
      TIMESTAMP cast at sf0.001: equal sum/min/max of epoch micros under a
      UTC session tz).  ``spark.sql.legacy.parquet.nanosAsLong`` is a no-op
      there.
    - Older Sparks refuse nanos unless that legacy conf maps them to raw
      BIGINT; then ``ts div 1000`` truncates to micros — exact integer
      division (a double divide would lose precision above 2^53 ns and
      ROUND, diverging from DuckDB).

    The legacy conf is SCOPED (round-3 verdict) and analysis is FORCED
    inside the scope: Spark 4.1 classic analyzes lazily
    (``QueryExecution.lazyAnalyzed``), so without the ``.schema`` touch the
    footer schema would resolve at first USE — after the restore.  Once
    analyzed, downstream ops build on the resolved plan, so the frame
    survives the restore and the shared driver session sees no net conf
    change.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # ts stays TIMESTAMP_NTZ — naive wall-clock fields, the SAME
        # semantics DuckDB's TIMESTAMP carries and the same type every
        # other table's timestamp columns already resolve to (the files are
        # isAdjustedToUTC=false).  Earlier rounds re-labeled NTZ to instant
        # ``timestamp`` here, which made every downstream day-boundary
        # extraction (cast-to-date, date_trunc, windowing, and even the
        # final collect) SESSION-TIME-ZONE-DEPENDENT: green under the
        # driver's UTC container, silently wrong under any other tz
        # (round-6 tz sweep caught six queries).  Naive end-to-end removes
        # the tz coupling instead of scoping it.
        #
        # Cache fast path: once this process has resolved the file ONCE and
        # seen the Spark-4.1-native shape (TIMESTAMP(NANOS) -> NTZ, where
        # both scoped confs are no-ops), later reads pass the resolved
        # schema explicitly — same reader behavior, no footer inference,
        # no conf round-trips.  The legacy bigint branch (older Sparks)
        # keeps the full scoped dance every call.
        key, cached = _cached_schema(path)
        if cached is not None and cached["ts"].dataType.simpleString() == "timestamp_ntz":
            return spark.read.schema(cached).parquet(path)
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"), scoped_conf(
            spark, "spark.sql.session.timeZone", "UTC"
        ):
            raw = spark.read.parquet(path)
            if raw.schema["ts"].dataType.simpleString() == "bigint":
                # Legacy nanos-as-long path: micros instant -> naive UTC
                # fields, resolved under the scoped UTC so the NTZ values
                # equal the file's wall clock on any session tz.
                out = raw.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
                )
            else:  # Spark 4.1+ resolves TIMESTAMP(NANOS) natively as NTZ
                out = raw
                if key is not None:
                    _SCHEMA_CACHE[key] = raw.schema
            out.schema  # force lazy analysis while the confs are in effect
        return out
    key, cached = _cached_schema(path)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Read several tables at once; returns name -> lazy DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Expose the tables as temp views so ``spark.sql`` queries (the Athena-
    style EP3 surface, SURVEY.md §3) can reference them by name."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
