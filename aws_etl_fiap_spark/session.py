"""SparkSession factory with scale-ready defaults.

The reference configures nothing (Glue defaults, SURVEY.md §4); we set the
knobs that matter at 100 TB explicitly so every entry point — tests, bench,
driver — runs the same engine profile:

- AQE on (runtime coalesce / skew-join split / join-strategy switch).
- Arrow on (pandas<->Spark and Pandas-UDF transfer is columnar, not pickled).
- snappy parquet to match the reference's at-rest format
  (reference: src/glue/b3_collector.py:221 ``'parquet.compression': 'SNAPPY'``).
- dynamic partition overwrite: a daily run replaces only the partitions it
  produced, instead of wiping the whole table like the reference's
  ``mode("overwrite")`` does (src/glue/b3_collector.py:179).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- a generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``): a long-lived session reuses every class it
  has compiled instead of evicting and recompiling them on each pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition sizing rationale (100 TB design; see also bench.py):
# - local runs: shuffle partitions ~ cores, so a 60k-row groupBy doesn't pay
#   200 empty-task launches.
# - cluster runs: AQE coalesces from an intentionally-high initial number, so
#   the static setting is a floor, not a cap. Callers on a real cluster should
#   pass shuffle_partitions ~ 2-3x total executor cores.
DEFAULT_LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# In local mode the driver JVM IS the executor: all `local[N]` task slots
# share the driver heap, and Spark's default driver memory is 1 GiB — 32
# concurrent shuffle/join tasks starving in 1 GiB manifests as GCLocker
# retry crashes long before data is "big" (found by scripts/scale_smoke.py
# at a 100k-doc corpus on a 128 GiB box).  Sized per-slot: ~512 MiB x slots,
# floor 8 GiB.  Only effective for sessions THIS factory launches (a config
# at JVM start); on a cluster, executor memory comes from the submit config.
# Resolved at CALL time, not import time (ADVICE r13): an env var set after
# `import aws_etl_fiap_spark.session` — e.g. by a harness script that sets
# its own default — must still take effect.
def _default_driver_mem() -> str:
    return os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(8, DEFAULT_LOCAL_CPUS // 2)}g"
    )


# Whole-stage codegen compiles one Java class per distinct generated source
# with Janino and keeps it in a cache that Spark caps at 100 entries
# (``spark.sql.codegen.cache.maxEntries``).  The engine's working set is far
# larger.  Measured with the CodegenMetrics compile counter
# (``codegen_compiles``) on the llm_curation benchmark: its eight operators
# compile ~305 classes on the cold pass, so at the default cap every warm
# pass evicted and recompiled 354-386 of them, the same Janino work as the
# cold pass; at 4096 a warm pass compiles none.  One sweep over all 240
# registered queries at sf0.01 compiles ~2,600 distinct classes with an
# unbounded cache (3,707 compiles at the default cap), so 4096 holds the
# whole registry with headroom, for ~12 MB more Metaspace (220 -> 233 MB).
# A static SQL conf: it binds only for sessions this factory launches and
# cannot be changed at runtime.
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (monotonic).  The
    delta across a run counts that run's codegen cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "aws_etl_fiap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS``; on a cluster, pass
    ``master=None`` with the environment's master and a larger
    ``shuffle_partitions``.  ``driver_mem`` pins the local-mode heap
    explicitly (defaults to ``SPARK_GRAFT_DRIVER_MEM`` or the per-slot
    formula); like every JVM-start config it only binds for the session
    this call actually launches.
    """
    master = master or f"local[{DEFAULT_LOCAL_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_LOCAL_CPUS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem or _default_driver_mem())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones, and switch
        # sort-merge -> broadcast at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cost-based optimizer: consumes ANALYZE TABLE stats (catalog.
        # analyze_table) for join reordering and build-side choice; inert
        # (size-based fallback) on tables without stats.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Arrow for pandas interchange and Pandas UDFs (vectorized batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # At-rest format parity with the reference (snappy parquet).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Daily-run overwrite should replace only touched partitions.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Partition values stay strings (the reference's dataproc=yyyyMMdd is
        # a string partition key; inference would read it back as int).
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Deterministic timestamp semantics (match DuckDB's naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        # Keep every generated class of the working set compiled.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Quiet, headless runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
