"""Partitioned parquet sinks (reference S4/S6: b3_collector.py:179,
b3_transform.py:309-312).

The reference writes ``mode("overwrite")`` which wipes EVERY partition of the
table on each daily run; with the session default
``partitionOverwriteMode=dynamic`` (session.py) the same call replaces only
the partitions present in the incoming frame — the semantics a daily
append-by-partition pipeline actually wants, and the only sane behavior when
the table holds 100 TB and today's delta is 100 GB.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    target_file_rows: int | None = None,
) -> None:
    """Write a partitioned snappy-parquet table.

    ``target_file_rows``: optional small-files guard — repartition by the
    partition columns before writing so each Hive partition is produced by
    exactly one task instead of every task emitting a sliver into every
    partition (the classic 100 TB small-files failure: tasks x partitions
    files).  Every file is capped at ``target_file_rows`` rows
    (``maxRecordsPerFile``), so a Hive partition of n rows lands as
    ceil(n / target_file_rows) files.

    The repartition names its count — one partition per task slot
    (``defaultParallelism``).  Without a count AQE coalesces a small
    shuffle into a single partition, and one task then writes every Hive
    partition in series (100 refined directories: 0.88-1.07 s as one
    task, 0.57-0.65 s as 4 on 4 cores).  An explicit count is never
    coalesced.
    """
    if partition_by and target_file_rows:
        slots = df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(slots, *partition_by)
    writer = df.write.mode(mode)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_back(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip scan (reference S5); partition columns come back from the
    directory layout."""
    return spark.read.parquet(path)


@contextlib.contextmanager
def scratch_sink(prefix: str) -> Iterator[str]:
    """A fresh scratch directory for a write-then-read-back query, deleted
    on exit whether the block returns or raises.

    It lands under ``SPARK_GRAFT_SINK_DIR``, default the local temp dir.
    With that default the query assumes local[*] mode: on a real cluster
    executors cannot reach the driver's /tmp, so point SPARK_GRAFT_SINK_DIR
    at shared storage (round-3 advice).  A frame returned from inside the
    block must be localCheckpointed EAGERLY there, so the frame the caller
    later collects no longer reads the deleted files."""
    base = os.environ.get("SPARK_GRAFT_SINK_DIR") or tempfile.gettempdir()
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (+ optionally sorted) parquet table into the catalog.

    Bucketing is THE co-located-join tool at 100 TB: two tables bucketed by
    the same key into the same bucket count join with ZERO exchange — each
    task reads bucket i from both sides. Sorting within buckets additionally
    removes the sort before a sort-merge join. The price is paid once at
    write time; every subsequent join/aggregation on the bucket key rides
    free. (Bucketed tables must go through the catalog — ``saveAsTable`` —
    because bucket metadata lives there, not in the directory layout.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str],
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Rewrite a partitioned parquet table so each Hive partition holds
    ~``target_rows_per_file`` rows per file — the maintenance pass every
    long-lived 100 TB table needs once streaming/daily sinks have littered it
    with slivers (scan cost is dominated by per-file open/schedule overhead
    once files shrink below tens of MB).

    Strategy: one rewrite job for the whole table, not one per partition —
    count rows per partition, derive a file budget each, tag every row with a
    file slot, and repartition on (partition key, slot) so one task writes one
    ~target-size file into one partition. The rewrite lands in a staging
    directory first and is swapped in with a filesystem rename: NEVER
    overwrite a path while a lazy plan is still reading it (self-overwrite
    either fails or corrupts mid-job; staging + swap is also what keeps
    readers consistent on object stores). Returns {files_before, files_after,
    partitions, file_budget} for observability — ``file_budget`` is the
    per-partition budget sum(ceil(rows/target)), the invariant callers
    should check ``files_after`` against (``partitions`` alone only bounds
    it while every partition fits in one target file).
    """
    from pyspark.sql import functions as F

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    backup = path.rstrip("/") + "__compact_old"
    # Crash recovery FIRST: if a previous run died between rename(path ->
    # backup) and rename(staging -> path), the backup is the ONLY copy of the
    # table — restore it before doing anything else (in particular before the
    # unconditional stale-backup delete below, which would otherwise be
    # permanent data loss in exactly the window this function protects).
    if fs.exists(hpath(backup)) and not fs.exists(hpath(path)):
        if not fs.rename(hpath(backup), hpath(path)):
            raise IOError(
                f"recovery rename {backup} -> {path} failed; "
                "table data is intact in the backup — intervene manually"
            )
        spark.catalog.refreshByPath(path)

    pcols = list(partition_by)
    before = spark.read.parquet(path)
    # A partition column whose every value is NULL (only
    # __HIVE_DEFAULT_PARTITION__ directories exist) reads back as VOID,
    # which the staging write rejects as a partition type — normalize to
    # the string type any mixed table would have (r13 interplay property).
    for c in pcols:
        if dict(before.dtypes).get(c) == "void":
            before = before.withColumn(c, F.col(c).cast("string"))
    files_before = before.select(F.input_file_name()).distinct().count()

    counts = before.groupBy(*pcols).agg(F.count(F.lit(1)).alias("_n"))
    n_files = counts.withColumn(
        "_files",
        F.greatest(F.lit(1), F.ceil(F.col("_n") / F.lit(target_rows_per_file))).cast("int"),
    ).drop("_n")
    # NULL-SAFE budget join: upsert_partitioned supports the NULL partition
    # (__HIVE_DEFAULT_PARTITION__) as a first-class class, and a plain
    # equi-join here silently DROPPED its rows from the rewrite — the swap
    # then deleted them from the table (found by the r13 upsert x compact
    # interplay property; same NULL-match class as upsert's r10 survivor-
    # scan fix).
    budget = F.broadcast(
        n_files.select(
            *[F.col(c).alias(f"__b_{c}") for c in pcols], "_files"
        )
    )
    null_safe = F.lit(True)
    for c in pcols:
        null_safe = null_safe & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    tagged = (
        before.join(budget, null_safe)
        .drop(*[f"__b_{c}" for c in pcols])
        .withColumn(
            "_slot",
            (F.monotonically_increasing_id() % F.col("_files")).cast("int"),
        )
    )
    # Materialize every stat that reads the OLD generation before the swap —
    # after it, their lazy plans would resolve deleted files.
    total_files = int(n_files.agg(F.sum("_files")).first()[0])
    n_partitions = int(counts.count())

    staging = path.rstrip("/") + "__compact_staging"
    (
        tagged.repartition(total_files, *pcols, F.col("_slot"))
        .drop("_files", "_slot")
        .write.mode("overwrite")
        .partitionBy(*pcols)
        .parquet(staging)
    )
    # Swap via the Hadoop FileSystem API (works for file://, HDFS, and
    # rename-capable object-store committers alike).  Order matters for
    # crash-safety: the live generation is RENAMED ASIDE first, so at no
    # point does the table path hold nothing recoverable — delete-then-rename
    # would lose the table if the process died between the calls.
    # Safe to drop a stale backup here: the live path is confirmed present
    # (we just read it), so the backup is never the only copy at this point.
    fs.delete(hpath(backup), True)
    if not fs.rename(hpath(path), hpath(backup)):
        raise IOError(f"rename {path} -> {backup} failed; table untouched")
    if not fs.rename(hpath(staging), hpath(path)):
        # Roll the old generation back into place before failing.
        fs.rename(hpath(backup), hpath(path))
        raise IOError(
            f"rename {staging} -> {path} failed; old generation restored"
        )
    fs.delete(hpath(backup), True)  # both renames confirmed: drop old gen
    # Drop the session's cached file listing for the old generation — without
    # this the next scan resolves deleted pre-compaction files.
    spark.catalog.refreshByPath(path)

    after = spark.read.parquet(path)
    files_after = after.select(F.input_file_name()).distinct().count()
    return {
        "files_before": int(files_before),
        "files_after": int(files_after),
        "partitions": n_partitions,
        "file_budget": total_files,
    }


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_by: Sequence[str],
    keys_partition_stable: bool = True,
    max_affected_partitions: int = 10_000,
    deletes: DataFrame | None = None,
) -> dict[str, int]:
    """MERGE a batch of full replacement rows into a partitioned parquet
    table: matching keys are replaced, new keys inserted, and keys listed in
    ``deletes`` removed — the incremental daily-refresh pattern (full CDC
    apply: upsert + delete) the reference's ``mode("overwrite")`` rewrite
    (b3_transform.py:309-312) cannot express once the table dwarfs the delta.

    100 TB shape: only AFFECTED partitions are ever read or rewritten.

    1. Affected = partitions present in ``updates``; when
       ``keys_partition_stable=False`` also the partitions currently holding
       an updated key (found via a key semi-join — a full-table scan, which
       is why stable-keyed tables, e.g. day-partitioned facts whose key
       embeds the day, should keep the default and skip it).  ``deletes``
       contributes partitions directly when it carries the partition
       columns; otherwise its keys are located by the same semi-join (forced
       even under stable keys — a bare delete key says nothing about where
       it lives).
    2. The survivor scan is PRUNED to affected partitions (the predicate is
       on partition columns only, so it prunes directories at planning
       time), then LEFT ANTI joined against the update AND delete keys.
    3. survivors + updates land in a STAGING directory first — Spark
       (rightly) refuses to overwrite a path an active plan is reading, and
       staging + rename is also what keeps concurrent readers consistent —
       then each affected partition directory is swapped in with Hadoop
       FileSystem renames, compact_partitions-style: the live partition is
       renamed aside before its replacement moves in, so no point in the
       swap leaves a partition with nothing recoverable.
    4. An affected partition the merge wrote NO rows into (every row moved
       elsewhere) simply has no staged replacement: the swap leaves it
       renamed aside and it is dropped with the backups — phantom
       directories cannot survive.

    Crash mid-swap leaves some partitions pre-merge and some post-merge;
    re-running the SAME batch is idempotent (replace-by-key of an identical
    batch maps both states to the same result), so the recovery is simply
    to re-run.  That idempotence claim has one hole the next run must
    close FIRST: a crash between rename-aside and swap-in leaves a
    partition in NEITHER state — its pre-merge rows exist ONLY in the
    backup directory, and the old behavior of unconditionally deleting
    the backup before staging silently lost that partition's unmatched
    survivor rows (found by the r13 upsert-crash property, the same
    class as compact_partitions' round-2 recovery fix).  Recovery now
    runs first: any partition present in the backup but missing live is
    restored before the stale backup/staging cleanup.  The partition
    LIST (never row data) is collected on the driver, bounded by
    ``max_affected_partitions`` with an explicit raise.

    NULL merge KEYS follow standard SQL MERGE semantics (NULL never
    matches NULL): a NULL-keyed update always inserts, a NULL-keyed
    existing row is never replaced or deleted — enforce NOT NULL keys
    upstream.  NULL PARTITION values, by contrast, are fully supported
    (one `__HIVE_DEFAULT_PARTITION__` class, matched null-safely in the
    survivor scan).

    Returns {affected_partitions, rewritten_partitions, dropped_partitions}.
    """
    from pyspark.sql import functions as F

    pcols, kcols = list(partition_by), list(key_cols)
    staging = path.rstrip("/") + "__upsert_staging"
    backup = path.rstrip("/") + "__upsert_old"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    # Crash recovery FIRST (see docstring): a partition renamed aside by a
    # crashed swap exists only under the backup dir (flat, '/' mangled to
    # '%2F' — unambiguous, since Hive escaping renders a literal '%' as
    # '%25').  Restore every such partition whose live directory is missing
    # BEFORE the unconditional stale-backup delete below, which would
    # otherwise be permanent loss of its unmatched survivor rows.
    if fs.exists(hpath(backup)):
        restored = 0
        for status in fs.listStatus(hpath(backup)):
            rel = status.getPath().getName().replace("%2F", "/")
            live = hpath(path.rstrip("/") + "/" + rel)
            if not fs.exists(live):
                fs.mkdirs(live.getParent())
                if not fs.rename(status.getPath(), live):
                    raise IOError(
                        f"recovery rename {status.getPath()} -> {live} "
                        "failed; partition data is intact in the backup — "
                        "intervene manually"
                    )
                restored += 1
        if restored:
            spark.catalog.refreshByPath(path)
    existing = spark.read.parquet(path)
    batch_keys = updates.select(*kcols).distinct()
    if deletes is not None:
        batch_keys = batch_keys.unionByName(deletes.select(*kcols).distinct()).distinct()
    affected_df = updates.select(*pcols)
    if not keys_partition_stable:
        affected_df = affected_df.unionByName(
            existing.join(batch_keys, kcols, "left_semi").select(*pcols)
        )
    elif deletes is not None:
        if set(pcols) <= set(deletes.columns):
            affected_df = affected_df.unionByName(deletes.select(*pcols))
        else:
            affected_df = affected_df.unionByName(
                existing.join(
                    deletes.select(*kcols).distinct(), kcols, "left_semi"
                ).select(*pcols)
            )
    affected = [
        tuple(r)
        for r in affected_df.distinct().limit(max_affected_partitions + 1).collect()
    ]
    if len(affected) > max_affected_partitions:
        raise ValueError(
            f"upsert touches more than {max_affected_partitions} partitions; "
            "this merge should be a table rewrite, not an upsert"
        )
    pred = F.lit(False)
    for values in affected:
        clause = F.lit(True)
        for col, val in zip(pcols, values):
            # NULL-SAFE match: `col == NULL` is NULL (never true), so a plain
            # equality would scan ZERO survivors out of the NULL partition
            # while the swap still replaces its live directory — silently
            # deleting every unmatched row in it (found by the r10
            # random-commit property; `_rel` below already routes NULL to
            # __HIVE_DEFAULT_PARTITION__, so NULL partitions are in-contract).
            cond = (
                F.col(col).isNull() if val is None else F.col(col) == F.lit(val)
            )
            clause = clause & cond
        pred = pred | clause
    survivors = existing.filter(pred).join(batch_keys, kcols, "left_anti")
    merged = survivors.unionByName(updates.select(*survivors.columns))

    fs.delete(hpath(staging), True)
    fs.delete(hpath(backup), True)
    merged.write.mode("overwrite").partitionBy(*pcols).parquet(staging)

    # Partition DIRECTORY names are Hive-ESCAPED by Spark ('a b:c' lands as
    # 'p=a b%3Ac') — building them from raw values would silently miss the
    # staged/live directories for any value containing ':', '=', '%', etc.:
    # the staged partition would never swap in (its rows dropped with the
    # staging cleanup) and the replaced keys would survive — a silent wrong
    # merge (r10 adversarial review).  Use Spark's own escaper so names
    # match byte-for-byte; NULL partition values get Hive's default bucket
    # name, booleans Spark's lowercase rendering.
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName

    def _rel(values) -> str:
        parts = []
        for col, val in zip(pcols, values):
            if val is None:
                parts.append(f"{col}=__HIVE_DEFAULT_PARTITION__")
            elif isinstance(val, bool):
                parts.append(f"{col}={'true' if val else 'false'}")
            else:
                parts.append(f"{col}={esc(str(val))}")
        return "/".join(parts)

    rewritten = dropped = 0
    fs.mkdirs(hpath(backup))
    for values in affected:
        live = hpath(path.rstrip("/") + "/" + _rel(values))
        staged = hpath(staging + "/" + _rel(values))
        aside = hpath(backup + "/" + _rel(values).replace("/", "%2F"))
        had_live = fs.exists(live)
        if had_live and not fs.rename(live, aside):
            raise IOError(f"rename-aside failed for partition {values}")
        if fs.exists(staged):
            fs.mkdirs(live.getParent())
            if not fs.rename(staged, live):
                if had_live:
                    fs.rename(aside, live)  # roll back this partition
                raise IOError(f"swap-in failed for partition {values}")
            rewritten += 1
        elif had_live:
            dropped += 1  # no staged replacement: partition merged away
    fs.delete(hpath(backup), True)
    fs.delete(hpath(staging), True)
    # Drop the cached file listing — the next scan must not resolve
    # pre-merge files.
    spark.catalog.refreshByPath(path)
    return {
        "affected_partitions": len(affected),
        "rewritten_partitions": rewritten,
        "dropped_partitions": dropped,
    }


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write a table CLUSTERED on ``cluster_cols``: range-partitioned into
    ``n_files`` writer tasks and sorted within each — so each output file
    covers a narrow, non-overlapping key range and each row group inside it
    is narrower still.

    This is the data-skipping layout for high-cardinality predicates that
    partitionBy cannot serve (partitioning by a million user_ids creates a
    million directories; clustering keeps N files).  A point or range
    predicate on the cluster key then touches ~1 file's row groups: the
    parquet reader prunes row groups via min/max footer stats once the
    filter is pushed down, and the ranges don't overlap across files.  The
    sort costs one range exchange at write time — the read-side skipping is
    free forever after (same price-once-ride-free economics as bucketing,
    but for RANGE predicates instead of equi-joins).
    """
    (
        df.repartitionByRange(n_files, *[df[c] for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def morton_code(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ``bits``-bit keys
    (``bits <= 16``): bit i of x lands at position 2i, bit i of y at 2i+1.
    Classic magic-mask bit spreading — 8 shift/mask ops per key, all inside
    whole-stage codegen, no UDF.

    Locality property: keys close in BOTH dimensions are close in z-value,
    so range-clustering the z-value (see :func:`write_zordered`) gives
    min/max file skipping on BOTH columns at once — the layout trick single
    -column clustering (:func:`write_clustered`) cannot provide.
    """
    if bits > 16:
        raise ValueError("morton_code interleaves at most 16 bits per key")
    mask = (1 << bits) - 1

    def spread(c: Column) -> Column:
        c = c.cast("long").bitwiseAND(F.lit(mask))
        c = F.shiftleft(c, 8).bitwiseOR(c).bitwiseAND(F.lit(0x00FF00FF))
        c = F.shiftleft(c, 4).bitwiseOR(c).bitwiseAND(F.lit(0x0F0F0F0F))
        c = F.shiftleft(c, 2).bitwiseOR(c).bitwiseAND(F.lit(0x33333333))
        c = F.shiftleft(c, 1).bitwiseOR(c).bitwiseAND(F.lit(0x55555555))
        return c

    return F.shiftleft(spread(y), 1).bitwiseOR(spread(x))


def sql_morton_code(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_code` — identical shift/mask chain on
    BIGINT, so z-values agree bit-for-bit across engines."""
    if bits > 16:
        raise ValueError("morton_code interleaves at most 16 bits per key")
    mask = (1 << bits) - 1

    def spread(e: str) -> str:
        e = f"(CAST({e} AS BIGINT) & {mask})"
        for shift, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            e = f"((({e} << {shift}) | {e}) & {m})"
        return e

    return f"(({spread(y_expr)} << 1) | {spread(x_expr)})"


def _murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Pure-Python twin of Spark's ``Murmur3_x86_32.hashInt(value, seed)``
    (the hash behind ``F.hash`` / hash-partitioning on an INT column, seed
    42).  Returns the SIGNED 32-bit result, bit-identical to the JVM — so
    the driver can predict which shuffle partition an int routing key lands
    in without running a job.  Verified against ``F.hash`` in tests."""
    M32 = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & M32

    k1 = (value & M32) * 0xCC9E2D51 & M32
    k1 = rotl(k1, 15) * 0x1B873593 & M32
    h1 = (seed ^ k1) & M32
    h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & M32
    h1 ^= 4  # fmix with length=4 bytes
    h1 = (h1 ^ (h1 >> 16)) * 0x85EBCA6B & M32
    h1 = (h1 ^ (h1 >> 13)) * 0xC2B2AE35 & M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _distinct_partition_labels(n: int) -> list[int]:
    """The smallest ``n`` non-negative ints whose hash-partition targets
    ``pmod(murmur3(label), n)`` are pairwise DISTINCT — i.e. a set of int
    routing keys that ``repartition(n, key)`` spreads one-per-partition.
    Expected coupon-collector cost ~n·ln n murmur evaluations, driver-side
    only (n = output file count, so thousands even at 100 TB)."""
    by_partition: dict[int, int] = {}
    c = 0
    while len(by_partition) < n:
        p = _murmur3_hash_int(c) % n  # Python % == Spark pmod for n > 0
        if p not in by_partition:
            by_partition[p] = c
        c += 1
    return [by_partition[p] for p in range(n)]


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write a table Z-ORDERED on two high-cardinality columns: partition +
    sort on the Morton interleave of (x, y), then drop the helper column.
    Each output file covers a compact z-range, i.e. a small rectangle (or
    few) in (x, y) space — so its parquet footer min/max are narrow on BOTH
    columns and a selective predicate on EITHER column (or a box on both)
    skips most files/row groups.

    This is the multi-dimensional data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER equivalent) expressed with stock Spark — but NOT via
    ``repartitionByRange``: its sampled boundaries drift with the input
    split layout, and a bad draw silently degenerates the layout to
    zero file skipping (caught by an order-dependent test flake, r10
    verdict item 2).  A layout primitive whose quality depends on sampling
    luck is not a primitive at 100 TB.  Instead the file boundaries are
    EXACT equi-depth z-quantiles (rank thresholds over the distinct-z frame
    via the two-pass range-partitioned prefix sum — no single-reducer
    window), and each z-bucket is routed to its own shuffle partition by an
    int label chosen so Spark's murmur3 hash-partitioning is collision-free
    (:func:`_distinct_partition_labels`).  Deterministic layout, one hash
    exchange at write time, ordinary pushed-filter pruning at read time.
    Driver state: n_files-1 boundary values + n_files labels — bounded by
    the output file count, never by data volume.
    """
    from aws_etl_fiap_spark.operators.sampling import ordered_prefix_sum

    if n_files <= 1:
        (
            df.withColumn("__z", morton_code(F.col(x_col), F.col(y_col), bits))
            .coalesce(1)
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode(mode)
            .parquet(path)
        )
        return

    spark = df.sparkSession
    zdf = df.withColumn("__z", morton_code(F.col(x_col), F.col(y_col), bits))

    # Exact equi-depth boundaries: boundary i = the smallest z whose
    # cumulative row count reaches ceil(i * n_total / n_files).  Rows whose
    # z is NULL (either key column NULL) are EXCLUDED from the boundary
    # pass: NULL never satisfies ``z >= boundary``, so they route
    # deterministically to bucket 0 regardless of boundaries — but a
    # distinct-z group that is ONLY the NULL row would propagate a NULL
    # ``min(__z)`` into the driver-side threshold map and abort the write
    # with a TypeError (r11 advice: an all-NULL-key frame killed the job).
    g = (
        zdf.filter(F.col("__z").isNotNull())
        .groupBy("__z")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    totals = g.agg(F.sum("__cnt").alias("n")).first()
    n_total = int(totals["n"] or 0)
    if n_total == 0:
        # No non-NULL z anywhere: nothing to order by; write as-is.
        zdf.drop("__z").write.mode(mode).parquet(path)
        return
    r = ordered_prefix_sum(g, ["__z"], "__cnt", out="__cum")
    # boundary i (1..k-1) = the smallest z whose cumulative count reaches
    # ceil(i*n/k).  A row with cumulative c covers exactly the thresholds
    # i <= floor(c*k/n), so: stamp each distinct-z row with that index,
    # reduce to ONE min-z per index (<= k groups), and take suffix-mins
    # driver-side.  This is O(distinct z) with a k-sized aggregate — the
    # first cut crossJoined every distinct z against all k-1 thresholds,
    # a k-fold row blowup the 20x smoke exposed (3M rows x 63 thresholds).
    # Exact integer arithmetic: cum >= ceil(i*n/k) <=> i <= (cum*k) div n
    # for integer i — a double-divide floor could land one off at exact
    # rank boundaries.
    # (clamped to k-1: thresholds only run 1..k-1, and the final row has
    # cum = n -> raw index k, which the suffix-min scan would never
    # consume — caught by the layout model property on a 2-row frame).
    imax = F.expr(
        f"LEAST(CAST((__cum * {int(n_files)}L) DIV {int(n_total)}L AS INT),"
        f" {int(n_files) - 1})"
    )
    grouped = (
        r.select("__z", imax.alias("__g"))
        .filter(F.col("__g") >= 1)
        .groupBy("__g")
        .agg(F.min("__z").alias("mz"))
        .collect()
    )
    min_z_by_g = {int(row["__g"]): int(row["mz"]) for row in grouped}
    boundaries = []
    suffix_min = None
    for i in range(n_files - 1, 0, -1):
        if i in min_z_by_g:
            suffix_min = (
                min_z_by_g[i]
                if suffix_min is None
                else min(suffix_min, min_z_by_g[i])
            )
        if suffix_min is not None:
            boundaries.append(suffix_min)
    boundaries.sort()

    # bucket = #(boundaries <= z) in [0, n_files-1]; route each bucket to
    # its own shuffle partition via a collision-free murmur3 label.
    labels = _distinct_partition_labels(n_files)
    zc = F.col("__z")
    bucket = F.size(F.filter(F.lit(boundaries), lambda b: zc >= b))
    route = F.element_at(F.lit(labels), bucket + F.lit(1)).cast("int")
    (
        zdf.withColumn("__route", route)
        .repartition(n_files, F.col("__route"))
        .sortWithinPartitions("__z")
        .drop("__z", "__route")
        .write.mode(mode)
        .parquet(path)
    )
