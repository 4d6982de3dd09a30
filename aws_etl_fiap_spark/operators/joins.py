"""Join operators ([EXT], SURVEY.md §2.3 — the reference has zero joins, but
its Athena SQL surface implies them and the star-schema testdata demands
them).

Everything equi is stock ``df.join`` — Catalyst picks broadcast / shuffle-hash
/ sort-merge, AQE re-picks at runtime. What this module adds is the two
operators Spark has no built-in for, implemented in scale-safe shapes:

- ``asof_join``: "latest right row at-or-before each left row" via the
  union-merge pattern — tag both sides, union, one window (partition by key,
  order by time) with ``last(..., ignorenulls)``. ONE shuffle + ONE sort,
  no range cross-product, no per-row lookup; this is how you as-of join two
  100 TB tables. (A join-on-inequality would explode to |left|x|right-per-key|
  intermediates before aggregating them away.)
- ``range_join``: value-to-band assignment via a broadcast nested-loop join
  against a (tiny) bands table — the non-equi condition never shuffles the
  big side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    right_tiebreak: Sequence[str] = (),
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``(right_time, *right_tiebreak)`` such that right_time <= left_time and
    the ``on`` keys match; NULLs when no such row exists.

    Ties at equal time: the right row wins (<= semantics), and among right
    rows the greatest tiebreak wins — fully deterministic given a unique
    tiebreak.
    """
    on = list(on)
    # Struct field order doubles as the sort order (time, tiebreak, values);
    # dedupe in case a column serves as both tiebreak and carried value.
    payload_cols = list(dict.fromkeys([right_time, *right_tiebreak, *right_values]))
    payload = F.struct(*[F.col(c) for c in payload_cols])

    left_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__tag"),
        F.col(left_time).alias("__time"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType.simpleString()
        ).alias("__payload"),
    )
    # Right rows carry the real join keys (they drive the partitioning);
    # every other left column rides along as NULL.
    right_tagged = right.select(
        *[
            (F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in left.columns
        ],
        F.lit(0).alias("__tag"),
        F.col(right_time).alias("__time"),
        payload.alias("__payload"),
    )

    # Order: time, then tag (right rows sort before left at equal time, so a
    # same-instant right row is visible to the left row), then the right
    # tiebreak carried inside the struct ordering via payload sort columns.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__time"), F.col("__tag"), F.col("__payload"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left_tagged.unionByName(right_tagged).withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("__tag") == 1)
    for c in right_values:
        out = out.withColumn(f"{prefix}{c}", F.col(f"__match.{c}"))
    return out.drop("__tag", "__time", "__payload", "__match")


def range_join(
    big: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Assign each big-side row to the band where lo <= value < hi.
    bands must be small (it is broadcast; the big side never moves)."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return big.join(F.broadcast(bands), cond, "inner")


def bloom_prefiltered_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Semi-join reduction via a broadcast Bloom filter ([EXT]; the
    runtime-filter pattern Spark's AQE applies to some plans, made
    explicit and composable): build a Bloom filter over the BUILD side's
    join keys, pre-filter the PROBE side with it BEFORE the join's
    shuffle, then run the real join — which removes the false positives,
    so the result is EXACTLY the plain join (no false negatives by
    construction; the oracle gate verifies equality, not approximation).

    Why it matters at 100 TB: a shuffle join moves the entire probe side
    even when only a sliver of it matches a selective build side.  The
    Bloom filter costs one map-side-combined ``bit_or`` aggregate over
    the build keys (<= n_bits/32 rows, broadcast once) and turns the
    probe-side shuffle volume into ``|matches| + fp_rate * |probe|``.

    Plan shape (all gated in tests/test_plan_quality.py): the membership
    test is ``n_hashes`` chained BROADCAST joins on the word column plus a
    codegen'd bit test — no explode, no groupBy, NO SHUFFLE on the probe
    side before the filter; the word frame broadcasts once per hash.  The
    keys hash with xxhash64 (JVM codegen) — Bloom CONTENT never reaches
    the result, so cross-engine hash portability is unnecessary here.
    """
    from aws_etl_fiap_spark.operators.sketches import bloom_build

    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom prefiltering preserves semantics only for inner/left_semi "
            f"joins, got {how!r}"
        )
    keys = list(on)
    composite = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    bkeys = build.select(
        F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys]).alias(
            "__bk"
        )
    )
    # Built ONCE and lineage-cut: the words frame is referenced by every
    # per-hash membership join below, and without the checkpoint each
    # reference would re-run the bit_or aggregate over the build side —
    # n_hashes passes instead of one.  The frame is bounded by n_bits/32
    # rows (the sketch contract), never by data volume.
    words = bloom_build(
        bkeys, "__bk", n_bits=n_bits, n_hashes=n_hashes, hash_family="fast"
    ).localCheckpoint(eager=True)

    filtered = probe.withColumn("__pk", composite)
    pass_cols = []
    for seed in range(n_hashes):
        pos = F.pmod(
            F.xxhash64(F.lit(str(seed)), F.col("__pk")), F.lit(n_bits)
        )
        w = words.select(
            F.col("word").alias(f"__w{seed}"), F.col("bits").alias(f"__b{seed}")
        )
        filtered = filtered.withColumn(
            f"__word{seed}", (pos / 32).cast("int")
        ).withColumn(f"__bit{seed}", (pos % 32).cast("int"))
        filtered = filtered.join(
            F.broadcast(w),
            filtered[f"__word{seed}"] == w[f"__w{seed}"],
            "left",
        )
        pass_cols.append(
            F.expr(
                f"shiftright(coalesce(__b{seed}, CAST(0 AS BIGINT)), "
                f"__bit{seed}) % 2 = 1"
            )
        )
    cond = pass_cols[0]
    for c in pass_cols[1:]:
        cond = cond & c
    scratch = ["__pk"] + [
        c
        for seed in range(n_hashes)
        for c in (f"__word{seed}", f"__bit{seed}", f"__w{seed}", f"__b{seed}")
    ]
    filtered = filtered.filter(cond).drop(*scratch)
    return filtered.join(build, keys, how)
