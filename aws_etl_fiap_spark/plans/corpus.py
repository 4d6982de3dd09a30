"""Corpus curation plan ([EXT] north star): the end-to-end training-data
funnel — quality filter -> exact dedup -> fuzzy dedup clustering -> canonical
survivors — composed from the engine's operators as ONE lazy dataflow.

This is the shape a 100 TB pretraining-data pipeline actually runs:

    raw documents
      -> cheap expression-only quality scoring (operators/text.py), filter
      -> exact dedup on the 32-byte content hash (one shuffle)
      -> n-gram Jaccard near-dup pairs (inverted-index join)
      -> connected components (operators/graph.py), keep each cluster's
         canonical (min doc_id) member
      -> curated corpus

Stage order matters at scale: each stage shrinks the input of the next, and
the expensive quadratic-ish fuzzy stage runs LAST on the smallest set.  Every
stage is individually oracled elsewhere (text_quality, dedup_exact,
dedup_ngram_jaccard, dedup_cluster_canonical); queries/corpus_q.py puts the
WHOLE funnel behind one exact DuckDB oracle so stage composition is verified
too, not just the pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.dedup import (
    content_hash,
    exact_dedup,
    ngram_jaccard_pairs,
)
from aws_etl_fiap_spark.operators.graph import connected_components
from aws_etl_fiap_spark.operators.text import quality_score

MIN_QUALITY = 0.5
JACCARD_THRESHOLD = 0.5


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = MIN_QUALITY,
    jaccard_threshold: float = JACCARD_THRESHOLD,
) -> dict[str, DataFrame]:
    """Run the curation funnel; returns every intermediate stage (lazy):
    ``{"quality", "exact", "survivors"}`` — callers pick the stage they
    need, and nothing is computed twice (survivors build on exact, exact on
    quality)."""
    # Stage boundaries are PINNED (lazy localCheckpoint): every stage frame
    # is consumed by at least two downstreams — the next stage plus the
    # funnel's per-stage accounting union, and ``exact`` additionally feeds
    # both the pair generator and the survivors anti-join.  Unpinned, the
    # r13 full-registry sweep measured the web funnel re-running its
    # regex-heavy hygiene pipeline once per consumer (~6 full passes,
    # 19.7 s at sf0.1); pinned, each stage computes once — the in-process
    # twin of the write-between-stages discipline a production funnel uses.
    # Blocks release at GC (repo-wide checkpoint lifecycle).
    quality = (
        quality_score(df, text_col)
        .filter(F.col("quality") >= min_quality)
        .select(df.columns)
        .localCheckpoint(eager=False)
    )
    exact = exact_dedup(
        quality.withColumn("content_hash", content_hash(text_col)),
        ["content_hash"],
        id_col,
    ).select(df.columns).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(exact, id_col, text_col, jaccard_threshold)
    comp = connected_components(pairs, "id_a", "id_b")
    dropped = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    survivors = exact.join(dropped, id_col, "left_anti")
    return {"quality": quality, "exact": exact, "survivors": survivors}


def curate_web_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_quality: float = MIN_QUALITY,
    jaccard_threshold: float = JACCARD_THRESHOLD,
) -> dict[str, DataFrame]:
    """The funnel as run on RAW WEB CAPTURES (r12 verdict tasks 5-6): two
    hygiene stages precede the quality filter —

        markup -> main-content extraction (jusText-class; drops documents
                  that are ALL boilerplate: n_kept == 0)
               -> Unicode sanitation (mojibake repair, NFC, control scrub)
               -> the plain-text funnel (quality -> exact -> fuzzy)

    Both hygiene stages are per-row (zero shuffle), so they run inside the
    scan stage BEFORE the first exchange — at 100 TB the boilerplate bytes
    never reach a shuffle.  Returns all intermediate stages (lazy):
    ``{"extracted", "sanitized", "quality", "exact", "survivors"}``."""
    from aws_etl_fiap_spark.operators.webtext import (
        extract_main_content,
        unicode_sanitize,
    )

    # Same stage pinning as curate_corpus (see the comment there): the
    # extraction and sanitation expressions are the most expensive per-row
    # work in the whole funnel and feed both the next stage and the
    # accounting union.  The input additionally spreads to session
    # parallelism first (guide §2.5): block scoring + regex extraction
    # measured ~2 ms/row, so a one-split capture file would run the whole
    # corpus through one core (10 s single-core at sf0.1; a no-op on real
    # multi-split crawls).
    from aws_etl_fiap_spark.sources.readers import spread_input

    extracted = (
        extract_main_content(spread_input(df), html_col, out="__main")
        .filter(F.col("n_kept") > 0)
        .select(F.col(id_col), F.col("__main").alias("text"))
        .localCheckpoint(eager=False)
    )
    sanitized = (
        unicode_sanitize(extracted, "text", out="__clean")
        .select(F.col(id_col), F.col("__clean").alias("text"))
        .localCheckpoint(eager=False)
    )
    stages = curate_corpus(
        sanitized, id_col, "text", min_quality, jaccard_threshold
    )
    return {"extracted": extracted, "sanitized": sanitized, **stages}


def _count_frame(frame: DataFrame, stage: str) -> DataFrame:
    return frame.agg(
        F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n_docs")
    )


def curation_funnel_counts(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Per-stage row accounting (stage, n_docs) — the curation run report.
    A long/skinny frame, not a collect: at scale this is the job's audit
    record, written next to the curated output."""
    stages = curate_corpus(df, id_col, text_col)
    return (
        _count_frame(df, "raw")
        .unionByName(_count_frame(stages["quality"], "quality"))
        .unionByName(_count_frame(stages["exact"], "exact_dedup"))
        .unionByName(_count_frame(stages["survivors"], "fuzzy_dedup"))
    )


def web_curation_funnel_counts(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Stage accounting for :func:`curate_web_corpus` — the web-capture
    funnel report, two hygiene stages ahead of the plain-text funnel."""
    stages = curate_web_corpus(df, id_col, html_col)
    return (
        _count_frame(df, "raw")
        .unionByName(_count_frame(stages["extracted"], "extracted"))
        .unionByName(_count_frame(stages["sanitized"], "sanitized"))
        .unionByName(_count_frame(stages["quality"], "quality"))
        .unionByName(_count_frame(stages["exact"], "exact_dedup"))
        .unionByName(_count_frame(stages["survivors"], "fuzzy_dedup"))
    )
