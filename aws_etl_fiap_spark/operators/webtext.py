"""Web-text hygiene ([EXT]: the pre-tokenization stages every web-scale
LLM corpus runs before quality filtering — r12 verdict tasks 5-6).

Two operators, both expression-first and both with exact DuckDB SQL twins
(the sql_* builders) so the driver can hash-verify them end to end:

- :func:`extract_main_content` — trafilatura/jusText-class main-content
  extraction from markup: split the document into blocks at closing
  block-level tags, strip tags per block, score each block by link
  density, word count, and stopword density, and keep only content-like
  blocks.  Entirely built from codegen'd higher-order array functions
  (split / filter / transform / aggregate) — per-row, zero shuffle, zero
  Python: at 100 TB this runs inside the scan stage like any projection.

- :func:`unicode_sanitize` — ftfy-class Unicode repair: mojibake heuristic
  (UTF-8 bytes mis-decoded as Latin-1, the classic "CafÃ©" artifact),
  NFC normalization, and C0/C1 control-character scrubbing.  NFC and the
  mojibake round-trip need real Unicode tables, which Spark SQL does not
  expose — they run as ONE Arrow-batched pandas UDF (the declared
  off-hot-path Python tier, same budget class as the codecs); the control
  scrub and change-flags stay JVM-side expressions.

Classification thresholds (module constants) are jusText-shaped: a block
survives when it is not link-dominated AND it is either long enough to be
body text or stopword-dense enough to be prose.  The stopword list is the
engine-wide English list (operators/text.LID_STOPWORDS) so extraction
agrees with quality_score / lang_id / gopher_quality_rules.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from aws_etl_fiap_spark.operators.text import LID_STOPWORDS

#: Closing tags that end a content block.  Non-capturing group: capture
#: groups would change ``split`` semantics differently per engine.
BLOCK_SPLIT_RE = "</(?:p|div|li|h[1-6])>"
#: Anchor text extractor ([^<]* keeps it linear-time in both regex engines).
_ANCHOR_RE = "<a[^>]*>([^<]*)</a>"
_TAG_RE = "<[^>]*>"

#: EXPLICIT whitespace class shared by both twins, replacing engine ``\s``
#: and engine ``trim`` semantics at the edges (r13 fuzz finding): Java
#: ``\s`` includes \x0b, RE2's does not; DuckDB ``trim`` strips the whole
#: Unicode Zs category (NBSP & friends) while Spark's strips only 0x20 —
#: so a document containing U+00A0 (ubiquitous in real web text) diverged
#: between the engines.  The class is the UNION of both engines' sets
#: (ASCII whitespace + Zs), written as escapes/literals both regex
#: dialects read identically; squeezing it to ' ' BEFORE trim leaves only
#: 0x20 at the edges, where the two trims agree.  Zl/Zp (U+2028/29) are
#: deliberately excluded: neither engine's \s nor trim touches them, so
#: both twins preserve them identically.
_ZS_CHARS = "".join(
    chr(c)
    for c in (0x00A0, 0x1680, *range(0x2000, 0x200B), 0x202F, 0x205F, 0x3000)
)
_WS_RUN = "[\\t\\n\\x0b\\f\\r " + _ZS_CHARS + "]+"

#: Keep a block iff link_density <= MAX_LINK_DENSITY and (n_words >=
#: MIN_BLOCK_WORDS or stopword_frac >= MIN_STOPWORD_FRAC).
MAX_LINK_DENSITY = 0.30
MIN_BLOCK_WORDS = 10
MIN_STOPWORD_FRAC = 0.25

_STOPWORDS = LID_STOPWORDS["en"]


def _block_text(block: Column) -> Column:
    """Tag-stripped, whitespace-squeezed, trimmed block text."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(block, _TAG_RE, " "), _WS_RUN, " ")
    )


def _link_chars(block: Column) -> Column:
    return F.aggregate(
        F.regexp_extract_all(block, F.lit(_ANCHOR_RE), F.lit(1)),
        F.lit(0),
        lambda acc, x: acc + F.length(x),
    )


def extract_main_content(
    df: DataFrame, html_col: str = "html", out: str = "main_content"
) -> DataFrame:
    """Main-content extraction: ``out`` is the space-joined text of the
    kept blocks; ``n_blocks`` counts the non-empty text blocks the markup
    split produced and ``n_kept`` the survivors — the per-document
    boilerplate accounting a curation funnel reports.

    Evaluation shape (r13): higher-order-function lambdas are interpreted
    per element and share NO subexpressions, so the first cut — which
    filtered and re-transformed the RAW block array — re-ran the two
    ``_block_text`` regex passes ~5x per block (words, stopword filter,
    link-density denominator, the output transform, the nonempty count)
    and the word split 3x; block scoring measured ~2 ms/row on real-ish
    markup.  Each per-block quantity is now computed EXACTLY ONCE through
    a chain of struct-building transforms (text -> +words -> +counts) and
    the keep predicate / output / accounting all read the precomputed
    fields.  Same expressions in the same order per value, so the emitted
    strings and counts are bit-identical (the DuckDB twin is unchanged —
    the oracle compares values, not plans)."""
    blocks = F.split(F.col(html_col), BLOCK_SPLIT_RE)
    # stage 1: per block, the tag-stripped text (2 regex passes, ONCE) and
    # the anchor-length sum from the raw markup
    with_text = F.transform(
        blocks,
        lambda b: F.struct(
            _block_text(b).alias("t"), _link_chars(b).alias("lc")
        ),
    )
    # stage 2: per block, the word array (ONE split of the text)
    with_words = F.transform(
        with_text,
        lambda s: F.struct(
            s["t"].alias("t"),
            s["lc"].alias("lc"),
            F.filter(F.split(s["t"], " "), lambda w: w != F.lit("")).alias("ws"),
        ),
    )
    # stage 3: scalars only — word/stopword counts, dropping the word array
    stats = F.transform(
        with_words,
        lambda s: F.struct(
            s["t"].alias("t"),
            s["lc"].alias("lc"),
            F.size(s["ws"]).alias("nw"),
            F.size(
                F.filter(s["ws"], lambda w: w.isin(*_STOPWORDS))
            ).alias("ns"),
        ),
    )

    def keep(s: Column) -> Column:
        link_density = s["lc"].cast("double") / F.greatest(
            F.length(s["t"]), F.lit(1)
        ).cast("double")
        stop_frac = s["ns"].cast("double") / F.greatest(s["nw"], F.lit(1)).cast(
            "double"
        )
        return (
            (s["nw"] > 0)
            & (link_density <= F.lit(MAX_LINK_DENSITY))
            & (
                (s["nw"] >= F.lit(MIN_BLOCK_WORDS))
                | (stop_frac >= F.lit(MIN_STOPWORD_FRAC))
            )
        )

    kept = F.filter(stats, keep)
    nonempty = F.filter(stats, lambda s: s["t"] != F.lit(""))
    return (
        df.withColumn(
            out, F.array_join(F.transform(kept, lambda s: s["t"]), " ")
        )
        .withColumn("n_blocks", F.size(nonempty))
        .withColumn("n_kept", F.size(kept))
    )


# --- DuckDB SQL twins (same spec, same order of operations) ---------------


def _sql_block_text(b: str) -> str:
    # _WS_RUN rides into the SQL literal verbatim: DuckDB's standard
    # string literals pass backslashes through untouched, so RE2 sees the
    # same \t/\n/\x0b escapes Java does, and the Zs members are literal
    # codepoints both dialects match identically.
    return (
        "trim(regexp_replace(regexp_replace("
        + b
        + f", '<[^>]*>', ' ', 'g'), '{_WS_RUN}', ' ', 'g'))"
    )


def _sql_words(b: str) -> str:
    return (
        "list_filter(string_split(" + _sql_block_text(b) + ", ' '),"
        " w -> w <> '')"
    )


def _sql_link_chars(b: str) -> str:
    return (
        "coalesce(list_sum(list_transform(regexp_extract_all("
        + b
        + ", '<a[^>]*>([^<]*)</a>', 1), x -> length(x))), 0)"
    )


def _sql_keep(b: str) -> str:
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    words = _sql_words(b)
    return (
        f"(len({words}) > 0"
        f" AND CAST({_sql_link_chars(b)} AS DOUBLE)"
        f" / CAST(greatest(length({_sql_block_text(b)}), 1) AS DOUBLE)"
        f" <= {MAX_LINK_DENSITY}"
        f" AND (len({words}) >= {MIN_BLOCK_WORDS}"
        f" OR CAST(len(list_filter({words}, w -> w IN ({stop_list})))"
        f" AS DOUBLE) / CAST(greatest(len({words}), 1) AS DOUBLE)"
        f" >= {MIN_STOPWORD_FRAC}))"
    )


def sql_blocks(html_expr: str) -> str:
    return f"string_split_regex({html_expr}, '{BLOCK_SPLIT_RE}')"


def sql_main_content(html_expr: str) -> str:
    """DuckDB expression for :func:`extract_main_content`'s ``out``.
    DuckDB's array_to_string returns NULL for an all-boilerplate (empty)
    keep list where Spark's array_join returns '' — coalesce under a
    null-input guard keeps the twins byte-identical in both cases."""
    joined = (
        "array_to_string(list_transform(list_filter("
        + sql_blocks(html_expr)
        + ", b -> "
        + _sql_keep("b")
        + "), b -> "
        + _sql_block_text("b")
        + "), ' ')"
    )
    return (
        f"CASE WHEN {html_expr} IS NULL THEN NULL"
        f" ELSE coalesce({joined}, '') END"
    )


def sql_n_blocks(html_expr: str) -> str:
    return (
        "len(list_filter("
        + sql_blocks(html_expr)
        + ", b -> "
        + _sql_block_text("b")
        + " <> ''))"
    )


def sql_n_kept(html_expr: str) -> str:
    return (
        "len(list_filter("
        + sql_blocks(html_expr)
        + ", b -> "
        + _sql_keep("b")
        + "))"
    )


# --- Unicode sanitation ----------------------------------------------------

#: Mojibake tripwires: Latin-1 renderings of UTF-8 lead bytes (Ã, Â, â€¦
#: sequences).  Presence triggers the re-decode ATTEMPT; the attempt only
#: wins if the text round-trips losslessly, so clean text that legitimately
#: contains 'Ã' survives unchanged unless it IS a valid UTF-8 byte stream.
_MOJIBAKE_MARKERS = ("Ã", "Â", "â")

#: C0 controls minus \t\n\r, plus DEL and the C1 range (which survives the
#: mojibake pass only in genuinely binary-damaged text).
_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x80-\\x9f]"


def _fix_mojibake(s: str) -> str:
    if not any(m in s for m in _MOJIBAKE_MARKERS):
        return s
    try:
        repaired = s.encode("latin-1").decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return s
    return repaired


@F.pandas_udf(StringType())
def _repair_and_nfc(texts: pd.Series) -> pd.Series:
    return texts.map(
        lambda s: None
        if s is None
        else unicodedata.normalize("NFC", _fix_mojibake(s))
    )


def unicode_sanitize(
    df: DataFrame, text_col: str = "text", out: str = "sanitized"
) -> DataFrame:
    """Mojibake repair -> NFC -> control scrub, with change accounting.

    ``out`` is the sanitized text; ``n_controls_removed`` counts scrubbed
    control characters and ``repaired`` flags rows the mojibake/NFC pass
    changed — the two signals a curation run monitors for encoding-damage
    hot spots.  Repair+NFC is ONE Arrow-batched pandas UDF; everything
    else (scrub, counts, flags) is codegen'd expressions."""
    normalized = _repair_and_nfc(F.col(text_col))
    return (
        df.withColumn("__norm", normalized)
        .withColumn(out, F.regexp_replace(F.col("__norm"), _CONTROL_RE, ""))
        .withColumn(
            "n_controls_removed",
            (F.length("__norm") - F.length(out)).cast("int"),
        )
        .withColumn("repaired", F.col("__norm") != F.col(text_col))
        .drop("__norm")
    )
