"""Text-analysis queries over ``documents`` ([EXT] north star): token stats,
quality scoring, language ID, fingerprinting, term rollups — all
expression-only and DuckDB-oracled bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.text import (
    LID_STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_token_count,
)
from aws_etl_fiap_spark.queries.registry import query
from aws_etl_fiap_spark.sources.readers import load_table


@query(
    "text_stats",
    oracle="""
SELECT doc_id, lang, source, n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_filter(regexp_split_to_array(text, '[^a-z0-9A-Z]+'), x -> x <> '')) AS n_word_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish alnum-run) and char stats."""
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        token_count("text").alias("n_tokens"),
        word_token_count("text").alias("n_word_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(F.split(F.col("text"), " "))
        ).alias("avg_token_len"),
    )


@query(
    "text_fingerprint",
    oracle="""
WITH chars AS (
    SELECT doc_id,
           unnest(string_split(text, '')) AS c,
           generate_subscripts(string_split(text, ''), 1) AS i
    FROM documents
),
sums AS (
    SELECT doc_id, CAST(SUM(CAST(i AS BIGINT) * ascii(c)) AS BIGINT) AS s
    FROM chars GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            WHEN length(d.text) = 0 THEN 0
            ELSE s.s END AS fp
FROM documents d LEFT JOIN sums s USING (doc_id)
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling character fingerprint (exact integer
    arithmetic; order-sensitive, so reordered text changes the signature)."""
    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", fingerprint("text").alias("fp"))


_QUALITY_SQL = """
WITH t AS (
    SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        CAST(len(list_filter(string_split(text, ' '),
             x -> x IN ('the','of','and','to','in','is','that','for','with','on'))) AS DOUBLE) AS stop_hits,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_nonspace
    FROM documents
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tokens,
       n_nonspace / n_tok AS avg_token_len,
       stop_hits / n_tok AS stopword_ratio,
       least(n_tok / 100.0, 1.0) * 0.4
         + least(stop_hits / n_tok * 5.0, 1.0) * 0.4
         + CASE WHEN n_nonspace / n_tok >= 3.0 AND n_nonspace / n_tok <= 12.0
                THEN 0.2 ELSE 0.0 END AS quality
FROM t
"""


@query("text_quality", oracle=_QUALITY_SQL)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length saturation + stopword ratio + token
    length band) — the cheap pre-filter stage of a curation pipeline."""
    df = quality_score(load_table(spark, sf_dir, "documents"), "text")
    return df.select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "quality")


def _lid_oracle() -> str:
    hit_cols = ",\n        ".join(
        "len(list_filter(string_split(text, ' '), x -> x IN ({}))) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LID_STOPWORDS.items()
    )
    langs = list(LID_STOPWORDS)
    best = "greatest({})".format(", ".join(f"hits_{lang}" for lang in langs))
    # Zero hits in EVERY language is no evidence: predict NULL, mirroring
    # lang_id's best > 0 gate (the leading WHEN wins in both engines).
    case = (
        f"CASE WHEN {best} = 0 THEN NULL "
        + " ".join(f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs)
        + " END"
    )
    return f"""
WITH scored AS (
    SELECT doc_id, lang,
        {hit_cols}
    FROM documents
)
SELECT doc_id, lang, {case} AS lang_pred
FROM scored
"""


@query("text_lang_id", oracle=_lid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with deterministic tie-break (the synthetic
    word-soup text mostly votes 'en'; the point is the operator plumbing)."""
    df = lang_id(load_table(spark, sf_dir, "documents"), "text")
    return df.select("doc_id", "lang", "lang_pred")


@query(
    "text_top_terms_per_lang",
    oracle="""
WITH toks AS (
    SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
    SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY lang, token
)
SELECT lang, token, n, rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
    FROM counts
) WHERE rnk <= 5
""",
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize -> explode -> count -> top-5 terms per language (the
    vocabulary-profile rollup; exchange on (lang, token) then (lang))."""
    df = load_table(spark, sf_dir, "documents")
    counts = (
        df.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "token", "n", "rnk")
    )


@query(
    "text_source_rollup",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, source
""",
)
def text_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc/char/token totals — integer
    sums, exact on any engine."""
    df = load_table(spark, sf_dir, "documents")
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
        F.sum(token_count("text").cast("long")).alias("total_tokens"),
    )


@query(
    "text_ols_chars_per_token",
    oracle="""
WITH feats AS (
    SELECT lang, len(string_split(text, ' ')) AS x, n_chars AS y
    FROM documents
),
sums AS (
    SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM feats GROUP BY lang
)
SELECT lang, n,
       CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope,
       CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
            ELSE (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE)
       END AS intercept
FROM sums
""",
)
def text_ols_chars_per_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT §2.10] Per-language OLS fit n_chars ~ a + b*n_tokens through the
    grouped-map Arrow path (operators/grouped.ols_fit_per_group): the
    per-group-model-scoring pattern, still VALUE-verified — integer features
    keep the normal-equation sums exact, so the pandas-side fit matches the
    SQL oracle bit-for-bit."""
    from aws_etl_fiap_spark.operators.grouped import ols_fit_per_group

    df = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    return ols_fit_per_group(df, ["lang"], "n_tokens", "n_chars")


# The synthetic corpus carries no PII-shaped strings (verified: zero '@',
# zero digits at every SF), so a redaction gate over the raw text would be
# vacuously green.  Instead both sides append the SAME deterministic
# doc_id-derived email / URL / phone suffix and redact THAT — every row
# exercises all three rules, so the gate verifies the pattern semantics and
# the sequential count-then-replace pipeline for real.
_PII_SUFFIX_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or https://docs.example.com/d/'"
    " || CAST(doc_id AS VARCHAR) || '?ref=x call +1 (555) 010-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'"
)


@query(
    "text_redact_pii",
    oracle=f"""
WITH aug AS (
    SELECT doc_id, {_PII_SUFFIX_SQL} AS t FROM documents
),
s_url AS (
    SELECT doc_id,
           len(regexp_extract_all(t, 'https?://[^ ]+')) AS n_url,
           regexp_replace(t, 'https?://[^ ]+', '<URL>', 'g') AS t
    FROM aug
),
s_email AS (
    SELECT doc_id, n_url,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t
    FROM s_url
),
s_phone AS (
    SELECT doc_id, n_url, n_email,
           len(regexp_extract_all(t, '\\+?[0-9][0-9()-]{{6,}}[0-9]')) AS n_phone,
           regexp_replace(t, '\\+?[0-9][0-9()-]{{6,}}[0-9]', '<PHONE>', 'g') AS t
    FROM s_email
)
SELECT doc_id, n_url, n_email, n_phone, t AS redacted FROM s_phone
""",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT §2.10 north star] PII scrubbing (operators/text.redact_pii):
    URL -> email -> phone redaction with per-class counts, value-verified
    against an RE2 oracle running the identical patterns — the regexes stay
    in the Java-regex/RE2 common subset, so both engines produce the same
    matches.  PII is synthesized deterministically from doc_id (see
    _PII_SUFFIX_SQL) because the corpus itself is PII-free."""
    from aws_etl_fiap_spark.operators.text import redact_pii

    df = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or https://docs.example.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=x call +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ).alias("text"),
    )
    out = redact_pii(df, "text")
    return out.select("doc_id", "n_url", "n_email", "n_phone", "redacted")


@query(
    "text_repetition_stats",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
b AS (
    SELECT doc_id, t, len(t) AS n,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
    FROM tok
)
SELECT doc_id,
       n AS n_tokens,
       CAST(len(list_distinct(t)) AS DOUBLE) / n AS distinct_ratio,
       CAST(list_max(list_transform(list_distinct(t),
                x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / n AS top_token_frac,
       CASE WHEN n >= 2 THEN
           CAST(list_max(list_transform(list_distinct(bg),
                x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / (n - 1)
       END AS top_bigram_frac
FROM b
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT §2.10 north star] Gopher-style repetition/boilerplate signals
    (operators/text.repetition_stats): distinct-token ratio + top token /
    top bigram mass fractions, expression-only (no shuffle, no Python) —
    exact integer counts divided in IEEE double, bit-identical to the list
    oracle."""
    from aws_etl_fiap_spark.operators.text import repetition_stats

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = repetition_stats(df, "text")
    return out.select(
        "doc_id", "n_tokens", "distinct_ratio", "top_token_frac", "top_bigram_frac"
    )


#: Fixed bag-of-terms query for the BM25 gate — common corpus vocabulary so
#: every term has a non-trivial document frequency.
BM25_TERMS: tuple[str, ...] = ("spark", "join", "vector")


def _bm25_oracle() -> str:
    from aws_etl_fiap_spark.operators.text import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    # repr() the Python-folded constants so DuckDB parses the EXACT doubles
    # Spark's literals fold to (shortest round-trip repr on both sides).
    k1, k1p1, b, one_minus_b = repr(BM25_K1), repr(BM25_K1 + 1.0), repr(BM25_B), repr(1.0 - BM25_B)
    return f"""
WITH base AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base),
tf AS (
    SELECT doc_id, tok AS term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) u
    WHERE tok IN ({terms})
    GROUP BY doc_id, tok
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * {k1p1})
             / (tf.tf + {k1} * ({one_minus_b} + {b} * (b.dl / s.avgdl))) AS contrib
    FROM tf
    JOIN dfreq d USING (term)
    JOIN base b USING (doc_id)
    CROSS JOIN stats s
)
SELECT doc_id, FLOOR(SUM(contrib) * 10000.0 + 0.5) / 10000.0 AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Okapi BM25 keyword retrieval (operators/text.bm25_scores):
    top-20 documents for a fixed bag-of-terms query, scored with the
    Lucene-default k1/b and ln(1 + (N-df+.5)/(df+.5)) idf.  Score rounded
    half-up to 4 dp on both engines BEFORE the top-k sort, and the sort
    carries doc_id as the unique tiebreaker, so the LIMIT is a total
    order."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, BM25_TERMS, "doc_id", "text")
    return (
        scored.select("doc_id", round_half_up("bm25", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "text_char_entropy",
    oracle="""
WITH chars AS (
    SELECT doc_id, length(text) AS n, unnest(string_split(text,'')) AS c
    FROM documents WHERE length(text) > 0
),
counts AS (SELECT doc_id, n, c, COUNT(*) AS cnt FROM chars GROUP BY doc_id, n, c)
SELECT doc_id, COUNT(*) AS n_unique_chars,
       FLOOR((-SUM((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                    * log2(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))) * 1000000.0 + 0.5)
           / 1000000.0 AS entropy
FROM counts GROUP BY doc_id
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-document character-distribution Shannon entropy
    (operators/text.char_entropy) + distinct-character count — the
    degenerate-text detector in the quality-signal family.  Entropy rounded
    half-up to 6 dp on both engines (sum order differs; the round kills the
    last-ulp drift)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    ent = char_entropy(docs, "doc_id", "text")
    return ent.select("doc_id", "n_unique_chars", round_half_up("entropy", 6).alias("entropy"))


@query(
    "text_unigram_surprisal",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS n_total FROM toks),
scored AS (
    SELECT t.doc_id,
           -ln(CAST(v.cnt AS DOUBLE) / CAST(s.n_total AS DOUBLE)) AS surprisal
    FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN total s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       FLOOR((SUM(surprisal) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0
           AS avg_surprisal
FROM scored GROUP BY doc_id
""",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Corpus-unigram-LM surprisal per document: average
    -ln p(token) under the corpus's own unigram distribution — the
    model-based-flavored quality signal (high = rare-token soup, low =
    boilerplate) that sits between the cheap ratio filters and a real LM
    pass.  The vocabulary (distinct tokens + counts) broadcasts back onto
    the exploded corpus, so the only full-width shuffles are the two
    map-side-combined aggregates; rounded half-up to 6 dp on both engines
    (sum order + libm ln last-ulp)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).localCheckpoint(eager=False)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    surprisal = -F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double"))
    scored = toks.join(F.broadcast(vocab), "tok").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            round_half_up(F.sum(surprisal) / F.count(F.lit(1)), 6).alias("avg_surprisal"),
        )
    )


@query(
    "text_bigram_pmi",
    oracle="""
WITH t AS (
    SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
),
pos AS (
    SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
),
uc AS (SELECT tok AS w, COUNT(*) AS c FROM pos GROUP BY tok),
nt AS (SELECT COUNT(*) AS n_tok FROM pos),
nb AS (SELECT SUM(greatest(len(toks) - 1, 0)) AS n_bi FROM t),
bc AS (
    SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c_ab
    FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    GROUP BY 1, 2
    HAVING COUNT(*) >= 25
)
SELECT bc.w1, bc.w2, bc.c_ab,
       FLOOR(ln((CAST(bc.c_ab AS DOUBLE) / CAST(nb.n_bi AS DOUBLE))
                / ((CAST(a.c AS DOUBLE) / CAST(nt.n_tok AS DOUBLE))
                   * (CAST(b.c AS DOUBLE) / CAST(nt.n_tok AS DOUBLE))))
             * 1000000.0 + 0.5) / 1000000.0 AS pmi
FROM bc
JOIN uc a ON a.w = bc.w1
JOIN uc b ON b.w = bc.w2
CROSS JOIN nt CROSS JOIN nb
""",
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Adjacent-bigram PMI collocation mining (operators/text.
    bigram_pmi): the phrase-detection pass before tokenizer/vocab training
    — two map-side-combined count aggregates, unigram vocabulary and
    scalar totals broadcast back.  Count floor 25; pmi rounded half-up to
    6 dp (single ln per row — only libm last-ulp to kill)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.text import bigram_pmi

    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_pmi(docs, "text", min_count=25)
    return scored.select("w1", "w2", "c_ab", round_half_up("pmi", 6).alias("pmi"))


def _lid_confusion_oracle() -> str:
    base = _lid_oracle().strip()
    return f"""
WITH pred AS ({base})
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred
"""


@query("text_lid_confusion_matrix", oracle=_lid_confusion_oracle())
def text_lid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Classifier-eval confusion matrix: gold ``lang`` label vs the
    stopword-vote ``lang_pred``, counted per cell — the accuracy/drift
    monitor every model-based pipeline stage reports.  One aggregate over
    the LID projection; the oracle composes the exact LID SQL inside a
    GROUP BY, so prediction and evaluation are verified together."""
    from aws_etl_fiap_spark.operators.text import lang_id

    df = lang_id(load_table(spark, sf_dir, "documents"), "text")
    return df.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           FLOOR(tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, tfidf, rnk FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) AS rnk
    FROM scored
) WHERE rnk <= 3
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-document keyword extraction: top-3 terms by smoothed
    TF-IDF (operators/text.tfidf_top_terms) — the transpose of BM25's
    query->docs scoring.  Scores rounded half-up to 6 dp BEFORE the rank
    (term tiebreak) so a last-ulp ln divergence cannot flip the order."""
    from aws_etl_fiap_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


@query(
    "text_index_search",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE list_contains(list_filter(string_split_regex(lower(text),
          '[^a-z0-9]+'), x -> x <> ''), 'customer')
  AND list_contains(list_filter(string_split_regex(lower(text),
          '[^a-z0-9]+'), x -> x <> ''), 'spark')
  AND list_contains(list_filter(string_split_regex(lower(text),
          '[^a-z0-9]+'), x -> x <> ''), 'vector')
""",
)
def text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Conjunctive keyword search THROUGH an inverted index
    (operators/textindex.py): build the (term, doc_id) postings table,
    materialize it partitioned by term-hash bucket, answer
    'spark AND vector AND customer' from the pruned postings scan, and
    fetch the matching documents by id — the raw text column is never
    scanned at query time.

    The oracle is the direct predicate on the raw text (same tokenizer,
    DuckDB string_split_regex twin), so a posting lost in the build, a
    bucket mispruned on read, or an intersection miscount hash-fails.
    The query RAISES if the postings scan read any bucket directory
    outside the query terms' buckets — the file-skipping claim is inside
    the verified loop.  At 100 TB: postings read ~ the three terms'
    document frequencies; one doc_id-keyed shuffle; the documents table
    is touched only by the final id-join on the hit list."""
    import os

    from aws_etl_fiap_spark.operators.textindex import (
        conjunctive_search,
        read_postings_for,
        write_inverted_index,
    )
    from aws_etl_fiap_spark.sources.writers import scratch_sink

    terms = ["spark", "vector", "customer"]
    n_buckets = 16
    with scratch_sink("textidx_") as tmp:
        path = os.path.join(tmp, "postings")
        docs = load_table(spark, sf_dir, "documents")
        write_inverted_index(
            docs, path, layout="bucket", n_buckets=n_buckets
        )
        postings = read_postings_for(
            spark, path, terms, layout="bucket", n_buckets=n_buckets
        )
        # File-skipping proof, in the verified loop: the postings scan must
        # carry a folded partition filter on bucket (inputFiles() reflects
        # the pre-pruning analyzed plan, so the executed plan is the only
        # honest witness).
        import re as _re

        plan = postings._jdf.queryExecution().executedPlan().toString()
        pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        if not pf or not _re.search(r"bucket#\d+[^\[\]]* IN \(", pf.group(1)):
            raise RuntimeError(
                f"postings scan is not bucket-pruned: {pf and pf.group(0)}"
            )
        hits = conjunctive_search(postings, terms)
        out = hits.join(docs, "doc_id").select(
            "doc_id", "lang", "source", "n_chars"
        )
        return out.localCheckpoint(eager=True)


@query(
    "text_gopher_rules",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS l, text FROM documents
),
m AS (
    SELECT doc_id,
           len(l) AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l)
               AS mean_word_len,
           len(list_filter(list_distinct(l),
               x -> x IN ('the','of','and','to','in','is','that','for',
                          'with','on'))) AS stop_distinct,
           CAST(list_max(list_transform(list_distinct(l),
               x -> len(list_filter(l, y -> y = x)))) AS DOUBLE) / len(l)
               AS top_word_ratio
    FROM t
),
r AS (
    SELECT *,
        concat_ws(',',
            CASE WHEN stop_distinct < 1 THEN 'few_stop' END,
            CASE WHEN top_word_ratio > 0.12 THEN 'repetitive' END,
            CASE WHEN n_words < 25 THEN 'short' END,
            CASE WHEN mean_word_len < 3.9 OR mean_word_len > 4.6
                 THEN 'word_len' END
        ) AS failed
    FROM m
)
SELECT doc_id, n_words, mean_word_len, top_word_ratio, failed,
       failed = '' AS keep
FROM r
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gopher-style composite quality gate with per-rule provenance
    (operators/text.gopher_quality_rules): four heuristics — length, mean
    word length band, stopword presence, repetition — evaluated in one
    codegen'd projection, emitting the failure signature per document so
    curation losses are auditable by reason.  Zero shuffle; the oracle
    recomputes every rule and the joined signature in DuckDB."""
    from aws_etl_fiap_spark.operators.text import gopher_quality_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_rules(docs, "text").select(
        "doc_id", "n_words", "mean_word_len", "top_word_ratio", "failed",
        "keep",
    )


def _bpe_oracle(n_merges: int = 3, top_after: int = 3) -> str:
    """Unrolled DuckDB twin of operators/bpe.bpe_train_merges: each merge
    round is a pair-count CTE, a 1-row argmax CTE, and a replace() CTE —
    the same single-pass leftmost-non-overlapping merge semantics both
    engines share (see operators/bpe.py module docstring)."""
    parts = [
        """WITH words AS (
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS w FROM documents)
    GROUP BY w
),
s0 AS (
    SELECT word, freq,
           ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS seq
    FROM words
)"""
    ]
    for k in range(n_merges + 1):
        parts.append(f""",
p{k} AS (
    SELECT a AS left_sym, b AS right_sym, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (
        SELECT word, freq, tok AS a,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM (
            SELECT word, freq, generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok
            FROM (SELECT word, freq,
                         list_filter(string_split(seq, ' '), x -> x <> '') AS toks
                  FROM s{k})
        )
    ) WHERE b IS NOT NULL
    GROUP BY a, b
)""")
        if k == n_merges:
            break
        parts.append(f""",
b{k} AS (
    SELECT left_sym, right_sym, cnt FROM p{k}
    ORDER BY cnt DESC, left_sym, right_sym LIMIT 1
),
s{k + 1} AS (
    SELECT word, freq,
           replace(seq,
               ' ' || (SELECT left_sym FROM b{k}) || ' '
                   || (SELECT right_sym FROM b{k}) || ' ',
               ' ' || (SELECT left_sym FROM b{k})
                   || (SELECT right_sym FROM b{k}) || ' ') AS seq
    FROM s{k}
)""")
    selects = [
        f"SELECT CAST({k + 1} AS INTEGER) AS stage, left_sym, right_sym, cnt,"
        f" CAST(1 AS INTEGER) AS selected FROM b{k}"
        for k in range(n_merges)
    ]
    selects.append(f"""SELECT CAST({n_merges} + rn AS INTEGER), left_sym, right_sym, cnt,
       CAST(0 AS INTEGER)
FROM (SELECT left_sym, right_sym, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, left_sym, right_sym) AS rn
      FROM p{n_merges})
WHERE rn <= {top_after}""")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of operators/bpe.bpe_encode: the same
    words/s0/p{k}/b{k}/s{k+1} merge-chain prefix as :func:`_bpe_oracle`,
    then the per-word post-merge symbol count joins back onto per-doc word
    occurrence counts."""
    # Reuse the trainer oracle's prefix up to s{n_merges}: take everything
    # before the final pair-count CTE p{n_merges} (encode never needs it).
    full = _bpe_oracle(n_merges=n_merges)
    prefix = full.split(f",\np{n_merges} AS (")[0]
    return (
        prefix
        + f""",
vocab AS (
    SELECT word,
           CAST(len(list_filter(string_split(seq, ' '), x -> x <> ''))
                AS BIGINT) AS n_sym,
           CAST(length(word) AS BIGINT) AS n_char
    FROM s{n_merges}
),
occ AS (
    SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(text),
                        '[^a-z0-9]+'), x -> x <> '')) AS w
          FROM documents)
    GROUP BY doc_id, w
)
SELECT occ.doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * n_char) AS BIGINT) AS n_chars,
       CAST(SUM(cnt * n_sym) AS BIGINT) AS n_bpe_tokens
FROM occ JOIN vocab USING (word)
GROUP BY occ.doc_id
"""
    )


@query("text_bpe_train_merges", oracle=_bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed BPE tokenizer training (operators/bpe.py): learn 3
    byte-pair merges from corpus word frequencies, then pin the 3 best
    REMAINING pairs after applying them — so the gate verifies selection
    AND application.  Word counting, pair counting (posexplode + LEAD),
    and merge application (codegen replace) are all distributed; only the
    1-row argmax per round hits the driver (same bounded-collect rule as
    kmeans_lloyd).  The DuckDB oracle unrolls the 3 rounds as CTE stages
    with scalar-subquery argmaxes — both engines share the single-pass
    leftmost-non-overlapping replace scan, making the whole trainer
    exactly value-gated."""
    from aws_etl_fiap_spark.operators.bpe import bpe_train_merges

    return bpe_train_merges(load_table(spark, sf_dir, "documents"))


@query(
    "text_bigram_lm_nll",
    oracle="""
WITH pos AS (
    SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
),
uc AS (SELECT tok AS w, COUNT(*) AS c FROM pos GROUP BY tok),
nt AS (SELECT COUNT(*) AS n_tok FROM pos),
db AS (
    SELECT a.doc_id, a.tok AS w1, b.tok AS w2
    FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
bc AS (
    SELECT w1, w2, COUNT(*) AS c_ab FROM db GROUP BY 1, 2
    HAVING COUNT(*) >= 2
),
scored AS (
    SELECT db.doc_id,
           CASE WHEN bc.c_ab IS NOT NULL
                THEN -ln(CAST(bc.c_ab AS DOUBLE) / CAST(u1.c AS DOUBLE))
                ELSE -ln(0.4 * CAST(u2.c AS DOUBLE) / CAST(nt.n_tok AS DOUBLE))
           END AS nll
    FROM db
    LEFT JOIN bc ON bc.w1 = db.w1 AND bc.w2 = db.w2
    JOIN uc u1 ON u1.w = db.w1
    JOIN uc u2 ON u2.w = db.w2
    CROSS JOIN nt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       FLOOR((SUM(nll) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def text_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Bigram-LM fluency score (operators/text.bigram_lm_nll): the
    CCNet/KenLM-style per-document average NLL under the corpus's own
    bigram model with stupid backoff (alpha = 0.4) and KenLM-style
    singleton pruning (floor 2 — pruned pairs take the backoff path, which
    is also what keeps the bigram count table broadcast-small at scale).
    Doc bigrams are expression-only (zip_with, no positional self-join);
    rounded half-up to 6 dp on both engines (sum order + libm ln ulps)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.text import bigram_lm_nll

    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_lm_nll(docs, min_bigram_count=2, backoff=0.4)
    return scored.select(
        "doc_id", "n_bigrams", round_half_up("avg_nll", 6).alias("avg_nll")
    )


@query(
    "text_kn_bigram_nll",
    oracle="""
WITH pos AS (
    SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
),
db AS (
    SELECT a.doc_id, a.tok AS w1, b.tok AS w2
    FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
types AS (SELECT w1, w2, COUNT(*) AS c_ab FROM db GROUP BY 1, 2),
kept AS (SELECT * FROM types WHERE c_ab >= 2),
ctx AS (SELECT w1, SUM(c_ab) AS c_ctx FROM types GROUP BY w1),
n1f AS (SELECT w1, COUNT(*) AS n_follow FROM types GROUP BY w1),
n1b AS (SELECT w2, COUNT(*) AS n_precede FROM types GROUP BY w2),
bt AS (SELECT COUNT(*) AS n_types FROM types),
scored AS (
    SELECT db.doc_id,
           -ln(
             CASE WHEN kept.c_ab IS NOT NULL
                  THEN (CAST(kept.c_ab AS DOUBLE) - 0.75)
                       / CAST(ctx.c_ctx AS DOUBLE)
                  ELSE 0.0 END
             + (0.75 * CAST(n1f.n_follow AS DOUBLE)
                     / CAST(ctx.c_ctx AS DOUBLE))
               * CAST(n1b.n_precede AS DOUBLE)
               / CAST(bt.n_types AS DOUBLE)
           ) AS nll
    FROM db
    LEFT JOIN kept ON kept.w1 = db.w1 AND kept.w2 = db.w2
    JOIN ctx ON ctx.w1 = db.w1
    JOIN n1f ON n1f.w1 = db.w1
    JOIN n1b ON n1b.w2 = db.w2
    CROSS JOIN bt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       FLOOR((SUM(nll) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll_kn
FROM scored GROUP BY doc_id
""",
)
def text_kn_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] Interpolated Kneser-Ney bigram fluency score
    (operators/text.kn_bigram_nll) — the smoothing the CCNet/KenLM
    quality-filter LMs actually ship, one rigor tier above
    text_bigram_lm_nll's stupid backoff: discounted seen-bigram mass plus
    the continuation distribution N1+(.,w2)/B, with KenLM-style pruning
    (floor 2) keeping the broadcast probability table
    frequent-vocabulary-sized.  The full bigram TYPE table reduces to
    three vocab-sized count tables + one scalar before anything
    broadcasts; the corpus shuffles exactly once (final per-doc
    aggregate).  Rounded half-up to 6 dp on both engines (sum order +
    libm ln ulps)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.text import kn_bigram_nll

    docs = load_table(spark, sf_dir, "documents")
    scored = kn_bigram_nll(docs, min_bigram_count=2, discount=0.75)
    return scored.select(
        "doc_id",
        "n_bigrams",
        round_half_up("avg_nll", 6).alias("avg_nll_kn"),
    )


@query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] Tokenizer APPLICATION (operators/bpe.bpe_encode):
    apply the 3 learned BPE merges back to every document and return exact
    per-doc token accounting — whitespace words, pre-merge symbols
    (n_chars), and post-merge BPE tokens.  The merge chain runs over the
    distinct-word vocabulary (codegen'd replace cascade, never per token
    instance); docs reduce to (doc, word, cnt) and one word-keyed join
    brings the symbol counts back — at 100 TB the corpus is scanned twice
    (vocab build + occurrence count) and everything else is
    vocabulary-sized."""
    from aws_etl_fiap_spark.operators.bpe import bpe_encode

    return bpe_encode(load_table(spark, sf_dir, "documents"))


def _unigram_oracle(
    max_piece_len: int = 6, min_count: int = 2, max_word_len: int = 12
) -> str:
    """Unrolled Viterbi re-derivation of the unigram-LM segmentation
    (operators/unigram.py): vocab-sized substring counting, 9dp-quantized
    piece costs, and one min-STRUCT DP CTE per word position — identical
    doubles added in identical order, ties to the fewest pieces."""
    from aws_etl_fiap_spark.functions.parity import (
        sql_dec_sum,
        sql_round_half_up,
    )

    cost9 = sql_round_half_up(
        "-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))", 9
    )
    parts = [
        f"""WITH words AS (
    -- non-empty tokens only: the Spark twin filters w <> '' because
    -- F.sequence auto-descends on the empty token (range() never does)
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wcnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> '' GROUP BY w
),
st AS (SELECT w, wcnt, unnest(range(0, length(w))) AS j FROM words),
subs AS (
    SELECT w, wcnt, j,
           unnest(range(1, least({max_piece_len}, length(w) - j) + 1)) AS L
    FROM st
),
counts AS (
    SELECT substr(w, j + 1, L) AS piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
    FROM subs GROUP BY piece
),
kept AS (
    SELECT piece, cnt FROM counts
    WHERE cnt >= {min_count} OR length(piece) = 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM kept),
costs AS (SELECT piece, {cost9} AS cost FROM kept CROSS JOIN tot),
wedges AS MATERIALIZED (
    SELECT s.w, s.j, s.j + s.L AS i, c.cost
    FROM subs s JOIN costs c ON substr(s.w, s.j + 1, s.L) = c.piece
),
ball0 AS MATERIALIZED (
    SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0.0 AS DOUBLE) AS cost,
           0 AS n
    FROM words
)"""
    ]
    for i in range(1, max_word_len + 1):
        parts.append(
            f""",
b{i} AS (
    SELECT w, CAST({i} AS BIGINT) AS pos,
           struct_extract(m, 'c') AS cost, struct_extract(m, 'n') AS n
    FROM (
        SELECT e.w, MIN({{'c': b.cost + e.cost, 'n': b.n + 1}}) AS m
        FROM wedges e JOIN ball{i - 1} b ON b.w = e.w AND b.pos = e.j
        WHERE e.i = {i} GROUP BY e.w
    )
),
ball{i} AS MATERIALIZED (SELECT * FROM ball{i - 1} UNION ALL SELECT * FROM b{i})"""
        )
    parts.append(
        f""",
best AS (
    SELECT b.w, b.n,
           {sql_round_half_up('b.cost', 6)} AS wnll
    FROM ball{max_word_len} b JOIN words wd
      ON wd.w = b.w AND b.pos = length(wd.w)
),
docw AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(b.n) AS BIGINT) AS n_pieces,
       {sql_dec_sum('b.wnll', 6)} AS nll
FROM docw JOIN best b USING (w)
GROUP BY doc_id"""
    )
    return "".join(parts)


@query("text_unigram_lm_segment", oracle=_unigram_oracle())
def text_unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] Unigram-LM (SentencePiece-style) subword
    segmentation (operators/unigram.py) — the THIRD tokenizer family next
    to the BPE pair (train + encode): per document, the piece count and
    negative log-likelihood of the Viterbi-optimal segmentation of every
    word under the frequency-seeded unigram piece model (Kudo 2018's
    initialization estimate).  The corpus collapses to its word
    vocabulary once; substring counting, the 9dp-quantized cost table,
    and all 12 unrolled DP rounds run on vocab-sized frames (min-STRUCT
    argmin, ties to fewest pieces); the only corpus-sized passes are the
    vocabulary aggregate and the final stats join against the broadcast
    best-segmentation table.  DuckDB re-derives the ENTIRE trajectory —
    counts, costs, DP, doc rollup — and the driver hash-verifies it."""
    from aws_etl_fiap_spark.operators.unigram import unigram_segment_stats

    docs = load_table(spark, sf_dir, "documents")
    return unigram_segment_stats(docs, "doc_id", "text")


def _wordpiece_oracle(
    max_piece_len: int = 6, min_count: int = 2, max_word_len: int = 12
) -> str:
    """Unrolled greedy longest-match re-derivation of the WordPiece
    segmentation (operators/unigram.wordpiece_segment_stats): positional
    vocabularies (initial vs continuation pieces), one MAX-length step CTE
    per cursor round — pure integers end to end."""
    parts = [
        f"""WITH words AS (
    -- non-empty tokens only: the Spark twin filters w <> '' because
    -- F.sequence auto-descends on the empty token (range() never does)
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wcnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> '' GROUP BY w
),
st AS (SELECT w, wcnt, unnest(range(0, length(w))) AS j FROM words),
subs AS (
    SELECT w, wcnt, j,
           unnest(range(1, least({max_piece_len}, length(w) - j) + 1)) AS L
    FROM st
),
subp AS (SELECT w, wcnt, j, L, substr(w, j + 1, L) AS piece FROM subs),
kp AS (
    SELECT piece FROM (
        SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
        FROM subp WHERE j = 0 GROUP BY piece
    ) WHERE cnt >= {min_count} OR length(piece) = 1
),
kc AS (
    SELECT piece FROM (
        SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
        FROM subp WHERE j > 0 GROUP BY piece
    ) WHERE cnt >= {min_count} OR length(piece) = 1
),
edges AS MATERIALIZED (
    SELECT w, j, L FROM subp JOIN kp USING (piece) WHERE j = 0
    UNION ALL
    SELECT w, j, L FROM subp JOIN kc USING (piece) WHERE j > 0
),
s0 AS MATERIALIZED (
    SELECT w, CAST(length(w) AS BIGINT) AS len, CAST(0 AS BIGINT) AS pos,
           0 AS n
    FROM words
),
fin0 AS (SELECT * FROM s0 WHERE pos = len)"""
    ]
    for t in range(1, max_word_len + 1):
        parts.append(
            f""",
s{t} AS MATERIALIZED (
    SELECT s.w, s.len, s.pos + MAX(e.L) AS pos, s.n + 1 AS n
    FROM s{t - 1} s JOIN edges e ON e.w = s.w AND e.j = s.pos
    WHERE s.pos < s.len GROUP BY s.w, s.len, s.pos, s.n
),
fin{t} AS (
    SELECT * FROM fin{t - 1}
    UNION ALL SELECT * FROM s{t} WHERE pos = len
)"""
        )
    parts.append(
        f""",
docw AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(b.n) AS BIGINT) AS n_pieces
FROM docw JOIN fin{max_word_len} b USING (w)
GROUP BY doc_id"""
    )
    return "".join(parts)


@query("text_wordpiece_segment", oracle=_wordpiece_oracle())
def text_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] WORDPIECE (BERT-style) greedy longest-match-first
    segmentation (operators/unigram.wordpiece_segment_stats) — the FOURTH
    tokenizer family (whitespace/regex, BPE, unigram-LM, WordPiece):
    position-aware vocabularies (word-initial vs continuation pieces),
    greedy longest match per cursor, per-doc word and piece accounting.
    Pure integers end to end — no float enters the pipeline — with every
    greedy round a vocab-sized MAX aggregate; the DuckDB twin unrolls the
    same rounds through MATERIALIZED CTEs."""
    from aws_etl_fiap_spark.operators.unigram import wordpiece_segment_stats

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_segment_stats(docs, "doc_id", "text")


# --- r13 web-text hygiene gates (r12 verdict tasks 5-6) --------------------

# Markup synthesized deterministically from (doc_id, text) — the corpus is
# clean text, exactly like text_redact_pii synthesizes its PII.  Four
# boilerplate blocks frame two content blocks:
#   nav (3 words, link-saturated)            -> dropped (words AND links)
#   <p>text</p> (>=10 words, no links)       -> kept
#   li teaser (13 words, stopword-rich, but
#      anchor text dominates its characters) -> dropped by LINK DENSITY alone
#   summary <p> (>=10 words, stopwords)      -> kept (joins after text)
#   footer (9 words, linkful)                -> dropped
_NAV = (
    '<div class=nav><a href="/">Home</a> <a href="/about">About</a>'
    ' <a href="/contact">Contact</a></div>'
)
_TEASER = (
    '<li><a href="/more">read the full article on the data table of the'
    " site</a> see</li>"
)
_FOOTER = (
    '<div class=footer><a href="/privacy">Privacy</a>'
    ' <a href="/terms">Terms</a> copyright 2024 example corp</div>'
)
_SUMMARY_PRE = "<p>in summary the document "
_SUMMARY_POST = (
    " covers the topic of data processing and the results are shown in"
    " the table</p>"
)


def _extract_oracle() -> str:
    from aws_etl_fiap_spark.operators.webtext import (
        sql_main_content,
        sql_n_blocks,
        sql_n_kept,
    )

    html = (
        f"'{_NAV}<p>' || text || '</p>{_TEASER}{_SUMMARY_PRE}'"
        f" || CAST(doc_id AS VARCHAR) || '{_SUMMARY_POST}{_FOOTER}'"
    )
    return f"""
WITH aug AS (SELECT doc_id, {html} AS html FROM documents)
SELECT doc_id,
       CAST({sql_n_blocks('html')} AS INT) AS n_blocks,
       CAST({sql_n_kept('html')} AS INT) AS n_kept,
       {sql_main_content('html')} AS main_content
FROM aug
"""


@query("text_extract_main_content", oracle=_extract_oracle())
def text_extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] jusText/trafilatura-class boilerplate removal
    (operators/webtext.extract_main_content): block split at closing
    block tags, per-block link-density / word-count / stopword-density
    scoring, content-only rejoin — expression-only (higher-order array
    functions inside the scan stage, zero shuffle, zero Python).  The
    oracle runs the identical spec through DuckDB's list lambdas on the
    same synthesized markup, so tag-stripping, block classification, and
    join order are all value-verified."""
    from aws_etl_fiap_spark.operators.webtext import extract_main_content

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_NAV + "<p>"),
            F.col("text"),
            F.lit("</p>" + _TEASER + _SUMMARY_PRE),
            F.col("doc_id").cast("string"),
            F.lit(_SUMMARY_POST + _FOOTER),
        ).alias("html"),
    )
    out = extract_main_content(docs, "html")
    return out.select("doc_id", "n_blocks", "n_kept", "main_content")


# Planted Unicode damage, deterministic by doc_id (the corpus is clean
# ASCII — verified: zero non-ASCII rows at every sf):
#   %3==0 -> latin-1 mojibake of ' café menu décor' (repairs + composes)
#   %3==1 -> NFC-DECOMPOSED ' café resumé' (e + U+0301; NFC composes)
#   %3==2 -> C0 controls \x01 and \x07 (scrubbed, counted)
_MOJIBAKE_SUFFIX = " caf\u00c3\u00a9 menu d\u00c3\u00a9cor"
_DECOMPOSED_SUFFIX = " cafe\u0301 resume\u0301"
_CONTROL_SUFFIX = " x\x01y\x07 end"


@query(
    "text_unicode_sanitize",
    oracle="""
SELECT doc_id,
       text || CASE
           WHEN doc_id % 3 = 0
               THEN ' caf' || chr(233) || ' menu d' || chr(233) || 'cor'
           WHEN doc_id % 3 = 1
               THEN ' caf' || chr(233) || ' resum' || chr(233)
           ELSE ' xy end'
       END AS sanitized,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 0 END AS INT)
           AS n_controls_removed,
       doc_id % 3 IN (0, 1) AS repaired
FROM documents
""",
)
def text_unicode_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] ftfy-class Unicode hygiene
    (operators/webtext.unicode_sanitize): mojibake repair (UTF-8 bytes
    mis-decoded as Latin-1), NFC normalization, control-char scrub, with
    change accounting.  The oracle hand-writes the EXPECTED repaired
    strings (composed chr(233) literals) — a true independent check of
    the repair, not a twin of it."""
    from aws_etl_fiap_spark.operators.webtext import unicode_sanitize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_MOJIBAKE_SUFFIX))
            .when(F.col("doc_id") % 3 == 1, F.lit(_DECOMPOSED_SUFFIX))
            .otherwise(F.lit(_CONTROL_SUFFIX)),
        ).alias("text"),
    )
    out = unicode_sanitize(docs, "text")
    return out.select("doc_id", "sanitized", "n_controls_removed", "repaired")
