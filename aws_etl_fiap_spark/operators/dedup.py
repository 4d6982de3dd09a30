"""Deduplication operators for LLM-training-data pipelines ([EXT] north star):
exact, hash-keyed, n-gram Jaccard, MinHash-LSH, SimHash.

All signatures are computed with deterministic built-in expressions
(xxhash64-seeded), so results are reproducible across runs, partitionings and
cluster sizes — a hard requirement when a dedup decision at 100 TB must be
re-derivable.

Scale ladder (cheapest first):
1. exact_dedup            — one hash aggregate on the key. Use first, always.
2. ngram_jaccard_pairs    — inverted-index join on shingles; exact Jaccard,
                            cost ~ sum over shingles of (docs-per-shingle)^2.
3. minhash_lsh_pairs      — constant-size signature per doc, band-bucket
                            join; only candidates sharing a band collide.
                            This is the 100 TB fuzzy-dedup path.
4. simhash_signatures     — 32-bit SRP over token hashes; hamming-adjacent
                            buckets for near-dup blocking.

One owner per pair-generation step, so a filter added there reaches every
tier: :func:`_gram_rows` / :func:`_gram_batches` (the Arrow n-gram
generator; each caller keeps only its per-document emit), :func:`_pair_join`
(every posting self-join but SimHash's), :func:`_shared_counts` (pin,
sizes, df cap, self-join, shared count) and :func:`_jaccard` (the Jaccard
scoring tail).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_etl_fiap_spark.sources.readers import spread_input


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the row with the smallest ``id_col`` per duplicate group —
    deterministic, unlike ``dropDuplicates`` (which keeps an arbitrary row).
    One hash aggregate; at scale this is a single shuffle on the key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def content_hash(text_col: str) -> Column:
    """SHA-256 content key (hex) — dedup on this, not on the full text, so
    the shuffle carries 32 bytes per row instead of whole documents."""
    return F.sha2(F.encode(F.col(text_col), "UTF-8"), 256)


def portable_hash60(*cols: Column) -> Column:
    """60-bit integer hash reproducible across engines: first 15 hex chars of
    md5 over the ':'-joined inputs, parsed as hex.  ~16x slower than
    xxhash64 but bit-identical in any engine with md5 (DuckDB:
    ``CAST('0x' || substr(md5(x || ':' || y), 1, 15) AS BIGINT)``) — the
    hash family to use when a dedup decision must be RE-DERIVABLE by a
    different engine, e.g. for the driver's exact-oracle gate.  15 hex chars
    (60 bits) keeps the value positive in a signed int64 on both sides."""
    return F.conv(F.substring(F.md5(F.concat_ws(":", *cols)), 1, 15), 16, 10).cast("long")


def _hash64(family: str, *cols: Column) -> Column:
    if family == "portable":
        return portable_hash60(*cols)
    if family == "xxhash64":
        return F.xxhash64(*cols)
    raise ValueError(f"unknown hash family: {family!r}")


def _mix_constants(n_hashes: int) -> list[list[int]]:
    """Fixed odd 16-bit multipliers for the portable minhash mixing family
    (one row of 4 per hash function).  Deterministic: the DuckDB oracle
    generator derives the SAME table, so both engines mix identically."""
    import random

    rng = random.Random(0xC0FFEE)
    return [[rng.randrange(1, 1 << 16) | 1 for _ in range(4)] for _ in range(n_hashes)]


def _long_id(df: DataFrame, id_col: str) -> Column:
    """``id_col`` as a LONG, refusing non-integral id types loudly: a
    silent cast("long") turns string ids ('doc-00017') into NULL for every
    row, collapsing the corpus into one garbage doc group with no
    diagnostic.  Map string ids to a surrogate long upstream (xxhash64 or
    a dimension join) before the posting tiers."""
    t = df.schema[id_col].dataType.simpleString()
    if t not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{id_col!r} must be an integral id column for the posting "
            f"tiers, got {t}"
        )
    return F.col(id_col).cast("long")


def token_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> — the
    expression-side semantic reference for :func:`shingle_rows`.

    Documents with fewer than ``n`` tokens (and null text, where size()
    is -1) yield an EMPTY array via the when() guard: a bare
    ``sequence(0, size - n)`` auto-descends to ``[0, -1]`` when the stop
    is negative, and the ``i = -1`` iteration's ``element_at(toks, 0)``
    throws unconditionally (SQL arrays are 1-indexed) — the same
    F.sequence descent trap the round-8 unigram advice fixed."""
    toks = F.split(F.col(text_col), " ")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.array_distinct(grams)


def _gram_batches(batches, emit, names: list[str]):
    """Arrow batch loop of the n-gram generators over ``(doc, text)``
    batches: NULL text emits nothing (like the expression path), else
    ``emit(text.split(" "))`` gives one equal-length sequence per column in
    ``names`` and ``doc`` repeats alongside (columnar lists, not row
    tuples: shingling dominates every fuzzy-dedup pipeline)."""
    import pandas as pd

    for pdf in batches:
        docs, cols = [], [[] for _ in names]
        for doc, text in zip(pdf["doc"], pdf["text"]):
            if text is None:
                continue
            vals = emit(text.split(" "))
            docs.extend([doc] * len(vals[0]))
            for col, v in zip(cols, vals):
                col.extend(v)
        yield pd.DataFrame({"doc": docs, **dict(zip(names, cols))})


def _gram_rows(
    df: DataFrame, id_col: str, text_col: str, emit, out: dict[str, str], spread: bool
) -> DataFrame:
    """:func:`_gram_batches` over the ``(doc, text)`` source as ``doc long``
    plus the ``out`` columns (name -> Spark type)."""
    names = list(out)

    def gen(batches):
        return _gram_batches(batches, emit, names)

    src = df.select(_long_id(df, id_col).alias("doc"), F.col(text_col).alias("text"))
    if spread:
        src = spread_input(src)
    return src.mapInPandas(gen, ", ".join(["doc long", *(f"{c} {t}" for c, t in out.items())]))


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, spread: bool = True
) -> DataFrame:
    """Exploded distinct word n-gram shingles as (doc, shingle) rows.

    ``spread=False`` skips the one-split input repartition for call sites
    whose downstream cannot use the extra parallelism (r13 verdict: the
    decontaminate path pays the exchange and immediately meets a broadcast
    join — per-site flag, same pattern as ``_np_buckets``).

    Arrow-vectorized generator instead of the :func:`token_shingles` HOF +
    explode: building ~50 grams per document through interpreted
    transform/concat_ws expressions costs ~10x what a Python loop over Arrow
    batches does, and shingling dominates every fuzzy-dedup pipeline. The
    emitted STRINGS are identical to the expression version for any document
    with >= n tokens (`" ".join` of `split(" ")` slices), so downstream
    hashes — and the DuckDB oracle comparison — are unaffected. Documents
    with < n tokens emit nothing, the same full-grams-only semantics as the
    SQL oracle's positional self-join."""

    def emit(toks):
        return ({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)},)

    return _gram_rows(df, id_col, text_col, emit, {"shingle": "string"}, spread)


def _df_capped(shingled: DataFrame, hash_col: str, max_df: int | None) -> DataFrame:
    """Filter exploded (doc, shingle-hash) postings to shingles whose
    document frequency is <= ``max_df``.  One extra map-side-combined hash
    aggregate on the already-checkpointed postings frame, then a BROADCAST
    left_anti against the OVER-cap key set — that set is tiny by
    construction (stop-shingles, a handful of keys), whereas the sub-cap
    complement is nearly every distinct shingle; round-3 advice flagged the
    earlier semi-join shape for shuffling that full key set at scale."""
    if max_df is None:
        return shingled
    bad = (
        shingled.groupBy(hash_col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select(hash_col)
    )
    return shingled.join(F.broadcast(bad), hash_col, "left_anti")


def _pair_join(
    postings: DataFrame,
    keys: list[str],
    left: dict[str, str],
    right: dict[str, str],
    directed: bool = False,
) -> DataFrame:
    """Self-join ``postings`` on equal ``keys``: every posting tier's
    candidate-pair generator.  ``left`` / ``right`` rename each side's
    columns and always map ``doc``; pairs keep left doc < right doc (each
    unordered pair once), or ``!=`` when ``directed`` (containment).

    The sides join as aliased subplans with qualified key refs: both derive
    from one frame, and a bare ``a.sh == b.sh`` would lean on Spark's
    trivially-true-equals self-join disambiguation (it logs a warning and
    rewrites by position — fragile across versions).

    Callers pin the frame ``postings`` derives from with
    ``localCheckpoint(eager=False)``: both sides (and usually a size or df
    aggregate) re-read it, and unpinned the upstream shingling runs once
    per reader.  localCheckpoint, not ``persist()``: the ContextCleaner
    releases its blocks once the frame is GC'd, so a long driver run does
    not accumulate dead cache (round-1 advice)."""
    a = postings.withColumnsRenamed(left).alias("__pa")
    b = postings.withColumnsRenamed(right).alias("__pb")
    ida, idb = F.col(left["doc"]), F.col(right["doc"])
    same_keys = reduce(operator.and_, [F.col(f"__pa.{k}") == F.col(f"__pb.{k}") for k in keys])
    return a.join(b, same_keys & ((ida != idb) if directed else (ida < idb)))


def _shared_counts(
    rows: DataFrame, key: str, max_df: int | None, left: str, right: str, directed: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Shared-key counts per document pair over ``(doc, key)`` postings:
    ``rows`` is pinned once (lazily, see :func:`_pair_join`), per-document
    sizes count every key, and pairs come from the ``max_df``-capped
    postings (:func:`_df_capped`), so a score over these is a lower bound
    that is exact whenever no shared key is over-cap.  Returns ``(pairs,
    sizes)``: ``(left, right, shared)`` and ``(doc, n)``."""
    pinned = rows.localCheckpoint(eager=False)
    sizes = pinned.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        _pair_join(_df_capped(pinned, key, max_df), [key], {"doc": left}, {"doc": right}, directed)
        .groupBy(left, right)
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs, sizes


def _jaccard(pairs: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, shared)`` pairs scored against ``(doc, n)`` sizes:
    |A∪B| = |A| + |B| - shared, kept where ``jaccard >= threshold``."""
    sa = sizes.withColumnsRenamed({"doc": "id_a", "n": "na"})
    sb = sizes.withColumnsRenamed({"doc": "id_b", "n": "nb"})
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "jaccard")
    )


#: Posting-list cap for the exact-Jaccard tier: shingles shared by more than
#: this many documents are excluded from pair GENERATION (doc sizes still
#: count them).  The shingle self-join is quadratic in per-shingle document
#: frequency — one stop-phrase shingle shared by 10k docs creates 10^8 join
#: rows at corpus scale, a single-key job-killer.  Capping df is the standard
#: inverted-index defense (drop stop postings); pairs that share ONLY
#: ultra-common shingles are noise for near-dup purposes anyway.
MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """DF-CAPPED (lower-bound) n-gram Jaccard pairs — the default caps
    posting lists at ``max_shingle_df=MAX_SHINGLE_DF``, so ``shared`` counts
    only sub-cap shingles while ``na``/``nb`` remain the TRUE
    distinct-shingle counts: reported jaccard is a lower bound that equals
    the exact value whenever no shared shingle is capped (round-3 advice:
    the old docstring led with "Exact" while capping by default).  Pass
    ``max_shingle_df=None`` for exact semantics at quadratic-per-stop-shingle
    cost; the registered queries keep the cap and their DuckDB oracles
    mirror the same definition exactly.

    Inverted-index shape: explode distinct shingles, self-join on the
    shingle (docs never pair unless they share one), count shared, then
    |A∪B| = |A|+|B|-shared. Output: id_a < id_b, shared, jaccard."""
    # Join on the 8-byte xxhash64 of the shingle, not the string: the
    # inverted-index shuffle carries longs instead of n-gram text (the
    # dominant byte volume at scale). A count-corrupting collision needs two
    # distinct shingles with equal hash64 inside one joined doc pair
    # (~2^-64 * pairs — negligible).
    # ``shingles``: a caller that ALSO consumes the (doc, shingle) frame
    # elsewhere passes its checkpointed copy so the dominant shingling
    # map-stage runs once across tiers (r14; mirrors minhash_lsh_pairs).
    rows = shingles if shingles is not None else shingle_rows(df, id_col, text_col, n)
    pairs, sizes = _shared_counts(
        rows.select("doc", F.xxhash64("shingle").alias("sh")), "sh", max_shingle_df, "id_a", "id_b"
    )
    return _jaccard(pairs, sizes, threshold)


N_MINHASH = 32
LSH_BANDS = 8  # 8 bands x 4 rows: catches jaccard >~ 0.5 with high prob.


def minhash_signature(shingles: Column, n_hashes: int = N_MINHASH) -> list[Column]:
    """n deterministic min-hashes: h_i(S) = min over shingles of
    xxhash64(i, shingle). Expression-only, one pass over the array."""
    return [
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(i), s))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_family: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    Signature: n_hashes minhashes over word n-gram shingles. Banding: split
    into ``bands`` groups of r = n_hashes/bands values; docs collide if ANY
    band matches exactly. The band join is an equi-join on (band_id, band
    hash): at 100 TB each doc contributes ``bands`` short rows, and only
    bucket collisions are ever compared — no quadratic stage anywhere.
    Output: distinct candidate (id_a < id_b) pairs with the matching band
    count (callers verify candidates with exact jaccard on the pair subset).

    ``hash_family``: "xxhash64" (default, fastest, Spark-native) or
    "portable" (:func:`portable_hash60`, bit-reproducible in any md5-capable
    engine — the family to register for exact cross-engine verification).
    """
    if not 0 < bands <= n_hashes or n_hashes % bands:
        # r = n_hashes // bands would silently DROP trailing minhashes for
        # non-divisors, and bands > n_hashes gives r = 0 — a zero-column
        # band hash is a constant, collapsing every document into one
        # bucket (the banded join degenerates to all-pairs).
        raise ValueError(
            f"bands must divide n_hashes: n_hashes={n_hashes}, bands={bands}"
        )
    r = n_hashes // bands
    # Explode + hash-aggregate, not n_hashes interpreted passes over the
    # shingle array: MIN is commutative so the grouped min over exploded
    # shingles is value-identical to array_min over the transform, but runs
    # in whole-stage codegen with map-side partial aggregation — one shuffle
    # keyed by doc, the shape that survives 100 TB.
    # ``shingles``: a caller that ALSO needs the (doc, shingle) frame (the
    # verify tier) passes its checkpointed copy so the dominant shingling
    # map-stage runs once, not twice, over the corpus.
    shingled = (
        shingles if shingles is not None else shingle_rows(df, id_col, text_col, n)
    ).withColumnRenamed("shingle", "__s")
    if hash_family == "portable":
        # ONE md5 per shingle (the expensive op), split into four 32-bit
        # words u0..u3, then all n_hashes minhash values derive by portable
        # integer mixing: h_i = (sum_j A_ij * u_j) mod 2^32 with fixed
        # 16-bit constants — products stay < 2^48, so no overflow in any
        # signed-64 engine, and the mix is pure codegen arithmetic.  The
        # words are materialized in an explicit PROJECTION (aggregate input
        # expressions don't reliably share subexpressions).  32-bit values
        # are plenty for MIN-hashing (within-doc collision ~ n^2 / 2^32).
        digest = F.md5(F.col("__s"))
        projected = shingled.select(
            "doc",
            *[
                F.conv(F.substring(digest, 8 * j + 1, 8), 16, 10)
                .cast("long")
                .alias(f"__u{j}")
                for j in range(4)
            ],
        )
        mins = [
            F.min(
                sum(F.col(f"__u{j}") * F.lit(a) for j, a in enumerate(row)) % F.lit(1 << 32)
            ).alias(f"mh_{i}")
            for i, row in enumerate(_mix_constants(n_hashes))
        ]
    else:
        projected = shingled
        mins = [
            F.min(_hash64(hash_family, F.lit(i), F.col("__s"))).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    sig = projected.groupBy("doc").agg(*mins)
    banded = sig.select(
        "doc",
        *[
            _hash64(hash_family, *[F.col(f"mh_{b * r + j}") for j in range(r)]).alias(
                f"band_{b}"
            )
            for b in range(bands)
        ],
    )
    stacked = banded.selectExpr(
        "doc",
        "stack({}, {}) as (band_id, band_hash)".format(
            bands, ", ".join(f"{b}, band_{b}" for b in range(bands))
        ),
    ).localCheckpoint(eager=False)
    return (
        _pair_join(stacked, ["band_id", "band_hash"], {"doc": "id_a"}, {"doc": "id_b"})
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    id_col: str,
    text_col: str,
    hash_col: str = "content_hash",
) -> DataFrame:
    """Daily-pipeline dedup shape: keep only NEW documents that duplicate
    neither the historical corpus nor each other.

    ``seen_hashes`` is the running registry of content hashes (one skinny
    column — at 100 TB that registry is what you keep hot, never the
    documents). Two stages, both single-shuffle: within-batch canonical pick
    (min id per hash), then LEFT ANTI against history.  Spark broadcasts the
    smaller side automatically (AQE) — typically the day's batch, not the
    multi-year registry."""
    hashed = new_df.withColumn(hash_col, content_hash(text_col))
    batch_canon = exact_dedup(hashed, [hash_col], id_col)
    return batch_canon.join(seen_hashes.select(hash_col), hash_col, "left_anti")


def verified_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    hash_family: str = "xxhash64",
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """THE production fuzzy-dedup shape at 100 TB: MinHash-LSH candidate
    generation (linear build, band-bucket equi-join) followed by EXACT
    n-gram Jaccard verification computed ONLY on the candidate pairs.

    vs :func:`ngram_jaccard_pairs` (full inverted-index join): the exact
    check's intermediate is |candidates| x shingles-per-doc instead of
    sum-over-shingles(docs-per-shingle^2) — on a real corpus that is orders
    of magnitude smaller, at the price of LSH recall (< 1 by construction).
    Output schema matches ngram_jaccard_pairs: (id_a < id_b, shared,
    jaccard >= threshold) — including the same ``max_shingle_df`` posting cap
    in the shared-shingle count, so both tiers report the identical jaccard
    for the same pair.
    """
    # Shingle ONCE: the (doc, shingle) map-stage is the dominant cost of
    # every fuzzy-dedup pipeline, and both the LSH signature build and the
    # verification postings read the same checkpointed frame.
    sh = shingle_rows(df, id_col, text_col, n).localCheckpoint(eager=False)
    cands = minhash_lsh_pairs(
        df, id_col, text_col, n=n, hash_family=hash_family, shingles=sh
    ).select("id_a", "id_b")
    shingled = (
        sh.select("doc", F.xxhash64("shingle").alias("h"))
        .localCheckpoint(eager=False)  # feeds sizes + both pair sides
    )
    sizes = shingled.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    postings = _df_capped(shingled, "h", max_shingle_df)
    sa = postings.select(F.col("doc").alias("id_a"), F.col("h").alias("ha"))
    sb = postings.select(F.col("doc").alias("__idb"), F.col("h").alias("hb"))
    shared = (
        cands.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("ha") == F.col("hb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _jaccard(shared, sizes, threshold)


SIMHASH_BITS = 32


def simhash(text_col: str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over whitespace tokens: bit b of the signature is the sign of
    sum over tokens of (bit b of xxhash64(token) ? +1 : -1). Near-duplicate
    documents land at small hamming distance. 32 bits keeps random collisions
    rare at corpus scale (16 bits drowns in birthday collisions)."""
    toks = F.split(F.col(text_col), " ")

    def bit_vote(bit: int) -> Column:
        # Closure per bit: PySpark HOF lambdas must take exactly the declared
        # arity, so the bit index can't ride in as a defaulted third arg.
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.when(
                F.shiftright(F.xxhash64(t), bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    sig = F.lit(0).cast("long")
    for bit in range(bits):
        sig = sig + F.when(bit_vote(bit) >= 0, F.lit(2**bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # NULL text -> NULL signature: every bit_vote is NULL, which the
    # otherwise(0) branches would silently collapse to sig=0 — colliding
    # all null docs with any legitimately-zero-signature document and
    # diverging from simhash_signatures (which drops null-text docs).
    return F.when(F.col(text_col).isNull(), F.lit(None).cast("long")).otherwise(sig)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Explode tokens + one grouped aggregate computing all ``bits`` votes:
    integer SUM is commutative, so the result is value-identical to the
    per-row sequential fold in :func:`simhash`, but runs as a codegen hash
    aggregate with map-side combine (one doc-keyed shuffle) instead of
    ``bits`` interpreted passes over every token array."""
    toks = spread_input(df.select(F.col(id_col).alias("doc"), F.col(text_col))).select(
        "doc", F.explode(F.split(F.col(text_col), " ")).alias("__t")
    ).select("doc", _hash64(hash_family, F.col("__t")).alias("__h"))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"__v{b}") >= 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Blocking: split the 32-bit signature into 4 bands of 8 bits and equi-join
    per band. Pigeonhole: a pair differing in <= 3 bits has at least one of
    the 4 bands identical, so no pair within the threshold is missed; pairs
    colliding on some band but differing by more are filtered by the exact
    popcount. This is the same band-join shape as MinHash-LSH — linear build,
    collisions-only compare.  ``max_hamming >= 4`` raises ``ValueError``: a
    pair 4 bits apart, one bit per band, shares no band, so the blocking
    would silently miss it."""
    n_bands, band_bits = 4, SIMHASH_BITS // 4
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming must be < {n_bands} (the band count) for the "
            f"pigeonhole recall guarantee, got {max_hamming}"
        )
    mask = (1 << band_bits) - 1
    # Pinned by :func:`_pair_join`'s rule but not joined through it: with the
    # pair predicate inside the join condition, Catalyst would push the
    # hamming filter in front of it — a different plan for the same rows.
    sigs = simhash_signatures(df, id_col, text_col, hash_family=hash_family).localCheckpoint(
        eager=False
    )
    stacked = sigs.select(
        "doc",
        "simhash",
        F.stack(
            F.lit(n_bands),
            *[
                x
                for b in range(n_bands)
                for x in (
                    F.lit(b),
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)),
                )
            ],
        ).alias("band_id", "band_val"),
    )
    a = stacked.select(
        F.col("doc").alias("id_a"), F.col("simhash").alias("sig_a"), "band_id", "band_val"
    )
    b = stacked.select(
        F.col("doc").alias("id_b"), F.col("simhash").alias("sig_b"), "band_id", "band_val"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word ``n``-gram shingles also occur anywhere in the benchmark
    corpus (the GPT-3/PaLM-style n-gram overlap check run before training,
    so eval sets don't leak into the training corpus).

    Output: one row per training document that has at least one full
    ``n``-gram — ``(id_col, n_shingles, n_hits)`` where ``n_shingles`` is
    the document's distinct-shingle count and ``n_hits`` how many of those
    shingles appear in the benchmark set. Documents shorter than ``n``
    tokens have no shingle and are out of scope (same semantics as the
    positional self-join oracle).

    100 TB shape: the benchmark side is eval suites — thousands of
    documents, millions of distinct shingles at worst — so it collapses to
    a BROADCAST hash map and the training corpus streams past it with zero
    shuffle on the join; the only exchange is the per-document count
    aggregate (map-side combined). For a benchmark too big to broadcast,
    drop the hint and the same plan degrades gracefully to a shuffle join
    on the shingle.
    """
    # spread=False both sides (r13 verdict #3, re-A/B'd r14): at bench scale
    # the inserted exchange costs more than the shingling it parallelizes —
    # the bench side is 1/17th of the corpus and immediately collapses into
    # a broadcast build, and the train side's mapInPandas feeds a broadcast
    # join + map-side-combined aggregate that inherit the scan's own splits.
    bench_sh = (
        shingle_rows(bench, id_col, text_col, n, spread=False)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_sh = shingle_rows(train, id_col, text_col, n, spread=False)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """DIRECTIONAL shingle containment ``|A ∩ B| / |A|`` — the sub-document
    dedup measure Jaccard misses: a short document pasted verbatim inside a
    long one has low Jaccard (the union is dominated by the long doc) but
    containment ≈ 1 for the short side. This is the standard second fuzzy
    tier (Broder's containment, the measure behind suffix/prefix and
    quote-inclusion dedup) for training corpora where boilerplate wrappers
    re-publish whole articles.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (one shingle
    self-join on 8-byte hashes, df-capped postings, true sizes), but emits
    BOTH directions of every qualifying pair: ``(inner_id, outer_id,
    shared, containment)`` where ``containment = shared / n_inner``. With
    the default df cap the score is a lower bound, exact whenever no shared
    shingle is over-cap — mirrored 1:1 by the registered oracle.
    """
    rows = shingle_rows(df, id_col, text_col, n).select("doc", F.xxhash64("shingle").alias("sh"))
    pairs, sizes = _shared_counts(rows, "sh", max_shingle_df, "inner_id", "outer_id", directed=True)
    si = sizes.withColumnsRenamed({"doc": "inner_id", "n": "n_inner"})
    return (
        pairs.join(si, "inner_id")
        .withColumn("containment", F.col("shared").cast("double") / F.col("n_inner"))
        .filter(F.col("containment") >= threshold)
        .select("inner_id", "outer_id", "shared", "containment")
    )


#: Fingerprint df cap for winnowing pair generation — same inverted-index
#: defense as MAX_SHINGLE_DF: a fingerprint selected by thousands of
#: documents (boilerplate minima) would make the self-join quadratic in one
#: key; capped postings keep pair generation linear in corpus size.
MAX_WINNOW_DF = 1000

WINNOW_K = 3  # k-gram width (tokens) hashed into the candidate stream
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per w k-grams


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    MOSS algorithm): hash every word ``k``-gram, slide a window of ``w``
    consecutive hashes, keep the minimum of each window, dedup the selected
    hashes per document. Guarantees: any shared run of ``w + k - 1`` tokens
    between two documents yields at least one shared fingerprint, while
    storing only ~``2/(w+1)`` of all k-gram hashes — the document sketch of
    choice when MinHash's fixed-size signature loses too much locality.

    100 TB shape: winnowing is PER-DOCUMENT local, so this runs as one
    Arrow-batched ``mapInPandas`` pass — zero shuffle, embarrassingly
    parallel, no window exchange (contrast a Spark-window formulation, which
    would shuffle every k-gram row by doc_id first). The hash is the
    portable 60-bit md5 prefix (operators.dedup.portable_hash60), computed
    here via hashlib on identical bytes, so a DuckDB oracle re-derives every
    fingerprint bit-for-bit.

    Output: distinct ``(doc, fp)`` rows. Documents with fewer than
    ``w + k - 1`` tokens have no full window and emit nothing (the oracle's
    full-window filter matches).
    """
    import hashlib

    def emit(toks):
        hs = [
            int(hashlib.md5(" ".join(toks[i : i + k]).encode("utf-8")).hexdigest()[:15], 16)
            for i in range(len(toks) - k + 1)
        ]
        return ({min(hs[i : i + w]) for i in range(len(hs) - w + 1)},)

    return _gram_rows(df, id_col, text_col, emit, {"fp": "long"}, spread=True)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_fp_df: int | None = MAX_WINNOW_DF,
) -> DataFrame:
    """Near-dup candidate pairs by winnowing-fingerprint overlap
    ``shared / min(|A|, |B|)`` — the containment-normalized match score MOSS
    reports. Same inverted-index discipline as the shingle tiers: postings
    df-capped (boilerplate fingerprints never explode the self-join), sizes
    stay uncapped, so the score is a lower bound that is exact whenever no
    shared fingerprint is over-cap.

    Output: ``(id_a, id_b, shared, overlap)`` with ``id_a < id_b`` and
    ``overlap >= threshold``.
    """
    pairs, sizes = _shared_counts(
        winnow_fingerprints(df, id_col, text_col, k, w), "fp", max_fp_df, "id_a", "id_b"
    )
    sa = sizes.withColumnsRenamed({"doc": "id_a", "n": "na"})
    sb = sizes.withColumnsRenamed({"doc": "id_b", "n": "nb"})
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "overlap", F.col("shared").cast("double") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "shared", "overlap")
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
) -> DataFrame:
    """C4/RefinedWeb-style CORPUS-LEVEL span deduplication: cut every
    document into fixed, non-overlapping ``span_tokens``-token spans, keep
    only each distinct span's FIRST occurrence under the total order
    (id, span index), and rebuild documents from their surviving spans —
    the sub-document tier of the dedup stack (exact/minhash/simhash
    operate on whole documents; boilerplate repeats ACROSS documents that
    are otherwise distinct, which is exactly what this removes from a web
    corpus).

    Output: (id, n_spans, kept_spans, dedup_text) — documents whose every
    span was seen earlier come back with ``dedup_text = ''`` (drop
    candidates for the caller).

    Spark shape, two shuffles total and NO self-join: spans explode
    inside the scan stage (narrow); first-occurrence selection is ONE
    row_number window partitioned by span text (the span-keyed shuffle;
    dup groups are small, so no skew pathology); the rebuild is ONE
    groupBy(id) with an order-restoring array_sort — never a join back
    against the corpus.  At 100 TB both exchanges carry the span stream,
    and the span stream is the corpus, so cost is two linear shuffles —
    the same bound as the C4 reference pipeline's line-dedup stage."""
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    starts = F.sequence(
        F.lit(0), F.greatest(n_spans - 1, F.lit(0)), F.lit(1)
    )
    spans = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            F.concat_ws(
                " ", F.slice(toks, i * span_tokens + 1, span_tokens)
            ).alias("span"),
        ),
    )
    ex = df.select(F.col(id_col), F.explode(spans).alias("s")).select(
        id_col, F.col("s.idx").alias("idx"), F.col("s.span").alias("span")
    )
    w = Window.partitionBy("span").orderBy(F.col(id_col).asc(), F.col("idx").asc())
    kept = ex.withColumn("__rn", F.row_number().over(w))
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("kept_spans"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct("idx", "span"),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
            ).alias("dedup_text"),
        )
    )


def positional_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """POSITIONAL (non-distinct) word n-grams as (doc, pos, shingle) rows —
    the inverted index for exact shared-substring detection.  Same
    Arrow-vectorized generator rationale as :func:`shingle_rows`; the
    emitted strings are ``" ".join`` of ``split(" ")`` slices, so a SQL
    positional re-derivation matches exactly.  Documents with < n tokens
    emit nothing."""

    def emit(toks):
        pos = range(max(len(toks) - n + 1, 0))
        return pos, [" ".join(toks[i : i + n]) for i in pos]

    return _gram_rows(
        df, id_col, text_col, emit, {"pos": "long", "shingle": "string"}, spread=True
    )


def shared_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_tokens: int = 20,
    max_gram_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Longest-shared-token-run pairs — the relational re-expression of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": remove verbatim repeated
    spans >= 50 tokens across a corpus).  A suffix array is inherently
    sequential; the equivalent distributed shape is an inverted POSITIONAL
    index: every match of an L-gram between two documents lands on a
    DIAGONAL (pa - pb), maximal verbatim overlaps are runs of CONSECUTIVE
    positions within one (pair, diagonal) group (the classic
    islands-and-gaps trick: ``pa - row_number()`` is constant inside a
    run), and a run of R consecutive matching L-gram positions is a shared
    substring of exactly R + L - 1 tokens.

    EXACT below the cap, a LOWER BOUND above it: the ``max_gram_df``
    posting cap (the quadratic-blowup defense every fuzzy tier shares)
    removes hot grams from the MIDDLE of runs too, so a long run whose
    interior contains an over-cap boilerplate gram splits into shorter
    fragments — ``max_shared_tokens`` can under-report, and a pair can
    drop below ``min_tokens`` entirely.  Run with ``max_gram_df=None``
    when exactness matters more than the df^2 bound (the oracle gate
    does both engines under the SAME cap, so the comparison stays exact
    either way).

    Scale shape: the positional postings checkpoint once and feed both
    join sides; the self-join carries 8-byte xxhash64 keys, not gram text
    (collision needs two distinct grams with equal hash inside one joined
    pair — ~2^-64 * pairs); posting lists are df-capped exactly like every
    other fuzzy tier (``max_gram_df``) so one boilerplate sentence cannot
    go quadratic; the run window partitions by (pair, diagonal) — key
    cardinality tracks candidate volume, never a global window.  Output:
    ``(doc_a, doc_b, max_shared_tokens)`` for pairs sharing a verbatim run
    of at least ``min_tokens`` tokens.
    """
    shingled = (
        positional_shingle_rows(df, id_col, text_col, n)
        .select("doc", "pos", F.xxhash64("shingle").alias("sh"))
        .localCheckpoint(eager=False)
    )
    postings = shingled
    if max_gram_df is not None:
        # Document frequency counts DISTINCT docs: unlike the set-valued
        # tiers' postings (:func:`_df_capped`), a gram repeats per position.
        bad = (
            shingled.groupBy("sh")
            .agg(F.count_distinct("doc").alias("__df"))
            .filter(F.col("__df") > max_gram_df)
            .select("sh")
        )
        postings = shingled.join(F.broadcast(bad), "sh", "left_anti")
    m = _pair_join(
        postings, ["sh"], {"doc": "doc_a", "pos": "pa"}, {"doc": "doc_b", "pos": "pb"}
    ).select("doc_a", "doc_b", "pa", "pb")
    md = m.withColumn("diag", F.col("pa") - F.col("pb"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = md.withColumn("grp", F.col("pa") - F.row_number().over(w))
    rl = runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("run_tokens")
    )
    return (
        rl.groupBy("doc_a", "doc_b")
        .agg(F.max("run_tokens").alias("max_shared_tokens"))
        .filter(F.col("max_shared_tokens") >= min_tokens)
    )
