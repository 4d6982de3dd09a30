"""Vector similarity search over embedding columns ([EXT] north star).

Embeddings are ``array<float>`` (dim=64). All math is done in DOUBLE via
higher-order expressions — a sequential left fold, which DuckDB's
``list_dot_product`` matches bit-for-bit, so even cosine values are
oracle-exact. No UDFs anywhere: the hot path is whole-stage-codegen JVM code.

Scale design:
- ``brute_force_topk``: queries broadcast against the corpus; per-partition
  top-k via window row_number (TakeOrdered shape). Cost O(|Q| * |corpus|) —
  the right baseline, and the right answer when |Q| is small.
- ``lsh_bucket_topk``: sign-random-projection (SimHash-style) bucketing —
  deterministic pseudo-random hyperplanes derived from xxhash64, vectors
  compared only within matching buckets: the 100 TB path where the corpus
  cross-product is impossible. Recall < 1 by construction (probe multiple
  bands to trade cost for recall).
- ``label_centroids``: per-label mean vector computed with an ORDERED running
  sum (order by vec_id) so the float sum is reproducible bit-for-bit on any
  engine/partitioning — unordered float SUM is not.

The top-k tiers share one owner per step: :func:`_top_k` is the per-query
rank tail of every tier (the global merge of any local-then-global pruning),
:func:`_exact_rerank` the ADC shortlist plus exact-cosine re-rank of
``pq_topk`` / ``ivfpq_topk``, and :func:`_pq_encode` their sub-code encoder.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_etl_fiap_spark.functions.parity import round_half_up
from aws_etl_fiap_spark.sources.readers import spread_input

#: Embedding dimensionality of the driver's `embeddings` table (TESTDATA.md).
EMBED_DIM = 64


def as_double(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product exactly).

    With a static ``dim`` the fold is unrolled into a flat 2*dim-term
    arithmetic expression — identical float operations in the identical
    left-to-right order (so bit-equal results), but compiled by whole-stage
    codegen instead of interpreted per-element like higher-order functions.
    ~10x cheaper per pair; use it on every hot all-pairs path.
    """
    if dim is not None:
        # NOTE: unrolling blows up janino codegen beyond ~a few hundred terms
        # (and 8 tables x 4 planes x 64 dims OOMs the compiler outright) —
        # callers should only pass a static dim for a SINGLE dot in the plan.
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + a.getItem(i) * b.getItem(i)
        return acc
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(vec: Column, dim: int | None = None) -> Column:
    """L2 norm. Precompute this per ROW before any pairwise join — computing
    sqrt(dot(v,v)) per PAIR does 3x the work for the same bits."""
    return F.sqrt(dot(vec, vec, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column,
                     dim: int | None = None) -> Column:
    """Cosine with per-row precomputed norms: dot/(na*nb) — the same float
    expression shape as :func:`cosine` (and the DuckDB oracle), just with the
    norm subexpressions hoisted out of the pairwise loop."""
    return dot(a, b, dim) / (norm_a * norm_b)


#: Output columns of the cosine-scored top-k tiers.
_COSINE_TOPK_COLS = ["query_id", "neighbor_id", "cos_sim", "rank"]


def _top_k(scored: DataFrame, k: int, score: Column, cols: list[str]) -> DataFrame:
    """Per query, the ``k`` best ``scored`` rows under ``score`` (a sort
    order, e.g. ``F.col("cos_sim").desc()``) with ``neighbor_id`` ascending
    as the tiebreak, numbered 1..k in a ``rank`` column; returns ``cols``."""
    w = Window.partitionBy("query_id").orderBy(score, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self excluded).

    Output: query_id, neighbor_id, cos_sim, rank. The query side is
    broadcast — the corpus never shuffles for the join; the only exchange is
    the per-query top-k window, whose input is already reduced to
    |Q| * |corpus| scored pairs filtered per partition. Norms are computed
    once per row (linear), never per pair (quadratic).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), as_double(vec_col).alias("__qv")
    ).withColumn("__qn", norm(F.col("__qv"), dim))
    # NO spread_input on the corpus side (r14 interleaved A/B: flat to
    # slightly negative on every brute-force consumer — the scoring here
    # is too light per row to pay for the exchange at this corpus size).
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), as_double(vec_col).alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv"), dim))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            cosine_prenormed(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"), dim),
        )
    )
    return _top_k(scored, k, F.col("cos_sim").desc(), _COSINE_TOPK_COLS)


def _unit_normed(df: DataFrame, idc: str, vec_col: str) -> DataFrame:
    """(id, vec) -> (__id long, __v unit-normalized array<double>) — the
    shared indexing projection of the PQ tiers.  Hoist the norm to its own
    column FIRST: embedding the O(dim) norm fold inside the per-element
    transform lambda would make the projection O(dim^2) per row (measured
    5x on the 20x smoke).  Zero-norm vectors are dropped, not poisoned:
    try_divide would turn every element NULL, which crashes the numpy
    conversion in the encoders; a zero vector has no defined cosine
    neighbors anyway (brute_force scores it NULL)."""
    v = as_double(vec_col)
    return (
        df.select(F.col(idc).cast("long").alias("__id"), v.alias("__raw"))
        .withColumn("__n", norm(F.col("__raw")))
        .filter(F.col("__n") > 0)
        .select(
            "__id",
            F.transform(
                F.col("__raw"), lambda x: F.try_divide(x, F.col("__n"))
            ).alias("__v"),
        )
    )


def _train_matrix(rows, col: str, op_name: str):
    """Collected training rows (a Row list or a pandas frame from the
    Arrow path) -> (n, dim) float64 matrix, refusing an EMPTY sample
    loudly: an empty corpus (or one whose vectors are all zero-norm and
    dropped by unit normalization) would otherwise surface as an opaque
    numpy shape error deep inside the k-means trainers."""
    import numpy as np

    vals = rows[col].tolist() if hasattr(rows, "columns") else [r[col] for r in rows]
    mat = np.array(vals, dtype=np.float64)
    if mat.ndim != 2 or not len(mat):
        raise ValueError(
            f"{op_name}: training sample is empty — the corpus has no "
            "indexable vectors (empty frame, or every vector is zero-norm)"
        )
    return mat


def _seq_sq_norms(mat):  # numpy (n, dim) -> (n,) sequential-fold L2 norms
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for i in range(mat.shape[1]):
        acc += mat[:, i] * mat[:, i]
    return np.sqrt(acc)


#: Loud upper bound for the driver-collect path below: past this the corpus
#: does not belong on the driver — use :func:`allpairs_cosine_pairs_blocked`.
ALLPAIRS_COLLECT_LIMIT = 200_000


def allpairs_cosine_pairs_small(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_collect_rows: int = ALLPAIRS_COLLECT_LIMIT,
) -> DataFrame:
    """All-pairs cosine >= threshold as (id_a < id_b, cos_sim) — the exact
    near-duplicate primitive, Arrow-vectorized.  The ``_small`` suffix is the
    steer: this variant collects the corpus to the driver, which only belongs
    on a corpus KNOWN to be small (within-bucket verification, test oracles);
    anything unbounded goes through
    :func:`allpairs_cosine_pairs_blocked` instead.

    Shape: a manual broadcast join. The corpus (the small side by
    construction — all-pairs is only ever run on a corpus that fits one
    executor; at 100 TB you block with LSH first and run THIS within
    buckets) is collected once and broadcast; ``mapInPandas`` streams the
    other side through numpy, so the quadratic pair set is never
    materialized as Spark rows and nothing but hits crosses Arrow.

    Bit-exactness: the dot is accumulated dimension-by-dimension
    (``acc += a_i * b_i`` over a numpy block) — the same left-to-right
    IEEE-754 double adds as the expression fold and DuckDB's
    ``list_dot_product``, so cos_sim values hash-match the SQL oracle
    exactly, not just approximately.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = df.select(F.col(id_col).cast("long").alias("id"), as_double(vec_col).alias("v"))
    # Bounded guard: collect at most limit+1 rows — one scan that IS the
    # collect we need anyway, instead of a separate full count() job that
    # doubled input scans on every call (round-2 advice).
    corpus = src.limit(max_collect_rows + 1).collect()
    if len(corpus) > max_collect_rows:
        raise ValueError(
            f"allpairs_cosine_pairs_small: corpus exceeds max_collect_rows="
            f"{max_collect_rows}; a driver-side collect at this size is an OOM "
            "waiting to happen — use allpairs_cosine_pairs_blocked (distributed "
            "block pairs) or LSH-bucket blocking instead"
        )
    if not corpus:
        # a legal input with a well-defined answer: no rows, no pairs
        return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")
    b_ids = np.array([r["id"] for r in corpus], dtype=np.int64)
    b_mat = np.array([r["v"] for r in corpus], dtype=np.float64)
    bc = spark.sparkContext.broadcast((b_ids, b_mat, _seq_sq_norms(b_mat)))

    def gen(batches):
        ids_b, mat_b, norm_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids_a = pdf["id"].to_numpy(dtype=np.int64)
            mat_a = np.array(pdf["v"].tolist(), dtype=np.float64)
            # Sequential-fold dot: one rank-1 update per dimension, in order.
            s = np.zeros((len(ids_a), len(ids_b)))
            for i in range(mat_a.shape[1]):
                s += np.outer(mat_a[:, i], mat_b[:, i])
            cos = s / np.outer(_seq_sq_norms(mat_a), norm_b)
            hit_a, hit_b = np.nonzero((cos >= threshold) & (ids_a[:, None] < ids_b[None, :]))
            yield pd.DataFrame(
                {"id_a": ids_a[hit_a], "id_b": ids_b[hit_b], "cos_sim": cos[hit_a, hit_b]}
            )

    return src.mapInPandas(gen, "id_a long, id_b long, cos_sim double")


#: Back-compat alias; prefer the explicit ``_small`` name (or the blocked
#: variant) so call sites advertise the driver-collect bound they accept.
allpairs_cosine_pairs = allpairs_cosine_pairs_small


def allpairs_cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, fully distributed (no driver
    collect): the 100 TB-safe shape for the same semantics as
    :func:`allpairs_cosine_pairs_small`.

    Block-pair decomposition: ids hash into ``n_blocks`` disjoint blocks; the
    B(B+1)/2 ordered block pairs (ba <= bb) are enumerated as a tiny
    broadcast frame; each corpus row replicates to the pairs its block
    participates in (shuffle volume O(n * B) — tune ``n_blocks`` so one
    block pair's ~2n/B rows fit an executor's Arrow batch); each group
    scores its A x B matrix in numpy and emits only hits. Compute stays the
    inherent O(n^2) of EXACT all-pairs — for sub-quadratic, block with LSH
    first and accept recall < 1 (``lsh_bucket_topk``).

    Bit-exactness matches the SQL oracle for either row order: the dot is a
    dimension-ordered accumulate and IEEE multiply/add are commutative in
    their operands, so dot(x, y) == dot(y, x) bit-for-bit; off-diagonal hits
    are emitted id-normalized (min, max).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = (
        df.select(F.col(id_col).cast("long").alias("id"), as_double(vec_col).alias("v"))
        .withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)))
    )
    pairs = (
        spark.range(n_blocks)
        .withColumnRenamed("id", "ba")
        .crossJoin(spark.range(n_blocks).withColumnRenamed("id", "bb"))
        .filter(F.col("ba") <= F.col("bb"))
    )
    a_side = src.join(F.broadcast(pairs), src["blk"] == pairs["ba"]).select(
        "ba", "bb", F.lit(0).alias("side"), "id", "v"
    )
    b_side = src.join(F.broadcast(pairs), src["blk"] == pairs["bb"]).select(
        "ba", "bb", F.lit(1).alias("side"), "id", "v"
    )
    tagged = a_side.unionByName(b_side)

    def score(key, pdf):
        ba, bb = key
        a_rows = pdf[pdf["side"] == 0]
        b_rows = pdf[pdf["side"] == 1]
        if not len(a_rows) or not len(b_rows):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids_a = a_rows["id"].to_numpy(dtype=np.int64)
        ids_b = b_rows["id"].to_numpy(dtype=np.int64)
        mat_a = np.array(a_rows["v"].tolist(), dtype=np.float64)
        mat_b = np.array(b_rows["v"].tolist(), dtype=np.float64)
        s = np.zeros((len(ids_a), len(ids_b)))
        for i in range(mat_a.shape[1]):  # dimension-ordered accumulate
            s += np.outer(mat_a[:, i], mat_b[:, i])
        cos = s / np.outer(_seq_sq_norms(mat_a), _seq_sq_norms(mat_b))
        if ba == bb:
            mask = (cos >= threshold) & (ids_a[:, None] < ids_b[None, :])
        else:  # disjoint blocks: every unordered pair appears exactly once
            mask = cos >= threshold
        hit_a, hit_b = np.nonzero(mask)
        lo = np.minimum(ids_a[hit_a], ids_b[hit_b])
        hi = np.maximum(ids_a[hit_a], ids_b[hit_b])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cos[hit_a, hit_b]})

    return tagged.groupBy("ba", "bb").applyInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean of each dimension, as (label, dim, centroid) rows.

    The sum runs as a window running-sum ordered by ``id_col`` and takes the
    last value — a defined left-fold order, so the float result is identical
    across engines and partitionings (plain SUM(double) is order-dependent).
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("__id"),
        F.posexplode(as_double(vec_col)).alias("dim", "__x"),
    )
    w = (
        Window.partitionBy("label", "dim")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = exploded.select(
        "label",
        "dim",
        F.sum("__x").over(w).alias("__runsum"),
        F.count(F.lit(1)).over(w).alias("__n"),
        F.row_number()
        .over(Window.partitionBy("label", "dim").orderBy(F.col("__id").desc()))
        .alias("__rn"),
    )
    return running.filter(F.col("__rn") == 1).select(
        "label", "dim", (F.col("__runsum") / F.col("__n")).alias("centroid")
    )


N_TABLES = 8
N_PLANES = 4


def _plane_sign(dim_idx: Column, table: int, plane: int) -> Column:
    """Deterministic ±1 from xxhash64(table, plane, dim): the pseudo-random
    hyperplane entries, reproducible on every executor with no state."""
    return F.when(
        F.pmod(F.xxhash64(F.lit(table), F.lit(plane), dim_idx), F.lit(2)) == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def srp_signature(
    vec: Column, table: int, n_planes: int = N_PLANES, dim: int | None = None
) -> Column:
    """Sign-random-projection bucket for one hash table: bit p =
    sign(v . plane_{table,p}), packed into a long. Expression-only (no UDF),
    O(dim * n_planes) per row. With static ``dim`` the projection unrolls so
    the plane signs xxhash64(t, p, i) are all-literal and constant-folded by
    Catalyst — the per-row work is just dim multiply-adds in codegen."""
    def projection(plane: int) -> Column:
        if dim is not None:
            acc = F.lit(0.0)
            for i in range(dim):
                acc = acc + vec.getItem(i) * _plane_sign(F.lit(i), table, plane)
            return acc
        # Closure per plane: PySpark HOF lambdas must take exactly the
        # declared arity (no defaulted capture args).
        return F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x * _plane_sign(i, table, plane),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        sig = sig + F.when(projection(p) >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def _spherical_kmeans(sample, n_cells: int, iters: int):
    """Deterministic spherical k-means on a (n, dim) sample: init = first
    n_cells rows (caller supplies an id-ordered sample, so no RNG anywhere),
    Lloyd iterations with unit-normalized centroids. Small and driver-side —
    the model is a (n_cells, dim) matrix, kilobytes."""
    import numpy as np

    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    xn = sample / np.where(norms == 0, 1.0, norms)
    cents = xn[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(xn @ cents.T, axis=1)
        for c in range(n_cells):
            members = xn[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    iters: int = 5,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer — the
    third ANN tier next to brute force (exact baseline) and SRP-LSH.

    Train: spherical k-means on an id-ordered corpus sample (driver-side,
    deterministic, no RNG). Index: one linear `mapInPandas` pass assigns each
    corpus vector to its nearest centroid cell. Search: each query probes its
    ``n_probe`` nearest cells; candidates arrive through a broadcast
    equi-join on the cell id, so only ~n_probe/n_cells of the corpus is ever
    scored per query and the corpus itself never shuffles. Scoring is the
    expression-fold cosine, so returned cos_sim values are bit-identical to
    :func:`brute_force_topk` for the same pair.

    At 100 TB: centroids stay kilobytes regardless of corpus size, the
    assignment pass is embarrassingly parallel, and the per-cell candidate
    lists are the only data a query touches — the classic IVF trade of recall
    (raise ``n_probe``) against scan fraction."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    src = corpus.select(
        F.col(corpus_id).cast("long").alias("neighbor_id"), as_double(vec_col).alias("__cv")
    )
    sample = src.orderBy("neighbor_id").limit(train_rows).toPandas()
    cents = _spherical_kmeans(
        _train_matrix(sample, "__cv", "ivf_topk"), n_cells, iters
    )
    # A corpus smaller than n_cells trains fewer centroids than requested
    # (init = first n_cells sample rows); probe_gen pairs a repeat(n_probe)
    # id column with a [:, :n_probe] slice of the centroid ranking, so an
    # unclamped n_probe > len(cents) mismatches the two lengths and kills
    # the job inside the Arrow batch (found by the r12 full-probe recall-
    # floor property).  Clamp to the trained cell count — semantically
    # identical: there are no further cells to probe.
    n_probe = min(n_probe, int(cents.shape[0]))
    bc = spark.sparkContext.broadcast(cents)

    def assign_gen(batches):
        c_mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["__cv"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            cell = np.argmax((mat / np.where(norms == 0, 1.0, norms)) @ c_mat.T, axis=1)
            out = pdf.copy()
            out["cell"] = cell.astype(np.int32)
            yield out

    assigned = src.mapInPandas(assign_gen, "neighbor_id long, __cv array<double>, cell int")

    q_src = queries.select(
        F.col(query_id).cast("long").alias("query_id"), as_double(vec_col).alias("__qv")
    )

    def probe_gen(batches):
        c_mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["__qv"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            top = np.argsort(-((mat / np.where(norms == 0, 1.0, norms)) @ c_mat.T), axis=1)
            top = top[:, :n_probe]
            idx = np.repeat(np.arange(len(mat)), n_probe)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy()[idx],
                    "__qv": pdf["__qv"].to_numpy()[idx],
                    "cell": top.ravel().astype(np.int32),
                }
            )

    probes = q_src.mapInPandas(probe_gen, "query_id long, __qv array<double>, cell int")
    # Norms hoisted per ROW before the cell join (the norm() directive):
    # cosine() would re-fold both norms per candidate PAIR — 3x the O(dim)
    # work on the hot probed-cell scoring path, for bit-identical results
    # (same float expression, same order; only the hoisting differs).
    scored = (
        assigned.withColumn("__cn", norm(F.col("__cv")))
        .join(F.broadcast(probes.withColumn("__qn", norm(F.col("__qv")))), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
    )
    return _top_k(scored, k, F.col("cos_sim").desc(), _COSINE_TOPK_COLS)


def portable_planes_matrix(n_tables: int, n_planes: int, dim: int):
    """±1 hyperplane tensor from md5 parity — pure Python (hashlib), no
    Spark, no numpy RNG: sign(t, p, d) = 1 - 2 * (md5("t:p:d")[0:15 hex]
    mod 2).  Portable by construction: a SQL engine (or the DuckDB oracle
    generator) derives the IDENTICAL tensor from the same formula, which
    puts the whole SRP bucketing pipeline behind an exact value gate."""
    import hashlib

    import numpy as np

    bits = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                digest = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
                bits[t, p, d] = int(digest[:15], 16) % 2
    return 1.0 - 2.0 * bits


def srp_planes_matrix(spark, n_tables: int, n_planes: int, dim: int):
    """The ±1 hyperplane tensor (n_tables, n_planes, dim), materialized once
    driver-side FROM SPARK'S OWN xxhash64 (one constant-folded projection on
    ``spark.range(1)``) so numpy-side bucketing and any expression-side
    bucketing agree bit-for-bit on the plane entries."""
    import numpy as np

    # One expression over (tables*planes*dim) ROWS, not that many columns —
    # a 2048-column projection costs ~14s of analyzer/codegen time; this is
    # instant. Casts to int match _plane_sign's F.lit(int) IntegerType
    # hashing so both bucketing paths see identical plane entries.
    n = n_tables * n_planes * dim
    rows = (
        spark.range(0, n, 1, 1)
        .select(
            "id",
            F.pmod(
                F.xxhash64(
                    (F.col("id") / (n_planes * dim)).cast("int"),
                    F.pmod(F.floor(F.col("id") / dim), F.lit(n_planes)).cast("int"),
                    F.pmod(F.col("id"), F.lit(dim)).cast("int"),
                ),
                F.lit(2),
            ).alias("bit"),
        )
        .collect()
    )
    bits = np.empty(n, dtype=np.float64)
    for r in rows:
        bits[r["id"]] = r["bit"]
    return 1.0 - 2.0 * bits.reshape(n_tables, n_planes, dim)  # 0 -> +1, 1 -> -1


def _np_buckets(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    planes,
    keep_vec: bool,
    pin_add_order: bool = False,
    spread: bool = True,
) -> DataFrame:
    """(id, vec) -> one row per (id, table_id, bucket) via numpy projection.

    The 32 projections per vector run as one (batch x dim) @ (dim x planes)
    matmul per table inside Arrow batches — versus interpreted per-element
    HOF folds, this is the difference between microseconds and milliseconds
    per row. Both join sides MUST be bucketed by this same function with the
    same ``pin_add_order`` (sign ties on the numpy side then resolve
    identically for both).

    ``pin_add_order``: only the PORTABLE (oracle-verified) plane family
    needs the dimension-ordered accumulate — the same IEEE adds in the same
    order as DuckDB list_dot_product, so a projection within ulps of 0 signs
    identically on both engines.  BLAS matmul uses pairwise/blocked
    summation, not order-reproducible across engines — but the production
    xxhash64 family is never re-derived by another engine, so it keeps the
    matmul instead of paying ~dim extra temporaries for parity it cannot
    use (round-3 advice)."""
    import numpy as np
    import pandas as pd

    n_tables, n_planes, dim = planes.shape
    weights = 2.0 ** np.arange(n_planes)
    out_schema = f"{id_name} long, table_id int, bucket long" + (
        f", {vec_name} array<double>" if keep_vec else ""
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_name].tolist(), dtype=np.float64)
            frames = []
            for t in range(n_tables):
                if pin_add_order:
                    proj = np.zeros((len(mat), n_planes))
                    for i in range(dim):
                        proj += np.outer(mat[:, i], planes[t][:, i])
                else:
                    proj = mat @ planes[t].T
                buckets = ((proj >= 0) @ weights).astype(np.int64)
                f = pd.DataFrame(
                    {id_name: pdf[id_name].to_numpy(), "table_id": t, "bucket": buckets}
                )
                if keep_vec:
                    f[vec_name] = pdf[vec_name].to_numpy()
                frames.append(f)
            yield pd.concat(frames, ignore_index=True)

    src = df.select(F.col(id_name).cast("long").alias(id_name), F.col(vec_name))
    if spread:
        # guide §2.5: a one-split scan would hash the whole corpus on one
        # core; callers bucketing a KNOWN-tiny frame (a query block) pass
        # spread=False so 50 rows don't fan into near-empty tasks.
        src = spread_input(src)
    return src.mapInPandas(gen, out_schema)


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    dim: int | None = None,
    plane_family: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an SRP bucket with the
    query in at least one of ``n_tables`` hash tables (classic multi-table
    LSH: more tables -> higher recall, proportionally more candidates).

    ``plane_family``: "xxhash64" (default; planes from Spark's own hash) or
    "portable" (:func:`portable_planes_matrix`, md5 parity — reproducible by
    any engine, so the bucket pipeline itself can be value-verified).

    At 100 TB the bucket join replaces the cross product: the corpus is
    hashed once (linear scan), the equi-join on (table, bucket) shuffles by
    bucket, and scoring happens within collisions only. ``distinct`` on the
    candidate pair set keeps a vector found in several tables scored once.
    Bucketing runs numpy-side (srp_planes_matrix + matmul per Arrow batch);
    candidate scoring stays expression-side so returned cos_sim values are
    bit-identical to :func:`brute_force_topk` for the same pair."""
    spark = queries.sparkSession
    if plane_family == "portable":
        planes = portable_planes_matrix(n_tables, n_planes, dim or EMBED_DIM)
    else:
        planes = srp_planes_matrix(spark, n_tables, n_planes, dim or EMBED_DIM)
    q_src = queries.select(F.col(query_id).alias("query_id"), as_double(vec_col).alias("__qv"))
    c_src = corpus.select(F.col(corpus_id).alias("neighbor_id"), as_double(vec_col).alias("__cv"))
    pin = plane_family == "portable"
    q = _np_buckets(
        q_src, "query_id", "__qv", planes, keep_vec=False, pin_add_order=pin,
        spread=False,  # query block: tiny by contract, broadcast below
    )
    # keep_vec=False on the corpus side too: vectors must not ride the
    # n_tables-replicated (table_id, bucket) shuffle, and the cross-table
    # dedup below must shuffle 16-byte id pairs, not 512-byte arrays (the
    # semdedup_keep rule).  Vectors re-join ONCE after the dedup.
    # spread=False here too: unlike semdedup (whose candidate scoring pass
    # inherits the bucketing partitions and is the dominant cost), this
    # path only builds (id, table, bucket) rows that immediately join a
    # BROADCAST query block — interleaved A/B at sf0.1 measured the spread
    # exchange as a net loss (1.45s vs 1.14s min-of-5).
    c = _np_buckets(
        c_src, "neighbor_id", "__cv", planes, keep_vec=False, pin_add_order=pin,
        spread=False,
    )
    cand_ids = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c_vec = c_src.select(
        F.col("neighbor_id").cast("long").alias("neighbor_id"), "__cv"
    ).withColumn("__cn", norm(F.col("__cv")))
    q_vec = q_src.select(
        F.col("query_id").cast("long").alias("query_id"), "__qv"
    ).withColumn("__qn", norm(F.col("__qv")))
    # Norms hoisted per row (the norm() directive); cosine_prenormed is the
    # same float expression as cosine(), so cos_sim stays bit-identical to
    # brute_force_topk for the same pair.
    scored = (
        cand_ids.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn(
            "cos_sim",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
        )
    )
    return _top_k(scored, k, F.col("cos_sim").desc(), _COSINE_TOPK_COLS)


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of a float embedding column —
    the standard 4x ANN-index compression step (scale = max|x| / 127,
    q_i = round(x_i / scale)) before shipping vectors to an IVF/HNSW store.

    Rounding is explicit ``floor(x/scale + 0.5)`` (round-half-toward-+inf),
    pure IEEE ops any engine reproduces bit-for-bit; |q_i| <= 127 holds by
    construction, no clamp needed. All-zero vectors quantize to zeros with
    scale 0. Expression-only per-row transform: fuses into the scan stage,
    zero shuffle, zero Python at any corpus size.

    Output: (id, scale, q — array<long> codes, n_sat — count of saturated
    |q_i| = 127 codes, sum_q / sum_abs_q — exact integer checksums for
    cross-engine verification).
    """
    v = as_double(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    q = F.when(
        max_abs > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_sat"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("sum_abs_q"),
    )


def gram_matrix(df: DataFrame, vec_col: str = "embedding", dim: int = EMBED_DIM) -> DataFrame:
    """Distributed Gram matrix ``X^T X`` of an embedding column — the
    covariance/PCA building block (dim x dim from n x dim, e.g. the first
    step of a whitening or low-rank projection pass over corpus
    embeddings).

    Per-partition Arrow batches accumulate a local float64 ``M.T @ M``
    (BLAS, no Python loop over rows), each partition emits its dim^2
    partial cells, and one map-side-combined aggregate sums them: the
    shuffle carries ``partitions x dim^2`` cells — never the vectors — and
    the result is driver-small at any corpus size.  Callers round for
    cross-engine comparison (partition-order summation differs in last
    ulps, like any double sum).
    """
    import numpy as np
    import pandas as pd

    def acc(batches):
        g = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            g += m.T @ m
            seen = True
        if seen:
            ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "partial": g.ravel()}
            )

    parts = df.select(vec_col).mapInPandas(acc, "i int, j int, partial double")
    return parts.groupBy("i", "j").agg(F.sum("partial").alias("g"))


def power_iteration_pc1(
    gram: DataFrame, dim: int, iters: int = 2, scale: int = 6
) -> DataFrame:
    """Dominant principal direction of a Gram matrix by power iteration —
    the distributed-PCA step after gram_matrix: pc1 of X^T X is the top
    right-singular vector of X (the whitening / low-rank-projection axis
    for corpus embeddings).

    ``gram`` is the (i, j, g) cell frame with g already rounded to a fixed
    decimal scale (gram_matrix + round_half_up) so both engines start from
    identical doubles.  Each iteration is relational and exact:

    - y_i = SUM_j round9(g_ij * x_j) accumulated as 1e9-scaled BIGINT —
      products of identical doubles are identical IEEE doubles, the 1e9
      scaling keeps FLOOR exact while |g*x| <= ~9e6 (gram cells grow ~n,
      so renormalize the gram upstream beyond that), and the integer sum
      is order-independent;
    - max-normalize: x'_j = round6(y_j / max_i |y_i|) — one BIGINT max,
      one correctly-rounded divide (bigint->double casts are IEEE
      round-to-nearest in both engines).

    With x0 = ones the whole trajectory is deterministic, so a DuckDB
    re-derivation of the same closed form is bit-identical and the driver
    hash verifies real linear algebra.  Scale shape: the data-sized work
    happened in gram_matrix; iterations touch only dim^2 cells (tiny,
    broadcast joins) regardless of corpus size.  Output: (j, pc1).

    The cell frame is eagerly localCheckpoint-ed first: the iteration DAG
    references ``gram`` once per iteration (plus the max), and without
    truncating the lineage Spark would recompute the full corpus-sized
    gram pass for each reference (measured 4x at 40k vectors in the 20x
    smoke); dim^2 cells are driver-small at any corpus size.
    """
    gram = gram.localCheckpoint(eager=True)
    # Loud precondition instead of silent parity decay: FLOOR(v*1e9 + 0.5)
    # is exact only while |v|*1e9 < 2^53, i.e. |g*x| <= ~9.007e6.  x is
    # max-normalized (|x| <= 1 after every iteration, and x0 = 1), so
    # max|g| bounds every product.  Gram cells grow ~n with corpus size and
    # nothing upstream caps them, so enforce here: the frame is dim^2
    # cells (driver-small at any corpus size), a bounded one-row action.
    lim = (2**53 - 1) / 1e9
    max_g = gram.agg(F.max(F.abs(F.col("g"))).alias("m")).collect()[0]["m"]
    if max_g is not None and max_g > lim:
        raise ValueError(
            f"power_iteration_pc1: max|gram cell| {max_g:.4g} exceeds the "
            f"exact-BIGINT scaling bound {lim:.4g}; renormalize the gram "
            "(divide by a deterministic power of 10) before iterating"
        )
    spark = gram.sparkSession
    x = spark.range(dim).select(
        F.col("id").cast("int").alias("j"), F.lit(1.0).alias("x")
    )
    for _ in range(iters):
        y = (
            gram.join(F.broadcast(x), "j")
            .select(
                "i",
                F.floor((F.col("g") * F.col("x")) * 1e9 + 0.5)
                .cast("long")
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("y"))
        )
        m = y.agg(F.max(F.abs(F.col("y"))).alias("m"))
        # Collapsed iteration (every surviving y_i is exactly 0, e.g. a
        # gram whose only nonzero column is orthogonal to the surviving
        # subspace): max|y| = 0, and the bare divide is an ANSI
        # DIVIDE_BY_ZERO that kills the whole job (found by the r10 PC1
        # model property drawing a degenerate gram in r11).  The zero
        # vector is the honest fixed point — normalize to it explicitly
        # and the trajectory stays total and engine-replicable.
        x = y.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("j"),
            F.when(F.col("m") == 0, F.lit(0.0))
            .otherwise(
                round_half_up(
                    F.col("y").cast("double") / F.col("m").cast("double"),
                    scale,
                )
            )
            .alias("x"),
        )
    return x.select("j", F.col("x").alias("pc1"))


def _quantize6(vec: Column) -> Column:
    """Round every coordinate to 6 dp half-up — the fixed-point anchor that
    makes centroid MEANS exactly decimal-summable (raw floats have
    unbounded decimal expansions; their double sums are partition-order
    dependent and would break cross-engine verification)."""
    return F.transform(vec, lambda x: F.floor(x * 1e6 + 0.5) / 1e6)


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 1,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Distributed Lloyd k-means with a fully deterministic, cross-engine
    exact trajectory: ``iters`` update rounds from a fixed init (the k
    vectors with the smallest ids), then a final assignment, reporting
    per-cluster sizes and inertia.

    Why every step is exact (so a DuckDB re-derivation bit-matches):

    - coordinates quantize to 6 dp once (:func:`_quantize6`);
    - squared distance = ``v.v - 2*v.c + c.c`` with each dot the
      sequential fold that DuckDB's list_dot_product reproduces
      bit-for-bit (see :func:`dot`);
    - argmin = MIN over (dist, cid) structs — lexicographic, so ties
      break to the smallest cluster id deterministically, and the
      aggregate is map-side combinable (no per-vector window shuffle);
    - centroid update = exact DECIMAL(38,6) per-dimension sums divided by
      the member count — order-independent, one (cid, dim) shuffle of
      grid-sized cardinality after the posexplode;
    - inertia = per-row distances rounded to 6 dp, decimal-summed.

    Scale shape: assignment fans each vector out k ways against the
    BROADCAST centroid frame and combines map-side; the update shuffles
    (k x dim) cells; nothing driver-sized ever materializes.  Output:
    (cluster_id, n_members, inertia).
    """
    # Pin the quantized projection once (r14, guide §5, same move as
    # kcenter_greedy): it feeds the init pick plus one assignment pass per
    # round plus the final assignment — each was a full re-scan +
    # re-quantize.  MEMORY_AND_DISK checkpoint = the materialized working
    # set a production run would write between stages, scale-safe.  Spread
    # first so a one-split scan doesn't cache as one serial block (§2.5);
    # every consumer is an order-insensitive aggregate (min-struct argmin,
    # exact decimal sums).
    q = spread_input(
        df.select(
            F.col(id_col).alias("vid"), _quantize6(as_double(vec_col)).alias("q")
        )
    ).localCheckpoint(eager=False)
    w_init = Window.orderBy("vid")
    # Each centroid frame is k rows — eagerly localCheckpoint it so the
    # next round's lineage doesn't re-run the previous round's full
    # assignment + update (the multiplicative-DAG trap; measured 14s -> 4s
    # at 2k vectors).
    cents = (
        q.orderBy("vid")
        .limit(k)
        .select((F.row_number().over(w_init) - 1).alias("cid"), F.col("q").alias("cvec"))
        .localCheckpoint(eager=True)
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        # v.v once per ROW and c.c once per CENTROID (not per pair), and
        # the per-pair v.c as the statically-unrolled codegen fold (the
        # single unrolled dot this plan carries — see dot()'s janino
        # note).  Identical adds/multiplies in identical order as the
        # all-HOF form, so values are unchanged — only the fanned-out
        # per-pair cost drops to one dot.
        qv = q.withColumn("vv", dot(F.col("q"), F.col("q")))
        cc = cents_df.withColumn("cc", dot(F.col("cvec"), F.col("cvec")))
        dist = (
            F.col("vv")
            - 2.0 * dot(F.col("q"), F.col("cvec"), dim)
            + F.col("cc")
        )
        scored = qv.crossJoin(F.broadcast(cc)).select(
            "vid", "q", F.struct(dist.alias("dist"), F.col("cid").alias("cid")).alias("s")
        )
        best = scored.groupBy("vid", "q").agg(F.min("s").alias("m"))
        return best.select(
            "vid", "q", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist")
        )

    for _ in range(iters):
        assigned = assign(cents)
        means = (
            assigned.select("cid", F.posexplode("q").alias("i", "v"))
            .groupBy("cid", "i")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
        )
        cents = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("cvec")
        ).localCheckpoint(eager=True)

    final = assign(cents)
    return (
        final.select(
            "cid", (F.floor(F.col("dist") * 1e6 + 0.5) / 1e6).alias("d6")
        )
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("d6").cast("decimal(38,6)")).cast("double").alias("inertia"),
        )
    )


def _pq_codebooks(sample, m: int, k: int, iters: int):
    """Deterministic per-subvector Lloyd k-means on an id-ordered sample
    (init = first k rows of each subvector slice, no RNG) — the PQ
    codebook trainer.  Driver-side and tiny: the model is (m, k, dim/m),
    kilobytes regardless of corpus size."""
    import numpy as np

    n, dim = sample.shape
    if dim % m != 0:
        # the slicing below covers exactly m*dsub dims; a remainder would
        # be silently ignored in BOTH encoding and ADC scoring and recall
        # would degrade with no error — refuse loudly instead
        raise ValueError(
            f"PQ requires m to divide the vector dim: dim={dim}, m={m}"
        )
    dsub = dim // m
    # Distance evaluation stays 2D: per subvector, accumulate per-dim
    # broadcast squared differences into one (n, k) buffer.  The obvious
    # alternatives are much slower driver-side (this trains on every
    # pq/ivfpq call): the (n, k, dsub) difference tensor costs 3.3s for
    # m=32, k=256 on a 2k sample; skinny (n,2)@(2,k) gemms ~3ms each on
    # single-threaded BLAS; batched 3D matmul/broadcasts thrash cache on
    # their (m, n, k) temporaries.  This form measures 0.6s.
    kk = min(k, n)  # degenerate tiny samples: fewer codes than requested
    books = np.empty((m, kk, dsub), dtype=np.float64)
    d2 = np.empty((n, kk), dtype=np.float64)
    tmp = np.empty((n, kk), dtype=np.float64)
    for j in range(m):
        sub = np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub])
        cents = sub[:kk].copy()
        for _ in range(iters):
            d2[:] = 0.0
            for d in range(dsub):
                # out=/in-place forms: same subtract/square/add float ops
                # (bit-equal books, asserted in the r14 A/B) minus two
                # (n, k) temp allocations per dim — trainer 0.69 -> 0.53 s
                # on the 2k x 256 bench shape, and this runs per pq/ivfpq
                # call on the driver.
                np.subtract(sub[:, d, None], cents[None, :, d], out=tmp)
                tmp *= tmp
                d2 += tmp
            assign = np.argmin(d2, axis=1)
            # vectorized Lloyd update (no per-centroid Python loop):
            # scatter-add member sums, divide by counts, keep empty cells
            sums = np.zeros((kk, dsub), dtype=np.float64)
            np.add.at(sums, assign, sub)
            counts = np.bincount(assign, minlength=kk).astype(np.float64)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        books[j] = cents
    return books


def _pq_encode(mat, books):
    """(n, dim) vectors -> (n, m) int32 sub-codes: per subvector the
    nearest codebook entry.  argmin_c ||s - c||^2 == argmin_c (||c||^2 -
    2 s.c) since the row norm is constant per row, so each subvector is one
    BLAS gemm plus a broadcast add — no (batch, k, dsub) tensor."""
    import numpy as np

    m, _, dsub = books.shape
    c2 = (books**2).sum(axis=2)  # (m, k)
    codes = np.empty((len(mat), m), dtype=np.int32)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = np.argmin(c2[j][None, :] - 2.0 * (sub @ books[j].T), axis=1)
    return codes


def _exact_rerank(
    scored: DataFrame,
    k: int,
    rerank: int,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """ADC-scored ``(query_id, neighbor_id, adc_dist)`` rows -> exact top-k:
    keep each query's ``max(k, rerank)`` nearest by ADC (a caller asking
    ``rerank < k`` must still get k neighbors), pull the float vectors of
    that broadcast shortlist back, and rank by the expression-fold cosine,
    so cos_sim is bit-identical to :func:`brute_force_topk`."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= max(k, rerank))
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        as_double(vec_col).alias("__qv"),
    )
    cv = corpus.select(
        F.col(corpus_id).cast("long").alias("neighbor_id"),
        as_double(vec_col).alias("__cv"),
    )
    exact = (
        cv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    return _top_k(exact, k, F.col("cos_sim").desc(), _COSINE_TOPK_COLS)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 16,
    n_codes: int = 32,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    iters: int = 5,
    rerank: int = 0,
) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION with asymmetric distance
    (ADC) — the memory-bandwidth-compression ANN tier next to brute force,
    SRP-LSH, and IVF: each unit-normalized corpus vector is stored as
    ``m`` sub-codes of ``log2(n_codes)`` bits (64 float dims -> m bytes),
    and a query scores a row by summing m lookup-table entries instead of
    a dim-length dot product.

    Spark shape for 100 TB: codebooks train driver-side on an id-ordered
    sample (deterministic, no RNG) and BROADCAST; encoding is one linear
    ``mapInPandas`` pass emitting the compact code column (the float
    vectors die there — downstream scans move m bytes/row, the entire
    point of PQ); scoring builds each query's (m, n_codes) LUT once,
    scans the codes, and keeps a PER-PARTITION top-k so the shuffle
    carries ``partitions x |Q| x k`` rows, never the corpus.  L2-on-unit
    vectors ranks identically to cosine, so recall is measured against
    :func:`brute_force_topk`."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession

    def normed(df, idc):
        return _unit_normed(df, idc, vec_col)

    src = normed(corpus, corpus_id)
    # toPandas, not collect: the Arrow transfer path moves the sample as
    # columnar batches instead of pickled Row objects (guide §6; ~2x on
    # the 2k x 64 training pull, values bit-identical).
    sample = src.orderBy("__id").limit(train_rows).toPandas()
    books = _pq_codebooks(
        _train_matrix(sample, "__v", "pq_topk"), m, n_codes, iters
    )
    bc_books = spark.sparkContext.broadcast(books)
    dsub = books.shape[2]

    def encode_gen(batches):
        bk = bc_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["__v"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {"neighbor_id": pdf["__id"].values, "codes": list(_pq_encode(mat, bk))}
            )

    # NO spread_input here (r14 interleaved A/B: 3.11 s vs 3.93 s with) —
    # the vectorized encode+score chain on this corpus is light per row,
    # so the inserted exchange plus per-task LUT rebuilds cost more than
    # the parallelism pays; on a real multi-split corpus the scan is
    # already parallel and spread would be a no-op anyway.
    encoded = src.mapInPandas(
        encode_gen, "neighbor_id long, codes array<int>"
    )

    q_pdf = normed(queries, query_id).toPandas()  # |Q| is query-sized, small
    q_ids = q_pdf["__id"].to_numpy(dtype=np.int64)
    q_mat = np.array(q_pdf["__v"].tolist(), dtype=np.float64)
    bc_q = spark.sparkContext.broadcast((q_ids, q_mat))

    def score_gen(batches):
        bk = bc_books.value
        ids, mat = bc_q.value
        # per-query LUT: squared L2 from each query subvector to each code
        luts = np.empty((len(ids), m, bk.shape[1]), dtype=np.float64)
        for j in range(m):
            qs = mat[:, j * dsub : (j + 1) * dsub]
            luts[:, j, :] = ((qs[:, None, :] - bk[j][None, :, :]) ** 2).sum(axis=2)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            nid = pdf["neighbor_id"].to_numpy()
            outq, outn, outd = [], [], []
            for qi in range(len(ids)):
                adc = luts[qi, np.arange(m)[None, :], codes].sum(axis=1)
                mask = nid != ids[qi]
                keep = max(k, rerank)
                cand_d, cand_n = adc[mask], nid[mask]
                if len(cand_d) > keep:
                    part = np.argpartition(cand_d, keep)[:keep]
                    cand_d, cand_n = cand_d[part], cand_n[part]
                outq.extend([ids[qi]] * len(cand_d))
                outn.extend(cand_n.tolist())
                outd.extend(cand_d.tolist())
            yield pd.DataFrame(
                {"query_id": outq, "neighbor_id": outn, "adc_dist": outd}
            )

    scored = encoded.mapInPandas(
        score_gen, "query_id long, neighbor_id long, adc_dist double"
    )
    if not rerank:
        return _top_k(
            scored, k, F.col("adc_dist").asc(), ["query_id", "neighbor_id", "adc_dist", "rank"]
        )
    return _exact_rerank(scored, k, rerank, queries, corpus, query_id, corpus_id, vec_col)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 6,
    m: int = 32,
    n_codes: int = 256,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    iters: int = 5,
    rerank: int = 100,
) -> DataFrame:
    """IVF-PQ: the composed production ANN index — an IVF coarse quantizer
    bounds the SCAN FRACTION (each query touches ~n_probe/n_cells of the
    corpus) while residual product quantization bounds the BYTES PER ROW
    (m one-byte codes instead of the float vector), and an exact cosine
    re-rank of the shortlist restores top-k quality.  This is the
    standard large-scale layout (IVFADC): neither ivf_topk (floats in the
    probed cells) nor pq_topk (full code scan) alone gives both bounds.

    Deterministic like its parts: id-ordered training sample, no RNG.
    Index pass = ONE mapInPandas over the corpus emitting (cell, codes) —
    codes quantize the RESIDUAL x - centroid(cell), the classic trick
    that keeps codebook resolution where the data is.  Search: probes
    broadcast-join the code frame on cell id, per-(query, cell) ADC
    lookup tables score only in-cell codes with a per-partition
    shortlist, and the broadcast shortlist pulls float vectors back for
    the exact re-rank (cos_sim bit-identical to brute force)."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession

    def normed(df, idc):
        return _unit_normed(df, idc, vec_col)

    src = normed(corpus, corpus_id)
    sample = _train_matrix(
        src.orderBy("__id").limit(train_rows).toPandas(), "__v", "ivfpq_topk"
    )
    cents = _spherical_kmeans(sample, n_cells, iters)
    resid = sample - cents[np.argmax(sample @ cents.T, axis=1)]
    books = _pq_codebooks(resid, m, n_codes, iters)
    bc = spark.sparkContext.broadcast((cents, books))
    dsub = books.shape[2]

    def index_gen(batches):
        c_mat, bk = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["__v"].tolist(), dtype=np.float64)
            cell = np.argmax(mat @ c_mat.T, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["__id"].values,
                    "cell": cell.astype(np.int32),
                    "codes": list(_pq_encode(mat - c_mat[cell], bk)),
                }
            )

    # NO spread_input (r14 A/B; see pq_topk's note).
    indexed = src.mapInPandas(
        index_gen, "neighbor_id long, cell int, codes array<int>"
    )

    q_pdf = normed(queries, query_id).toPandas()
    q_ids = q_pdf["__id"].to_numpy(dtype=np.int64)
    q_mat = _train_matrix(q_pdf, "__v", "ivfpq_topk(queries)")
    bc_q = spark.sparkContext.broadcast((q_ids, q_mat))

    # The docstring's contract, literally: probes broadcast-join the code
    # frame on cell id, so ADC scoring sees ONLY rows some query probes —
    # each query touches ~n_probe/n_cells of the corpus (the IVF scan-
    # fraction bound).  A per-query np.isin mask over the full code frame
    # would cost O(|Q| * corpus) regardless of n_probe.
    probe = np.argsort(-(q_mat @ cents.T), axis=1)[:, :n_probe]
    probes_df = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(c))
            for qi in range(len(q_ids))
            for c in probe[qi]
        ],
        "query_id long, cell int",
    )
    joined = indexed.join(F.broadcast(probes_df), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def score_gen(batches):
        c_mat, bk = bc.value
        ids, mat = bc_q.value
        qidx = {int(i): n for n, i in enumerate(ids)}
        # LUT[q][cell] built lazily per probed (query, cell): squared L2
        # from the query residual's subvectors to each code
        luts: dict = {}

        def lut(qi, cell):
            key = (qi, cell)
            if key not in luts:
                qr = mat[qi] - c_mat[cell]
                t = np.empty((m, bk.shape[1]), dtype=np.float64)
                for j in range(m):
                    qs = qr[j * dsub : (j + 1) * dsub]
                    t[j] = ((qs[None, :] - bk[j]) ** 2).sum(axis=1)
                luts[key] = t
            return luts[key]

        keep = max(k, rerank)
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["cell"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            nid = pdf["neighbor_id"].to_numpy()
            qids_b = pdf["query_id"].to_numpy()
            outq, outn, outd = [], [], []
            for qv_ in np.unique(qids_b):
                sel = qids_b == qv_
                qi = qidx[int(qv_)]
                sc, sn, scell = codes[sel], nid[sel], cells[sel]
                adc = np.empty(len(sn), dtype=np.float64)
                for cell in np.unique(scell):
                    msk = scell == cell
                    adc[msk] = lut(qi, int(cell))[
                        np.arange(m)[None, :], sc[msk]
                    ].sum(axis=1)
                if len(adc) > keep:
                    # tie-aware per-batch prefilter: same (adc, neighbor_id)
                    # order as the global shortlist window, so the batch cut
                    # can never drop a row the window would have kept
                    part = np.lexsort((sn, adc))[:keep]
                    adc, sn = adc[part], sn[part]
                outq.extend([int(qv_)] * len(sn))
                outn.extend(sn.tolist())
                outd.extend(adc.tolist())
            yield pd.DataFrame(
                {"query_id": outq, "neighbor_id": outn, "adc_dist": outd}
            )

    scored = joined.mapInPandas(
        score_gen, "query_id long, neighbor_id long, adc_dist double"
    )
    return _exact_rerank(scored, k, rerank, queries, corpus, query_id, corpus_id, vec_col)


def semdedup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    dim: int | None = None,
    plane_family: str = "xxhash64",
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate pruning: KEEP a row unless
    some LOWER-id row within cosine >= ``threshold`` shares an SRP bucket
    with it in at least one of ``n_tables`` hash tables (Abbas et al. 2023,
    "SemDeDup", arXiv:2303.09540 — public knowledge; the cluster-then-prune
    recipe re-expressed on the repo's multi-table SRP index instead of a
    k-means partition, so candidate generation is the SAME bucketed
    equi-join the ANN path uses).

    Deterministic keep rule: drop the HIGHER id of every near-dup candidate
    pair — a single pairwise predicate (not the order-dependent greedy
    chain), so the kept set is well-defined independent of partitioning and
    exactly re-derivable by the SQL oracle.

    100 TB shape: corpus hashed once (linear), candidates from the
    (table, bucket) equi-join — never all-pairs; scoring runs BEFORE the
    dedup so only ids (not 64-double vectors) go through the wide
    ``distinct`` shuffle; the final keep is one broadcast-able left_anti
    join (dropped ids << corpus). More planes -> smaller buckets at scale;
    recall per (threshold, tables, planes) is measured in
    tests/test_similarity.py.
    """
    if plane_family == "portable":
        planes = portable_planes_matrix(n_tables, n_planes, dim or EMBED_DIM)
    else:
        planes = srp_planes_matrix(df.sparkSession, n_tables, n_planes, dim or EMBED_DIM)
    pin = plane_family == "portable"
    d = dim or EMBED_DIM
    src = df.select(
        F.col(id_col).cast("long").alias(id_col), as_double(vec_col).alias("__v")
    )
    # localCheckpoint: the bucketed frame feeds BOTH self-join sides, and
    # the two sides' exchanges are not plan-identical (different output
    # projections), so nothing reuses them — without the pin the Arrow
    # SRP-hashing pass over every vector ran twice (r13 profile: 6 Python
    # nodes in the plan for 3 logical passes).  Blocks release at GC, the
    # repo-wide checkpoint discipline.
    b = _np_buckets(
        src, id_col, "__v", planes, keep_vec=True, pin_add_order=pin
    ).localCheckpoint(eager=False)
    a_side = b.select(
        F.col(id_col).alias("__ida"), "table_id", "bucket", F.col("__v").alias("__va")
    )
    b_side = b.select(
        F.col(id_col).alias("__idb"), "table_id", "bucket", F.col("__v").alias("__vb")
    )
    # Score within collisions, THEN distinct on the bare id: a pair found in
    # several tables is scored more than once but the distinct shuffles
    # 8-byte ids, not 512-byte vectors.  Scoring runs as an Arrow-batched
    # dimension-ordered numpy accumulate (_ordered_cosine_filter): the same
    # left-to-right IEEE adds as DuckDB's list_dot_product fold, so the
    # oracle is still bit-identical — but vectorized across the batch
    # instead of an expression-interpreted fold per pair (the unrolled
    # getItem chain costs ~20us/pair; this is ~100x cheaper, measured
    # 19.4s -> 2s on the sf0.1 bench's 1M candidate pairs).
    joined = a_side.join(b_side, ["table_id", "bucket"]).filter(
        F.col("__ida") < F.col("__idb")
    )
    dropped = (
        _ordered_cosine_filter(joined, "__va", "__vb", "__idb", threshold, d)
        .withColumnRenamed("__idb", id_col)
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")


def _ordered_cosine_filter(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keep_col: str,
    threshold: float,
    dim: int,
) -> DataFrame:
    """Filter candidate pairs to cosine >= threshold with DIMENSION-ORDERED
    accumulation — ``acc += a[:, i] * b[:, i]`` for i in 0..dim-1 — which
    reproduces DuckDB's ``list_dot_product`` sequential left fold bit-for-
    bit (same adds, same order, vectorized ACROSS pairs instead of along
    dims), exactly like ``_np_buckets``'s pin_add_order projection.  Emits
    only ``keep_col``: vectors die here, the downstream shuffle carries
    bare ids."""
    import numpy as np
    import pandas as pd

    out_field = pairs.schema[keep_col]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(pdf[a_col].tolist(), dtype=np.float64)
            b = np.array(pdf[b_col].tolist(), dtype=np.float64)
            ab = np.zeros(len(a))
            aa = np.zeros(len(a))
            bb = np.zeros(len(a))
            for i in range(dim):
                ab += a[:, i] * b[:, i]
                aa += a[:, i] * a[:, i]
                bb += b[:, i] * b[:, i]
            cos = ab / (np.sqrt(aa) * np.sqrt(bb))
            yield pd.DataFrame({keep_col: pdf[keep_col].to_numpy()[cos >= threshold]})

    return pairs.mapInPandas(gen, f"{keep_col} {out_field.dataType.simpleString()}")


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    most-similar corpus vectors whose ``label_col`` DIFFERS from the
    query's — the classic in-batch-negatives upgrade (pick negatives the
    model currently confuses with positives).

    Same 100 TB shape as :func:`brute_force_topk` (exact tier): the query
    block broadcasts, the corpus never shuffles for the join, and the label
    filter prunes pairs BEFORE scoring.  For corpus-scale query sets,
    route candidate generation through :func:`lsh_bucket_topk` buckets and
    apply the same label predicate — the semantics stay identical.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(label_col).alias("query_label"),
        as_double(vec_col).alias("__qv"),
    ).withColumn("__qn", norm(F.col("__qv"), dim))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        as_double(vec_col).alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv"), dim))
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neg_label") != F.col("query_label")),
    ).withColumn(
        "cos_sim",
        cosine_prenormed(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"), dim),
    )
    return _top_k(
        scored,
        k,
        F.col("cos_sim").desc(),
        ["query_id", "query_label", "neighbor_id", "neg_label", "cos_sim", "rank"],
    )


def kcenter_greedy(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 6,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point traversal) CORESET
    selection — the diversity-sampling primitive of training-data
    curation: pick the k points that minimize (2-approximately) the
    maximum distance from any corpus point to its nearest selected
    representative.  Dedup keeps one of each near-identical group;
    k-center goes the other way and keeps the SPREAD.

    Fully deterministic, cross-engine-exact trajectory (same contract as
    :func:`kmeans_lloyd`): coordinates quantize to 6 dp once; squared
    distance is ``v.v - 2*v.c + c.c`` with sequential-fold dots (bit-equal
    to DuckDB ``list_dot_product``); the seed is the smallest id; each of
    the k-1 rounds picks argmax of the min-distance-to-selected under the
    (dist DESC, id ASC) total order via a single MAX over (d, -id, vec)
    structs — map-side combinable, no window.  ``LEAST`` over per-center
    distances equals the incremental running-min chain exactly.

    Scale shape: each round is ONE aggregate over the corpus with all
    selected centers riding in the plan as literals (k*dim doubles — the
    only driver-side state, bounded by the model not the data); the final
    assignment broadcasts the k-row center frame exactly like
    kmeans_lloyd.  Output: one row per selected center —
    ``(step, center_id, radius, n_assigned)`` where ``radius`` is the
    covering distance the pick closed (NULL for the seed).
    """
    spark = df.sparkSession
    q = df.select(
        F.col(id_col).alias("vid"), _quantize6(as_double(vec_col)).alias("q")
    )
    # Pin the quantized projection ONCE (r14, guide §5): the k-1 greedy
    # rounds are inherently sequential driver actions and each re-scanned
    # the parquet + re-ran the O(dim) quantize/vv transforms (k+1 full
    # recomputes measured in the r14 profile).  localCheckpoint is
    # MEMORY_AND_DISK, so at scale this is the standard materialize-the-
    # working-set move, not a local[32] tune; the seed pick below doubles
    # as the materializing action.  Spread FIRST (guide §2.5): a one-split
    # scan would otherwise cache as ONE block and every round's k-dot
    # aggregate would stay serial no matter the cluster width.
    qv = spread_input(
        q.withColumn("vv", dot(F.col("q"), F.col("q")))
    ).localCheckpoint(eager=False)
    first = qv.orderBy("vid").limit(1).collect()[0]

    def py_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    centers: list[tuple] = [(0, int(first["vid"]), [float(x) for x in first["q"]], None)]
    for step in range(1, k):
        dists = []
        for _s, _cid, cvec, _r in centers:
            carr = F.array(*[F.lit(x) for x in cvec])
            # fold-form dots here: up to k-1 of them share one projection,
            # so unrolling all of them would blow janino (see dot()).
            dists.append(
                F.col("vv") - 2.0 * dot(F.col("q"), carr) + F.lit(py_dot(cvec, cvec))
            )
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        pick = (
            qv.select(
                F.struct(
                    mind.alias("d"),
                    (-F.col("vid")).alias("nid"),
                    F.col("q").alias("q"),
                ).alias("s")
            )
            .agg(F.max("s").alias("m"))
            .collect()[0]["m"]
        )
        centers.append(
            (step, int(-pick["nid"]), [float(x) for x in pick["q"]], float(pick["d"]))
        )

    cents = spark.createDataFrame(
        centers, "step int, center_id long, cvec array<double>, radius double"
    )
    cc = cents.withColumn("cc", dot(F.col("cvec"), F.col("cvec")))
    dist = F.col("vv") - 2.0 * dot(F.col("q"), F.col("cvec"), dim) + F.col("cc")
    best = (
        qv.crossJoin(F.broadcast(cc))
        .select(
            "vid",
            F.struct(dist.alias("dist"), F.col("step").alias("step")).alias("s"),
        )
        .groupBy("vid")
        .agg(F.min("s").alias("m"))
    )
    counts = best.groupBy(F.col("m.step").alias("step")).agg(
        F.count(F.lit(1)).alias("n_assigned")
    )

    return (
        cents.join(F.broadcast(counts), "step", "left")
        .select(
            "step",
            "center_id",
            round_half_up("radius", 6).alias("radius"),
            F.coalesce("n_assigned", F.lit(0)).cast("long").alias("n_assigned"),
        )
    )
