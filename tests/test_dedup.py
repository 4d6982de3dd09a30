"""Fuzzy-dedup validation: the non-oracled (xxhash64-based) candidate
generators must find the ground-truth near-dup pairs that exact n-gram
Jaccard identifies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from aws_etl_fiap_spark.sources.readers import load_table


def _truth_pairs(spark, sf_dir, threshold=0.6):
    df = load_table(spark, sf_dir, "documents")
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold, n=3).collect()
    }


def test_minhash_lsh_recall(spark, sf_correctness):
    """MinHash banding (8x4) should recover essentially all pairs with
    jaccard >= 0.6 (collision prob per band = j^4; 1-(1-j^4)^8 ≈ 0.71 at
    j=0.6, ≈ 0.999 at j=0.9 — planted dups are ~0.99)."""
    truth = _truth_pairs(spark, sf_correctness, threshold=0.9)
    assert truth, "testdata should contain planted near-duplicates"
    df = load_table(spark, sf_correctness, "documents")
    candidates = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    missed = truth - candidates
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_finds_planted_dups(spark, sf_correctness):
    truth = _truth_pairs(spark, sf_correctness, threshold=0.95)
    df = load_table(spark, sf_correctness, "documents")
    found = {(r.id_a, r.id_b) for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    missed = truth - found
    # SimHash at 16 bits is a blocker, not an exact method; it must still
    # catch the ~identical pairs.
    assert len(missed) <= max(1, len(truth) // 5), f"simhash missed too many: {missed}"


def test_exact_dedup_deterministic_canonical(spark, sf_correctness):
    df = load_table(spark, sf_correctness, "documents")
    # Duplicate every row under a shifted id: canonical pick must be the
    # original (smaller) id for every text.
    shifted = df.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    union = df.unionByName(shifted)
    out = exact_dedup(union, ["text"], "doc_id")
    assert out.count() == df.count()
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_connected_components_chain_and_islands(spark):
    from aws_etl_fiap_spark.operators.graph import connected_components

    # Chain 1-2-3-4 (diameter 3), pair {10,11}, edge given in both
    # directions {20,21} — labels must be the component minimum everywhere.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {(r.id, r.comp) for r in connected_components(edges, "src", "dst").collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_empty_edges_returns_empty(spark):
    """r13 regression: zero edges is a NORMAL state (a clean shard's pair
    stage), not a convergence failure — the empty SUM in the change
    detector is NULL, which used to read as 'still changing' and burn
    max_iter rounds before raising 'did not converge'."""
    from aws_etl_fiap_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(edges, "src", "dst")
    assert out.count() == 0
    assert out.columns == ["id", "comp"]
    assert dict(out.dtypes) == {"id": "bigint", "comp": "bigint"}


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    from aws_etl_fiap_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # 1 round = HOPS_PER_ROUND (2) hops; the 4-chain needs 3.
        connected_components(edges, "src", "dst", max_iter=1)


def test_connected_components_broadcast_and_shuffle_paths_agree(spark, monkeypatch):
    """The broadcast-labels hop and the shuffle-join hop (the
    >BROADCAST_VERTEX_ROWS fallback — the 100 TB path no registered query
    exercises at test scale) must label identically."""
    import aws_etl_fiap_spark.operators.graph as G

    # oriented unique (src < dst), chain + islands, incl. a diameter-3 chain
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (5, 21)],
        "src long, dst long",
    )
    want = {(r.id, r.comp) for r in G.connected_components(edges, "src", "dst").collect()}
    monkeypatch.setattr(G, "BROADCAST_VERTEX_ROWS", 0)  # every hop shuffles
    shuffled = {
        (r.id, r.comp) for r in G.connected_components(edges, "src", "dst").collect()
    }
    assert shuffled == want


def test_pagerank_broadcast_and_shuffle_paths_agree(spark, monkeypatch):
    """The r13 size-gated broadcast in the pagerank loop must be invisible
    in the values: forcing the large-|V| shuffle fallback (per-round
    eager checkpoints, no hints) yields the same ranks to 9 dp — the same
    tolerance the registered query's oracle is graded at."""
    import aws_etl_fiap_spark.operators.graph as G

    e = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 2), (1, 3), (4, 1), (1, 4)]
    df = spark.createDataFrame(e, "src long, dst long")
    bcast = {r["id"]: r["pr"] for r in G.pagerank(df, iters=3).collect()}
    monkeypatch.setattr(G, "BROADCAST_VERTEX_ROWS", 0)
    shuf = {r["id"]: r["pr"] for r in G.pagerank(df, iters=3).collect()}
    assert set(bcast) == set(shuf) == {1, 2, 3, 4}
    for k in bcast:
        assert abs(bcast[k] - shuf[k]) < 1e-9, (k, bcast[k], shuf[k])


def test_portable_family_recall_matches_xxhash(spark, sf_correctness):
    """The portable (md5+mix) hash family powers the driver-oracled queries;
    it must blocklist the same planted near-dups the xxhash64 family does
    (hash constants change WHICH random pairs band-collide, not whether
    ~0.99-jaccard dups are caught)."""
    truth = _truth_pairs(spark, sf_correctness, threshold=0.9)
    assert truth
    df = load_table(spark, sf_correctness, "documents")
    cand = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", hash_family="portable").collect()
    }
    assert not truth - cand, f"portable LSH missed: {truth - cand}"
    sim = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            df, "doc_id", "text", max_hamming=3, hash_family="portable"
        ).collect()
    }
    missed = truth - sim
    assert len(missed) <= max(1, len(truth) // 5), f"portable simhash missed: {missed}"


def test_shingle_rows_null_text_emits_nothing(spark):
    """A NULL document must vanish from the shingle stream (round-1 advice:
    the Arrow loop raised AttributeError on None)."""
    from aws_etl_fiap_spark.operators.dedup import shingle_rows

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "x y")],  # doc 3 has < n tokens
        "doc_id long, text string",
    )
    rows = shingle_rows(df, "doc_id", "text", n=3).collect()
    assert {r.doc for r in rows} == {1}


def test_verified_fuzzy_pairs_subset_of_exact_with_recall(spark, sf_correctness):
    """LSH+verify must return EXACTLY the exact-Jaccard pairs whose
    candidates the banding surfaced: a subset of ground truth with identical
    jaccard values, and full recall on the ~0.99 planted dups."""
    from aws_etl_fiap_spark.operators.dedup import verified_fuzzy_pairs

    df = load_table(spark, sf_correctness, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.5, n=3).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in verified_fuzzy_pairs(df, "doc_id", "text", 0.5).collect()
    }
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert j == exact[pair]  # verification stage reports TRUE jaccard bits
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high and high <= set(got), "LSH+verify missed near-identical dups"


def test_incremental_dedup_drops_recrawls_keeps_new(spark):
    from aws_etl_fiap_spark.operators.dedup import content_hash, incremental_exact_dedup

    history_docs = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], "doc_id long, text string"
    )
    seen = history_docs.select(content_hash("text").alias("content_hash"))
    batch = spark.createDataFrame(
        [
            (10, "old doc one"),   # re-crawl -> dropped
            (11, "fresh doc"),     # new -> kept
            (12, "fresh doc"),     # within-batch dup -> canonical 11 only
            (13, "another fresh"),
        ],
        "doc_id long, text string",
    )
    out = incremental_exact_dedup(batch, seen, "doc_id", "text")
    assert {r.doc_id for r in out.collect()} == {11, 13}


def test_shingle_df_cap_blocks_stop_shingle_pairs(spark):
    """A shingle shared by every document (a boilerplate header) must not
    generate pairs once its df exceeds the cap: pair generation reads capped
    postings, while doc sizes keep the true count — mirrored exactly by the
    DuckDB oracle's capped definition (round-2 scale-killer fix)."""
    from aws_etl_fiap_spark.operators.dedup import verified_fuzzy_pairs

    boiler = "subscribe to our newsletter today"  # one 5-token stop phrase
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i}") for i in range(20)]
    # Two genuine near-dups that also carry the boilerplate.
    rows += [(100, f"{boiler} same body of text here"),
             (101, f"{boiler} same body of text here also")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b): (r.shared, r.jaccard)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.0, n=3,
                                     max_shingle_df=None).collect()
    }
    capped = {
        (r.id_a, r.id_b): (r.shared, r.jaccard)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.0, n=3,
                                     max_shingle_df=5).collect()
    }
    # Uncapped: the boilerplate shingles pair EVERY document (22*21/2 pairs).
    assert len(uncapped) == 22 * 21 // 2
    # Capped at 5: the boilerplate postings (df=22) are dropped, so only the
    # genuine near-dup pair survives, counted over its sub-cap shingles only.
    assert set(capped) == {(100, 101)}
    shared, jac = capped[(100, 101)]
    assert shared < uncapped[(100, 101)][0]  # boilerplate shingles excluded
    assert 0 < jac < uncapped[(100, 101)][1]  # lower-bound jaccard

    # The verified (LSH + exact check) tier applies the SAME cap definition.
    vcap = {
        (r.id_a, r.id_b): (r.shared, r.jaccard)
        for r in verified_fuzzy_pairs(df, "doc_id", "text", 0.0, n=3,
                                      max_shingle_df=5).collect()
        if (r.id_a, r.id_b) == (100, 101)
    }
    assert vcap == {(100, 101): (shared, jac)}


def test_pagerank_star_matches_hand_computation(spark):
    """Symmetrized 3-leaf star, 1 iteration: center gets base + d * 3 *
    ((1/4)/1); each leaf gets base + d * (1/4)/3."""
    from aws_etl_fiap_spark.operators.graph import pagerank

    raw = [(0, i) for i in (1, 2, 3)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    got = {r["id"]: r["pr"] for r in pagerank(edges, iters=1, damping=0.85).collect()}
    base = 0.15 / 4
    assert abs(got[0] - (base + 0.85 * 3 * (0.25 / 1))) < 1e-12
    for leaf in (1, 2, 3):
        assert abs(got[leaf] - (base + 0.85 * (0.25 / 3))) < 1e-12


def test_pagerank_mass_conserved_and_deterministic(spark):
    """On a symmetric graph total rank mass stays 1.0 every iteration, and
    two runs produce identical doubles (fixed iterations, no RNG)."""
    from aws_etl_fiap_spark.operators.graph import pagerank

    raw = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    a = sorted((r["id"], r["pr"]) for r in pagerank(edges, iters=3).collect())
    b = sorted((r["id"], r["pr"]) for r in pagerank(edges, iters=3).collect())
    assert a == b
    assert abs(sum(pr for _, pr in a) - 1.0) < 1e-9


def test_containment_detects_planted_subdocument(spark):
    """A short doc pasted verbatim inside a long one: containment ≈ 1 for
    the short side even though Jaccard is low (union dominated by the long
    doc) — the exact asymmetry the directional measure exists for."""
    from aws_etl_fiap_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = "x0 " + " ".join(f"w{i}" for i in range(80)) + " " + short + " tail end here"
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally different words only")],
        "doc_id long, text string",
    )
    got = {
        (r.inner_id, r.outer_id): r.containment
        for r in containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got  # the long side is NOT contained in the short
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5, n=3).collect()
    assert not jac, "Jaccard must miss the sub-document pair containment catches"


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark):
    """Winnowing's coverage guarantee: any shared token run of length
    >= w + k - 1 (here 6) produces at least one shared fingerprint."""
    from aws_etl_fiap_spark.operators.dedup import winnow_fingerprints

    run = "m1 m2 m3 m4 m5 m6"  # w + k - 1 = 4 + 3 - 1 = 6 tokens
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 " + run + " a4 a5 a6 a7"),
            (2, "b1 b2 b3 b4 " + run + " b5 b6"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text").collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r.doc] .add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"


def test_winnowing_density_and_short_doc_cutoff(spark):
    """Sketch size: ~2/(w+1) of k-gram hashes selected (must be well under
    the full k-gram count); docs with < w + k - 1 tokens emit nothing."""
    from aws_etl_fiap_spark.operators.dedup import winnow_fingerprints

    long_text = " ".join(f"t{i % 37}" for i in range(400))
    df = spark.createDataFrame(
        [(1, long_text), (2, "too short here")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, "doc_id", "text").collect()
    n1 = sum(1 for r in rows if r.doc == 1)
    n_kgrams = 400 - 3 + 1
    assert 0 < n1 < n_kgrams // 2, f"fingerprint density off: {n1}/{n_kgrams}"
    assert not any(r.doc == 2 for r in rows)


# ------------------------------------------------- span-level dedup --


def test_span_dedup_removes_cross_doc_boilerplate(spark):
    from aws_etl_fiap_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"c{i}" for i in range(10))
    rows = [
        (1, boiler + " " + uniq_a),   # first occurrence of boiler: kept
        (2, boiler + " " + uniq_b),   # boiler span removed, tail kept
        (3, boiler),                  # fully duplicate -> empty rebuild
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_dedup(df).collect()}
    assert got[1]["dedup_text"] == boiler + " " + uniq_a
    assert got[1]["kept_spans"] == 2 and got[1]["n_spans"] == 2
    assert got[2]["dedup_text"] == uniq_b
    assert got[2]["kept_spans"] == 1 and got[2]["n_spans"] == 2
    assert got[3]["dedup_text"] == "" and got[3]["kept_spans"] == 0


def test_span_dedup_in_doc_repeats_collapse(spark):
    from aws_etl_fiap_spark.operators.dedup import span_dedup

    span = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [(7, " ".join([span] * 3))], "doc_id long, text string"
    )
    (r,) = span_dedup(df).collect()
    assert r["n_spans"] == 3 and r["kept_spans"] == 1
    assert r["dedup_text"] == span


def test_span_dedup_order_restored_and_short_tail(spark):
    from aws_etl_fiap_spark.operators.dedup import span_dedup

    words = [f"w{i}" for i in range(23)]  # 3 spans: 10, 10, 3 tokens
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    (r,) = span_dedup(df).collect()
    assert r["n_spans"] == 3 and r["kept_spans"] == 3
    assert r["dedup_text"] == " ".join(words)  # reassembly is order-exact


def test_span_dedup_plan_has_no_self_join(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.dedup import span_dedup
    from aws_etl_fiap_spark.sources.readers import load_table

    df = span_dedup(load_table(spark, sf_smoke, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan  # window + regroup, never a join


def test_shared_run_pairs_exact_lengths(spark):
    from aws_etl_fiap_spark.operators.dedup import shared_run_pairs

    # docs 1/2 share the verbatim 9-token run "c..k" (two consecutive
    # 8-gram matches -> 2 + 7 = 9); docs 1/3 share only one 8-gram (8
    # tokens); doc 4 shares nothing.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "x y c d e f g h i j k z"),
            (3, "c d e f g h i j q r s t"),
            (4, "m n o p q r s t u v w m2"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["max_shared_tokens"]
        for r in shared_run_pairs(df, "doc_id", "text", n=8, min_tokens=8).collect()
    }
    assert out[(1, 2)] == 9
    assert out[(1, 3)] == 8
    assert out[(2, 3)] == 8  # same c..j gram survives in doc 2
    assert not any(4 in k for k in out)
    # threshold excludes the single-gram overlaps
    kept = shared_run_pairs(df, "doc_id", "text", n=8, min_tokens=9).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in kept} == {(1, 2)}


def test_shared_run_pairs_interrupted_run_splits_islands(spark):
    from aws_etl_fiap_spark.operators.dedup import shared_run_pairs

    # One diverging token splits the overlap into two runs of 10 and 9
    # tokens; the pair reports the LONGEST (10), not the sum.
    a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 BREAKA u1 u2 u3 u4 u5 u6 u7 u8 u9"
    b = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 BREAKB u1 u2 u3 u4 u5 u6 u7 u8 u9"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = shared_run_pairs(df, "doc_id", "text", n=8, min_tokens=8).collect()
    assert len(rows) == 1 and rows[0]["max_shared_tokens"] == 10


def test_token_shingles_short_and_null_docs_are_empty(spark):
    """Late-r9 review: sequence(0, size-n) auto-descends to [0, -1] for
    short documents and the i=-1 iteration's element_at(toks, 0) throws
    unconditionally — the expression variant now guards with when() and
    emits the empty array (the shingle_rows semantics)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.dedup import shingle_rows, token_shingles

    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "one two three four five")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id", token_shingles("text", 3).alias("sh")
        ).collect()
    }
    assert got[1] == [] and got[2] == []
    via_rows = sorted(
        r["shingle"]
        for r in shingle_rows(df, "doc_id", "text", 3).filter(
            F.col("doc") == 3
        ).collect()
    )
    assert got[3] == via_rows  # expression and Arrow paths agree


def test_minhash_signature_matches_exploded_min(spark):
    """The expression-side minhash twin must agree with the exploded
    grouped-min path (same xxhash64(i, shingle) family) — pins the
    'value-identical' claim and un-rots the exported helper."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.dedup import (
        minhash_signature,
        shingle_rows,
        token_shingles,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    expr = df.select(
        "doc_id", *minhash_signature(token_shingles("text", 3), n_hashes=4)
    )
    exploded = (
        shingle_rows(df, "doc_id", "text", 3)
        .groupBy("doc")
        .agg(*[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
            for i in range(4)
        ])
    )
    want = {r["doc"]: [r[f"mh_{i}"] for i in range(4)] for r in exploded.collect()}
    for r in expr.collect():
        assert [r[f"mh_{i}"] for i in range(4)] == want[r["doc_id"]]


def test_minhash_lsh_rejects_bad_band_counts(spark):
    """Late-r9 review: bands that don't divide n_hashes silently dropped
    trailing minhashes, and bands > n_hashes made every band hash a
    constant (all-pairs collapse)."""
    import pytest

    from aws_etl_fiap_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, "doc_id", "text", n_hashes=32, bands=5)
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, "doc_id", "text", n_hashes=32, bands=64)


def test_simhash_pairs_rejects_hamming_beyond_band_recall(spark):
    """4 bands of 8 bits: a pair 4 bits apart, one bit per band, shares no
    band and would be silently missed, so max_hamming >= 4 is refused."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    for bad in (4, 5):
        with pytest.raises(ValueError, match="max_hamming must be < 4"):
            simhash_pairs(df, "doc_id", "text", max_hamming=bad)
    assert simhash_pairs(df, "doc_id", "text", max_hamming=3).collect() == []


@pytest.mark.parametrize("tier", ["shingle", "winnow", "positional"])
def test_gram_batches_in_process_equals_spark_arrow_path(spark, monkeypatch, tier):
    """Arrow twin: the n-gram batch loop run in-process over ``toPandas()``
    of the (doc, text) source equals what Spark's ``mapInPandas`` emits for
    the same emit, over a NULL text, a document shorter than the gram
    width, an empty batch and zero-row partitions."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    from aws_etl_fiap_spark.operators import dedup as D

    wired = {}
    real = D._gram_rows

    def spy(df, id_col, text_col, emit, out, spread):
        wired.update(emit=emit, names=list(out))
        return real(df, id_col, text_col, emit, out, spread)

    monkeypatch.setattr(D, "_gram_rows", spy)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None),
        (3, "x y"),
        (4, "a b a b a b a b a b"),
        (5, "the quick brown fox sleeps under the lazy dog today"),
    ]
    # 8 partitions for 5 rows: at least 3 are empty (zero-row partitions)
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    generate = {
        "shingle": lambda: D.shingle_rows(df, "doc_id", "text", n=3),
        "winnow": lambda: D.winnow_fingerprints(df, "doc_id", "text"),
        "positional": lambda: D.positional_shingle_rows(df, "doc_id", "text", n=3),
    }[tier]
    got = generate().toPandas()

    src = df.select(F.col("doc_id").alias("doc"), "text").toPandas()
    batches = [src.iloc[:0], src.iloc[:2], src.iloc[2:]]
    frames = list(D._gram_batches(iter(batches), wired["emit"], wired["names"]))
    cols = ["doc", *wired["names"]]
    assert list(frames[0].columns) == cols and len(frames[0]) == 0  # empty batch
    want = pd.concat([f for f in frames if len(f)], ignore_index=True)
    assert len(want) > 0

    def norm(pdf):
        return pdf[cols].sort_values(cols).reset_index(drop=True)

    assert_frame_equal(norm(got), norm(want))


def test_posting_tiers_refuse_non_integral_ids(spark):
    """Late-r9 review: cast('long') on a string id column nulled every id
    and collapsed the corpus into one garbage doc group; the posting
    tiers now refuse loudly."""
    import pytest

    from aws_etl_fiap_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [("doc-1", "a b c d"), ("doc-2", "a b c d")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="integral id column"):
        ngram_jaccard_pairs(df, "doc_id", "text", 0.5)


def test_simhash_null_text_is_null_not_zero(spark):
    """Late-r9 review: null text made every bit vote NULL and the
    otherwise(0) collapse produced signature 0 — colliding null docs with
    legitimately-zero-signature documents."""
    from aws_etl_fiap_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, None), (2, "real text here")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["sig"] for r in df.select(
        "doc_id", simhash("text").alias("sig")
    ).collect()}
    assert got[1] is None and got[2] is not None


def test_minhash_lsh_portable_matches_python_model_property(spark):
    """Property (r10): the portable-family MinHash-LSH candidate pairs —
    md5 word-split, fixed 16-bit mixing constants, per-band md5-prefix
    hashes — equal a brute-force Python model on arbitrary corpora: same
    signatures, same band buckets, same (pair, matching-band count) set.
    Identical documents must collide on EVERY band (the LSH guarantee the
    fuzzy tier builds on)."""
    import hashlib
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.dedup import minhash_lsh_pairs

    N_HASHES, BANDS, NGRAM = 8, 4, 2
    R = N_HASHES // BANDS
    rng = random.Random(0xC0FFEE)
    MIX = [[rng.randrange(1, 1 << 16) | 1 for _ in range(4)] for _ in range(N_HASHES)]

    word = st.sampled_from(["x", "y", "z", "ww"])
    doc = st.lists(word, min_size=2, max_size=6).map(" ".join)

    def signature(text):
        toks = text.split(" ")
        grams = {" ".join(toks[i : i + NGRAM]) for i in range(len(toks) - NGRAM + 1)}
        sig = []
        for row in MIX:
            best = None
            for g in grams:
                hx = hashlib.md5(g.encode()).hexdigest()
                u = [int(hx[8 * j : 8 * j + 8], 16) for j in range(4)]
                h = sum(a * uj for a, uj in zip(row, u)) % (1 << 32)
                best = h if best is None else min(best, h)
            sig.append(best)
        return sig

    def band_hash(vals):
        s = ":".join(str(v) for v in vals)
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def model(docs):
        sigs = {i: signature(d) for i, d in enumerate(docs)}
        bands = {
            i: [band_hash(sig[b * R : (b + 1) * R]) for b in range(BANDS)]
            for i, sig in sigs.items()
        }
        pairs = {}
        ids = sorted(bands)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                m = sum(1 for x, y in zip(bands[a], bands[b]) if x == y)
                if m:
                    pairs[(a, b)] = m
        return pairs

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def prop(docs):
        df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["n_matching_bands"]
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", n=NGRAM, n_hashes=N_HASHES,
                bands=BANDS, hash_family="portable",
            ).collect()
        }
        assert got == model(docs)
        # LSH guarantee: verbatim duplicates collide on every band
        for (a, b), m in got.items():
            if docs[a] == docs[b]:
                assert m == BANDS

    prop()


def test_shared_run_pairs_matches_lcs_model_property(spark):
    """Property (r10): the distributed diagonal-islands shared-run detector
    (uncapped) equals the quadratic longest-common-token-substring model:
    a pair is reported iff its LCS (in tokens) >= max(n, min_tokens), with
    max_shared_tokens == the LCS length exactly — runs of R consecutive
    n-gram diagonal matches are substrings of R+n-1 tokens and vice
    versa."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.dedup import shared_run_pairs

    N, MIN_T = 3, 4
    word = st.sampled_from(["p", "q", "r", "s"])
    doc = st.lists(word, min_size=1, max_size=14).map(" ".join)

    def lcs_tokens(ta, tb):
        best = 0
        prev = [0] * (len(tb) + 1)
        for i in range(1, len(ta) + 1):
            cur = [0] * (len(tb) + 1)
            for j in range(1, len(tb) + 1):
                if ta[i - 1] == tb[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=5))
    def prop(docs):
        df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"]): r["max_shared_tokens"]
            for r in shared_run_pairs(
                df, "doc_id", "text", n=N, min_tokens=MIN_T, max_gram_df=None
            ).collect()
        }
        want = {}
        toks = {i: d.split(" ") for i, d in enumerate(docs)}
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                L = lcs_tokens(toks[a], toks[b])
                if L >= max(N, MIN_T):
                    want[(a, b)] = L
        assert got == want

    prop()


def test_simhash_portable_matches_python_model_property(spark):
    """Property (r10): the portable-family SimHash signature equals a
    brute-force Python model (md5-prefix token hashes, per-bit +/-1 votes
    with multiplicity, sign rule at 0), and simhash_pairs' 4-band
    pigeonhole blocking reports EXACTLY the pairs within the hamming
    threshold — no pair missed (the pigeonhole guarantee), none beyond the
    threshold kept."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_pairs,
        simhash_signatures,
    )

    word = st.sampled_from(["m", "n", "o", "pp"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    def sig_of(text):
        sig = 0
        toks = text.split(" ")
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        for b in range(SIMHASH_BITS):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote >= 0:
                sig += 1 << b
        return sig

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def prop(docs):
        df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
        got_sig = {
            r["doc"]: r["simhash"]
            for r in simhash_signatures(
                df, "doc_id", "text", hash_family="portable"
            ).collect()
        }
        want_sig = {i: sig_of(d) for i, d in enumerate(docs)}
        assert got_sig == want_sig

        got_pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(
                df, "doc_id", "text", max_hamming=3, hash_family="portable"
            ).collect()
        }
        want_pairs = {}
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                ham = bin(want_sig[a] ^ want_sig[b]).count("1")
                if ham <= 3:
                    want_pairs[(a, b)] = ham
        assert got_pairs == want_pairs

    prop()


def test_jaccard_and_containment_match_set_models_property(spark):
    """Property (r10): the uncapped inverted-index Jaccard pairs and the
    directional containment pairs equal plain Python set arithmetic over
    distinct word n-gram shingles, for arbitrary corpora — thresholds,
    shared counts, and scores all exact."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    N, TH = 2, 0.3
    word = st.sampled_from(["g", "h", "i", "jj"])
    doc = st.lists(word, min_size=2, max_size=8).map(" ".join)

    def shingles(text):
        t = text.split(" ")
        return {" ".join(t[i : i + N]) for i in range(len(t) - N + 1)}

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def prop(docs):
        sh = {i: shingles(d) for i, d in enumerate(docs)}
        df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")

        pairs = ngram_jaccard_pairs(
            df, "doc_id", "text", TH, n=N, max_shingle_df=None
        ).collect()
        got_j = {(r["id_a"], r["id_b"]): (r["shared"], r["jaccard"]) for r in pairs}
        # The edge contract the graph loops rely on: each undirected pair
        # once, oriented id_a < id_b (the dict would hide a duplicate).
        assert len(pairs) == len(got_j)
        assert all(r["id_a"] < r["id_b"] for r in pairs)
        want_j = {}
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                s = len(sh[a] & sh[b])
                if s:
                    j = s / (len(sh[a]) + len(sh[b]) - s)
                    if j >= TH:
                        want_j[(a, b)] = (s, j)
        assert got_j == want_j

        got_c = {
            (r["inner_id"], r["outer_id"]): (r["shared"], r["containment"])
            for r in containment_pairs(
                df, "doc_id", "text", TH, n=N, max_shingle_df=None
            ).collect()
        }
        want_c = {}
        for a in sh:
            for b in sh:
                if a == b:
                    continue
                s = len(sh[a] & sh[b])
                if s and s / len(sh[a]) >= TH:
                    want_c[(a, b)] = (s, s / len(sh[a]))
        assert got_c == want_c

    prop()


def test_decontaminate_and_exact_dedup_match_models_property(spark):
    """Property (r10): decontamination shingle-overlap counts equal the
    Python set model (per training doc: distinct n-grams, hits against the
    union of benchmark n-grams; sub-n docs out of scope), and exact_dedup
    keeps exactly the min-id row per duplicate group."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.dedup import (
        content_hash,
        decontaminate,
        exact_dedup,
    )

    N = 2
    word = st.sampled_from(["k", "l", "m"])
    doc = st.lists(word, min_size=1, max_size=6).map(" ".join)

    def grams(text):
        t = text.split(" ")
        return {" ".join(t[i : i + N]) for i in range(len(t) - N + 1)}

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=6),
        st.lists(doc, min_size=1, max_size=3),
    )
    def prop(train, bench):
        tdf = spark.createDataFrame(list(enumerate(train)), "doc_id long, text string")
        bdf = spark.createDataFrame(list(enumerate(bench)), "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_hits"])
            for r in decontaminate(tdf, bdf, n=N).collect()
        }
        bset = set().union(*(grams(d) for d in bench)) if bench else set()
        want = {
            i: (len(g), len(g & bset))
            for i, d in enumerate(train)
            if (g := grams(d))
        }
        assert got == want

        ddf = tdf.withColumn("h", content_hash("text"))
        kept = {r["doc_id"] for r in exact_dedup(ddf, ["h"], "doc_id").collect()}
        by_text = {}
        for i, d in enumerate(train):
            by_text.setdefault(d, []).append(i)
        assert kept == {min(ids) for ids in by_text.values()}

    prop()
