"""Similarity-search validation: LSH-bucketed ANN recall against the exact
brute-force baseline, and centroid shape/determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    label_centroids,
    lsh_bucket_topk,
)
from aws_etl_fiap_spark.sources.readers import load_table


def test_lsh_topk_recall(spark, sf_correctness):
    """Bucketed ANN with 8 planes: each query's top-10 should overlap the
    exact top-10 substantially better than chance (10/500 = 2%)."""
    emb = load_table(spark, sf_correctness, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(queries, emb, k=10).collect()
    approx = lsh_bucket_topk(queries, emb, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.2, f"LSH recall {mean_recall:.2f} not better than chance"


def test_lsh_results_are_true_cosines(spark, sf_correctness):
    """Approximate search must return TRUE similarities for the candidates it
    scores — approximation affects which pairs are scored, not the scores."""
    emb = load_table(spark, sf_correctness, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(queries, emb, k=499).collect()
    }
    for r in lsh_bucket_topk(queries, emb, k=10).collect():
        assert exact[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_ivf_topk_recall_and_true_cosines(spark, sf_correctness):
    """IVF probing 4/16 cells must beat chance by a wide margin, and the
    similarities it reports must be the TRUE cosines (same bits as brute
    force) — approximation selects candidates, never alters scores."""
    emb = load_table(spark, sf_correctness, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact_rows = brute_force_topk(queries, emb, k=499).collect()
    exact_sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact_rows}
    exact_top10 = {}
    for r in exact_rows:
        if r.rank <= 10:
            exact_top10.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = ivf_topk(queries, emb, k=10).collect()
    approx_sets = {}
    for r in approx:
        assert exact_sims[(r.query_id, r.neighbor_id)] == r.cos_sim
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_top10[q] & approx_sets.get(q, set())) / len(exact_top10[q])
        for q in exact_top10
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.2, f"IVF recall {mean_recall:.2f} not better than chance"


def test_centroids_shape_and_partitioning_invariance(spark, sf_correctness):
    emb = load_table(spark, sf_correctness, "embeddings")
    c1 = label_centroids(emb)
    n_labels = emb.select("label").distinct().count()
    assert c1.count() == n_labels * 64
    # Same result bit-for-bit under a different partitioning.
    c2 = label_centroids(emb.repartition(17, "vec_id"))
    v1 = {(r.label, r.dim): r.centroid for r in c1.collect()}
    v2 = {(r.label, r.dim): r.centroid for r in c2.collect()}
    assert v1 == v2


def test_blocked_allpairs_matches_broadcast_bit_for_bit(spark, sf_correctness):
    """The distributed block-pair decomposition must return the IDENTICAL
    pair set and IDENTICAL cosine bits as the single-node broadcast variant
    (both claim oracle exactness, so they must agree with each other)."""
    from aws_etl_fiap_spark.operators.similarity import (
        allpairs_cosine_pairs_small,
        allpairs_cosine_pairs_blocked,
    )

    emb = load_table(spark, sf_correctness, "embeddings")
    ref = {
        (r.id_a, r.id_b): r.cos_sim
        for r in allpairs_cosine_pairs_small(emb, threshold=0.45).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in allpairs_cosine_pairs_blocked(emb, threshold=0.45, n_blocks=5).collect()
    }
    assert ref, "threshold too high: empty reference pair set proves nothing"
    assert got == ref  # dict equality: same pairs AND bit-equal floats



def test_blocked_allpairs_raises_no_type_hint_warning(spark):
    """applyInPandas infers its eval type from the function's hints; a hint
    on only some parameters makes PySpark warn "Cannot infer the eval type
    from type hints" on every call, so the scoring function hints none."""
    import warnings

    from aws_etl_fiap_spark.operators.similarity import allpairs_cosine_pairs_blocked

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1])], "vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        allpairs_cosine_pairs_blocked(emb, threshold=0.5, n_blocks=2)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]

def test_allpairs_collect_guard_raises(spark, sf_correctness):
    """The driver-collect variant must refuse corpora past its loud bound
    instead of silently OOMing the driver at scale."""
    import pytest

    from aws_etl_fiap_spark.operators.similarity import allpairs_cosine_pairs_small

    emb = load_table(spark, sf_correctness, "embeddings")
    with pytest.raises(ValueError, match="max_collect_rows"):
        allpairs_cosine_pairs_small(emb, threshold=0.45, max_collect_rows=10)


def test_quantize_int8_roundtrip_error_bounded(spark):
    """Dequantized codes reconstruct each component within scale/2, codes
    never exceed 127 in magnitude, and the max-|x| component saturates."""
    from aws_etl_fiap_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = quantize_int8(df).collect()
    rows = {r["vec_id"]: r for r in out}
    q1, s1 = rows[1]["q"], rows[1]["scale"]
    assert max(abs(c) for c in q1) == 127 and rows[1]["n_sat"] == 1
    for code, orig in zip(q1, [1.0, -0.5, 0.25, 0.0]):
        assert abs(code * s1 - orig) <= s1 / 2 + 1e-12
    assert rows[2]["scale"] == 0.0 and rows[2]["q"] == [0, 0, 0, 0]


def test_gram_matrix_symmetric_and_matches_numpy(spark, sf_smoke):
    """X^T X is symmetric, diagonal non-negative, and equals a local numpy
    computation within float tolerance."""
    import numpy as np

    from aws_etl_fiap_spark.operators.similarity import gram_matrix
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(emb).collect()}
    local = np.vstack(
        [np.array(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    expect = local.T @ local
    assert len(got) == 64 * 64
    for (i, j), v in got.items():
        assert abs(v - expect[i, j]) < 1e-8
        assert abs(v - got[(j, i)]) < 1e-8
    assert all(got[(d, d)] >= 0 for d in range(64))


def test_pq_topk_recall_and_shape(spark, sf_smoke):
    """PQ + exact re-rank: recall@10 == 1.0 on the smoke corpus with the
    deterministic trainer, ranks totally ordered, self-pairs excluded, and
    cos_sim on survivors bit-identical to brute force (same fold)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import brute_force_topk, pq_topk
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 3)
    pq = pq_topk(qdf, emb, k=10, m=32, n_codes=256, rerank=100)
    rows = pq.collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    bf = brute_force_topk(qdf, emb, k=10).collect()
    bf_pairs = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in bf}
    for q, lst in by_q.items():
        assert [r["rank"] for r in sorted(lst, key=lambda r: r["rank"])] == list(
            range(1, 11)
        )
        # full recall on this corpus, and bit-identical scores
        for r in lst:
            assert (q, r["neighbor_id"]) in bf_pairs
            assert r["cos_sim"] == bf_pairs[(q, r["neighbor_id"])]


def test_pq_codebooks_deterministic():
    import numpy as np

    from aws_etl_fiap_spark.operators.similarity import _pq_codebooks

    rng = np.random.default_rng(3)
    sample = rng.normal(size=(256, 64))
    a = _pq_codebooks(sample, 16, 16, 3)
    b = _pq_codebooks(sample.copy(), 16, 16, 3)
    np.testing.assert_array_equal(a, b)
    assert a.shape == (16, 16, 4)


def test_pq_codebooks_reject_indivisible_m():
    # dim % m != 0 would silently drop the trailing dims from BOTH encode
    # and ADC scoring (recall degrades with no error) — must refuse loudly
    # (round-7 ADVICE).
    import numpy as np
    import pytest as _pt

    from aws_etl_fiap_spark.operators.similarity import _pq_codebooks

    sample = np.zeros((32, 60))
    with _pt.raises(ValueError, match="divide"):
        _pq_codebooks(sample, 16, 8, 1)


def test_ivfpq_topk_recall_gate(spark, sf_smoke):
    """Composed IVF-PQ: recall@10 >= 0.8 per query on the smoke corpus,
    ranks totally ordered, self excluded, survivor cos_sim bit-identical
    to brute force."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 3)
    rows = ivfpq_topk(qdf, emb, k=10).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    bf = brute_force_topk(qdf, emb, k=10).collect()
    bf_pairs = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in bf}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, lst in by_q.items():
        assert sorted(r["rank"] for r in lst) == list(range(1, 11))
        hits = sum((q, r["neighbor_id"]) in bf_pairs for r in lst)
        assert hits >= 8, f"recall@10 {hits}/10 for query {q}"
        for r in lst:
            if (q, r["neighbor_id"]) in bf_pairs:
                assert r["cos_sim"] == bf_pairs[(q, r["neighbor_id"])]


def test_pq_and_ivfpq_tolerate_zero_vectors(spark, sf_smoke):
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import ivfpq_topk, pq_topk
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings").limit(300)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(zero)
    qdf = corpus.filter(F.col("vec_id") < 3)
    for fn in (pq_topk, ivfpq_topk):
        rows = fn(qdf, corpus, k=5).collect()
        assert rows, fn.__name__
        assert all(r["neighbor_id"] != 999_999 for r in rows)


def test_semdedup_keep_drops_only_witnessed_rows(spark, sf_smoke):
    """Every dropped id must have a LOWER-id bucket-mate with cosine >=
    threshold (the drop rule's witness), and the drop must be non-trivial
    on the smoke corpus (the threshold is tuned to bite)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import (
        allpairs_cosine_pairs_blocked,
        semdedup_keep,
    )
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    kept = semdedup_keep(emb, threshold=0.35, plane_family="portable")
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    dropped = {r["vec_id"] for r in emb.select("vec_id").collect()} - kept_ids
    assert 0 < len(dropped) < n // 2, (len(dropped), n)
    # exact all-pairs >= threshold: every dropped id needs a lower-id witness
    pairs = allpairs_cosine_pairs_blocked(emb, threshold=0.35).collect()
    lower_witness = {}
    for r in pairs:
        lo, hi = sorted((r["id_a"], r["id_b"]))
        lower_witness.setdefault(hi, set()).add(lo)
    for d in dropped:
        assert d in lower_witness, f"dropped {d} has no cos>=0.35 lower-id pair"


def test_kcenter_greedy_hand_case(spark):
    from aws_etl_fiap_spark.operators.similarity import kcenter_greedy

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [10.0, 0.0]),
            (3, [0.1, 0.0]),
            (4, [5.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["step"]: r
        for r in kcenter_greedy(df, "embedding", "vec_id", k=3, dim=2).collect()
    }
    # seed = smallest id; then the farthest point (id 2, squared dist 100);
    # then the farthest from {1,2} (id 4, min squared dist 25).
    assert rows[0]["center_id"] == 1 and rows[0]["radius"] is None
    assert rows[1]["center_id"] == 2 and rows[1]["radius"] == 100.0
    assert rows[2]["center_id"] == 4 and rows[2]["radius"] == 25.0
    # assignment census: ids 1 and 3 -> seed; 2 and 4 -> themselves.
    assert rows[0]["n_assigned"] == 2
    assert rows[1]["n_assigned"] == 1
    assert rows[2]["n_assigned"] == 1


def test_kcenter_greedy_radius_monotone_and_census_total(spark, sf_smoke):
    from aws_etl_fiap_spark.operators.similarity import kcenter_greedy
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    out = kcenter_greedy(emb, "embedding", "vec_id", k=5, dim=64).collect()
    n = emb.count()
    radii = [r["radius"] for r in sorted(out, key=lambda r: r["step"])]
    assert radii[0] is None
    # greedy invariant: each pick closes the CURRENT largest gap, and the
    # min-dist surface only shrinks as centers are added.
    assert all(
        radii[i] >= radii[i + 1] for i in range(1, len(radii) - 1)
    ), radii
    assert sum(r["n_assigned"] for r in out) == n
    assert len({r["center_id"] for r in out}) == len(out)


def test_pq_topk_rerank_smaller_than_k_still_returns_k(spark, sf_smoke):
    """Late-r9 review: the rerank shortlist filtered to `rank <= rerank`
    instead of max(k, rerank), silently returning fewer than k neighbors
    for any 0 < rerank < k (ivfpq already had the max)."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import pq_topk
    from aws_etl_fiap_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 2)
    rows = pq_topk(qdf, emb, k=10, rerank=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, lst in by_q.items():
        assert len(lst) == 10, f"query {q} got {len(lst)} < k neighbors"


def test_trainers_refuse_empty_corpus_loudly(spark):
    """Late-r9 review: an empty (or all-zero-norm) corpus crashed the
    driver-side k-means trainers with opaque numpy shape errors; it now
    raises a clear ValueError, and the all-pairs primitive returns the
    well-defined empty result."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from aws_etl_fiap_spark.operators.similarity import (
        allpairs_cosine_pairs_small,
        ivf_topk,
        ivfpq_topk,
        pq_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    one_q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    zero_norm = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for corpus in (empty, zero_norm):
        with pytest.raises(ValueError, match="training sample is empty"):
            pq_topk(one_q, corpus, k=2, m=2)
        with pytest.raises(ValueError, match="training sample is empty"):
            ivfpq_topk(one_q, corpus, k=2, m=2)
    with pytest.raises(ValueError, match="training sample is empty"):
        ivf_topk(one_q, empty, k=2).collect()
    assert allpairs_cosine_pairs_small(empty, 0.9).count() == 0


def test_srp_signature_expression_matches_numpy_buckets(spark):
    """The expression-side SRP path (srp_signature over _plane_sign) and
    the numpy path (_np_buckets over srp_planes_matrix) must bucket
    identically — the parity srp_planes_matrix's docstring promises.
    Pins the xxhash64 plane-derivation formula across both."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.similarity import (
        _np_buckets,
        srp_planes_matrix,
        srp_signature,
    )

    dim, n_tables, n_planes = 8, 4, 6
    rows = [
        (i, [((i * 31 + j * 7) % 17 - 8) / 8.0 for j in range(dim)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    planes = srp_planes_matrix(spark, n_tables, n_planes, dim)
    via_np = {
        (r["vec_id"], r["table_id"]): r["bucket"]
        for r in _np_buckets(
            df.select("vec_id", F.col("embedding")), "vec_id", "embedding",
            planes, keep_vec=False,
        ).collect()
    }
    expr = df.select(
        "vec_id",
        *[
            srp_signature(F.col("embedding"), t, n_planes).alias(f"b{t}")
            for t in range(n_tables)
        ],
    )
    for r in expr.collect():
        for t in range(n_tables):
            assert via_np[(r["vec_id"], t)] == r[f"b{t}"], (
                f"vec {r['vec_id']} table {t}: numpy/expression bucket split"
            )


def test_kcenter_greedy_matches_python_model_property(spark):
    """Property (r10): the Gonzalez farthest-point trajectory — seed,
    every pick under the (dist DESC, id ASC) order, covering radii, and
    the final assignment counts (distance ties to the earliest step) —
    equals a brute-force Python model with the identical sequential-fold
    float arithmetic, on arbitrary point sets including duplicates."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import kcenter_greedy

    DIM = 4
    coord = st.sampled_from([0.0, 0.25, 0.5, 1.0, 1.5, 2.0, -1.0])
    vec = st.lists(coord, min_size=DIM, max_size=DIM)

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def model(vecs, k):
        q = {i: [q6(x) for x in v] for i, v in vecs.items()}
        seed = min(q)
        centers = [(0, seed, q[seed], None)]
        for step in range(1, k):
            best = None
            for vid, v in q.items():
                vv = pydot(v, v)
                d = min(
                    vv - 2.0 * pydot(v, c) + pydot(c, c) for _, _, c, _ in centers
                )
                key = (d, -vid)
                if best is None or key > best[0]:
                    best = (key, vid, v)
            centers.append((step, best[1], best[2], best[0][0]))
        counts = {}
        for vid, v in q.items():
            vv = pydot(v, v)
            s = min(
                ((vv - 2.0 * pydot(v, c) + pydot(c, c)), st)
                for st, _, c, _ in centers
            )[1]
            counts[s] = counts.get(s, 0) + 1
        return {
            (st, cid, q6(r) if r is not None else None, counts.get(st, 0))
            for st, cid, _, r in centers
        }

    @settings(max_examples=5, deadline=None)
    @given(
        st.dictionaries(
            st.integers(min_value=1, max_value=30), vec, min_size=2, max_size=10
        )
    )
    def prop(vecs):
        k = min(4, len(vecs))
        df = spark.createDataFrame(
            [(i, v) for i, v in sorted(vecs.items())],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["step"], r["center_id"], r["radius"], r["n_assigned"])
            for r in kcenter_greedy(df, k=k, dim=DIM).collect()
        }
        assert got == model(vecs, k)

    prop()


def test_kmeans_lloyd_matches_python_model_property(spark):
    """Property (r10): the deterministic Lloyd trajectory — smallest-id
    init, (dist, cid) argmin ties, decimal-exact centroid means, empty
    clusters dropping out, 6dp decimal inertia — equals a Python
    replication with identical fold arithmetic on arbitrary point sets."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import kmeans_lloyd

    DIM, K, ITERS = 3, 3, 2
    coord = st.sampled_from([0.0, 0.5, 1.0, 2.0, -1.5])
    vec = st.lists(coord, min_size=DIM, max_size=DIM)

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def model(vecs):
        q = {i: [q6(x) for x in v] for i, v in sorted(vecs.items())}
        ids = sorted(q)
        cents = {c: q[ids[c]] for c in range(min(K, len(ids)))}

        def assign():
            out = {}
            for vid, v in q.items():
                vv = pydot(v, v)
                best = min(
                    ((vv - 2.0 * pydot(v, c) + pydot(c, c)), cid)
                    for cid, c in cents.items()
                )
                out[vid] = best
            return out

        for _ in range(ITERS):
            a = assign()
            sums, counts = {}, {}
            for vid, (_, cid) in a.items():
                counts[cid] = counts.get(cid, 0) + 1
                s = sums.setdefault(cid, [0] * DIM)
                for j, x in enumerate(q[vid]):
                    s[j] += round(x * 1e6)  # exact 1e-6 units
            cents = {
                cid: [float(s[j]) / 1e6 / counts[cid] for j in range(DIM)]
                for cid, s in sums.items()
            }
        a = assign()
        out = {}
        for vid, (d, cid) in a.items():
            d6u = math.floor(d * 1e6 + 0.5)
            n, su = out.get(cid, (0, 0))
            out[cid] = (n + 1, su + d6u)
        return {cid: (n, float(su) / 1e6) for cid, (n, su) in out.items()}

    @settings(max_examples=5, deadline=None)
    @given(
        st.dictionaries(
            st.integers(min_value=1, max_value=25), vec, min_size=3, max_size=10
        )
    )
    def prop(vecs):
        df = spark.createDataFrame(
            [(i, v) for i, v in sorted(vecs.items())],
            "vec_id long, embedding array<double>",
        )
        got = {
            r["cluster_id"]: (r["n_members"], r["inertia"])
            for r in kmeans_lloyd(df, k=K, iters=ITERS, dim=DIM).collect()
        }
        want = model(vecs)
        assert set(got) == set(want)
        for cid, (n, inertia) in want.items():
            assert got[cid][0] == n, (cid, got[cid], (n, inertia))
            assert abs(got[cid][1] - inertia) < 1e-9, (cid, got[cid], inertia)

    prop()


def test_power_iteration_pc1_matches_python_model_property(spark):
    """Property (r10): the exact-BIGINT power-iteration trajectory equals
    a bit-exact Python replication — SPARSE gram frames (rows/columns with
    no cells drop out of the iteration exactly as the joins drop them),
    negative cells, and the documented round9-accumulate / round6-
    normalize chain."""
    import math

    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import power_iteration_pc1

    DIM = 3
    cell = st.tuples(
        st.integers(0, DIM - 1),
        st.integers(0, DIM - 1),
        st.integers(-8, 8).map(lambda c: c / 4.0),
    )

    @settings(max_examples=6, deadline=None)
    @given(st.dictionaries(st.tuples(st.integers(0, DIM - 1),
                                     st.integers(0, DIM - 1)),
                           st.integers(-8, 8).map(lambda c: c / 4.0),
                           min_size=1, max_size=DIM * DIM))
    def prop(cells):
        assume(any(v != 0.0 for v in cells.values()))
        rows = [(i, j, g) for (i, j), g in sorted(cells.items())]
        gram = spark.createDataFrame(rows, "i int, j int, g double")
        got = {
            r.j: r.pc1
            for r in power_iteration_pc1(gram, DIM, iters=2).collect()
        }
        x = {j: 1.0 for j in range(DIM)}
        for _ in range(2):
            y = {}
            for (i, j), g in cells.items():
                if j in x:
                    y[i] = y.get(i, 0) + int(math.floor(g * x[j] * 1e9 + 0.5))
            if not y:
                # no surviving (i, j in x) cells: the joins produce an
                # EMPTY frame and the result is empty on both sides
                x = {}
                break
            m = max(abs(v) for v in y.values())
            if m == 0:
                # collapsed iteration: the operator normalizes to the
                # zero vector explicitly (pre-fix this was an ANSI
                # DIVIDE_BY_ZERO job kill — found by this property)
                x = {i: 0.0 for i in y}
                continue
            x = {
                i: math.floor((float(v) / float(m)) * 1e6 + 0.5) / 1e6
                for i, v in y.items()
            }
        assert got == x

    prop()


def test_hard_negative_topk_matches_python_model_property(spark):
    """Property (r10): hard-negative mining equals the brute-force model —
    the label predicate prunes BEFORE ranking, self-pairs drop, cosine
    replicates bit-exactly (left-to-right fold dots), and score TIES
    resolve by neighbor_id under the total order."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import hard_negative_topk

    DIM = 3
    vec = st.tuples(*[st.integers(-4, 4).map(lambda c: c / 2.0)] * DIM)
    row = st.tuples(vec, st.integers(0, 1))

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    @settings(max_examples=6, deadline=None)
    @given(st.lists(row, min_size=2, max_size=8), st.integers(1, 3))
    def prop(rows, k):
        data = [
            (i, lab, list(v)) for i, (v, lab) in enumerate(rows)
            if any(x != 0.0 for x in v)  # zero vectors: NULL cosine path
        ]
        if len(data) < 2:
            return
        df = spark.createDataFrame(
            data, "vec_id int, label int, embedding array<double>"
        )
        out = hard_negative_topk(df, df, k, dim=DIM)
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in out.collect()
        }
        want = {}
        for qid, qlab, qv in data:
            qn = math.sqrt(dot(qv, qv))
            cands = []
            for cid, clab, cv in data:
                if cid == qid or clab == qlab:
                    continue
                cn = math.sqrt(dot(cv, cv))
                cands.append((cid, dot(qv, cv) / (qn * cn)))
            cands.sort(key=lambda t: (-t[1], t[0]))
            for rank, (cid, cs) in enumerate(cands[:k], start=1):
                want[(qid, rank)] = (cid, cs)
        assert got == want

    prop()


def test_ivf_full_probe_equals_brute_force_property(spark):
    """Property (r12, recall floor as a LAW not a threshold): with
    n_probe == n_cells every query probes EVERY cell, so the IVF candidate
    set is the whole corpus (minus self) and the result must equal
    brute_force_topk EXACTLY — ids, ranks, and bit-identical cos_sim (both
    paths score with the same hoisted-norm expression fold).  A fixed
    recall>=0.8 gate can pass while full-probe exhaustiveness is broken;
    this pins the floor itself: recall(n_probe=n_cells) == 1.0 for
    arbitrary corpora, including duplicate and near-duplicate vectors."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    DIM = 4
    coord = st.integers(-3, 3)
    vec = st.lists(coord, min_size=DIM, max_size=DIM).filter(
        lambda v: any(x != 0 for x in v)
    )

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(vec, min_size=3, max_size=14),
        st.integers(1, 4),
        st.integers(2, 4),
    )
    def prop(vecs, k, n_cells):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        queries = df.limit(3)
        want = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in brute_force_topk(queries, df, k=k).collect()
        }
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in ivf_topk(
                queries, df, k=k, n_cells=n_cells, n_probe=n_cells
            ).collect()
        }
        assert got == want

    prop()


def test_ivf_recall_monotone_in_probe_property(spark):
    """Property (r12): a query's probed cells are a PREFIX of its
    centroid-similarity ordering, so candidate sets NEST as n_probe grows —
    per-query recall against the exact top-k must be non-decreasing in
    n_probe.  This is the shape of the recall/scan-fraction trade the
    operator sells; a violation means probe selection and assignment
    disagree about the cell geometry."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    DIM = 4
    coord = st.integers(-3, 3)
    vec = st.lists(coord, min_size=DIM, max_size=DIM).filter(
        lambda v: any(x != 0 for x in v)
    )

    @settings(max_examples=3, deadline=None)
    @given(st.lists(vec, min_size=6, max_size=14), st.integers(1, 3))
    def prop(vecs, k):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        queries = df.limit(2)
        exact = {}
        for r in brute_force_topk(queries, df, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        n_cells = 4
        prev = {q: -1.0 for q in exact}
        for n_probe in (1, 2, 4):
            got = {}
            for r in ivf_topk(
                queries, df, k=k, n_cells=n_cells, n_probe=n_probe
            ).collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            for q in exact:
                rec = len(exact[q] & got.get(q, set())) / len(exact[q])
                assert rec >= prev[q] - 1e-12, (q, n_probe, rec, prev[q])
                prev[q] = rec

    prop()


def test_pq_full_rerank_equals_brute_force_property(spark):
    """Property (r12): with rerank >= |corpus| the ADC shortlist is the
    ENTIRE corpus (minus self), and the exact-cosine rerank stage must
    reproduce brute_force_topk exactly — ids, ranks, and cos_sim — no
    matter how badly the quantizer mangled the ADC ordering.  This is the
    PQ recall floor as an algebraic law: approximation may only choose the
    shortlist, never the final scores (zero-norm corpus rows excepted:
    PQ drops them at indexing, brute force scores them NULL-last, so the
    generator keeps every vector non-zero)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import pq_topk

    DIM = 4
    coord = st.integers(-3, 3)
    vec = st.lists(coord, min_size=DIM, max_size=DIM).filter(
        lambda v: any(x != 0 for x in v)
    )

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(vec, min_size=3, max_size=12),
        st.integers(1, 3),
        st.sampled_from([1, 2, 4]),
    )
    def prop(vecs, k, m):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        queries = df.limit(2)
        want = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in brute_force_topk(queries, df, k=k).collect()
        }
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in pq_topk(
                queries, df, k=k, m=m, n_codes=4, rerank=len(vecs)
            ).collect()
        }
        assert got == want

    prop()


def test_ivfpq_full_probe_full_rerank_equals_brute_force_property(spark):
    """Property (r12): the COMPOSED index obeys the same floor law as its
    parts — with n_probe == n_cells (every cell probed) and rerank >=
    |corpus| (the whole candidate set re-scored exactly), ivfpq_topk must
    reproduce brute_force_topk exactly: the coarse quantizer and the
    residual codebooks may only choose the shortlist, and at full
    probe + full rerank there is no choice left to get wrong.  Also pins
    the small-corpus edge the ivf_topk property exposed (corpus < n_cells
    trains fewer centroids): the driver-side probe slice must adapt
    instead of crashing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.similarity import ivfpq_topk

    DIM = 4
    coord = st.integers(-3, 3)
    vec = st.lists(coord, min_size=DIM, max_size=DIM).filter(
        lambda v: any(x != 0 for x in v)
    )

    @settings(max_examples=3, deadline=None)
    @given(
        st.lists(vec, min_size=3, max_size=12),
        st.integers(1, 3),
        st.integers(2, 5),
    )
    def prop(vecs, k, n_cells):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        queries = df.limit(2)
        want = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in brute_force_topk(queries, df, k=k).collect()
        }
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in ivfpq_topk(
                queries, df, k=k, n_cells=n_cells, n_probe=n_cells,
                m=2, n_codes=4, rerank=len(vecs),
            ).collect()
        }
        assert got == want

    prop()
