"""Frequency label propagation (operators/graph.label_propagation_communities):
deterministic synchronous semantics vs a brute-force driver simulation, and
the community-boundary behavior that separates it from min-label components.
"""

from collections import Counter

import pytest

from aws_etl_fiap_spark.operators.graph import label_propagation_communities


def _simulate(edges, iters):
    """Reference synchronous LPA: most-frequent neighbor label, min tie."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            votes = Counter(lab[u] for u in nbrs)
            top = max(votes.values())
            nxt[v] = min(l for l, c in votes.items() if c == top)
        lab = nxt
    return lab


def _run(spark, edges, iters):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = label_propagation_communities(df, iters=iters)
    return {r["id"]: r["lab"] for r in out.collect()}


def test_lpa_matches_reference_simulation(spark):
    # two 4-cliques joined by a single bridge edge
    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = clique1 + clique2 + [(4, 10)]
    for iters in (1, 2, 3):
        assert _run(spark, edges, iters) == _simulate(edges, iters)


def test_lpa_keeps_clique_communities_separate(spark):
    """Min-label components would merge everything reachable; frequency
    votes stop at the bridge — each clique keeps its own min label."""
    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = clique1 + clique2 + [(4, 10)]
    lab = _run(spark, edges, 2)
    assert {lab[v] for v in (1, 2, 3)} == {1}
    assert {lab[v] for v in (11, 12, 13)} == {10}
    assert lab[1] != lab[11]


def test_lpa_string_labels_tie_to_smallest(spark):
    edges = [("x", "y"), ("y", "z")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    out = {r["id"]: r["lab"] for r in label_propagation_communities(df, iters=1).collect()}
    # y sees {x, z} -> min "x"; x and z each see only y
    assert out == {"x": "y", "y": "x", "z": "y"}


def test_bfs_hops_hand_checked(spark):
    """Path graph a-b-c-d plus isolated edge x-y: seeds {a}, horizon 2 ->
    a:0, b:1, c:2; d beyond horizon and x/y unreachable are absent."""
    from aws_etl_fiap_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    out = bfs_hops(edges, lambda c: c == "a", max_hops=2)
    got = {r["id"]: r["hops"] for r in out.collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_hops_multi_source_takes_min_distance(spark):
    """Two seeds on one path: every vertex gets the hop count of the NEARER
    seed (BFS layering, not per-seed distances)."""
    from aws_etl_fiap_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string",
    )
    out = bfs_hops(edges, lambda c: c.isin("a", "e"), max_hops=2)
    got = {r["id"]: r["hops"] for r in out.collect()}
    assert got == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


def test_graph_operators_match_models_property(spark):
    """Property (r10): on ARBITRARY small graphs, the three iterative graph
    operators equal their brute-force Python models — LPA (synchronous
    frequency vote, min tie), connected components (min label per
    component), and bounded-horizon multi-source BFS.  Random graphs reach
    the edge shapes fixtures never do: self-contained triangles bridged by
    a single vertex, isolated edges, star collisions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.graph import bfs_hops, connected_components

    edge = st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ).filter(lambda p: p[0] < p[1])

    def cc_model(edges):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    def bfs_model(edges, seeds, max_hops):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {v: 0 for v in adj if v in seeds}
        frontier = set(dist)
        for k in range(1, max_hops + 1):
            frontier = {
                u for v in frontier for u in adj[v] if u not in dist
            }
            for u in frontier:
                dist[u] = k
        return dist

    @settings(max_examples=5, deadline=None)
    @given(st.sets(edge, min_size=1, max_size=12))
    def prop(edges):
        e = sorted(edges)
        df = spark.createDataFrame(e, "id_a int, id_b int")

        got_lpa = {
            (r["id"], r["lab"])
            for r in label_propagation_communities(df, iters=2).collect()
        }
        assert got_lpa == set(_simulate(e, 2).items())

        got_cc = {
            (r["id"], r["comp"])
            for r in connected_components(df, "id_a", "id_b").collect()
        }
        assert got_cc == set(cc_model(e).items())

        seeds = {v for pair in e for v in pair if v % 3 == 0}
        got_bfs = {
            (r["id"], r["hops"])
            for r in bfs_hops(df, lambda c: c % 3 == 0, max_hops=2).collect()
        }
        assert got_bfs == set(bfs_model(e, seeds, 2).items())

        # CC and BFS take edges in any direction and multiplicity: every
        # pair twice plus its reversed copy must not change either result.
        # (LPA stays on unique oriented edges: duplicates double its votes.)
        noisy = spark.createDataFrame(e + e + [(b, a) for a, b in e], "id_a int, id_b int")
        assert {
            (r["id"], r["comp"])
            for r in connected_components(noisy, "id_a", "id_b").collect()
        } == got_cc
        assert {
            (r["id"], r["hops"])
            for r in bfs_hops(noisy, lambda c: c % 3 == 0, max_hops=2).collect()
        } == got_bfs

    prop()


def test_pagerank_and_triangles_match_models_property(spark):
    """Property (r10): fixed-iteration PageRank on symmetrized random
    graphs equals the textbook power-iteration model (per-node, within
    summation-order ulps), and oriented triangle counts equal the exact
    combinatorial model."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.graph import pagerank, triangle_counts

    edge = st.tuples(
        st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)
    ).filter(lambda p: p[0] < p[1])

    @settings(max_examples=5, deadline=None)
    @given(st.sets(edge, min_size=1, max_size=10))
    def prop(edges):
        e = sorted(edges)
        sym = [(a, b) for a, b in e] + [(b, a) for a, b in e]
        df_sym = spark.createDataFrame(sym, "src int, dst int")
        got_pr = {r["id"]: r["pr"] for r in pagerank(df_sym, iters=2).collect()}

        adj = {}
        for a, b in sym:
            adj.setdefault(a, []).append(b)
        n = len(adj)
        pr = {v: 1.0 / n for v in adj}
        for _ in range(2):
            inc = {v: 0.0 for v in adj}
            for u, outs in adj.items():
                for v in outs:
                    inc[v] += pr[u] / len(outs)
            pr = {v: 0.15 / n + 0.85 * inc[v] for v in adj}
        assert set(got_pr) == set(pr)
        for v in pr:
            assert abs(got_pr[v] - pr[v]) < 1e-9, (v, got_pr[v], pr[v])

        df_e = spark.createDataFrame(e, "id_a int, id_b int")
        got_tri = {
            r["id"]: r["n_triangles"] for r in triangle_counts(df_e).collect()
        }
        es = set(e)
        tri = {}
        verts = sorted({v for p in e for v in p})
        for i, x in enumerate(verts):
            for y in verts[i + 1 :]:
                for z in verts:
                    if z > y and (x, y) in es and (y, z) in es and (x, z) in es:
                        for v in (x, y, z):
                            tri[v] = tri.get(v, 0) + 1
        assert got_tri == tri

    prop()


def test_bfs_shuffle_fallback_matches_broadcast_path(spark, monkeypatch):
    """Force the large-graph shuffle path (gate = 0) and require identical
    results — the r14 fallback-equivalence smoke in unit form."""
    import aws_etl_fiap_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    want = {
        (r["id"], r["hops"])
        for r in G.bfs_hops(edges, lambda c: c == 1, max_hops=3).collect()
    }
    monkeypatch.setattr(G, "BROADCAST_VERTEX_ROWS", 0)
    got = {
        (r["id"], r["hops"])
        for r in G.bfs_hops(edges, lambda c: c == 1, max_hops=3).collect()
    }
    assert got == want == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_pagerank_many_iters_bounded_plan(spark):
    """r14: the broadcast path checkpoints every 8 lazy rounds so callers
    unrolling many iterations keep a bounded plan; iters=20 must complete
    and sum to ~1 like any stochastic-ish rank vector on a symmetric graph."""
    from aws_etl_fiap_spark.operators.graph import pagerank

    e = [(a, b) for a in range(1, 6) for b in range(1, 6) if a != b]
    df = spark.createDataFrame(e, "src long, dst long")
    ranks = {r["id"]: r["pr"] for r in pagerank(df, iters=20).collect()}
    assert len(ranks) == 5
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # symmetric complete graph: uniform fixpoint
    for v in ranks.values():
        assert abs(v - 0.2) < 1e-12


def _new_cached_rdds(spark, call):
    """Run ``call()`` and return (its result, the cached RDD ids it left)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = call()
    return out, set(jsc.getPersistentRDDs().keySet()) - before


@pytest.mark.parametrize(
    "iters, shuffle", [(20, False), (3, True)], ids=["broadcast", "shuffle"]
)
def test_pagerank_releases_superseded_rank_pins(spark, monkeypatch, iters, shuffle):
    """Only e, deg and the last rank pin stay cached after a call: every
    earlier rank pin is released once the next one has materialized (the
    broadcast path pins every 8th round, the shuffle path every round)."""
    import aws_etl_fiap_spark.operators.graph as G

    if shuffle:
        monkeypatch.setattr(G, "BROADCAST_VERTEX_ROWS", 0)
    e = [(a, b) for a in range(1, 6) for b in range(1, 6) if a != b]
    df = spark.createDataFrame(e, "src long, dst long")
    out, new = _new_cached_rdds(spark, lambda: G.pagerank(df, iters=iters))
    assert len(new) <= 3, f"{len(new)} cached RDDs left by pagerank"
    ranks = {r["id"]: r["pr"] for r in out.collect()}
    assert len(ranks) == 5
    for v in ranks.values():
        assert abs(v - 0.2) < 1e-12


@pytest.mark.parametrize("op", ["components", "lpa"])
def test_label_loops_release_edge_pin(spark, op):
    """Connected components and LPA leave exactly one cached RDD behind —
    the returned label pin.  The edge pin and every superseded label
    generation are released once no round reads them."""
    import aws_etl_fiap_spark.operators.graph as G

    # 6 oriented edges over 9 vertices: a 4-chain, one edge, a 3-path.
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (5, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    calls = {
        "components": lambda: G.connected_components(df, "id_a", "id_b"),
        "lpa": lambda: G.label_propagation_communities(df, iters=2),
    }
    out, new = _new_cached_rdds(spark, calls[op])
    assert len(new) == 1
    assert out.count() == 9
