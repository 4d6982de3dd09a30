"""Graph-analytics queries ([EXT]): fixed-iteration PageRank over a
relational-derived edge list, oracled by unrolling the identical iterations
in SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_fiap_spark.queries.registry import query
from aws_etl_fiap_spark.sources.readers import load_table

#: Supplier node ids are offset past the customer key space so the
#: bipartite graph lives in one long id domain.
SUPP_OFFSET = 10_000_000


@query(
    "graph_degree_distribution",
    oracle=f"""
WITH raw AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {SUPP_OFFSET} AS supp
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
    SELECT cust AS src, supp AS dst FROM raw
    UNION ALL
    SELECT supp AS src, cust AS dst FROM raw
),
deg AS (
    SELECT src, CAST(src < {SUPP_OFFSET} AS INT) AS is_customer,
           COUNT(*) AS degree
    FROM edges GROUP BY src
)
SELECT is_customer, degree,
       COUNT(*) AS n_nodes,
       MIN(src) AS min_node_id
FROM deg GROUP BY is_customer, degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Degree distribution of the customer-supplier bipartite graph
    (the same symmetrized edge list PageRank and the triangle counts run
    on): per-node degree in one edge shuffle, then the (side, degree)
    histogram — the first diagnostic of any graph workload (hub detection,
    power-law check, partitioning strategy).  min_node_id per bucket makes
    the row deterministic beyond counts.  Grid-sized output regardless of
    graph size."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(SUPP_OFFSET)).alias("supp"),
        )
        .distinct()
    )
    edges = raw.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionAll(
        raw.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).select(
        "src",
        (F.col("src") < SUPP_OFFSET).cast("int").alias("is_customer"),
        "degree",
    )
    return deg.groupBy("is_customer", "degree").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("src").alias("min_node_id"),
    )
PR_DAMPING = 0.85
PR_ITERS = 3


def _pagerank_oracle() -> str:
    d = repr(PR_DAMPING)
    # One unrolled CTE per iteration — the same arithmetic tree as the
    # operator: base + d * SUM(pr/outdeg), from a uniform 1/N start.
    steps = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
    SELECT e.dst AS id, base.b + {d} * SUM(p.pr / p.outdeg) AS pr, any_value(p2.outdeg) AS outdeg
    FROM edges e
    JOIN {prev} p ON p.id = e.src
    JOIN deg p2 ON p2.src = e.dst
    CROSS JOIN base
    GROUP BY e.dst, base.b
)"""
        )
        prev = f"r{i}"
    joined = ",\n".join(steps)
    return f"""
WITH raw AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {SUPP_OFFSET} AS supp
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
    SELECT cust AS src, supp AS dst FROM raw
    UNION ALL
    SELECT supp AS src, cust AS dst FROM raw
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS id FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
base AS (SELECT (1.0 - {d}) / n AS b FROM nn),
r0 AS (
    SELECT nodes.id, 1.0 / nn.n AS pr, deg.outdeg
    FROM nodes CROSS JOIN nn JOIN deg ON deg.src = nodes.id
),
{joined}
SELECT r.id, FLOOR(r.pr * 1000000000.0 + 0.5) / 1000000000.0 AS pr
FROM {prev} r
"""


@query("graph_pagerank_bipartite", oracle=_pagerank_oracle())
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Fixed-iteration PageRank (operators/graph.pagerank) on the
    symmetrized customer<->supplier bipartite graph derived from
    orders x lineitem — the iterative-algorithm family beyond connected
    components.  3 damped iterations from a uniform start; the oracle
    unrolls the identical per-iteration arithmetic in SQL and both sides
    round half-up to 9 dp (iteration sums are order-sensitive in the last
    ulp only)."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(SUPP_OFFSET)).alias("supp"),
        )
        .distinct()
    )
    edges = raw.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionAll(
        raw.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    ranks = pagerank(edges, "src", "dst", iters=PR_ITERS, damping=PR_DAMPING)
    return ranks.select("id", round_half_up("pr", 9).alias("pr"))


def _triangle_oracle() -> str:
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    return f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS bk, p_brand AS it
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
sized AS (
    SELECT bk, it FROM (
        SELECT bk, it, COUNT(*) OVER (PARTITION BY bk) AS bk_size FROM items
    ) WHERE bk_size <= {_MAX_BASKET}
),
edges AS (
    SELECT a.it AS ea, b.it AS eb
    FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
    GROUP BY a.it, b.it
    HAVING COUNT(*) >= {_MIN_PAIR}
),
tri AS (
    SELECT e1.ea AS x, e1.eb AS y, e2.eb AS z
    FROM edges e1
    JOIN edges e2 ON e2.ea = e1.eb
    JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
)
SELECT id AS brand, COUNT(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS id FROM tri)
GROUP BY id
"""


@query("graph_triangle_brands", oracle=_triangle_oracle())
def graph_triangle_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-node triangle counts (operators/graph.triangle_counts)
    over the brand co-occurrence graph (edges = brand pairs co-purchased
    in >= MIN_PAIR capped baskets, from sequences.basket_pairs): the
    wedge-close two-join enumeration on oriented edges, each triangle
    found exactly once via the sorted-vertex orientation.  Triangle
    structure is the community-density signal co-occurrence analyses
    read; the oracle is the same triple join in SQL."""
    from aws_etl_fiap_spark.operators.graph import triangle_counts
    from aws_etl_fiap_spark.operators.sequences import basket_pairs
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    edges = basket_pairs(
        baskets, "l_orderkey", "p_brand",
        max_basket=_MAX_BASKET, min_pair_count=_MIN_PAIR,
    ).select(F.col("item_a").alias("id_a"), F.col("item_b").alias("id_b"))
    return triangle_counts(edges).withColumnRenamed("id", "brand")


LPA_ITERS = 2


def _lpa_oracle(iters: int = LPA_ITERS) -> str:
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    parts = [
        f"""WITH items AS (
    SELECT DISTINCT l_orderkey AS bk, p_brand AS it
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
sized AS (
    SELECT bk, it FROM (
        SELECT bk, it, COUNT(*) OVER (PARTITION BY bk) AS bk_size FROM items
    ) WHERE bk_size <= {_MAX_BASKET}
),
edges AS (
    SELECT a.it AS ea, b.it AS eb
    FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
    GROUP BY a.it, b.it
    HAVING COUNT(*) >= {_MIN_PAIR}
),
sym AS (
    SELECT ea AS src, eb AS dst FROM edges
    UNION
    SELECT eb AS src, ea AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS id, src AS lab FROM sym)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
l{k} AS (
    SELECT id, lab FROM (
        SELECT s.src AS id, l.lab,
               ROW_NUMBER() OVER (
                   PARTITION BY s.src
                   ORDER BY COUNT(*) DESC, l.lab ASC
               ) AS rn
        FROM sym s JOIN l{k - 1} l ON l.id = s.dst
        GROUP BY s.src, l.lab
    ) WHERE rn = 1
)"""
        )
    return "".join(parts) + f"\nSELECT id AS brand, lab AS community FROM l{iters}"


BFS_HOPS = 3
#: Seed set: all brands in the Brand#1x range — a multi-source BFS, the
#: seed-expansion shape (not single-source).
BFS_SEED_PREFIX = "Brand#1"


def _bfs_oracle(hops: int = BFS_HOPS) -> str:
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    parts = [
        f"""WITH items AS (
    SELECT DISTINCT l_orderkey AS bk, p_brand AS it
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
sized AS (
    SELECT bk, it FROM (
        SELECT bk, it, COUNT(*) OVER (PARTITION BY bk) AS bk_size FROM items
    ) WHERE bk_size <= {_MAX_BASKET}
),
edges AS (
    SELECT a.it AS ea, b.it AS eb
    FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
    GROUP BY a.it, b.it
    HAVING COUNT(*) >= {_MIN_PAIR}
),
sym AS (
    SELECT ea AS src, eb AS dst FROM edges
    UNION
    SELECT eb AS src, ea AS dst FROM edges
),
d0 AS (
    SELECT DISTINCT src AS id, 0 AS hops FROM sym
    WHERE src LIKE '{BFS_SEED_PREFIX}%'
),
f0 AS (SELECT id FROM d0)"""
    ]
    for k in range(1, hops + 1):
        parts.append(
            f""",
c{k} AS (
    SELECT DISTINCT s.dst AS id FROM sym s JOIN f{k - 1} f ON f.id = s.src
),
f{k} AS (SELECT id FROM c{k} WHERE id NOT IN (SELECT id FROM d{k - 1})),
d{k} AS (
    SELECT id, hops FROM d{k - 1}
    UNION ALL
    SELECT id, {k} AS hops FROM f{k}
)"""
        )
    return (
        "".join(parts)
        + f"\nSELECT id AS brand, CAST(hops AS INT) AS hops FROM d{hops}"
    )


@query("graph_bfs_hops_brands", oracle=_bfs_oracle())
def graph_bfs_hops_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Multi-source bounded-horizon BFS (operators/graph.bfs_hops)
    over the brand co-occurrence graph: every Brand#1x vertex starts at
    hop 0 and the frontier extends 3 synchronous rounds — the
    reachability/seed-expansion primitive that completes the graph ladder
    (components -> triangles -> PageRank -> communities -> distances).
    Each round joins the edges against the CURRENT frontier only and
    anti-joins the reached set, so per-round work is frontier-sized.  The
    oracle unrolls the identical rounds; unreached-within-horizon vertices
    are absent on both engines."""
    from aws_etl_fiap_spark.operators.graph import bfs_hops
    from aws_etl_fiap_spark.operators.sequences import basket_pairs
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    edges = basket_pairs(
        baskets, "l_orderkey", "p_brand",
        max_basket=_MAX_BASKET, min_pair_count=_MIN_PAIR,
    ).select(F.col("item_a").alias("id_a"), F.col("item_b").alias("id_b"))
    out = bfs_hops(
        edges,
        lambda c: c.startswith(BFS_SEED_PREFIX),
        max_hops=BFS_HOPS,
    )
    return out.select(F.col("id").alias("brand"), F.col("hops").cast("int").alias("hops"))


@query("graph_community_lpa_brands", oracle=_lpa_oracle())
def graph_community_lpa_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Frequency label-propagation community detection
    (operators/graph.label_propagation_communities) over the brand
    co-occurrence graph — Raghavan et al.'s near-linear community
    algorithm in its deterministic synchronous form: 2 fixed rounds, every
    vertex adopts its neighbors' most frequent label, ties to the smallest.
    Completes the graph family's structure ladder (components -> triangles
    -> PageRank -> communities).  The oracle unrolls the identical rounds
    in SQL; with string labels the tie order is the plain string order on
    both engines."""
    from aws_etl_fiap_spark.operators.graph import label_propagation_communities
    from aws_etl_fiap_spark.operators.sequences import basket_pairs
    from aws_etl_fiap_spark.queries.seq_q import _MAX_BASKET, _MIN_PAIR

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    edges = basket_pairs(
        baskets, "l_orderkey", "p_brand",
        max_basket=_MAX_BASKET, min_pair_count=_MIN_PAIR,
    ).select(F.col("item_a").alias("id_a"), F.col("item_b").alias("id_b"))
    # basket_pairs aggregates on the oriented (item_a < item_b) pair, so
    # each undirected edge arrives exactly once — the duplicate-free
    # contract the vote counts need (see the operator docstring).
    out = label_propagation_communities(edges, iters=LPA_ITERS)
    return out.select(F.col("id").alias("brand"), F.col("lab").alias("community"))
