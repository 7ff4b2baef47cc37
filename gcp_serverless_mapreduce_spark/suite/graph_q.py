"""Graph-analytics queries with DuckDB oracle twins.

The reference's pipeline has one graph-shaped step — the transitive
canonicalization of near-dup pairs (dedup_q.dup_clusters).  This module
extends the same iterative join/agg machinery to weighted fixpoints:
PageRank over the customer↔supplier interaction graph derived from
orders ⋈ lineitem (who buys from whom), the entity-importance ranking any
100 TB interaction log supports.

Determinism contract (see operators/graph.py): fixed iteration count, no
floating-point convergence test, final ``round(rank, 6)`` — double
summation-order noise lives at ~1e-15 and can't reach the hash.  The
oracle unrolls the five iterations as CTEs r1..r5; both engines start
from the same exact 1/N and divide by the same integer out-degrees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph, textstats
from ..registry import register
from ..tables import load_table
from .textstats_q import _T_CTE, PMI_MAX_GAP, PMI_MIN_COUNT

PR_ITERS = 5
PR_DAMPING = 0.85

# Bidirected customer↔supplier edge list; node ids prefixed 'C'/'S' so the
# two key spaces can't collide.
_EDGES_CTE = """
WITH e AS (
    SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                    'S' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
bi AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM bi GROUP BY src),
nn AS (SELECT COUNT(DISTINCT src) AS cnt FROM bi),
r0 AS (SELECT DISTINCT src AS node, 1.0 / (SELECT cnt FROM nn) AS rank
       FROM bi)
"""

_ITER = """,
r{i} AS (
    SELECT bi.dst AS node,
           (1.0 - {d}) / (SELECT cnt FROM nn)
           + {d} * SUM(r.rank / deg.outdeg) AS rank
    FROM bi JOIN r{prev} r ON r.node = bi.src
            JOIN deg ON deg.src = bi.src
    GROUP BY bi.dst)
"""

_PR_SQL = (_EDGES_CTE
           + "".join(_ITER.format(i=i, prev=i - 1, d=PR_DAMPING)
                     for i in range(1, PR_ITERS + 1))
           + f"""
SELECT node, round(rank, 6) AS rank FROM r{PR_ITERS}
""")


@register("pagerank_customer_supplier", _PR_SQL)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS}-iteration PageRank (d={PR_DAMPING}) over the bidirected
    customer↔supplier graph from orders ⋈ lineitem.  Spark side: one
    edge-build join, then per-iteration join+agg shuffled on the node id
    over a once-checkpointed degree-annotated edge list, all lazy in one
    job (operators/graph.py); the oracle is the
    same fixpoint unrolled as five CTEs."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # distinct on the (int, int) key pair BEFORE the string rendering:
    # the dedup exchange then shuffles 16 bytes/row instead of two
    # variable-width strings, and the concat runs once per EDGE rather
    # than once per lineitem row (same result set — the prefixed concat
    # is injective on the key pair).
    e = (orders.join(lineitem,
                     orders["o_orderkey"] == lineitem["l_orderkey"])
         .select("o_custkey", "l_suppkey")
         .distinct()
         .select(F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
                 .alias("src"),
                 F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
                 .alias("dst")))
    # Both directions of each edge.  The C-/S- prefixes make the two
    # directions disjoint, so the union of an already-distinct edge set
    # needs no second distinct — skipping it saves a full shuffle of the
    # bidirected frame.
    bi = e.unionByName(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
    return graph.pagerank_rounded(bi, PR_ITERS, PR_DAMPING)


# ---- triangle counting over the PMI word graph ----------------------------

TRI_PMI_MIN = 0.0    # keep positively-associated pairs as edges
TRI_PAIR_MIN = 5     # same support floor as word_cooccurrence_pmi


# The tokenize → co-occurrence counts → PMI threshold → canonical
# undirected edge list, shared verbatim by the triangle and k-core
# oracles (mirrors textstats.cooccurrence_pmi + graph.undirect).
_PMI_EDGES_CTE = _T_CTE + f""",
idx1 AS (SELECT toks AS tk, unnest(generate_series(1, len(toks) - 1)) AS i
         FROM t),
p1 AS (SELECT tk[i] AS word_a, tk[i + 1] AS word_b FROM idx1),
idx2 AS (SELECT toks AS tk, unnest(generate_series(1, len(toks) - 2)) AS i
         FROM t),
p2 AS (SELECT tk[i] AS word_a, tk[i + 2] AS word_b FROM idx2),
pairs AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
pc AS (SELECT word_a, word_b, COUNT(*) AS n_pair FROM pairs GROUP BY 1, 2),
wc AS (SELECT word, COUNT(*) AS n_word
       FROM (SELECT unnest(toks) AS word FROM t) GROUP BY word),
tot AS (SELECT CAST((SELECT SUM(n_pair) FROM pc) AS DOUBLE) AS t_pairs,
               CAST((SELECT SUM(n_word) FROM wc) AS DOUBLE) AS t_words),
pmi AS (
    SELECT word_a, word_b,
           round(ln((CAST(n_pair AS DOUBLE) / t_pairs)
                    / ((CAST(na.n_word AS DOUBLE) / t_words)
                       * (CAST(nb.n_word AS DOUBLE) / t_words))), 6) AS pmi
    FROM pc JOIN wc na ON na.word = pc.word_a
            JOIN wc nb ON nb.word = pc.word_b
            CROSS JOIN tot
    WHERE n_pair >= {TRI_PAIR_MIN}),
e AS (
    SELECT DISTINCT least(word_a, word_b) AS u,
                    greatest(word_a, word_b) AS v
    FROM pmi WHERE pmi >= {TRI_PMI_MIN!r} AND word_a <> word_b)"""


@register("pmi_graph_triangles", _PMI_EDGES_CTE + """,
w AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM e e1 JOIN e e2 ON e1.v = e2.u),
tri AS (
    SELECT w.x, w.y, w.z
    FROM w JOIN e e3 ON e3.u = w.x AND e3.v = w.z),
n AS (SELECT unnest([x, y, z]) AS node FROM tri)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM n GROUP BY node
""")
def pmi_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the clustering-coefficient / community-density
    primitive) over the word-association graph: edges are co-occurring
    word pairs with PMI >= {TRI_PMI_MIN} at support >= {TRI_PAIR_MIN},
    canonicalized undirected; triangles enumerated once each as ordered
    wedges x<y<z closed by a third equi-join (operators/graph.py:
    triangle_counts) — no theta join, no dedup pass.  Per-node counts."""
    docs = load_table(spark, sf_dir, "documents")
    pmi = textstats.cooccurrence_pmi(docs, PMI_MAX_GAP, PMI_MIN_COUNT)
    edges = graph.undirect(
        pmi.where(F.col("pmi") >= TRI_PMI_MIN))
    return graph.triangle_counts(edges)


KCORE_K = 3
KCORE_ROUNDS = 4

_KC_ROUND = """,
d{i} AS (SELECT u, COUNT(*) AS deg FROM e{prev} GROUP BY u),
k{i} AS (SELECT u FROM d{i} WHERE deg >= {k}),
e{i} AS (SELECT e{prev}.u, e{prev}.v FROM e{prev}
         JOIN k{i} a ON a.u = e{prev}.u
         JOIN k{i} b ON b.u = e{prev}.v)"""

_KC_SQL = (_PMI_EDGES_CTE + """,
e0 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)"""
           + "".join(_KC_ROUND.format(i=i, prev=i - 1, k=KCORE_K)
                     for i in range(1, KCORE_ROUNDS + 1))
           + f"""
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
FROM e{KCORE_ROUNDS} GROUP BY u
""")


@register("kcore_pmi_words", _KC_SQL)
def kcore_pmi_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS}-round k-core peeling (k={KCORE_K}) over the same
    PMI word-association graph as the triangle query — the
    dense-community extraction a corpus-graph audit runs (k-core is the
    standard cheap community-density screen before clustering).
    Spark side (operators/graph.kcore_peel): per round one degree
    aggregate + two survivor semi-joins over a once-checkpointed
    bidirected edge list; the oracle unrolls the peeling as CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    pmi = textstats.cooccurrence_pmi(docs, PMI_MAX_GAP, PMI_MIN_COUNT)
    edges = graph.undirect(pmi.where(F.col("pmi") >= TRI_PMI_MIN))
    return graph.kcore_peel(edges, KCORE_K, KCORE_ROUNDS)


# ---- label-propagation communities over the PMI word graph ----------------

LPA_ROUNDS = 4

_LPA_ROUND = """,
n{i} AS (SELECT e0.u AS node, l.label, COUNT(*) AS c
         FROM e0 JOIN l{prev} l ON l.node = e0.v
         GROUP BY e0.u, l.label),
l{i} AS (SELECT node, label FROM n{i}
         QUALIFY row_number() OVER (PARTITION BY node
                                    ORDER BY c DESC, label) = 1)"""

_LPA_SQL = (_PMI_EDGES_CTE + """,
e0 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM e0)"""
            + "".join(_LPA_ROUND.format(i=i, prev=i - 1)
                      for i in range(1, LPA_ROUNDS + 1))
            + f"""
SELECT node, label AS community FROM l{LPA_ROUNDS}
""")


@register("lpa_word_communities", _LPA_SQL)
def lpa_word_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{LPA_ROUNDS}-round synchronous Label Propagation (Raghavan et al.
    2007) over the same PMI word-association graph as the triangle and
    k-core queries — the near-linear community detector that finds the
    graph's topical clusters where k-core only screens density.  Every
    node's final community label is hash-gated: the oracle unrolls the
    synchronous mode-update rounds as CTEs with the identical
    (count desc, label asc) tie-break, so a swapped tie order or an
    asynchronous-update bug surfaces as a value mismatch, not noise.
    Spark side (operators/graph.py:label_propagation): one checkpointed
    bidirected edge list scanned per round, each round a node-keyed
    join + (node, label) count + per-node window argmax — label frames
    are O(|nodes|), rounds chain lazily (linear lineage)."""
    docs = load_table(spark, sf_dir, "documents")
    pmi = textstats.cooccurrence_pmi(docs, PMI_MAX_GAP, PMI_MIN_COUNT)
    edges = graph.undirect(pmi.where(F.col("pmi") >= TRI_PMI_MIN))
    return graph.label_propagation(edges, LPA_ROUNDS)
