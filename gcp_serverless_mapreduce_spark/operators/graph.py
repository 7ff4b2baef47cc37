"""Iterative graph analytics over edge DataFrames — fixed-iteration
PageRank as the canonical join/agg fixpoint.

The reference's only graph-shaped computation is the connected-component
canonicalization of near-dup pairs (covered in operators/dedup.py:
dup_clusters); PageRank extends the same iterative join/agg pattern to a
weighted fixpoint, the shape any entity-importance ranking over a 100 TB
interaction graph takes (suppliers by customer flow, hosts by link mass,
...).

Scale design:
- Each iteration is ONE join (ranks x edges, shuffled on ``src``) and ONE
  aggregate (contributions grouped by ``dst``) — no driver-side data
  movement; the rank frame has |nodes| rows, the join |edges| rows.
- The degree-annotated edge frame is ``localCheckpoint``-ed once and
  scanned by every round; rank frames stay lazy — the fixed-depth
  fixpoint runs as one job (no per-round driver action to force).
- Determinism across engines: a fixed iteration count (no
  convergence-epsilon whose floating-point evaluation could diverge
  between engines) and a final ``round(rank, 6)`` so the last ~1e-15 of
  double summation-order noise can't reach the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bidirect(edges: DataFrame) -> DataFrame:
    """Undirected graph as a directed edge list: each {a,b} both ways."""
    return (edges.select("src", "dst")
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
            .distinct())


def pagerank(edges: DataFrame, iters: int = 5,
             damping: float = 0.85) -> DataFrame:
    """-> (node, rank) after ``iters`` synchronous PageRank iterations.

    ``edges`` is a directed (src, dst) frame in which every node MUST
    appear as a src at least once (true by construction for bidirected
    graphs — use :func:`bidirect`), so there are no dangling nodes and the
    update is exactly::

        rank'(v) = (1 - d)/N + d * sum_{u->v} rank(u) / outdeg(u)

    Rank mass is conserved: sum(rank) == 1 every round (asserted by
    tests, not at runtime — the check would force an extra action per
    round).
    """
    # Fold the static out-degree into the edge list ONCE (instead of a
    # deg join inside every round) and materialize it: it is scanned by
    # all ``iters`` rounds, and without the checkpoint each round would
    # re-run the upstream edge build.  The per-round rank frames are NOT
    # checkpointed — PageRank, unlike dup_clusters, has no per-round
    # driver action, so the whole fixpoint is ONE lazy plan executed once
    # (measured 3.5× faster at sf0.1 than eager per-round
    # materialization); at ``iters`` beyond ~15 add a periodic checkpoint
    # for plan depth.  TUNING.md's "PageRank physical-plan A/B" records
    # the full physical A/B: per-round broadcast-rank variants lose or tie and
    # cannot scale (the rank frame is O(|nodes|)), and persist() — which
    # unlike localCheckpoint keeps the window's src outputPartitioning —
    # measures no difference at sf0.1; at real edge volumes, bucket the
    # edge frame by src to make the per-round edge-side exchange vanish.
    w = Window.partitionBy("src")
    edgesw = (edges
              .withColumn("outdeg", F.count("*").over(w))
              .localCheckpoint())
    nodes = edgesw.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # scalar (node count), not a data collect
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (ranks.join(edgesw, ranks["node"] == edgesw["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") / F.col("outdeg")).alias("c")))
        ranks = (contrib.groupBy("node")
                 .agg((F.lit(base) + F.lit(damping) * F.sum("c"))
                      .alias("rank")))
    return ranks


def pagerank_rounded(edges: DataFrame, iters: int = 5,
                     damping: float = 0.85) -> DataFrame:
    """PageRank with the cross-engine value contract applied (see module
    docstring): final ranks rounded to 6 decimals."""
    pr = pagerank(edges, iters, damping)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def undirect(pairs: DataFrame) -> DataFrame:
    """Canonicalize directed pairs into undirected edges (u < v),
    deduplicated.  -> (u, v)."""
    a, b = F.col("word_a"), F.col("word_b")
    return (pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
            .where(F.col("u") < F.col("v"))
            .distinct())


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over undirected edges
    (u < v) -> (node, n_triangles).

    DEGREE-ORIENTED wedge enumeration (the standard scale refinement —
    Chiba & Nishizeki 1985 / Schank & Wagner 2005): orient every edge
    from its lower-(degree, id) endpoint to the higher, enumerate wedges
    at each edge's SOURCE (join oriented out-lists on the shared apex),
    and close each wedge against the oriented edge between its two
    targets.  Orientation caps every out-list at O(sqrt(E)) — a 100 TB
    hub of degree d no longer emits O(d^2) wedges, because almost all of
    a hub's edges point INTO it.  Each triangle appears exactly once
    (its rank-lowest vertex is the apex), so counts are identical to
    id-ordered enumeration and the id-ordered oracle twin stays exact.
    Plan: one degree aggregate, two broadcast-or-shuffle joins to attach
    endpoint degrees, then the same two equi-join shuffles as before
    (apex-keyed wedge join + (target, target) closure join).  The edge
    list and the oriented frame are each localCheckpoint-ed ONCE: the
    edge frame feeds the degree agg + both endpoint joins and the
    oriented frame feeds three join sides — without the checkpoints
    every consumer replays the whole upstream edge-construction
    pipeline (measured: the PMI-graph plan repeated ~8x, 127 exchanges
    vs 11 after).
    """
    e = edges.select("u", "v").localCheckpoint()
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    ed = (e.join(deg.select(F.col("node").alias("u"),
                            F.col("deg").alias("du")), "u")
          .join(deg.select(F.col("node").alias("v"),
                           F.col("deg").alias("dv")), "v"))
    # rank order = (deg, id); struct comparison gives the total order
    u_first = (F.col("du") < F.col("dv")) | \
              ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first,
               F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
         .otherwise(
               F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
         .alias("rb")).localCheckpoint()
    wedges = (o.alias("o1")
              .join(o.alias("o2"),
                    (F.col("o1.a") == F.col("o2.a"))
                    & (F.col("o1.rb") < F.col("o2.rb")))
              .select(F.col("o1.a").alias("x"), F.col("o1.b").alias("p"),
                      F.col("o2.b").alias("q")))
    tris = wedges.join(
        o.select(F.col("a").alias("p"), F.col("b").alias("q")), ["p", "q"])
    per_node = (tris.select(F.explode(F.array("x", "p", "q")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    return per_node


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded-round k-core peeling over undirected edges (u < v) ->
    (node, deg): ``rounds`` synchronous peel iterations — each drops
    every node whose current degree is < ``k`` together with its edges —
    then the residual per-node degree.  With enough rounds this is the
    exact k-core; the FIXED round count keeps the result deterministic
    and lets the oracle unroll the peeling as CTEs (the same contract as
    the PageRank fixpoint).

    Scale shape: per round one degree aggregate plus two semi-joins of
    the edge list against the (node-cardinality, therefore broadcast-
    sized) survivor set — the edge list shuffles on its endpoints only;
    no per-node driver work, no collect.  The bidirected frame is
    localCheckpoint-ed once so each round's three consumers don't
    replay the upstream edge construction.

    Fault-tolerance / storage tradeoff (same contract as dup_clusters):
    localCheckpoint stores blocks UNREPLICATED on executors, so losing
    an executor mid-peel fails the query rather than recomputing — the
    deliberate price for truncating an exponentially-replayed lineage.
    Rounds checkpoint EAGERLY so that once round r materializes, round
    r-1's frame has no remaining consumer: dropping the Python binding
    releases the JVM Dataset, and the ContextCleaner reclaims the old
    round's blocks while the peel is still running.  Peak pinned
    storage is therefore ~2 rounds' edge frames (shrinking as peeling
    drops nodes), not rounds x |edges| as the previous lazy-checkpoint
    chain pinned — pinned by tests/test_state_eviction.py's storage-
    block probe over :func:`_kcore_rounds`."""
    bi = None
    for bi in _kcore_rounds(edges, k, rounds):
        pass
    return (bi.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg")))


def _kcore_rounds(edges: DataFrame, k: int, rounds: int):
    """The peel loop of :func:`kcore_peel`, exposed as a generator that
    yields the eagerly-checkpointed bidirected survivor frame after the
    initial copy and after each round.  Each yielded frame is the ONLY
    live reference to its round (the loop rebinds ``bi``), so once the
    consumer advances two rounds, round r-2's checkpoint blocks are
    ContextCleaner-reclaimable — the storage contract the eviction test
    asserts against the JVM's RDDStorageInfo."""
    e = edges.select("u", "v")
    bi = (e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
          .localCheckpoint())
    yield bi
    for _ in range(rounds):
        deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        # checkpoint every round, like dup_clusters: round r's frame has
        # TWO consumers (next round's degree agg and its semi-joins), so
        # a lazy loop re-derives the whole prefix per consumer — the
        # 4-round plan carried 81 exchanges before, 11 after.  Eager
        # (not eager=False): a lazy chain materializes the whole
        # cascade inside the final job and pins EVERY round's blocks
        # until it ends; eager materialization lets round r-1's blocks
        # be garbage-collected as soon as `bi` is rebound below.
        bi = (bi.join(keep, "u")
              .join(keep.select(F.col("u").alias("v")), "v")
              .select("u", "v")
              .localCheckpoint())
        yield bi


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """-> (node, community): synchronous Label Propagation (Raghavan et
    al. 2007) for ``rounds`` rounds over undirected edges (u < v) —
    the near-linear community detector a corpus-graph audit runs when
    k-core density screening isn't enough structure.

    Every node starts labeled with itself; each round every node
    adopts the most frequent label among its NEIGHBORS' previous-round
    labels (synchronous update — all nodes read round t-1), ties broken
    (count desc, label asc).  A fixed round count and the deterministic
    tie-break make the whole trajectory engine-independent, so the
    oracle unrolls the rounds as CTEs and the final (node, community)
    assignment is hash-gated — the dup_clusters / kcore_peel
    determinism contract applied to the mode-update fixpoint.

    Scale shape: the bidirected edge list is checkpointed ONCE and
    scanned by every round; each round is one join shuffled on the
    node id + one (node, label) count + one per-node window argmax —
    all keyed on the node id, never all-pairs, label frames are
    O(|nodes|).  Rounds chain lazily (labels(t) depends only on
    labels(t-1) and the checkpointed edges — linear lineage, the
    pagerank pattern, not the branching that forces kcore_peel's
    per-round checkpoints)."""
    bi = (edges.select("u", "v")
          .unionByName(edges.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
          .localCheckpoint())
    labels = (bi.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(rounds):
        nb = (bi.join(labels, bi["v"] == labels["node"])
              .select(bi["u"].alias("node"), "label"))
        cnt = (nb.groupBy("node", "label")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc())
        labels = (cnt.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("node", "label"))
    return labels.select("node", F.col("label").alias("community"))
