"""Entity-resolution queries (sorted-neighborhood dedup, Fellegi-Sunter
record linkage) with exact DuckDB oracle twins.

The oracles realize the same sorted neighborhood as a row_number
self-join (rn_b in (rn_a, rn_a+w]) — set-identical to the Spark side's
window-collected successor lists, and total-ordered by the same
(sortkey, id) tie-break, so pair sets match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import NONEMPTY_TOKENS_SQL
from ..operators import linkage
from ..operators.linkage import (FS_BAL_TOL, FS_MATCH_MIN, FS_NEIGHBORS,
                                 FS_W_BAL_AGREE, FS_W_BAL_DISAGREE,
                                 FS_W_SIGN_AGREE, FS_W_SIGN_DISAGREE,
                                 SN_JACCARD_MIN, SN_MAX_BLOCK, SN_PASSES,
                                 SN_WINDOW)
from ..registry import register
from ..tables import load_table


@register("sorted_neighborhood_dups", f"""
WITH t AS (
    SELECT doc_id AS id,
           list_sort(list_distinct({NONEMPTY_TOKENS_SQL})) AS ts,
           array_to_string(list_slice({NONEMPTY_TOKENS_SQL}, 1, 3), ' ') AS sortkey
    FROM documents),
b AS (
    SELECT id, ts, sortkey, string_split(sortkey, ' ')[1] AS blk FROM t),
c AS (SELECT blk, COUNT(*) AS bn FROM b GROUP BY blk),
bf AS (
    SELECT b.* FROM b JOIN c USING (blk)
    WHERE CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 13) AS BIGINT)
          % CAST(ceil(bn / {SN_MAX_BLOCK}.0) AS BIGINT) = 0),
r AS (
    SELECT *, row_number() OVER (PARTITION BY blk
                                 ORDER BY sortkey, id) AS rn
    FROM bf),
p AS (
    SELECT a.id AS doc_id_a, c.id AS doc_id_b,
           CAST(len(list_filter(a.ts, x -> list_contains(c.ts, x)))
                AS BIGINT) AS inter,
           CAST(len(a.ts) + len(c.ts) AS BIGINT) AS tot
    FROM r a JOIN r c
      ON a.blk = c.blk AND c.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW})
SELECT doc_id_a, doc_id_b,
       round(CASE WHEN tot - inter > 0
                  THEN CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END, 6) AS jacc
FROM p
WHERE round(CASE WHEN tot - inter > 0
                 THEN CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE)
                 ELSE CAST(0 AS DOUBLE) END, 6) >= {SN_JACCARD_MIN}
""")
def sorted_neighborhood_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via one sorted-neighborhood pass (Hernandez &
    Stolfo 1995): block on the first token, sort by the 3-token prefix,
    compare each doc only to its {SN_WINDOW} successors — O(n*w)
    comparisons, one exchange on the block key, no self-join and no
    global sort.  Complements the hashing-based candidate generators
    (MinHash-LSH / SimHash / prefix filter) with the order-based one."""
    docs = load_table(spark, sf_dir, "documents")
    return linkage.sorted_neighborhood_pairs(docs)


def _snm_pass_sql(p: int) -> str:
    """One rotated-key SNM pass as CTEs (pass p keys on tokens
    p..p+2), pairs normalized to (min_id, max_id)."""
    return f"""
t{p} AS (
    SELECT doc_id AS id,
           list_sort(list_distinct({NONEMPTY_TOKENS_SQL})) AS ts,
           array_to_string(list_slice({NONEMPTY_TOKENS_SQL}, {1 + p}, {3 + p}), ' ')
             AS sortkey
    FROM documents),
b{p} AS (
    SELECT id, ts, sortkey, string_split(sortkey, ' ')[1] AS blk
    FROM t{p}),
c{p} AS (SELECT blk, COUNT(*) AS bn FROM b{p} GROUP BY blk),
bf{p} AS (
    SELECT b.* FROM b{p} b JOIN c{p} USING (blk)
    WHERE CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 13) AS BIGINT)
          % CAST(ceil(bn / {SN_MAX_BLOCK}.0) AS BIGINT) = 0),
r{p} AS (
    SELECT *, row_number() OVER (PARTITION BY blk
                                 ORDER BY sortkey, id) AS rn
    FROM bf{p}),
p{p} AS (
    SELECT least(a.id, c.id) AS doc_id_a,
           greatest(a.id, c.id) AS doc_id_b,
           CAST(len(list_filter(a.ts, x -> list_contains(c.ts, x)))
                AS BIGINT) AS inter,
           CAST(len(a.ts) + len(c.ts) AS BIGINT) AS tot
    FROM r{p} a JOIN r{p} c
      ON a.blk = c.blk AND c.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW})"""


_MP_UNION = " UNION ALL ".join(
    f"SELECT * FROM p{p}" for p in range(SN_PASSES))


@register("sorted_neighborhood_multipass", "WITH "
          + ",".join(_snm_pass_sql(p).lstrip(",\n") for p in range(SN_PASSES))
          + f""",
allp AS ({_MP_UNION}),
j AS (SELECT doc_id_a, doc_id_b,
             round(CASE WHEN tot - inter > 0
                        THEN CAST(inter AS DOUBLE)
                             / CAST(tot - inter AS DOUBLE)
                        ELSE CAST(0 AS DOUBLE) END, 6) AS jacc
      FROM allp)
SELECT DISTINCT doc_id_a, doc_id_b, jacc
FROM j WHERE jacc >= {SN_JACCARD_MIN}
""")
def sorted_neighborhood_multipass(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Multi-pass sorted neighborhood ({SN_PASSES} rotated-key passes,
    Hernandez-Stolfo's refinement of the single pass): pass p sorts on
    the 3-token key starting at token p, pair sets are normalized to
    (min_id, max_id) and unioned distinct — duplicates that straddle a
    boundary under one ordering are caught by another, so recall
    strictly grows over `sorted_neighborhood_dups` at {SN_PASSES}× the
    O(n·w) cost, still with no self-join or global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return linkage.sorted_neighborhood_multipass(docs)


@register("customer_record_linkage", f"""
WITH b AS (
    SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
           c_acctbal AS bal,
           row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS rn
    FROM customer),
p AS (
    SELECT a.id AS custkey_a, c.id AS custkey_b,
           round((CASE WHEN abs(a.bal - c.bal) <= CAST({FS_BAL_TOL!r} AS DOUBLE)
                       THEN CAST({FS_W_BAL_AGREE!r} AS DOUBLE)
                       ELSE CAST({FS_W_BAL_DISAGREE!r} AS DOUBLE) END)
                 + (CASE WHEN (a.bal >= 0) = (c.bal >= 0)
                         THEN CAST({FS_W_SIGN_AGREE!r} AS DOUBLE)
                         ELSE CAST({FS_W_SIGN_DISAGREE!r} AS DOUBLE) END),
                 6) AS fs_score
    FROM b a JOIN b c
      ON a.nat = c.nat AND a.seg = c.seg
     AND c.rn BETWEEN a.rn + 1 AND a.rn + {FS_NEIGHBORS})
SELECT custkey_a, custkey_b, fs_score,
       fs_score > CAST({FS_MATCH_MIN!r} AS DOUBLE) AS is_link
FROM p WHERE fs_score > 0
""")
def customer_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted record linkage (Fellegi & Sunter 1969): block customers
    on (nation, segment), sort each block by balance, score only the
    {FS_NEIGHBORS} nearest-balance successors with fixed agreement /
    disagreement weights, and threshold into links.  Candidate pairs
    stay LINEAR in block size — blocking plus sorted neighborhood is
    what makes pairwise linkage survive a 100 TB entity table."""
    cust = load_table(spark, sf_dir, "customer")
    return linkage.record_linkage_pairs(cust)
