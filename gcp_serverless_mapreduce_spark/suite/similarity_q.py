"""Similarity-search queries over ``embeddings`` with DuckDB oracle twins.

The SQL mirrors operators/similarity.py fold for fold: every dot product /
norm is an explicit left-to-right ``list_reduce`` seeded 0.0 (= Spark's
``F.aggregate``), so similarities agree bit-for-bit and even the *ranking*
(row_number over raw sim) is stable cross-engine; ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..registry import register
from ..tables import load_table, old_batch_row_count, table_row_count

DIM = 64
NUM_PLANES = 8
K = 5
NUM_QUERIES = 20
# Neighbor-side hot-bucket cap for the SRP pair join (smallest vec_ids
# kept as candidates).  Far above any fixture bucket (~20 avg at sf0.1,
# so results are unchanged); bounds a degenerate single-bucket corpus at
# O(n·cap) pairs instead of O(n^2).
MAX_BUCKET = 256
PLANES = similarity.srp_planes(NUM_PLANES, DIM)


def _fold_sum(terms: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
            f"(acc, x) -> acc + x)")


_NORM = "sqrt(" + _fold_sum("list_transform(v, x -> x * x)") + ")"

# (vec_id, v, u): raw + unit vectors, zero vectors dropped — shared prefix.
_UNIT_CTE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, {_NORM} AS nrm FROM e),
u AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS u
      FROM n WHERE nrm <> 0)
"""


def _dot(a: str, b: str) -> str:
    return _fold_sum(
        f"list_transform(generate_series(1, {DIM}), i -> {a}[i] * {b}[i])")


def _plane_literal(plane: list[int]) -> str:
    return "[" + ", ".join(f"{s}.0" for s in plane) + "]"


# bucket from the RAW vector v: sign(v·h) is scale-invariant and skips
# the norm fold (mirrors similarity.srp_signature exactly)
_BUCKET = "||".join(
    f"(CASE WHEN {_dot('v', _plane_literal(p))} >= 0 THEN '1' ELSE '0' END)"
    for p in PLANES)

_PAIR_DOT = _dot("a.u", "b.u")


@register("cosine_topk_bruteforce", _UNIT_CTE + f"""
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM u a JOIN u b ON a.vec_id <> b.vec_id
WHERE a.vec_id < {NUM_QUERIES}
QUALIFY rank <= {K}
""")
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{K} for the first {NUM_QUERIES} vectors: broadcast
    query set × streamed corpus, per-query row_number."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, K, NUM_QUERIES)


@register("srp_bucket_stats", _UNIT_CTE + f""",
s AS (SELECT vec_id, {_BUCKET} AS bucket FROM u)
SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM s GROUP BY bucket
""")
def srp_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pins the SRP signature itself: vectors per 8-bit hyperplane bucket
    (the ANN partitioning a 100 TB corpus would shuffle on).  Map-only up
    to the tiny bucket agg — 8 dot folds per row, no norm anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    nonzero = emb.filter(F.exists("embedding", lambda x: x != 0))
    return (
        nonzero.select(
            similarity.srp_signature(
                F.col("embedding").cast("array<double>"), PLANES)
            .alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


@register("srp_ann_topk", _UNIT_CTE + f""",
s AS (SELECT vec_id, u, {_BUCKET} AS bucket FROM u),
nb AS (SELECT vec_id, u, bucket FROM s
       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               <= {MAX_BUCKET})
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM s a JOIN nb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
QUALIFY rank <= {K}
""")
def srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-{K}: SRP-bucketed candidates, exact re-rank within buckets —
    the shuffle is keyed on the bucket id, never all-pairs; hot buckets'
    neighbor side capped at {MAX_BUCKET} (mirrored in the oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_ann_topk(emb, K, PLANES, max_bucket=MAX_BUCKET)


SEM_PLANES_N = 6       # 64 cells — coarse enough that cells hold real
                       # neighborhoods at fixture scale (~80 vecs/cell at
                       # sf0.1), the role k-means clusters play in the paper
SEM_THRESHOLD = 0.25   # fixture embeddings are random; within-cell pairs
                       # above this are the conditioned-on-bucket tail
SEM_PLANES = similarity.srp_planes(SEM_PLANES_N, DIM)
_SEM_CELL = "||".join(
    f"(CASE WHEN {_dot('v', _plane_literal(p))} >= 0 THEN '1' ELSE '0' END)"
    for p in SEM_PLANES)


@register("semdedup_discards", _UNIT_CTE + f""",
s AS (SELECT vec_id, u, {_SEM_CELL} AS cell FROM u),
keepers AS (SELECT vec_id, u, cell FROM s
            QUALIFY row_number() OVER (PARTITION BY cell ORDER BY vec_id)
                    <= {MAX_BUCKET}),
close AS (
    SELECT b.vec_id AS vec_id, b.cell AS cell, a.vec_id AS keep_cand,
           {_PAIR_DOT} AS sim
    FROM keepers a JOIN s b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {_PAIR_DOT} >= {SEM_THRESHOLD})
SELECT vec_id, cell, MIN(keep_cand) AS keep_id,
       round(arg_min(sim, keep_cand), 4) AS sim
FROM close GROUP BY vec_id, cell
""")
def semdedup_discards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space ({2**SEM_PLANES_N}
    SRP cells standing in for k-means centroids), then inside each cell
    discard every vector with a smaller-id cell-mate at cosine >=
    {SEM_THRESHOLD} — one row per discard with its kept representative.
    Pair join runs within cells only (single shuffle on the cell id,
    keeper side capped at {MAX_BUCKET}); see operators/similarity.py:
    semdedup_discards."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_discards(emb, SEM_PLANES, SEM_THRESHOLD,
                                        max_bucket=MAX_BUCKET)


def _int_dot(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({a}[i] * {b}[i] AS BIGINT))), (acc, x) -> acc + x)")


_Q8 = "list_transform(u, x -> CAST(round(x * 127) AS INTEGER))"
_PAIR_IDOT = _int_dot("a.q", "b.q")


@register("sq8_ann_topk", _UNIT_CTE + f""",
s AS (SELECT vec_id, {_Q8} AS q, {_BUCKET} AS bucket FROM u),
nb AS (SELECT vec_id, q, bucket FROM s
       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               <= {MAX_BUCKET})
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_IDOT} DESC, b.vec_id) AS rank,
       {_PAIR_IDOT} AS qsim
FROM s a JOIN nb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
QUALIFY rank <= {K}
""")
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN top-{K}: int8 codes (round(127·u)), SRP
    buckets, INTEGER-dot re-rank — the 4-8× memory-reduction scale path;
    integer arithmetic is exact and order-free, so the oracle matches
    with no float-fold mirroring at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_ann_topk(emb, K, PLANES, max_bucket=MAX_BUCKET)


N_CELLS = 16
N_PROBE = 2
CENTROIDS = similarity.fixed_centroids(N_CELLS, DIM)


def _cent_literal(c: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


def _sq_fold(c: list[float]) -> float:
    acc = 0.0
    for x in c:
        acc += x * x
    return acc


# Cell score = |c|^2 - 2·(v·c): the |v|^2 term is constant per row, so the
# argmin over cells is the true nearest-centroid assignment without a norm
# fold.  |c|^2 is a Python-side left-to-right fold embedded as a literal;
# the dot is the standard list_reduce fold — both reused bit-for-bit by the
# numpy kernels in operators/similarity._ivf_search.
_SCORE_CASE = "CASE c.cell " + " ".join(
    f"WHEN {i} THEN CAST({_sq_fold(cent)!r} AS DOUBLE)"
    f" - 2.0 * {_dot('v', _cent_literal(cent))}"
    for i, cent in enumerate(CENTROIDS)) + " END"


@register("ivf_fixed_cells_topk", _UNIT_CTE + f""",
c AS (SELECT unnest(generate_series(0, {N_CELLS - 1})) AS cell),
sc AS (SELECT vec_id, v, u.u AS u, c.cell AS cell, {_SCORE_CASE} AS score
       FROM u CROSS JOIN c),
pr AS (SELECT vec_id, u, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score, cell) AS pr
       FROM sc QUALIFY pr <= {N_PROBE}),
home AS (SELECT vec_id, u, cell FROM pr WHERE pr = 1)
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM pr a JOIN home b ON a.cell = b.cell AND a.vec_id <> b.vec_id
QUALIFY rank <= {K}
""")
def ivf_fixed_cells_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-{K} over FIXED md5-derived centroids ({N_CELLS} cells,
    probe-{N_PROBE}): identical plan shape to the KMeans variant — cell
    membership via posexplode, ONE cell-keyed shuffle carrying corpus and
    query sides, per-cell vectorized re-rank, global window over
    k·n_probe candidates — but with deterministic centroids mirrored in
    the oracle, so the whole IVF pipeline is hash-matched; the trained
    variant keeps its recall test."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_fixed_topk(emb, K, CENTROIDS, n_probe=N_PROBE)


# Deterministic Lloyd KMeans: rounds unrolled as oracle CTEs.
LLOYD_ROUNDS = 2
_TRAIN_Q = similarity.IVF_TRAIN_Q
_TRAIN_TARGET = similarity.IVF_TRAIN_TARGET

# Training-sample membership — the EXACT DuckDB rendering of
# similarity.train_sample_pred under the corpus-size-scaled modulus
# (similarity.train_sample_mod: max(1, count // target), so the sample
# is O(cap) at any scale — round-10 contract change), so the
# sample-trained centroids match bit-for-bit.  At the test scales
# (<= 2*target rows) the modulus is 1 and training sees every vector.
def _train_mod_sql(target: int, corpus_where: str = "") -> str:
    return (f"greatest(1, (SELECT count(*) FROM embeddings{corpus_where})"
            f" // {target})")


def _train_pred_sql(target: int, corpus_where: str = "") -> str:
    return ("CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) "
            f"AS BIGINT) % {_train_mod_sql(target, corpus_where)} = 0")


_TRAIN_PRED = _train_pred_sql(_TRAIN_TARGET)


def _lloyd_cte(target: int = _TRAIN_TARGET, train_where: str = "") -> str:
    """Lloyd rounds as CTEs: tr = the capped hash-sample (modulus
    scaled to corpus count / ``target``) the Spark side trains on
    (search still ranks the full corpus); c0 = the
    fixed md5 init centroids; round r = nearest-cell assignment of the
    SAMPLE under c{{r-1}} (score |c|^2 - 2·(v·c), ties to the smallest
    cell), per-(cell, dim) FIXED-POINT BIGINT sums (floor(v[i]·Q) —
    order-independent, matching the Spark side's exact integer
    aggregation), then the new centroid list with empty cells keeping
    their previous centroid."""
    c0_rows = ",\n ".join(
        f"({i}, {_cent_literal(c)}, CAST({_sq_fold(c)!r} AS DOUBLE))"
        for i, c in enumerate(CENTROIDS))
    cw = f" WHERE {train_where}" if train_where else ""
    aw = f" AND {train_where}" if train_where else ""
    parts = [",\ntr AS (SELECT vec_id, v FROM u "
             f"WHERE {_train_pred_sql(target, cw)}{aw})",
             f",\nc0(cell, cent, sq) AS (VALUES {c0_rows})"]
    for r in range(1, LLOYD_ROUNDS + 1):
        p = r - 1
        dotvc = _dot("u0.v", "c.cent")
        parts.append(f""",
a{r} AS (
    SELECT u0.vec_id, u0.v, c.cell
    FROM tr u0 CROSS JOIN c{p} c
    QUALIFY row_number() OVER (PARTITION BY u0.vec_id
                               ORDER BY c.sq - 2.0 * {dotvc}, c.cell) = 1),
s{r} AS (
    SELECT cell, gi.i AS i,
           SUM(CAST(floor(v[gi.i] * {_TRAIN_Q}) AS BIGINT)) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM a{r}, (SELECT unnest(generate_series(1, {DIM})) AS i) gi
    GROUP BY cell, gi.i),
m{r} AS (
    SELECT cell, list(CAST(s AS DOUBLE)
                      / (CAST({_TRAIN_Q} AS DOUBLE) * CAST(n AS DOUBLE))
                      ORDER BY i) AS cent
    FROM s{r} GROUP BY cell),
c{r} AS (
    SELECT c.cell, COALESCE(m.cent, c.cent) AS cent,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(COALESCE(m.cent, c.cent), x -> x * x)),
               (acc, x) -> acc + x) AS sq
    FROM c{p} c LEFT JOIN m{r} m USING (cell))""")
    return "".join(parts)


@register("ivf_ann_topk", _UNIT_CTE + _lloyd_cte() + f""",
sc AS (SELECT u0.vec_id, u0.u, c.cell,
              c.sq - 2.0 * {_dot("u0.v", "c.cent")} AS score
       FROM u u0 CROSS JOIN c{LLOYD_ROUNDS} c),
pr AS (SELECT vec_id, u, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score, cell) AS pr
       FROM sc QUALIFY pr <= {N_PROBE}),
home AS (SELECT vec_id, u, cell FROM pr WHERE pr = 1)
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM pr a JOIN home b ON a.cell = b.cell AND a.vec_id <> b.vec_id
QUALIFY rank <= {K}
""")
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-{K} over TRAINED centroids — {LLOYD_ROUNDS}
    deterministic fixed-point Lloyd rounds from the md5 init (per-dim
    centroid sums quantized to BIGINTs, the logistic_gd_train
    technique), trained on the CAPPED md5 hash-sample (modulus =
    max(1, corpus_count // {_TRAIN_TARGET}) — round-10 contract change:
    the sample is O(cap), not a fixed fraction that grows with the
    corpus; the oracle's tr CTE applies the identical count-scaled
    predicate), then the probe-{N_PROBE} search over the FULL corpus
    shared with the fixed-centroid twin.  Cell assignments, trained
    centroids, and the final ranking are all hash-gated.  Recall vs
    brute force stays asserted in tests/test_ivf.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_lloyd_topk(
        emb, K, CENTROIDS, rounds=LLOYD_ROUNDS, n_probe=N_PROBE,
        train_target=_TRAIN_TARGET,
        n_rows=table_row_count(sf_dir, "embeddings"))


# A train target SMALL enough that the sampling modulus exceeds 1 on the
# test tables (500 embeddings -> mod 3; 2000 -> mod 15), so the capped-
# sample code path — predicate evaluation, sample-only Lloyd scans, the
# oracle's count-scaled CTE — is driver-attested on real data, not just
# unit-replayed.  The flagship _TRAIN_TARGET (4096) never samples below
# ~8k rows, so without this query mod>1 would be test-only until 100 TB.
_SMALL_TRAIN_TARGET = 128


@register("ivf_capped_train_topk",
          _UNIT_CTE + _lloyd_cte(_SMALL_TRAIN_TARGET) + f""",
sc AS (SELECT u0.vec_id, u0.u, c.cell,
              c.sq - 2.0 * {_dot("u0.v", "c.cent")} AS score
       FROM u u0 CROSS JOIN c{LLOYD_ROUNDS} c),
pr AS (SELECT vec_id, u, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score, cell) AS pr
       FROM sc QUALIFY pr <= {N_PROBE}),
home AS (SELECT vec_id, u, cell FROM pr WHERE pr = 1)
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM pr a JOIN home b ON a.cell = b.cell AND a.vec_id <> b.vec_id
QUALIFY rank <= {K}
""")
def ivf_capped_train_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_ann_topk with train_target={_SMALL_TRAIN_TARGET} (NEW round
    10): the SAME trained-IVF plan, but the small target makes the
    count-scaled sampling modulus exceed 1 at every test scale
    (mod 3 at 500 embeddings, 15 at 2000), so the capped-training
    contract — hash-sample membership, sample-only Lloyd scans, and
    the oracle's greatest(1, count // target) replay — is exercised
    and hash-gated by the driver exactly as it would run at 100 TB,
    where the flagship target of {_TRAIN_TARGET} produces the same
    mod>1 regime.  Search still ranks the full corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_lloyd_topk(
        emb, K, CENTROIDS, rounds=LLOYD_ROUNDS, n_probe=N_PROBE,
        train_target=_SMALL_TRAIN_TARGET,
        n_rows=table_row_count(sf_dir, "embeddings"))


# Incremental-ingest split: the NEW batch is vec_id % _INC_MOD = 0 — the
# same daily-crawl convention as dedup_q.incremental_dedup_new_docs, so
# the two incremental paths (dedup screen + ANN ingest) describe the
# same arriving batch.
_INC_MOD = 3
_INC_WHERE = f"vec_id % {_INC_MOD} <> 0"


@register("ivf_incremental_ingest_topk",
          _UNIT_CTE
          + _lloyd_cte(_SMALL_TRAIN_TARGET, train_where=_INC_WHERE) + f""",
sc AS (SELECT u0.vec_id, u0.u, c.cell,
              c.sq - 2.0 * {_dot("u0.v", "c.cent")} AS score
       FROM u u0 CROSS JOIN c{LLOYD_ROUNDS} c),
pr AS (SELECT vec_id, u, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score, cell) AS pr
       FROM sc QUALIFY pr <= {N_PROBE}),
home AS (SELECT vec_id, u, cell FROM pr WHERE pr = 1)
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM pr a JOIN home b ON a.cell = b.cell AND a.vec_id <> b.vec_id
WHERE a.vec_id % {_INC_MOD} = 0
QUALIFY rank <= {K}
""")
def ivf_incremental_ingest_topk(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Incremental IVF ingestion (NEW round 11 — the ANN sibling of
    incremental_dedup_new_docs): centroids train on the OLD corpus
    only (vec_id % {_INC_MOD} != 0, capped hash-sample with the
    modulus scaled by the OLD row count), the new batch is routed
    into those existing cells map-only — NO re-fit per ingest, the
    steady-state contract at 100 TB — and searched immediately
    against the full old+new corpus.  Only new-batch vectors take
    the query role (the |new| × n_probe fan-out, never
    |corpus| × n_probe; old×old never re-ranks), while every vector
    is indexed, so fresh rows are retrievable the moment they land.
    Trained centroids, routing, and the final ranking are all
    hash-gated; the oracle's tr CTE adds the old-batch predicate to
    both the sample and its count-scaled modulus.  Uses
    train_target={_SMALL_TRAIN_TARGET} so the capped-sample regime
    (mod > 1) is exercised at every test scale, composed with the
    incremental split."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_incremental_topk(
        emb, _INC_MOD, K, CENTROIDS, rounds=LLOYD_ROUNDS,
        n_probe=N_PROBE, train_target=_SMALL_TRAIN_TARGET,
        n_old_rows=old_batch_row_count(sf_dir, "embeddings", _INC_MOD))


@register("stream_ivf_cell_routing",
          _UNIT_CTE
          + _lloyd_cte(_SMALL_TRAIN_TARGET, train_where=_INC_WHERE) + f""",
sc AS (SELECT u0.vec_id, c.cell,
              c.sq - 2.0 * {_dot("u0.v", "c.cent")} AS score
       FROM u u0 CROSS JOIN c{LLOYD_ROUNDS} c
       WHERE u0.vec_id % {_INC_MOD} = 0),
home AS (SELECT vec_id, cell FROM sc
         QUALIFY row_number() OVER (PARTITION BY vec_id
                                    ORDER BY score, cell) = 1)
SELECT gs.cell, CAST(COUNT(home.vec_id) AS BIGINT) AS n_new
FROM (SELECT unnest(generate_series(0, {N_CELLS - 1})) AS cell) gs
LEFT JOIN home ON home.cell = gs.cell
GROUP BY gs.cell
""")
def stream_ivf_cell_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of incremental IVF ingestion (round 11): the
    arriving vector batch flows through readStream -> a map-only
    nearest-cell routing stage (the Arrow-batched probe kernel over
    centroids trained on the OLD corpus) -> an append sink; per-cell
    arrival counts aggregate batch-side over the sink, with empty cells
    surfaced through a {N_CELLS}-cell spine (the ingest-observability
    twin of ivf_cell_balance — a hot arrival cell IS tomorrow's probe
    latency tail).  The streaming stage holds NO state and no shuffle
    before the sink — routing is pure per-batch map work, which is the
    entire point of ingesting into a trained index: at 100 TB/day the
    stream pays one Arrow pass per vector, never a Lloyd re-fit.
    Centroids, routing, and counts are hash-gated by the same
    old-filtered Lloyd oracle as ivf_incremental_ingest_topk."""
    from ..streaming import pipeline

    emb = load_table(spark, sf_dir, "embeddings")
    old_pred = F.col("vec_id") % _INC_MOD != 0
    n_old = old_batch_row_count(sf_dir, "embeddings", _INC_MOD)
    sample = similarity.train_sample_pred(
        "vec_id", similarity.train_sample_mod(n_old, _SMALL_TRAIN_TARGET))
    # batch-side: Lloyd training over the OLD corpus sample is real
    # compute the trigger stats don't see (ADVICE r12) — timed so the
    # bench's compute-adjusted total counts it.
    with pipeline.timed_batch_side():
        centers = similarity.lloyd_centroids(
            emb, CENTROIDS, rounds=LLOYD_ROUNDS,
            train_filter=sample & old_pred)

    new_batch = (pipeline.stream_table(spark, sf_dir, "embeddings")
                 .filter((F.col("vec_id") % _INC_MOD == 0)
                         & F.exists("embedding", lambda x: x != 0)))
    arr = F.col("embedding").cast("array<double>")
    routed = new_batch.select(
        "vec_id",
        F.element_at(similarity._probe_cells_udf(centers, 1)(arr), 1)
        .cast("long").alias("cell"))
    rows = pipeline.run_available_now(
        routed, "stream_ivf_cell_routing_sink", mode="append",
        no_data_batch=False)
    spine = spark.range(N_CELLS).select(F.col("id").alias("cell"))
    counts = (rows.groupBy("cell")
              .agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    return (spine.join(counts, "cell", "left")
            .select("cell",
                    F.coalesce("n_new", F.lit(0).cast("long"))
                    .alias("n_new")))


# ---- Product quantization (PQ/ADC) — fixed md5-derived codebooks ----

M_SUB, PQ_CODES, SUB_DIM = 8, 16, 8
PQ_BOOKS = similarity.pq_codebooks(M_SUB, PQ_CODES, SUB_DIM)

# Codebook relation literal: one row per (subspace m, code c) with the
# 8-dim centroid as a list literal and |c|^2 as a Python-side fold —
# both rendered identically into the Spark plan via similarity.pq_* and
# into this SQL (same convention as the IVF fixed-centroid twin).
_PQ_CB_ROWS = ",\n ".join(
    f"({m}, {c}, CAST({_sq_fold(cent)!r} AS DOUBLE), {_cent_literal(cent)})"
    for m, book in enumerate(PQ_BOOKS) for c, cent in enumerate(book))

# |c|^2 - 2*(u_sub . c): the |u_sub|^2 term is constant per (row, m) so
# both the encode argmin and the summed ADC ranking are unchanged; the
# dot folds left-to-right over the subspace dims = Spark's per-dim
# accumulation in similarity._pq_subscore.
_PQ_SCORE = "cb.sq - 2.0 * " + _fold_sum(
    f"list_transform(generate_series(1, {SUB_DIM}), "
    f"i -> u.u[cb.m * {SUB_DIM} + i] * cb.cent[i])")

_PQ_CTE = f""",
cb(m, c, sq, cent) AS (VALUES {_PQ_CB_ROWS}),
co AS (
    SELECT vec_id, m, c AS code FROM (
        SELECT u.vec_id, cb.m, cb.c,
               row_number() OVER (PARTITION BY u.vec_id, cb.m
                                  ORDER BY {_PQ_SCORE}, cb.c) AS rn
        FROM u CROSS JOIN cb)
    WHERE rn = 1)
"""


@register("pq_code_stats", _UNIT_CTE + _PQ_CTE + """
SELECT m, code, CAST(count(*) AS BIGINT) AS n_vecs
FROM co GROUP BY m, code
""")
def pq_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-usage histogram: every vector encoded to one code per
    subspace (argmin over 16 fixed centroids, ties -> smallest code) —
    the encode path hash-gated independently of any search, plus the
    balance diagnostic a real PQ index monitors.  Encoding is pure
    built-in expressions inside codegen; the only exchange carries
    (m, code) pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_code_histogram(emb, PQ_BOOKS)


@register("pq_adc_topk", _UNIT_CTE + _PQ_CTE + f""",
qt AS (SELECT u.vec_id AS query_id, cb.m, cb.c, {_PQ_SCORE} AS val
       FROM u CROSS JOIN cb WHERE u.vec_id < {NUM_QUERIES}),
ad AS (SELECT qt.query_id, co.vec_id AS neighbor_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(qt.val ORDER BY qt.m)),
                          (acc, x) -> acc + x) AS adist
       FROM co JOIN qt ON qt.m = co.m AND qt.c = co.code
       WHERE co.vec_id <> qt.query_id
       GROUP BY qt.query_id, co.vec_id)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adist, neighbor_id) AS rank,
       round(adist, 6) AS adist
FROM ad
QUALIFY rank <= {K}
""")
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scan (Jegou et
    al. 2011): corpus vectors collapse to {M_SUB} codebook ids (8
    bytes/vector — 32x smaller than float32x64), each query broadcasts a
    {M_SUB}x{PQ_CODES} distance table, and candidates rank by the
    table-lookup sum over compressed codes.  The memory-reduction scan
    path a 100 TB vector corpus needs; ZERO Python — encode, tables and
    the per-pair fold are all built-in expressions.  The oracle mirrors
    every fold, so the full encode->ADC->top-k pipeline is
    hash-matched."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, K, PQ_BOOKS, NUM_QUERIES)


# ---- Trained PQ codebooks: per-subspace Lloyd rounds as oracle CTEs ----

PQ_LLOYD_ROUNDS = 2


def _pq_train_cte() -> str:
    """Per-subspace Lloyd rounds unrolled as CTEs (the PQ analog of
    _lloyd_cte): ptr = the capped count-scaled hash-sample of UNIT
    vectors; pb0 = the fixed md5 init books; round r = per-(vector,
    subspace) nearest-code assignment under pb{{r-1}} (score
    |c|^2 - 2*(u_sub.c), ties -> smallest code), per-(m, code, dim)
    fixed-point BIGINT sums, then the new book with empty (m, code)
    cells keeping their previous centroid."""
    rows = ",\n ".join(
        f"({m}, {c}, CAST({_sq_fold(cent)!r} AS DOUBLE), "
        f"{_cent_literal(cent)})"
        for m, book in enumerate(PQ_BOOKS) for c, cent in enumerate(book))
    tr_pred = _TRAIN_PRED.replace("vec_id", "u.vec_id")
    parts = [f",\nptr AS (SELECT u.vec_id, u.u FROM u WHERE {tr_pred})",
             f",\npb0(m, c, sq, cent) AS (VALUES {rows})"]
    for r in range(1, PQ_LLOYD_ROUNDS + 1):
        p = r - 1
        score = "cb.sq - 2.0 * " + _fold_sum(
            f"list_transform(generate_series(1, {SUB_DIM}), "
            f"i -> t.u[cb.m * {SUB_DIM} + i] * cb.cent[i])")
        newc = "COALESCE(mm.cent, cb.cent)"
        parts.append(f""",
pa{r} AS (
    SELECT t.vec_id, cb.m, cb.c
    FROM ptr t CROSS JOIN pb{p} cb
    QUALIFY row_number() OVER (PARTITION BY t.vec_id, cb.m
                               ORDER BY {score}, cb.c) = 1),
ps{r} AS (
    SELECT a.m, a.c, gi.i,
           SUM(CAST(floor(t.u[a.m * {SUB_DIM} + gi.i] * {_TRAIN_Q})
                    AS BIGINT)) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM pa{r} a JOIN ptr t USING (vec_id),
         (SELECT unnest(generate_series(1, {SUB_DIM})) AS i) gi
    GROUP BY a.m, a.c, gi.i),
pm{r} AS (
    SELECT m, c, list(CAST(s AS DOUBLE)
                      / (CAST({_TRAIN_Q} AS DOUBLE) * CAST(n AS DOUBLE))
                      ORDER BY i) AS cent
    FROM ps{r} GROUP BY m, c),
pb{r} AS (
    SELECT cb.m, cb.c, {newc} AS cent,
           {_fold_sum(f"list_transform({newc}, x -> x * x)")} AS sq
    FROM pb{p} cb LEFT JOIN pm{r} mm USING (m, c))""")
    return "".join(parts)


_PQT_SCORE = "cb.sq - 2.0 * " + _fold_sum(
    f"list_transform(generate_series(1, {SUB_DIM}), "
    f"i -> u.u[cb.m * {SUB_DIM} + i] * cb.cent[i])")


@register("pq_trained_adc_topk", _UNIT_CTE + _pq_train_cte() + f""",
pco AS (
    SELECT vec_id, m, c AS code FROM (
        SELECT u.vec_id, cb.m, cb.c,
               row_number() OVER (PARTITION BY u.vec_id, cb.m
                                  ORDER BY {_PQT_SCORE}, cb.c) AS rn
        FROM u CROSS JOIN pb{PQ_LLOYD_ROUNDS} cb)
    WHERE rn = 1),
pqt AS (SELECT u.vec_id AS query_id, cb.m, cb.c, {_PQT_SCORE} AS val
        FROM u CROSS JOIN pb{PQ_LLOYD_ROUNDS} cb
        WHERE u.vec_id < {NUM_QUERIES}),
pad AS (SELECT pqt.query_id, pco.vec_id AS neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list(pqt.val ORDER BY pqt.m)),
                           (acc, x) -> acc + x) AS adist
        FROM pco JOIN pqt ON pqt.m = pco.m AND pqt.c = pco.code
        WHERE pco.vec_id <> pqt.query_id
        GROUP BY pqt.query_id, pco.vec_id)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adist, neighbor_id) AS rank,
       round(adist, 6) AS adist
FROM pad
QUALIFY rank <= {K}
""")
def pq_trained_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN over TRAINED codebooks — closes the "a deployment
    would train the books" gap the fixed-md5 variant documents:
    {PQ_LLOYD_ROUNDS} deterministic per-subspace Lloyd rounds from the
    md5 init (operators/similarity.pq_trained_codebooks — fixed-point
    BIGINT sums on the capped count-scaled hash-sample, all {M_SUB}
    subspaces in one scan per round), then the same encode->ADC->top-k
    plan as pq_adc_topk under the trained books.  Training, encoding
    and ranking are all hash-gated: the oracle unrolls every Lloyd
    round per subspace as CTEs with identical quantized arithmetic.
    The trained books' recall lift over the fixed ones is measured in
    TUNING.md, not assumed."""
    emb = load_table(spark, sf_dir, "embeddings")
    mod = similarity.train_sample_mod(
        table_row_count(sf_dir, "embeddings"), _TRAIN_TARGET)
    books = similarity.pq_trained_codebooks(
        emb, PQ_BOOKS, rounds=PQ_LLOYD_ROUNDS,
        train_filter=similarity.train_sample_pred("vec_id", mod))
    return similarity.pq_adc_topk(emb, K, books, NUM_QUERIES)


@register("ann_recall_eval", _UNIT_CTE + f""",
s AS (SELECT vec_id, u, {_BUCKET} AS bucket FROM u),
nb AS (SELECT vec_id, u, bucket FROM s
       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               <= {MAX_BUCKET}),
ann AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank
    FROM s a JOIN nb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    WHERE a.vec_id < {NUM_QUERIES}
    QUALIFY rank <= {K}),
exact AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank
    FROM u a JOIN u b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {NUM_QUERIES}
    QUALIFY rank <= {K})
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       round(COUNT(a.neighbor_id) / {K}.0, 6) AS recall_at_k
FROM exact e LEFT JOIN ann a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""")
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@{K} of the SRP-bucketed index
    against brute-force ground truth, per query vector — the measurement
    loop an embedding-dedup/search deployment runs before trusting an
    index.  Ground truth restricts to {NUM_QUERIES} probe queries (the
    standard recall protocol: exact top-k for a sample, never all-pairs),
    so the exact side stays a broadcast-bounded scan while the ANN side
    reuses the production bucketed plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = (similarity.brute_force_topk(emb, K, NUM_QUERIES)
             .select("query_id", "neighbor_id"))
    ann = (similarity.srp_ann_topk(emb, K, PLANES, max_bucket=MAX_BUCKET)
           .filter(F.col("query_id") < NUM_QUERIES)
           .select("query_id", "neighbor_id", F.lit(1).alias("_hit")))
    # both sides are NUM_QUERIES*K rows; broadcast the ANN side so the
    # hit-join never sorts/shuffles the (already expensive) exact side
    return (
        exact.join(F.broadcast(ann), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"),
             F.round(F.count("_hit") / K, 6).alias("recall_at_k"))
    )


# Fixed-point scale for exact (order-independent) centroid accumulation:
# embedding components are quantized to integer micro-units before the
# cross-row SUM, because a double SUM's value depends on partition order
# while a BIGINT sum does not.  round() ties go away-from-zero in both
# engines (Spark HALF_UP, DuckDB ties-away), so the quantization itself
# is also engine-stable.
CENTROID_SCALE = 1_000_000


@register("label_centroid_distances", f"""
WITH x AS (
    SELECT label, t.i AS pos,
           CAST(round(CAST(embedding[t.i] AS DOUBLE) * {CENTROID_SCALE})
                AS BIGINT) AS sx
    FROM embeddings, range(1, {DIM + 1}) t(i)),
c AS (
    SELECT label, pos,
           CAST(SUM(sx) AS DOUBLE) / (COUNT(*) * {CENTROID_SCALE}.0) AS c
    FROM x GROUP BY label, pos),
v AS (SELECT label, list(c ORDER BY pos) AS cv FROM c GROUP BY label)
SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
       round(sqrt({_fold_sum(
           f"list_transform(generate_series(1, {DIM}), "
           "i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i]))")}), 6) AS l2_dist
FROM v a JOIN v b ON a.label < b.label
""")
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors and all pairwise centroid L2 distances —
    the cluster-geometry summary an embedding-curation pipeline uses to
    sanity-check class separation before training on the corpus.

    Plan: posexplode to (label, pos, component) — map-side partial SUM
    collapses N·{DIM} rows to |labels|·{DIM} groups before the only real
    exchange; centroid re-assembly and the |labels|² pair join are
    driver-free and tiny.  Component sums use fixed-point BIGINTs (see
    CENTROID_SCALE) so the result is exact regardless of row order or
    partitioning; the final fold is the same left-to-right F.aggregate /
    list_reduce pairing every similarity oracle uses.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos0", "x"))
    c = (e.groupBy("label", (F.col("pos0") + 1).alias("pos"))
         .agg((F.sum(F.round(F.col("x") * CENTROID_SCALE).cast("long"))
               .cast("double")
               / (F.count("*") * float(CENTROID_SCALE))).alias("c")))
    v = (c.groupBy("label")
         .agg(F.transform(
             F.array_sort(F.collect_list(F.struct("pos", "c"))),
             lambda s: s.getField("c")).alias("cv")))
    a, b = v.alias("a"), v.alias("b")
    diff_sq = F.zip_with("a.cv", "b.cv", lambda x, y: (x - y) * (x - y))
    l2 = F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, t: acc + t))
    return (a.join(b, F.col("a.label") < F.col("b.label"))
            .select(F.col("a.label").cast("long").alias("label_a"),
                    F.col("b.label").cast("long").alias("label_b"),
                    F.round(l2, 6).alias("l2_dist")))


# ---- multi-probe SRP ------------------------------------------------------

def _flip_sql(p: int) -> str:
    """Probe bucket with sign bit ``p`` (0-based) flipped."""
    return (f"substr(bucket, 1, {p}) || "
            f"(CASE WHEN substr(bucket, {p + 1}, 1) = '1' "
            f"THEN '0' ELSE '1' END) || "
            f"substr(bucket, {p + 2}, {NUM_PLANES - p - 1})")


_PROBE_SELECTS = " UNION ALL ".join(
    ["SELECT vec_id, u, bucket AS pbucket FROM s"]
    + [f"SELECT vec_id, u, {_flip_sql(p)} AS pbucket FROM s"
       for p in range(NUM_PLANES)])


@register("srp_multiprobe_topk", _UNIT_CTE + f""",
s AS (SELECT vec_id, u, {_BUCKET} AS bucket FROM u),
nb AS (SELECT vec_id, u, bucket FROM s
       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               <= {MAX_BUCKET}),
probes AS ({_PROBE_SELECTS}),
cand AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_PAIR_DOT} AS sim
    FROM probes a JOIN nb b
      ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rank,
       round(sim, 4) AS sim
FROM cand
QUALIFY rank <= {K}
""")
def srp_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN (Lv et al. 2007): each query searches its home
    bucket plus all {NUM_PLANES} hamming-1 buckets — the recall lever that
    beats adding index replicas.  One cogrouped shuffle on the bucket id;
    per-bucket vectorized scoring keeps bucket top-{K} per query (a
    superset of the global top-{K}); candidates capped at {MAX_BUCKET} per
    bucket.  See operators/similarity.py:srp_multiprobe_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_multiprobe_topk(emb, K, PLANES,
                                          max_bucket=MAX_BUCKET)


# ---- per-dimension embedding statistics -----------------------------------

DIM_Q = 1_000_000  # fixed-point quantum: floor(x * 1e6) fits exact BIGINTs


@register("embedding_dim_stats", f"""
WITH x AS (
    SELECT d.dim - 1 AS dim,
           CAST(floor(CAST(embedding[d.dim] AS DOUBLE) * {DIM_Q})
                AS BIGINT) AS q
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                      AS dim) d),
s AS (
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(q) AS sq, SUM(q * q) AS sqq
    FROM x GROUP BY dim)
SELECT dim, n,
       round(CAST(sq AS DOUBLE) / ({DIM_Q}.0 * n), 6) AS mean,
       round(CAST(sqq AS DOUBLE) / ({DIM_Q}.0 * {DIM_Q}.0 * n)
             - (CAST(sq AS DOUBLE) / ({DIM_Q}.0 * n))
               * (CAST(sq AS DOUBLE) / ({DIM_Q}.0 * n)), 6) AS variance
FROM s
""")
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding matrix — the
    normalization-statistics pass (feature scaling, whitening, dead-dim
    detection) over a vector column.  Components are quantized to
    fixed-point BIGINTs BEFORE any cross-row sum (float summation order
    varies with partitioning; integer sums are exact and
    order-independent — same convention as label_centroid_distances),
    with mean/variance derived from the exact moments in one final
    double expression.  One posexplode + one 64-group hash-agg with
    map-side partials: the shuffle is 64 rows per task at any scale."""
    from pyspark.sql import functions as F
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * DIM_Q).cast("long")
    x = emb.select(F.posexplode("embedding").alias("dim", "x")) \
           .select("dim", q.alias("q"))
    qd = float(DIM_Q)
    mean = F.col("sq").cast("double") / (F.lit(qd) * F.col("n"))
    var = (F.col("sqq").cast("double") / (F.lit(qd) * F.lit(qd) * F.col("n"))
           - mean * mean)
    return (x.groupBy("dim")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("q").alias("sq"),
                 F.sum(F.col("q") * F.col("q")).alias("sqq"))
            .select("dim", "n", F.round(mean, 6).alias("mean"),
                    F.round(var, 6).alias("variance")))


@register("contrastive_negatives", f"""
WITH pool AS (
    SELECT vec_id AS neg_id, label AS neg_label
    FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {similarity.NEG_POOL}),
pairs AS (
    SELECT e.vec_id, p.neg_id, p.neg_label,
           md5(CAST(e.vec_id AS VARCHAR) || ':'
               || CAST(p.neg_id AS VARCHAR)) AS pair_h
    FROM embeddings e JOIN pool p
      ON e.label <> p.neg_label AND e.vec_id <> p.neg_id)
SELECT vec_id,
       CAST(row_number() OVER (PARTITION BY vec_id
                               ORDER BY pair_h, neg_id) AS BIGINT)
           AS neg_rank,
       neg_id, neg_label
FROM pairs
QUALIFY neg_rank <= {similarity.NEG_K}
""")
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: {similarity.NEG_K}
    different-label negatives per anchor from a broadcast
    {similarity.NEG_POOL}-vector global pool, ranked per anchor by
    md5(anchor:candidate) — O(N x pool) work, reproducible on any
    partitioning.  See operators/similarity.py:contrastive_negatives."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.contrastive_negatives(emb)


@register("knn_label_consistency", _UNIT_CTE + f""",
s AS (SELECT vec_id, u, {_BUCKET} AS bucket FROM u),
nb AS (SELECT vec_id, u, bucket FROM s
       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               <= {MAX_BUCKET}),
ann AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank
    FROM s a JOIN nb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    QUALIFY rank <= {K})
SELECT a.query_id AS vec_id,
       CAST(ql.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       round(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS agreement
FROM ann a
JOIN embeddings ql ON ql.vec_id = a.query_id
JOIN embeddings nl ON nl.vec_id = a.neighbor_id
GROUP BY a.query_id, ql.label
""")
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (the Confident-Learning-style screen a labeled
    training set gets before a classifier trusts it): for every vector,
    the fraction of its top-{K} approximate neighbors sharing its label
    — rows with low agreement are the mislabel suspects.  Neighbor
    generation is the PRODUCTION bucketed-SRP path (single bucket-keyed
    shuffle, hot buckets capped at {MAX_BUCKET}), so the audit costs
    one ANN sweep + two broadcast-able label joins, never an all-pairs
    comparison.  Hash-gated end-to-end because the ANN ranking itself
    is the oracle-matched srp_ann_topk plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", F.col("label").cast("long").alias("_l"))
    ann = similarity.srp_ann_topk(emb, K, PLANES, max_bucket=MAX_BUCKET)
    return (
        ann
        .join(labels.select(F.col("vec_id").alias("query_id"),
                            F.col("_l").alias("label")), "query_id")
        .join(labels.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("_l").alias("n_label")), "neighbor_id")
        .groupBy(F.col("query_id").alias("vec_id"), "label")
        .agg(F.count("*").cast("long").alias("n_neighbors"),
             F.sum(F.when(F.col("n_label") == F.col("label"), 1)
                   .otherwise(0)).cast("long").alias("n_agree"))
        .withColumn("agreement",
                    F.round(F.col("n_agree")
                            / F.col("n_neighbors").cast("double"), 6))
    )


MRL_DIM = 16

_MRL_PAIR_DOT = _fold_sum(
    f"list_transform(generate_series(1, {MRL_DIM}), "
    "i -> a.u[i] * b.u[i])")


@register("matryoshka_recall_eval", _UNIT_CTE + f""",
te AS (SELECT vec_id, list_slice(v, 1, {MRL_DIM}) AS v FROM e),
tn AS (SELECT vec_id, v, {_NORM} AS nrm FROM te),
tu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u
       FROM tn WHERE nrm <> 0),
exact AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_PAIR_DOT} DESC, b.vec_id) AS rank
    FROM u a JOIN u b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {NUM_QUERIES}
    QUALIFY rank <= {K}),
ann AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_MRL_PAIR_DOT} DESC, b.vec_id)
               AS rank
    FROM tu a JOIN tu b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {NUM_QUERIES}
    QUALIFY rank <= {K})
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       round(COUNT(a.neighbor_id) / {K}.0, 6) AS recall_at_k
FROM exact e LEFT JOIN ann a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""")
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation ablation (Kusupati et al. 2022):
    recall@{K} of exact cosine top-k over the first {MRL_DIM} of {DIM}
    dims vs the full-dim ground truth, per probe query
    (operators/similarity.matryoshka_recall) — the eval behind running
    first-stage retrieval on prefix dims at a fraction of the scan
    bytes.  Both sides reuse the brute-force broadcast plan; truncated
    prefixes re-normalize (zero prefixes drop, mirrored in the
    oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_recall(emb, K, NUM_QUERIES, MRL_DIM)


IVFPQ_RERANK = 3 * K


@register("ivf_pq_topk", _UNIT_CTE + f""",
c AS (SELECT unnest(generate_series(0, {N_CELLS - 1})) AS cell),
sc AS (SELECT vec_id, v, u.u AS u, c.cell AS cell, {_SCORE_CASE} AS score
       FROM u CROSS JOIN c),
pr AS (SELECT vec_id, u, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score, cell) AS pr
       FROM sc QUALIFY pr <= {N_PROBE}),
home AS (SELECT vec_id, u, cell FROM pr WHERE pr = 1)""" + _PQ_CTE + f""",
qt AS (SELECT u.vec_id AS query_id, cb.m, cb.c, {_PQ_SCORE} AS val
       FROM u CROSS JOIN cb WHERE u.vec_id < {NUM_QUERIES}),
cand AS (
    SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id
    FROM pr p JOIN home h ON p.cell = h.cell AND p.vec_id <> h.vec_id
    WHERE p.vec_id < {NUM_QUERIES}),
ad AS (
    SELECT cd.query_id, cd.neighbor_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list(qt.val ORDER BY qt.m)),
                       (acc, x) -> acc + x) AS adist
    FROM cand cd JOIN co ON co.vec_id = cd.neighbor_id
                 JOIN qt ON qt.query_id = cd.query_id
                        AND qt.m = co.m AND qt.c = co.code
    GROUP BY cd.query_id, cd.neighbor_id),
sh AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS arank
    FROM ad QUALIFY arank <= {IVFPQ_RERANK})
SELECT s.query_id, s.neighbor_id,
       row_number() OVER (PARTITION BY s.query_id
                          ORDER BY {_PAIR_DOT} DESC, s.neighbor_id) AS rank,
       round({_PAIR_DOT}, 4) AS sim
FROM sh s JOIN u a ON a.vec_id = s.query_id
          JOIN u b ON b.vec_id = s.neighbor_id
QUALIFY rank <= {K}
""")
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank (operators/similarity.ivf_pq_topk) —
    the production ANN composition: {N_CELLS}-cell coarse quantizer
    (probe {N_PROBE}) routes the scan, {M_SUB}x{PQ_CODES} PQ codes rank
    candidates by ADC lookup sums, and the best {IVFPQ_RERANK} per
    query re-rank exactly on raw vectors for the top-{K}.  Corpus
    shuffles once as (cell, 8-byte codes); raw vectors are touched only
    for the broadcast shortlist."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(emb, K, CENTROIDS, PQ_BOOKS,
                                  N_PROBE, NUM_QUERIES, IVFPQ_RERANK)


@register("ivf_cell_balance", _UNIT_CTE + f""",
c AS (SELECT unnest(generate_series(0, {N_CELLS - 1})) AS cell),
sc AS (SELECT vec_id, v, c.cell AS cell, {_SCORE_CASE} AS score
       FROM u CROSS JOIN c),
home AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score, cell) AS rn
        FROM sc) WHERE rn = 1),
cc AS (SELECT c.cell, CAST(COUNT(home.vec_id) AS BIGINT) AS n_vecs
       FROM c LEFT JOIN home ON home.cell = c.cell
       GROUP BY c.cell),
tot AS (SELECT CAST(SUM(n_vecs) AS DOUBLE) AS n, COUNT(*) AS k FROM cc)
SELECT cc.cell, cc.n_vecs,
       round(cc.n_vecs / nullif(tot.n / tot.k, 0), 6) AS load_factor,
       (cc.n_vecs = 0) AS is_empty
FROM cc CROSS JOIN tot
""")
def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index observability: vectors per coarse cell, each cell's
    load factor vs the uniform ideal, and empty cells — the balance
    diagnostic an ANN deployment monitors before trusting cell-probe
    latency (a hot cell IS the tail).  One assignment scan + a
    {N_CELLS}-row aggregate; empty cells surface via the cell-spine
    left join rather than vanishing."""
    emb = load_table(spark, sf_dir, "embeddings")
    home = similarity.ivf_home_cells(emb, CENTROIDS)
    spine = spark.range(N_CELLS).select(F.col("id").cast("int").alias("cell"))
    cc = (spine.join(home, "cell", "left")
          .groupBy("cell")
          .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    tot = cc.agg(F.sum("n_vecs").cast("double").alias("n"),
                 F.count(F.lit(1)).alias("k"))
    # nullif: an empty/all-zero-vector corpus makes the mean load 0.0
    # and Spark's default ANSI mode throws on /0 (DuckDB gives NaN) —
    # NULL load factors on both engines instead.
    return (cc.crossJoin(F.broadcast(tot))
            .select("cell", "n_vecs",
                    F.round(F.col("n_vecs")
                            / F.nullif(F.col("n") / F.col("k"),
                                       F.lit(0.0)), 6)
                    .alias("load_factor"),
                    (F.col("n_vecs") == 0).alias("is_empty")))


# ---- MMR diversified retrieval --------------------------------------------

MMR_K = 5            # selections per query
MMR_SHORTLIST = 10   # exact-cosine candidate shortlist per query
MMR_NQ = 4           # probe queries (vec_id < MMR_NQ)
MMR_LAM = 0.7        # relevance weight
MMR_LAM_COMP = 0.3   # redundancy weight — a SEPARATE literal, never 1-lam
_MMR_LAM_SQL = "0.7"
_MMR_COMP_SQL = "0.3"


def _mmr_sql() -> str:
    """Unrolled greedy-MMR oracle: shortlist + pair CTEs, then one
    (maxsim -> score -> argmax -> selected-union) CTE block per step —
    the Lloyd-training unroll pattern applied to a greedy selection."""
    head = _UNIT_CTE + f""",
qy AS (SELECT vec_id AS query_id, u AS qu FROM u WHERE vec_id < {MMR_NQ}),
rel AS (SELECT query_id, b.vec_id AS cand_id, b.u AS cu,
               {_dot('qy.qu', 'b.u')} AS rel
        FROM qy JOIN u b ON b.vec_id <> qy.query_id),
s AS (SELECT query_id, cand_id, cu, rel FROM rel
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id)
              <= {MMR_SHORTLIST}),
p AS (SELECT x.query_id, x.cand_id AS ca, y.cand_id AS cb,
             {_dot('x.cu', 'y.cu')} AS psim
      FROM s x JOIN s y ON x.query_id = y.query_id
                       AND x.cand_id <> y.cand_id),
sel1 AS (SELECT query_id, cand_id AS sel_id, {_MMR_LAM_SQL} * rel AS score
         FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, cand_id) = 1),
all1 AS (SELECT query_id, sel_id FROM sel1)"""
    blocks = []
    for t in range(2, MMR_K + 1):
        blocks.append(f""",
ms{t} AS (SELECT p.query_id, p.ca AS cand_id, max(p.psim) AS maxsim
          FROM p JOIN all{t - 1} sl
               ON p.query_id = sl.query_id AND p.cb = sl.sel_id
          WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} x
                            WHERE x.query_id = p.query_id
                              AND x.sel_id = p.ca)
          GROUP BY p.query_id, p.ca),
sel{t} AS (SELECT s.query_id, s.cand_id AS sel_id,
                  {_MMR_LAM_SQL} * s.rel
                  - {_MMR_COMP_SQL} * m.maxsim AS score
           FROM s JOIN ms{t} m
                ON s.query_id = m.query_id AND s.cand_id = m.cand_id
           QUALIFY row_number() OVER (PARTITION BY s.query_id
                                      ORDER BY score DESC, s.cand_id)
                   = 1),
all{t} AS (SELECT query_id, sel_id FROM all{t - 1}
           UNION ALL SELECT query_id, sel_id FROM sel{t})""")
    finals = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({t} AS BIGINT) AS step, sel_id, "
        f"round(score, 4) AS mmr_score FROM sel{t}"
        for t in range(1, MMR_K + 1))
    return head + "".join(blocks) + "\n" + finals


@register("mmr_diverse_topk", _mmr_sql())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified top-{MMR_K} for the first
    {MMR_NQ} query vectors over an exact cosine top-{MMR_SHORTLIST}
    shortlist (lambda {MMR_LAM}/{MMR_LAM_COMP}) — the dedup-at-retrieval
    re-rank of a RAG stack or a diversity-aware training-data sampler.
    The greedy selection ORDER itself is hash-gated step by step; see
    operators/similarity.py:mmr_diverse_topk for the plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_diverse_topk(
        emb, MMR_K, MMR_NQ, MMR_SHORTLIST, MMR_LAM, MMR_LAM_COMP)


# ---- greedy k-center coreset -----------------------------------------------

KC_K = 6       # coreset size
KC_POOL = 24   # deterministic md5-sampled candidate pool


def _kcenter_sql() -> str:
    """Unrolled farthest-point traversal: md5-sampled pool + pairwise
    sims, then one (max-sim-to-selected -> argmin -> union) block per
    step — the MMR unroll with coverage in place of relevance."""
    head = _UNIT_CTE + f""",
pool AS (SELECT vec_id AS pid, md5(CAST(vec_id AS VARCHAR)) AS ph, u
         FROM u
         QUALIFY row_number() OVER (ORDER BY ph, vec_id) <= {KC_POOL}),
p AS (SELECT x.pid AS ca, y.pid AS cb, {_dot('x.u', 'y.u')} AS psim
      FROM pool x JOIN pool y ON x.pid <> y.pid),
sel1 AS (SELECT pid AS sel_id, CAST(NULL AS DOUBLE) AS nearest_sim
         FROM pool
         QUALIFY row_number() OVER (ORDER BY ph, pid) = 1),
all1 AS (SELECT sel_id FROM sel1)"""
    blocks = []
    for t in range(2, KC_K + 1):
        blocks.append(f""",
ms{t} AS (SELECT p.ca AS pid, max(p.psim) AS near
          FROM p JOIN all{t - 1} sl ON p.cb = sl.sel_id
          WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} x
                            WHERE x.sel_id = p.ca)
          GROUP BY p.ca),
sel{t} AS (SELECT pid AS sel_id, near AS nearest_sim FROM ms{t}
           QUALIFY row_number() OVER (ORDER BY near ASC, pid) = 1),
all{t} AS (SELECT sel_id FROM all{t - 1}
           UNION ALL SELECT sel_id FROM sel{t})""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS step, sel_id, "
        f"round(nearest_sim, 4) AS nearest_sim FROM sel{t}"
        for t in range(1, KC_K + 1))
    return head + "".join(blocks) + "\n" + finals


@register("kcenter_coreset_sample", _kcenter_sql())
def kcenter_coreset_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (farthest-point traversal, Sener &
    Savarese 2018) of size {KC_K} over a deterministic {KC_POOL}-vector
    md5 sample — the diversity data-selection step of a labeling or
    training-budget pipeline.  The traversal ORDER and each step's
    coverage radius (similarity to the nearest prior pick) are
    hash-gated against the step-unrolled oracle; see
    operators/similarity.py:kcenter_coreset for the plan shape (one
    TakeOrdered sample scan, pool^2 pairwise sims, sketch-sized
    driver-side greedy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kcenter_coreset(emb, KC_K, KC_POOL)
