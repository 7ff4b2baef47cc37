"""Similarity search over the ``embeddings`` table (``array<float>``).

Every search first normalizes each vector once (:func:`unit_vectors`) and
then takes one of two plan shapes:

- **Scan**: a broadcast query panel cross-joined with the streamed corpus,
  ranked per query by a ``row_number`` window (:func:`brute_force_topk`,
  :func:`pq_adc_topk`, :func:`mmr_diverse_topk`).
- **Bucket**: one shuffle on a candidate key, either an SRP signature
  (:func:`srp_ann_topk`, :func:`srp_multiprobe_topk`, :func:`sq8_ann_topk`)
  or a probed IVF cell (:func:`_ivf_search`).  A pandas kernel per key
  scores the key's queries against its candidates and keeps each query's
  top-k with :func:`topk_rows`.  Each operator keeps its own key, cap and
  probes.

Every result matches a DuckDB twin bit for bit.  Float dot products add
one dimension at a time, left to right from 0.0 (:func:`fold_dot`), which
is the order of the oracle's ``list_reduce`` fold.  Hyperplanes,
centroids and codebooks are md5-derived literals that render identically
in both engines, and ties go to the smaller id.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def srp_planes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign(p,d) from md5(f"{p}|{d}") parity.

    Rademacher entries are a valid random projection (Achlioptas 2003);
    md5 gives both engines the exact same literals.
    """
    return [
        [1 if hashlib.md5(f"{p}|{d}".encode()).digest()[0] % 2 == 0 else -1
         for d in range(dim)]
        for p in range(num_planes)
    ]


def fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The n×m matrix A·Bᵀ of float64 ``A`` (n×dim) and ``B`` (m×dim).

    Each entry adds one dimension at a time, left to right from 0.0: the
    IEEE-754 op sequence of the oracle's ``list_reduce`` fold, so every
    score equals DuckDB's bit for bit (a matmul sums in another order)."""
    out = np.zeros((A.shape[0], B.shape[0]))
    tmp = np.empty_like(out)
    for d in range(A.shape[1]):
        np.multiply(A[:, d:d + 1], B[None, :, d], out=tmp)
        out += tmp
    return out


def _row_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products A[i]·B[i], in :func:`fold_dot`'s order."""
    out = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        out += A[:, d] * B[:, d]
    return out


def _sq_fold(vals: list[float]) -> float:
    """|c|^2 as a left-to-right Python fold — embedded verbatim as a
    literal in BOTH engines (same convention as the IVF oracle)."""
    acc = 0.0
    for x in vals:
        acc += x * x
    return acc


def topk_rows(qids: np.ndarray, cids: np.ndarray, scores: np.ndarray,
              k: int) -> tuple[np.ndarray, ...]:
    """Each query's top-``k`` candidates as (query_id, neighbor_id, rank,
    score) arrays, one entry per kept pair, query by query.

    ``scores`` is the len(qids)×len(cids) score matrix and ``cids`` is
    ascending, so a stable argsort on ``-scores`` orders each row by score
    descending, then by neighbor id: ``ORDER BY score DESC, neighbor_id``.
    A query never ranks itself (its own pair scores ``-inf``) and NaN
    scores are dropped.  Both sort after every finite score, so a row's
    kept entries are a prefix and rank = position + 1."""
    scores = np.where(qids[:, None] == cids[None, :], -np.inf, scores)
    order = np.argsort(-scores, axis=1, kind="stable")[:, :k]
    top = np.take_along_axis(scores, order, axis=1)
    qi, pos = np.nonzero(np.isfinite(top))
    return (qids[qi], cids[order[qi, pos]], (pos + 1).astype(np.int32),
            top[qi, pos])


def _topk_frame(rows: tuple[np.ndarray, ...], score: str) -> pd.DataFrame:
    """:func:`topk_rows`'s arrays as a frame whose score column is
    named ``score``."""
    return pd.DataFrame(
        dict(zip(("query_id", "neighbor_id", "rank", score), rows)))


def _stack(col: pd.Series) -> np.ndarray:
    """A column of equal-length arrays as one float64 matrix."""
    return np.vstack(col.to_numpy()).astype(np.float64, copy=False)


# The empty result of a bucket kernel that emits (query_id, neighbor_id,
# sim) candidates.
_NO_PAIRS = pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                          "neighbor_id": pd.Series(dtype="int64"),
                          "sim": pd.Series(dtype="float64")})


def _unit_udf():
    """Arrow-batched unit vectors: |v|^2 in :func:`fold_dot`'s order,
    then sqrt and one divide per entry.  NULL in gives NULL out, and so
    does a zero-norm or empty vector (the expression rule
    ``when(norm != 0, ...)``).  Rows are grouped by length, so each
    group is one matrix."""

    @pandas_udf("array<double>")
    def unit(arrs: pd.Series) -> pd.Series:
        vals = arrs.to_numpy()
        out: list = [None] * len(vals)
        lens: dict[int, list[int]] = {}
        for i, v in enumerate(vals):
            if v is not None and len(v):
                lens.setdefault(len(v), []).append(i)
        for idxs in lens.values():
            m = np.vstack([vals[i] for i in idxs]).astype(np.float64)
            nrm = np.sqrt(_row_dot(m, m))
            u = m / nrm[:, None]
            for r, i in enumerate(idxs):
                if nrm[r] != 0:
                    out[i] = u[r]
        return pd.Series(out, dtype=object)

    return unit


def unit_vectors(emb: DataFrame) -> DataFrame:
    """Adds ``unit``: each embedding divided by its L2 norm, NULL for a
    NULL or zero vector, which then drops out of every search.  With the
    vectors normalized before any pair join, a pair costs one fold: the
    dot product."""
    return emb.withColumn("unit", _unit_udf()(F.col("embedding")))


def srp_signature(vec_col: Column, planes: list[list[int]]) -> Column:
    """Bit-string SRP signature, e.g. '10110100' for 8 planes: bit p is
    '1' when v·plane_p >= 0, the dot in :func:`fold_dot`'s order.

    A NULL vector, or one whose length differs from the planes', gets all
    '0's, as ``when(dot >= 0, '1').otherwise('0')`` does on a NULL dot.
    Callers pass the raw vector: the sign does not depend on its norm."""
    dim = len(planes[0])
    pl = np.asarray(planes, dtype=np.float64)        # n_planes × dim
    zero_sig = "0" * len(planes)

    @pandas_udf("string")
    def sig(arrs: pd.Series) -> pd.Series:
        vals = arrs.to_numpy()
        out: list = [zero_sig] * len(vals)
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) == dim]
        if ok:
            m = np.vstack([vals[i] for i in ok]).astype(np.float64)
            bits = np.where(fold_dot(m, pl) >= 0, "1", "0")
            for r, i in enumerate(ok):
                out[i] = "".join(bits[r])
        return pd.Series(out, dtype=object)

    return sig(vec_col)


def _pair_dot_udf():
    """Arrow-batched dot product of two unit-vector columns, row by row,
    in :func:`fold_dot`'s order."""

    @pandas_udf("double")
    def pair_dot(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series(dtype="float64")
        return pd.Series(_row_dot(np.vstack(qv.to_numpy()),
                                  np.vstack(cv.to_numpy())))

    return pair_dot


def topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k: row_number over (sim desc, neighbor asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(emb: DataFrame, k: int, num_queries: int) -> DataFrame:
    """-> (query_id, neighbor_id, rank, sim): exact cosine top-k of each of
    the first ``num_queries`` ids against the whole corpus.  The query side
    is broadcast; the corpus side moves once.  The ``repartition()``
    materializes the unit vectors, so the nested-loop join does not
    normalize each corpus vector once per query."""
    pair_dot = _pair_dot_udf()

    units = (unit_vectors(emb).select(F.col("vec_id"), F.col("unit"))
             .filter(F.col("unit").isNotNull())
             .repartition(F.col("vec_id")))
    q = (units.filter(F.col("vec_id") < num_queries)
         .select(F.col("vec_id").alias("query_id"), F.col("unit").alias("qv")))
    c = units.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("unit").alias("cv"))
    pairs = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                pair_dot(F.col("qv"), F.col("cv")).alias("sim"))
    )
    return (
        topk_per_query(pairs, k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def _srp_units(emb: DataFrame, planes: list[list[int]]) -> DataFrame:
    """(vid, unit, bucket) of every vector with a non-zero norm: its unit
    vector and the SRP signature of its raw vector."""
    return (unit_vectors(emb)
            .filter(F.col("unit").isNotNull())
            .select(F.col("vec_id").alias("vid"), "unit",
                    srp_signature(F.col("embedding").cast("array<double>"),
                                  planes).alias("bucket")))


def srp_ann_topk(emb: DataFrame, k: int, planes: list[list[int]],
                 max_bucket: int | None = None) -> DataFrame:
    """-> (query_id, neighbor_id, rank, sim): per-vector top-k among the
    vectors sharing its SRP bucket (every vector is a query).  One shuffle
    keyed on the bucket; inside a bucket :func:`fold_dot` scores the
    vectors against each other and :func:`topk_rows` ranks them.

    ``max_bucket`` caps the candidate side of a bucket to its
    ``max_bucket`` smallest ids, so a degenerate bucket (a boilerplate
    corpus puts everything in one) costs O(n·max_bucket) pairs, not
    O(n²).  Every vector still queries; a capped bucket loses only
    candidates that are bucket-mates of the kept ones.  Deterministic, so
    the SQL oracle mirrors it."""
    cap = max_bucket

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        ids, u = pdf["vid"].to_numpy(), _stack(pdf["unit"])
        return _topk_frame(
            topk_rows(ids, ids[:cap], fold_dot(u, u[:cap]), k), "sim")

    raw = _srp_units(emb, planes).groupBy("bucket").applyInPandas(
        bucket_topk, "query_id long, neighbor_id long, rank int, sim double")
    return raw.select("query_id", "neighbor_id", "rank",
                      F.round("sim", 4).alias("sim"))


def semdedup_discards(emb: DataFrame, planes: list[list[int]],
                      threshold: float,
                      max_bucket: int | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space, then inside each cluster drop every item
    that has a near-identical neighbor, keeping one representative.

    -> (vec_id, cell, keep_id, sim): one row per DISCARDED vector —
    ``keep_id`` is the smallest-id cell-mate with cosine >= ``threshold``
    (the deterministic "keep first" rule, same contract as chunk-level
    dedup), ``sim`` that pair's cosine rounded to 4.

    The paper clusters with k-means; here cells are the SRP signature.
    One shuffle keyed on the cell; inside a cell :func:`fold_dot` scores
    keepers against members, never all pairs of the corpus.
    ``max_bucket`` caps the KEEPER side of a cell to its smallest ids,
    like :func:`srp_ann_topk`'s candidate cap, at O(n·cap) pairs; it only
    loses keeper CHOICE, not discards, because any vector beyond the cap
    has a cell-mate below it.
    """
    cap = max_bucket

    def cell_discards(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        ids, u = pdf["vid"].to_numpy(), _stack(pdf["unit"])
        acc = fold_dot(u[:cap], u)                  # keepers × members
        out_v, out_k, out_s = [], [], []
        for v in range(1, len(ids)):
            hits = np.nonzero(acc[:v, v] >= threshold)[0]
            if hits.size:
                k0 = int(hits[0])                   # smallest keeper id
                out_v.append(int(ids[v]))
                out_k.append(int(ids[k0]))
                out_s.append(float(acc[k0, v]))
        return pd.DataFrame({"vec_id": out_v,
                             "cell": pdf["cell"].iloc[0],
                             "keep_id": out_k, "sim": out_s})

    raw = (_srp_units(emb, planes).withColumnRenamed("bucket", "cell")
           .groupBy("cell")
           .applyInPandas(cell_discards,
                          "vec_id long, cell string, keep_id long, sim double"))
    return raw.select("vec_id", "cell", "keep_id",
                      F.round("sim", 4).alias("sim"))


def srp_multiprobe_topk(emb: DataFrame, k: int, planes: list[list[int]],
                        max_bucket: int | None = None) -> DataFrame:
    """Multi-probe SRP ANN (Lv et al. 2007, multi-probe LSH): each query
    searches its home bucket PLUS the ``len(planes)`` hamming-1 buckets
    (one sign bit flipped).  -> (query_id, neighbor_id, rank, sim), exact
    cosine rank over the probed candidate union.

    Each vector explodes into P+1 probe rows; ONE cogrouped shuffle on the
    bucket meets them with the bucket's (capped) members, and the kernel
    keeps each probe's top-k inside the bucket (:func:`topk_rows`).  A
    global top-k member ranks ≤ k inside its own bucket too, so the
    window after it ranks at most (P+1)·k rows per query.
    """
    num_p = len(planes)
    units = _srp_units(emb, planes)
    index = units
    if max_bucket is not None:
        wb = Window.partitionBy("bucket").orderBy("vid")
        index = (index.withColumn("_rn", F.row_number().over(wb))
                 .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    flip = [
        F.concat(
            F.substring("bucket", 1, p),
            F.when(F.substring("bucket", p + 1, 1) == "1", "0").otherwise("1"),
            F.substring("bucket", p + 2, num_p - p - 1))
        for p in range(num_p)
    ]
    probes = units.select(
        "vid", "unit",
        F.explode(F.array(F.col("bucket"), *flip)).alias("bucket"))

    def probe_bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return _NO_PAIRS
        right = right.sort_values("vid")
        rows = topk_rows(left["vid"].to_numpy(), right["vid"].to_numpy(),
                         fold_dot(_stack(left["unit"]), _stack(right["unit"])),
                         k)
        return _topk_frame(rows, "sim").drop(columns="rank")

    cand = (probes.groupBy("bucket")
            .cogroup(index.groupBy("bucket"))
            .applyInPandas(probe_bucket,
                           "query_id long, neighbor_id long, sim double"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 4).alias("sim")))


def blocked_cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """-> (vec_a, vec_b, sim): unordered within-``label`` pairs with cosine
    >= threshold, sim rounded to 4 — the embedding near-dup primitive
    (the label block stands in for an IVF/LSH bucket).  One shuffle keyed
    on the label; inside a block :func:`fold_dot` scores all pairs and
    only the upper triangle (vec_a < vec_b) is emitted.
    """

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        ids, u = pdf["vid"].to_numpy(), _stack(pdf["unit"])
        acc = fold_dot(u, u)
        ai, bi = np.nonzero(np.triu(acc >= threshold, k=1))
        return pd.DataFrame({"vec_a": ids[ai], "vec_b": ids[bi],
                             "sim": acc[ai, bi]})

    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(F.col("vec_id").alias("vid"), "unit", "label"))
    raw = units.groupBy("label").applyInPandas(
        block_pairs, "vec_a long, vec_b long, sim double")
    return raw.select("vec_a", "vec_b", F.round("sim", 4).alias("sim"))


def sq8_ann_topk(emb: DataFrame, k: int, planes: list[list[int]],
                 max_bucket: int | None = None) -> DataFrame:
    """Scalar-quantized (int8) ANN: SRP buckets + integer-dot re-rank.

    Unit vectors quantize to ``round(127 * u_i)`` int8 codes (4× smaller
    than float32), and the in-bucket re-rank is an INTEGER dot product —
    exact under any summation order, so a plain int64 matmul matches the
    SQL oracle bit for bit.  Ranking uses the raw integer score (a
    monotone ~127²-scaled cosine estimate); ties break on neighbor id.
    Buckets, cap and shuffle are :func:`srp_ann_topk`'s.
    """
    cap = max_bucket

    def bucket_topk_int(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        ids = pdf["vid"].to_numpy()
        q = np.vstack(pdf["q"].to_numpy()).astype(np.int64)   # n × dim
        # |score| <= 127² · dim, far below 2^53: float64 holds it exactly
        score = (q @ q[:cap].T).astype(np.float64)
        return (_topk_frame(topk_rows(ids, ids[:cap], score, k), "qsim")
                .astype({"qsim": "int64"}))

    raw = (_srp_units(emb, planes)
           .select("vid",
                   F.transform("unit",
                               lambda x: F.round(x * 127).cast("int"))
                   .alias("q"),
                   "bucket")
           .groupBy("bucket")
           .applyInPandas(bucket_topk_int,
                          "query_id long, neighbor_id long, "
                          "rank int, qsim long"))
    return raw.select("query_id", "neighbor_id", "rank", "qsim")


def fixed_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic IVF centroids: entry (c,d) = (md5 byte - 128)/64.

    Every value is an exact binary fraction in [-2, 2), so the literal
    renders identically into the Spark plan and the DuckDB oracle — the
    same trick as :func:`srp_planes`.  Gives the IVF plan (cell
    membership, multi-probe, per-cell re-rank) a hash-matchable twin
    without a training step."""
    return [
        [(hashlib.md5(f"cell{c}|{d}".encode()).digest()[0] - 128) / 64.0
         for d in range(dim)]
        for c in range(n_cells)
    ]


def _probe_cells_udf(centers: list[list[float]], n_probe: int):
    """Arrow-batched kernel: the ``n_probe`` nearest cells of each
    vector under score ``|c|^2 - 2·(v·c)``, the dot from
    :func:`fold_dot`, ties to the smallest cell (the oracle's ``ORDER BY
    score, cell``; a stable argsort over ascending cell index)."""
    cent = np.asarray(centers, dtype=np.float64)           # n_cells × dim
    sq_arr = np.asarray([_sq_fold(c) for c in centers], dtype=np.float64)

    @pandas_udf("array<int>")
    def probe_cells(arrs: pd.Series) -> pd.Series:
        scores = sq_arr[None, :] - 2.0 * fold_dot(_stack(arrs), cent)
        order = np.argsort(scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    return probe_cells


# Query-side salt width of the per-cell re-rank (see _ivf_search): a hot
# IVF cell's queries spread over this many tasks.
IVF_SALT = 8


def _ivf_search(emb: DataFrame, k: int, centers: list[list[float]],
                n_probe: int, query_filter=None) -> DataFrame:
    """IVF search given centroids -> (query_id, neighbor_id, rank, sim):
    each vector goes to its ``n_probe`` nearest cells, is re-ranked
    exactly within each probed cell (:func:`fold_dot`,
    :func:`topk_rows`), and a window keeps the global top-k over the
    k·n_probe candidates of each query.

    A vector's nearest cell is its HOME: its corpus entry lives there.
    The re-rank shuffles on (cell, salt): a query takes one salt from a
    hash of its id, and a home row is copied to all ``IVF_SALT`` salts,
    so a hot cell's queries spread over ``IVF_SALT`` tasks that each see
    the cell's whole corpus.  A query's top-k depends only on the query
    and the cell's corpus, so the salt width does not change the output.
    Both roles come out of ONE in-row explode, so the normalize and probe
    UDFs run once per vector.

    ``query_filter`` (a callable ``Column -> Column`` applied to the id
    column) restricts the QUERY role to matching rows; the corpus side
    always indexes every vector.  An incremental-ingest search ranks only
    the new batch's vectors this way.

    The oracle scores cells as ``|c|^2 - 2·(v·c)`` (the ``|v|^2`` term is
    constant per row, so the argmin is unchanged) with the dot a
    left-to-right ``list_reduce`` fold, the order of :func:`fold_dot`.
    """
    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(F.col("vec_id"), "unit",
                     F.col("embedding").cast("array<double>").alias("arr")))
    probe_cells = _probe_cells_udf(centers, n_probe)
    # One row per (vector, probed cell); pos 0 is the vector's home cell.
    member = (
        units.withColumn("cells", probe_cells("arr"))
        .select(F.col("vec_id").alias("vid"), "unit",
                F.posexplode("cells").alias("pos", "cell"))
        .withColumn("is_home", F.col("pos") == 0).drop("pos")
    )
    # A query entry for every member row, IVF_SALT corpus entries for
    # every home row.
    q_entry = F.struct(
        F.pmod(F.xxhash64("vid"), F.lit(IVF_SALT)).cast("int")
        .alias("salt"), F.lit(False).alias("is_corpus"))
    c_entries = [F.struct(F.lit(i).cast("int").alias("salt"),
                          F.lit(True).alias("is_corpus"))
                 for i in range(IVF_SALT)]
    no_entries = F.array().cast("array<struct<salt:int,is_corpus:boolean>>")
    q_arr = F.array(q_entry)
    if query_filter is not None:
        # `member` renamed vec_id -> vid, so apply the caller's
        # predicate to the surviving column.
        q_arr = (F.when(query_filter(F.col("vid")), q_arr)
                 .otherwise(no_entries))
    roles = F.concat(
        q_arr,
        F.when(F.col("is_home"), F.array(*c_entries))
        .otherwise(no_entries))
    both = (member.select("vid", "unit", "cell",
                          F.explode(roles).alias("r"))
            .select("vid", "unit", "cell", "r.salt", "r.is_corpus"))

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qdf = pdf[~pdf["is_corpus"]]
        cdf = pdf[pdf["is_corpus"]].sort_values("vid")
        if qdf.empty or cdf.empty:
            return _NO_PAIRS
        rows = topk_rows(qdf["vid"].to_numpy(), cdf["vid"].to_numpy(),
                         fold_dot(_stack(qdf["unit"]), _stack(cdf["unit"])),
                         k)
        return _topk_frame(rows, "sim").drop(columns="rank")

    candidates = (
        both.groupBy("cell", "salt")
        .applyInPandas(cell_topk,
                       "query_id long, neighbor_id long, sim double")
    )
    return (
        topk_per_query(candidates, k)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim", 4).alias("sim"))
    )


# Fixed-point quantum for Lloyd centroid sums: per-dim contributions
# floor(v[d] * 1e6) summed as BIGINTs — order-independent, so the
# distributed mean is deterministic and a SQL oracle reproduces it.
IVF_TRAIN_Q = 1_000_000

# Lloyd/PQ training samples are bounded by a CAP, not a fraction:
# centroids need a few thousand representatives, never the corpus.  The
# sampling modulus scales with corpus row count (train_sample_mod), so
# the expected sample stays in [TARGET, 2*TARGET) at any corpus size,
# where a fixed 1-in-k fraction would grow with the corpus.  Membership
# stays a pure function of (id, corpus row count), so the DuckDB oracle
# replays it exactly via
# `% greatest(1, (SELECT count(*) FROM t) // TARGET) = 0`.
IVF_TRAIN_TARGET = 4096


def train_sample_mod(n_rows: int, target: int = IVF_TRAIN_TARGET) -> int:
    """Corpus-size-scaled sampling modulus: 1-in-``mod`` of ``n_rows``
    lands the expected sample in ``[target, 2*target)`` — O(cap), not
    O(rows).  Pure integer arithmetic (``max(1, n_rows // target)``)
    that the SQL oracle reproduces with ``greatest(1, count(*) //
    target)`` (both floor-divide non-negative ints identically)."""
    return max(1, n_rows // target)


def train_sample_pred(mod: int) -> Column:
    """Deterministic hash-sample membership: keep rows whose
    md5(CAST(vec_id AS STRING)) 8-hex-char prefix is ≡ 0 (mod ``mod``).

    Pseudo-uniform and engine-portable — the DuckDB oracle evaluates
    the identical predicate as
    ``CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
    % mod = 0`` — so a sample-trained index stays hash-matchable
    end-to-end.  Unlike ``TABLESAMPLE``/``rand()``, membership is a
    pure function of the id: stable across retries, partitionings and
    engines."""
    h = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
               16, 10)
    return h.cast("long") % mod == 0


def lloyd_centroids(emb: DataFrame, init_centers: list[list[float]],
                    rounds: int = 2,
                    train_filter: Column | None = None) -> list[list[float]]:
    """Deterministic Lloyd (KMeans) iterations over the full corpus ->
    final centroids, bit-reproducible by a SQL engine.

    Each round is (1) a map-only nearest-centroid assignment (score
    ``|c|^2 - 2·(v·c)`` accumulated dimension-by-dimension — the exact
    IEEE-754 op sequence of the oracle's left-to-right ``list_reduce``
    fold — ties to the smallest cell) and (2) ONE hash-aggregate of
    per-dim FIXED-POINT sums: contributions quantized to BIGINT as
    ``floor(v[d] * {IVF_TRAIN_Q})``, so the distributed sum is exact and
    order-independent (the logistic_gd_train technique,
    operators/profiling.py), and the new centroid dim is one
    deterministic double expression ``sum / (Q * n)``.  The per-round
    collect is <= n_cells x dim rows of index state (one (cell, dim)
    partial sum each — the exploded layout keeps each round's freshly-
    compiled plan down to two agg expressions), never data — the same
    driver-side steering as any KMeans fit.  Cells that lose all
    members keep their previous centroid.

    ``train_filter`` (e.g. :func:`train_sample_pred`) restricts
    TRAINING to a deterministic hash-sample: cost drops from rounds ×
    full-corpus scans to rounds × sample scans — no query pays 2 corpus
    scans — while staying
    oracle-exact because the SQL twin applies the identical predicate
    to its training CTEs.  The localCheckpoint then materializes only
    the sample."""
    n_cells, dim = len(init_centers), len(init_centers[0])
    base = emb.filter(F.exists("embedding", lambda x: x != 0))
    if train_filter is not None:
        # the sample is BOUNDED by contract (that is its point), so
        # packing it into a few partitions is scale-correct and turns
        # each Lloyd round into a handful of Arrow batches instead of
        # one near-empty task per input split
        base = base.filter(train_filter).coalesce(4)
    base = (base
            .select(F.col("embedding").cast("array<double>").alias("arr"))
            .localCheckpoint())  # scanned once per round, not per plan
    centers = [[float(x) for x in c] for c in init_centers]
    for _ in range(rounds):
        # nearest-cell assignment: n_probe=1 of the shared scoring kernel
        home = F.element_at(_probe_cells_udf(centers, 1)("arr"), 1)
        # (cell, dim) exploded layout: one sum expression over dim x n
        # tiny rows, so each round's freshly built plan (the centroids
        # are literals) carries a 2-expression aggregate, not a 64-wide
        # one; the exact BIGINT sums are the same either way.
        sums = (base.withColumn("cell", home)
                .select("cell", F.posexplode("arr").alias("d", "v"))
                .groupBy("cell", "d")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.floor(F.col("v") * IVF_TRAIN_Q)
                           .cast("long")).alias("s")))
        got = {(int(r["cell"]), int(r["d"])): r for r in sums.collect()}
        # A ragged embedding (shorter than dim) produces no posexplode
        # rows for its missing trailing dims; surface that as a clear
        # error instead of a bare KeyError on got[(c, d)].
        for c in range(n_cells):
            if (c, 0) in got:
                missing = [d for d in range(dim) if (c, d) not in got]
                if missing:
                    raise ValueError(
                        "lloyd_centroids: embeddings assigned to cell "
                        f"{c} are shorter than dim={dim} (no values for "
                        f"dims {missing[:4]}) — ragged embedding column")
                # a cell MIXING full-length and ragged vectors still has
                # a row per dim; uneven per-dim counts are the tell
                ns = {int(got[(c, d)]["n"]) for d in range(dim)}
                if len(ns) > 1:
                    raise ValueError(
                        "lloyd_centroids: cell "
                        f"{c} mixes embedding lengths (per-dim counts "
                        f"{sorted(ns)}) — ragged embedding column")
        centers = [
            [float(got[(c, d)]["s"])
             / (float(IVF_TRAIN_Q) * float(got[(c, d)]["n"]))
             for d in range(dim)]
            if (c, 0) in got else centers[c]
            for c in range(n_cells)]
    return centers


def ivf_lloyd_topk(emb: DataFrame, k: int, init_centers: list[list[float]],
                   rounds: int = 2, n_probe: int = 2,
                   train_target: int | None = IVF_TRAIN_TARGET,
                   n_rows: int | None = None) -> DataFrame:
    """IVF ANN over TRAINED centroids (deterministic Lloyd fixed-point,
    :func:`lloyd_centroids`) — the trained-index scale path with a full
    hash-matchable oracle: the SQL twin unrolls every Lloyd round as
    CTEs with identical quantized arithmetic, then runs the same
    probe/re-rank plan as the fixed-centroid variant.  Training runs on
    a ~``train_target``-row hash-sample whose modulus scales with the
    corpus (:func:`train_sample_mod` — O(cap), not a fixed fraction;
    ``train_target=None`` trains on the full corpus); SEARCH always
    indexes every vector.  ``n_rows`` sizes the modulus without a scan
    when the caller already knows the corpus count (parquet footer
    metadata / catalog statistics — tables.table_row_count); left None,
    it falls back to one ``emb.count()`` job."""
    if train_target is not None:
        if n_rows is None:
            n_rows = emb.count()
        pred = train_sample_pred(train_sample_mod(n_rows, train_target))
    else:
        pred = None
    centers = lloyd_centroids(emb, init_centers, rounds, train_filter=pred)
    return _ivf_search(emb, k, centers, n_probe)


def ivf_incremental_topk(emb: DataFrame, inc_mod: int, k: int,
                         init_centers: list[list[float]], rounds: int = 2,
                         n_probe: int = 2,
                         train_target: int = IVF_TRAIN_TARGET,
                         n_old_rows: int | None = None) -> DataFrame:
    """Incremental IVF ingestion — the ANN sibling of
    ``dedup.incremental_dedup``: a NEW batch (``id % inc_mod = 0``,
    the daily-crawl convention shared with the dedup twin) is routed
    into EXISTING trained cells with NO retraining, then searched
    immediately against the full (old + new) corpus.

    Steady-state contract, in three properties the tests pin:

    1. **Centroids are a pure function of the OLD corpus** — training
       filters to ``id % inc_mod != 0`` intersected with the capped
       hash-sample (modulus scaled by ``n_old_rows``), so ingesting a
       batch never moves the index geometry: new-vector routing is a
       map-only nearest-centroid assignment (the same
       ``_probe_cells_udf`` scan every search pays anyway), not a
       rounds × scan Lloyd re-fit, so an ingest costs one pass over
       the batch.
    2. **New rows are immediately searchable** — the search side
       indexes every vector (old and new home cells alike); only the
       QUERY role is restricted to the new batch via
       ``query_filter``, so the plan pays |new| × n_probe query
       fan-out, never |corpus| × n_probe.
    3. **Old rows never re-rank against each other** — the per-cell
       kernel sees old vectors only as corpus entries for new-batch
       queries, the old×old work an ingest must not pay.

    ``n_old_rows`` sizes the training-sample modulus without a count
    scan when the old corpus's row count is already known.  In a real
    deployment old batches land in their own partitions/files, so
    this is parquet footer metadata (tables.table_row_count); the
    ``% inc_mod`` fixture split simulates that partition boundary,
    and callers without the count pay one filtered count() job.

    -> (query_id, neighbor_id, rank, sim) for new-batch queries only,
    ranked over the full corpus — same shape/determinism contract as
    :func:`ivf_lloyd_topk` (fixed-point Lloyd, fold-order-exact
    scoring), so the DuckDB oracle unrolls identically with the tr
    CTE additionally filtered to the old batch.
    """
    old_pred = F.col("vec_id") % inc_mod != 0
    if n_old_rows is None:
        n_old_rows = emb.filter(old_pred).count()
    sample = train_sample_pred(train_sample_mod(n_old_rows, train_target))
    centers = lloyd_centroids(emb, init_centers, rounds,
                              train_filter=sample & old_pred)
    return _ivf_search(emb, k, centers, n_probe,
                       query_filter=lambda vid: vid % inc_mod == 0)


def pq_codebooks(n_sub: int, n_codes: int,
                 sub_dim: int) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks:
    entry (m,c,d) = (md5 byte - 128) / 512 — exact binary fractions in
    [-0.25, 0.25), the magnitude of unit-vector coordinates at dim 64,
    rendered identically into the Spark plan and the DuckDB oracle (the
    same trick as :func:`fixed_centroids`).  A deployment would train
    the codebooks with k-means per subspace; fixed codebooks give the
    full PQ plan shape an exact hash-matchable twin."""
    return [
        [[(hashlib.md5(f"pq{m}|{c}|{d}".encode()).digest()[0] - 128) / 512.0
          for d in range(sub_dim)]
         for c in range(n_codes)]
        for m in range(n_sub)
    ]


def pq_trained_codebooks(
        emb: DataFrame, init_books: list[list[list[float]]], rounds: int = 2,
        train_filter: Column | None = None) -> list[list[list[float]]]:
    """Per-subspace deterministic Lloyd over UNIT sub-vectors -> trained
    PQ codebooks, bit-reproducible by a SQL engine — the k-means
    training step the fixed md5 books (:func:`pq_codebooks`) stand in
    for, built from the same machinery as :func:`lloyd_centroids`:

    - assignment = the production encode kernel (:func:`pq_encode_udf`
      over the CURRENT books: per-subspace argmin of |c|^2 - 2*(u_sub.c)
      with the oracle's left-to-right fold; ties -> smallest code);
    - update = ONE hash-aggregate per round of per-(subspace, code, dim)
      FIXED-POINT sums (floor(u[d] * Q) as BIGINT — exact and
      partition-order-independent), new centroid dim = s / (Q * n) in
      one double division; (subspace, code) cells that lose all members
      keep their previous centroid.

    ALL subspaces train in the same scan: the posexploded unit
    coordinate stream carries (m = pos // sub_dim, d = pos % sub_dim)
    and each row joins its vector's m-th code in-row, so a round is one
    sample scan + one <= n_sub*n_codes*sub_dim-row collect of index
    state (1024 rows here), never data.  ``train_filter``
    (:func:`train_sample_pred`) bounds training to a deterministic
    hash-sample the oracle's CTEs re-apply identically."""
    n_sub, n_codes = len(init_books), len(init_books[0])
    sub_dim = len(init_books[0][0])
    units = unit_vectors(emb).filter(F.col("unit").isNotNull())
    if train_filter is not None:
        units = units.filter(train_filter).coalesce(4)
    base = units.select("unit").localCheckpoint()
    books = [[[float(x) for x in c] for c in book] for book in init_books]
    for _ in range(rounds):
        codes = pq_encode_udf(books)(F.col("unit"))
        j = F.col("j")
        m = F.floor(j / sub_dim).cast("int")
        sums = (base.withColumn("codes", codes)
                .select("codes", F.posexplode("unit").alias("j", "v"))
                .select(m.alias("m"), (j % sub_dim).alias("d"),
                        F.element_at("codes", m + 1).alias("code"), "v")
                .groupBy("m", "code", "d")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.floor(F.col("v") * IVF_TRAIN_Q)
                           .cast("long")).alias("s")))
        got = {(int(r["m"]), int(r["code"]), int(r["d"])): r
               for r in sums.collect()}
        books = [
            [[float(got[(mi, c, d)]["s"])
              / (float(IVF_TRAIN_Q) * float(got[(mi, c, d)]["n"]))
              for d in range(sub_dim)]
             if (mi, c, 0) in got else books[mi][c]
             for c in range(n_codes)]
            for mi in range(n_sub)]
    return books


def _pq_scores_np(codebooks: list[list[list[float]]]):
    """batch×dim -> batch×n_sub×n_codes kernel of the scores
    |c|^2 - 2·(u_sub·c), each subspace's dot from :func:`fold_dot` (the
    oracle's fold order; the |u_sub|^2 term is constant per (row, m), so
    neither the encode argmin nor the summed ADC ranking needs it)."""
    cent = np.asarray(codebooks, dtype=np.float64)  # n_sub×n_codes×sub_dim
    n_sub, _, sub_dim = cent.shape
    sq = np.asarray([[_sq_fold(c) for c in book] for book in codebooks],
                    dtype=np.float64)               # n_sub×n_codes

    def scores(mat):                                # mat: batch×dim float64
        sub = mat.reshape(mat.shape[0], n_sub, sub_dim)
        dots = np.stack([fold_dot(sub[:, m], cent[m]) for m in range(n_sub)],
                        axis=1)
        return sq[None, :, :] - 2.0 * dots

    return scores


def pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder: array<int> of per-subspace
    nearest-centroid codes.  np.argmin returns the FIRST minimum, so ties
    go to the smallest code (the oracle's ORDER BY score, c)."""
    scores = _pq_scores_np(codebooks)

    @pandas_udf("array<int>")
    def encode(arrs: pd.Series) -> pd.Series:
        codes = np.argmin(scores(_stack(arrs)), axis=2).astype("int32")
        return pd.Series(list(codes))

    return encode


def pq_adc_table_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched asymmetric-distance lookup table of a QUERY vector:
    entry m*n_codes + c = |c|^2 - 2*(q_sub·c).  Computed once per query;
    a corpus code then resolves to n_sub array lookups (:func:`_adc_sum`)."""
    scores = _pq_scores_np(codebooks)

    @pandas_udf("array<double>")
    def table(arrs: pd.Series) -> pd.Series:
        s = scores(_stack(arrs))
        return pd.Series(list(s.reshape(s.shape[0], -1)))

    return table


def _adc_sum(n_sub: int, n_codes: int) -> Column:
    """The per-pair ADC distance ``sum_m qtab[m*n_codes + codes[m]]`` as a
    CHAINED add expression — the exact op sequence of the previous
    ``F.aggregate(F.sequence(0, n_sub-1), 0.0, ...)`` fold (seeded 0.0,
    left-to-right), but in plain codegen-able expressions: higher-order
    functions are CodegenFallback, so the fold ran INTERPRETED once per
    candidate pair — the per-pair hot loop of both ADC scans."""
    acc: Column = F.lit(0.0)
    for m in range(n_sub):
        acc = acc + F.element_at(
            F.col("qtab"),
            (m * n_codes + F.element_at(F.col("codes"), m + 1) + 1)
            .cast("int"))
    return acc


def pq_adc_topk(emb: DataFrame, k: int, codebooks: list[list[list[float]]],
                num_queries: int) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scan
    (Jegou et al. 2011): encode every corpus vector to n_sub codebook
    ids (8 bytes/vector here vs 256 for float32×64 — 32× compression),
    broadcast the query set's distance tables, and rank candidates by
    the table-lookup sum — an exhaustive scan over COMPRESSED codes.

    -> (query_id, neighbor_id, rank, adist): top-k per query by
    ascending approximate distance (adist + |q|^2 is the true ADC
    squared distance; the constant shift is dropped on both engines).

    Encoding is a map-only projection whose codes replace the raw
    vectors; the scan is a broadcast nested-loop join where the corpus
    side streams once and only (query, neighbor, adist) rows reach the
    top-k exchange.  Encode and query tables are Arrow-batched numpy
    kernels (:func:`pq_encode_udf`, :func:`pq_adc_table_udf`); the
    per-pair ADC sum is a built-in expression inside codegen.

    Like :func:`brute_force_topk`, the repartition() is a deliberate
    materialization barrier so CollapseProject cannot inline the
    normalize fold into every downstream score expression.
    """
    n_sub, n_codes = len(codebooks), len(codebooks[0])
    units = (unit_vectors(emb).select(F.col("vec_id"), F.col("unit"))
             .filter(F.col("unit").isNotNull())
             .repartition(F.col("vec_id")))
    # The second repartition is ALSO a materialization barrier: without
    # it CollapseProject would inline the encode into every per-pair
    # table lookup (8 lookups/pair re-evaluating the full encode).  The
    # exchange carries only (id, 8 int codes) rows — this IS the PQ
    # semantics: encode once, scan codes.
    corpus = (units.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_encode_udf(codebooks)(F.col("unit")).alias("codes"))
        .repartition(F.col("neighbor_id")))
    queries = (units.filter(F.col("vec_id") < num_queries)
               .select(F.col("vec_id").alias("query_id"),
                       pq_adc_table_udf(codebooks)(F.col("unit"))
                       .alias("qtab")))
    adist = _adc_sum(n_sub, n_codes)
    pairs = (
        F.broadcast(queries).crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("adist", 6).alias("adist"))
    )


def pq_code_histogram(emb: DataFrame,
                      codebooks: list[list[list[float]]]) -> DataFrame:
    """-> (m, code, n_vecs): codebook usage per subspace — the encode
    path gated independently of any search, and the balance diagnostic a
    real PQ index needs (a skewed histogram means wasted code space)."""
    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull()))
    return (
        units.select(F.posexplode(pq_encode_udf(codebooks)(F.col("unit")))
                     .alias("m", "code"))
        .groupBy("m", "code")
        .agg(F.count("*").alias("n_vecs"))
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling.

NEG_POOL = 64   # broadcast candidate pool size
NEG_K = 4       # negatives per anchor


def contrastive_negatives(emb: DataFrame) -> DataFrame:
    """-> (vec_id, neg_rank, neg_id, neg_label): deterministic negative
    sampling for contrastive training — for every anchor, ``NEG_K``
    different-label negatives drawn from a small GLOBAL candidate pool.

    The pool is the ``NEG_POOL`` vectors with the smallest md5(vec_id)
    (a deterministic uniform sample) and is broadcast, so the join is
    anchors x pool — O(N * pool), never O(N^2) — and each anchor ranks
    its candidates by md5(anchor:candidate), a per-anchor-fresh
    deterministic order.  Re-running on any partitioning yields the
    same negatives, the reproducibility a training-data release needs.

    Emission contract (training-data consumers, take note): an anchor
    whose ``label`` is NULL emits NO rows (``label <> neg_label`` is
    NULL-valued, standard SQL join semantics — NULL-labeled vectors
    are unlabeled, so they have no well-defined negatives), and an
    anchor with fewer than ``NEG_K`` different-label pool candidates emits
    only that many.  Both are by design; count rows per anchor
    downstream if a fixed fan-out is required.
    """
    ids = emb.select(F.col("vec_id"), F.col("label"))
    pool_df = (ids.select(F.col("vec_id").alias("neg_id"),
                          F.col("label").alias("neg_label"),
                          F.md5(F.col("vec_id").cast("string")).alias("ph"))
               .orderBy("ph", "neg_id").limit(NEG_POOL)
               .drop("ph"))
    pair_h = F.md5(F.concat_ws(":", F.col("vec_id"), F.col("neg_id")))
    w = Window.partitionBy("vec_id").orderBy("pair_h", "neg_id")
    return (ids.join(F.broadcast(pool_df),
                     (F.col("label") != F.col("neg_label"))
                     & (F.col("vec_id") != F.col("neg_id")))
            .withColumn("pair_h", pair_h)
            .withColumn("neg_rank", F.row_number().over(w).cast("long"))
            .where(F.col("neg_rank") <= NEG_K)
            .select("vec_id", "neg_rank", "neg_id", "neg_label"))


def matryoshka_recall(emb: DataFrame, k: int, num_queries: int,
                      trunc_dim: int) -> DataFrame:
    """Matryoshka-representation ablation (Kusupati et al. 2022): how
    much cosine-top-k recall survives truncating every embedding to its
    first ``trunc_dim`` dimensions — the eval that decides whether
    first-stage retrieval can run on prefix dims and re-rank on full
    vectors.

    -> (query_id, n_hits, recall_at_k) per probe query: ground truth =
    full-dim exact top-k, candidate = truncated-dim exact top-k over
    re-normalized prefixes (zero-norm prefixes drop, mirroring the
    full-dim zero-vector rule).  Both sides reuse the brute-force plan
    (broadcast query panel, corpus streams once each)."""
    exact = (brute_force_topk(emb, k, num_queries)
             .select("query_id", "neighbor_id"))
    # Guard trunc_dim <= embedding length (mirrors lloyd_centroids'
    # ragged-column check): F.slice past the end would silently return
    # the full vector, making "truncated" recall a no-op lie.  The
    # when/raise_error rides the existing scan — no extra pass.
    trunc = emb.select(
        F.col("vec_id"),
        # NULL embeddings pass through (dropped downstream by the
        # zero-norm rule, same as the full-dim side) — only a present
        # but too-short vector is a raggedness error.
        F.when(F.col("embedding").isNull(),
               F.slice(F.col("embedding"), 1, trunc_dim))
        .when(F.size(F.col("embedding")) >= trunc_dim,
              F.slice(F.col("embedding"), 1, trunc_dim))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"matryoshka_recall: trunc_dim={trunc_dim} exceeds "
                  "embedding length "),
            F.size(F.col("embedding")).cast("string"),
            F.lit(" (ragged or too-short embedding column)"))))
        .alias("embedding"))
    ann = (brute_force_topk(trunc, k, num_queries)
           .select("query_id", "neighbor_id", F.lit(1).alias("_hit")))
    return (
        exact.join(F.broadcast(ann), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"),
             F.round(F.count("_hit") / k, 6).alias("recall_at_k"))
    )


def mmr_diverse_topk(emb: DataFrame, k: int, num_queries: int, shortlist: int,
                     lam: float, lam_comp: float) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, greedily select ``k`` results maximizing
    ``lam * rel(c) - lam_comp * max_{s in selected} sim(c, s)`` — the
    diversity-aware retrieval step that keeps a RAG context window (or
    a dedup-at-retrieval training-data sampler) from filling with
    near-identical passages.  Step 1 is the pure-relevance argmax
    (empty selected set -> redundancy term 0).

    -> (query_id, step, sel_id, mmr_score): the selection ORDER is the
    output — a swapped redundancy sign or a wrong running-max shows up
    at step 2, not as a mysteriously-shuffled final set.

    Plan shape: the candidate shortlist is the exact cosine top-
    ``shortlist`` per query (broadcast query panel x streamed corpus —
    the audited brute-force plan), checkpointed once so the corpus is
    scanned exactly once; candidate-candidate similarities join the
    checkpointed shortlist to itself (|Q| x shortlist^2 rows, bounded
    by constants, never by the corpus).  The greedy selection itself is
    inherently SEQUENTIAL (each step's scores depend on the previous
    step's pick), so it runs as ONE cogrouped ``applyInPandas`` per
    query over those two constant-size frames, instead of k chained
    DataFrame rounds whose branched lineage re-executes every prior
    round per step.  Only the shortlist build touches the corpus.

    Determinism: similarities come from the shared Arrow fold kernel
    (``_pair_dot_udf`` — the oracle's left-to-right ``list_reduce``
    order); the greedy combines them with plain IEEE-double
    ``lam * rel - lam_comp * maxsim`` (both weights SEPARATE literals —
    never computing ``1 - lam``, whose rounding could differ from a
    literal), ties break on the candidate id, and the 4dp presentation
    rounding happens in the ENGINE (F.round), not in Python, so both
    engines round the identical raw double the same way."""
    pair_dot = _pair_dot_udf()
    units = (unit_vectors(emb).select(F.col("vec_id"), F.col("unit"))
             .filter(F.col("unit").isNotNull())
             .repartition(F.col("vec_id")))  # materialization barrier
    q = (units.filter(F.col("vec_id") < num_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("unit").alias("qv")))
    c = units.select(F.col("vec_id").alias("cand_id"),
                     F.col("unit").alias("cv"))
    rel_pairs = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "cv",
                pair_dot(F.col("qv"), F.col("cv")).alias("rel")))
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id").asc())
    # |Q| x shortlist rows; checkpointed so the corpus scan behind it
    # runs once, not once per consumer (pair join + cogroup).
    s = (rel_pairs.withColumn("rn", F.row_number().over(w_rel))
         .filter(F.col("rn") <= shortlist).drop("rn")
         .localCheckpoint())
    a = s.select("query_id", F.col("cand_id").alias("ca"),
                 F.col("cv").alias("ua"))
    b = s.select("query_id", F.col("cand_id").alias("cb"),
                 F.col("cv").alias("ub"))
    # |Q| x shortlist^2 rows; checkpointed both to sever the lineage it
    # shares with the cogroup's other (s-derived) side — Spark's
    # ambiguous-self-join check rejects cogrouping two branches of one
    # plan — and so the pair kernel runs once.
    p = (a.join(b, ["query_id"])
         .filter(F.col("ca") != F.col("cb"))
         .select("query_id", "ca", "cb",
                 pair_dot(F.col("ua"), F.col("ub")).alias("psim"))
         .localCheckpoint())

    def greedy(sdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        if sdf.empty:
            return pd.DataFrame(
                columns=["query_id", "step", "sel_id", "score"])
        qid = int(sdf["query_id"].iloc[0])
        rel = dict(zip(sdf["cand_id"], sdf["rel"]))
        psim: dict[tuple[int, int], float] = {}
        for ca, cb, sim in zip(pdf["ca"], pdf["cb"], pdf["psim"]):
            psim[(int(ca), int(cb))] = float(sim)
        selected: list[int] = []
        out = []
        for step in range(1, k + 1):
            best = None
            for cand in rel:
                if cand in selected:
                    continue
                if selected:
                    score = (lam * rel[cand] - lam_comp
                             * max(psim[(cand, s_)] for s_ in selected))
                else:
                    score = lam * rel[cand]
                key = (-score, cand)
                if best is None or key < best[0]:
                    best = (key, cand, score)
            if best is None:           # fewer candidates than k
                break
            _, sel, score = best
            selected.append(sel)
            out.append((qid, step, sel, score))
        return pd.DataFrame(
            out, columns=["query_id", "step", "sel_id", "score"])

    picked = (s.select("query_id", "cand_id", "rel")
              .groupBy("query_id")
              .cogroup(p.groupBy("query_id"))
              .applyInPandas(
                  greedy,
                  "query_id long, step long, sel_id long, score double"))
    return picked.select("query_id", "step", "sel_id",
                         F.round("score", 4).alias("mmr_score"))


def ivf_pq_topk(emb: DataFrame, k: int, centers: list[list[float]],
                codebooks: list[list[list[float]]], n_probe: int,
                num_queries: int, m_rerank: int) -> DataFrame:
    """IVF-PQ with exact re-rank — the production ANN index shape
    (FAISS IVFPQ / DiskANN first stage): coarse quantizer routes each
    corpus vector to its HOME cell and each query to its ``n_probe``
    nearest cells; inside probed cells candidates rank by the PQ
    asymmetric-distance lookup sum over 8-byte codes; the best
    ``m_rerank`` per query re-rank EXACTLY on their raw vectors for the
    final top-``k``.

    -> (query_id, neighbor_id, rank, sim).

    The corpus side carries (home cell, codes) only — 32× smaller than
    raw vectors — and shuffles once on the cell id; the exact re-rank
    touches raw vectors for just |Q|·m_rerank rows via a broadcast
    shortlist join (the "fetch the shortlist's full vectors" I/O pattern
    of a disk-resident index).  Every stage reuses the fold kernels, so
    the whole composition is hash-gated against the oracle's CTE
    unroll."""
    n_sub, n_codes = len(codebooks), len(codebooks[0])
    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(F.col("vec_id"), "unit",
                     F.col("embedding").cast("array<double>").alias("arr"))
             .repartition(F.col("vec_id")))  # materialization barrier
    probe = _probe_cells_udf(centers, n_probe)
    base = units.withColumn("cells", probe("arr"))
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at("cells", 1).alias("cell"),
        pq_encode_udf(codebooks)(F.col("unit")).alias("codes"))
    queries = (base.filter(F.col("vec_id") < num_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.explode("cells").alias("cell"),
                       pq_adc_table_udf(codebooks)(F.col("unit"))
                       .alias("qtab")))
    adist = _adc_sum(n_sub, n_codes)
    cand = (F.broadcast(queries).join(corpus, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", adist.alias("adist")))
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc())
    short = (cand.withColumn("arank", F.row_number().over(wa))
             .filter(F.col("arank") <= m_rerank)
             .select("query_id", "neighbor_id"))

    pair_dot = _pair_dot_udf()

    qu = units.select(F.col("vec_id").alias("query_id"),
                      F.col("unit").alias("qu"))
    cu = units.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("unit").alias("cu"))
    rer = (F.broadcast(short)
           .join(qu, "query_id").join(cu, "neighbor_id")
           .select("query_id", "neighbor_id",
                   pair_dot(F.col("qu"), F.col("cu")).alias("sim")))
    return (topk_per_query(rer, k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("sim", 4).alias("sim")))


def ivf_home_cells(emb: DataFrame, centers: list[list[float]]) -> DataFrame:
    """-> (vec_id, cell): each non-zero vector's nearest coarse cell
    (the IVF home assignment), via the shared fold-exact scoring kernel
    — the building block behind cell-balance observability and any
    routing-table export."""
    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(F.col("vec_id"),
                     F.col("embedding").cast("array<double>").alias("arr")))
    return units.select(
        "vec_id",
        F.element_at(_probe_cells_udf(centers, 1)("arr"), 1).alias("cell"))


def kcenter_coreset(emb: DataFrame, k: int, pool: int) -> DataFrame:
    """-> (step, sel_id, nearest_sim): greedy k-center coreset selection
    (farthest-point traversal — the Sener & Savarese 2018 active-
    learning / data-selection coreset): from a deterministic
    ``pool``-vector sample, repeatedly pick the vector FARTHEST (lowest
    max cosine) from everything already selected — the k points that
    best COVER the embedding space, where MMR's lambda trades coverage
    against a query relevance this operator doesn't have.

    The pool is the ``pool`` vectors with the smallest md5(vec_id) (the
    contrastive_negatives sampling idiom — a pure function of the id,
    so any partitioning and the oracle agree); the seed is the pool's
    (md5, id)-first member.  ``nearest_sim`` is the selected vector's
    similarity to its nearest prior selection (NULL for the seed) —
    emitting it gates the traversal's DYNAMICS, and read top-down it is
    the coverage-radius curve a labeling-budget decision reads.

    One corpus-wide TakeOrdered picks the pool (no global sort) and is
    the ONLY distributed work: the pool's unit vectors are collected and
    the pool² similarities come from :func:`fold_dot` on the driver.  The
    sequential traversal is tiny: k and pool are selection constants."""
    units = (unit_vectors(emb).select(F.col("vec_id"), F.col("unit"))
             .filter(F.col("unit").isNotNull()))
    pool_rows = (units
                 .withColumn("ph", F.md5(F.col("vec_id").cast("string")))
                 .orderBy("ph", "vec_id").limit(pool)
                 .select(F.col("vec_id").alias("pid"), "ph", "unit")
                 .collect())  # ONE corpus TakeOrdered, pool rows
    order = [(r["ph"], r["pid"]) for r in pool_rows]
    ids = [r["pid"] for r in pool_rows]
    psim: dict = {}
    if pool_rows:
        U = np.array([r["unit"] for r in pool_rows], dtype=np.float64)
        acc = fold_dot(U, U)
        psim = {(ids[i], ids[j]): float(acc[i, j])
                for i in range(len(ids)) for j in range(len(ids)) if i != j}
    members = [pid for _, pid in sorted(order)]
    if not members:      # empty / all-zero-vector corpus: no coreset
        return emb.sparkSession.createDataFrame(
            [], "step long, sel_id long, nearest_sim double")
    selected = [members[0]]
    out = [(1, members[0], None)]
    for step in range(2, min(k, len(members)) + 1):
        best = None
        for c in members:
            if c in selected:
                continue
            near = max(psim[(c, s)] for s in selected)
            key = (near, c)            # farthest first, ties on id
            if best is None or key < best[0]:
                best = (key, c, near)
        _, sel, near = best
        selected.append(sel)
        out.append((step, sel, near))
    res = emb.sparkSession.createDataFrame(
        out, "step long, sel_id long, nearest_sim double")
    return res.select("step", "sel_id",
                      F.round("nearest_sim", 4).alias("nearest_sim"))
