"""Similarity search over the ``embeddings`` table (``array<float>``).

Two plan families — bucketing/filtering is pure built-in expressions
(JVM codegen); in-bucket re-ranks are vectorized Arrow-batched kernels
with the oracle's exact IEEE-754 fold order (see _ivf_search):

- **Brute-force top-k**: query set × corpus via a *broadcast* nested-loop
  join (the query side is small by construction), exact cosine, per-query
  ``row_number``.  The O(|Q|·N) baseline — correct at any scale where |Q|
  is bounded, because the corpus side streams and never shuffles.
- **SRP-LSH ANN**: signed-random-projection signatures (Charikar 2002) —
  bit p = sign(v · h_p) for fixed ±1 hyperplanes — bucket on the signature,
  re-rank exactly within buckets.  The pair join shuffles on the bucket id
  only; expected bucket size N/2^P keeps it near-linear.  This is the IVF
  stand-in the 100 TB path needs (at that scale: train real centroids, or
  raise P and probe neighboring buckets for recall).

Determinism across engines: hyperplanes are ±1 literals derived from md5
in Python and embedded in BOTH the Spark plan and the oracle SQL; dot
products fold left-to-right in double on both engines, so even ranking on
the raw (unrounded) similarity is stable; ties broken by vec_id.

Generalizes the reference's key-equality grouping (shuffle.go:84-91 hashes
exact keys) to similarity-space grouping; no counterpart exists there.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import dot, l2_norm


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


def _unit_udf():
    """Arrow-batched unit-vector kernel with the ORACLE's IEEE-754 op
    sequence: |v|^2 accumulates dimension by dimension, left-to-right,
    seeded 0.0 (one vectorized add per dim — same bit-parity technique
    as :func:`_probe_cells_udf`), then sqrt and one elementwise divide.

    Replaces the pure-expression ``transform(v, x -> x / l2_norm(v))``
    rendering: Spark's higher-order functions are CodegenFallback —
    every lambda step is an interpreted expression walk — and the
    normalize measured ~2.4 s per pass over the sf0.1 embeddings
    (2000×64!) as a single-task stage, the dominant cost of the whole
    similarity family.  The numpy kernel is the same arithmetic at
    Arrow-batch speed (guide §4.2).  Semantics preserved exactly:
    NULL in → NULL out, zero norm → NULL (the ``when(nrm != 0)``
    rule); mixed-length batches are grouped by length so each group
    vectorizes (a vector always matches its own length — no ragged
    zip_with edge cases here)."""
    import numpy as np

    @pandas_udf("array<double>")
    def unit(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        out: list = [None] * n
        if not n:
            return pd.Series(out, dtype=object)
        lens: dict[int, list[int]] = {}
        vals = arrs.to_numpy()
        for i, v in enumerate(vals):
            if v is not None:
                lens.setdefault(len(v), []).append(i)
        for ln, idxs in lens.items():
            if ln == 0:
                continue                      # |v| = 0 → NULL
            m = np.vstack([vals[i] for i in idxs]).astype(np.float64)
            acc = np.zeros(len(idxs))
            for d in range(ln):               # fold order = oracle
                acc += m[:, d] * m[:, d]
            nrm = np.sqrt(acc)
            u = m / nrm[:, None]
            for r, i in enumerate(idxs):
                if nrm[r] != 0:
                    out[i] = u[r]
        return pd.Series(out, dtype=object)

    return unit


def unit_vectors(emb: DataFrame) -> DataFrame:
    """Normalize once, before any pair join — the pair join then computes
    ONE fold (the dot product) instead of three (dot + two norms).
    Zero vectors normalize to NULL and drop out of similarity joins.
    Runs as an Arrow-batched kernel with the oracle's exact fold order
    (see :func:`_unit_udf`); :func:`unit_vectors_expr` keeps the
    pure-expression reference rendering."""
    return emb.withColumn("unit", _unit_udf()(F.col("embedding")))


def unit_vectors_expr(emb: DataFrame) -> DataFrame:
    """Pure-expression REFERENCE twin of :func:`unit_vectors` (higher-
    order functions only — interpreted, CodegenFallback); kept for the
    bit-equality test that pins the kernel's fold order."""
    nrm = l2_norm(F.col("embedding"))
    unit = F.when(nrm != 0, F.transform(
        F.col("embedding").cast("array<double>"), lambda x: x / nrm))
    return emb.withColumn("unit", unit)


def srp_signature(vec_col: Column, planes: list[list[int]]) -> Column:
    """Bit string signature, e.g. '10110100' for 8 planes (sign >= 0 → '1').

    Feed the RAW vector, not the unit vector: sign(v·h) is scale-invariant,
    and a unit-vector input would drag the norm fold into all |planes| dot
    expressions when CollapseProject inlines it (measured 2× on bucketing).

    Arrow-batched kernel with the oracle's fold order (v·h accumulates
    dimension by dimension, left-to-right, seeded 0.0 — each plane's
    fold is the exact IEEE-754 op sequence of the expression twin
    :func:`srp_signature_expr`, which the pure-HOF rendering evaluated
    INTERPRETED at ~8 64-dim expression-walk folds per row)."""
    import numpy as np

    dim = len(planes[0])
    n_planes = len(planes)
    pl = np.asarray(planes, dtype=np.float64)        # n_planes × dim
    zero_sig = "0" * n_planes

    @pandas_udf("string")
    def sig(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        out: list = [zero_sig] * n
        if not n:
            return pd.Series(out, dtype=object)
        vals = arrs.to_numpy()
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) == dim]
        # any other length reproduces the expression twin exactly: a
        # NULL vector or a zip_with length mismatch nulls the dot, and
        # ``when(NULL >= 0, '1').otherwise('0')`` emits '0' per plane
        if ok:
            m = np.vstack([vals[i] for i in ok]).astype(np.float64)
            acc = np.zeros((len(ok), n_planes))
            for d in range(dim):                     # fold order = oracle
                acc += m[:, d:d + 1] * pl[None, :, d]
            bits = np.where(acc >= 0, "1", "0")
            for r, i in enumerate(ok):
                out[i] = "".join(bits[r])
        return pd.Series(out, dtype=object)

    return sig(vec_col)


def srp_signature_expr(vec_col: Column, planes: list[list[int]]) -> Column:
    """Pure-expression REFERENCE twin of :func:`srp_signature` (kept for
    the bit-equality test that pins the kernel's fold order)."""
    bits = [
        F.when(dot(vec_col, F.array(*[F.lit(s) for s in plane])) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _pair_dot_udf():
    """Arrow-batched exact pair dot product over two unit-vector columns.

    Dimension-by-dimension accumulation = the oracle's left-to-right
    ``list_reduce`` fold, vectorized over the Arrow batch (the
    interpreted ``F.aggregate`` fold measured ~40% slower over |Q|·N
    pair rows at sf0.1) — so raw (unrounded) similarities agree
    bit-for-bit across engines and even rankings on them are stable."""
    import numpy as np

    @pandas_udf("double")
    def pair_dot(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series(dtype="float64")
        Q, C = np.vstack(qv.to_numpy()), np.vstack(cv.to_numpy())
        acc = np.zeros(len(Q))
        for i in range(Q.shape[1]):
            acc += Q[:, i] * C[:, i]
        return pd.Series(acc)

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
    is broadcast; the corpus side moves once.

    The ``repartition()`` is a deliberate materialization barrier: without
    it CollapseProject inlines the normalize expression into the
    nested-loop join and every corpus vector is re-normalized once PER
    QUERY (measured 30× slower at |Q|=20).  One extra corpus shuffle,
    amortized over all queries, beats |Q| norm folds per vector."""
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


def srp_ann_topk(emb: DataFrame, k: int, planes: list[list[int]],
                 max_bucket: int | None = None) -> DataFrame:
    """-> (query_id, neighbor_id, rank, sim): per-vector top-k among the
    vectors sharing its SRP bucket (every vector is a query).  One shuffle
    keyed on the bucket id; exact cosine re-rank inside buckets.  Buckets
    come from the raw vector (sign is scale-invariant); the join exchange
    materializes the unit vectors so the re-rank pays one fold per pair.

    ``max_bucket`` caps the NEIGHBOR side of a hot bucket: only the
    ``max_bucket`` smallest vec_ids serve as candidates there, bounding a
    degenerate bucket (boilerplate corpus → one bucket holds everything)
    at O(n·max_bucket) pairs instead of O(n^2).  Every vector still
    queries — capped buckets lose only candidate DIVERSITY, and the
    dropped candidates are bucket-mates of the kept ones (near-identical
    by construction).  Deterministic, so the SQL oracle mirrors it."""
    # Per-bucket vectorized kernel instead of the exploded pair join +
    # one interpreted 64-dim fold per pair (measured 4.2 s → 3.6 s at
    # sf0.1 for this query, 6.1 s → 3.2 s for ann_recall_eval which runs
    # the index twice; the residual cost is the signature expression +
    # Arrow transfer, not the pairs).  Dots accumulate dimension by
    # dimension — the oracle's left-to-right list_reduce op sequence
    # (same bit-parity technique as _ivf_search) — and the stable
    # argsort on -sim breaks ties by candidate position = ascending
    # vec_id, replicating ``ORDER BY sim DESC, neighbor_id`` bit-for-bit.
    # One shuffle on the bucket.
    import numpy as np

    cap = max_bucket

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [],
                                 "rank": [], "sim": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64",
                 "rank": "int32", "sim": "float64"})
        u = np.vstack(pdf["unit"].to_numpy()).astype(np.float64)  # n × dim
        n_cand = n if cap is None else min(n, cap)
        acc = np.zeros((n, n_cand))
        for i in range(u.shape[1]):                 # fold order = oracle
            acc += u[:, i:i + 1] * u[None, :n_cand, i]
        ids = pdf["vid"].to_numpy()
        # Fully vectorized per-row top-k: stable argsort on -sim breaks
        # ties by candidate POSITION = ascending vec_id (rows are
        # id-sorted), which is exactly ``ORDER BY sim DESC, neighbor``.
        # Self-matches get -inf so they sort last; take k+1 columns to
        # cover the row where self was in the window, then drop it and
        # close the rank gap it left.
        rows = np.arange(n)
        self_mask = rows[:, None] == np.arange(n_cand)[None, :]
        acc_m = np.where(self_mask, -np.inf, acc)
        width = min(k + 1, n_cand)
        order = np.argsort(-acc_m, axis=1, kind="stable")[:, :width]
        sims = np.take_along_axis(acc_m, order, axis=1)
        sp_hit = order == rows[:, None]
        sp = np.where(sp_hit.any(1), sp_hit.argmax(1), width + 1)
        pos = np.arange(width)[None, :]
        rank = pos + 1 - (sp[:, None] < pos)
        keep = (~sp_hit) & (rank <= k) & np.isfinite(sims)
        qi, ci = np.nonzero(keep)
        return pd.DataFrame({
            "query_id": ids[qi],
            "neighbor_id": ids[order[qi, ci]],
            "rank": rank[qi, ci].astype("int32"),
            "sim": sims[qi, ci]})

    units = (
        unit_vectors(emb)
        .filter(F.col("unit").isNotNull())
        .select(F.col("vec_id").alias("vid"), "unit",
                srp_signature(F.col("embedding").cast("array<double>"),
                              planes).alias("bucket"))
    )
    raw = units.groupBy("bucket").applyInPandas(
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

    The paper clusters with k-means; here cells are the fixed ±1 SRP
    signature (scale-invariant, engine-reproducible — the same stand-in
    trade the IVF family documents).  Plan: one shuffle keyed on the cell
    id, then a per-cell vectorized kernel (applyInPandas) that scores
    keeper×member pairs inside cells only — never all-pairs.
    ``max_bucket`` bounds the KEEPER side of a degenerate cell exactly
    like :func:`srp_ann_topk`'s neighbor cap — at O(n·cap) pairs — and
    only ever loses keeper CHOICE, not discard coverage, because any
    vector beyond the cap has a cell-mate below it.
    """
    units = (
        unit_vectors(emb)
        .filter(F.col("unit").isNotNull())
        .select(F.col("vec_id"), "unit",
                srp_signature(F.col("embedding").cast("array<double>"),
                              planes).alias("cell"))
    )
    # Per-cell vectorized kernel instead of an exploded pair join + one
    # interpreted 64-dim fold per pair (measured 1.8× at sf0.1: 5.2 s →
    # 2.9 s; ~78² pairs/cell × 64 cells of interpreted folds dominate the
    # join form).  The pairwise dot accumulates DIMENSION BY DIMENSION —
    # the exact IEEE-754 op sequence of the oracle's left-to-right
    # list_reduce fold (same bit-parity technique as _ivf_search), so
    # the threshold comparison and keep-first choice agree with DuckDB
    # bit-for-bit.  One shuffle, keyed on the cell id.
    import numpy as np

    cap = max_bucket

    def cell_discards(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "cell": [], "keep_id": [],
                                 "sim": []}).astype(
                {"vec_id": "int64", "cell": "string",
                 "keep_id": "int64", "sim": "float64"})
        u = np.vstack(pdf["unit"].to_numpy()).astype(np.float64)  # n × dim
        n_keep = n if cap is None else min(n, cap)
        acc = np.zeros((n_keep, n))
        for i in range(u.shape[1]):                 # fold order = oracle
            acc += u[:n_keep, i:i + 1] * u[None, :, i]
        ids = pdf["vid"].to_numpy()
        out_v, out_k, out_s = [], [], []
        for v in range(1, n):
            uppers = min(v, n_keep)
            hits = np.nonzero(acc[:uppers, v] >= threshold)[0]
            if hits.size:
                k0 = int(hits[0])                   # smallest keeper id
                out_v.append(int(ids[v]))
                out_k.append(int(ids[k0]))
                out_s.append(float(acc[k0, v]))
        return pd.DataFrame({"vec_id": out_v,
                             "cell": pdf["cell"].iloc[0],
                             "keep_id": out_k, "sim": out_s})

    raw = (units.select(F.col("vec_id").alias("vid"), "unit", "cell")
           .groupBy("cell")
           .applyInPandas(cell_discards,
                          "vec_id long, cell string, keep_id long, sim double"))
    return raw.select("vec_id", "cell", "keep_id",
                      F.round("sim", 4).alias("sim"))


def srp_multiprobe_topk(emb: DataFrame, k: int, planes: list[list[int]],
                        max_bucket: int | None = None) -> DataFrame:
    """Multi-probe SRP ANN (Lv et al. 2007, multi-probe LSH): each query
    searches its home bucket PLUS the ``len(planes)`` hamming-1 buckets
    (one sign bit flipped) — the standard recall lever that avoids the
    alternative of more tables/replicas.  -> (query_id, neighbor_id,
    rank, sim), exact cosine rank over the probed candidate union.

    Plan: the probe explosion is a per-row 1→(P+1) map (bit-string
    surgery, no data growth beyond P+1×), then ONE cogrouped shuffle on
    the bucket id — probe rows meet each bucket's (capped) members in a
    vectorized kernel that scores and keeps the per-bucket top-k per
    query (a superset of every global top-k member, since any global
    winner ranks ≤ k inside its own bucket too); the global window then
    ranks only ≤ (P+1)·k rows per query.  Dots accumulate dimension by
    dimension (oracle fold order), ties break on the neighbor id.
    """
    import numpy as np

    num_p = len(planes)
    cap = max_bucket

    units = (
        unit_vectors(emb)
        .filter(F.col("unit").isNotNull())
        .select(F.col("vec_id").alias("vid"), "unit",
                srp_signature(F.col("embedding").cast("array<double>"),
                              planes).alias("bucket"))
    )
    index = units
    if cap is not None:
        wb = Window.partitionBy("bucket").orderBy("vid")
        index = (index.withColumn("_rn", F.row_number().over(wb))
                 .filter(F.col("_rn") <= cap).drop("_rn"))
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
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [],
                              "sim": []}).astype(
            {"query_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        if left.empty or right.empty:
            return empty
        right = right.sort_values("vid").reset_index(drop=True)
        q = np.vstack(left["unit"].to_numpy()).astype(np.float64)
        c = np.vstack(right["unit"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(left), len(right)))
        for i in range(q.shape[1]):                 # fold order = oracle
            acc += q[:, i:i + 1] * c[None, :, i]
        qids = left["vid"].to_numpy()
        cids = right["vid"].to_numpy()
        self_mask = qids[:, None] == cids[None, :]
        acc_m = np.where(self_mask, -np.inf, acc)
        width = min(k + 1, len(right))
        order = np.argsort(-acc_m, axis=1, kind="stable")[:, :width]
        sims = np.take_along_axis(acc_m, order, axis=1)
        # the self hit (-inf) sorts last, so finite entries are a prefix
        # of each sorted row and the first k finite ARE the bucket top-k
        keep = np.isfinite(sims) & (np.arange(width)[None, :] < k)
        qi, ci = np.nonzero(keep)
        return pd.DataFrame({"query_id": qids[qi],
                             "neighbor_id": cids[order[qi, ci]],
                             "sim": sims[qi, ci]})

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
    (the label block stands in for an IVF/LSH bucket at corpus scale).

    Per-block vectorized kernel (same bit-parity shape as the ANN
    re-ranks): pairwise dots accumulate dimension by dimension — the
    oracle's left-to-right fold op sequence — and only the upper
    triangle (vec_a < vec_b) is emitted.  Measured 4.0 s → 2.6 s at
    sf0.1 vs the exploded pair join with one interpreted fold per pair.
    """
    import numpy as np

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "sim": "float64"})
        u = np.vstack(pdf["unit"].to_numpy()).astype(np.float64)
        acc = np.zeros((n, n))
        for i in range(u.shape[1]):                 # fold order = oracle
            acc += u[:, i:i + 1] * u[None, :, i]
        ai, bi = np.nonzero(np.triu(acc >= threshold, k=1))
        ids = pdf["vid"].to_numpy()
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

    The memory-bound scale path: unit vectors quantize to
    ``round(127 * u_i)`` int8 codes (4× smaller than float32, 8× than
    float64), and the in-bucket re-rank is an INTEGER dot product —
    exact, associative, no float summation order anywhere, so the SQL
    oracle matches bit-for-bit trivially.  Ranking uses the raw integer
    score (a monotone ~127²-scaled cosine estimate); ties break on
    neighbor id.  Bucketing reuses the SRP signature on the raw vector;
    the single shuffle keys on the bucket id, identical to
    :func:`srp_ann_topk`.
    """
    units = (
        unit_vectors(emb)
        .filter(F.col("unit").isNotNull())
        .select(
            F.col("vec_id"),
            F.transform("unit",
                        lambda x: F.round(x * 127).cast("int")).alias("q"),
            srp_signature(F.col("embedding").cast("array<double>"),
                          planes).alias("bucket"))
    )
    # Per-bucket vectorized kernel (same shape as srp_ann_topk's): the
    # integer dot is EXACT under any summation order, so here a straight
    # int64 matmul is bit-identical to the oracle's fold with no
    # op-sequence care needed.  Stable argsort on -score breaks ties by
    # candidate position = ascending vec_id.  Wall-clock gain at sf0.1
    # is modest (4.5 s → 4.2 s: the quantize + signature expressions and
    # Arrow transfer dominate, not the pairs), but the kernel removes the
    # exploded |bucket|² pair rows from the exchange — the term that
    # grows quadratically in bucket size at corpus scale.
    import numpy as np

    cap = max_bucket

    def bucket_topk_int(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [],
                                 "rank": [], "qsim": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64",
                 "rank": "int32", "qsim": "int64"})
        q = np.vstack(pdf["q"].to_numpy()).astype(np.int64)   # n × dim
        n_cand = n if cap is None else min(n, cap)
        acc = q @ q[:n_cand].T                                # exact int64
        ids = pdf["vid"].to_numpy()
        rows = np.arange(n)
        self_mask = rows[:, None] == np.arange(n_cand)[None, :]
        # min+1: np.argsort(-x) negates, and -int64.min overflows back
        # to itself (would sort the self-sentinel FIRST instead of last)
        lowest = np.iinfo(np.int64).min + 1
        acc_m = np.where(self_mask, lowest, acc)
        width = min(k + 1, n_cand)
        order = np.argsort(-acc_m, axis=1, kind="stable")[:, :width]
        scores = np.take_along_axis(acc_m, order, axis=1)
        sp_hit = order == rows[:, None]
        sp = np.where(sp_hit.any(1), sp_hit.argmax(1), width + 1)
        pos = np.arange(width)[None, :]
        rank = pos + 1 - (sp[:, None] < pos)
        keep = (~sp_hit) & (rank <= k) & (scores != lowest)
        qi, ci = np.nonzero(keep)
        return pd.DataFrame({
            "query_id": ids[qi],
            "neighbor_id": ids[order[qi, ci]],
            "rank": rank[qi, ci].astype("int32"),
            "qsim": scores[qi, ci]})

    raw = (units.select(F.col("vec_id").alias("vid"), "q", "bucket")
           .groupBy("bucket")
           .applyInPandas(bucket_topk_int,
                          "query_id long, neighbor_id long, "
                          "rank int, qsim long"))
    return raw.select("query_id", "neighbor_id", "rank", "qsim")


def fixed_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic IVF centroids: entry (c,d) = (md5 byte - 128)/64.

    Every value is an exact binary fraction in [-2, 2), so the literal
    renders identically into the Spark plan and the DuckDB oracle — the
    same trick as :func:`srp_planes`.  Gives the IVF *plan shape* (cell
    membership, multi-probe, per-cell re-rank) a full hash-matchable twin
    while the trained KMeans variant keeps its recall test."""
    return [
        [(hashlib.md5(f"cell{c}|{d}".encode()).digest()[0] - 128) / 64.0
         for d in range(dim)]
        for c in range(n_cells)
    ]


def _probe_cells_udf(centers: list[list[float]], n_probe: int):
    """Arrow-batched kernel: the ``n_probe`` nearest cells of each
    vector under score ``|c|^2 - 2·(v·c)``, ties to the smallest cell
    (= the oracle's ``ORDER BY score, cell``; stable argsort over
    ascending cell index).  Accumulates DIMENSION BY DIMENSION — the
    exact IEEE-754 op sequence of the oracle's left-to-right
    ``list_reduce`` fold — so assignments agree with DuckDB
    bit-for-bit.  NB: an all-expression rendering of this scoring
    (16 structs × 64 chained adds + array_sort) measured ~4× SLOWER
    end-to-end at sf0.1 — Catalyst pays dearly analyzing/compiling the
    ~1k-node tree and the per-row struct sort stays interpreted — so
    the batched numpy kernel is the measured fast path, as with
    shingle_array."""
    import numpy as np

    cent = np.asarray(centers, dtype=np.float64)           # n_cells × dim
    n_cells, dim = cent.shape
    sqs = []
    for row in centers:                 # |c|^2, left-to-right Python fold
        acc = 0.0
        for x in row:
            acc += x * x
        sqs.append(acc)
    sq_arr = np.asarray(sqs, dtype=np.float64)

    @pandas_udf("array<int>")
    def probe_cells(arrs: pd.Series) -> pd.Series:
        m = np.vstack(arrs.to_numpy())                     # batch × dim
        acc = np.zeros((m.shape[0], n_cells))
        for i in range(dim):                               # fold order = oracle
            acc += m[:, i:i + 1] * cent[None, :, i]
        scores = sq_arr[None, :] - 2.0 * acc
        # stable sort on ascending cell index = ORDER BY score, cell
        order = np.argsort(scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    return probe_cells


# Query-side salt width for the per-cell re-rank (see _ivf_search):
# a hot IVF cell's work fans out over this many parallel tasks.
IVF_SALT = 8


def _ivf_search(emb: DataFrame, k: int, centers: list[list[float]],
                n_probe: int, query_filter=None) -> DataFrame:
    """Shared IVF search given centroids: assign each vector to its
    ``n_probe`` nearest cells, re-rank exactly within cells, global top-k.

    ``query_filter`` (a callable ``Column -> Column`` applied to the id
    column) restricts the QUERY role to matching rows — the corpus side
    always indexes every vector: an incremental-ingest search ranks only
    the new batch's vectors without paying the |corpus| × n_probe query
    fan-out.  The query entry in the in-row role explode below is simply
    gated on the predicate, so the normalize + probe pipeline still runs
    exactly once per vector.

    Cross-engine determinism: the oracle twin scores cells as
    ``|c|^2 - 2·(v·c)`` (the ``|v|^2`` term is constant per row, so the
    argmin is unchanged) with the dot a left-to-right ``list_reduce``
    fold.  The numpy kernels below accumulate DIMENSION BY DIMENSION —
    the exact same IEEE-754 op sequence as that fold — instead of
    GEMM/pairwise summation, so scores, similarities, and therefore every
    rank tie-break agree with DuckDB bit-for-bit.  ~dim vectorized ops
    per batch, still far cheaper than per-pair interpreted folds.
    """
    import numpy as np

    dim = len(centers[0])

    units = (unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(F.col("vec_id"), "unit",
                     F.col("embedding").cast("array<double>").alias("arr")))
    probe_cells = _probe_cells_udf(centers, n_probe)
    # One row per (vector, probed cell); pos 0 is the vector's HOME cell,
    # so that row doubles as its corpus membership — a single frame and a
    # single shuffle (keyed by cell) carry both the corpus and the query
    # sides, and the normalize + probe UDF upstream runs exactly once.
    member = (
        units.withColumn("cells", probe_cells("arr"))
        .select(F.col("vec_id").alias("vid"), "unit",
                F.posexplode("cells").alias("pos", "cell"))
        .withColumn("is_home", F.col("pos") == 0).drop("pos")
    )

    # Re-rank cell-by-cell with vectorized passes (applyInPandas),
    # instead of exploding |Q_cell| x |C_cell| pair rows and folding a
    # 64-dim dot per row in the interpreter (~500k interpreted folds at
    # sf0.1; measured ~3x slower).  Each bucket emits only its local
    # top-k per query; the global top-k over the n_probe probed cells
    # is then a window over k*n_probe candidate rows per query.
    #
    # SKEW: cell populations follow the data, and a hot cell would put
    # its entire |Q| x |C| re-rank in ONE task (measured: one fixed-
    # centroid cell held half the corpus at sf0.1 — a 2 s single-core
    # task on a 32-core box).  Standard fix, output-identical: salt the
    # QUERY side by vid into IVF_SALT buckets and replicate each cell's
    # (bounded, by construction) corpus block to every bucket, so each
    # bucket re-ranks its query slice against the FULL cell.  Per-query
    # results are unchanged — a query's top-k depends only on (query,
    # cell corpus) — while the hot cell fans out IVF_SALT-wide.  Cost:
    # the shuffle carries the corpus IVF_SALT times instead of once —
    # the classic replicate-the-bounded-side trade, same as a salted
    # broadcast join.
    # Both roles come out of ONE in-row explode (a query entry for every
    # member row + IVF_SALT corpus entries for home rows), so the
    # normalize + probe UDF pipeline still runs exactly once per vector
    # — a union of two branches over the same source would re-run it.
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
        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")})
        qdf = pdf[~pdf["is_corpus"]]
        cdf = pdf[pdf["is_corpus"]].sort_values("vid")  # nid-asc tie order
        if qdf.empty or cdf.empty:
            return empty
        Q = np.vstack(qdf["unit"].to_numpy())
        C = np.vstack(cdf["unit"].to_numpy())
        sims = np.zeros((Q.shape[0], C.shape[0]))
        tmp = np.empty_like(sims)
        for i in range(dim):                     # fold order = oracle
            np.multiply(Q[:, i:i + 1], C[None, :, i], out=tmp)
            sims += tmp
        qids = qdf["vid"].to_numpy()
        nids = cdf["vid"].to_numpy()
        sims[qids[:, None] == nids[None, :]] = -np.inf   # mask self-pairs
        kk = min(k, sims.shape[1])
        # stable argsort of -sims: sim desc, ties in nid-asc (C is sorted)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(qids, kk)
        cols = top.ravel()
        vals = sims[np.repeat(np.arange(len(qids)), kk), cols]
        keep = vals > -np.inf
        return pd.DataFrame({"query_id": rows[keep],
                             "neighbor_id": nids[cols[keep]],
                             "sim": vals[keep]})

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


def ivf_fixed_topk(emb: DataFrame, k: int, centers: list[list[float]],
                   n_probe: int = 2) -> DataFrame:
    """IVF search over FIXED deterministic centroids — the
    oracle-checkable twin of :func:`ivf_topk` (same membership/probe/
    re-rank plan, no iterative fit), hash-matched against a DuckDB twin
    that mirrors the scoring fold exactly."""
    return _ivf_search(emb, k, centers, n_probe)


def ivf_topk(emb: DataFrame) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans cells + multi-probe exact re-rank.

    -> (query_id, neighbor_id, rank, sim): per-vector top-5 among the
    vectors in its 2 nearest cells.

    The real-index counterpart of the SRP buckets: 16 cells come from the
    data's own distribution (Spark ML KMeans, seed 42), so recall
    tracks cluster structure instead of random hyperplanes.  Plan shape
    is identical to srp_ann_topk — corpus shuffles ONCE on cell id,
    queries explode ×2 — so the 100 TB properties carry over; the
    KMeans fit itself samples/aggregates, never collects raw vectors
    beyond k centers.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Train centroids on a bounded, cached sample: KMeans makes maxIter
    # passes over its input, so (a) never hand it the full corpus — at
    # 100 TB centroids come from a few thousand vectors just as well —
    # and (b) cache the sample so each pass is a memory scan, not a
    # parquet re-read (measured 6 s -> 1.3 s at sf0.1).
    #
    # The sample is count-free AND unbiased: ordering by a seeded xxhash64
    # of the id and taking the smallest train_cap compiles to
    # TakeOrderedAndProject — a per-partition size-cap heap + driver merge
    # of cap-sized winners, NOT a global sort shuffle — so every partition
    # contributes and the draw is pseudo-uniform (hash order), unlike the
    # earlier head-biased limit() which sampled only the leading files.
    # Cost: one (id, vector) column scan; the index build scans the corpus
    # for cell assignment anyway, so this does not change its asymptotics.
    train_cap = 4096
    feats = (emb.select(F.col("vec_id").alias("_id"),
                        F.col("embedding").cast("array<double>").alias("arr"))
             .withColumn("_h", F.xxhash64(F.col("_id"), F.lit(42)))
             .orderBy("_h").limit(train_cap)
             .select("arr"))
    feats = (feats.withColumn("features", array_to_vector("arr"))
             .coalesce(4).cache())
    try:
        model = KMeans(k=16, seed=42, maxIter=10,
                       featuresCol="features").fit(feats)
    finally:
        feats.unpersist()
    centers = [[float(x) for x in np.asarray(c)]
               for c in model.clusterCenters()]
    return _ivf_search(emb, 5, centers, 2)


# Fixed-point quantum for Lloyd centroid sums: per-dim contributions
# floor(v[d] * 1e6) summed as BIGINTs — order-independent, so the
# distributed mean is deterministic and a SQL oracle reproduces it.
IVF_TRAIN_Q = 1_000_000

# Lloyd/PQ training samples are bounded by a CAP, not a fraction:
# centroids need a few thousand representatives, never the corpus.  The
# sampling modulus scales with corpus row count (train_sample_mod), so
# the expected sample stays in [TARGET, 2*TARGET) at ANY scale — a fixed
# 1-in-k fraction would grow linearly with the corpus and turn the
# coalesce(4)-packed training scan into a serial bottleneck at 100 TB.
# Membership stays a pure function of
# (id, corpus row count), so the DuckDB oracle replays it exactly via
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
        # nearest-cell assignment: n_probe=1 of the shared scoring
        # kernel (Arrow-batched; see _probe_cells_udf on why this beats
        # the all-expression rendering)
        home = F.element_at(_probe_cells_udf(centers, 1)("arr"), 1)
        # (cell, dim) exploded layout: ONE sum expression over dim x n
        # tiny rows instead of a dim-wide aggregate column list.  The
        # per-(cell,dim) BIGINT sums are identical either way (exact,
        # order-independent), but each round's plan — rebuilt every
        # round because the centroids are literals — goes from a
        # 64-expression agg tree Catalyst must re-analyze/codegen to a
        # 2-expression one (measured ~2x faster per round at sf0.1).
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
       rounds × scan Lloyd re-fit.  At 100 TB a re-fit per ingest
       batch would dominate the pipeline; routing is one pass over
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


def _sq_fold(vals: list[float]) -> float:
    """|c|^2 as a left-to-right Python fold — embedded verbatim as a
    literal in BOTH engines (same convention as the IVF oracle)."""
    acc = 0.0
    for x in vals:
        acc += x * x
    return acc


def _pq_subscore(unit_col: Column, m: int, cent: list[float]) -> Column:
    """|c|^2 - 2*(u_sub . c) for subspace m: the |u_sub|^2 term is
    constant per (row, m), so both the per-subspace argmin (encoding)
    and the summed ADC ranking are unchanged by dropping it.  The dot
    accumulates dimension by dimension, left-to-right, seeded 0.0 — the
    exact IEEE-754 op sequence of the oracle's list_reduce fold."""
    sub_dim = len(cent)
    acc = F.lit(0.0)
    for i, cd in enumerate(cent):
        acc = acc + F.element_at(unit_col, m * sub_dim + i + 1) * F.lit(cd)
    return F.lit(_sq_fold(cent)) - F.lit(2.0) * acc


def _pq_scores_np(codebooks: list[list[list[float]]]):
    """batch×dim -> batch×n_sub×n_codes score kernel with the ORACLE's
    IEEE-754 op sequence: within each subspace the dot accumulates
    dimension by dimension, left-to-right, seeded 0.0 (one vectorized
    add per dim — never GEMM/pairwise summation, whose different
    rounding would flip argmin ties vs DuckDB's list_reduce fold).
    Same bit-parity technique as :func:`_ivf_search`."""
    import numpy as np

    cent = np.asarray(codebooks, dtype=np.float64)  # n_sub×n_codes×sub_dim
    n_sub, n_codes, sub_dim = cent.shape
    sq = np.asarray([[_sq_fold(c) for c in book] for book in codebooks],
                    dtype=np.float64)               # n_sub×n_codes

    def scores(mat):                                # mat: batch×dim float64
        b = mat.shape[0]
        sub = mat.reshape(b, n_sub, sub_dim)
        acc = np.zeros((b, n_sub, n_codes))
        for i in range(sub_dim):                    # fold order = oracle
            acc += sub[:, :, i:i + 1] * cent[None, :, :, i]
        return sq[None, :, :] - 2.0 * acc

    return scores


def pq_encode_udf(codebooks: list[list[list[float]]]):
    """Vectorized twin of :func:`pq_encode` (bit-identical codes): a
    Pandas UDF batching the per-subspace argmin through numpy.  The
    expression version's ~4k-node projection exceeds janino's 64 KB
    method limit at n_sub=8×16 codes, falling out of codegen into
    per-row interpretation (measured 16 s -> 2.5 s at sf0.1 for the full
    ADC scan).  np.argmin returns the FIRST minimum = ties -> smallest
    code = the oracle's ORDER BY score, c."""
    import numpy as np

    scores = _pq_scores_np(codebooks)

    @pandas_udf("array<int>")
    def encode(arrs: pd.Series) -> pd.Series:
        m = np.vstack(arrs.to_numpy()).astype(np.float64)
        codes = np.argmin(scores(m), axis=2).astype("int32")
        return pd.Series(list(codes))

    return encode


def pq_adc_table_udf(codebooks: list[list[list[float]]]):
    """Vectorized twin of :func:`pq_adc_table` (bit-identical tables),
    flattened to entry m*n_codes + c like the expression version."""
    import numpy as np

    scores = _pq_scores_np(codebooks)

    @pandas_udf("array<double>")
    def table(arrs: pd.Series) -> pd.Series:
        m = np.vstack(arrs.to_numpy()).astype(np.float64)
        s = scores(m)
        return pd.Series(list(s.reshape(s.shape[0], -1)))

    return table


def pq_encode(unit_col: Column,
              codebooks: list[list[list[float]]]) -> Column:
    """array<int> of per-subspace nearest-centroid codes (ties -> the
    smallest code, = the oracle's ORDER BY score, c).  array_position
    compares the min against the score list bit-for-bit, so the float
    tie-break is exact.  Pure-expression REFERENCE implementation: at
    production codebook sizes the projection overflows janino's 64 KB
    codegen limit, so the data path uses :func:`pq_encode_udf` (asserted
    bit-identical in tests/test_curation_pq.py)."""
    codes = []
    for m, book in enumerate(codebooks):
        scores = F.array(*[_pq_subscore(unit_col, m, c) for c in book])
        codes.append(
            (F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
    return F.array(*codes)


def pq_adc_table(unit_col: Column,
                 codebooks: list[list[list[float]]]) -> Column:
    """Flattened asymmetric-distance lookup table for a QUERY vector:
    entry m*n_codes + c = |c|^2 - 2*(q_sub . c).  Computed once per
    query, then every corpus code resolves to n_sub array lookups."""
    return F.array(*[_pq_subscore(unit_col, m, c)
                     for m, book in enumerate(codebooks) for c in book])


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

    100 TB shape: encoding is a map-only projection (codes replace the
    raw vectors — this is the memory-reduction path that lets a scan
    hold 100 TB of vectors in ~3 TB of codes); the scan is a broadcast
    nested-loop join where the corpus side streams ONCE and only
    (query, neighbor, adist) rows reach the top-k exchange.  Encode and
    query tables run through one Arrow-batched numpy kernel per task
    (:func:`pq_encode_udf` — the expression twin overflows codegen at
    this codebook size and interprets ~4k nodes/row: 16 s vs 2.5 s at
    sf0.1); the per-pair 8-lookup ADC fold stays a built-in expression
    inside codegen.

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
    first ``trunc_dim`` dimensions — the eval that decides whether a
    100 TB vector corpus can run its first-stage retrieval on prefix
    dims (storage/bandwidth ÷ dim ratio) and re-rank on full vectors.

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
    query over those two constant-size frames — the semdedup_discards
    pattern — instead of k chained DataFrame rounds, whose branched
    lineage re-executed every prior round per step (measured 321
    exchanges vs 8 for this shape at identical results).  At 100 TB
    only the shortlist build touches data.

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

    100 TB shape: the corpus side carries (home cell, codes) only —
    32× smaller than raw vectors — and shuffles once on the cell id;
    the exact re-rank touches raw vectors for just |Q|·m_rerank rows
    via a broadcast shortlist join (the "fetch the shortlist's full
    vectors" I/O pattern of a disk-resident index).  Every stage
    reuses the audited fold kernels, so the whole composition is
    hash-gated against the oracle's CTE unroll."""
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

    Scale shape: one corpus-wide TakeOrdered picks the pool (no global
    sort) and is the ONLY distributed work; the pool^2 pairwise sims
    are computed driver-side from the collected pool x dim unit
    vectors with the SAME per-dimension left-to-right IEEE fold as
    ``_pair_dot_udf`` (acc[i,j] += U[i,d]*U[j,d] in ascending d —
    elementwise numpy doubles, bit-identical per pair; pinned by
    tests/test_r15_batch5.py against the Arrow kernel).  That replaces
    the old pool^2 self-join + Arrow stage + pool^2-row collect with
    one pool-row collect — fewer jobs, and the collect shrinks from
    pool^2 rows to pool x dim doubles.  The sequential traversal is
    inherently tiny: k and pool are selection constants, the corpus
    only feeds the sample."""
    import numpy as np

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
        acc = np.zeros((len(ids), len(ids)))
        for d in range(U.shape[1]):
            acc += U[:, d, None] * U[None, :, d]
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
