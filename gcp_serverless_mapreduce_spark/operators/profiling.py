"""Data-profiling / maintenance operators: mergeable-histogram quantile
estimation, trailing-window anomaly scoring, and incremental aggregate
maintenance (delta merge).

Three patterns a 100 TB deployment leans on daily:

- **Histogram quantiles**: exact percentiles sort every group
  (price_quantiles_by_flag); sketches are engine-specific
  (approx_stats_parts).  A fixed-width counting histogram is the middle
  road — per-group state is a bounded, MERGEABLE (group, bin) count
  grid, and the quantile estimate (linear interpolation inside the
  covering bin) is pure deterministic arithmetic, so a DuckDB oracle
  can gate the estimate bit-for-bit.  This is how monitoring pipelines
  (e.g. Prometheus-style histograms) compute p99 at scale.
- **Trailing z-score anomalies**: per-series rolling mean/stddev over
  the previous k buckets, flag |z| spikes.  One exchange on the series
  key; the window never re-scans history beyond k rows.
- **Incremental view maintenance**: merge a small delta's partial
  aggregate into a base aggregate (full outer join on the group key +
  coalesced combination) instead of re-aggregating the world — the
  lakehouse MERGE pattern.  Correctness contract: merged(base, delta)
  == full recompute, which the oracle twin checks by computing the
  full aggregate directly.

No counterpart in the reference (exact one-shot aggregation only);
extends SURVEY §2.3 / §2.6.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HIST_BIN_WIDTH = 5.0   # events.value spans [0, ~500): 100 live bins
HIST_QS = (0.5, 0.9, 0.99)

ANOM_TRAIL = 24        # trailing buckets per series for mean/stddev
ANOM_Z = 2.0           # |z| at or above this flags an anomaly


def histogram_quantiles(df: DataFrame, group_col: str, value_col: str,
                        bin_width: float = HIST_BIN_WIDTH,
                        qs: tuple[float, ...] = HIST_QS) -> DataFrame:
    """-> (group, q, est): per-group quantile estimates from a
    fixed-width counting histogram.

    Build: one hash-aggregate over (group, bin) — map-side combinable,
    mergeable across partitions/days, state bounded by live bins.
    Estimate: for target mass t = q*n, find the first bin whose running
    count reaches t and interpolate linearly inside it:
    ``bin*w + w*(t - cum_before)/c_bin``.  All arithmetic is exact
    integers into IEEE doubles, so the estimate (and its quantization
    error) reproduces identically in the SQL twin.
    """
    bins = (df.select(F.col(group_col).alias("grp"),
                      F.floor(F.col(value_col) / bin_width).alias("bin"))
            .groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("c")))
    w = (Window.partitionBy("grp").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (bins.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(Window.partitionBy("grp"))))
    targets = F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    probe = cum.select("grp", "bin", "c", "cum", "n", targets)
    t = F.col("q") * F.col("n").cast("double")
    covers = ((F.col("cum").cast("double") >= t)
              & ((F.col("cum") - F.col("c")).cast("double") < t))
    est = (F.col("bin").cast("double") * bin_width
           + bin_width * (t - (F.col("cum") - F.col("c")).cast("double"))
             / F.col("c").cast("double"))
    return (probe.where(covers)
            .select(F.col("grp").alias(group_col), "q",
                    F.round(est, 6).alias("est")))


def trailing_zscore(df: DataFrame, series_col: str, trail: int = ANOM_TRAIL,
                    z_flag: float = ANOM_Z) -> DataFrame:
    """-> input + (mean_t, sd_t, z, is_anomaly) per (series, ``bucket``),
    scoring the count column ``n``.

    mean/stddev over the ``trail`` PRECEDING buckets only (never the
    current one — self-inclusion would dampen the very spike being
    scored).  Rows without a full trailing window emit NULL z (no
    partial-window false positives).  A CONSTANT baseline (sd = 0) has
    no finite z, but any deviation from it is the clearest spike there
    is — flagged with NULL z rather than suppressed.  Sample stddev; z
    rounded to 4 to absorb cross-engine Welford-vs-sum-of-squares ulp
    noise.
    """
    w = (Window.partitionBy(series_col).orderBy("bucket")
         .rowsBetween(-trail, -1))
    full = F.count(F.lit(1)).over(w) == trail
    mean_t = F.avg(F.col("n")).over(w)
    sd_t = F.stddev(F.col("n")).over(w)
    z = F.when(full & (sd_t > 0),
               (F.col("n") - mean_t) / sd_t)
    flat_spike = (full & (sd_t == 0)
                  & (F.col("n").cast("double") != mean_t))
    return (df
            .withColumn("mean_t", F.when(full, F.round(mean_t, 6)))
            .withColumn("sd_t", F.when(full, F.round(sd_t, 6)))
            .withColumn("z", F.round(z, 4))
            .withColumn("is_anomaly",
                        F.coalesce(F.abs(F.col("z")) >= z_flag, F.lit(False))
                        | F.coalesce(flat_spike, F.lit(False))))


def merge_agg_delta(base: DataFrame, delta: DataFrame,
                    key_cols: list[str],
                    sum_cols: list[str]) -> DataFrame:
    """Incremental view maintenance for SUM/COUNT-shaped aggregates:
    full-outer-join base and delta partial aggregates on the group key
    and add coalesced parts.  One join keyed on the group key — the
    delta side is typically tiny (a day against years), so at scale the
    join broadcasts or AQE picks a cheap plan; the base is NEVER
    re-aggregated from raw data.
    """
    d = delta.select(
        *key_cols, *[F.col(c).alias(f"_d_{c}") for c in sum_cols])
    merged = base.join(d, key_cols, "full_outer")
    for c in sum_cols:
        merged = merged.withColumn(
            c, F.coalesce(F.col(c), F.lit(0))
            + F.coalesce(F.col(f"_d_{c}"), F.lit(0)))
    return merged.drop(*[f"_d_{c}" for c in sum_cols])


# ---------------------------------------------------------------------------
# Distributed model training: logistic regression by batch gradient
# descent with EXACT fixed-point gradient aggregation.

GD_ITERS = 5
GD_LR = 0.5
GD_Q = 1_000_000  # gradient quantum: floor(g * 1e6) summed as BIGINTs


def logistic_gd_train(df: DataFrame):
    """-> (iter, w, b): one-feature logistic regression of label ``y`` on
    feature ``x``, trained by
    ``GD_ITERS`` synchronous batch-GD steps — the distributed training loop
    in its simplest exact form.

    Each step is ONE aggregate over the data (map-side partial sums)
    plus a one-row driver collect that steers the next step's literal
    weights — scalar steering like KMeans/BPE-learn, never a data
    collect.  The crux for a correctness-gated distributed trainer:
    per-row gradient contributions are floats, and a naive SUM(double)
    depends on partition order.  Contributions are therefore QUANTIZED
    to fixed-point BIGINTs (floor(g * {GD_Q})) and summed exactly; the
    weight update runs in one deterministic double expression from the
    exact integer sums.  (Quantization makes the sum order-independent
    WITHIN an engine unconditionally; cross-engine agreement holds
    whenever err*x*1e6 doesn't land exactly on an integer — floor() is
    discontinuous there, so a last-ulp exp() difference at such a
    boundary could flip one row's quantized gradient by 1.  No fixture
    row sits on a boundary, and the 1e-6 resolution is far below GD's
    own precision.)  The oracle unrolls every step as CTEs with
    identical arithmetic, so the trained weights match bit-for-bit.
    """
    base = df.select(F.col("x").cast("double").alias("x"),
                     F.col("y").cast("double").alias("y"))
    base = base.localCheckpoint()  # scanned once per step, not per plan
    w, b = 0.0, 0.0
    out = []
    for it in range(1, GD_ITERS + 1):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(w) * F.col("x")
                                               + F.lit(b))))
        err = p - F.col("y")
        row = base.agg(
            F.sum(F.floor(err * F.col("x") * GD_Q).cast("long")).alias("gw"),
            F.sum(F.floor(err * GD_Q).cast("long")).alias("gb"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        n = row["n"]
        w = w - GD_LR * (float(row["gw"]) / (GD_Q * float(n)))
        b = b - GD_LR * (float(row["gb"]) / (GD_Q * float(n)))
        out.append((it, round(w, 9), round(b, 9)))
    return df.sparkSession.createDataFrame(
        out, "iter long, w double, b double")


# ---------------------------------------------------------------------------
# Distributed linear algebra: exact Gram matrix + integer power iteration
# for the top principal component.

PI_EMB_Q = 1_000_000   # embedding quantum: floor(x * 1e6) as BIGINT
PI_SCALE = 1 << 20     # iterate components renormalized to [-2^20, 2^20]
PI_ROUNDS = 4


def gram_matrix(emb: DataFrame, dim: int) -> DataFrame:
    """-> (i, j, g): the exact dim x dim Gram matrix sum_v q[i]*q[j]
    over fixed-point quantized ``embedding`` vectors
    q = floor(x * PI_EMB_Q).

    The distributed shape is the one that matters at 100 TB: each row
    expands IN-ROW (nested transform, whole-stage codegen, no join) to
    its dim^2 outer-product cells, and the single exchange aggregates
    over the FIXED dim^2 cell grid — shuffle width is dim^2, independent
    of row count, the same bounded-grid property as the Count-Min build
    (sketches.py).  Quantizing each coordinate BEFORE any sum makes the
    BIGINT cell sums order-independent and therefore bit-reproducible by
    the DuckDB oracle (the logistic_gd_train technique, one level up:
    matrices instead of scalars).  With |x| < 1 and PI_EMB_Q = 1e6 a
    cell sum stays < 1e12 per million rows — int64-safe far beyond the
    fixture; at true 100 TB scale you shrink the quantum or widen to
    DECIMAL(38,0).
    """
    # Per-PARTITION partial Gram matrices via mapInPandas instead of the
    # previous per-ROW explode of dim^2 interpreted struct builds (nested
    # higher-order transforms are CodegenFallback: N rows × 4096
    # expression-walked cells — measured ~4.5 s of the pc1 queries' wall
    # at sf0.1; the kernel is ~0.1 s).  Arithmetic is UNCHANGED and
    # exact: quantize q = floor(x * Q) in float64 (same IEEE op as the
    # expression), accumulate integer outer products in int64 per
    # partition, then the same (i, j) grid aggregate sums the partials —
    # integer addition is associative/commutative, so the cell totals
    # are bit-identical to the per-row explode under any partitioning.
    # The exchange now carries dim^2 rows per PARTITION instead of
    # dim^2 per row — at 100 TB that is the difference between a
    # corpus-sized shuffle and a fixed-grid one.
    import numpy as np

    def gram_partials(pdfs):
        G = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            q = np.floor(m * float(PI_EMB_Q)).astype(np.int64)
            G += q.T @ q          # exact int64; |q|<=1e6 → safe per batch
            seen = True
        if seen:
            ii, jj = np.indices((dim, dim))
            yield pd.DataFrame({"i": ii.ravel().astype("int32"),
                                "j": jj.ravel().astype("int32"),
                                "g": G.ravel()})

    return (emb
            .where(F.size(F.col("embedding")) == dim)
            .select(F.col("embedding").cast("array<double>").alias("_v"))
            .mapInPandas(gram_partials, "i int, j int, g long")
            .groupBy("i", "j")
            .agg(F.sum("g").alias("g")))


def power_iteration_pc1(emb: DataFrame, dim: int,
                        rounds: int = PI_ROUNDS) -> DataFrame:
    """-> (round, i, v): the power-iteration trajectory toward the top
    principal direction of the (uncentered) Gram matrix, in EXACT
    integer arithmetic.

    One distributed job builds the Gram matrix (see gram_matrix); the
    iteration itself runs on the driver over the collected dim^2 cells —
    a SKETCH-sized collect (dim^2 BIGINTs, bounded by the embedding
    width, never by data volume), the same scalar-steering budget as the
    GD gradient and BPE argmax collects.  Each round computes
    w = G @ v in unbounded Python ints, then renormalizes to
    v' = floor(w * PI_SCALE / max|w|) — floor division by a positive
    integer, which DuckDB reproduces exactly via the pmod identity
    (a - ((a % m) + m) % m) // m, so the whole trajectory (round 0's
    all-ones start through round ``rounds``) hashes bit-for-bit against
    a HUGEINT oracle.  No float enters the loop: sign flips, ties, and
    convergence speed are all deterministic and engine-independent.

    Emitting every round (not just the fixed point) gates the iteration
    DYNAMICS — a transposed matrix or swapped normalization shows up in
    round 1, not as a mysteriously-rotated final vector.
    """
    traj = pc1_trajectory(emb, dim, rounds)
    out = [(rnd, i, v[i])
           for rnd, v in enumerate(traj) for i in range(dim)]
    return emb.sparkSession.createDataFrame(
        out, "rnd long, i long, v long")


def pc1_trajectory(emb: DataFrame, dim: int,
                   rounds: int = PI_ROUNDS) -> list[list[int]]:
    """The integer power-iteration trajectory [v_0, ..., v_rounds]
    behind power_iteration_pc1 (see its docstring for the exactness
    argument); exposed so downstream operators can reuse the converged
    vector as plan literals."""
    cells = gram_matrix(emb, dim).collect()
    G: dict[tuple[int, int], int] = {(r["i"], r["j"]): r["g"]
                                     for r in cells}
    v = [PI_SCALE] * dim
    traj = [list(v)]
    for _rnd in range(1, rounds + 1):
        w = [sum(G.get((i, j), 0) * v[j] for j in range(dim))
             for i in range(dim)]
        mx = max(abs(x) for x in w)
        if mx == 0:       # zero matrix: stay at the zero vector
            v = [0] * dim
        else:
            v = [(x * PI_SCALE) // mx for x in w]  # Python // == floor
        traj.append(list(v))
    return traj


# PC1-projection histogram: fixture projections span ~±1.5e12, so a
# fixed 2^37 bucket width yields ~20 buckets with no data-dependent
# range scan (the width is a declared contract, like histogram bins).
PC1_BUCKET_WIDTH = 1 << 37


def pc1_projection_hist(emb: DataFrame, dim: int,
                        rounds: int = PI_ROUNDS,
                        width: int = PC1_BUCKET_WIDTH) -> DataFrame:
    """-> (bucket, n_vecs, n_labels, min_proj, max_proj): the ``embedding``
    corpus
    histogrammed along its top principal direction — the semantic-
    bucketing step (SemDeDup-style pipelines project onto leading
    components before bucketed near-dup search, and skew along PC1 is
    the first thing a whitening pass looks at).

    The converged pc1 vector rides the plan as a LITERAL array<long>
    (dim BIGINTs, the Bloom-bitmap trick), so the projection
    proj = sum_i q[i] * v[i] is an IN-ROW zip_with/aggregate fold in
    whole-stage codegen — the only exchange is the final aggregate over
    the fixed bucket grid.  Both the quantized coordinates and v are
    exact integers, so proj is exact and the floor-of-division
    bucketing reproduces in the oracle bit-for-bit."""
    v = pc1_trajectory(emb, dim, rounds)[-1]
    # Exact integer projection sum_i floor(x_i * Q) * v_i as an Arrow-
    # batched kernel (int64 — same width and therefore same overflow
    # contract as the previous interpreted zip_with/aggregate fold;
    # integer addition is order-independent, so the batched dot is
    # bit-identical).
    import numpy as np

    varr = np.asarray(v, dtype=np.int64)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def proj_udf(arrs: pd.Series) -> pd.Series:
        if not len(arrs):
            return pd.Series(dtype="int64")
        m = np.vstack(arrs.to_numpy()).astype(np.float64)
        q = np.floor(m * float(PI_EMB_Q)).astype(np.int64)
        return pd.Series(q @ varr)

    proj = proj_udf(F.col("embedding").cast("array<double>"))
    # floor division on a possibly-negative BIGINT: pmod identity
    bucket = ((F.col("_proj")
               - F.pmod(F.col("_proj"), F.lit(width))) / width) \
        .cast("long")
    return (emb
            .where(F.size(F.col("embedding")) == dim)
            .withColumn("_proj", proj)
            .withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.countDistinct(F.col("label")).alias("n_labels"),
                 F.min("_proj").alias("min_proj"),
                 F.max("_proj").alias("max_proj")))
