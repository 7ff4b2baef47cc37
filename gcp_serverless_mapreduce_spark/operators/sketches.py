"""Mergeable-sketch operators: Count-Min heavy hitters and KMV
(k-minimum-values) distinct-count estimation.

Both sketches are the standard answer to "I need a frequency / distinct
profile of a 100 TB stream without shuffling its full key cardinality":

- **Count-Min** (Cormode & Muthukrishnan 2005): d hash rows x w counter
  columns.  The distributed build is one map-side explode + ONE exchange
  whose key space is the FIXED d*w cell grid — at 100 TB the shuffle
  volume is bounded by d*w*partitions counters, not by the number of
  distinct keys.  Point estimates are min over the d cells, which
  upper-bounds the true count (one-sided error <= eps*N with
  w = ceil(e/eps), probability 1 - delta with d = ceil(ln 1/delta)).
- **KMV** (Bar-Yossef et al. 2002; the theta-sketch core): keep the k
  smallest values of a uniform hash of the key; the k-th smallest value
  v_k (as a fraction of the hash space) estimates the distinct count as
  (k-1)/v_k.  Mergeable by unioning candidate sets and re-truncating to
  k — the per-group state is bounded by k regardless of data volume.

Cross-engine determinism (the suite's md5 convention, operators/dedup.py):
every hash is a prefix of md5 hex parsed as an integer — Spark
``conv(substr(md5(x),1,n), 16, 10)`` == DuckDB
``CAST('0x' || substr(md5(x),1,n) AS BIGINT)`` — so the DuckDB oracle
reproduces the sketches bit-for-bit, including the estimation error.

No counterpart in the reference (its aggregation surface is exact
count/set-union, mapphase/map.go + reducephase/reduce.go); these extend
§2.3 with the bounded-state aggregates a telemetry / corpus-profiling
deployment needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Count-Min geometry: 4 rows x 512 columns.  At the fixture vocabulary
# (~31 words) collisions are rare, so estimates mostly equal exact counts
# — the oracle still gates the exact cell arithmetic, collisions and all.
CMS_DEPTH = 4
CMS_WIDTH = 512

# KMV: keep the 64 smallest hashes per group; 48-bit hash space.
KMV_K = 64
KMV_HEX_DIGITS = 12  # 48 bits: exact in double (2^48 < 2^53) and BIGINT
KMV_SPACE = float(16 ** KMV_HEX_DIGITS)
# (k-1) * hash-space, pre-folded to ONE python double so both engines
# divide the identical numerator (the product 63 * 2^48 > 2^53 would
# otherwise round inside each engine).
KMV_NUMER = float(KMV_K - 1) * KMV_SPACE


def h_cell(key: Column, seed: int) -> Column:
    """Row-``seed`` Count-Min cell of ``key``: md5-prefix hash mod
    CMS_WIDTH."""
    hx = F.substring(F.md5(F.concat(F.lit(f"{seed}|"), key)), 1, 8)
    return (F.conv(hx, 16, 10).cast("long") % CMS_WIDTH).alias(f"c{seed}")


def cms_build(keyed: DataFrame) -> DataFrame:
    """Build the sketch: -> (row, cell, cnt), at most DEPTH*WIDTH rows.

    One projection computes all d cells per input row, a posexplode turns
    them into (row, cell) pairs, and a single hash-aggregate (partial
    map-side combine into at most d*w cells per task, then one exchange
    over the fixed grid) produces the counters.  This is the property
    that matters at 100 TB: shuffle width is d*w, independent of key
    cardinality.
    """
    cells = F.array(*[h_cell(F.col("key"), r) for r in range(CMS_DEPTH)])
    return (keyed
            .select(F.posexplode(cells).alias("row", "cell"))
            .groupBy("row", "cell")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(candidates: DataFrame, sketch: DataFrame) -> DataFrame:
    """Point-estimate each candidate key: min over its d cells.

    The sketch is at most d*w rows -> broadcast; candidates stream
    through it without shuffling.  Missing cells (never incremented)
    read as 0.
    """
    probes = candidates.select(
        "key",
        F.posexplode(F.array(*[
            h_cell(F.col("key"), r) for r in range(CMS_DEPTH)
        ])).alias("row", "cell"))
    return (probes
            .join(F.broadcast(sketch), ["row", "cell"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("cms_est")))


# Bloom filter: m bits x k hashes.  m = 2^16 keeps the whole filter at
# 8 KiB (1024 longs) — broadcast-trivial — while holding the false-
# positive rate near (1 - e^{-kn/m})^k for the fixture's eval n-gram
# cardinality.  At 100 TB you size m to the eval set once; the filter
# stays O(m) regardless of corpus volume.
BLOOM_M = 65536
BLOOM_K = 4
BLOOM_WORDS = BLOOM_M // 64


def bloom_pos(key: Column, seed: int) -> Column:
    """Bit position ``seed`` of ``key``: md5-prefix hash mod BLOOM_M.

    Same md5-prefix convention as h_cell/kmv_hash so the DuckDB oracle
    reproduces every set bit — and therefore every false positive."""
    hx = F.substring(F.md5(F.concat(F.lit(f"{seed}|"), key)), 1, 8)
    return (F.conv(hx, 16, 10).cast("long") % BLOOM_M)


def bloom_build(keys: DataFrame, key_col: str = "key") -> DataFrame:
    """-> one ``pos`` column: the DISTINCT set-bit positions.

    One projection computes all k positions per key, an explode +
    distinct (hash-aggregate with map-side partial dedup) bounds the
    output at min(m, k*|keys|) rows — the shuffle is over the FIXED
    m-slot space, never the key cardinality."""
    return (keys
            .select(F.explode(F.array(*[
                bloom_pos(F.col(key_col), s) for s in range(BLOOM_K)
            ])).alias("pos"))
            .distinct())


def bloom_bitmap(bits: DataFrame) -> list[int]:
    """Collect the set-bit positions into a BLOOM_WORDS-long bitmap.

    This is a SKETCH collect, not a data collect: at most BLOOM_M rows
    of ints regardless of input volume (the same bounded-state rationale
    as the BPE argmax / GD gradient collects).  Folding the filter into
    driver literals is what lets the probe side run as a pure map-side
    projection — zero joins, zero shuffles — exactly how engine-native
    bloom-join pushdown works."""
    words = [0] * BLOOM_WORDS
    for row in bits.collect():
        p = row["pos"]
        words[p // 64] |= 1 << (p % 64)
    # fold to signed 64-bit so the values round-trip through LongType
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_hit_expr(key: Column, bitmap: list[int]) -> Column:
    """Boolean column: all BLOOM_K positions of ``key`` set in ``bitmap``.

    The bitmap rides the plan as a literal array<long> (8 KiB), so the
    membership test is whole-stage-codegen'd bit arithmetic on the scan
    side — the shape you want when 100 TB of corpus probes a fixed
    filter."""
    # A TRUE array literal, not CreateArray(1024 literal children): a
    # CreateArray re-materializes the 1024-slot array on EVERY
    # evaluation (ruinous inside a higher-order-function lambda, where
    # each array element re-evaluates the predicate) and its codegen
    # emits per-element stores that bloat the generated method; a
    # Literal is a single stored ArrayData reference either way.
    # Built via ONE parsed SQL string (r15): ``F.lit(list)`` expands
    # Python-side into 1024 individual ``lit`` py4j calls (~0.6 s of
    # socket round-trips PER QUERY BUILD, profiled); the parser builds
    # the same bigint CreateArray JVM-side in one call and constant
    # folding collapses it to the same runtime literal either way.
    lit_map = F.expr(
        "array(" + ",".join(f"{w}L" for w in bitmap) + ")")
    checks = []
    for s in range(BLOOM_K):
        p = bloom_pos(key, s)
        word = F.element_at(lit_map, (p / 64).cast("int") + 1)
        # shiftright via call_function: the Python wrapper only takes a
        # literal shift, but the SQL builtin accepts a column
        bit = F.call_function("shiftright", word, (p % 64).cast("int"))
        checks.append(bit.bitwiseAND(F.lit(1)) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


# HyperLogLog (Flajolet et al. 2007): m = 2^p registers; register j
# keeps the max over its keys of rho = 1 + leading-zero count of the
# scored hash bits.  The per-group state is a FIXED m small integers —
# 1 KiB at p=10 — mergeable by elementwise max, which is why HLL is the
# engine-native answer (approx_count_distinct) to distinct-counting
# 100 TB: partial states combine losslessly with no global distinct.
# This build is the deterministic md5 twin so the DuckDB oracle
# reproduces every register, and therefore the exact estimation error.
HLL_P = 10
HLL_M = 1 << HLL_P
HLL_REST_BITS = 48 - HLL_P  # low 38 bits of the 48-bit hash are scored
HLL_REST_MOD = 1 << HLL_REST_BITS
HLL_MAX_RHO = HLL_REST_BITS + 1  # all-zero scored bits
# alpha_m * m^2 pre-folded to ONE python double (same rationale as
# KMV_NUMER): both engines divide the identical numerator.
HLL_NUMER = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M


def hll_rho(rest: Column) -> Column:
    """rho of the scored bits: leading zeros (within HLL_REST_BITS) + 1.

    Computed as ``HLL_MAX_RHO - bit_length(rest)`` with the bit length
    read off the base-2 string rendering — exact integer arithmetic on
    both engines (DuckDB twin: ``length(bin(rest))``), deliberately NOT
    ``floor(log2())``, whose libm rounding near integer boundaries is
    engine-dependent."""
    blen = F.length(F.conv(rest.cast("string"), 10, 2))
    return (F.when(rest == 0, F.lit(HLL_MAX_RHO))
            .otherwise(F.lit(HLL_MAX_RHO) - blen))


def hll_project(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """-> (grp, idx, rho): the per-row HLL register contribution — the
    map-side projection shared by the batch build (:func:`hll_state`)
    and the streaming build (a streaming groupBy-max over the same
    columns, suite/streaming_q.py:stream_hll_distinct_users)."""
    h = kmv_hash(F.col(key_col))
    return df.select(
        F.col(group_col).alias("grp"),
        F.shiftright(h, HLL_REST_BITS).alias("idx"),
        hll_rho(h % HLL_REST_MOD).alias("rho"))


def hll_state(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """-> (grp, idx, r): the HLL register state per group.

    One projection computes (register index, rho) per row; a single
    hash-aggregate (map-side partial max into at most m cells per task,
    then one exchange over the fixed group x m grid) produces the
    registers.  Shuffle width is bounded by m per group — never by key
    cardinality — the same fixed-grid property as cms_build."""
    return (hll_project(df, group_col, key_col)
            .groupBy("grp", "idx")
            .agg(F.max("rho").alias("r")))


def hll_merge_states(*states: DataFrame) -> DataFrame:
    """Union register states and re-max per (grp, idx) — the merge half
    of the sketch contract.  max is associative/commutative/idempotent,
    so merged partial states are EXACTLY the single-pass state (gated by
    hll_merge_equivalence)."""
    out = states[0]
    for st in states[1:]:
        out = out.unionByName(st)
    return out.groupBy("grp", "idx").agg(F.max("r").alias("r"))


def hll_estimate(state: DataFrame, group_col: str) -> DataFrame:
    """-> (group, hll_est, registers_used): the raw HLL estimate
    alpha_m * m^2 / sum_j 2^-M_j, with absent registers contributing
    2^0 = 1.

    Cross-engine exactness: every term 1/2^r is an exact power of two
    with exponent in [-39, 0], so every partial sum is exact in double
    (exponent span + count headroom < 53 bits) and the sum is
    order-independent — the one division then rounds identically on
    both engines.  (The small-range linear-counting correction needs
    ln(), whose libm rounding is engine-dependent; registers_used is
    emitted so a consumer can apply it driver-side.)"""
    inv = F.lit(1.0) / F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("r").cast("int")
    ).cast("double")
    return (state
            .groupBy("grp")
            .agg(F.sum(inv).alias("s_present"),
                 F.count(F.lit(1)).alias("m_used"))
            .select(
                F.col("grp").alias(group_col),
                (F.lit(HLL_NUMER)
                 / (F.col("s_present")
                    + (F.lit(HLL_M) - F.col("m_used")).cast("double")))
                .alias("hll_est"),
                F.col("m_used").cast("long").alias("registers_used")))


def kmv_hash(key: Column) -> Column:
    """48-bit uniform hash of ``key`` (md5-prefix), as a bigint."""
    return F.conv(F.substring(F.md5(key), 1, KMV_HEX_DIGITS), 16, 10) \
            .cast("long")


def kmv_state(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """-> (grp, h): the KMV sketch STATE — the k smallest distinct
    48-bit hashes per group.  This is the mergeable representation:
    union two states, re-truncate to k, and you have exactly the state
    a single pass over both inputs would have produced (the k smallest
    of a union of per-part k-smallest sets ARE the k smallest of the
    whole — each discarded hash was beaten by k smaller ones in its own
    part)."""
    hashed = df.select(F.col(group_col).alias("grp"),
                       kmv_hash(F.col(key_col)).alias("h")).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return (hashed.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= KMV_K)
            .select("grp", "h"))


def kmv_merge_states(*states: DataFrame) -> DataFrame:
    """Union sketch states and re-truncate to k per group — the merge
    half of the sketch contract.  Input per state is at most k rows per
    group, so the union + re-rank touches k * n_states rows per group
    regardless of data volume."""
    out = states[0]
    for st in states[1:]:
        out = out.unionByName(st)
    w = Window.partitionBy("grp").orderBy("h")
    return (out.distinct()
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= KMV_K)
            .select("grp", "h"))


def kmv_estimate(state: DataFrame, group_col: str) -> DataFrame:
    """Estimate (k-1)/frac_k from a sketch state (exact count when the
    group holds fewer than k hashes)."""
    return (state
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_hashes"),
                 F.max("h").alias("h_k"))
            .select(
                F.col("grp").alias(group_col),
                F.when(F.col("n_hashes") < KMV_K,
                       F.col("n_hashes").cast("double"))
                 .otherwise(F.lit(KMV_NUMER)
                            / F.col("h_k").cast("double"))
                 .alias("kmv_est"),
                F.col("n_hashes").cast("long").alias("n_hashes")))


def kmv_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group KMV distinct estimate -> (group, kmv_est, n_hashes).

    Duplicate keys hash identically, so the distinct-hash step is a
    hash-aggregate with map-side partial dedup (per-task state bounded
    by the group's distinct count, and a production build would truncate
    to k *inside* the partial aggregate — the bounded-state property the
    sketch exists for).  The rank-k selection is a per-group window over
    at most the distinct hashes; the estimate is (k-1)/frac_k when the
    group has >= k distinct hashes, else the exact distinct count.
    """
    return kmv_estimate(kmv_state(df, group_col, key_col), group_col)
