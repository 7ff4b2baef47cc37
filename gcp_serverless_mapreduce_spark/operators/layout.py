"""Data-layout operators: multi-dimensional clustering keys for scan
pruning at scale.

At 100 TB the dominant cost of most queries is the scan, and the scan's
cost is decided by LAYOUT: parquet row-group min/max statistics only
prune when rows with similar key values are physically adjacent.  A sort
on one column clusters that column perfectly and scatters every other;
a Z-order (Morton) key interleaves the bits of several columns so that
writing sorted-by-zkey clusters ALL of them approximately — each file /
row group then covers a narrow value range in every interleaved
dimension, and predicates on ANY of them prune files.  This is the
clustering scheme behind Delta/Iceberg ``ZORDER BY``; here it is a plain
column expression (pure integer bit arithmetic, whole-stage codegen, no
shuffle) so any writer can ``repartitionByRange(zkey).sortWithinPartitions``
into clustered files.

No counterpart in the reference (its only layout decision is the static
FNV-partitioned output of shuffle.go:84-91); this is the lakehouse
generalization of that idea.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16 bits per dimension -> 32-bit z-key: enough for file-level clustering
# (the key orders FILES, not rows — 2^32 distinct keys is far beyond the
# file count of any table) while keeping the expression a short, exact
# integer fold on both engines.
ZBITS = 16


def zorder_key(x: Column, y: Column) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns.

    Bit i of ``x`` lands at position 2i, bit i of ``y`` at 2i+1.  The
    fold is unrolled at plan-build time into one flat sum of 2*bits
    shift/mask terms (shift amounts are plan constants), so the whole
    key is a single whole-stage-codegen integer expression; no UDF, no
    shuffle.  Inputs are masked to ``ZBITS`` bits so oversized values
    wrap instead of colliding the interleave positions.
    """
    mask = (1 << ZBITS) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    key = F.lit(0).cast("long")
    for i in range(ZBITS):
        key = (key
               + F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
               + F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)),
                             2 * i + 1))
    return key.cast("long")


def zorder_key_sql(y: str) -> str:
    """The DuckDB twin of :func:`zorder_key` (same fold, same masking)
    with ``o_custkey`` as x — kept next to the Spark expression so the
    two cannot drift apart."""
    mask = (1 << ZBITS) - 1
    return (
        f"list_sum(list_transform(generate_series(0, {ZBITS - 1}), i -> "
        f"((((o_custkey & {mask}) >> i) & 1) << (2 * i)) "
        f"+ (((({y} & {mask}) >> i) & 1) << (2 * i + 1))))"
    )


def hilbert_key(x: Column, y: Column) -> Column:
    """Hilbert-curve index of two non-negative integer columns — the
    strictly-better-locality sibling of :func:`zorder_key`: consecutive
    Hilbert indices are always ADJACENT cells (the Z-curve jumps at
    quadrant seams), so hilbert-sorted files have tighter per-file
    min/max boxes and prune more (the layout behind Delta's
    ``OPTIMIZE ... HILBERT`` ordering).

    Classic per-level fold (rx/ry quadrant bits, reflect+swap rotation,
    Wikipedia xy2d with n-1 reflection), inputs masked to ``ZBITS``
    bits like the z-key, run as a vectorized numpy int64 kernel: the
    ``F.aggregate`` form of the same fold is a CodegenFallback
    (interpreted expression walks per row — measured 2.3 s single-task
    over the sf0.1 orders scan).  The fold is PURE INTEGER arithmetic
    (shifts, masks, xor, two's-complement &) — numpy int64 and JVM long
    agree exactly on every op, so the kernel is bit-identical to that
    expression, which tests/test_r15_batch3.py keeps as its reference
    on adversarial inputs (negative, oversized, NULL).

    The DuckDB twin (:func:`hilbert_ctes_sql`) unrolls the SAME fold as
    one CTE per level: DuckDB 1.0.0's ``list_reduce`` returns wrong
    intermediates for multi-field struct accumulators from the second
    iteration on, so the lambda form cannot be the oracle."""
    from pyspark.sql.functions import pandas_udf

    mask = (1 << ZBITS) - 1

    @pandas_udf("long")
    def hkey(xs: pd.Series, ys: pd.Series) -> pd.Series:
        # Twin NULL semantics, reproduced exactly: a NULL quadrant test
        # (`(null & s) > 0`) is not TRUE, so `when` falls through to the
        # otherwise branch (rx/ry read as 0) and `d` — seeded 0 and only
        # ever incremented by non-null terms — is NEVER null; the x/y
        # state, by contrast, carries nulls through the rotation's
        # selected branch.  Values ride alongside explicit null masks.
        xn = xs.isna().to_numpy()
        yn = ys.isna().to_numpy()
        hx = xs.fillna(0).to_numpy(dtype=np.int64) & mask
        hy = ys.fillna(0).to_numpy(dtype=np.int64) & mask
        d = np.zeros(len(hx), dtype=np.int64)
        for i in range(ZBITS - 1, -1, -1):
            s = np.int64(1 << i)
            rx_true = ~xn & ((hx & s) > 0)
            ry_true = ~yn & ((hy & s) > 0)
            d += (s * s) * ((3 * rx_true.astype(np.int64))
                            ^ ry_true.astype(np.int64))
            # reflect+swap rotation: identical branch order to the twin
            nx = np.where(ry_true, hx, np.where(rx_true, mask - hy, hy))
            ny = np.where(ry_true, hy, np.where(rx_true, mask - hx, hx))
            nxn = np.where(ry_true, xn, yn)
            nyn = np.where(ry_true, yn, xn)
            hx, hy, xn, yn = nx, ny, nxn, nyn
        return pd.Series(d)

    return hkey(x.cast("long"), y.cast("long"))


def hilbert_ctes_sql() -> tuple[str, str]:
    """DuckDB twin of :func:`hilbert_key` over x = ``o_custkey``,
    y = ``day_no`` of the CTE ``base``, as (cte_block, final_cte_name):
    one CTE per level carrying (d, hx, hy) next to the base columns —
    same fold, same n-1 reflection, BIGINT throughout (``s*s`` at the
    top level overflows INT32).  Kept beside the Spark expression so the
    two cannot drift apart (the zorder_key_sql convention)."""
    mask = (1 << ZBITS) - 1
    steps = [f"h0 AS (SELECT *, CAST(0 AS BIGINT) AS d, "
             f"CAST(o_custkey & {mask} AS BIGINT) AS hx, "
             f"CAST(day_no & {mask} AS BIGINT) AS hy FROM base)"]
    for idx, i in enumerate(range(ZBITS - 1, -1, -1), start=1):
        s = 1 << i
        steps.append(
            f"h{idx} AS (SELECT * EXCLUDE (d, hx, hy),\n"
            f"  d + CAST({s * s} AS BIGINT)\n"
            f"      * xor(3 * (CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END),\n"
            f"            CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
            f" AS d,\n"
            f"  CASE WHEN (hy & {s}) > 0 THEN hx\n"
            f"       WHEN (hx & {s}) > 0 THEN {mask} - hy ELSE hy END"
            f" AS hx,\n"
            f"  CASE WHEN (hy & {s}) > 0 THEN hy\n"
            f"       WHEN (hx & {s}) > 0 THEN {mask} - hx ELSE hx END"
            f" AS hy\n"
            f"  FROM h{idx - 1})")
    return ",\n".join(steps), f"h{ZBITS}"


def compaction_bins(files: DataFrame, target: int) -> DataFrame:
    """Next-fit bin assignment for small-file compaction, the
    arithmetic of the planning query (suite/layout_q.
    file_compaction_plan); tests/test_compaction_exec.py executes the
    plan with it and checks one output file per bin.

    Within each partition directory (``source``), sub-target entries
    ordered by (size desc, id) get ``bin_id = (exclusive-prefix-sum of
    size) div target`` — integer division on the long prefix sum, so
    the fold is exact at any cumulative byte count.
    Entries >= target are NOT returned: they are already
    scan-efficient and pass through compaction untouched.

    -> input columns + ``bin_id`` (long)."""
    from pyspark.sql import Window

    w = (Window.partitionBy("source")
         .orderBy(F.desc("n_chars"), "doc_id"))
    return (files.filter(F.col("n_chars") < target)
            .withColumn("_prefix",
                        (F.sum("n_chars").over(w) - F.col("n_chars"))
                        .cast("long"))
            .withColumn("bin_id",
                        F.expr(f"_prefix div {int(target)}").cast("long"))
            .drop("_prefix"))
