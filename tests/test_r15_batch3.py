"""Bit-equality pin for the r15 batch-3 Hilbert-key Arrow kernel.

The ``F.aggregate`` per-level fold is CodegenFallback (interpreted per
row); batch 3 replaces it with a vectorized numpy int64 kernel.  The fold
is pure integer arithmetic, so the kernel must equal the expression twin
EXACTLY on every input — including negatives (two's-complement masking)
and oversized values (16-bit wrap) — and preserve NULL propagation.
"""

from __future__ import annotations

from pyspark.sql import Column, Row
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import layout


def hilbert_key_expr(x: Column, y: Column) -> Column:
    """The ``F.aggregate`` form of ``layout.hilbert_key``: the (d, x, y)
    state threads through the ``ZBITS`` levels as a struct — a
    LINEAR-size integer expression (naive unrolling would double the
    tree per level through the rotation's conditionals)."""
    mask = (1 << layout.ZBITS) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    levels = F.array(*[F.lit(1 << i).cast("long")
                       for i in range(layout.ZBITS - 1, -1, -1)])
    init = F.struct(F.lit(0).cast("long").alias("d"),
                    xm.alias("x"), ym.alias("y"))

    def step(acc: Column, s: Column) -> Column:
        ax, ay, ad = acc["x"], acc["y"], acc["d"]
        rx_pos = ax.bitwiseAND(s) > 0
        ry_pos = ay.bitwiseAND(s) > 0
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        rx = F.when(rx_pos, one).otherwise(zero)
        ry = F.when(ry_pos, one).otherwise(zero)
        d2 = ad + (s * s) * ((F.lit(3).cast("long") * rx).bitwiseXOR(ry))
        nx = F.when(ry_pos, ax).otherwise(
            F.when(rx_pos, F.lit(mask) - ay).otherwise(ay))
        ny = F.when(ry_pos, ay).otherwise(
            F.when(rx_pos, F.lit(mask) - ax).otherwise(ax))
        return F.struct(d2.alias("d"), nx.alias("x"), ny.alias("y"))

    return F.aggregate(levels, init, step).getField("d").cast("long")


def test_hilbert_kernel_bit_equal_to_expr_twin(spark):
    rows = [Row(i=i, x=x, y=y) for i, (x, y) in enumerate([
        (0, 0), (1, 0), (0, 1), (65535, 65535), (65536, 2),  # wrap
        (123456789, 987654321),                               # oversized
        (-1, 5), (-65536, -1),                                # negative
        (None, 3), (7, None), (None, None),                   # NULLs
        (32768, 32767), (12345, 54321),
    ])]
    df = spark.createDataFrame(rows, "i long, x long, y long")
    new = {r["i"]: r["h"]
           for r in df.select("i", layout.hilbert_key(
               F.col("x"), F.col("y")).alias("h")).collect()}
    old = {r["i"]: r["h"]
           for r in df.select("i", hilbert_key_expr(
               F.col("x"), F.col("y")).alias("h")).collect()}
    assert new == old
