"""Bit-equality pins for the r15 Arrow-kernel rewrites.

Round 15 replaced interpreted higher-order-function folds (CodegenFallback
— guide §4.1/§4.2) with Arrow-batched numpy kernels in similarity.py and
profiling.py.  Each kernel reproduces the ORACLE's IEEE-754 op sequence
exactly, so results must be bit-identical, not merely close.  These tests
pin that contract on adversarial inputs (NULL vector, zero vector, wrong
lengths) so a future edit that breaks fold order fails loudly.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.vectors import dot
from gcp_serverless_mapreduce_spark.operators import profiling, similarity

DIM = 8


def unit_vectors_expr(emb):
    """Pure-expression reference twin of ``similarity.unit_vectors``
    (higher-order functions only, evaluated interpreted)."""
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    unit = F.when(nrm != 0, F.transform(
        F.col("embedding").cast("array<double>"), lambda x: x / nrm))
    return emb.withColumn("unit", unit)


def srp_signature_expr(vec_col, planes):
    """Pure-expression reference twin of ``similarity.srp_signature``."""
    bits = [
        F.when(dot(vec_col, F.array(*[F.lit(s) for s in plane])) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        Row(vec_id=1, embedding=[float(i) / 7.0 for i in range(DIM)]),
        Row(vec_id=2, embedding=[-1.5, 2.25, -3.0, 0.125, 9.5, -0.625,
                                 7.75, -8.875]),
        Row(vec_id=3, embedding=[1e-8] * DIM),
        Row(vec_id=4, embedding=None),            # NULL vector
        Row(vec_id=5, embedding=[0.0] * DIM),     # zero norm -> NULL unit
        Row(vec_id=6, embedding=[1.0, 2.0]),      # short
        Row(vec_id=7, embedding=[0.5] * (DIM + 3)),   # long
        Row(vec_id=8, embedding=[0.1234567890123, -0.9876543210987,
                                 3.14159265358979, -2.71828182845904,
                                 1.41421356237309, -1.73205080756887,
                                 0.57721566490153, -0.30102999566398]),
    ]
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>")


def _bits(x):
    if x is None:
        return None
    import struct
    return struct.pack("<d", x)


def test_unit_vectors_bit_equal_to_expr_twin(spark, vec_df):
    new = {r["vec_id"]: r["unit"]
           for r in similarity.unit_vectors(vec_df).collect()}
    old = {r["vec_id"]: r["unit"]
           for r in unit_vectors_expr(vec_df).collect()}
    assert new.keys() == old.keys()
    for k in new:
        a, b = new[k], old[k]
        assert (a is None) == (b is None), f"null mismatch vec_id={k}"
        if a is not None:
            assert len(a) == len(b), f"len mismatch vec_id={k}"
            for x, y in zip(a, b):
                assert _bits(x) == _bits(y), f"bit mismatch vec_id={k}"


def test_srp_signature_bit_equal_to_expr_twin(spark, vec_df):
    planes = similarity.srp_planes(6, DIM)
    new = {r["vec_id"]: r["b"] for r in vec_df.select(
        "vec_id",
        similarity.srp_signature(F.col("embedding"), planes).alias("b"))
        .collect()}
    old = {r["vec_id"]: r["b"] for r in vec_df.select(
        "vec_id",
        srp_signature_expr(F.col("embedding"), planes).alias("b"))
        .collect()}
    assert new == old


def test_adc_sum_bit_equal_to_aggregate_fold(spark):
    n_sub, n_codes = 4, 5
    rows = [
        Row(pid=1, qtab=[float(i) * 0.37 - 3.1 for i in range(n_sub * n_codes)],
            codes=[0, 4, 2, 1]),
        Row(pid=2, qtab=[1e-3 * i * i - 0.05 * i for i in range(n_sub * n_codes)],
            codes=[3, 3, 0, 4]),
        Row(pid=3, qtab=[math.sin(i) for i in range(n_sub * n_codes)],
            codes=[2, 0, 1, 3]),
    ]
    df = spark.createDataFrame(
        rows, schema="pid long, qtab array<double>, codes array<int>")
    fold = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, m: acc + F.element_at(
            F.col("qtab"),
            (m * n_codes + F.element_at(F.col("codes"), m + 1) + 1)
            .cast("int")),
    )
    got = df.select("pid",
                    similarity._adc_sum(n_sub, n_codes).alias("a"),
                    fold.alias("b")).collect()
    for r in got:
        assert _bits(r["a"]) == _bits(r["b"]), f"pid={r['pid']}"


def test_gram_matrix_exact_int64(spark):
    rng = np.random.default_rng(42)
    dim = 6
    mats = rng.normal(size=(40, dim))
    rows = [Row(vec_id=i, embedding=[float(x) for x in mats[i]])
            for i in range(len(mats))]
    # wrong-length row must be dropped, exactly as the WHERE size()=dim does
    rows.append(Row(vec_id=999, embedding=[1.0, 2.0]))
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): r["g"]
           for r in profiling.gram_matrix(df, dim).collect()}
    q = np.floor(mats * float(profiling.PI_EMB_Q)).astype(np.int64)
    want = q.T @ q
    assert len(got) == dim * dim
    for i in range(dim):
        for j in range(dim):
            assert got[(i, j)] == int(want[i, j]), (i, j)


def test_pc1_projection_buckets_matches_driver_reference(spark):
    """pc1_projection_hist's pandas-UDF projection is exact int64 math:
    floor(x*Q) per dim then an integer dot with the pc1 vector — order-
    independent, so a driver-side numpy reference is bit-exact."""
    rng = np.random.default_rng(7)
    dim = 6
    mats = rng.normal(scale=0.5, size=(30, dim))
    rows = [Row(vec_id=i, embedding=[float(x) for x in mats[i]],
                label="l" + str(i % 3))
            for i in range(len(mats))]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>, label string")
    width = 10 ** 9
    got = {r["bucket"]: (r["n_vecs"], r["min_proj"], r["max_proj"])
           for r in profiling.pc1_projection_hist(
               df, dim, rounds=3, width=width).collect()}
    v = np.asarray(
        profiling.pc1_trajectory(df, dim, 3)[-1],
        dtype=np.int64)
    q = np.floor(mats * float(profiling.PI_EMB_Q)).astype(np.int64)
    proj = q @ v
    want: dict[int, list] = {}
    for p in proj:
        b = int(p) // width
        if b not in want:
            want[b] = [0, int(p), int(p)]
        want[b][0] += 1
        want[b][1] = min(want[b][1], int(p))
        want[b][2] = max(want[b][2], int(p))
    assert got == {b: tuple(w) for b, w in want.items()}
