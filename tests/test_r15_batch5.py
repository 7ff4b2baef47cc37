"""Round-15 batch 5 pin: the kcenter driver-side pool-sim fold is
bit-identical to the shared Arrow pair-dot kernel (the oracle's
left-to-right list_reduce order) on adversarial unit vectors."""
from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import similarity


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_driver_psim_fold_matches_pair_dot_kernel(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((10, 16))
    vecs[3] = vecs[1]            # exact duplicate -> sim exactly 1 path
    vecs[5] = -vecs[2]           # antipodal
    vecs[7, :] = 1e-154          # denormal-adjacent accumulation
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    units = (similarity.unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select("vec_id", "unit"))
    collected = {r["vec_id"]: np.array(r["unit"]) for r in units.collect()}
    ids = sorted(collected)
    U = np.array([collected[i] for i in ids])

    # the driver fold kcenter_coreset computes its pool similarities with
    acc = similarity.fold_dot(U, U)

    # kernel reference over every ordered pair
    a = units.select(F.col("vec_id").alias("ca"), F.col("unit").alias("ua"))
    b = units.select(F.col("vec_id").alias("cb"), F.col("unit").alias("ub"))
    pair_dot = similarity._pair_dot_udf()
    ref = {(r["ca"], r["cb"]): r["psim"]
           for r in (a.join(b, F.col("ca") != F.col("cb"))
                     .select("ca", "cb",
                             pair_dot(F.col("ua"), F.col("ub"))
                             .alias("psim")).collect())}
    assert ref, "kernel produced no pairs"
    for (ca, cb), v in ref.items():
        i, j = ids.index(ca), ids.index(cb)
        assert _bits(float(acc[i, j])) == _bits(v), (ca, cb)


def test_kcenter_coreset_shape_and_determinism(spark):
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out1 = similarity.kcenter_coreset(emb, k=5, pool=12).collect()
    out2 = similarity.kcenter_coreset(emb, k=5, pool=12).collect()
    assert out1 == out2
    assert [r["step"] for r in out1] == [1, 2, 3, 4, 5]
    assert out1[0]["nearest_sim"] is None
    assert len({r["sel_id"] for r in out1}) == 5
