"""Profiling/maintenance operators: histogram-quantile accuracy bound,
z-score spike detection, IVM merge == full recompute."""

import pyspark.sql.functions as F

from gcp_serverless_mapreduce_spark.operators import profiling


def test_histogram_quantiles_within_bin_width(spark):
    # Uniform 0..999 -> true p50=500, p90=900; estimate within one bin.
    df = spark.createDataFrame([("g", float(i)) for i in range(1000)],
                               "grp string, v double")
    got = {r.q: r.est for r in profiling.histogram_quantiles(
        df, "grp", "v", bin_width=10.0, qs=(0.5, 0.9)).collect()}
    assert abs(got[0.5] - 500.0) <= 10.0
    assert abs(got[0.9] - 900.0) <= 10.0


def test_trailing_zscore_flags_spike(spark):
    # Flat series of 10s with one 100 at bucket 30 -> flagged; the flat
    # rows have sd=0 -> NULL z, never flagged.
    rows = [("s", b, 100 if b == 30 else 10) for b in range(40)]
    df = spark.createDataFrame(rows, "series string, bucket int, n long")
    out = profiling.trailing_zscore(df, "series", trail=5, z_flag=2.0)
    by_bucket = {r.bucket: r for r in out.collect()}
    # Constant baseline -> sd=0 -> no finite z, but the spike IS flagged.
    assert by_bucket[30].is_anomaly and by_bucket[30].z is None
    assert not by_bucket[29].is_anomaly and by_bucket[29].z is None
    assert by_bucket[2].z is None  # partial trailing window
    # Buckets 31-35 have the spike in their window -> sd>0, z defined;
    # their own value (10) sits below the inflated mean, not flagged.
    assert by_bucket[33].z is not None and not by_bucket[33].is_anomaly


def test_merge_agg_delta_equals_recompute(spark):
    rows = [(k, v) for k in range(20) for v in range(k + 1)]
    df = spark.createDataFrame(rows, "k int, v long")
    full = df.groupBy("k").agg(F.count("*").alias("n"),
                               F.sum("v").alias("s"))

    def agg(part):
        return part.groupBy("k").agg(F.count("*").alias("n"),
                                     F.sum("v").alias("s"))

    merged = profiling.merge_agg_delta(
        agg(df.where("v < 3")), agg(df.where("v >= 3")), ["k"], ["n", "s"])
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


def test_gram_matrix_exact_and_grid_bounded(spark):
    import math

    from gcp_serverless_mapreduce_spark.operators import profiling

    vecs = [[0.11, -0.5, 0.25], [0.3, 0.3, -0.01], [-0.2, 0.07, 0.4]]
    df = spark.createDataFrame([(v,) for v in vecs],
                               "embedding array<double>")
    got = {(r["i"], r["j"]): r["g"]
           for r in profiling.gram_matrix(df, 3).collect()}
    assert len(got) == 9  # fixed dim^2 grid, independent of row count
    q = [[math.floor(x * profiling.PI_EMB_Q) for x in v] for v in vecs]
    for i in range(3):
        for j in range(3):
            assert got[(i, j)] == sum(r[i] * r[j] for r in q)


def test_power_iteration_converges_to_dominant_direction(spark):
    from gcp_serverless_mapreduce_spark.operators import profiling

    # 40 vectors hugging direction (3,1,0,-1)/sqrt(11) plus small jitter:
    # the Gram matrix's top eigenvector is that direction.
    d = [3.0, 1.0, 0.0, -1.0]
    rows = []
    for t in range(40):
        s = 0.05 * ((t % 7) - 3)
        rows.append(([0.2 * d[k] + (s if k == t % 4 else 0.0)
                      for k in range(4)],))
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = profiling.power_iteration_pc1(df, 4, rounds=6)
    vals = {(r["rnd"], r["i"]): r["v"] for r in out.collect()}
    assert len(vals) == 7 * 4
    v = [vals[(6, i)] for i in range(4)]
    # cosine against the planted direction, sign-insensitive
    num = abs(sum(v[k] * d[k] for k in range(4)))
    den = (sum(x * x for x in v) ** 0.5) * (sum(x * x for x in d) ** 0.5)
    assert num / den > 0.99
    # renormalization contract: max |component| is exactly PI_SCALE
    assert max(abs(x) for x in v) == profiling.PI_SCALE


def test_pc1_projection_hist_matches_python(spark):
    import math

    from gcp_serverless_mapreduce_spark.operators import profiling

    d = [3.0, 1.0, 0.0, -1.0]
    rows = []
    for t in range(30):
        s = 0.04 * ((t % 5) - 2)
        rows.append(([0.15 * d[k] + (s if k == t % 4 else 0.0)
                      for k in range(4)], t % 3))
    df = spark.createDataFrame(rows, "embedding array<double>, label long")
    width = 1 << 22  # small vectors -> small projections
    out = profiling.pc1_projection_hist(
        df, 4, rounds=4, width=width).collect()

    v = profiling.pc1_trajectory(df, 4, rounds=4)[-1]
    projs = []
    for vec, _lbl in rows:
        q = [math.floor(x * profiling.PI_EMB_Q) for x in vec]
        projs.append(sum(q[i] * v[i] for i in range(4)))
    want_buckets = {}
    for p, (_vec, lbl) in zip(projs, rows):
        b = p // width  # Python floor division == the pmod identity
        ent = want_buckets.setdefault(b, [0, set(), None, None])
        ent[0] += 1
        ent[1].add(lbl)
        ent[2] = p if ent[2] is None else min(ent[2], p)
        ent[3] = p if ent[3] is None else max(ent[3], p)
    got = {r["bucket"]: r for r in out}
    assert set(got) == set(want_buckets)
    for b, (n, lbls, mn, mx) in want_buckets.items():
        r = got[b]
        assert (r["n_vecs"], r["n_labels"], r["min_proj"],
                r["max_proj"]) == (n, len(lbls), mn, mx)
