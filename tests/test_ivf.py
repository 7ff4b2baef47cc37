"""IVF ANN: structural invariants + recall against brute force."""

from __future__ import annotations

from gcp_serverless_mapreduce_spark.operators import similarity
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def _neighbor_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_sq8_quantization_recall(spark):
    """Quality gate for the int8 path: sq8_ann_topk's hash-determinism is
    oracle-checked, but quantization error vs exact cosine ranks is not.
    SRP and SQ8 share identical buckets (same planes, same cap), so
    comparing them isolates pure int8-vs-float re-rank error — recall@10
    must be >= 0.9.  A floor vs the exact brute-force ranks (which also
    folds in bucketing recall, like the IVF gates) guards the
    end-to-end path."""
    from gcp_serverless_mapreduce_spark.suite import similarity_q as sq

    emb = load_table(spark, SF_DIR, "embeddings")
    k = 10
    srp = _neighbor_sets(similarity.srp_ann_topk(
        emb, k, sq.PLANES, max_bucket=sq.MAX_BUCKET).collect())
    sq8 = _neighbor_sets(similarity.sq8_ann_topk(
        emb, k, sq.PLANES, max_bucket=sq.MAX_BUCKET).collect())
    assert set(sq8) == set(srp)          # same bucketing -> same query set
    hits = sum(len(srp[q] & sq8[q]) for q in srp)
    recall = hits / sum(len(v) for v in srp.values())
    assert recall >= 0.9, f"int8 quantization recall@{k} = {recall}"

    exact = _neighbor_sets(similarity.brute_force_topk(
        emb, k, num_queries=20).collect())
    got = {q: sq8.get(q, set()) for q in exact}
    bf_hits = sum(len(exact[q] & got[q]) for q in exact)
    bf_recall = bf_hits / sum(len(v) for v in exact.values())
    # End-to-end floor vs exact ranks: the fixture embeddings are random
    # (no cluster structure), so 8-plane SRP recall is inherently tiny —
    # the honest gate is that true neighbors share a bucket at well
    # above the RANDOM collision rate implied by the actual bucket-size
    # distribution (sum s·(s-1) / n·(n-1) ~ 0.004 at sf0.01).
    from pyspark.sql import functions as F
    sizes = (similarity.unit_vectors(emb)
             .filter(F.col("unit").isNotNull())
             .select(similarity.srp_signature(
                 F.col("embedding").cast("array<double>"),
                 sq.PLANES).alias("bucket"))
             .groupBy("bucket").agg(F.count("*").alias("c")).collect())
    n = sum(r["c"] for r in sizes)
    chance = sum(r["c"] * (r["c"] - 1) for r in sizes) / (n * (n - 1))
    assert bf_recall > 2 * chance, (
        f"end-to-end recall@{k} = {bf_recall} vs chance {chance}")


def test_lloyd_centroids_deterministic_and_trained(spark):
    """Fixed-point Lloyd training: bit-identical across runs (the
    property the oracle depends on), correct geometry, and centroids
    actually move from the md5 init."""
    emb = load_table(spark, SF_DIR, "embeddings")
    init = similarity.fixed_centroids(16, 64)
    c1 = similarity.lloyd_centroids(emb, init, rounds=2)
    c2 = similarity.lloyd_centroids(emb, init, rounds=2)
    assert c1 == c2  # exact, not approximate: integer-sum determinism
    assert len(c1) == 16 and all(len(c) == 64 for c in c1)
    assert c1 != init


def test_ivf_lloyd_recall_and_shape(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    init = similarity.fixed_centroids(16, 64)
    ivf = similarity.ivf_lloyd_topk(emb, 5, init, rounds=2,
                                    n_probe=2).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in ivf)
    assert all(1 <= r["rank"] <= 5 for r in ivf)
    exact = similarity.brute_force_topk(emb, k=5, num_queries=20).collect()
    truth = _neighbor_sets(exact)
    got = _neighbor_sets([r for r in ivf if r["query_id"] in truth])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall > 0.2, recall


def test_ivf_search_invariant_to_salt_width(spark, monkeypatch):
    # The skew fix's core claim: salting the query side and replicating
    # each cell's corpus block across buckets must not change a single
    # output row — a query's top-k depends only on (query, cell corpus).
    emb = load_table(spark, SF_DIR, "embeddings").limit(300)
    centers = similarity.fixed_centroids(16, 64)

    def run():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
            for r in similarity._ivf_search(emb, 5, centers, 2).collect())

    monkeypatch.setattr(similarity, "IVF_SALT", 1)
    unsalted = run()
    monkeypatch.setattr(similarity, "IVF_SALT", 8)
    salted = run()
    assert salted == unsalted and len(salted) > 0


def test_ivf_incremental_no_retrain_and_query_scope(spark):
    """The incremental-ingest contract (round-11 frontier op), pinned:

    1. centroids are a pure function of the OLD corpus — training over
       the full frame with the old-batch filter must equal training
       over a frame from which the new batch was physically removed
       (i.e. ingesting a batch does not move the index geometry);
    2. only new-batch vectors take the query role;
    3. new-batch vectors are retrievable as neighbors immediately.
    """
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    init = similarity.fixed_centroids(16, 64)
    inc_mod, target = 3, 128
    old = emb.filter(F.col("vec_id") % inc_mod != 0)
    n_old = old.count()
    sample = similarity.train_sample_pred(
        similarity.train_sample_mod(n_old, target))

    # (1) old-filtered training on the full frame == training on a frame
    # that never contained the new batch: bit-exact, not approximate.
    c_full = similarity.lloyd_centroids(
        emb, init, rounds=2,
        train_filter=sample & (F.col("vec_id") % inc_mod != 0))
    c_old_only = similarity.lloyd_centroids(
        old, init, rounds=2, train_filter=sample)
    assert c_full == c_old_only
    assert c_full != init  # training actually moved the centroids

    rows = similarity.ivf_incremental_topk(
        emb, inc_mod, 5, init, rounds=2, n_probe=2,
        train_target=target, n_old_rows=n_old).collect()
    assert rows
    # (2) queries are exactly the new batch
    assert all(r["query_id"] % inc_mod == 0 for r in rows)
    # (3) both old and new vectors appear as neighbors (the new batch is
    # indexed the moment it lands, alongside the existing corpus)
    mods = {r["neighbor_id"] % inc_mod for r in rows}
    assert 0 in mods and (mods - {0})


def test_table_row_count_matches_spark_count(spark):
    # The training-modulus path now sizes its hash-sample from parquet
    # footer metadata (tables.table_row_count) instead of an extra
    # df.count() scan job; the two must agree exactly or the oracle's
    # greatest(1, count(*) // target) CTE diverges from the Spark plan.
    from gcp_serverless_mapreduce_spark.tables import table_row_count
    for name in ("embeddings", "documents"):
        meta = table_row_count(SF_DIR, name)
        assert meta == load_table(spark, SF_DIR, name).count()


def test_table_row_count_multi_file_directory(tmp_path):
    # A real table arrives as a directory of part files; the footer
    # reader must sum them through the same code path as the fixture's
    # single-file layout.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_serverless_mapreduce_spark.tables import table_row_count
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}), d / "part-1.parquet")
    assert table_row_count(str(tmp_path), "t") == 5


def test_table_row_count_ignores_sidecar_files(tmp_path):
    # Dataset discovery lists every non-hidden file in a table dir; a
    # stray sidecar/tmp file must not turn the footer read into a
    # parse error — only '.parquet' fragments count.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_serverless_mapreduce_spark.tables import table_row_count
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    (d / "manifest.json").write_text('{"files": 1}')
    (d / "part-1.parquet.tmp").write_text("half-written junk")
    assert table_row_count(str(tmp_path), "t") == 3


def test_old_batch_row_count_matches_filtered_count(spark):
    # The incremental-IVF old-batch count is derived arithmetically
    # from the footer total (dense 0..n-1 vec_id fixture contract);
    # it must equal the filtered count() it replaced, at every mod.
    from pyspark.sql import functions as F

    from gcp_serverless_mapreduce_spark.tables import old_batch_row_count
    emb = load_table(spark, SF_DIR, "embeddings")
    for mod in (2, 3, 7):
        expect = emb.filter(F.col("vec_id") % mod != 0).count()
        assert old_batch_row_count(SF_DIR, mod) == expect
