"""Direct unit tests for the public expression-builder / connector
building blocks that higher-level operators compose.  Every symbol here
is part of the package's public surface (tools/coverage_gate.py requires
each to be exercised from OUTSIDE its defining module); these tests pin
the primitives' contracts independently of the suite queries built on
them — so a primitive regression fails HERE with a readable assertion,
not three layers up in an oracle hash mismatch.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- text


def test_trim_non_letters_and_letters_only(spark):
    from gcp_serverless_mapreduce_spark.functions.text import words

    df = spark.createDataFrame(
        [("--ça!",), ("abc",), ("1b2",), ("x1y",), ("the",), ("''",)], ["w"])
    got = [r["k"] for r in df.select(words(F.col("w")).alias("k")).collect()]
    # edge trim strips non-letter runes (digits included) from both ends
    # (P5) — "1b2" trims to "b"; an interior non-letter (P7), a stop word
    # (P6) or nothing left after the trim (P8) drops the word
    assert got == [["ça"], ["abc"], ["b"], [], [], []]


def test_word_bigrams_udtf_eval():
    from gcp_serverless_mapreduce_spark.functions.udtfs import WordBigrams

    impl = WordBigrams.func()  # @udtf wraps the class; .func is the raw one
    got = list(impl.eval("  The quick  Brown fox "))
    assert got == [(0, "the quick"), (1, "quick brown"), (2, "brown fox")]
    assert list(impl.eval(None)) == []
    assert list(impl.eval("one")) == []


def test_lang_hits_counts_multiset(spark):
    from gcp_serverless_mapreduce_spark.functions.text import nonempty_tokens
    from gcp_serverless_mapreduce_spark.operators.textstats import lang_hits

    df = spark.createDataFrame([("the cat and the hat is here",)], ["text"])
    row = df.select(
        lang_hits(nonempty_tokens(F.col("text")), "en").alias("en"),
        lang_hits(nonempty_tokens(F.col("text")), "de").alias("de")).first()
    assert row["en"] == 4  # the, and, the, is — multiset, not distinct
    assert row["de"] == 0


def test_bpe_escape_roundtrip_mapping(spark):
    from gcp_serverless_mapreduce_spark.operators.textstats import bpe_escape

    df = spark.createDataFrame([(r"a<b>\c",)], ["t"])
    assert df.select(bpe_escape(F.col("t")).alias("e")).first()["e"] \
        == r"a\lb\g\\c"


# --------------------------------------------------------------- dedup


def test_shingle_array_arrow_matches_expression(spark):
    from gcp_serverless_mapreduce_spark.operators.dedup import shingle_array
    from tests.dedup_twins import shingle_array_expr

    df = spark.createDataFrame(
        [("a b c d e",), ("x y",), ("",)], ["text"])
    got = df.select(
        F.sort_array(shingle_array(3)).alias("a"),
        F.sort_array(shingle_array_expr(3)).alias("e"),
    ).collect()
    for r in got:
        assert r["a"] == r["e"]
    assert got[0]["a"] == ["a b c", "b c d", "c d e"]
    assert got[1]["a"] == [] and got[2]["a"] == []


def test_simhash_bits_bounds_and_determinism(spark):
    from gcp_serverless_mapreduce_spark.operators.dedup import simhash_bits

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz qq")],
        ["doc_id", "text"])
    rows = {r["doc"]: r["simhash"]
            for r in simhash_bits(docs, 16).collect()}
    assert all(0 <= v < 2 ** 16 for v in rows.values())
    assert rows[1] == rows[2]  # same text -> same fingerprint


def test_deletion_variants_symspell_keys(spark):
    from gcp_serverless_mapreduce_spark.operators.dedup import (
        deletion_variants)

    df = spark.createDataFrame([("abc",)], ["w"])
    got = df.select(
        F.sort_array(deletion_variants(F.col("w"))).alias("v")).first()["v"]
    assert got == sorted({"abc", "bc", "ac", "ab"})


# ------------------------------------------------------------ curation


def test_doc_chunks_fixed_width(spark):
    from gcp_serverless_mapreduce_spark.operators.curation import doc_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "x")], ["doc_id", "text"])
    got = sorted((r["doc_id"], r["chunk_idx"], r["chunk"])
                 for r in doc_chunks(docs, chunk_words=3).collect())
    assert got == [(1, 0, "a b c"), (1, 1, "d e f"), (1, 2, "g"),
                   (3, 0, "x")]  # empty doc fabricates no chunks


def test_es_samp_key_deterministic_and_weight_monotone(spark):
    from gcp_serverless_mapreduce_spark.operators.curation import es_samp_key

    df = spark.createDataFrame(
        [(7, 1.0), (7, 4.0), (9, 1.0)], ["id", "w"])
    rows = df.select("id", "w", es_samp_key("id", "w").alias("k")).collect()
    k = {(r["id"], r["w"]): r["k"] for r in rows}
    # same id -> same uniform u, so a larger weight strictly shrinks the key
    assert k[(7, 4.0)] < k[(7, 1.0)]
    assert k[(7, 1.0)] != k[(9, 1.0)]
    # 9dp quantization contract
    assert all(round(v, 9) == v for v in k.values())


def test_dsir_bucket_range_and_python_twin(spark):
    from gcp_serverless_mapreduce_spark.operators.curation import (
        DSIR_BUCKETS, dsir_bucket)

    df = spark.createDataFrame([("hello",), ("world",)], ["tok"])
    rows = {r["tok"]: r["b"] for r in
            df.select("tok", dsir_bucket(F.col("tok")).alias("b")).collect()}
    for tok, b in rows.items():
        expect = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) \
            % DSIR_BUCKETS
        assert b == expect


# ---------------------------------------------------------- similarity


def test_topk_per_query_rank_and_ties(spark):
    from gcp_serverless_mapreduce_spark.operators.similarity import (
        topk_per_query)

    pairs = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.9), (1, 12, 0.5), (2, 10, 0.1)],
        ["query_id", "neighbor_id", "sim"])
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"])
                 for r in topk_per_query(pairs, 2).collect())
    # sim ties break on ascending neighbor id
    assert got == [(1, 1, 10), (1, 2, 11), (2, 1, 10)]


def test_train_sample_pred_matches_duckdb_rendering(spark):
    import duckdb

    from gcp_serverless_mapreduce_spark.operators.similarity import (
        train_sample_pred)

    mod = 4
    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], ["vec_id"])
    got = sorted(r["vec_id"] for r in
                 df.filter(train_sample_pred(mod)).collect())
    want = [r[0] for r in duckdb.sql(f"""
        SELECT i FROM unnest(range(200)) t(i)
        WHERE CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))
                   AS BIGINT) % {mod} = 0
        ORDER BY i""").fetchall()]
    assert got == want
    # pseudo-uniform: roughly 1-in-mod of the ids survive
    assert 30 <= len(got) <= 70


def test_train_sample_is_capped_not_fractional(spark):
    # Round-10 contract: the Lloyd/PQ training sample is O(cap).  The
    # modulus scales with corpus rows (max(1, n // target)), so growing
    # the corpus 8x leaves the expected sample in [target, 2*target)
    # instead of growing it 8x — the fixed-fraction behavior that made
    # coalesce(4) a serial bottleneck at 100x data.  Membership is a
    # pure function of (id, n), asserted against a hashlib replay.
    import hashlib

    from gcp_serverless_mapreduce_spark.operators.similarity import (
        train_sample_mod, train_sample_pred)

    target = 64

    def py_sample(n):
        mod = max(1, n // target)
        return [i for i in range(n)
                if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
                % mod == 0]

    sizes = {}
    for n in (1_000, 8_000):
        mod = train_sample_mod(n, target)
        assert mod == max(1, n // target)
        df = spark.createDataFrame([(i,) for i in range(n)], ["vec_id"])
        got = sorted(r["vec_id"] for r in
                     df.filter(train_sample_pred(mod)).collect())
        assert got == py_sample(n)
        sizes[n] = len(got)
    # both corpus sizes land near the cap — NOT proportional to n
    for n, sz in sizes.items():
        assert target * 0.5 <= sz <= target * 3, (n, sz)
    assert sizes[8_000] < sizes[1_000] * 2
    # degenerate corpora: modulus floors at 1 (train on everything)
    assert train_sample_mod(0, target) == 1
    assert train_sample_mod(target - 1, target) == 1


# ------------------------------------------------------------- sketches


def test_sketch_hash_cells_match_python_md5(spark):
    from gcp_serverless_mapreduce_spark.operators.sketches import (
        BLOOM_M, CMS_WIDTH, KMV_HEX_DIGITS, bloom_pos, h_cell, kmv_hash)

    df = spark.createDataFrame([("needle",)], ["k"])
    row = df.select(
        h_cell(F.col("k"), 3),
        bloom_pos(F.col("k"), 5).alias("bp"),
        kmv_hash(F.col("k")).alias("kh")).first()

    def md5_prefix(s: str, n: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)

    assert row["c3"] == md5_prefix("3|needle", 8) % CMS_WIDTH
    assert row["bp"] == md5_prefix("5|needle", 8) % BLOOM_M
    assert row["kh"] == md5_prefix("needle", KMV_HEX_DIGITS)


# ----------------------------------------------------------- multimodal


def test_synth_video_frames_closed_form():
    from gcp_serverless_mapreduce_spark.operators.multimodal import (
        synth_video_frames)

    frames = synth_video_frames(media_id=2, w=4, h=3, n_frames=2)
    assert len(frames) == 2 and frames[0].shape == (3, 3, 4)
    # flat index i (plane-major): value = (2*13 + f*17 + i*7) % 256
    flat1 = frames[1].reshape(-1)
    assert all(int(flat1[i]) == (2 * 13 + 17 + i * 7) % 256
               for i in range(flat1.size))


# ----------------------------------------------------- pyds connectors


def test_pyds_batch_source_contract():
    from gcp_serverless_mapreduce_spark.sources.pyds import (
        EventsDataSource, EventsReader)

    assert EventsDataSource.name() == "events_pyds"
    with pytest.raises(ValueError):
        EventsReader({})
    r = EventsReader({"path": "/nonexistent.parquet", "partitions": "3"})
    from pyspark.sql.datasource import EqualTo
    leftover = list(r.pushFilters([EqualTo(("event_type",), "click"),
                                   EqualTo(("user_id",), 7)]))
    # event_type EqualTo absorbed; everything else handed back to Spark
    assert r.type_eq == "click" and len(leftover) == 1
    parts = r.partitions()
    # the bound filter rides in EVERY InputPartition value (per-scan
    # immutability — the round-5 consume-once bug's fix)
    assert [p.value for p in parts] == [(i, "click") for i in range(3)]


def test_pyds_stream_source_name():
    from gcp_serverless_mapreduce_spark.sources.pyds import (
        EventsStreamDataSource)

    assert EventsStreamDataSource.name() == "events_stream_pyds"


# --------------------------------------------------------------- tables


def test_load_tables_loads_every_fixture(spark):
    from gcp_serverless_mapreduce_spark.tables import TABLE_NAMES, load_tables

    t = load_tables(spark, SF_DIR, ["region", "nation"])
    assert set(t) == {"region", "nation"}
    assert t["region"].count() == 5
    assert set(TABLE_NAMES) >= {"region", "nation", "lineitem", "documents"}


def test_load_table_memo_sees_rewrite_with_same_mtime(spark, tmp_path):
    """A fixture rewritten with a different row count but the old mtime
    must not be served from the load_table memo: the memoized scan would
    still split the file at its old length and miss row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_serverless_mapreduce_spark.tables import load_table

    path = tmp_path / "memo_probe.parquet"
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    before = os.stat(path)
    assert load_table(spark, str(tmp_path), "memo_probe").count() == 3
    pq.write_table(pa.table({"x": list(range(1000))}), path,
                   row_group_size=100)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    assert os.stat(path).st_mtime_ns == before.st_mtime_ns
    assert load_table(spark, str(tmp_path), "memo_probe").count() == 1000
