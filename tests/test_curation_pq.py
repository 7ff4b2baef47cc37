"""Tests for corpus-curation operators (PII redaction, chunk dedup,
decontamination) and product-quantization ANN."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import curation, similarity


# ---------------------------------------------------------------- PII

def test_redact_pii_counts_and_bytes(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="mail a@b.com and c.d-e%f@ex.co.uk now"),
        Row(doc_id=2, text="call 555-123-4567 or 555-000-1111 x9"),
        Row(doc_id=3, text="host 10.0.0.7 and 192.168.255.1 up"),
        Row(doc_id=4, text="nothing to scrub here"),
    ])
    out = {r["doc_id"]: r for r in curation.redact_pii(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (2, 0, 0)
    assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted"] == "call <PHONE> or <PHONE> x9"
    assert out[3]["n_ips"] == 2
    assert out[3]["redacted"] == "host <IP> and <IP> up"
    assert out[4]["redacted"] == "nothing to scrub here"
    assert (out[4]["n_emails"], out[4]["n_phones"], out[4]["n_ips"]) == (0, 0, 0)


# -------------------------------------------------------- chunk dedup

def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in rows])


def test_chunk_dedup_keeps_global_first(spark):
    # 3-word chunks; doc 2 repeats doc 1's first chunk, and doc 1
    # repeats its own chunk internally.
    rows = [(1, "a b c a b c x y z"),
            (2, "a b c q r s")]
    flagged = curation.chunk_dedup(_docs(spark, rows), chunk_words=3)
    got = {(r["doc_id"], r["chunk_idx"]): r["keep"] for r in flagged.collect()}
    assert got[(1, 0)] is True          # first global occurrence of "a b c"
    assert got[(1, 1)] is False         # same doc repeat removed
    assert got[(2, 0)] is False         # cross-doc repeat removed
    assert got[(1, 2)] is True and got[(2, 1)] is True


def test_chunk_dedup_stats_all_removed_doc(spark):
    rows = [(1, "a b c"), (2, "a b c")]
    out = {r["doc_id"]: r for r in
           curation.chunk_dedup_stats(_docs(spark, rows), chunk_words=3)
           .collect()}
    assert out[1]["n_kept"] == 1
    assert out[2]["n_kept"] == 0 and out[2]["n_chunks"] == 1
    # md5('') for the fully-deduped doc
    assert out[2]["kept_md5"] == "d41d8cd98f00b204e9800998ecf8427e"


def test_word_ngrams_short_doc_dropped(spark):
    rows = [(1, "a b"), (2, "a b c d")]
    got = curation.word_ngrams(_docs(spark, rows), 3).collect()
    assert {r["doc_id"] for r in got} == {2}
    assert {r["gram"] for r in got} == {"a b c", "b c d"}


def test_ngram_contamination_flags_overlap(spark):
    # doc 0 is eval (0 % 41 == 0); doc 1 shares a 3-gram, doc 2 none.
    rows = [(0, "p q r s"), (1, "x p q r y"), (2, "m n o u v")]
    got = {r["doc_id"]: r["n_shared"] for r in
           curation.ngram_contamination(_docs(spark, rows), n=3)
           .collect()}
    assert got == {1: 1}


# ------------------------------------------------------------------ PQ

BOOKS = similarity.pq_codebooks(4, 4, 2)   # 4 subspaces x 2 dims, 4 codes


def _pq_subscore(unit_col, m, cent):
    """|c|^2 - 2*(u_sub . c) for subspace m, the dot accumulated
    dimension by dimension, left to right, seeded 0.0."""
    sub_dim = len(cent)
    acc = F.lit(0.0)
    for i, cd in enumerate(cent):
        acc = acc + F.element_at(unit_col, m * sub_dim + i + 1) * F.lit(cd)
    return F.lit(similarity._sq_fold(cent)) - F.lit(2.0) * acc


def pq_encode(unit_col, codebooks):
    """Pure-expression reference twin of ``similarity.pq_encode_udf``:
    per-subspace nearest-centroid codes, ties -> the smallest code.
    array_position compares the min against the score list bit for bit,
    so the float tie-break is exact."""
    codes = []
    for m, book in enumerate(codebooks):
        scores = F.array(*[_pq_subscore(unit_col, m, c) for c in book])
        codes.append(
            (F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
    return F.array(*codes)


def pq_adc_table(unit_col, codebooks):
    """Pure-expression reference twin of ``similarity.pq_adc_table_udf``:
    entry m*n_codes + c = |c|^2 - 2*(q_sub . c)."""
    return F.array(*[_pq_subscore(unit_col, m, c)
                     for m, book in enumerate(codebooks) for c in book])


def test_pq_encode_matches_numpy_argmin(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [Row(vec_id=i, unit=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    got = {r["vec_id"]: list(r["codes"]) for r in
           df.select("vec_id",
                     pq_encode(F.col("unit"), BOOKS)
                     .alias("codes")).collect()}
    cb = np.asarray(BOOKS)                         # m x c x d
    for i, v in enumerate(vecs):
        sub = v.reshape(4, 2)
        d = ((sub[:, None, :] - cb) ** 2).sum(axis=2)   # m x c
        want = list(d.argmin(axis=1))
        assert got[i] == want, f"vec {i}"


def test_pq_encode_udf_bit_identical_to_expression(spark):
    # The data path uses the Arrow/numpy encoder (the expression twin
    # falls out of codegen at production codebook sizes); the two must
    # agree code-for-code, including float argmin tie-breaks.  Use a
    # bigger 8x16-code book = the suite's production shape.
    import numpy as np
    books = similarity.pq_codebooks(8, 16, 8)
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [Row(vec_id=i, unit=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    both = df.select(
        "vec_id",
        pq_encode(F.col("unit"), books).alias("expr_codes"),
        similarity.pq_encode_udf(books)(F.col("unit")).alias("np_codes"),
        pq_adc_table(F.col("unit"), books).alias("expr_tab"),
        similarity.pq_adc_table_udf(books)(F.col("unit")).alias("np_tab"),
    ).collect()
    for r in both:
        assert list(r["expr_codes"]) == list(r["np_codes"]), r["vec_id"]
        assert list(r["expr_tab"]) == list(r["np_tab"]), r["vec_id"]


def test_pq_adc_topk_identical_codes_rank_first(spark):
    import numpy as np
    # corpus: vec 0 (query), vec 1 an exact copy (same codes -> adist
    # tie with self, self excluded), vec 2 far away.
    base = np.zeros(8)
    base[0] = 1.0
    far = np.zeros(8)
    far[7] = -1.0
    df = spark.createDataFrame([
        Row(vec_id=0, embedding=[float(x) for x in base]),
        Row(vec_id=1, embedding=[float(x) for x in base]),
        Row(vec_id=2, embedding=[float(x) for x in far]),
    ])
    got = similarity.pq_adc_topk(df, k=2, codebooks=BOOKS,
                                 num_queries=1).collect()
    ranks = {r["rank"]: r["neighbor_id"] for r in got}
    assert ranks[1] == 1                       # identical codes rank first
    assert got[0]["query_id"] == 0
    units = similarity.unit_vectors(df)
    codes = {r["vec_id"]: list(r["codes"]) for r in
             units.select(
                 "vec_id",
                 pq_encode(F.col("unit"), BOOKS)
                 .alias("codes")).collect()}
    assert codes[0] == codes[1] != codes[2]


def test_pq_code_histogram_total(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
         for i in range(30)])
    hist = similarity.pq_code_histogram(df, BOOKS)
    rows = hist.collect()
    assert sum(r["n_vecs"] for r in rows) == 30 * 4     # one code per m
    assert all(0 <= r["code"] < 4 and 0 <= r["m"] < 4 for r in rows)


# --------------------------------------------------------- PPM strictness

def test_ppm_requires_whitespace_after_maxval():
    from gcp_serverless_mapreduce_spark.operators import multimodal
    good = multimodal.encode_ppm(multimodal.synth_pixel_array(5, 3, 2))
    assert multimodal.decode_ppm(good).shape == (2, 3, 3)
    # corrupt the single whitespace after maxval
    idx = good.index(b"255") + 3
    bad = good[:idx] + b"x" + good[idx + 1:]
    with pytest.raises(ValueError):
        multimodal.decode_ppm(bad)


# ------------------------------------------------- trained PQ codebooks

def test_pq_trained_codebooks_match_numpy_replay(spark):
    """One Lloyd round must equal the exact numpy replay: argmin
    assignment under the init books (oracle fold order), then per-
    (subspace, code, dim) means of floor(u*Q)/(Q*n); (m, code) cells
    with no members keep the init centroid."""
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    got = similarity.pq_trained_codebooks(df, BOOKS, rounds=1)

    Q = similarity.IVF_TRAIN_Q
    cb = np.asarray(BOOKS)                          # m x c x d
    n_sub, n_codes, sub_dim = cb.shape
    want = [[list(c) for c in book] for book in BOOKS]
    sub = vecs.reshape(len(vecs), n_sub, sub_dim)
    d2 = ((sub[:, :, None, :] - cb[None]) ** 2).sum(axis=3)  # v x m x c
    codes = d2.argmin(axis=2)
    for m in range(n_sub):
        for c in range(n_codes):
            members = [v for v in range(len(vecs)) if codes[v, m] == c]
            if not members:
                continue
            want[m][c] = [
                sum(math.floor(sub[v, m, d] * Q) for v in members)
                / (float(Q) * len(members))
                for d in range(sub_dim)]
    for m in range(n_sub):
        for c in range(n_codes):
            assert got[m][c] == pytest.approx(want[m][c], abs=1e-12), \
                (m, c)


def test_pq_training_does_not_worsen_sample_quantization(spark):
    """k-means monotonicity on the training set: the trained books'
    per-vector quantization error (min squared distance summed over
    subspaces) must not exceed the init books' — measured, since the
    empty-cell keep-previous rule is the only deviation from textbook
    Lloyd."""
    import numpy as np

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(60, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in enumerate(vecs)])
    trained = similarity.pq_trained_codebooks(df, BOOKS, rounds=2)

    def mse(books):
        cb = np.asarray(books)
        sub = vecs.reshape(len(vecs), cb.shape[0], cb.shape[2])
        d2 = ((sub[:, :, None, :] - cb[None]) ** 2).sum(axis=3)
        return d2.min(axis=2).sum()

    assert mse(trained) <= mse(BOOKS) + 1e-9
    assert mse(trained) < mse(BOOKS)    # and it actually moved


def test_contamination_span_manifest_known_spans(spark):
    # doc 0 is the eval split (0 % 41 == 0); its trigrams are
    # "a b c", "b c d", "c d e".  Train doc 1 hits "a b c" at token
    # positions 1 and 5 and "b c d" at 6 -> covers [1,4) and [5,9)
    # (the 5/6 covers overlap and merge).  Train doc 2 IS the eval
    # text -> one fully-merged span [0,5).  Train doc 3 is clean.
    docs = spark.createDataFrame([
        Row(doc_id=0, text="a b c d e"),
        Row(doc_id=1, text="x a b c y a b c d z"),
        Row(doc_id=2, text="a b c d e"),
        Row(doc_id=3, text="p q r s t u"),
    ])
    got = sorted(
        (r["doc_id"], r["range_start"], r["range_end"], r["n_tokens"])
        for r in curation.contamination_span_manifest(docs, n=3).collect())
    assert got == [(1, 1, 4, 3), (1, 5, 9, 4), (2, 0, 5, 5)]


def test_bloom_span_manifest_superset_and_zero_join_probe(spark):
    # Bloom spans must COVER the exact manifest's token positions
    # (false positives only ever widen/add ranges — conservative
    # over-redaction), and the probe stage must be join-free: the
    # bitmap rides as a literal, so the pre-merge plan's only join-ish
    # node is none at all.
    import re

    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def covered(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["doc_id"], set()).update(
                range(r["range_start"], r["range_end"]))
        return out

    exact = covered(curation.contamination_span_manifest(docs))
    bloom = covered(curation.bloom_span_manifest(docs))
    assert exact, "fixture produced no contaminated spans"
    for doc, toks in exact.items():
        assert toks <= bloom.get(doc, set()), doc

    plan = (curation.bloom_span_manifest(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan  # probe is pure scan-side arithmetic


def test_inline_bloom_spans_equals_window_derivation(spark):
    # The in-row fold (streaming face) and the window sweep (batch face)
    # are two derivations of one contract: identical rows, and the
    # in-row plan has NO exchange/window/aggregate/join at all.
    import re

    from gcp_serverless_mapreduce_spark.operators.sketches import (
        bloom_bitmap, bloom_build)
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bitmap = bloom_bitmap(bloom_build(
        curation.word_ngrams(
            docs.filter(F.col("doc_id") % 41 == 0), 3)
        .select("gram").distinct(), key_col="gram"))

    inline = (docs.filter(F.col("doc_id") % 41 != 0)
              .select("doc_id",
                      curation.inline_bloom_spans(bitmap, 3).alias("sp"))
              .select("doc_id", F.explode("sp").alias("r"))
              .select("doc_id", F.col("r.s").alias("range_start"),
                      F.col("r.e").alias("range_end")))
    got = {tuple(r) for r in inline.collect()}
    want = {(r["doc_id"], r["range_start"], r["range_end"])
            for r in curation.bloom_span_manifest(docs).collect()}
    assert got == want and want

    plan = inline._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bExchange ", plan), plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan


def test_inline_bloom_spans_dense_contamination_stress(spark):
    # Round-13 watch-item 3: a 100 TB stream WILL contain fully-quoted
    # eval documents (hits ~= tokens).  The r13 fold's accumulator
    # concat made that row O(hits^2); the span-break-flag derivation is
    # O(hits).  Gate: a book-length wall-to-wall contaminated doc (20k
    # tokens, every position a hit -> one merged span) stays within ~2x
    # of the batch window face on the SAME row, and both produce the
    # identical single full-cover span.
    import time

    from gcp_serverless_mapreduce_spark.operators.sketches import (
        bloom_bitmap, bloom_build)

    n, n_tok = 3, 20_000
    vocab = [f"w{i}" for i in range(97)]  # co-prime stride: all grams distinct-ish
    words = [vocab[(i * 31) % 97] for i in range(n_tok)]
    eval_doc = Row(doc_id=0, text=" ".join(words))      # 0 % 41 == 0: eval
    train_doc = Row(doc_id=1, text=" ".join(words))     # verbatim quote
    docs = spark.createDataFrame([eval_doc, train_doc])

    bitmap = bloom_bitmap(bloom_build(
        curation.word_ngrams(docs.filter(F.col("doc_id") % 41 == 0), n)
        .select("gram").distinct(), key_col="gram"))

    def timed(df):
        t0 = time.perf_counter()
        rows = df.collect()
        return rows, time.perf_counter() - t0

    inline = (docs.filter(F.col("doc_id") % 41 != 0)
              .select("doc_id",
                      curation.inline_bloom_spans(bitmap, n).alias("sp"))
              .select("doc_id", F.explode("sp").alias("r"))
              .select("doc_id", F.col("r.s").alias("range_start"),
                      F.col("r.e").alias("range_end")))
    got_inline, t_inline = timed(inline)
    got_batch, t_batch = timed(
        curation.bloom_span_manifest(docs, n)
        .select("doc_id", "range_start", "range_end"))

    # every position hits -> exactly one merged span covering the doc
    assert [tuple(r) for r in got_inline] == [(1, 0, n_tok)]
    assert [tuple(r) for r in got_batch] == [(1, 0, n_tok)]
    # O(hits) fold: within ~2x of the window face on the dense row (and
    # an absolute ceiling so an O(hits^2) regression fails loudly even
    # if the batch face also degrades)
    assert t_inline < 2.0 * t_batch + 1.0, (t_inline, t_batch)
    assert t_inline < 30.0, t_inline


def test_bpe_aligned_spans_single_offset_derivation(spark):
    # The piece-offset frame must be derived ONCE: the naive boundary
    # pair of equi-joins re-derived it per join (two scans, two BPE
    # replace chains, two cumulative windows — caught in the r14 plan
    # audit).  Pin the plan: exactly 3 Window ops total (the manifest's
    # two merge windows + ONE offset cumsum), and the offset side joins
    # broadcast (contamination-bounded keys), never shuffled-merge.
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = curation.bpe_aligned_span_manifest(docs)
    assert df.count() > 0  # fixture produces contaminated spans
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window [") == 3, plan.count("Window [")
    assert "SortMergeJoin" not in plan, "offset join must broadcast"
