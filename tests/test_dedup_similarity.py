"""Unit goldens for the dedup + similarity operator families on tiny
hand-built frames (the oracle gate covers the fixtures; these pin the
operator semantics on cases small enough to verify by hand)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_shingles_and_short_doc(spark):
    docs = _docs(spark, [(1, "a b c d"), (2, "a b")])
    got = {(r["doc"], r["shingle"]) for r in dedup.word_shingles(docs, k=3).collect()}
    # doc 2 is shorter than k -> zero shingles (not a descending sequence!)
    assert got == {(1, "a b c"), (1, "b c d")}


def test_identical_docs_collide_in_every_band(spark):
    docs = _docs(spark, [(1, "x y z w v u"), (2, "x y z w v u"),
                         (3, "totally different words here now ok")])
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_shared_bands"]) for r in pairs] == \
        [(1, 2, 4)]


def test_jaccard_exact_value(spark):
    # shingle sets: doc1 {abc,bcd}, doc2 {abc,bce}; J = 1/3
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    rows = dedup.jaccard_pairs(docs, threshold=0.0).collect()
    assert len(rows) == 1
    assert math.isclose(rows[0]["jaccard"], 1 / 3)


def test_jaccard_df_cap_bounds_boilerplate_pairs(spark):
    # 40 docs sharing one boilerplate sentence: uncapped, every pair
    # intersects on the shared shingles -> 40*39/2 = 780 candidate pairs
    # from ONE hot shingle group.  With df_max below 40 the boilerplate
    # shingles are pruned from the intersection side and no pair survives
    # (each doc's remaining shingles are unique), bounding the join at
    # O(df_max^2) per shingle at any corpus size.
    boiler = "the quick brown fox jumps over the lazy dog"
    docs = _docs(spark, [(i, f"{boiler} unique{i} tail{i}")
                         for i in range(40)])
    uncapped = dedup.jaccard_pairs(docs, threshold=0.0, df_max=10**6).collect()
    assert len(uncapped) == 40 * 39 // 2
    capped = dedup.jaccard_pairs(docs, threshold=0.0, df_max=10).collect()
    assert capped == []


def test_jaccard_df_cap_keeps_true_denominators(spark):
    # Denominators stay uncapped set sizes: two identical docs plus a hot
    # shingle shared by everyone -> with the hot shingle pruned from the
    # intersection only, the identical pair's jaccard UNDER-counts
    # (n_common excludes pruned shingles, |A u B| does not) and never
    # exceeds the true value of 1.0.
    docs = _docs(spark, [(i, f"common one two word{i} x{i} y{i}")
                         for i in range(12)])
    rows = dedup.jaccard_pairs(docs, threshold=0.0, df_max=5).collect()
    for r in rows:
        assert 0.0 <= r["jaccard"] < 1.0


def test_simhash_identical_docs_equal(spark):
    docs = _docs(spark, [(1, "alpha beta gamma"), (2, "gamma beta alpha"),
                         (3, "other words entirely")])
    fp = {r["doc"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert fp[1] == fp[2]  # order-insensitive (set of tokens)
    assert 0 <= fp[1] < 2 ** 16


def test_unit_vectors_and_zero_vector(spark):
    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"])
    rows = {r["vec_id"]: r["unit"] for r in similarity.unit_vectors(emb).collect()}
    assert rows[1] == [0.6, 0.8]
    assert rows[2] is None  # zero vector -> NULL, dropped by ANN paths


def test_brute_force_topk_orders_by_cosine(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"])
    got = similarity.brute_force_topk(emb, k=3, num_queries=1).collect()
    assert [r["neighbor_id"] for r in got] == [1, 2, 3]
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["sim"] > 0.99 and got[2]["sim"] == -1.0


def test_srp_signature_deterministic_and_bucketed(spark):
    planes = similarity.srp_planes(4, 2)
    assert all(s in (-1, 1) for p in planes for s in p)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [2.0, 1.0]), (3, [-1.0, -0.5])],
        ["vec_id", "embedding"])
    units = similarity.unit_vectors(emb)
    sigs = {r["vec_id"]: r["b"] for r in units.select(
        "vec_id", similarity.srp_signature(F.col("unit"), planes).alias("b")
    ).collect()}
    assert sigs[1] == sigs[2]          # colinear -> identical signature
    assert len(sigs[1]) == 4 and set(sigs[1]) <= {"0", "1"}


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    # adversarial corpus: 200 identical docs -> every band maps them all
    # to ONE bucket; uncapped that is 200*199/2 pairs, capped it must be
    # exactly C(cap,2) pairs over the cap smallest doc ids
    docs = _docs(spark, [(i, "same boring boilerplate text here") for i in range(200)])
    sig = dedup.minhash_signatures(docs)
    cap = 8
    pairs = dedup.lsh_candidate_pairs(sig, max_bucket=cap).collect()
    assert len(pairs) == cap * (cap - 1) // 2
    kept = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert kept == set(range(cap))          # smallest doc ids kept
    assert all(r["n_shared_bands"] == 4 for r in pairs)
    # uncapped semantics unchanged on a non-degenerate corpus
    norm = _docs(spark, [(1, "x y z w v u"), (2, "x y z w v u"),
                         (3, "something else entirely here now ok")])
    got = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(norm), max_bucket=cap).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]


def test_srp_hot_bucket_cap_bounds_neighbors(spark):
    # 100 colinear vectors share one bucket; neighbor side capped at 6
    # means every query still answers, but only ids 0..5 serve as
    # candidates (minus self)
    emb = spark.createDataFrame(
        [(i, [1.0 + i, 2.0 + i]) for i in range(100)], ["vec_id", "embedding"])
    planes = similarity.srp_planes(4, 2)
    cap = 6
    got = similarity.srp_ann_topk(emb, k=50, planes=planes,
                                  max_bucket=cap).collect()
    per_query = {}
    for r in got:
        per_query.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(per_query) == set(range(100))   # every vector answered
    for q, nbrs in per_query.items():
        assert nbrs == set(range(cap)) - {q}   # candidates = capped prefix


def test_dup_clusters_transitive_min_label(spark):
    # chain 1-2-3, pair 10-11, chain 20-21-22-23 (path graph: needs
    # multiple propagation rounds), singleton docs absent from output
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_dup_clusters_long_chain_converges_fast(spark):
    # 65-node path graph (diameter 64): plain one-hop hash-min would need
    # 64 rounds and silently truncate at max_iter=20; pointer doubling
    # must converge (and raise rather than return wrong labels if not).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dup_clusters(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(65)}


def test_dup_clusters_adaptive_cap_beats_fixed(spark):
    # 1025-node path graph: converges in exactly ceil(log2 1025) = 11
    # doubling rounds.  A fixed cap below that REFUSES (RuntimeError, by
    # contract — never silently-wrong labels); the adaptive default sizes
    # the cap from the node count and passes, recording the measured
    # iteration count as the one-row diagnostic.
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1024)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iter=6).collect()
    got = dedup.dup_clusters(pairs)  # adaptive
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == 1025
    st = dedup.CC_STATS
    assert st["converged"] and st["n_nodes"] == 1025
    assert st["rounds"] <= st["cap"] == 11 + 8
    assert 9 <= st["rounds"] <= 11  # ~log2(diameter), not the 1024 of one-hop


def test_simhash_near_dups_pigeonhole_and_cap(spark):
    # Identical token sets -> hamming 0; one swapped token -> small
    # hamming; unrelated vocabulary -> far beyond max_hamming.
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [
        (1, base),
        (2, base + " alpha"),                       # same token SET -> h=0
        (3, "totally different words everywhere now and then again more"),
    ])
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    assert pairs == {(1, 2): 0}

    # Hot-bucket cap bounds candidates: 6 identical docs, cap 2 -> the
    # banded join only pairs the 2 smallest ids per bucket.
    clones = _docs(spark, [(i, base) for i in range(6)])
    capped = dedup.simhash_near_dups(clones, max_hamming=3, max_bucket=2)
    assert {(r["doc_a"], r["doc_b"]) for r in capped.collect()} == {(0, 1)}


def test_symspell_matches_edit1_complete(spark):
    qs = spark.createDataFrame([("hello",), ("helo",), ("hxllo",),
                                ("hellox",), ("xyz",)], ["w"])
    ds = spark.createDataFrame([("hello",), ("world",)], ["d"])
    got = {(r["q"], r["d"]): r["dist"]
           for r in dedup.symspell_matches(qs, ds, "w", "d").collect()}
    # deletion (helo), substitution (hxllo), insertion (hellox), exact —
    # all within the deletion-neighborhood candidate set
    assert got == {("hello", "hello"): 0, ("helo", "hello"): 1,
                   ("hxllo", "hello"): 1, ("hellox", "hello"): 1}


def test_symspell_bucket_cap_bounds_hot_variant(spark):
    # 50 dictionary words sharing a hot variant (1-char words all collide
    # on the empty-string deletion): the cap bounds candidates per variant.
    ds = spark.createDataFrame([(c,) for c in "abcdefghij"], ["d"])
    qs = spark.createDataFrame([("z",)], ["w"])
    out = dedup.symspell_matches(qs, ds, "w", "d", max_bucket=3).collect()
    # "z" matches via the "" variant only the 3 smallest dict entries
    assert {r["d"] for r in out} <= {"a", "b", "c"}


def test_dedup_eval_queries_invariants(spark):
    """The two round-6 dedup EVAL queries: structural invariants beyond
    the oracle hash — counts consistent, ratios in [0,1], the MinHash
    estimate is within its statistical error of the exact Jaccard on
    average (8 permutations -> stderr ~0.35/pair, far tighter in
    aggregate), and novelty is a valid per-doc ratio."""
    from gcp_serverless_mapreduce_spark.suite.dedup_q import (
        lsh_candidate_precision, minhash_estimate_error,
        shingle_novelty_scores,
    )
    sf = "/root/testdata/sf0.001"
    m = lsh_candidate_precision(spark, sf).collect()[0]
    assert m["n_caught"] <= min(m["n_candidates"], m["n_true"])
    assert 0.0 <= m["lsh_precision"] <= 1.0
    assert 0.0 <= m["lsh_recall"] <= 1.0

    rows = minhash_estimate_error(spark, sf).collect()
    assert rows and len(rows) == m["n_candidates"]
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["jaccard"] <= 1.0
        assert abs(abs(r["est_jaccard"] - r["jaccard"]) - r["abs_err"]) < 2e-6
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.25, mean_err

    nov = shingle_novelty_scores(spark, sf).collect()
    assert all(0.0 <= r["novelty"] <= 1.0 for r in nov)
    assert all(0 <= r["n_novel"] <= r["n_shingles"] for r in nov)
    # every shingle's first occurrence is SOME doc, so summed novel
    # counts equal the corpus's distinct shingle count
    from gcp_serverless_mapreduce_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_distinct = dd.word_shingles(docs).select("shingle").distinct().count()
    assert sum(r["n_novel"] for r in nov) == n_distinct


def test_max_shared_span_ladder(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"
    rows = [
        (0, base),                       # 13 words
        (1, base),                       # identical -> shares a 13-gram
        (2, "x0 " + " ".join(base.split()[:8]) + " y0 y1"),  # 8-run
        (3, "z z w1 w2 w3 q q q"),       # only a 3-run with doc 0
        (4, "a b c d e f g h"),          # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["max_span"]
           for r in dedup.max_shared_span(docs).collect()}
    assert got[(0, 1)] == 13
    assert got[(0, 2)] == 8 and got[(1, 2)] == 8
    assert got[(0, 3)] == 3 and got[(1, 3)] == 3
    assert not any(4 in p for p in got)


def test_max_shared_span_exact_refines_between_rungs(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    rows = [
        (0, base),                                            # 15 words
        (1, base),                                            # exact 15
        # shares words 1..10 with doc 0: ladder (3,5,8,13) reports 8,
        # the refinement must find the true 10
        (2, "x0 " + " ".join(base.split()[:10]) + " y0"),
        # shares only a 4-run: ladder reports 3, exact is 4
        (3, "p q w1 w2 w3 w4 r s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ladder = {(r["doc_a"], r["doc_b"]): r["max_span"]
              for r in dedup.max_shared_span(docs).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["max_span"]
             for r in dedup.max_shared_span_exact(docs).collect()}
    assert set(exact) == set(ladder)     # refinement never adds pairs
    assert ladder[(0, 2)] == 8 and exact[(0, 2)] == 10
    assert ladder[(0, 3)] == 3 and exact[(0, 3)] == 4
    assert exact[(0, 1)] == 15           # full-length identity
    assert all(exact[p] >= ladder[p] for p in ladder)


def test_knn_label_consistency_bounds(spark):
    from gcp_serverless_mapreduce_spark.suite.similarity_q import (
        K, knn_label_consistency)

    rows = knn_label_consistency(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_neighbors"] <= K
        assert 0 <= r["n_agree"] <= r["n_neighbors"]
        assert abs(r["agreement"] - round(r["n_agree"] / r["n_neighbors"], 6)) < 1e-9
    # with 8 random labels, average agreement must sit near chance, far
    # below a labeled-clusters corpus — sanity that the join is not
    # accidentally comparing a label to itself
    avg = sum(r["agreement"] for r in rows) / len(rows)
    assert avg < 0.6


def test_dup_cluster_representatives_pick_quality(spark):
    from gcp_serverless_mapreduce_spark.suite.dedup_q import (
        dup_cluster_representatives, dup_clusters)

    sf = "/root/testdata/sf0.001"
    reps = {r["cluster_id"]: r for r in
            dup_cluster_representatives(spark, sf).collect()}
    clusters = dup_clusters(spark, sf).collect()
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    assert set(reps) == set(by_cluster)
    for cid, members in by_cluster.items():
        assert reps[cid]["n_members"] == len(members)
        assert reps[cid]["rep_doc_id"] in members


def test_lsh_cap_recall_floor_on_zipf_skew_corpus(spark):
    """Skew-stress gate (round-9): on a Zipf-heavy corpus where one
    boilerplate band bucket genuinely overflows the cap, the CAPPED
    candidate generator must still recover >= 90% of the planted
    honest near-dup pairs.  The cap's recall trade-off is documented as
    bounded-to-degenerate-buckets; this measures it instead of assuming
    it."""
    import random

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(400)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]

    def zipf_doc(n: int) -> str:
        return " ".join(rng.choices(vocab, weights=weights, k=n))

    rows, did = [], 0
    # one degenerate boilerplate bucket: 40 identical docs -> every
    # band bucket they land in holds 40 >> cap
    boiler = "the same license header text repeated verbatim every time"
    for _ in range(40):
        rows.append((did, boiler))
        did += 1
    # planted honest near-dups: 15 pairs differing in ONE trailing
    # token (1 of 28 shingles differs -> J ~ 0.93; band collision
    # probability ~ 1 - (1 - J^2)^4 ~ 0.9997 per pair)
    planted = []
    for p in range(15):
        base = zipf_doc(30).split()
        b_toks = list(base)
        b_toks[-1] = f"uniq{p}"
        rows.append((did, " ".join(base)))
        rows.append((did + 1, " ".join(b_toks)))
        planted.append((did, did + 1))
        did += 2
    # Zipf background noise
    for _ in range(60):
        rows.append((did, zipf_doc(25)))
        did += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = dedup.minhash_signatures(docs).localCheckpoint()
    cap = 8

    # the stress is real: at least one uncapped bucket exceeds the cap
    bucket_sizes = (dedup.banded_signatures(sig)
                    .groupBy("band", "band_hash").count().collect())
    n_over_cap = sum(1 for r in bucket_sizes if r["count"] > cap)
    assert n_over_cap >= 1, "fixture failed to overflow any bucket"

    capped = {(r["doc_a"], r["doc_b"])
              for r in dedup.lsh_candidate_pairs(sig, max_bucket=cap)
              .collect()}
    # and the cap actually engaged (fewer pairs than uncapped)
    n_uncapped = dedup.lsh_candidate_pairs(sig).count()
    assert len(capped) < n_uncapped, "cap never truncated a bucket"

    recall = sum(1 for p in planted if p in capped) / len(planted)
    assert recall >= 0.9, \
        f"capped LSH recall {recall:.2f} on planted near-dups < 0.9"


def test_dup_clusters_rounds_exact_on_path_graph(spark):
    # The doubling worst case: on a path graph
    # (diameter n-1) the fixpoint converges in EXACTLY ceil(log2 n)
    # rounds — the measured count CC_STATS records, which the
    # dup_clusters_diagnostics suite query then emits as a one-row
    # telemetry frame.
    import math

    for n in (64, 256):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
        got = dedup.dup_clusters(pairs)
        assert got.filter(F.col("cluster_id") != 0).count() == 0
        st = dedup.CC_STATS
        assert st["rounds"] == math.ceil(math.log2(n)), (n, st)
        assert st["cap"] == math.ceil(math.log2(n)) + 8
        assert st["converged"] and st["n_nodes"] == n


def test_dup_clusters_diagnostics_query_emits_cc_stats(spark):
    # The suite face: one row, long-typed, consistent with the module
    # diagnostic the run just recorded.
    from gcp_serverless_mapreduce_spark.suite.dedup_q import (
        dup_clusters_diagnostics)

    row = dup_clusters_diagnostics(spark, "/root/testdata/sf0.001").collect()
    assert len(row) == 1
    r = row[0]
    st = dedup.CC_STATS
    assert r["n_nodes"] == st["n_nodes"] > 0
    assert r["cap"] == st["cap"]
    assert r["rounds_within_cap"] == 1 and r["converged"] == 1
    assert st["rounds"] <= st["cap"]
