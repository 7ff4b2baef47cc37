"""Randomized cross-implementation checks: each Spark operator runs on
seeded random data and must match an independent pure-Python oracle
written straight from the reference's semantics.  One DataFrame pass per
test covers hundreds of random cases (a per-example hypothesis loop would
pay Spark job latency per case).
"""

from __future__ import annotations

import bisect
import datetime as dt
import random
import re
import unicodedata

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import (
    STOPWORDS, anagram_signature, words)
from gcp_serverless_mapreduce_spark.operators import temporal, textstats
from gcp_serverless_mapreduce_spark.operators.anagram import (
    tokenize_documents)

RNG = random.Random(20260813)
BASE = dt.datetime(2024, 3, 1)


# ---- P5-P9: normalize + signature vs a direct port of the Go semantics ----

def _py_preprocess(word: str) -> str | None:
    """Reference preProcessWord (map.go:82-115): edge-trim non-letters,
    drop stop words and words with any interior non-letter."""
    w = word
    while w and not unicodedata.category(w[0]).startswith("L"):
        w = w[1:]
    while w and not unicodedata.category(w[-1]).startswith("L"):
        w = w[:-1]
    if not w or w in STOPWORDS:
        return None
    if not all(unicodedata.category(c).startswith("L") for c in w):
        return None
    return w


def test_normalize_and_signature_fuzz(spark):
    alphabet = "abcdeé'ç1.-ßπ!" + "xyz"
    toks = ["".join(RNG.choices(alphabet, k=RNG.randint(1, 10)))
            for _ in range(400)] + list(STOPWORDS[:20]) + ["", "...", "a1a"]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(toks)],
                               ["doc_id", "text"])
    got = {(r["word"], r["sorted_word"]) for r in tokenize_documents(df)
           .select("word", anagram_signature(F.col("word"))
                   .alias("sorted_word")).collect()}
    expect = set()
    for w in toks:
        p = _py_preprocess(w)
        if p is not None:
            expect.add((p, "".join(sorted(p))))
    assert got == expect


# ---- P2-P8: fused words() vs strings.Fields + preProcessWord ----------

# Go unicode.IsSpace on Latin-1; \x1c is a Python str.split() separator
# but not a Go one.
_GO_SPACES = "\t\n\x0b\x0c\r \x85\xa0"


def _py_words(text: str | None) -> list[str] | None:
    if text is None:
        return None
    kept = (_py_preprocess(t.lower())
            for t in re.split(f"[{_GO_SPACES}]+", text) if t)
    return list(dict.fromkeys(w for w in kept if w is not None))


def test_words_fuzz(spark):
    rng = random.Random(20261017)
    chars = _GO_SPACES + "\x1c" + "aBcEéÉçÇßªºÿÀ" + "019" + "'.-!;[]/,"
    pieces = list(chars) + [w.upper() for w in STOPWORDS[::9]] + list(
        STOPWORDS[::4]) + ["Race", "CARE", "acre."]
    texts = ["".join(rng.choices(pieces, k=rng.randint(0, 40)))
             for _ in range(2000)] + [None]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {r["i"]: r["w"] for r in df.select(
        "i", words(F.col("t")).alias("w")).collect()}
    assert len(got) == len(texts)
    bad = [(t, got[i], _py_words(t)) for i, t in enumerate(texts)
           if got[i] != _py_words(t)]
    assert not bad, bad[:3]


# ---- as-of join vs bisect oracle --------------------------------------

def test_asof_join_fuzz(spark):
    left = [(i, RNG.randint(0, 9), BASE + dt.timedelta(seconds=RNG.randint(0, 5000)))
            for i in range(300)]
    right_raw = [(RNG.randint(0, 9), BASE + dt.timedelta(seconds=RNG.randint(0, 5000)),
                  round(RNG.uniform(0, 100), 2)) for _ in range(300)]
    # pre-dedupe (key, ts) like the suite query does, keeping max value
    best: dict = {}
    for k, ts, v in right_raw:
        best[(k, ts)] = max(best.get((k, ts), -1.0), v)
    right = [(k, ts, v) for (k, ts), v in best.items()]

    ldf = spark.createDataFrame(left, ["event_id", "user_id", "ts"])
    rdf = spark.createDataFrame(right, ["user_id", "ts", "v"])
    got = {r["event_id"]: (r["v_asof"], r["ts_asof"])
           for r in temporal.asof_join(ldf, rdf, on="user_id").collect()}

    by_key: dict = {}
    for k, ts, v in right:
        by_key.setdefault(k, []).append((ts, v))
    for k in by_key:
        by_key[k].sort()
    for eid, k, ts in left:
        rows = by_key.get(k, [])
        i = bisect.bisect_right([t for t, _ in rows], ts)
        expect = rows[i - 1] if i else (None, None)
        assert got[eid] == (expect[1], expect[0])


# ---- binned range join vs brute force ---------------------------------

def test_range_join_fuzz(spark):
    lo_s, hi_s = 30, 450  # non-zero lo, span 420 (not a divisor of anything)
    left = [(i, RNG.randint(0, 5), BASE + dt.timedelta(
        seconds=RNG.randint(0, 3000), microseconds=RNG.randint(0, 999999)))
        for i in range(150)]
    right = [(RNG.randint(0, 5), BASE + dt.timedelta(
        seconds=RNG.randint(0, 3000), microseconds=RNG.randint(0, 999999)),
        float(i)) for i in range(150)]
    ldf = spark.createDataFrame(left, ["event_id", "user_id", "ts"])
    rdf = spark.createDataFrame(right, ["user_id", "ts", "value"])
    got = {(r["event_id"], r["value"]) for r in temporal.range_join_binned(
        ldf, rdf, lo_s=lo_s, hi_s=hi_s).collect()}
    expect = {
        (eid, v)
        for eid, lk, lts in left
        for rk, rts, v in right
        if lk == rk
        and lts + dt.timedelta(seconds=lo_s) <= rts
        and rts <= lts + dt.timedelta(seconds=hi_s)
    }
    assert got == expect


# ---- rolling fingerprint vs python fold -------------------------------

def test_poly_fingerprint_fuzz(spark):
    texts = ["".join(RNG.choices("abc XYZ09!? ", k=RNG.randint(0, 60)))
             for _ in range(200)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["i", "t"])
    got = {r["i"]: r["fp"] for r in df.select(
        "i", textstats.poly_fingerprint(F.col("t")).alias("fp")).collect()}

    def py_fp(s: str) -> int:
        h = textstats.FP_SEED
        for c in s:
            h = (h * textstats.FP_MULT + ord(c)) % textstats.FP_MOD
        return h

    for i, t in enumerate(texts):
        assert got[i] == py_fp(t), repr(t)


# ---- n-gram jaccard + minhash vs python set oracle --------------------

def _py_shingles(text: str, k: int = 3) -> set:
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_jaccard_and_minhash_fuzz(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup

    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = [(i, " ".join(RNG.choices(vocab, k=RNG.randint(0, 12))))
            for i in range(60)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, threshold=0.0).collect()}
    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i >= j:
                continue
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            inter = len(sa & sb)
            if inter:  # inverted-index plan only emits sharing pairs
                expect[(i, j)] = inter / len(sa | sb)
    assert got.keys() == expect.keys()
    for pair, jac in expect.items():
        assert abs(got[pair] - jac) < 1e-12, pair

    # minhash signature: permutation 0 must equal the python min over
    # md5('0|' + shingle) hex digests
    import hashlib
    sig = {r["doc"]: r["mh_0"]
           for r in dedup.minhash_signatures(df).collect()}
    for i, t in docs:
        sh = _py_shingles(t)
        if not sh:
            assert i not in sig
        else:
            assert sig[i] == min(
                hashlib.md5(f"0|{s}".encode()).hexdigest() for s in sh)


# ---- media codecs: randomized roundtrips (pure Python, no Spark jobs) ----

def test_fuzz_image_codec_roundtrips():
    import numpy as np

    from gcp_serverless_mapreduce_spark.operators import multimodal
    rng = np.random.default_rng(20260813)
    for _ in range(200):
        h = int(rng.integers(1, 12))
        w = int(rng.integers(1, 12))   # odd widths exercise BMP row padding
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(
            multimodal.decode_bmp(multimodal.encode_bmp(arr)), arr)
        assert np.array_equal(
            multimodal.decode_ppm(multimodal.encode_ppm(arr)), arr)


def test_fuzz_wav_codec_roundtrip():
    import numpy as np

    from gcp_serverless_mapreduce_spark.operators import multimodal
    rng = np.random.default_rng(20260813)
    for _ in range(200):
        n = int(rng.integers(1, 2048))
        rate = int(rng.integers(1, 192_001))
        s = rng.integers(-32768, 32768, size=n).astype(np.int16)
        got_rate, got = multimodal.decode_wav(multimodal.encode_wav(s, rate))
        assert got_rate == rate and np.array_equal(got, s)


def test_fuzz_salted_join_equals_plain(spark):
    from gcp_serverless_mapreduce_spark.operators.skew import salted_equijoin
    rng = random.Random(20260813)
    keys = [f"k{i}" for i in range(12)]
    facts = [(i, rng.choice(keys if i % 3 else keys[:2]))  # keys 0-1 hot
             for i in range(400)]
    dims = [(k, len(k) * 10 + i) for i, k in enumerate(keys[:10])]  # 2 keyless
    fdf = spark.createDataFrame(facts, ["row_id", "k"])
    ddf = spark.createDataFrame(dims, ["k", "payload"])
    for n_salts in (1, 3, 8):
        got = sorted(map(tuple, salted_equijoin(
            fdf, ddf, "k", hot_keys=["k0", "k1"], num_salts=n_salts,
            salt_src="row_id").select("k", "row_id", "payload").collect()))
        want = sorted(map(tuple, fdf.join(ddf, "k")
                          .select("k", "row_id", "payload").collect()))
        assert got == want


def test_fuzz_y4m_codec_roundtrip():
    import numpy as np

    from gcp_serverless_mapreduce_spark.operators import multimodal
    rng = np.random.default_rng(20260813)
    for _ in range(100):
        h = int(rng.integers(1, 8))
        w = int(rng.integers(1, 8))
        nf = int(rng.integers(1, 6))
        frames = [rng.integers(0, 256, size=(3, h, w), dtype=np.uint8)
                  for _ in range(nf)]
        gw, gh, got = multimodal.decode_y4m(multimodal.encode_y4m(frames))
        assert (gw, gh, len(got)) == (w, h, nf)
        assert all(np.array_equal(a, b) for a, b in zip(got, frames))
    import pytest
    for bad in (b"YUV4MPEG2 W0 H2 C444\nFRAME\n", b"not a video"):
        with pytest.raises(ValueError):
            multimodal.decode_y4m(bad)


# ---- SymSpell edit-distance-1 matching vs a direct python oracle ------

def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_symspell_fuzz_complete_vs_bruteforce(spark):
    # Small alphabet forces collisions, near-misses, and exact dupes.
    from gcp_serverless_mapreduce_spark.operators import dedup

    words = list({"".join(RNG.choices("abc", k=RNG.randint(1, 5)))
                  for _ in range(120)})
    half = len(words) // 2
    qs, ds = words[:half], words[half:]
    got = {(r["q"], r["d"]): r["dist"] for r in dedup.symspell_matches(
        spark.createDataFrame([(w,) for w in qs], ["w"]),
        spark.createDataFrame([(w,) for w in ds], ["d"]),
        "w", "d", max_bucket=10**6).collect()}
    # brute-force oracle: EVERY pair within levenshtein <= 1 must appear —
    # the deletion-neighborhood candidate set is complete at distance 1,
    # so the operator misses nothing (with the cap disabled)
    expect = {(q, d): _py_lev(q, d)
              for q in qs for d in ds if _py_lev(q, d) <= 1}
    assert got == expect


def test_pack_sequences_fuzz_vs_python(spark):
    from gcp_serverless_mapreduce_spark.operators import curation

    docs = [(i, f"s{RNG.randint(0, 2)}",
             " ".join("w" for _ in range(RNG.randint(1, 30))))
            for i in range(150)]
    budget = 37
    got = {(r["source"], r["pack_id"]):
           (r["n_docs"], r["token_sum"], r["overflowed"])
           for r in curation.pack_sequences(
               spark.createDataFrame(docs, ["doc_id", "source", "text"]),
               budget).collect()}
    packs: dict[tuple, list[int]] = {}
    cums: dict[str, int] = {}
    for i, src, text in sorted(docs):
        n = len(text.split())
        start = cums.get(src, 0)
        cums[src] = start + n
        packs.setdefault((src, start // budget), []).append(n)
    expect = {k: (len(v), sum(v), sum(v) > budget) for k, v in packs.items()}
    assert got == expect


# ---- exact shared-span refinement vs a brute-force LCS oracle ----

def _py_lcs_tokens(a: list[str], b: list[str]) -> int:
    """Longest common contiguous token run, classic O(n·m) DP — the
    independent oracle for the binary-search refinement (which never
    runs a DP) and for the SQL twin's diagonal-run fold."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        ai = a[i - 1]
        for j in range(1, len(b) + 1):
            if ai == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def test_max_shared_span_exact_matches_lcs_oracle(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup

    rng = random.Random(20260814)
    vocab = ["red", "blue", "ox", "fig", "elm", "yew"]
    toks = {i: [rng.choice(vocab) for _ in range(rng.randint(0, 28))]
            for i in range(50)}
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in toks.items()],
        "doc_id long, text string")
    # df cap far above any gram frequency here -> candidate set is
    # exactly {pairs sharing some 3-gram} = {pairs with LCS >= 3}
    got = {(r["doc_a"], r["doc_b"]): r["max_span"]
           for r in dedup.max_shared_span_exact(
               docs, df_max=10**6).collect()}
    want = {}
    for i in toks:
        for j in toks:
            if i < j:
                n = _py_lcs_tokens(toks[i], toks[j])
                if n >= 3:
                    want[(i, j)] = n
    assert got == want
