"""Randomized cross-implementation checks for the sketch and BPE
operators: seeded random data, one DataFrame pass per test, independent
pure-Python oracles (same style as tests/test_fuzz_oracle.py)."""

from __future__ import annotations

import collections
import hashlib
import random
import re

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import sketches, textstats

RNG = random.Random(20260814)


def test_cms_fuzz_upper_bound_and_heavy_exact(spark):
    # Zipf-ish stream over a 60-word alphabet: CMS must upper-bound every
    # key, and (grid 4x512 vs 60 keys) collisions should leave the top
    # keys' estimates exact with overwhelming probability.
    vocab = [f"w{i}" for i in range(60)]
    stream = [vocab[min(int(RNG.paretovariate(1.2)), 59)]
              for _ in range(5000)]
    exact = collections.Counter(stream)
    df = spark.createDataFrame([(w,) for w in stream], "key string")
    sketch = sketches.cms_build(df)
    est = {r["key"]: r["cms_est"] for r in sketches.cms_estimate(
        df.distinct(), sketch).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    top = [k for k, _ in exact.most_common(5)]
    assert sum(est[k] == exact[k] for k in top) >= 4


def _py_kmv(keys: set, k: int) -> float:
    hs = sorted(int(hashlib.md5(key.encode()).hexdigest()[:12], 16)
                for key in keys)
    if len(hs) < k:
        return float(len(hs))
    return sketches.KMV_NUMER / float(hs[k - 1])


def test_kmv_fuzz_matches_python_oracle(spark):
    rows = [(f"g{RNG.randint(0, 2)}", f"user-{RNG.randint(0, 400)}")
            for _ in range(3000)]
    df = spark.createDataFrame(rows, "grp string, key string")
    got = {r["grp"]: r["kmv_est"] for r in
           sketches.kmv_distinct(df, "grp", "key").collect()}
    want = {}
    by_grp = collections.defaultdict(set)
    for g, u in rows:
        by_grp[g].add(u)
    for g, keys in by_grp.items():
        want[g] = round(_py_kmv(keys, sketches.KMV_K), 6)
    assert got.keys() == want.keys()
    assert all(abs(got[g] - want[g]) < 1e-6 for g in want)


def _py_bpe(text: str) -> str:
    s = text.strip().lower()
    s = s.replace("\\", "\\\\").replace("<", "\\l").replace(">", "\\g")
    s = re.sub(r"(\\[\\lg]|\S)", r"<\1>", s)
    for a, b in textstats.BPE_MERGES:
        s = s.replace(f"<{a}><{b}>", f"<{a}{b}>")
    return s


def test_bpe_pieces_fuzz_matches_python_replace(spark):
    # Random strings over an alphabet rich in merge-table letters,
    # including adjacency chains (th+e, k+e+y), multi-space runs, and
    # the delimiter-colliding chars '<' '>' '\\' (escaped as units).
    alpha = "theanrostlikwy <>\\"
    texts = ["".join(RNG.choices(alpha, k=RNG.randint(0, 40)))
             for _ in range(300)] + ["", "   ", "the the keythe", "<<>\\"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r[1] for r in df.select(
        "doc_id", textstats.bpe_pieces(F.col("text"))).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_bpe(t), f"doc {i}: {t!r}"


def test_bpe_piece_count_bounds(spark):
    # Pieces never exceed symbol count (merges only shrink) and the
    # piece stream re-concatenates to the original non-space chars.
    texts = ["the quick keys are there", "ha has khass", "aaa bbb the",
             "<b>the</b> \\ there"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    rows = textstats.bpe_piece_stats(df).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for i, t in enumerate(texts):
        raw = re.sub(r"\s", "", t.strip().lower())
        r = by_id[i]
        assert r["n_chars_sym"] == len(raw)
        assert r["n_pieces"] <= len(raw)
        pieces = re.findall(r"<([^>]*)>", _py_bpe(t))
        unescaped = re.sub(r"\\([\\lg])",
                           lambda m: {"\\": "\\", "l": "<", "g": ">"}
                           [m.group(1)], "".join(pieces))
        assert unescaped == raw
        assert len(pieces) == r["n_pieces"]


def _py_learn_bpe(texts, rounds, min_pair, batch):
    """Independent Python oracle of textstats.learn_bpe_merges (batched):
    same unit wrapping, candidate ranking, non-interference keep rule,
    and in-order replace application."""
    def esc(t):
        return (t.replace("\\", "\\\\").replace("<", "\\l")
                .replace(">", "\\g"))
    corpus = [re.sub(r"(\\[\\lg]|\S)", r"<\1>", esc(t.strip().lower()))
              for t in texts]
    merges = []
    for _ in range(rounds):
        cnt = collections.Counter()
        for s in corpus:
            for word in s.split(" "):
                syms = re.findall(r"<([^>]+)>", word)
                for a, b in zip(syms, syms[1:]):
                    cnt[(a, b)] += 1
        cand = sorted(((a, b, c) for (a, b), c in cnt.items()
                       if c >= min_pair),
                      key=lambda t: (-t[2], t[0], t[1]))[:batch]
        if not cand:
            break
        # non-interference keep rule (matches operators/textstats.py):
        # no shared symbol, no symbol equal to a higher-ranked merge's
        # concatenation, own concatenation not a higher-ranked symbol.
        # The concat clauses are DEFENSIVE: a 40k-corpus randomized
        # search found no reachable state where they change the result
        # (the greedy left-to-right replace appears to consume the
        # adjacencies such a collision needs), but they make each batch
        # locally sound without a global reachability argument.
        kept = [x for i, x in enumerate(cand)
                if not any(y[0] in (x[0], x[1]) or y[1] in (x[0], x[1])
                           or (y[0] + y[1]) in (x[0], x[1])
                           or (x[0] + x[1]) in (y[0], y[1])
                           for y in cand[:i])]
        for a, b, c in kept:
            merges.append((len(merges) + 1, a, b, c))
            corpus = [s.replace(f"<{a}><{b}>", f"<{a}{b}>")
                      for s in corpus]
    return merges


def test_bpe_learn_batched_matches_python_oracle(spark):
    alpha = "theanrostlikwy "
    texts = ["".join(RNG.choices(alpha, k=RNG.randint(0, 40)))
             for _ in range(200)] + ["the the the keythe", "aaa aaaa aa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = [(r["rank"], r["sym_a"], r["sym_b"], r["pair_count"])
           for r in textstats.learn_bpe_merges(df).collect()]
    got.sort()
    want = _py_learn_bpe(texts, textstats.BPE_LEARN_ROUNDS,
                         textstats.BPE_MIN_PAIR, textstats.BPE_BATCH)
    assert got == want
    assert [r for r, *_ in got] == list(range(1, len(got) + 1))


def test_bpe_learn_batching_engages_on_disjoint_pairs(spark):
    # Four symbol-disjoint frequent bigrams: one round must learn ALL
    # of them (counts desc: ab, cd, ef, gh), proving batching engages
    # and that disjoint merges keep their exact counts.
    texts = ["ab " * 9 + "cd " * 8 + "ef " * 7 + "gh " * 6] * 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = [(r["rank"], r["sym_a"], r["sym_b"], r["pair_count"])
           for r in textstats.learn_bpe_merges(df, rounds=1).collect()]
    assert got == [(1, "a", "b", 27), (2, "c", "d", 24),
                   (3, "e", "f", 21), (4, "g", "h", 18)]
    assert got == _py_learn_bpe(texts, 1, textstats.BPE_MIN_PAIR,
                                textstats.BPE_BATCH)


def test_bloom_fuzz_matches_python_oracle(spark):
    # Random keys in and out of the filter: Spark's literal-bitmap probe
    # must agree with a pure-Python bloom bit-for-bit, FPs included.
    inserted = {f"k{RNG.randint(0, 5000)}" for _ in range(400)}
    probes = list(inserted) + [f"q{RNG.randint(0, 5000)}"
                               for _ in range(800)]
    keys = spark.createDataFrame([(k,) for k in sorted(inserted)],
                                 "key string")
    bitmap = sketches.bloom_bitmap(sketches.bloom_build(keys))

    def py_pos(key, seed):
        return int(hashlib.md5(f"{seed}|{key}".encode()).hexdigest()[:8],
                   16) % sketches.BLOOM_M

    def py_hit(key):
        return all(
            (bitmap[py_pos(key, s) // 64] >> (py_pos(key, s) % 64)) & 1
            for s in range(sketches.BLOOM_K))

    pf = spark.createDataFrame([(k,) for k in probes], "key string")
    got = {r["key"]: r["hit"] for r in pf.select(
        "key", sketches.bloom_hit_expr(F.col("key"), bitmap).alias("hit")
    ).collect()}
    assert all(got[k] == py_hit(k) for k in probes)
    assert all(got[k] for k in inserted)


def test_power_iteration_fuzz_matches_python_oracle(spark):
    # Random small embedding matrix: the distributed Gram + driver
    # iteration must equal a from-scratch pure-Python replication.
    import math

    from gcp_serverless_mapreduce_spark.operators import profiling

    dim = 5
    vecs = [[RNG.uniform(-0.6, 0.6) for _ in range(dim)]
            for _ in range(25)]
    df = spark.createDataFrame([(v,) for v in vecs],
                               "embedding array<double>")
    traj = profiling.pc1_trajectory(df, dim, rounds=5)

    q = [[math.floor(x * profiling.PI_EMB_Q) for x in v] for v in vecs]
    G = [[sum(r[i] * r[j] for r in q) for j in range(dim)]
         for i in range(dim)]
    v = [profiling.PI_SCALE] * dim
    want = [list(v)]
    for _ in range(5):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in w)
        v = [0] * dim if mx == 0 else [(x * profiling.PI_SCALE) // mx
                                       for x in w]
        want.append(list(v))
    assert traj == want


def _py_hll_registers(keys) -> dict[int, int]:
    """Pure-Python HLL register oracle (same md5/48-bit convention)."""
    regs: dict[int, int] = {}
    for key in keys:
        h = int(hashlib.md5(key.encode()).hexdigest()[:12], 16)
        idx, rest = h >> sketches.HLL_REST_BITS, h % sketches.HLL_REST_MOD
        rho = (sketches.HLL_MAX_RHO if rest == 0
               else sketches.HLL_MAX_RHO - rest.bit_length())
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


def test_hll_fuzz_registers_and_estimate_match_python(spark):
    # 1500 random keys (dups included): every register must match the
    # pure-Python build bit-for-bit, and the estimate must equal the
    # same closed-form evaluated in Python (all terms are exact powers
    # of two, so equality is exact, not approximate).
    keys = [f"k{RNG.randrange(900)}" for _ in range(1500)]
    df = spark.createDataFrame([("g", k) for k in keys],
                               "grp string, key string")
    got = {r["idx"]: r["r"] for r in
           sketches.hll_state(df, "grp", "key").collect()}
    want = _py_hll_registers(keys)
    assert got == want

    est = sketches.hll_estimate(
        sketches.hll_state(df, "grp", "key"), "grp").collect()[0]
    s = sum(1.0 / (1 << r) for r in want.values()) \
        + (sketches.HLL_M - len(want))
    assert est["hll_est"] == sketches.HLL_NUMER / s
    assert est["registers_used"] == len(want)


def test_fim_fuzz_split_bounds_over_random_lengths(spark):
    # Random doc lengths down to the minimum: splits always give three
    # non-empty segments and reassemble to the original text.
    from gcp_serverless_mapreduce_spark.suite.layout_q import FIM_MIN_CHARS
    rows = []
    for i in range(200):
        n = RNG.randrange(FIM_MIN_CHARS, 120)
        rows.append((i, "".join(RNG.choice("abcdef gh")
                                for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    did = F.col("doc_id").cast("string")

    def seeded(seed):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), did)), 1, 8),
            16, 10).cast("long")

    n = F.length("text")
    s1 = F.lit(1) + seeded("f1") % (n - 2)
    s2 = s1 + 1 + seeded("f2") % (n - s1 - 1)
    parts = df.select(
        "doc_id", "text",
        F.substr("text", F.lit(1), s1).alias("p"),
        F.substr("text", s1 + 1, s2 - s1).alias("m"),
        F.substr("text", s2 + 1, n - s2).alias("s"))
    for r in parts.collect():
        assert len(r["p"]) >= 1 and len(r["m"]) >= 1 and len(r["s"]) >= 1
        assert r["p"] + r["m"] + r["s"] == r["text"]
