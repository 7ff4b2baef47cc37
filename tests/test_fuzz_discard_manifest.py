"""Randomized cross-implementation check for the exact-substring discard
manifest: the Spark operator (Arrow diagonal-run kernel + interval-merge
windows) must match an independent pure-Python oracle written straight
from the Lee et al. 2022 semantics — discovery, maximal-common-run
extraction, keep-first range assignment, and interval merging all
re-derived from scratch (no shared code with operators/dedup.py).

Seeded random corpora are built to stress the interesting structure:
small vocabularies (forcing long accidental shared runs), planted
verbatim spans copied between docs at random offsets, docs shorter than
the discovery rung, and multi-partner overlap (the same region of one
doc shared with several lower docs, exercising the merge sweep).
"""

from __future__ import annotations

import random

from gcp_serverless_mapreduce_spark.operators import dedup

RNG = random.Random(20260816)
MIN_LEN = 8
NS = (8, 13)
DF_MAX = 10_000  # never binds: the reference below models the uncapped contract


def _grams(toks, n):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _max_runs_in_b(ta, tb, min_len):
    """All maximal common runs >= min_len as [start, end) ranges in tb —
    direct O(|a|*|b|) dynamic program, independent of the kernel's
    diagonal-dict walk."""
    la, lb = len(ta), len(tb)
    run = [[0] * (lb + 1) for _ in range(la + 1)]
    ranges = set()
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            if ta[i - 1] == tb[j - 1]:
                run[i][j] = run[i - 1][j - 1] + 1
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            ln = run[i][j]
            if ln >= min_len:
                # maximal along its diagonal: not extendable at (i+1, j+1)
                if i == la or j == lb or ta[i] != tb[j]:
                    ranges.add((j - ln, j))
    return ranges


def _merge(ranges):
    out = []
    for s, e in sorted(ranges):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _py_manifest(docs):
    toks = {d: t.strip().lower().split() for d, t in docs}
    ids = sorted(toks)
    per_doc: dict[int, set] = {}
    for bi, b in enumerate(ids):
        for a in ids[:bi]:
            # discovery: any shared ladder gram (df cap non-binding here)
            if not any(_grams(toks[a], n) & _grams(toks[b], n) for n in NS):
                continue
            per_doc.setdefault(b, set()).update(
                _max_runs_in_b(toks[a], toks[b], MIN_LEN))
    return {d: _merge(r) for d, r in per_doc.items() if r}


def _random_corpus(rng):
    vocab = [f"w{i}" for i in range(rng.randint(4, 12))]
    docs = []
    for d in range(rng.randint(4, 9)):
        n = rng.choice([0, 3, 7, rng.randint(8, 40), rng.randint(8, 40)])
        toks = [rng.choice(vocab) for _ in range(n)]
        # plant a verbatim span copied from an earlier doc
        if docs and rng.random() < 0.7:
            src = rng.choice(docs)[1].split()
            if len(src) >= MIN_LEN:
                k = rng.randint(MIN_LEN, min(len(src), MIN_LEN + 6))
                i = rng.randint(0, len(src) - k)
                at = rng.randint(0, len(toks))
                toks[at:at] = src[i:i + k]
        docs.append((d, " ".join(toks)))
    return docs


def test_discard_manifest_matches_bruteforce(spark):
    cases = [_random_corpus(RNG) for _ in range(12)]
    # one Spark pass over the union of all cases: offset doc ids so
    # cases can't interact (ids are spaced by 1000 per case)
    rows = [(ci * 1000 + d, text)
            for ci, docs in enumerate(cases) for d, text in docs]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict[int, list] = {}
    for r in dedup.substring_discard_manifest(
            df, min_len=MIN_LEN, ns=NS, df_max=DF_MAX).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["range_start"], r["range_end"]))
        assert r["n_tokens"] == r["range_end"] - r["range_start"]
    got = {d: sorted(v) for d, v in got.items()}

    want = {}
    for ci, docs in enumerate(cases):
        for d, ranges in _py_manifest(docs).items():
            want[ci * 1000 + d] = sorted(ranges)
    assert got == want


def test_inline_band_hashes_fuzz_both_variants(spark):
    # Arrow and SQL-expression band hashes must agree with each other
    # and with the batch minhash+banding path on random ASCII corpora
    # (the documented tokenization-parity domain), including docs below
    # the shingle threshold and empty/whitespace-only docs.
    vocab = [f"t{i}" for i in range(30)] + ["a", "bb", "ccc"]
    rows = []
    for d in range(120):
        n = RNG.choice([0, 1, 2, 3, RNG.randint(3, 50)])
        rows.append((d, " ".join(RNG.choice(vocab) for _ in range(n))))
    rows += [(200, ""), (201, "   "), (202, "x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    batch: dict[int, dict] = {}
    for r in dedup.banded_signatures(
            dedup.minhash_signatures(df, 8), 4, 2).collect():
        batch.setdefault(r["doc"], {})[r["band"]] = r["band_hash"]
    for arrow in (True, False):
        inline = {r["doc_id"]: list(r["b"]) for r in df.select(
            "doc_id",
            dedup.inline_band_hashes(8, 4, 2, arrow=arrow).alias("b"))
            .collect()}
        for d, _txt in rows:
            if d in batch:
                assert inline[d] == [batch[d][b] for b in range(4)], \
                    (arrow, d)
            else:
                assert inline[d] == [], (arrow, d)
