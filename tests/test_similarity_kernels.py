"""Driver-side pins of the bucket top-k kernel that the four ANN searches
share: ``similarity.fold_dot`` adds one dimension at a time, left to
right from 0.0 (the DuckDB oracle's ``list_reduce`` order), and
``similarity.topk_rows`` ranks each query's candidates by score, then by
the smaller neighbor id, never ranking the query itself and dropping NaN
scores.  Every case is checked against a plain-Python fold and sort."""

from __future__ import annotations

import math

import numpy as np
import pytest

from gcp_serverless_mapreduce_spark.operators.similarity import (
    fold_dot, topk_rows)

NAN = float("nan")


def _py_fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_topk(qids, cids, scores, k):
    """ORDER BY score DESC, neighbor_id per query, without self pairs or
    NaN scores, first k kept."""
    out = []
    for q, row in zip(qids, scores):
        cand = sorted((-s, c) for c, s in zip(cids, row)
                      if c != q and not math.isnan(s))
        out += [(q, c, r, -s) for r, (s, c) in enumerate(cand[:k], 1)]
    return out


def _unit(rows):
    m = np.asarray(rows, dtype=np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


_E = np.eye(4)
_RNG = np.random.default_rng(5)
_R = _unit(_RNG.standard_normal((4, 16)))
# int8 codes near the top of their range: row scores sit near 127²·64 and
# the two candidates of query 0 differ by exactly 1
_Q8 = np.full((2, 64), 127, dtype=np.int64)
_Q8[0, -1] = 1
_C8 = np.full((3, 64), 127, dtype=np.int64)
_C8[1, -1] = 126
_C8[2] = -_C8[2]

# (qids, cids, query vectors, candidate vectors or None, k, expected
# (query_id, neighbor_id, rank) rows of the queries they name); with no
# candidate vectors the third entry is the score matrix itself
CASES = [
    pytest.param([9], [1, 2, 3, 4], _E[[0]], _E[[0, 1, 0, 0]], 3,
                 [(9, 1, 1), (9, 3, 2), (9, 4, 3)], id="ties_to_smaller_id"),
    pytest.param([3, 5, 7, 9], [3, 5, 7, 9], _R, _R, 1,
                 None, id="self_inside_candidates"),
    pytest.param([3, 5, 7, 9], [3, 5], _R, _R[:2], 2,
                 [(3, 5, 1), (5, 3, 1)], id="self_beyond_cap"),
    pytest.param([1, 2, 3], [1, 2, 3], _R[:3], _R[:3], 10,
                 None, id="bucket_smaller_than_k"),
    pytest.param([1, 2], [1, 2, 3, 4],
                 np.array([[0.5, NAN, 0.9, 0.1], [NAN, 0.3, 0.3, NAN]]),
                 None, 3, [(1, 3, 1), (1, 4, 2), (2, 3, 1)],
                 id="nan_scores_dropped"),
    pytest.param([0, 1], [2, 3, 4], _Q8, _C8, 2,
                 [(0, 2, 1), (0, 3, 2), (1, 2, 1), (1, 3, 2)],
                 id="int8_scores_exact"),
]


@pytest.mark.parametrize("qids,cids,qv,cv,k,expected", CASES)
def test_topk_rows_matches_python_sort(qids, cids, qv, cv, k, expected):
    if cv is None:
        scores = qv
    elif qv.dtype == np.int64:
        # the sq8 path: exact int64 dot, ranked as float64 (< 2^53)
        scores = (qv @ cv.T).astype(np.float64)
        want = [[sum(int(x) * int(y) for x, y in zip(a, b)) for b in cv]
                for a in qv]
        assert scores.astype(np.int64).tolist() == want
        assert scores.max() > 127 * 127 * 63
    else:
        scores = fold_dot(qv, cv)
        want = [[_py_fold(a.tolist(), b.tolist()) for b in cv] for a in qv]
        assert scores.tolist() == want               # bit-identical fold

    got = list(zip(*(a.tolist() for a in topk_rows(
        np.asarray(qids, dtype=np.int64), np.asarray(cids, dtype=np.int64),
        scores, k))))
    assert got == _py_topk(qids, cids, scores.tolist(), k)
    assert all(q != n for q, n, _, _ in got)
    per_query = {q: sum(1 for g in got if g[0] == q) for q in qids}
    assert all(n == min(k, len(set(cids) - {q}))
               for q, n in per_query.items() if cv is not None)
    if expected is not None:
        shown = {e[0] for e in expected}
        assert [g[:3] for g in got if g[0] in shown] == expected
