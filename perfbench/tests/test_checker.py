"""Self-test of the benchmark's output checker: planted wrong answers
must be flagged, right answers must pass.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checker, corpus  # noqa: E402
from pysearch import analysis  # noqa: E402
from pysearch.oracle import BruteForceIndex  # noqa: E402


@pytest.fixture(scope="module")
def oracle():
    pdf = corpus.generate(5, 300)
    return BruteForceIndex(pdf["doc_id"].tolist(), pdf["text"].tolist())


@pytest.fixture(scope="module")
def answer(oracle):
    head = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    got = oracle.search([head], k=10)
    assert len(got) == 10
    return got


def test_right_answer_passes(answer):
    assert checker.check_topk(list(answer), answer) is None


def test_swapped_rank_is_flagged(answer):
    bad = list(answer)
    bad[2], bad[3] = bad[3], bad[2]
    assert checker.check_topk(bad, answer) is not None


def test_score_one_float32_ulp_off_is_flagged(answer):
    bad = list(answer)
    d, s = bad[0]
    bad[0] = (d, float(np.nextafter(np.float32(s), np.float32(np.inf))))
    assert checker.check_topk(bad, answer) is not None


def test_score_beyond_rtol_is_flagged(answer):
    # far below float32 resolution: only the rtol=1e-12 criterion sees it
    bad = list(answer)
    d, s = bad[0]
    bad[0] = (d, s * (1 + 1e-9))
    assert np.float32(bad[0][1]) == np.float32(s)
    assert checker.check_topk(bad, answer) is not None


def test_float32_cast_mismatch_is_flagged():
    # within rtol=1e-12, but on either side of a float32 rounding midpoint
    lo = np.float32(3.5)
    mid = (float(lo) + float(np.nextafter(lo, np.float32(4)))) / 2
    got, expect = [(1, mid * (1 - 1e-13))], [(1, mid * (1 + 1e-13))]
    assert np.float32(got[0][1]) != np.float32(expect[0][1])
    assert checker.check_topk(got, expect) is not None


def test_dropped_row_is_flagged(answer):
    assert checker.check_topk(answer[:-1], answer) is not None


def test_rounded_check_flags_each_planted_error(answer):
    assert checker.check_rounded(list(answer), answer, 4) is None
    swapped = list(answer)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert checker.check_rounded(swapped, answer, 4) is not None
    assert checker.check_rounded(answer[1:], answer, 4) is not None


def test_view_oracle_drops_deletes_after_overfetch(oracle, answer):
    top = [d for d, _ in answer]
    got = checker.view_oracle(oracle, [max(oracle.postings,
                                           key=lambda t: len(oracle.postings[t]))],
                              k=5, mode="or", deletes=frozenset(top[:3]))
    assert [d for d, _ in got] == top[3:8]


def test_query_stream_is_seeded_and_covers_every_kind(oracle):
    texts = [""] * oracle.n_docs
    for term, plist in oracle.postings.items():
        for i, tf in plist.items():
            texts[i] += (" " + term) * tf
    a = corpus.query_stream(1, oracle.postings, texts, n=22)
    b = corpus.query_stream(1, oracle.postings, texts, n=22)
    assert a == b
    assert len(a) == 2 * len(corpus.QUERY_KINDS)
    kinds = dict(zip(corpus.QUERY_KINDS, a))
    assert analysis.analyze(kinds["stop"][0]) == []
    assert oracle.search(analysis.analyze(kinds["absent"][0])) == []
    assert oracle.search(analysis.analyze(kinds["and4"][0]), mode="and")
    assert (kinds["k1"][1], kinds["k100"][1]) == (1, 100)
