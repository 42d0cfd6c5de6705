"""Self-test of the oracle and the answer checks.

    python -m pytest searchbench/test_check.py -q -p no:cacheprovider

A tiny corpus with hand-computed BM25 scores must pass; planted errors (a
dropped doc, a doc lacking a required term, a score off by 1e-4, an order
swap beyond tolerance) must all be flagged; a 1-ulp tie swap must pass.
"""

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from check import Membership, check_count, check_properties, check_ranked  # noqa: E402

K = 10
DOCS = {0: "Alpha beta", 1: "alpha ALPHA, gamma", 2: "beta-gamma delta"}
N = 3
AVGDL = 8 / 3
# Norm bytes by hand: a byte315 keeps the exponent and 3 mantissa bits, the
# implicit leading 1 included.  1/sqrt(2) = 1.414*2^-1 -> 1.25*2^-1 = 0.625;
# 1/sqrt(3) = 1.155*2^-1 -> 1.0*2^-1 = 0.5.  BM25 uses 1/f^2 of those.
DECODED = {2: 1 / 0.625**2, 3: 1 / 0.5**2}
LEN = {0: 2, 1: 3, 2: 3}
TF = {("alpha", 0): 1, ("alpha", 1): 2, ("beta", 0): 1, ("beta", 2): 1,
      ("gamma", 1): 1, ("gamma", 2): 1, ("delta", 2): 1}


def hand_score(term: str, doc: int, freq: float | None = None, idf_terms=None) -> float:
    idf = sum(
        math.log(1 + (N - df + 0.5) / (df + 0.5))
        for df in (sum(1 for (t, _d) in TF if t == x) for x in (idf_terms or [term]))
    )
    tf = TF[(term, doc)] if freq is None else freq
    norm = 1.2 * (0.25 + 0.75 * DECODED[LEN[doc]] / AVGDL)
    return idf * 2.2 * tf / (tf + norm)


def tiny() -> oracle.Corpus:
    terms = {"alpha", "beta", "gamma", "delta"}
    part = oracle._scan_texts(list(DOCS), list(DOCS.values()), frozenset(terms), frozenset(terms))
    return oracle.Corpus([part], terms, terms)


def expected(docs_scores) -> list:
    return sorted(docs_scores, key=lambda x: (-x[1], x[0]))


def test_smallfloat_matches_hand_values():
    assert oracle.float_to_byte315(1 / math.sqrt(2)) == oracle.norm_byte(2)
    assert float(oracle.byte315_to_float(oracle.norm_byte(2))) == 0.625
    assert float(oracle.byte315_to_float(oracle.norm_byte(3))) == 0.5
    assert oracle.float_to_byte315(0.0) == 0 and oracle.byte315_to_float(0) == 0.0


def test_hand_computed_corpus_passes():
    c = tiny()
    assert oracle.tokenize("Alpha beta-GAMMA x" + "y" * 300) == ["alpha", "beta", "gamma"]
    got = oracle.ranked(*c.score_terms(["alpha", "beta", "alpha"], False), K)
    hand = expected([
        (0, hand_score("alpha", 0) + hand_score("beta", 0)),
        (1, hand_score("alpha", 1)),
        (2, hand_score("beta", 2)),
    ])
    assert got["hits"] == 3
    assert check_ranked(hand, got, K) is None
    conj = oracle.ranked(*c.score_terms(["alpha", "gamma"], True), K)
    assert check_ranked([(1, hand_score("alpha", 1) + hand_score("gamma", 1))], conj, K) is None
    pair = ["alpha", "beta"]
    phrase = oracle.ranked(*c.score_phrase("alpha", "beta", "phrase", 0), K)
    assert check_ranked([(0, hand_score("alpha", 0, 1.0, pair))], phrase, K) is None
    near = oracle.ranked(*c.score_phrase("alpha", "gamma", "near", 0), K)
    assert check_ranked([(1, hand_score("alpha", 1, 1.0, ["alpha", "gamma"]))], near, K) is None
    assert oracle.ranked(*c.score_phrase("gamma", "alpha", "near", 5), K)["hits"] == 0
    assert check_count(2, int(c.docs_with(["alpha", "delta"], True).size + 2)) is None


def synthetic(n: int = 14) -> dict:
    """An oracle answer with distinct, well separated scores."""
    docs = np.arange(100, 100 + n)
    scores = np.linspace(5.0, 1.0, n).astype(np.float32)
    return oracle.ranked(docs, scores, K)


def test_planted_errors_are_flagged():
    exp = synthetic()
    good = [(d, s) for d, s in exp["top"][:K]]
    assert check_ranked(good, exp, K) is None
    dropped = good[:4] + good[5:]
    assert check_ranked(dropped, exp, K) is not None
    eleventh = (100 + K, float(np.linspace(5.0, 1.0, 14).astype(np.float32)[K]))
    replaced = good[:4] + good[5:] + [eleventh]
    assert check_ranked(replaced, exp, K) is not None
    foreign = good[:-1] + [(999, good[-1][1])]  # lacks a required term
    assert check_ranked(foreign, exp, K) is not None
    off = list(good)
    off[3] = (off[3][0], off[3][1] * (1 + 1e-4))
    assert check_ranked(off, exp, K) is not None
    swapped = list(good)
    swapped[2], swapped[3] = swapped[3], swapped[2]
    assert check_ranked(swapped, exp, K) is not None
    c = tiny()
    conj = oracle.ranked(*c.score_terms(["alpha", "gamma"], True), K)
    lacking = conj["top"] + [(0, conj["top"][0][1])]  # doc 0 has no gamma
    assert check_ranked(lacking, conj, K) is not None


def test_one_ulp_tie_swap_passes():
    s = np.float32(2.5)
    t = np.nextafter(s, np.float32(0.0))
    exp = oracle.ranked(np.array([7, 8, 9]), np.array([s, t, np.float32(1.0)]), K)
    assert check_ranked([(7, float(s)), (8, float(t)), (9, 1.0)], exp, K) is None
    assert check_ranked([(8, float(t)), (7, float(s)), (9, 1.0)], exp, K) is None
    # an exact tie must still break by doc id
    tie = oracle.ranked(np.array([7, 8]), np.array([s, s]), K)
    assert check_ranked([(8, float(s)), (7, float(s))], tie, K) is not None


def test_ties_at_the_kth_rank_extend_the_expected_list():
    scores = np.array([3.0] * 9 + [2.0] * 4, dtype=np.float32)
    exp = oracle.ranked(np.arange(13), scores, K)
    assert len(exp["top"]) == 13
    # any one of the docs tied at rank k may fill it, a lower one may not
    assert check_ranked([(i, 3.0) for i in range(9)] + [(11, 2.0)], exp, K) is None
    assert check_ranked([(i, 3.0) for i in range(9)] + [(9, 2.0)], exp, K) is None
    assert check_ranked([(i, 3.0) for i in range(9)] + [(13, 1.0)], exp, K) is not None


def test_property_checks():
    ids = np.array([1, 2, 3, 4, 5])
    mem = Membership(ids, {"t": np.array([1, 1, 1, 0, 1], bool)})
    live = np.array([1, 1, 0, 1, 1], bool)  # doc 3 deleted
    n = mem.live_count(["t"], False, live)
    assert n == 3

    def match(d):
        return mem.has("t", d)

    assert check_properties([(5, 2.0), (1, 1.0), (2, 1.0)], K, match, {3}, n) is None
    assert check_properties([(5, 2.0), (3, 1.0), (2, 1.0)], K, match, {3}, n) is not None
    assert check_properties([(5, 2.0), (4, 1.0), (2, 1.0)], K, match, {3}, n) is not None
    assert check_properties([(1, 1.0), (5, 2.0), (2, 1.0)], K, match, {3}, n) is not None
    assert check_properties([(5, 2.0), (2, 1.0), (1, 1.0)], K, match, {3}, n) is not None
    assert check_properties([(5, 2.0), (1, 1.0)], K, match, {3}, n) is not None


def test_an_exception_without_a_message_counts_as_a_failed_operation():
    import argparse

    import run

    b = run.Bench(argparse.Namespace(workload="local-zipf", trace=0), "", "")

    def bare_assert():
        raise AssertionError()

    def exhausted():
        return next(iter(()))

    assert b.attempt("topk", bare_assert, q={}) is None
    assert b.attempt("count", exhausted, q={}) is None
    assert [op["err"] for op in b.ops] == ["AssertionError: ", "StopIteration: "]
    assert not b.best("topk") and not b.best("count")  # failed operations give no latency sample
