"""Tests of the benchmark itself: input determinism and the oracle.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

from perfbench import gen, oracle


def _inputs(seed: int):
    docs = gen.corpus(seed, 0, 60)
    df = gen.doc_freq(docs)
    tops = gen.topics(seed, df, 10)
    return docs, tops, gen.qrels(seed, docs, tops)


def test_same_seed_gives_identical_inputs():
    assert gen.digest(*_inputs(7)) == gen.digest(*_inputs(7))
    assert gen.digest(*_inputs(7)) != gen.digest(*_inputs(8))
    shard = gen.corpus(7, 101, 20, first_id=20)
    assert gen.digest(shard) == gen.digest(gen.corpus(7, 101, 20, first_id=20))
    assert shard["doc_id"] == list(range(20, 40))


def test_topics_have_two_to_five_corpus_terms():
    docs, tops, _ = _inputs(3)
    df = gen.doc_freq(docs)
    for _qid, text in tops:
        terms = text.split()
        assert 2 <= len(terms) <= 5
        assert all(t in df for t in terms)


def test_oracle_matches_hand_computed_bm25():
    # N = 3, doc lengths 3, 2, 4 (avgdl 3); df(a) = 1, df(c) = 2
    docs = ["a b a", "B, c", "c-c c d"]
    got = oracle.bm25_topk([1, 2, 3], docs, [("q", "a c")], k=10)["q"]
    idf_a = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    idf_c = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

    def bm25(idf, tf, dl):
        return idf * tf / (tf + 0.7 * (1 - 0.3 + 0.3 * dl / 3))

    want = [(1, bm25(idf_a, 2, 3)), (3, bm25(idf_c, 3, 4)),
            (2, bm25(idf_c, 1, 2))]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert abs(g - w) <= 1e-12 * w


def test_oracle_keeps_ties_past_k_and_compare_takes_them_as_sets():
    # docs 1 and 2 score the same: both tie for the single top-1 slot
    want = oracle.bm25_topk([1, 2, 3], ["x y", "y x", "z"], [("q", "x")], k=1)
    assert [d for d, _ in want["q"]] == [1, 2]
    s = want["q"][0][1]
    assert oracle.compare_topk({"q": [(1, 2, s)]}, want, 1) == []
    assert oracle.compare_topk({"q": [(1, 1, s)]}, want, 1) == []
    assert oracle.compare_topk({"q": [(1, 3, s)]}, want, 1) != []
    assert oracle.compare_topk({"q": [(1, 1, s * (1 + 1e-6))]}, want, 1) != []


def test_eval_query_hand_computed():
    m = oracle.eval_query(["x", "y", "z"], {"x": 1, "z": 2, "w": 1})
    assert math.isclose(m["ap"], (1 / 1 + 2 / 3) / 3)
    assert math.isclose(m["p_at_5"], 2 / 5)
    assert math.isclose(m["recall"], 2 / 3)
    ideal = 2 / math.log2(2) + 1 / math.log2(3)
    assert math.isclose(m["ndcg"], (1 + 2 / math.log2(4)) / ideal)
