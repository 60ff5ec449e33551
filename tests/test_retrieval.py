"""Index build + BM25 retrieval vs a brute-force pure-Python oracle,
on a tiny hand-built corpus with the full english analyzer chain."""

import math

import pytest
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig, analyze_text
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import retrieval as rt

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "sparks fly when the spark engine joins tables quickly"),
    (2, "a lazy developer's guide to spark joins and windows"),
    (3, "quick quick quick repeated terms test document"),
    (4, "completely unrelated content about cooking pasta"),
    (5, "spark spark spark spark heavy term frequency document"),
]
QUERIES = [("q1", "quick spark"), ("q2", "lazy joins"), ("q3", "pasta")]
EN = AnalyzerConfig()


def brute_force_bm25(docs, queries, k1=0.7, b=0.3):
    """Independent oracle: dict-based BM25, same analyzer."""
    toks = {d: analyze_text(t, EN) for d, t in docs}
    n = len(docs)
    dls = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out = {}
    for qid, qtext in queries:
        qterms = analyze_text(qtext, EN)
        scores = {}
        for d, ts in toks.items():
            s = 0.0
            matched = False
            for qt in set(qterms):
                tf = ts.count(qt)
                if tf == 0 or qt not in df:
                    continue
                matched = True
                idf = math.log(1 + (n - df[qt] + 0.5) / (df[qt] + 0.5))
                s += (
                    qterms.count(qt)
                    * idf
                    * tf
                    / (tf + k1 * (1 - b + b * dls[d] / avgdl))
                )
            if matched:
                scores[d] = s
        out[qid] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


@pytest.fixture(scope="module")
def index(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    return ix.build_index(df, ix.IndexConfig(analyzer=EN))


def test_doc_stats(index):
    stats = {r["doc_id"]: r["doc_len"] for r in index.doc_stats.collect()}
    for d, t in DOCS:
        assert stats[d] == len(analyze_text(t, EN))


def test_collection_stats(index):
    assert index.stats.n_docs == len(DOCS)
    exp_tot = sum(len(analyze_text(t, EN)) for _, t in DOCS)
    assert index.stats.total_tokens == exp_tot
    assert index.stats.avgdl == pytest.approx(exp_tot / len(DOCS))


def test_term_stats_df(index):
    df_map = {r["term"]: r["df"] for r in index.term_stats.collect()}
    # 'spark'/'sparks' both stem to 'spark' -> docs 1, 2, 5
    assert df_map["spark"] == 3
    assert df_map["quick"] == 2  # docs 0, 3 ('quickly' stems to 'quickli')
    assert "lazi" in df_map  # lazy -> lazi


def test_bm25_matches_brute_force(spark, index):
    oracle = brute_force_bm25(DOCS, QUERIES)
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10).collect()
    got = {}
    for r in sorted(run, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, expected in oracle.items():
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expected], (
            f"{qid}: rank order {g} != {expected}"
        )
        for (d1, s1), (d2, s2) in zip(g, expected):
            assert s1 == pytest.approx(s2, rel=1e-9)


def test_conjunctive(spark, index):
    qt = rt.queries_to_terms(spark, [("c1", "spark joins")], EN)
    run = rt.score_queries(index, qt, k=10, conjunctive=True).collect()
    got = sorted(r["doc_id"] for r in run)
    # 'spark' stem in docs 1,2,5; 'join' stem in docs 1,2 -> intersection {1,2}
    assert got == [1, 2]


def test_unknown_term_query(spark, index):
    qt = rt.queries_to_terms(spark, [("u1", "zzzmissing")], EN)
    assert rt.score_queries(index, qt, k=10).count() == 0


def test_weighted_terms(spark, index):
    qt = spark.createDataFrame(
        [("w1", "spark", 2.0)], "qid string, term string, weight double"
    )
    run1 = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    qt1 = spark.createDataFrame(
        [("w1", "spark", 1.0)], "qid string, term string, weight double"
    )
    run2 = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(index, qt1, k=10).collect()
    }
    for d, s in run1.items():
        assert s == pytest.approx(2 * run2[d], rel=1e-12)


def test_trec_run_format(spark, index):
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=5)
    trec = rt.to_trec_run(run, "testrun").collect()
    assert all(r["q0"] == "Q0" for r in trec)
    assert all(r["runid"] == "testrun" for r in trec)
    by_qid = {}
    for r in trec:
        by_qid.setdefault(r["qid"], []).append(r["rank"])
    for ranks in by_qid.values():
        assert ranks == list(range(1, len(ranks) + 1))


def test_trec_run_float32_scores_keep_engine_rank(spark, tmp_path):
    """Run-file scores are float32 (the reference's ScoreDoc.score):
    two docs whose double scores differ below float32 resolution print
    the same score, and their ranks stay in the engine's double order
    (score desc), not re-sorted by the collapsed score and doc id."""
    import numpy as np

    from luc4ir_spark.sources import trec

    hi, lo = 2.00000052, 2.00000048
    assert np.float32(hi) == np.float32(lo)
    assert f"{hi:.6f}" != f"{lo:.6f}"
    # engine-shaped run: doc 9 outranks doc 4 on its larger double score
    run = spark.createDataFrame(
        [("q1", 9, 1, hi), ("q1", 4, 2, lo)],
        "qid string, doc_id long, rank long, score double",
    )
    out = str(tmp_path / "run.txt")
    trec.write_run(rt.to_trec_run(run, "r"), out)
    lines = [ln.split("\t") for ln in open(out).read().splitlines()]
    assert [(ln[2], ln[3]) for ln in lines] == [("9", "1"), ("4", "2")]
    assert lines[0][4] == lines[1][4] == f"{float(np.float32(hi)):.6f}"


def test_lm_similarities_run(spark, index):
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    for kind in ("lmdir", "lmjm"):
        run = rt.score_queries(
            index, qt, k=10, sim=rt.Similarity(kind=kind)
        )
        assert run.count() > 0


def test_assign_doc_ids_deterministic(spark):
    df = spark.createDataFrame(
        [(f"r{i%3}", f"p{i}") for i in range(50)], "repo string, path string"
    )
    a = ix.assign_doc_ids(df, ["repo", "path"], num_buckets=8)
    b = ix.assign_doc_ids(df, ["repo", "path"], num_buckets=8)
    ids_a = {(r["repo"], r["path"]): r["doc_id"] for r in a.collect()}
    ids_b = {(r["repo"], r["path"]): r["doc_id"] for r in b.collect()}
    assert ids_a == ids_b
    assert sorted(ids_a.values()) == list(range(50))


def test_rrf_fuse_hand_computed(spark):
    # rrf(d2) = 1/62 + 1/61 beats rrf(d1) = 1/61 beats rrf(d3) = 1/62
    run_a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)], "qid string, doc_id long, rank long"
    )
    run_b = spark.createDataFrame(
        [("q", 2, 1), ("q", 3, 2)], "qid string, doc_id long, rank long"
    )
    out = rt.rrf_fuse(run_a, run_b).orderBy("rank").collect()
    assert [(r["doc_id"], r["rank"]) for r in out] == [(2, 1), (1, 2), (3, 3)]
    assert out[0]["rrf"] == pytest.approx(1 / 62 + 1 / 61, abs=1e-12)
    assert out[1]["rrf"] == pytest.approx(1 / 61, abs=1e-12)
    assert out[2]["rrf"] == pytest.approx(1 / 62, abs=1e-12)


def test_merge_indexes_equals_full_build(spark, index):
    """merge(half A, half B) must reproduce the one-shot full build:
    postings row set, term stats, doc stats, and collection scalars."""
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    cfg = ix.IndexConfig(analyzer=EN)
    a = ix.build_index(df.filter(F.col("doc_id") % 2 == 0), cfg, cache=False)
    b = ix.build_index(df.filter(F.col("doc_id") % 2 == 1), cfg, cache=False)
    m = ix.merge_indexes(a, b)
    assert m.stats.n_docs == index.stats.n_docs
    assert m.stats.total_tokens == index.stats.total_tokens
    assert m.stats.vocab_size == index.stats.vocab_size
    for attr in ("term_stats", "doc_stats", "postings"):
        got = sorted(map(tuple, getattr(m, attr).collect()))
        exp = sorted(map(tuple, getattr(index, attr).collect()))
        assert got == exp, f"{attr} diverged after merge"


def test_merge_indexes_rejects_analyzer_mismatch(spark):
    df = spark.createDataFrame(DOCS[:2], "doc_id long, content string")
    a = ix.build_index(df, ix.IndexConfig(analyzer=EN), cache=False)
    b = ix.build_index(
        df.select((F.col("doc_id") + 10).alias("doc_id"), "content"),
        ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple")),
        cache=False,
    )
    with pytest.raises(ValueError, match="analyzer"):
        ix.merge_indexes(a, b)


def test_merge_indexes_compress_scores_identically(spark, index):
    """A merged index with rebuilt blobs must score queries exactly like
    the full build (blob re-blocking keeps block maxima exact)."""
    from luc4ir_spark.operators import wand as wd

    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    cfg = ix.IndexConfig(analyzer=EN)
    a = ix.build_index(df.filter(F.col("doc_id") < 3), cfg, cache=False)
    b = ix.build_index(df.filter(F.col("doc_id") >= 3), cfg, cache=False)
    m = ix.merge_indexes(a, b)
    assert m.blobs is None  # WAND re-blocks the merged postings itself
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    exhaustive = rt.score_queries(index, qt, k=10).collect()
    wand = wd.score_queries_wand(m, qt, k=10).collect()
    key = lambda r: (r["qid"], r["rank"])
    got = [(r["qid"], r["doc_id"], r["rank"]) for r in sorted(wand, key=key)]
    exp = [
        (r["qid"], r["doc_id"], r["rank"])
        for r in sorted(exhaustive, key=key)
    ]
    assert got == exp
    for g, e in zip(sorted(wand, key=key), sorted(exhaustive, key=key)):
        assert g["score"] == pytest.approx(e["score"], rel=1e-9)


def test_more_like_this(spark, index):
    """Doc 5 is spark-heavy: its MLT query must put doc 5 itself first
    and other spark docs above unrelated ones; term selection follows
    the integer (tf DESC, df ASC, term ASC) ordering."""
    run = sorted(
        rt.more_like_this(index, doc_id=5, n_terms=3, k=6).collect(),
        key=lambda r: r["rank"],
    )
    assert run, "MLT run came back empty"
    assert all(r["qid"] == "mlt:5" for r in run)
    assert run[0]["doc_id"] == 5  # the source doc ranks first
    ranked_ids = [r["doc_id"] for r in run]
    assert 4 not in ranked_ids[:3]  # the pasta doc is not a neighbor
    # selection determinism: re-running yields the identical run
    again = sorted(
        rt.more_like_this(index, doc_id=5, n_terms=3, k=6).collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["doc_id"], r["score"]) for r in again] == [
        (r["doc_id"], r["score"]) for r in run
    ]


def test_similar_docs_topk_brute_force(spark, index):
    """tf-idf cosine related-docs against dict arithmetic; df cap drops
    high-df terms from the pair join but keeps full-vector norms."""
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    w = {
        d: {t: ts.count(t) * math.log(n / df[t]) for t in set(ts)}
        for d, ts in toks.items()
    }
    nrm = {d: math.sqrt(sum(x * x for x in wd.values())) for d, wd in w.items()}

    def cos(a, b, cap=None):
        terms = set(w[a]) & set(w[b])
        if cap is not None:
            terms = {t for t in terms if df[t] <= cap}
        return sum(w[a][t] * w[b][t] for t in terms) / (nrm[a] * nrm[b])

    got = rt.similar_docs_topk(index, k=2).collect()
    by_a = {}
    for r in sorted(got, key=lambda r: (r["a"], r["rank"])):
        by_a.setdefault(r["a"], []).append((r["b"], r["cosine"]))
    for a in range(n):
        sims = sorted(
            ((cos(a, b), -b) for b in range(n) if b != a and cos(a, b) != 0),
            reverse=True,
        )[:2]
        exp = [(-nb, c) for c, nb in sims]
        # docs sharing no term with anyone (the pasta doc) yield no rows
        got_a = by_a.get(a, [])
        assert [b for b, _ in got_a] == [b for b, _ in exp], f"doc {a}"
        for (gb, gc), (eb, ec) in zip(got_a, exp):
            assert gc == pytest.approx(ec, rel=1e-9)
    # df cap: 'the' (df 2) removed from the join at cap 1, norms intact
    capped = rt.similar_docs_topk(
        index, k=2, query_doc_ids=[0], max_df=1
    ).collect()
    for r in capped:
        assert r["cosine"] == pytest.approx(cos(0, r["b"], cap=1), rel=1e-9)


def test_delete_docs_equals_fresh_build(spark, index):
    """delete(index, ids) must be indistinguishable from building over
    the surviving docs: every table, the collection scalars, and a
    scored run."""
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    ids = spark.createDataFrame([(0,), (5,)], "doc_id long")
    pruned = ix.delete_docs(index, ids)
    fresh = ix.build_index(
        df.filter(~F.col("doc_id").isin([0, 5])),
        ix.IndexConfig(analyzer=EN), cache=False,
    )
    assert pruned.stats.n_docs == fresh.stats.n_docs == 4
    assert pruned.stats.total_tokens == fresh.stats.total_tokens
    assert pruned.stats.vocab_size == fresh.stats.vocab_size
    for attr in ("term_stats", "doc_stats", "postings"):
        got = sorted(map(tuple, getattr(pruned, attr).collect()))
        exp = sorted(map(tuple, getattr(fresh, attr).collect()))
        assert got == exp, f"{attr} diverged after delete"
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    got_run = sorted(
        map(tuple, rt.score_queries(pruned, qt, k=10).collect())
    )
    exp_run = sorted(
        map(tuple, rt.score_queries(fresh, qt, k=10).collect())
    )
    assert got_run == exp_run


def test_phrase_query_hand_computed(spark):
    """Consecutive-position semantics, overlapping matches, repeated
    phrase terms, single-term phrase, and the no-match case."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "b", "c", "a", "b"]),   # 'a b' x2, 'a b c' x1
            (1, ["b", "a", "c"]),             # no 'a b'
            (2, ["x", "x", "x"]),             # 'x x' x2 (overlapping)
            (3, ["a"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    got = {r["term"]: r for r in pos.filter(F.col("doc_id") == 0).collect()}
    assert got["a"]["positions"] == [0, 3]
    assert got["b"]["positions"] == [1, 4]

    def run(phrase):
        return {
            r["doc_id"]: r["phrase_freq"]
            for r in rt.phrase_query(pos, phrase).collect()
        }

    assert run(["a", "b"]) == {0: 2}
    assert run(["a", "b", "c"]) == {0: 1}
    assert run(["x", "x"]) == {2: 2}
    assert run(["x", "x", "x"]) == {2: 1}
    assert run(["a"]) == {0: 2, 1: 1, 3: 1}
    assert run(["c", "b"]) == {}
    with pytest.raises(ValueError):
        rt.phrase_query(pos, [])


def test_score_queries_must_not(spark, index):
    """MUST_NOT prunes candidates BEFORE ranking: excluding 'lazy'
    from q1 ('quick spark') removes docs 0 and 2 and re-ranks."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    excl = spark.createDataFrame(
        [("q1", "lazi")], "qid string, term string"  # stem of 'lazy'
    )
    run = rt.score_queries(index, qt, k=10, exclude_terms=excl).collect()
    by_q = {}
    for r in sorted(run, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append(r["doc_id"])
    # docs 0 and 2 contain 'lazy'; both match 'quick'/'spark' otherwise
    assert 0 not in by_q["q1"] and 2 not in by_q["q1"]
    # ranks stay dense from 1 after exclusion
    assert by_q["q1"] == sorted(by_q["q1"], key=by_q["q1"].index)
    # other queries are untouched vs the plain run
    plain = rt.score_queries(index, qt, k=10).collect()
    plain_q2 = [
        r["doc_id"] for r in sorted(plain, key=lambda r: (r["qid"], r["rank"]))
        if r["qid"] == "q2"
    ]
    assert by_q["q2"] == plain_q2


def test_facet_counts(spark, index):
    """Per-query facet counts over a run equal hand-tallied joins."""
    docs_meta = spark.createDataFrame(
        [(d, "even" if d % 2 == 0 else "odd") for d, _ in DOCS],
        "doc_id long, source string",
    )
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10)
    hits = {}
    for r in run.collect():
        hits.setdefault(r["qid"], []).append(r["doc_id"])
    got = {
        (r["qid"], r["facet"]): r["n_docs"]
        for r in rt.facet_counts(run, docs_meta, "source").collect()
    }
    exp = {}
    for qid, ds in hits.items():
        for d in ds:
            k2 = (qid, "even" if d % 2 == 0 else "odd")
            exp[k2] = exp.get(k2, 0) + 1
    assert got == exp


def test_drill_sideways_hand_computed(spark, index):
    """Each drilled dimension's counts drop its OWN filter and keep
    the other's (Lucene DrillSideways near-miss semantics)."""
    docs_meta = spark.createDataFrame(
        [
            (d, "even" if d % 2 == 0 else "odd",
             "lo" if d < 2 else "hi")
            for d, _ in DOCS
        ],
        "doc_id long, source string, tier string",
    )
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10)
    hits = {}
    for r in run.collect():
        hits.setdefault(r["qid"], []).append(r["doc_id"])
    drill = [("source", "even"), ("tier", "lo")]
    got = {
        (r["qid"], r["dim"], r["value"]): r["n_docs"]
        for r in rt.drill_sideways(run, docs_meta, drill).collect()
    }
    exp = {}
    for qid, ds in hits.items():
        for d in ds:
            src = "even" if d % 2 == 0 else "odd"
            tier = "lo" if d < 2 else "hi"
            if tier == "lo":  # source sideways: tier filter only
                k2 = (qid, "source", src)
                exp[k2] = exp.get(k2, 0) + 1
            if src == "even":  # tier sideways: source filter only
                k2 = (qid, "tier", tier)
                exp[k2] = exp.get(k2, 0) + 1
    assert got == exp


def test_make_snippets_hand_computed(spark):
    """Earliest-term window, left clamp, and the absent-term edge."""
    docs = spark.createDataFrame(
        [(0, "xxxx spark yyyy"), (1, "join at start")],
        "doc_id long, text string",
    )
    run = spark.createDataFrame(
        [("q", 0, 1), ("q", 1, 2)], "qid string, doc_id long, rank long"
    )
    qt = spark.createDataFrame(
        [("q", "spark"), ("q", "join"), ("q", "zzzmissing")],
        "qid string, term string",
    )
    got = {
        r["doc_id"]: r
        for r in rt.make_snippets(run, docs, qt, width=4).collect()
    }
    # doc 0: 'spark' at 1-based pos 6 -> start max(6-4,1)=2, len 8:
    # characters 2..9 of "xxxx spark yyyy"
    assert got[0]["snip_start"] == 2
    assert got[0]["snippet"] == "xxx spar"
    # doc 1: 'join' at pos 1 -> clamped to start
    assert got[1]["snip_start"] == 1
    assert got[1]["snippet"] == "join at "


def test_fuzzy_expand_terms(spark, index):
    """Edit-distance expansion over the vocabulary: exact terms keep
    weight 1, near-misses decay as 1/(1+d), far terms drop."""
    raw = spark.createDataFrame(
        [("f1", "spark"), ("f1", "sparkz"), ("f2", "zzzzzzzzzz")],
        "qid string, term string",
    )
    got = {
        (r["qid"], r["term"]): r["weight"]
        for r in rt.fuzzy_expand_terms(index, raw, max_edits=1).collect()
    }
    # 'spark' exact (d=0, w=1) + via 'sparkz' (d=1, w=0.5) summed
    assert got[("f1", "spark")] == pytest.approx(1.5)
    # no vocab term is within 1 edit of the 10-z garbage
    assert not any(q == "f2" for q, _ in got)
    # a fuzzy run scores docs the misspelled term alone would miss
    run = rt.score_queries(index, rt.fuzzy_expand_terms(
        index, raw.filter(F.col("term") == "sparkz"), max_edits=1
    ), k=10).collect()
    assert {r["doc_id"] for r in run} >= {1, 2, 5}  # the spark docs


def test_grouped_topk(spark, index):
    """Top-k-per-group keeps at most k hits per (qid, group), ordered
    by the original run rank."""
    meta = spark.createDataFrame(
        [(d, f"g{d % 2}") for d, _ in DOCS], "doc_id long, source string"
    )
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10)
    out = rt.grouped_topk(run, meta, "source", k_per_group=1).collect()
    seen = {}
    ranks = {
        (r["qid"], r["doc_id"]): r["rank"] for r in run.collect()
    }
    for r in out:
        key = (r["qid"], r["group"])
        assert key not in seen, "more than k_per_group rows in a group"
        seen[key] = r
        assert r["group_rank"] == 1
        # the kept hit is the group's best original rank
        group_ranks = [
            rank for (qid, d), rank in ranks.items()
            if qid == r["qid"] and (f"g{d % 2}") == r["group"]
        ]
        assert r["rank"] == min(group_ranks)


def test_proximity_query_hand_computed(spark):
    """In-order within-window semantics: window boundaries, order
    sensitivity, greedy chaining, start-position counting."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b", "a", "b"]),
            (1, ["b", "a", "c"]),
            (2, ["a", "b", "b", "c"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)

    def run(terms, w):
        return {
            r["doc_id"]: r["prox_freq"]
            for r in rt.proximity_query(pos, terms, window=w).collect()
        }

    # doc 0: a@0 reaches b@2 (within 2), a@3 reaches b@4
    assert run(["a", "b"], 2) == {0: 2, 2: 1}
    # window 1 only the adjacent pairs survive
    assert run(["a", "b"], 1) == {0: 1, 2: 1}
    # order matters: b before a
    assert run(["b", "a"], 2) == {0: 1, 1: 1}
    # 3-term greedy chain within window 3 (a@0 -> b@1 -> c@3)
    assert run(["a", "b", "c"], 3) == {2: 1}
    with pytest.raises(ValueError):
        rt.proximity_query(pos, ["a", "b", "c"], window=1)


def test_classic_similarity_brute_force(spark, index):
    """ClassicSimilarity (sqrt-tf, squared idf, 1/sqrt(dl)) against
    dict arithmetic."""
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="classic")
    ).collect()
    for r in run:
        qid, d = r["qid"], r["doc_id"]
        qterms = set(analyze_text(dict(QUERIES)[qid], EN))
        exp = sum(
            math.sqrt(toks[d].count(t))
            * (1 + math.log((n + 1) / (df[t] + 1))) ** 2
            / math.sqrt(len(toks[d]))
            for t in qterms
            if toks[d].count(t) > 0 and t in df
        )
        assert r["score"] == pytest.approx(exp, rel=1e-9)


def test_suggest_terms(spark, index):
    """OOV terms get the closest (then most frequent) vocab term;
    in-vocab terms yield nothing."""
    q = spark.createDataFrame(
        [("s", "sparc"), ("s", "spark"), ("s", "qqqqqqqqqq")],
        "qid string, term string",
    )
    got = {
        r["term"]: r for r in rt.suggest_terms(index, q, max_edits=2).collect()
    }
    assert set(got) == {"sparc"}  # 'spark' in vocab; garbage too far
    assert got["sparc"]["suggestion"] == "spark"
    assert got["sparc"]["distance"] == 1
    assert got["sparc"]["rank"] == 1


def test_min_should_match(spark, index):
    """msm=2 keeps only docs matching >= 2 distinct query terms: for
    q2 ('lazy joins') only doc 2 has both stems; q1's 'quick'/'spark'
    never co-occur in this corpus, so q1 drops out entirely."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10, min_should_match=2).collect()
    by_q = {}
    for r in run:
        by_q.setdefault(r["qid"], []).append(r["doc_id"])
    assert by_q.get("q2") == [2]
    assert "q1" not in by_q  # no doc has both quick and spark stems
    # scores must equal the plain run's scores for surviving docs
    plain = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    for r in run:
        assert r["score"] == pytest.approx(plain[(r["qid"], r["doc_id"])])


def test_covering_query_per_doc_threshold(spark, index):
    """min_match_docs makes the msm threshold a per-document field:
    a doc requiring more matches than it has drops out; a doc absent
    from the field table never matches (ES missing-field semantics);
    surviving scores equal the plain run's."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    plain = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    n_matched = {}
    for (qid, d), _ in plain.items():
        n_matched[(qid, d)] = n_matched.get((qid, d), 0)
    # per-doc thresholds: doc 2 needs 2 matches, everyone else 1;
    # doc 1 is MISSING from the field table entirely
    doc_ids = sorted({d for _, d in plain})
    mm = spark.createDataFrame(
        [(d, 2 if d == 2 else 1) for d in doc_ids if d != 1],
        "doc_id long, min_match long",
    )
    run = rt.score_queries(index, qt, k=10, min_match_docs=mm).collect()
    assert all(r["doc_id"] != 1 for r in run)  # missing field -> no match
    for r in run:
        assert r["score"] == pytest.approx(plain[(r["qid"], r["doc_id"])])
    # doc 2 must appear only for queries matching >= 2 of its terms:
    # same survivors as min_should_match=2 restricted to doc 2
    msm2 = {
        (r["qid"], r["doc_id"])
        for r in rt.score_queries(
            index, qt, k=10, min_should_match=2
        ).collect()
    }
    got2 = {(r["qid"], r["doc_id"]) for r in run if r["doc_id"] == 2}
    assert got2 == {k for k in msm2 if k[1] == 2}


def test_search_after_equals_rank_offset(spark, index):
    """Keyset pagination from page 1's last hit reproduces the
    rank-offset page of the full run; queries absent from the cursor
    restart from the top (Lucene null-after)."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    full = sorted(
        rt.score_queries(index, qt, k=10).collect(),
        key=lambda r: (r["qid"], r["rank"]),
    )
    page1 = rt.score_queries(index, qt, k=2)
    cursor = page1.filter(F.col("rank") == 2).select(
        "qid",
        F.col("score").alias("after_score"),
        F.col("doc_id").alias("after_doc_id"),
    )
    page2 = rt.score_queries(index, qt, k=2, after=cursor).collect()
    got = {}
    for r in sorted(page2, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append(r["doc_id"])
    want = {}
    for r in full:
        if 3 <= r["rank"] <= 4:
            want.setdefault(r["qid"], []).append(r["doc_id"])
    for qid in want:
        assert got.get(qid, []) == want[qid], qid
    # q3 ('pasta') has one hit -> no rank-2 cursor -> starts from top
    q3_full = [r["doc_id"] for r in full if r["qid"] == "q3"]
    q3_got = [r["doc_id"] for r in page2 if r["qid"] == "q3"]
    assert q3_got == q3_full[:2]


def test_prefix_expand_terms(spark, index):
    """Prefix expansion equals a literal startswith scan of the vocab,
    uniform weight 1."""
    vocab = {r["term"] for r in index.term_stats.select("term").collect()}
    p = spark.createDataFrame(
        [("p1", "qu"), ("p2", "spark")], "qid string, prefix string"
    )
    got = rt.prefix_expand_terms(index, p).collect()
    by_q = {}
    for r in got:
        assert r["weight"] == 1.0
        by_q.setdefault(r["qid"], set()).add(r["term"])
    assert by_q["p1"] == {t for t in vocab if t.startswith("qu")}
    assert by_q["p2"] == {t for t in vocab if t.startswith("spark")}


def test_parse_boolean_query():
    got = rt.parse_boolean_query("b", "spark +joins -pasta", EN)
    # analyzer stems: joins->join (porter), pasta stays
    assert ("b", "spark", "should") in got
    assert any(t == "join" and c == "must" for _, t, c in got)
    assert any(c == "must_not" for _, t, c in got)


def test_boolean_query_mixed(spark, index):
    """MUST filters, SHOULD scores, MUST_NOT prunes — one scan."""
    rows = rt.parse_boolean_query("b1", "spark +joins", EN) + \
        rt.parse_boolean_query("b2", "+spark -pasta", EN) + \
        rt.parse_boolean_query("b3", "+zzznothere spark", EN)
    clauses = spark.createDataFrame(
        rows, "qid string, term string, clause string"
    )
    run = rt.boolean_query(index, clauses, k=10).collect()
    by_q = {}
    for r in run:
        by_q.setdefault(r["qid"], set()).add(r["doc_id"])
    # b1: docs containing the 'join' stem = 1, 2; doc 5 (spark-only) out
    assert by_q["b1"] == {1, 2}
    # b2: spark docs are 1, 2, 5; none contain pasta
    assert by_q["b2"] == {1, 2, 5}
    # b3: OOV MUST clause -> empty query
    assert "b3" not in by_q


def test_filter_docs_restricts_without_rescoring(spark, index):
    """FILTER occur: candidates outside the allowed set vanish, scores
    of survivors equal the unfiltered run's."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    allowed = spark.createDataFrame(
        [(d,) for d, _ in DOCS if d % 2 == 1], "doc_id long"
    )
    run = rt.score_queries(index, qt, k=10, filter_docs=allowed).collect()
    assert run and all(r["doc_id"] % 2 == 1 for r in run)
    plain = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    for r in run:
        assert r["score"] == pytest.approx(plain[(r["qid"], r["doc_id"])])
    # ranks are dense per query after filtering
    by_q = {}
    for r in sorted(run, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append(r["rank"])
    for ranks in by_q.values():
        assert ranks == list(range(1, len(ranks) + 1))


def test_bm25f_hand_computed(spark):
    """BM25F on a 2-field corpus vs a dict-based replay: per-field
    normalized tf, weighted combine, single saturation, doc-level df."""
    rows = [
        (0, "spark engine", "the spark engine joins tables"),
        (1, "cooking pasta", "spark is never mentioned here wait spark"),
        (2, "quick guide", "a guide to joins"),
        (3, "", "spark only in body"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, title string, body string"
    )
    cfg = ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    t_idx = ix.build_index(df, cfg, content_col="title", cache=False)
    b_idx = ix.build_index(df, cfg, content_col="body", cache=False)
    qt = spark.createDataFrame(
        [("q", "spark"), ("q", "guide")], "qid string, term string"
    )
    wts, bs, k1 = {"title": 2.0, "body": 1.0}, {"title": 0.75, "body": 0.3}, 0.7
    run = {
        r["doc_id"]: r["score"]
        for r in rt.bm25f_score(
            {"title": t_idx, "body": b_idx}, qt, k=10, k1=k1,
            field_weights=wts, field_b=bs,
        ).collect()
    }

    toks = {
        d: {"title": t.lower().split(), "body": b.lower().split()}
        for d, t, b in rows
    }
    n = len(rows)
    avg = {
        f: sum(len(toks[d][f]) for d in toks) / n for f in ("title", "body")
    }
    def tfc(term, d):
        out = 0.0
        for f in ("title", "body"):
            tf = toks[d][f].count(term)
            if tf and len(toks[d][f]):
                out += wts[f] * tf / (
                    1 - bs[f] + bs[f] * len(toks[d][f]) / avg[f]
                )
        return out
    for d in toks:
        exp = 0.0
        for term in ("spark", "guide"):
            c = tfc(term, d)
            if c:
                dfd = sum(
                    1 for dd in toks
                    if term in toks[dd]["title"] or term in toks[dd]["body"]
                )
                exp += math.log(1 + (n - dfd + 0.5) / (dfd + 0.5)) * c / (k1 + c)
        if exp:
            assert run[d] == pytest.approx(exp, rel=1e-9), d
        else:
            assert d not in run


def test_complete_prefix_ordering(spark, index):
    """Completions ranked df desc, cf desc, term asc — matches a
    literal replay over term_stats."""
    stats = {
        r["term"]: (r["df"], r["cf"])
        for r in index.term_stats.collect()
    }
    p = spark.createDataFrame([("c", "qu")], "qid string, prefix string")
    got = [
        r["suggestion"]
        for r in sorted(
            rt.complete_prefix(index, p, k=3).collect(),
            key=lambda r: r["rank"],
        )
    ]
    want = sorted(
        [t for t in stats if t.startswith("qu")],
        key=lambda t: (-stats[t][0], -stats[t][1], t),
    )[:3]
    assert got == want


def test_infix_suggest_contains_and_offsets(spark, index):
    """Infix matches anywhere (AnalyzingInfixSuggester semantics):
    ranked df desc, cf desc, term asc vs a literal replay; offsets are
    the 1-based match positions; no-match needle yields no rows."""
    stats = {
        r["term"]: (r["df"], r["cf"])
        for r in index.term_stats.collect()
    }
    p = spark.createDataFrame(
        [("i", "u"), ("z", "zzq")], "qid string, needle string"
    )
    rows = sorted(
        rt.infix_suggest(index, p, k=4).collect(),
        key=lambda r: r["rank"],
    )
    assert all(r["qid"] == "i" for r in rows)
    got = [(r["suggestion"], r["offset"]) for r in rows]
    want = sorted(
        [t for t in stats if "u" in t],
        key=lambda t: (-stats[t][0], -stats[t][1], t),
    )[:4]
    assert got == [(t, t.index("u") + 1) for t in want]
    assert any(o > 1 for _, o in got)  # a genuinely-infix hit exists


def test_knn_classify_separable_topics(spark):
    """Two separable topics: each test doc's neighbors all share its
    topic, so the confusion matrix is diagonal; the self doc is
    excluded from the vote."""
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple fruit"),
            (2, "banana fruit apple"),
            (3, "apple banana banana"),
            (4, "car truck engine"),
            (5, "truck engine car car"),
            (6, "engine car truck truck"),
        ],
        "doc_id long, content string",
    )
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=EN))
    labels = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "y")],
        "doc_id long, label string",
    )
    test = spark.createDataFrame([(1,), (4,)], "doc_id long")
    out = {
        (r["true_label"], r["pred_label"]): r["n_docs"]
        for r in rt.knn_classify(
            idx, labels, test, n_terms=3, k=2
        ).collect()
    }
    assert out == {("x", "x"): 1, ("y", "y"): 1}


def test_explain_scores_sum_to_run(spark, index):
    """explain() parity: per-term contributions sum to the run score."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    ex = rt.explain_scores(index, qt).groupBy("qid", "doc_id").agg(
        F.sum("contribution").alias("s")
    )
    got = {(r["qid"], r["doc_id"]): r["s"] for r in ex.collect()}
    run = rt.score_queries(index, qt, k=100).collect()
    assert got
    for r in run:
        assert got[(r["qid"], r["doc_id"])] == pytest.approx(r["score"])
    # doc_ids restriction prunes
    only = rt.explain_scores(index, qt, doc_ids=[1]).collect()
    assert only and all(r["doc_id"] == 1 for r in only)


def test_update_docs_equals_fresh_build(spark, index):
    """updateDocument parity: upsert (replace doc 1, insert doc 9)
    reproduces a fresh build of the modified corpus, spine for spine,
    and scoring over the handle matches."""
    new_rows = [
        (1, "totally new text about pasta recipes"),   # replace
        (9, "a brand new document about spark"),       # insert
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, content string")
    up = ix.update_docs(index, new_df)

    mod = {d: t for d, t in DOCS} | {d: t for d, t in new_rows}
    fresh = ix.build_index(
        spark.createDataFrame(
            sorted(mod.items()), "doc_id long, content string"
        ),
        ix.IndexConfig(analyzer=EN),
        cache=False,
    )
    assert up.stats.n_docs == fresh.stats.n_docs
    assert up.stats.total_tokens == fresh.stats.total_tokens
    assert up.stats.vocab_size == fresh.stats.vocab_size
    for attr in ("term_stats", "postings"):
        got = sorted(map(tuple, getattr(up, attr).collect()))
        exp = sorted(map(tuple, getattr(fresh, attr).collect()))
        assert got == exp, f"{attr} diverged after upsert"
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run_up = sorted(map(tuple, rt.score_queries(up, qt, k=10).collect()))
    run_fr = sorted(map(tuple, rt.score_queries(fresh, qt, k=10).collect()))
    assert run_up == run_fr


def test_dismax_matches_contributions(spark, index):
    """dismax score == max(contrib) + tie*(sum - max) where contribs
    come from the (independently tested) explain_scores breakdown;
    tie=1 degenerates to the boolean-OR sum."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    tie = 0.3
    got = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.dismax_topk(index, qt, k=10, tie_breaker=tie).collect()
    }
    contribs = {}
    for r in rt.explain_scores(index, qt).collect():
        contribs.setdefault((r["qid"], r["doc_id"]), []).append(
            r["contribution"]
        )
    assert set(got) == set(contribs)
    for key, cs in contribs.items():
        exp = max(cs) + tie * (sum(cs) - max(cs))
        assert got[key] == pytest.approx(exp, rel=1e-12)

    or_run = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    sums = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.dismax_topk(index, qt, k=10, tie_breaker=1.0).collect()
    }
    for key, s in sums.items():
        assert s == pytest.approx(or_run[key], rel=1e-12)


def test_wildcard_expansion(spark, index):
    assert rt.wildcard_to_regex("te*t") == "^te.*t$"
    assert rt.wildcard_to_regex("?ash") == "^.ash$"
    assert rt.wildcard_to_regex("a.c*") == "^a\\.c.*$"  # dot escaped
    vocab = [r["term"] for r in index.term_stats.collect()]
    pats = spark.createDataFrame(
        [("w1", rt.wildcard_to_regex("spark*")),
         ("w2", rt.wildcard_to_regex("qu?ck*")),
         ("w3", rt.wildcard_to_regex("zzz*"))],
        "qid string, rx string",
    )
    got = {
        (r["qid"], r["term"]): r["weight"]
        for r in rt.wildcard_expand_terms(index, pats).collect()
    }
    import re

    exp = {}
    for qid, pat in [("w1", "^spark.*$"), ("w2", "^qu.ck.*$"),
                     ("w3", "^zzz.*$")]:
        for t in vocab:
            if re.search(pat, t):
                exp[(qid, t)] = 1.0
    assert got == exp
    assert not [k for k in got if k[0] == "w3"]  # no zzz terms


def test_term_range_query(spark, index):
    lo, hi = "j", "r"
    got = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in rt.term_range_query(index, lo, hi).collect()
    }
    exp = {}
    for d, t in DOCS:
        terms = {x for x in analyze_text(t, EN) if lo <= x <= hi}
        if terms:
            exp[d] = (len(terms), 1.0)
    assert got == exp
    # exclusive bounds shrink the range
    all_terms = {x for _, t in DOCS for x in analyze_text(t, EN)}
    edge = sorted(x for x in all_terms if lo <= x <= hi)[0]
    got2 = {
        r["doc_id"]: r["n_matched"]
        for r in rt.term_range_query(
            index, edge, hi, include_lo=False
        ).collect()
    }
    exp2 = {}
    for d, t in DOCS:
        terms = {x for x in analyze_text(t, EN) if edge < x <= hi}
        if terms:
            exp2[d] = len(terms)
    assert got2 == exp2


def test_qpp_predictors_hand_computed(spark, index):
    from luc4ir_spark.operators import qpp as qp

    qt = rt.queries_to_terms(spark, QUERIES, EN)
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    df, cf = {}, {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
        for t in ts:
            cf[t] = cf.get(t, 0) + 1

    pre = {r["qid"]: r for r in qp.qpp_pre_retrieval(index, qt).collect()}
    for qid, qtext in QUERIES:
        terms = {t for t in analyze_text(qtext, EN) if t in df}
        idfs = [
            math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in terms
        ]
        scq = sum(
            (1 + math.log(cf[t])) * math.log(1 + n / df[t]) for t in terms
        )
        r = pre[qid]
        assert r["n_terms"] == len(terms)
        assert r["avg_idf"] == pytest.approx(sum(idfs) / len(idfs))
        assert r["max_idf"] == pytest.approx(max(idfs))
        assert r["scq"] == pytest.approx(scq)

    run = rt.score_queries(index, qt, k=100)
    post = {
        r["qid"]: r
        for r in qp.qpp_post_retrieval(run, qt, index, k=2).collect()
    }
    brute = brute_force_bm25(DOCS, QUERIES)
    for qid, _ in QUERIES:
        scores = [s for _, s in brute[qid]]
        topk = scores[:2]
        mean_all = sum(scores) / len(scores)
        mean_k = sum(topk) / len(topk)
        sd_k = math.sqrt(
            sum((s - mean_k) ** 2 for s in topk) / len(topk)
        )
        nterms = pre[qid]["n_terms"]
        r = post[qid]
        assert r["n_candidates"] == len(scores)
        assert r["wig"] == pytest.approx(
            (mean_k - mean_all) / math.sqrt(nterms), rel=1e-9
        )
        assert r["nqc"] == pytest.approx(sd_k / mean_all, rel=1e-9)


def test_synonym_topk_blended(spark, index):
    """SynonymQuery semantics: blended tf sum + max-df idf, replayed
    brute-force with the same analyzer."""
    syn = spark.createDataFrame(
        [("quick", "lazi"), ("spark", "pasta")], "term string, syn string"
    )
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    got = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.synonym_topk(index, qt, syn, k=10).collect()
    }
    syn_map = {"quick": {"quick", "lazi"}, "spark": {"spark", "pasta"}}
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    dls = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    exp = {}
    for qid, qtext in QUERIES:
        for d, ts in toks.items():
            s = 0.0
            hit = False
            for g in set(analyze_text(qtext, EN)):
                mem = {m for m in syn_map.get(g, {g}) if m in df}
                if not mem:
                    continue
                tf = sum(ts.count(m) for m in mem)
                if tf == 0:
                    continue
                hit = True
                gdf = max(df[m] for m in mem)
                idf = math.log(1 + (n - gdf + 0.5) / (gdf + 0.5))
                s += idf * tf / (tf + 0.7 * (1 - 0.3 + 0.3 * dls[d] / avgdl))
            if hit:
                exp[(qid, d)] = s
    assert set(got) == set(exp)
    for key in exp:
        assert got[key] == pytest.approx(exp[key], rel=1e-12), key


def test_collapse_results(spark):
    run = spark.createDataFrame(
        [("q", 1, 1, 9.0), ("q", 2, 2, 8.0), ("q", 3, 3, 7.0),
         ("q", 4, 4, 6.0), ("q", 5, 5, 5.0)],
        "qid string, doc_id long, rank long, score double",
    )
    meta = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, source string",
    )
    got = [
        (r["qid"], r["doc_id"], r["rank"], r["source"])
        for r in rt.collapse_results(run, meta, "source", k=2)
        .orderBy("rank").collect()
    ]
    # best per source: 1(a), 3(b), 5(c); top-2 of those: 1, 3
    assert got == [("q", 1, 1, "a"), ("q", 3, 2, "b")]


def test_count_hits(spark, index):
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    got = {r["qid"]: r["n_hits"] for r in rt.count_hits(index, qt).collect()}
    toks = {d: set(analyze_text(t, EN)) for d, t in DOCS}
    for qid, qtext in QUERIES:
        q = set(analyze_text(qtext, EN))
        exp = sum(1 for ts in toks.values() if ts & q)
        assert got[qid] == exp, qid


def test_unordered_window_query_hand_computed(spark):
    """Order-free co-occurrence: anchor counting, window bounds,
    superset-of-ordered property, distinct-term guard."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b", "a", "b"]),
            (1, ["b", "a", "c"]),
            (2, ["a", "b", "b", "c"]),
            (3, ["b", "x", "x", "x", "a"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)

    def run(terms, w):
        return {
            r["doc_id"]: r["uw_freq"]
            for r in rt.unordered_window_query(pos, terms, window=w)
            .collect()
        }

    # window 2: doc0 a@0 (b@2), a@3 (b@2,4 within 2) -> 2 anchors;
    # doc1 a@1 sees b@0 -> 1; doc2 a@0 sees b@1 -> 1; doc3 a@4 has b@0
    # at distance 4 -> out
    assert run(["a", "b"], 2) == {0: 2, 1: 1, 2: 1}
    # window 4 pulls doc3 in
    assert run(["a", "b"], 4) == {0: 2, 1: 1, 2: 1, 3: 1}
    # unordered: b-before-a anchors count too (doc2's b@1 AND b@2 both
    # see a@0 within 2 — anchor counts depend on the anchor term)
    assert run(["b", "a"], 2) == {0: 2, 1: 1, 2: 2}
    # 3 terms: only docs holding all three near the anchor (doc2's
    # c@3 is distance 3 from a@0 — in at window 3, out at window 2)
    assert run(["a", "b", "c"], 2) == {1: 1}
    assert run(["a", "b", "c"], 3) == {1: 1, 2: 1}
    with pytest.raises(ValueError):
        rt.unordered_window_query(pos, ["a", "a"], window=2)


def test_sort_by_field(spark, index):
    meta = spark.createDataFrame(
        [(d, 100 - 10 * d) for d, _ in DOCS], "doc_id long, n_chars long"
    )
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    got = {
        (r["qid"], r["rank"]): (r["doc_id"], r["n_chars"])
        for r in rt.sort_by_field(
            index, qt, meta, "n_chars", ascending=False, k=3
        ).collect()
    }
    toks = {d: set(analyze_text(t, EN)) for d, t in DOCS}
    for qid, qtext in QUERIES:
        q = set(analyze_text(qtext, EN))
        cand = sorted(
            (d for d, ts in toks.items() if ts & q),
            key=lambda d: (-(100 - 10 * d), d),
        )[:3]
        for i, d in enumerate(cand, start=1):
            assert got[(qid, i)] == (d, 100 - 10 * d), (qid, i)


def test_function_score(spark):
    run = spark.createDataFrame(
        [("q", 1, 1, 4.0), ("q", 2, 2, 3.0), ("q", 3, 3, 2.0)],
        "qid string, doc_id long, rank long, score double",
    )
    meta = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 10.0)], "doc_id long, pop double"
    )
    from pyspark.sql import functions as SF

    got = [
        (r["doc_id"], r["rank"], r["score"])
        for r in rt.function_score(run, meta, SF.col("pop"), k=3)
        .orderBy("rank").collect()
    ]
    # boosted: d3 -> 20, d2 -> 6, d1 -> 4
    assert got == [(3, 1, 20.0), (2, 2, 6.0), (1, 3, 4.0)]


def test_compressed_positional_parity(spark):
    """compress -> prune -> decode reproduces the flat positional path
    for phrase AND proximity, including repeated-term phrases."""
    import numpy as np

    from luc4ir_spark.functions import codec

    # codec roundtrip incl. big gaps and single positions
    for arr in ([0, 3, 7, 7000], [5], [0, 1, 2, 3]):
        a = np.array(arr, dtype=np.int64)
        back = codec.decode_positions(
            codec.encode_positions(a), freq=len(arr)
        )
        assert back.tolist() == arr

    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b", "a", "b"]),
            (1, ["b", "a", "c"]),
            (2, ["a", "b", "b", "c"]),
            (3, ["a", "a", "a"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    cpos = ix.compress_positional_postings(pos)

    # decode is the exact inverse
    flat = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in ix.decode_positional_postings(cpos).collect()
    }
    exp = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in pos.collect()
    }
    assert flat == exp

    for terms, window in ([["a", "b"], None], [["a", "a"], None],
                          [["a", "b", "c"], 3], [["b", "a"], 2]):
        if window is None:
            got = {
                r["doc_id"]: r["phrase_freq"]
                for r in rt.phrase_query_compressed(cpos, terms).collect()
            }
            ref = {
                r["doc_id"]: r["phrase_freq"]
                for r in rt.phrase_query(pos, terms).collect()
            }
        else:
            got = {
                r["doc_id"]: r["prox_freq"]
                for r in rt.phrase_query_compressed(
                    cpos, terms, window=window
                ).collect()
            }
            ref = {
                r["doc_id"]: r["prox_freq"]
                for r in rt.proximity_query(pos, terms, window).collect()
            }
        assert got == ref, (terms, window)


def test_span_first_and_multi_phrase(spark):
    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b", "a", "b"]),
            (1, ["b", "a", "c"]),
            (2, ["x", "x", "x", "a", "b"]),
            (3, ["c", "b"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)

    got = {
        r["doc_id"]: r["first_freq"]
        for r in rt.span_first_query(pos, "a", 2).collect()
    }
    assert got == {0: 1, 1: 1}  # doc2's a@3 is outside first 2
    got = {
        r["doc_id"]: r["first_freq"]
        for r in rt.span_first_query(pos, "a", 4).collect()
    }
    assert got == {0: 2, 1: 1, 2: 1}
    with pytest.raises(ValueError):
        rt.span_first_query(pos, "a", 0)

    # [a|c] then b: doc0 a@0? b@1 no (x) -> a@3,b@4 yes;
    # doc1 c@2 no following b; doc2 a@3,b@4; doc3 c@0,b@1
    mp = {
        r["doc_id"]: r["phrase_freq"]
        for r in rt.multi_phrase_query(pos, [["a", "c"], ["b"]]).collect()
    }
    assert mp == {0: 1, 2: 1, 3: 1}
    # single-step degenerates to occurrence count of the alternatives
    mp1 = {
        r["doc_id"]: r["phrase_freq"]
        for r in rt.multi_phrase_query(pos, [["a", "c"]]).collect()
    }
    assert mp1 == {0: 2, 1: 2, 2: 1, 3: 1}
    with pytest.raises(ValueError):
        rt.multi_phrase_query(pos, [["a"], []])


def test_match_phrase_prefix(spark):
    docs = spark.createDataFrame(
        [
            (0, ["fast", "scan", "fast", "sort"]),
            (1, ["fast", "merge"]),
            (2, ["slow", "scan", "fast", "spark"]),
            (3, ["fast", "stream"]),
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    # prefix s* expands (term ASC) to scan, sort, spark, stream
    got = {
        r["doc_id"]: r["phrase_freq"]
        for r in rt.match_phrase_prefix_query(pos, ["fast"], "s").collect()
    }
    assert got == {0: 2, 2: 1, 3: 1}
    # max_expansions caps the dictionary walk in term order:
    # only {scan, slow} survive, so "fast s*" matches scan starts only
    got2 = {
        r["doc_id"]: r["phrase_freq"]
        for r in rt.match_phrase_prefix_query(
            pos, ["fast"], "s", max_expansions=2
        ).collect()
    }
    assert got2 == {0: 1}
    # unknown prefix -> empty result, no join chain
    assert (
        rt.match_phrase_prefix_query(pos, ["fast"], "zzz").count() == 0
    )
    with pytest.raises(ValueError):
        rt.match_phrase_prefix_query(pos, [], "s")


def test_char_entropy_hand_computed(spark):
    import math
    from collections import Counter

    from luc4ir_spark.operators import textstats as ts2

    rows = [(0, "aaaa"), (1, "ab AB!"), (2, ""), (3, "a b")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    got = {
        r["doc_id"]: (r["n_chars_total"], r["entropy"])
        for r in ts2.char_entropy(docs).collect()
    }
    assert 2 not in got  # empty doc dropped
    alpha = set(ts2.CHAR_ENTROPY_ALPHABET)
    for d, text in rows:
        t = text.lower()
        if not t:
            continue
        cnt = Counter(ch if ch in alpha else "\x00" for ch in t)
        n = len(t)
        exp = -sum(c / n * math.log(c / n) for c in cnt.values())
        assert got[d][0] == n
        assert got[d][1] == pytest.approx(round(exp, 4), abs=1e-4), d
    assert got[0][1] == 0.0  # single-char doc: zero entropy


def test_comb_fuse_hand_computed(spark):
    runs = spark.createDataFrame(
        [
            ("A", "q", 1, 10.0), ("A", "q", 2, 5.0), ("A", "q", 3, 0.0),
            ("B", "q", 2, 2.0), ("B", "q", 4, 1.0),
            ("C", "q", 9, 7.0),  # degenerate single-score run -> 1.0
        ],
        "run_id string, qid string, doc_id long, score double",
    )
    # normalized: A: d1=1, d2=.5, d3=0; B: d2=1, d4=0; C: d9=1
    # CombSUM: d2=1.5, d1=1, d9=1, d4=0, d3=0
    # CombMNZ: d2=3, d1=1, d9=1, d4=0, d3=0
    mnz = {
        r["doc_id"]: (r["rank"], r["fused"])
        for r in rt.comb_fuse(runs, method="mnz", topk=10).collect()
    }
    assert mnz[2] == (1, 3.0)
    assert mnz[1] == (2, 1.0)   # tie with d9 -> doc_id asc
    assert mnz[9] == (3, 1.0)
    assert mnz[3][1] == 0.0 and mnz[4][1] == 0.0
    s = {
        r["doc_id"]: r["fused"]
        for r in rt.comb_fuse(runs, method="sum", topk=10).collect()
    }
    assert s[2] == pytest.approx(1.5)
    with pytest.raises(ValueError):
        rt.comb_fuse(runs, method="max")


def test_bm25_plus_lower_bound(spark, index):
    """BM25+ = BM25 with +delta*idf per matching term: verify against
    the plain run plus the per-doc matched-idf sum."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    plain = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    plus = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(
            index, qt, k=10, sim=rt.Similarity(kind="bm25plus", delta=1.0)
        ).collect()
    }
    idf_sum = {}
    for r in rt.explain_scores(index, qt).collect():
        key = (r["qid"], r["doc_id"])
        idf_sum[key] = idf_sum.get(key, 0.0) + r["idf"]
    assert set(plus) == set(plain)
    for key in plain:
        assert plus[key] == pytest.approx(
            plain[key] + idf_sum[key], rel=1e-12
        ), key


def _tiny_stats():
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    dls = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    return toks, n, dls, avgdl, df


def test_dfr_ib_f2exp_hand_computed(spark, index):
    """Single-term query: per-doc DFR-InL2 / IB-LL / F2EXP scores vs
    the published closed forms computed in pure Python."""
    toks, n, dls, avgdl, df = _tiny_stats()
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    log2 = math.log(2.0)
    for kind in ("dfr_inl2", "ib_ll", "f2exp"):
        run = rt.score_queries(
            index, qt, k=10, sim=rt.Similarity(kind=kind)
        ).collect()
        assert run, kind
        for r in run:
            tf = toks[r["doc_id"]].count("spark")
            dl = dls[r["doc_id"]]
            d = df["spark"]
            if kind == "f2exp":
                exp = tf / (tf + 0.5 + 0.5 * dl / avgdl) * (
                    (n + 1.0) / d
                ) ** 0.35
            else:
                tfn = tf * math.log(1.0 + avgdl / dl) / log2
                if kind == "dfr_inl2":
                    exp = tfn / (tfn + 1.0) * (
                        math.log((n + 1.0) / (d + 0.5)) / log2
                    )
                else:
                    lam = (d + 1.0) / (n + 1.0)
                    exp = math.log(1.0 + tfn / lam)
            assert r["score"] == pytest.approx(exp, rel=1e-12), (
                kind, r["doc_id"],
            )


def test_pl2_hand_computed(spark, index):
    """Single-term query: per-doc DFR-PL2 scores vs the published
    closed form (Amati & van Rijsbergen: Poisson + Laplace + H2,
    lambda = cf/N) computed in pure Python."""
    toks, n, dls, avgdl, df = _tiny_stats()
    cf = sum(ts.count("spark") for ts in toks.values())
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    log2 = math.log(2.0)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="pl2")
    ).collect()
    assert run
    for r in run:
        tf = toks[r["doc_id"]].count("spark")
        dl = dls[r["doc_id"]]
        tfn = tf * math.log(1.0 + avgdl / dl) / log2
        lam = cf / n
        exp = (
            tfn * math.log(tfn / lam) / log2
            + (lam + 1.0 / (12.0 * tfn) - tfn) / log2
            + 0.5 * math.log(2.0 * math.pi * tfn) / log2
        ) / (tfn + 1.0)
        assert r["score"] == pytest.approx(exp, rel=1e-12), r["doc_id"]


def test_dfi_hand_computed(spark, index):
    """Single-term query: per-doc DFI (standardized independence)
    scores vs the published closed form (Lucene DFISimilarity:
    e = (cf+1)*dl/(total_tokens+1), score = log2((tf-e)/sqrt(e)+1)
    when tf > e, else 0) computed in pure Python."""
    toks, n, dls, avgdl, df = _tiny_stats()
    cf = sum(ts.count("spark") for ts in toks.values())
    total_tokens = sum(dls.values())
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    log2 = math.log(2.0)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="dfi")
    ).collect()
    assert run
    saw_positive = False
    for r in run:
        tf = toks[r["doc_id"]].count("spark")
        dl = dls[r["doc_id"]]
        e = (cf + 1.0) * dl / (total_tokens + 1.0)
        exp = (
            math.log((tf - e) / math.sqrt(e) + 1.0) / log2
            if tf > e
            else 0.0
        )
        saw_positive = saw_positive or exp > 0.0
        assert r["score"] == pytest.approx(exp, rel=1e-12, abs=1e-15), (
            r["doc_id"]
        )
    assert saw_positive  # the closed form was actually exercised


def test_prune_index_static(spark, index):
    """Per-term cut to the top-M postings by (tf DESC, doc_id ASC);
    global stats untouched, so every surviving (qid, doc) pair scores
    BIT-identically to the full index."""
    from collections import Counter

    pruned = ix.prune_index_static(index, max_per_term=2)
    rows = pruned.postings.collect()
    per = Counter(r["term"] for r in rows)
    assert max(per.values()) <= 2
    # kept set per term == python top-2 by (-tf, doc_id)
    full = index.postings.collect()
    by_term = {}
    for r in full:
        by_term.setdefault(r["term"], []).append((-r["tf"], r["doc_id"]))
    for t, lst in by_term.items():
        want = {d for _, d in sorted(lst)[:2]}
        got = {r["doc_id"] for r in rows if r["term"] == t}
        assert got == want, t
    # stats untouched + survivors score identically
    assert pruned.stats == index.stats
    qt = rt.queries_to_terms(spark, [("q", "spark index")], EN)
    full_run = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    pruned_run = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(pruned, qt, k=10).collect()
    }
    assert pruned_run  # something survived
    for key, sc in pruned_run.items():
        # a pruned doc may lose a term's contribution; docs whose
        # postings ALL survived must match bitwise
        assert sc <= full_run[key] + 1e-12
    with pytest.raises(ValueError):
        ix.prune_index_static(index, max_per_term=0)


def test_prune_index_plan_uses_window_group_limit(spark, index):
    pruned = ix.prune_index_static(index, max_per_term=2)
    plan = pruned.postings._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_dph_hand_computed(spark, index):
    """Single-term query: per-doc DPH (parameter-free hypergeometric
    DFR, Terrier DPH) scores vs the published closed form
    (f = tf/dl, norm = (1-f)^2/(tf+1), score = norm*(tf*log2(
    tf*avgdl/dl*N/cf) + 0.5*log2(2*pi*tf*(1-f)))) in pure Python;
    a degenerate tf == dl doc contributes 0."""
    toks, n, dls, avgdl, df = _tiny_stats()
    cf = sum(ts.count("spark") for ts in toks.values())
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    log2 = math.log(2.0)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="dph")
    ).collect()
    assert run
    for r in run:
        tf = toks[r["doc_id"]].count("spark")
        dl = dls[r["doc_id"]]
        if tf >= dl:
            exp = 0.0
        else:
            f = tf / dl
            norm = (1.0 - f) ** 2 / (tf + 1.0)
            exp = norm * (
                tf * math.log(tf * avgdl / dl * n / cf) / log2
                + 0.5 * math.log(2.0 * math.pi * tf * (1.0 - f)) / log2
            )
        assert r["score"] == pytest.approx(exp, rel=1e-12), r["doc_id"]


def test_dph_single_term_doc_scores_zero(spark):
    """A document that is entirely one repeated term (tf == dl) takes
    the guarded 0 branch instead of log2(0) = -inf."""
    docs = spark.createDataFrame(
        [(0, "zzz zzz zzz"), (1, "zzz appears here once more zzz")],
        "doc_id long, content string",
    )
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=EN))
    qt = rt.queries_to_terms(spark, [("q", "zzz")], EN)
    run = rt.score_queries(
        idx, qt, k=10, sim=rt.Similarity(kind="dph")
    ).collect()
    by_doc = {r["doc_id"]: r["score"] for r in run}
    assert by_doc[0] == 0.0
    assert by_doc[1] != 0.0 and math.isfinite(by_doc[1])


def test_pivoted_hand_computed(spark, index):
    """Single-term query: per-doc pivoted-normalization VSM scores
    (Singhal'96: (1+ln(1+ln(tf)))/((1-s)+s*dl/avgdl) * ln((N+1)/df),
    s=0.2) vs pure Python."""
    toks, n, dls, avgdl, df = _tiny_stats()
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="pivoted")
    ).collect()
    assert run
    for r in run:
        tf = toks[r["doc_id"]].count("spark")
        exp = (
            (1.0 + math.log(1.0 + math.log(tf)))
            / (0.8 + 0.2 * dls[r["doc_id"]] / avgdl)
            * math.log((n + 1.0) / df["spark"])
        )
        assert r["score"] == pytest.approx(exp, rel=1e-12), r["doc_id"]


def test_boosting_query(spark, index):
    """Docs matching the demote term keep their slot but at score*0.25;
    undemoted docs are untouched; ordering reflects demotion."""
    qt = rt.queries_to_terms(spark, [("q1", "quick spark")], EN)
    plain = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    dem = spark.createDataFrame(
        [("q1", "lazi")], "qid string, term string"
    )  # docs 0, 2 contain 'lazy'
    out = rt.boosting_query(
        index, qt, dem, negative_boost=0.25, k=10
    ).collect()
    got = {r["doc_id"]: r["score"] for r in out}
    assert set(got) == set(plain)  # nothing removed, unlike MUST_NOT
    for d, s in got.items():
        exp = plain[d] * 0.25 if d in (0, 2) else plain[d]
        assert s == pytest.approx(exp, rel=1e-12), d
    ranks = {r["doc_id"]: r["rank"] for r in out}
    order = [d for d, _ in sorted(
        got.items(), key=lambda kv: (-kv[1], kv[0])
    )]
    assert [d for d, _ in sorted(
        ranks.items(), key=lambda kv: kv[1]
    )] == order


def test_rescore_topk(spark, index):
    """Rescoring re-orders WITHIN the first-pass window only: with
    first_k=2 the result set equals the BM25 top-2, ordered by
    bm25+lmdir; combined scores match the two runs' sums."""
    qt = rt.queries_to_terms(spark, [("q1", "quick spark")], EN)
    first = rt.score_queries(index, qt, k=2).collect()
    window = {r["doc_id"]: r["score"] for r in first}
    lm = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(
            index, qt, k=10, sim=rt.Similarity(kind="lmdir")
        ).collect()
    }
    out = rt.rescore_topk(
        index, qt, first_k=2, k=10,
        sim_second=rt.Similarity(kind="lmdir"),
    ).collect()
    assert {r["doc_id"] for r in out} == set(window)
    for r in out:
        exp = window[r["doc_id"]] + lm[r["doc_id"]]
        assert r["score"] == pytest.approx(exp, rel=1e-12)
    by_rank = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    exp_order = [d for d, _ in sorted(
        ((d, window[d] + lm[d]) for d in window),
        key=lambda kv: (-kv[1], kv[0]),
    )]
    assert by_rank == exp_order


def test_range_facet_counts(spark):
    run = spark.createDataFrame(
        [("q1", 0, 1), ("q1", 1, 2), ("q1", 2, 3), ("q2", 1, 1)],
        "qid string, doc_id long, rank long",
    )
    docs = spark.createDataFrame(
        [(0, 10), (1, 150), (2, 400)], "doc_id long, n_chars long"
    )
    out = rt.range_facet_counts(
        run, docs, value_col="n_chars",
        ranges=[("lo", 0, 100), ("hi", 100, None), ("wide", 0, 500)],
    ).collect()
    got = {(r["qid"], r["bucket"]): r["n_docs"] for r in out}
    # overlapping 'wide' counts every hit once more
    assert got == {
        ("q1", "lo"): 1, ("q1", "hi"): 2, ("q1", "wide"): 3,
        ("q2", "hi"): 1, ("q2", "wide"): 1,
    }


def test_span_within_query(spark):
    """Containment corners: inside counts (endpoints inclusive),
    outside doesn't, the big pair must be ordered within slop, and
    multiple little occurrences in one span each count."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b"]),            # x in [0,2] -> 1
            (1, ["a", "b", "x"]),            # x at 2 > span end 1 -> 0
            (2, ["x", "a", "b"]),            # x before span -> 0
            (3, ["a", "x", "x", "b"]),       # two x inside -> 2
            (4, ["b", "x", "a"]),            # unordered pair -> no span
            (5, ["a", "x", "y", "y", "b"]),  # b-a = 4 > slop+1 = 3 -> 0
            (6, ["a", "x"]),                 # no b -> no row
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    got = {
        r["doc_id"]: r["n_within"]
        for r in rt.span_within_query(
            pos, ("a", "b"), "x", slop=2
        ).collect()
    }
    assert got == {0: 1, 3: 2}
    # endpoint inclusivity: little AT the span start/end counts
    pos2 = ix.build_positional_postings(
        spark.createDataFrame(
            [(0, ["x", "q", "b"])], "doc_id long, tokens array<string>"
        )
    )
    # big = (x, b): span [0, 2]; little = x at position 0 (the start)
    got2 = {
        r["doc_id"]: r["n_within"]
        for r in rt.span_within_query(
            pos2, ("x", "b"), "x", slop=2
        ).collect()
    }
    assert got2 == {0: 1}


def test_span_containing_query(spark):
    """The dual of span_within: spans counted by DISTINCT start, so
    two little hits inside one span count once, while two spans each
    containing a hit count twice."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "x", "b"]),                 # one span, one hit -> 1
            (1, ["a", "b", "x"]),                 # hit outside -> 0 rows
            (2, ["a", "x", "x", "b"]),            # two hits, ONE span -> 1
            (3, ["a", "x", "b", "a", "x", "b"]),  # two spans w/ hits -> 2
            (4, ["b", "x", "a"]),                 # unordered -> no span
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    got = {
        r["doc_id"]: r["n_containing"]
        for r in rt.span_containing_query(
            pos, ("a", "b"), "x", slop=2
        ).collect()
    }
    assert got == {0: 1, 2: 1, 3: 2}


def test_span_not_query(spark):
    """Hand-built positions: 'a b' spans at 0 and 5; exclusion 'x' at 7
    kills the second span when post >= 1 (span [5,6] widened to [5,7])
    but not with post=0."""
    from luc4ir_spark.operators import indexer as ixm

    docs = spark.createDataFrame(
        [(1, "a b c d e a b x"), (2, "a b c")],
        "doc_id long, tokens_src string",
    ).select(
        "doc_id", F.split("tokens_src", " ").alias("tokens")
    )
    pos = ixm.build_positional_postings(docs)
    strict = {
        r["doc_id"]: r["spannot_freq"]
        for r in rt.span_not_query(pos, ["a", "b"], "x", 0, 0).collect()
    }
    assert strict == {1: 2, 2: 1}  # x at 7 outside both [0,1] and [5,6]
    widened = {
        r["doc_id"]: r["spannot_freq"]
        for r in rt.span_not_query(pos, ["a", "b"], "x", 0, 1).collect()
    }
    assert widened == {1: 1, 2: 1}  # [5,6]+post reaches 7 -> dropped
    pre = {
        r["doc_id"]: r["spannot_freq"]
        for r in rt.span_not_query(pos, ["a", "b"], "c", 1, 0).collect()
    }
    # 'c' at 2: span [0,1] survives (c after), span [5,6] pre-window
    # reaches 4 (no c) -> both survive; doc 2's [0,1] has c at 2 outside
    assert pre == {1: 2, 2: 1}


def test_block_join_topk(spark):
    """Two parents, packed child ids; parent score = max child."""
    children = spark.createDataFrame(
        [
            (1 * 100 + 0, "spark spark spark"),
            (1 * 100 + 1, "pasta"),
            (2 * 100 + 0, "spark"),
            (2 * 100 + 1, "cooking"),
        ],
        "doc_id long, chunk_text string",
    )
    from luc4ir_spark.operators import indexer as ixm

    cidx = ixm.build_index(
        children, ixm.IndexConfig(analyzer=EN),
        content_col="chunk_text", cache=False,
    )
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    out = rt.block_join_topk(cidx, qt, parent_pack=100, k=10).collect()
    got = {r["parent_id"]: (r["rank"], r["score"]) for r in out}
    assert set(got) == {1, 2}
    # child scores: per-chunk BM25; parent 1's best is the tf=3 chunk
    per_child = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(cidx, qt, k=10).collect()
    }
    assert got[1][1] == pytest.approx(per_child[100], rel=1e-12)
    assert got[2][1] == pytest.approx(per_child[200], rel=1e-12)
    exp_rank1 = 1 if per_child[100] > per_child[200] else 2
    assert got[1][0] == exp_rank1
    assert got[2][0] == 3 - exp_rank1


def test_block_join_children_topk(spark, index):
    """Every child of a matching parent inherits the PARENT's score
    verbatim; parents with no children contribute no rows; ordering is
    (score DESC, child_id ASC)."""
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    parent_scores = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    assert parent_scores  # fixture sanity
    kids = [
        (d, d * 10 + i)
        for d in parent_scores
        for i in range(2)
        if d != max(parent_scores)  # one matching parent is childless
    ]
    children = spark.createDataFrame(
        kids, "parent_id long, child_id long"
    )
    out = rt.block_join_children_topk(
        index, qt, children, k=100
    ).collect()
    assert len(out) == len(kids)
    ranks = []
    for r in out:
        assert r["score"] == pytest.approx(
            parent_scores[r["parent_id"]], rel=1e-12
        )
        assert r["child_id"] // 10 == r["parent_id"]
        ranks.append((r["rank"], -r["score"], r["child_id"]))
    # rank order == (score desc, child_id asc)
    ranks.sort()
    assert [x[0] for x in ranks] == list(range(1, len(kids) + 1))
    assert ranks == sorted(ranks, key=lambda x: (x[1], x[2]))


def test_common_terms_query(spark, index):
    """'pasta' (df=1) is rare at ratio 0.4 (cutoff 2.4); 'quick'
    (df=2) is not... cutoff math: rare iff df <= ratio*N."""
    # N=6; ratio=0.3 -> cutoff 1.8: rare = df 1 terms only
    qt = rt.queries_to_terms(spark, [("c1", "quick pasta")], EN)
    run = rt.common_terms_query(
        index, qt, max_df_ratio=0.3, k=10
    ).collect()
    # only doc 4 contains 'pasta'; 'quick' docs 0/3 are excluded
    assert {r["doc_id"] for r in run} == {4}
    # no rare terms -> plain OR over common terms
    qt2 = rt.queries_to_terms(spark, [("c2", "quick spark")], EN)
    run2 = rt.common_terms_query(
        index, qt2, max_df_ratio=0.3, k=10
    ).collect()
    plain = rt.score_queries(index, qt2, k=10).collect()
    assert {(r["doc_id"], r["rank"]) for r in run2} == {
        (r["doc_id"], r["rank"]) for r in plain
    }


def test_facet_hierarchy(spark):
    run = spark.createDataFrame(
        [("q1", 0, 1), ("q1", 1, 2), ("q1", 2, 3)],
        "qid string, doc_id long, rank long",
    )
    docs = spark.createDataFrame(
        [(0, "web", "en"), (1, "web", "es"), (2, "news", "en")],
        "doc_id long, source string, lang string",
    )
    out = rt.facet_hierarchy(run, docs, levels=["source", "lang"])
    got = {
        (r["qid"], r["source"], r["lang"]): r["n_docs"]
        for r in out.collect()
    }
    assert got == {
        ("q1", "web", "en"): 1,
        ("q1", "web", "es"): 1,
        ("q1", "news", "en"): 1,
        ("q1", "web", "(all)"): 2,
        ("q1", "news", "(all)"): 1,
        ("q1", "(all)", "(all)"): 3,
    }


def test_percolate_modes(spark):
    docs = spark.createDataFrame(
        [(0, "spark join window"), (1, "spark only here"), (2, "pasta")],
        "doc_id long, content string",
    )
    qt = spark.createDataFrame(
        [("a", "spark"), ("a", "join"), ("b", "pasta"), ("c", "spark"),
         ("c", "zzzmissing")],
        "qid string, term string",
    )
    cfg = AnalyzerConfig(mode="simple")
    allm = {
        (r["doc_id"], r["qid"]): r["n_matched"]
        for r in rt.percolate(docs, qt, mode="all", cfg=cfg).collect()
    }
    # q 'a' needs spark AND join -> doc 0 only; 'b' -> doc 2;
    # 'c' has an impossible term -> never fires
    assert allm == {(0, "a"): 2, (2, "b"): 1}
    anym = {
        (r["doc_id"], r["qid"])
        for r in rt.percolate(
            docs, qt, mode="any", min_should_match=1, cfg=cfg
        ).collect()
    }
    assert anym == {(0, "a"), (1, "a"), (2, "b"), (0, "c"), (1, "c")}


def test_spell_candidates_ngram(spark, index):
    """Candidate generation: 'spork' reaches 'spark' via shared
    boundary bigrams (^s, sp, rk, k$) then verifies at distance 1;
    a term with NO 2-bigram overlap never reaches the levenshtein
    stage; exact terms come back at distance 0."""
    qt = spark.createDataFrame(
        [("s1", "spork"), ("s2", "pasta")], "qid string, term string"
    )
    got = {
        (r["qid"], r["term"]): (r["n_shared"], r["distance"])
        for r in rt.spell_candidates_ngram(
            index, qt, min_shared=2, max_edits=2
        ).collect()
    }
    assert ("s1", "spark") in got
    n_shared, dist = got[("s1", "spark")]
    assert dist == 1 and n_shared >= 2
    assert got[("s2", "pasta")] == (6, 0)  # exact: all 6 bigrams


def test_spell_candidates_ngram_brute(spark, index):
    """Pure-Python brute replay of generation + verify."""
    qt = spark.createDataFrame(
        [("s1", "spork"), ("s2", "stram")], "qid string, term string"
    )
    got = {
        (r["qid"], r["term"])
        for r in rt.spell_candidates_ngram(
            index, qt, min_shared=2, max_edits=2
        ).collect()
    }

    def bigrams(w):
        m = f"^{w}$"
        return {m[i:i + 2] for i in range(len(m) - 1)}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    vocab = [r["term"] for r in index.term_stats.select("term").collect()]
    want = set()
    for qid, qterm in [("s1", "spork"), ("s2", "stram")]:
        for t in vocab:
            if len(bigrams(qterm) & bigrams(t)) >= 2 and lev(qterm, t) <= 2:
                want.add((qid, t))
    assert got == want


def test_cori_collection_scores_hand_computed(spark, index):
    """CORI beliefs vs pure Python over the tiny corpus split into
    two shards; absent terms contribute the 0.4 floor; ranks tie-break
    by shard name."""
    from collections import defaultdict

    from luc4ir_spark.operators import federation as fed

    toks, n, dls, avgdl, df = _tiny_stats()
    shard_of = {d: ("s0" if d < 3 else "s1") for d, _ in DOCS}
    shards = spark.createDataFrame(
        list(shard_of.items()), "doc_id long, shard string"
    )
    qt = rt.queries_to_terms(
        spark, [("q1", "spark index"), ("q2", "pasta")], EN
    )
    got = {
        (r["qid"], r["shard"]): (r["belief"], r["rank"])
        for r in fed.cori_collection_scores(
            index.postings, shards, qt
        ).collect()
    }
    # pure python replay
    from luc4ir_spark.functions.analysis import analyze_text

    q_terms = {"q1": analyze_text("spark index", EN),
               "q2": analyze_text("pasta", EN)}
    df_s = defaultdict(int)
    for d, ts in toks.items():
        for t in set(ts):
            df_s[(t, shard_of[d])] += 1
    cw = defaultdict(int)
    for d, l in dls.items():
        cw[shard_of[d]] += l
    ncoll = len(cw)
    avg_cw = sum(cw.values()) / ncoll
    cf = defaultdict(set)
    for (t, s), _ in df_s.items():
        cf[t].add(s)
    import math as m

    for qid, terms in q_terms.items():
        beliefs = {}
        for s in cw:
            total = 0.0
            for t in set(terms):
                if (t, s) in df_s and cf[t]:
                    tt = df_s[(t, s)] / (
                        df_s[(t, s)] + 50.0 + 150.0 * cw[s] / avg_cw
                    )
                    ii = m.log((ncoll + 0.5) / len(cf[t])) / m.log(
                        ncoll + 1.0
                    )
                    total += 0.4 + 0.6 * tt * ii
                else:
                    total += 0.4
            beliefs[s] = total
        order = sorted(beliefs, key=lambda s: (-beliefs[s], s))
        for rk, s in enumerate(order, 1):
            b_got, r_got = got[(qid, s)]
            assert b_got == pytest.approx(beliefs[s], abs=5e-5), (qid, s)
            assert r_got == rk, (qid, s)


def test_redde_scores_hand_computed(spark):
    """Scale-back arithmetic: shard A (8 docs, 2 sampled) with 2 top
    hits -> est 2*8/2 = 8; shard B (4 docs, 1 sampled) with 1 hit ->
    4; shard C sampled but never hit -> 0, still ranked."""
    from luc4ir_spark.operators import federation as fed

    run = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3), ("q", 99, 30)],
        "qid string, doc_id long, rank long",
    )
    shard_map = spark.createDataFrame(
        [(d, "A") for d in range(1, 9)]
        + [(d, "B") for d in range(11, 15)]
        + [(d, "C") for d in range(21, 23)]
        + [(99, "B")],
        "doc_id long, shard string",
    )
    sample = spark.createDataFrame(
        [(1,), (2,), (3,), (21,), (99,)], "doc_id long"
    )
    got = {
        r["shard"]: (r["n_top_hits"], r["est_rel"], r["rank"])
        for r in fed.redde_collection_scores(
            run, shard_map, sample, n_top=10
        ).collect()
    }
    # doc 99 at rank 30 is outside n_top; docs 1,2 in A (2 sampled
    # in A... doc 3 is also A) -> A has 3 sampled? samples in A: 1,2,3
    assert got["A"] == (3, round(3 * 8 / 3, 4), 1)   # 8.0
    assert got["B"] == (0, 0.0, 2)
    assert got["C"] == (0, 0.0, 3)


def test_cori_merge_runs_hand_computed(spark):
    """Min-max belief normalization + (D + 0.4·D·C'')/1.4 rescale:
    the top-belief shard keeps scores intact (C''=1 -> D), the bottom
    one shrinks to D/1.4; uniform beliefs leave the order raw."""
    from luc4ir_spark.operators import federation as fed

    runs = spark.createDataFrame(
        [("s0", "q", 1, 1.0), ("s0", "q", 2, 0.9),
         ("s1", "q", 3, 0.95)],
        "shard string, qid string, doc_id long, score double",
    )
    beliefs = spark.createDataFrame(
        [("q", "s0", 0.9), ("q", "s1", 0.5)],
        "qid string, shard string, belief double",
    )
    got = {
        r["doc_id"]: (r["merged"], r["rank"])
        for r in fed.cori_merge_runs(runs, beliefs, k=10).collect()
    }
    # s0: C''=1 -> merged == score; s1: C''=0 -> score/1.4
    assert got[1] == (1.0, 1)
    assert got[2] == (0.9, 2)
    assert got[3] == (round(0.95 / 1.4, 4), 3)
    # uniform beliefs: C''=0 everywhere -> all scores /1.4, raw order
    uni = spark.createDataFrame(
        [("q", "s0", 0.7), ("q", "s1", 0.7)],
        "qid string, shard string, belief double",
    )
    got_u = {
        r["doc_id"]: r["rank"]
        for r in fed.cori_merge_runs(runs, uni, k=10).collect()
    }
    assert got_u == {1: 1, 3: 2, 2: 3}


def test_percolate_indexed_equals_broadcast_all_must(spark):
    """Indexed (rarest-term presearcher) percolation returns exactly
    percolate(mode='all'): the impossible-term query seeds on its OOV
    term (df 0) and never fires; a query whose rarest REAL term misses
    a doc is correctly never even a candidate."""
    docs = spark.createDataFrame(
        [(0, "spark join window"), (1, "spark only here"), (2, "pasta")],
        "doc_id long, content string",
    )
    qt = spark.createDataFrame(
        [("a", "spark"), ("a", "join"), ("b", "pasta"), ("c", "spark"),
         ("c", "zzzmissing")],
        "qid string, term string",
    )
    # corpus df: spark 2, join 1, pasta 1 (window/only/here unused)
    stats = spark.createDataFrame(
        [("spark", 2, 2), ("join", 1, 1), ("pasta", 1, 1),
         ("window", 1, 1), ("only", 1, 1), ("here", 1, 1)],
        "term string, df long, cf long",
    )
    cfg = AnalyzerConfig(mode="simple")
    want = {
        (r["doc_id"], r["qid"]): r["n_matched"]
        for r in rt.percolate(docs, qt, mode="all", cfg=cfg).collect()
    }
    got = {
        (r["doc_id"], r["qid"]): r["n_matched"]
        for r in rt.percolate_indexed(docs, qt, stats, cfg=cfg).collect()
    }
    assert got == want == {(0, "a"): 2, (2, "b"): 1}


def test_join_query(spark, index):
    docs = spark.createDataFrame(
        [(d, ["s1", "s1", "s2", "s2", "s3", "s3"][d]) for d, _ in DOCS],
        "doc_id long, src string",
    )
    qt = rt.queries_to_terms(spark, [("j1", "pasta")], EN)
    out = {
        (r["qid"], r["doc_id"])
        for r in rt.join_query(index, qt, docs, field="src").collect()
    }
    # 'pasta' matches doc 4 (src s3) -> all s3 docs {4, 5}
    assert out == {("j1", 4), ("j1", 5)}


def test_result_field_stats(spark):
    run = spark.createDataFrame(
        [("q", d, r) for r, d in enumerate([0, 1, 2, 3], start=1)],
        "qid string, doc_id long, rank long",
    )
    docs = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 40), (3, 100)], "doc_id long, v long"
    )
    row = rt.result_field_stats(run, docs, value_col="v").collect()[0]
    assert row["n"] == 4 and row["vmin"] == 10.0 and row["vmax"] == 100.0
    assert row["vavg"] == pytest.approx(42.5)
    assert row["vmed"] == pytest.approx(30.0)  # interpolated (20+40)/2
    import statistics
    assert row["vstd"] == pytest.approx(
        statistics.stdev([10, 20, 40, 100])
    )


def test_check_index_clean_and_corrupted(spark, index):
    row = ix.check_index(index).collect()[0]
    assert row["df_mismatches"] == 0
    assert row["cf_mismatches"] == 0
    assert row["doclen_mismatches"] == 0
    assert row["nonpositive_tf"] == 0
    assert row["n_docs"] == len(DOCS)
    # corrupt the term stats -> detected
    import dataclasses

    bad_ts = index.term_stats.withColumn(
        "df",
        F.when(F.col("term") == "spark", F.col("df") + 1).otherwise(
            F.col("df")
        ),
    )
    bad = dataclasses.replace(index, term_stats=bad_ts)
    assert ix.check_index(bad).collect()[0]["df_mismatches"] == 1


def test_did_you_mean(spark, index):
    """'quik spark' -> 'quick spark' (collates with hits); a token
    with no suggestion stays and collates to 0 hits."""
    q = spark.createDataFrame(
        [("d1", 0, "quik"), ("d1", 1, "spark"),
         ("d2", 0, "zzzzzzzzz"), ("d2", 1, "spark")],
        "qid string, pos int, term string",
    )
    out = {
        r["qid"]: (r["collated"], r["n_hits"])
        for r in rt.did_you_mean(index, q, max_edits=2).collect()
    }
    assert out["d1"][0] == "quick spark"
    # conjunctive probe: docs with both 'quick' and 'spark' stems
    assert out["d1"][1] == 0  # no doc has both in the tiny corpus
    assert out["d2"] == ("zzzzzzzzz spark", 0)
    q2 = spark.createDataFrame(
        [("d3", 0, "quik"), ("d3", 1, "fox")],
        "qid string, pos int, term string",
    )
    out2 = rt.did_you_mean(index, q2).collect()[0]
    assert out2["collated"] == "quick fox"
    assert out2["n_hits"] == 1  # doc 0 has quick AND fox


def test_best_fragments_hand_computed(spark):
    from luc4ir_spark.operators import indexer as ixm

    docs = spark.createDataFrame(
        [(1, "x a y b z z z z z z a b")],
        "doc_id long, tokens_src string",
    ).select("doc_id", F.split("tokens_src", " ").alias("tokens"))
    pos = ixm.build_positional_postings(docs)
    run = spark.createDataFrame(
        [("q", 1, 1)], "qid string, doc_id long, rank long"
    )
    qt = spark.createDataFrame(
        [("q", "a"), ("q", "b")], "qid string, term string"
    )
    out = sorted(
        rt.best_fragments(run, pos, qt, width=3, n_fragments=2).collect(),
        key=lambda r: r["frag_rank"],
    )
    # occurrences: a@1, b@3, a@10, b@11; window 3:
    # anchor 1 -> {1,3} = 2; anchor 3 -> 1; anchor 10 -> {10,11} = 2;
    # anchor 11 -> 1. top 2 = (1, 2 hits), (10, 2 hits)
    assert [(r["start_pos"], r["n_hits"]) for r in out] == [(1, 2), (10, 2)]


def test_block_join_score_modes(spark):
    from luc4ir_spark.operators import indexer as ixm

    children = spark.createDataFrame(
        [(100, "spark spark"), (101, "spark"), (200, "spark")],
        "doc_id long, chunk_text string",
    )
    cidx = ixm.build_index(
        children, ixm.IndexConfig(analyzer=EN),
        content_col="chunk_text", cache=False,
    )
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    child = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(cidx, qt, k=10).collect()
    }
    for mode, comb in (
        ("max", max), ("total", sum),
        ("avg", lambda v: sum(v) / len(v)),
    ):
        got = {
            r["parent_id"]: r["score"]
            for r in rt.block_join_topk(
                cidx, qt, parent_pack=100, score_mode=mode
            ).collect()
        }
        assert got[1] == pytest.approx(
            comb([child[100], child[101]]), rel=1e-12
        ), mode
        assert got[2] == pytest.approx(child[200], rel=1e-12), mode
    with pytest.raises(ValueError):
        rt.block_join_topk(cidx, qt, parent_pack=100, score_mode="min")


def test_proximity_rerank_hand_computed(spark):
    import math as m

    from luc4ir_spark.operators import indexer as ixm

    docs = spark.createDataFrame(
        [(1, "a x x x b"), (2, "a b"), (3, "a only here")],
        "doc_id long, tokens_src string",
    ).select("doc_id", F.split("tokens_src", " ").alias("tokens"))
    pos = ixm.build_positional_postings(docs)
    run = spark.createDataFrame(
        [("q", 1, 1, 1.0), ("q", 2, 2, 1.0), ("q", 3, 3, 1.0)],
        "qid string, doc_id long, rank long, score double",
    )
    qt = spark.createDataFrame(
        [("q", "a"), ("q", "b")], "qid string, term string"
    )
    out = {
        r["doc_id"]: (r["rank"], r["score"])
        for r in rt.proximity_rerank(run, pos, qt, k=10).collect()
    }
    # doc 2: mindist 1 -> 1 + ln(1+e^-1); doc 1: mindist 4; doc 3: no
    # pair -> bonus 0
    assert out[2][1] == pytest.approx(1.0 + m.log(1 + m.exp(-1)), rel=1e-12)
    assert out[1][1] == pytest.approx(1.0 + m.log(1 + m.exp(-4)), rel=1e-12)
    assert out[3][1] == pytest.approx(1.0)
    assert [out[2][0], out[1][0], out[3][0]] == [1, 2, 3]


def test_borda_fuse_hand_computed(spark):
    """Truncated-ballot Borda: pool_k=3 awards 3/2/1 points; absent
    docs get nothing; integer totals, doc_id tie-break."""
    runs = spark.createDataFrame(
        [
            ("a", "q", 10, 1), ("a", "q", 11, 2), ("a", "q", 12, 3),
            ("a", "q", 13, 4),          # beyond pool_k -> no points
            ("b", "q", 11, 1), ("b", "q", 13, 2),
        ],
        "run_id string, qid string, doc_id long, rank long",
    )
    out = rt.borda_fuse(runs, pool_k=3, topk=10).collect()
    got = {r["doc_id"]: (r["borda"], r["rank"]) for r in out}
    # points: 10 -> 3; 11 -> 2 + 3 = 5; 12 -> 1; 13 -> 0 + 2 = 2
    assert got[11] == (5, 1)
    assert got[10] == (3, 2)
    assert got[13][0] == 2 and got[12][0] == 1
    # tie-break check: equal totals order by doc_id asc
    runs2 = spark.createDataFrame(
        [("a", "q", 5, 1), ("b", "q", 2, 1)],
        "run_id string, qid string, doc_id long, rank long",
    )
    out2 = rt.borda_fuse(runs2, pool_k=1, topk=10).collect()
    assert [(r["doc_id"], r["rank"]) for r in sorted(
        out2, key=lambda r: r["rank"])] == [(2, 1), (5, 2)]


def test_term_max_contrib_upper_bound(spark, index):
    """Every term's reported bound equals the max over its postings of
    the brute BM25 contribution (pure-Python replay), the argmax doc
    matches (larger doc on ties), and the bound dominates the per-doc
    contributions — the MaxScore invariant."""
    import math

    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    n = len(DOCS)
    dls = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dls.values()) / n
    dfm = {}
    for ts in toks.values():
        for t in set(ts):
            dfm[t] = dfm.get(t, 0) + 1

    def contrib(t, d):
        tf = toks[d].count(t)
        idf = math.log(1 + (n - dfm[t] + 0.5) / (dfm[t] + 0.5))
        return idf * tf / (tf + 0.7 * (1 - 0.3 + 0.3 * dls[d] / avgdl))

    out = ix.term_max_contrib(index, topn=1000).collect()
    assert len(out) == len(dfm)
    for r in out:
        t = r["term"]
        per_doc = {
            d: contrib(t, d) for d in toks if toks[d].count(t) > 0
        }
        best = max(per_doc.values())
        assert r["max_contrib"] == pytest.approx(round(best, 4))
        exp_doc = max(
            d for d, c in per_doc.items()
            if abs(c - best) < 1e-12
        )
        assert r["doc_id"] == exp_doc


def test_term_burstiness_hand_computed(spark):
    """cf/df and repeat probability vs hand counts; the df floor
    drops rare terms."""
    docs = spark.createDataFrame(
        [
            (0, "x x x y"), (1, "x y"), (2, "x x z"),
        ],
        "doc_id long, content string",
    )
    idx = ix.build_index(docs, ix.IndexConfig(
        analyzer=AnalyzerConfig(mode="simple")))
    out = {
        r["term"]: r
        for r in ix.term_burstiness(idx, min_df=2, topn=10).collect()
    }
    # x: df 3, cf 6, repeat in docs 0 and 2 -> mean 2.0, p 2/3
    # y: df 2, cf 2, no repeats -> mean 1.0, p 0; z: df 1 dropped
    assert set(out) == {"x", "y"}
    assert out["x"]["mean_tf"] == pytest.approx(2.0)
    assert out["x"]["p_repeat"] == pytest.approx(round(2 / 3, 4))
    assert out["y"]["mean_tf"] == pytest.approx(1.0)
    assert out["y"]["p_repeat"] == 0.0
    assert out["x"]["rank"] == 1


def test_pagerank_boost_composition(spark, index):
    """The pagerank-prior boost equals the hand composition of the
    two already-tested pieces: score' = bm25 · (1 + ln(1 + pr))."""
    import math

    from luc4ir_spark.operators import graph as gr

    qt = rt.queries_to_terms(spark, QUERIES, EN)
    run = rt.score_queries(index, qt, k=10)
    docs = spark.createDataFrame(
        [(d,) for d, _ in DOCS], "doc_id long"
    )
    n = len(DOCS)
    edges = gr.synthetic_link_graph(docs, n)
    prdf = gr.pagerank_regular_exact(
        docs, edges, n, n_iter=3, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), "pr")
    pr = {r["doc_id"]: r["pr"] for r in prdf.collect()}
    exp = {}
    for r in run.collect():
        exp.setdefault(r["qid"], []).append(
            (r["doc_id"], r["score"] * (1.0 + math.log(1.0 + pr[r["doc_id"]])))
        )
    out = rt.function_score(
        run, prdf, F.lit(1.0) + F.log(F.lit(1.0) + F.col("pr")), k=10
    ).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, rows in exp.items():
        rows.sort(key=lambda t: (-t[1], t[0]))
        assert [d for d, _ in got[qid]] == [d for d, _ in rows]
        for (gd, gs), (_, es) in zip(got[qid], rows):
            assert gs == pytest.approx(es, rel=1e-12)


def test_compact_doc_ids_and_remap(spark, index):
    """compact_doc_ids is a bijection onto [0, n); remap_index keeps
    retrieval results identical up to the relabeling (same scores at
    every rank, doc ids mapped through)."""
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    mapping = ix.compact_doc_ids(df, n_shards=3)
    rows = mapping.collect()
    assert sorted(r["new_id"] for r in rows) == list(range(len(DOCS)))
    assert {r["old_id"] for r in rows} == {d for d, _ in DOCS}
    m = {r["old_id"]: r["new_id"] for r in rows}
    remapped = ix.remap_index(index, mapping)
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    orig = rt.score_queries(index, qt, k=10).collect()
    new = rt.score_queries(remapped, qt, k=10).collect()
    exp = {(r["qid"], m[r["doc_id"]]): r["score"] for r in orig}
    got = {(r["qid"], r["doc_id"]): r["score"] for r in new}
    assert set(got) == set(exp)
    for k_, v in exp.items():
        assert got[k_] == pytest.approx(v, rel=1e-12)


def test_shard_idf_drift_pure_python_replay(index):
    """shard_idf_drift vs a dict replay (same mix shards, absent
    shard = df_local 0, Lucene idf) over the module corpus."""
    import math

    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    s = 2
    toks = {d: set(analyze_text(t, EN)) for d, t in DOCS}
    n = len(DOCS)

    def shard(d):
        return ((MIX_A * (d % MIX_P) + MIX_B) % MIX_P) % s

    n_s = {}
    for d in toks:
        n_s[shard(d)] = n_s.get(shard(d), 0) + 1
    df_g, df_l = {}, {}
    for d, ts in toks.items():
        for t in ts:
            df_g[t] = df_g.get(t, 0) + 1
            df_l[(t, shard(d))] = df_l.get((t, shard(d)), 0) + 1

    def idf(nn, df):
        return math.log(1.0 + (nn - df + 0.5) / (df + 0.5))

    exp = {}
    for t, dfg in df_g.items():
        exp[t] = round(
            max(
                abs(idf(n_s[sh], df_l.get((t, sh), 0)) - idf(n, dfg))
                for sh in range(s)
            ),
            4,
        )
    out = ix.shard_idf_drift(index, n_shards=s, topn=1000).collect()
    assert len(out) == len(df_g)
    order = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    for r in out:
        assert r["drift"] == pytest.approx(exp[r["term"]])
        assert order[r["rank"] - 1][0] == r["term"]
        assert r["df"] == df_g[r["term"]]


def test_simple_query_string_semantics(spark):
    """AND-of-items with phrase / OR-group / prefix / negation, plus
    the empty-expansion prefix matching nothing; parser structure."""
    docs = [
        (1, "red fox jumps high"),
        (2, "red dog jumps"),
        (3, "blue fox runs fast jumps"),
        (4, "red fox high jumps"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    idx = ix.build_index(df, ix.IndexConfig(analyzer=EN))
    pos = ix.build_positional_postings(ix.tokenize(df, EN))
    qs = [
        ("a", 'red "fox jumps"'),
        ("b", "fox|dog -blue"),
        ("c", "ju* red"),
        ("d", "qqq*"),
    ]
    out = rt.simple_query_string(idx, pos, qs, k=10, cfg=EN)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["doc_id"])
    assert got["a"] == {1}          # phrase is consecutive-only
    assert got["b"] == {1, 2, 4}    # OR group minus negation
    assert got["c"] == {1, 2, 4}    # ju* -> jump, AND red
    assert "d" not in got           # prefix expands to nothing
    items, phrases, prefixes, negs = rt.parse_simple_query_string(
        "x", 'red "fox jumps" ju* a|b -c', EN
    )
    exp_ab = analyze_text("a", EN) + analyze_text("b", EN)
    assert [(i, ts) for i, ts in items] == [
        (0, analyze_text("red", EN)), (2, []), (3, exp_ab)
    ]
    assert phrases == [(1, analyze_text("fox jumps", EN))]
    assert prefixes == [(2, "ju")]
    assert negs == analyze_text("c", EN)


def test_ltr_train_ridge_hand_computed(spark):
    """2x2 ridge vs hand arithmetic: X = [(1,0),(0,1),(1,1),(2,1)],
    y = (1,0,1,1), lambda=1 -> S+I = [[7,3],[3,4]], b = (4,2),
    det 19, w = (10/19, 2/19); MSE from the statistics identity
    = 143/1444."""
    feats = spark.createDataFrame(
        [(1.0, 0.0, 1.0), (0.0, 1.0, 0.0),
         (1.0, 1.0, 1.0), (2.0, 1.0, 1.0)],
        "x1 double, x2 double, y double",
    )
    row = rt.ltr_train_ridge(
        feats, feature_cols=("x1", "x2"), label_col="y", l2=1.0
    ).collect()[0]
    assert row["n"] == 4
    assert row["w1"] == pytest.approx(10 / 19, rel=1e-12)
    assert row["w2"] == pytest.approx(2 / 19, rel=1e-12)
    assert row["mse"] == pytest.approx(143 / 1444, rel=1e-9)


def test_query_relaxation_ladder(spark):
    """Corpus: 3 docs with both terms, 2 with only one. min_hits=3 is
    met at full AND for q1; q2 ('aa zz') has an OOV term so AND is
    unsatisfiable and msm=1 (level 1) serves; q3 all-OOV falls back
    to OR with 0 hits."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb"), (2, "aa bb"), (3, "aa bb"),
            (4, "aa"), (5, "bb"),
        ],
        "doc_id long, content string",
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    qt = rt.queries_to_terms(
        spark,
        [("q1", "aa bb"), ("q2", "aa zz"), ("q3", "zz yy")],
        AnalyzerConfig(mode="simple"),
    )
    out = {
        r["qid"]: r
        for r in rt.query_relaxation_report(
            idx, qt, min_hits=3
        ).collect()
    }
    assert (out["q1"]["msm"], out["q1"]["level"], out["q1"]["n_hits"]) \
        == (2, 0, 3)
    assert (out["q2"]["msm"], out["q2"]["level"], out["q2"]["n_hits"]) \
        == (1, 1, 4)
    assert (out["q3"]["msm"], out["q3"]["level"], out["q3"]["n_hits"]) \
        == (1, 1, 0)


def test_mine_hard_negatives_hand_computed(spark):
    """Retrieved positives pair with the top-n non-relevant docs in
    run order; unjudged counts as negative; a query with no retrieved
    positive yields nothing."""
    run = spark.createDataFrame(
        [
            ("q1", 10, "10", 1), ("q1", 11, "11", 2),
            ("q1", 12, "12", 3), ("q1", 13, "13", 4),
            ("q2", 20, "20", 1),
        ],
        "qid string, doc_id long, docid string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q1", "11", 1.0), ("q1", "12", 0.0), ("q2", "99", 1.0)],
        "qid string, docid string, rel double",
    )
    out = {
        (r["qid"], r["pos_id"], r["neg_id"]): r["neg_rank"]
        for r in rt.mine_hard_negatives(run, qrels, n_neg=2).collect()
    }
    # q1: positive 11; negatives in run order: 10 (rank1), 12 (judged
    # 0), cut at 2 -> 13 excluded. q2: no retrieved positive.
    assert out == {("q1", 11, 10): 1, ("q1", 11, 12): 2}

    # custom column spellings are honored on BOTH join sides, and the
    # doc key may BE the integer id (docid_col == run_id_col)
    run2 = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3)],
        "topic string, doc_id long, rank long",
    )
    qrels2 = spark.createDataFrame(
        [("q1", 11, 1.0)], "topic string, doc_id long, grade double"
    )
    out2 = {
        (r["qid"], r["pos_id"], r["neg_id"]): r["neg_rank"]
        for r in rt.mine_hard_negatives(
            run2, qrels2, n_neg=2, qid_col="topic",
            docid_col="doc_id", rel_col="grade", run_id_col="doc_id",
        ).collect()
    }
    assert out2 == {("q1", 11, 10): 1, ("q1", 11, 12): 2}


def test_ltr_apply_linear_hand_computed(spark):
    """Applying a known one-row model reproduces w1·f1 + w2·f2 with
    the per-query re-rank and doc_id tie-break."""
    feats = spark.createDataFrame(
        [("q", 1, 2.0, 1.0), ("q", 2, 1.0, 3.0), ("q", 3, 0.0, 0.0)],
        "qid string, doc_id long, bm25 double, lmdir double",
    )
    model = spark.createDataFrame([(0.5, 1.0)], "w1 double, w2 double")
    out = sorted(
        rt.ltr_apply_linear(feats, model, k=3).collect(),
        key=lambda r: r["rank"],
    )
    # scores: d1 = 2.0, d2 = 3.5, d3 = 0.0
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (2, pytest.approx(3.5)),
        (1, pytest.approx(2.0)),
        (3, pytest.approx(0.0)),
    ]


def test_condorcet_fuse_hand_computed(spark):
    """Copeland over 3 voters, pool_k=3 (absent = rank 4):
    q1 ranks A:(d1,d2,d3) B:(d2,d1,d4) C:(d1,d4,d2) ->
    d1 wins every duel (+3), d2 beats d3/d4 loses d1 (+1),
    d4 beats only d3 (-1), d3 loses all (-3).
    q2: d1 only in A, d2 only in B, C abstains (both absent) ->
    duel splits 1-1 = tie, both score 0, doc_id tie-break."""
    runs = spark.createDataFrame(
        [
            ("a", "q1", 1, 1), ("a", "q1", 2, 2), ("a", "q1", 3, 3),
            ("b", "q1", 2, 1), ("b", "q1", 1, 2), ("b", "q1", 4, 3),
            ("c", "q1", 1, 1), ("c", "q1", 4, 2), ("c", "q1", 2, 3),
            ("a", "q2", 1, 1),
            ("b", "q2", 2, 1),
        ],
        "run_id string, qid string, doc_id long, rank long",
    )
    out = rt.condorcet_fuse(runs, pool_k=3, topk=10).collect()
    q1 = {r["doc_id"]: (r["copeland"], r["rank"])
          for r in out if r["qid"] == "q1"}
    assert q1 == {1: (3, 1), 2: (1, 2), 4: (-1, 3), 3: (-3, 4)}
    q2 = {r["doc_id"]: (r["copeland"], r["rank"])
          for r in out if r["qid"] == "q2"}
    assert q2 == {1: (0, 1), 2: (0, 2)}


def test_ltr_features_consistent_with_scorers(spark, index):
    """The bm25/lmdir feature columns equal the dedicated scorers'
    outputs for the same candidates; integer features hand-check."""
    qt = rt.queries_to_terms(spark, QUERIES, EN)
    feats = rt.ltr_features(index, qt, k=10).collect()
    assert feats
    bm25 = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(index, qt, k=10).collect()
    }
    lmdir = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in rt.score_queries(
            index, qt, k=10, sim=rt.Similarity(kind="lmdir")
        ).collect()
    }
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    qterms = {}
    for r in qt.collect():
        qterms.setdefault(r["qid"], []).append(r["term"])
    for r in feats:
        key = (r["qid"], r["doc_id"])
        assert r["bm25"] == pytest.approx(bm25[key], rel=1e-12)
        if key in lmdir:
            assert r["lmdir"] == pytest.approx(lmdir[key], rel=1e-12)
        terms = toks[r["doc_id"]]
        matched = [t for t in set(qterms[r["qid"]]) if t in terms]
        assert r["n_matched"] == len(matched)
        assert r["sum_tf"] == sum(terms.count(t) for t in matched)
        assert r["doc_len"] == len(terms)


def test_sdm_topk_hand_computed(spark):
    """SDM score == the pure-Python background decomposition over a
    tiny corpus: unigram + #od1 + #uw8 Dirichlet features, weights
    (0.85, 0.1, 0.05)."""
    import math

    from luc4ir_spark.operators import indexer as ixm

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b a c")], "doc_id long, content string"
    )
    simple = AnalyzerConfig(mode="simple")
    idx = ixm.build_index(
        docs, ixm.IndexConfig(analyzer=simple), cache=False
    )
    toks = ixm.tokenize(docs, simple)
    pos = ixm.build_positional_postings(toks)
    mu = 10.0
    out = rt.sdm_topk(
        idx, pos, [("q", "a b")], k=10, mu=mu, cfg=simple
    ).collect()
    got = {r["doc_id"]: (r["rank"], r["score"]) for r in out}
    C = 8.0
    cf = {"a": 3, "b": 3}
    od = {1: 2}          # doc1: a@0->b@1, a@3->b@4; cf_od = 2
    uw = {1: 2, 2: 1}    # anchors of 'a' with 'b' within +/-8; cf_uw = 3
    cfo, cfu = 2.0, 3.0
    dls = {1: 5, 2: 3}

    def f(s_match, b, n, dl):
        return s_match + b - n * math.log(dl + mu)

    for d in (1, 2):
        tfs = {"a": 2, "b": 2} if d == 1 else {"a": 1, "b": 1}
        s_t = sum(
            math.log(tfs[w] + mu * cf[w] / C) - math.log(mu * cf[w] / C)
            for w in ("a", "b")
        )
        b_t = sum(math.log(mu * cf[w] / C) for w in ("a", "b"))
        s_o = (
            math.log(od[d] + mu * cfo / C) - math.log(mu * cfo / C)
            if d in od else 0.0
        )
        b_o = math.log(mu * cfo / C)
        s_u = math.log(uw[d] + mu * cfu / C) - math.log(mu * cfu / C)
        b_u = math.log(mu * cfu / C)
        exp = (
            0.85 * f(s_t, b_t, 2, dls[d])
            + 0.1 * f(s_o, b_o, 1, dls[d])
            + 0.05 * f(s_u, b_u, 1, dls[d])
        )
        assert got[d][1] == pytest.approx(exp, rel=1e-12), d
    assert got[1][0] == 1  # doc1 has all the phrase evidence


def test_comb_fuse_zsum_hand_computed(spark):
    """z-score fusion: per-run standardization then plain sum; a
    constant-score run contributes zero everywhere."""
    import math

    runs = spark.createDataFrame(
        [
            ("a", "q", 1, 3.0), ("a", "q", 2, 1.0), ("a", "q", 3, 2.0),
            ("b", "q", 1, 5.0), ("b", "q", 2, 5.0),  # degenerate run
        ],
        "run_id string, qid string, doc_id long, score double",
    )
    out = {
        r["doc_id"]: r["fused"]
        for r in rt.comb_fuse(runs, method="zsum", topk=10).collect()
    }
    mean, sd = 2.0, math.sqrt(1.0)  # run a: {3,1,2}
    assert out[1] == pytest.approx((3.0 - mean) / sd, rel=1e-12)
    assert out[2] == pytest.approx((1.0 - mean) / sd, rel=1e-12)
    assert out[3] == pytest.approx(0.0, abs=1e-12)
    with pytest.raises(ValueError):
        rt.comb_fuse(runs, method="nope")


def test_word_break_suggest(spark, index):
    """OOV run-ons split into dictionary halves ranked by combined df;
    in-vocab terms and unsplittable junk produce nothing."""
    # fixture vocab (EN analyzer): quick/brown/fox/... 'spark' appears
    out = rt.word_break_suggest(
        index, ["quickbrown", "spark", "zzqqzz"], k=3
    ).collect()
    got = {(r["term"], r["left"], r["right"]): (r["df_sum"], r["rank"])
           for r in out}
    assert ("quickbrown", "quick", "brown") in got
    assert all(t == "quickbrown" for t, _, _ in got)
    # rank 1 is the highest-df split
    best = min(got.items(), key=lambda kv: kv[1][1])
    assert best[1][1] == 1
    assert max(v[0] for v in got.values()) == best[1][0]


def test_phrase_constraint_order_unit():
    """The phrase walk's cost ordering is df-ascending with (term,
    offset) tie-breaks — the rarest term seeds the join chain (Lucene
    ExactPhraseMatcher lead-with-cheapest)."""
    dfs = {"the": 100, "quick": 5, "zebra": 1}
    assert rt._phrase_constraint_order(dfs, ["the", "quick", "zebra"]) == [
        ("zebra", 2), ("quick", 1), ("the", 0)
    ]
    # duplicate phrase terms: one constraint per offset, offset-ordered
    assert rt._phrase_constraint_order(dfs, ["the", "zebra", "the"]) == [
        ("zebra", 1), ("the", 0), ("the", 2)
    ]


@pytest.fixture(scope="module")
def skew_pos(spark):
    """Positional index where 'the' is in every doc (the stopword) and
    'zebra' is rare — the seed-choice stress shape."""
    docs = spark.createDataFrame(
        [
            (0, ["the", "quick", "zebra"]),
            (1, ["the", "dog", "runs"]),
            (2, ["the", "cat", "sat"]),
            (3, ["the", "zebra", "the"]),
            (4, ["the", "end"]),
        ],
        "doc_id long, tokens array<string>",
    )
    return ix.build_positional_postings(docs).localCheckpoint()


def test_phrase_query_rare_term_seeds_join(skew_pos):
    """Plan guard (VERDICT r4 item 1): for a stopword-led phrase the
    first join's LEFT side is the RARE term's cell, not terms[0]'s."""
    q = rt.phrase_query(skew_pos, ["the", "zebra"])
    assert sorted(
        (r["doc_id"], r["phrase_freq"]) for r in q.collect()
    ) == [(3, 1)]
    plan = q._jdf.queryExecution().executedPlan().toString()
    # left child prints before right in the plan tree: the zebra
    # filter must appear before the stopword filter
    zi, ti = plan.find("= zebra"), plan.find("= the")
    assert zi != -1 and ti != -1 and zi < ti, plan


def test_proximity_query_rare_seed_semi_join(skew_pos):
    """proximity/unordered keep the walk in phrase order but pre-prune
    the seed with a left-semi join on the rare term's doc_ids."""
    prox = rt.proximity_query(skew_pos, ["the", "zebra"], 2)
    assert sorted(
        (r["doc_id"], r["prox_freq"]) for r in prox.collect()
    ) == [(0, 1), (3, 1)]
    plan = prox._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    # rarest-led query: no semi-join needed
    prox2 = rt.proximity_query(skew_pos, ["zebra", "the"], 2)
    plan2 = prox2._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan2, plan2
    uw = rt.unordered_window_query(skew_pos, ["the", "zebra"], 2)
    uplan = uw._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in uplan, uplan
    # uw_freq stays anchored on terms[0] ('the' occurrences), so the
    # pre-prune must not change the counts: doc 3 has two anchors
    assert sorted(
        (r["doc_id"], r["uw_freq"]) for r in uw.collect()
    ) == [(0, 1), (3, 2)]


def test_multi_phrase_rare_step_first(skew_pos):
    """multi_phrase processes steps in summed-df order; results match
    phrase order regardless of which step is rare."""
    got = sorted(
        (r["doc_id"], r["phrase_freq"])
        for r in rt.multi_phrase_query(
            skew_pos, [["the"], ["zebra", "dog"]]
        ).collect()
    )
    assert got == [(1, 1), (3, 1)]


def test_phrase_family_missing_term_fast_empty(skew_pos):
    """A term absent from the dictionary short-circuits to an empty
    (but correctly-typed) result without building the join chain."""
    for df, col in [
        (rt.phrase_query(skew_pos, ["the", "unicorn"]), "phrase_freq"),
        (rt.proximity_query(skew_pos, ["the", "unicorn"], 3), "prox_freq"),
        (rt.unordered_window_query(skew_pos, ["the", "unicorn"], 3),
         "uw_freq"),
        (rt.multi_phrase_query(skew_pos, [["the"], ["unicorn"]]),
         "phrase_freq"),
    ]:
        assert df.columns == ["doc_id", col]
        assert df.count() == 0
        assert dict(df.dtypes)[col] == "bigint"


def test_phrase_compressed_rare_spine_order(skew_pos):
    """The compressed path's spine semi-join chain is df-ascending and
    still matches the flat walk."""
    comp = ix.compress_positional_postings(skew_pos).localCheckpoint()
    got = sorted(
        (r["doc_id"], r["phrase_freq"])
        for r in rt.phrase_query_compressed(comp, ["the", "zebra"]).collect()
    )
    assert got == [(3, 1)]
    empty = rt.phrase_query_compressed(comp, ["the", "unicorn"])
    assert empty.count() == 0


def test_phrase_df_lookup_memoized(skew_pos):
    """The per-relation df lookup memoizes on the DataFrame object, so
    a batch of phrase queries over one index pays the scan once."""
    if hasattr(skew_pos, "_luc4ir_df_cache"):
        del skew_pos._luc4ir_df_cache
    rt.phrase_query(skew_pos, ["the", "zebra"]).collect()
    cache = skew_pos._luc4ir_df_cache
    assert cache[frozenset(["the", "zebra"])]["zebra"] == 2
    # poisoning the cached entry proves the second call reads the memo
    cache[frozenset(["the", "zebra"])] = {"the": 1, "zebra": 999}
    got = sorted(
        (r["doc_id"], r["phrase_freq"])
        for r in rt.phrase_query(skew_pos, ["the", "zebra"]).collect()
    )
    assert got == [(3, 1)]  # ordering changed, results identical
    del skew_pos._luc4ir_df_cache


def test_spl_hand_computed(spark, index):
    """Single-term query: per-doc IB-SPL scores vs the published
    closed form (Clinchant & Gaussier SIGIR'10 / Lucene
    DistributionSPL: -log((lam^(tfn/(tfn+1)) - lam)/(1 - lam)),
    lam = (df+1)/(N+1)) computed in pure Python."""
    toks, n, dls, avgdl, df = _tiny_stats()
    qt = rt.queries_to_terms(spark, [("q", "spark")], EN)
    log2 = math.log(2.0)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="spl")
    ).collect()
    assert run
    for r in run:
        tf = toks[r["doc_id"]].count("spark")
        dl = dls[r["doc_id"]]
        tfn = tf * math.log(1.0 + avgdl / dl) / log2
        lam = (df["spark"] + 1.0) / (n + 1.0)
        exp = -math.log(
            (lam ** (tfn / (tfn + 1.0)) - lam) / (1.0 - lam)
        )
        assert r["score"] == pytest.approx(exp, rel=1e-12), r["doc_id"]
        assert r["score"] > 0.0


def test_spl_every_doc_term_guard(spark):
    """A term present in EVERY doc has lambda = 1: the 0.99 guard
    keeps the score finite (Lucene DistributionSPL behavior)."""
    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta")],
        "doc_id long, content string",
    )
    cfg = AnalyzerConfig(mode="simple")
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=cfg))
    qt = rt.queries_to_terms(spark, [("q", "common")], cfg)
    run = rt.score_queries(
        idx, qt, k=10, sim=rt.Similarity(kind="spl")
    ).collect()
    assert len(run) == 2
    for r in run:
        assert math.isfinite(r["score"])


def test_fuzzy_complete_hand_computed(spark):
    """Typos within the typed prefix: 'spakr' does NOT match spark at
    1 edit under length-preserving prefix compare ('spak'->2)? No:
    prefix is term[:len(typed)] = 'spark'[:5], levenshtein('spark',
    'spakr') = 2 -> excluded at max_edits=1; 'sperk' (one
    substitution) matches. Distance 0 outranks distance 1; popularity
    breaks distance ties."""
    docs = spark.createDataFrame(
        [(1, "spark spark spoon"), (2, "spark sport"), (3, "spoon")],
        "doc_id long, content string",
    )
    cfg = AnalyzerConfig(mode="simple")
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=cfg))
    typed = spark.createDataFrame(
        [("q1", "sperk"), ("q2", "spo"), ("q3", "spakr")],
        "qid string, prefix string",
    )
    rows = rt.fuzzy_complete(idx, typed, max_edits=1, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(
            (r["rank"], r["suggestion"], r["distance"])
        )
    # q1: 'sperk' -> spark (sub e->a, d=1); sport[:5]='sport' d=2 out
    assert sorted(by_q["q1"]) == [(1, "spark", 1)]
    # q2: 'spo' -> spoon@0, spark/sport[:3] = 'spa'/'spo' -> sport@0!
    # spoon and sport both d=0; spark 'spa' d=1. popularity: spark
    # df=2 beats spoon df=2? df ties -> cf then term ASC
    got2 = [s for _, s, _ in sorted(by_q["q2"])]
    assert got2[0:2] == ["spoon", "sport"] or got2[0:2] == [
        "sport", "spoon",
    ]
    assert "spark" in got2  # distance 1, after the d=0 block
    assert [d for _, _, d in sorted(by_q["q2"])] == sorted(
        d for _, _, d in by_q["q2"]
    )
    # q3: levenshtein('spark', 'spakr') = 2 -> no suggestions
    assert "q3" not in by_q


def test_score_gap_cutoff_hand_computed(spark):
    """Scores 10, 9.5, 6, 5.9, 5.8: biggest gap 3.5 after rank 2 ->
    cut_rank 2; equal gaps tie to the earliest rank; a single-result
    query emits no row."""
    run = spark.createDataFrame(
        [("q1", 1, 1, 10.0), ("q1", 2, 2, 9.5), ("q1", 3, 3, 6.0),
         ("q1", 4, 4, 5.9), ("q1", 5, 5, 5.8),
         ("q2", 1, 1, 4.0), ("q2", 2, 2, 3.0), ("q2", 3, 3, 2.0),
         ("q3", 9, 1, 1.0)],
        "qid string, doc_id long, rank long, score double",
    )
    got = {
        r["qid"]: (r["cut_rank"], r["gap"])
        for r in rt.score_gap_cutoff(run, max_k=10).collect()
    }
    assert got["q1"] == (2, 3.5)
    assert got["q2"] == (1, 1.0)   # 1.0 gaps everywhere -> earliest
    assert "q3" not in got


def test_join_query_scores_modes(spark):
    """Two sources: s1 holds the two best 'spark' docs, s2 one weak
    one. Max mode ranks every s1 doc by s1's best score; total sums;
    avg = total / n_matches — verified against score_queries."""
    docs = spark.createDataFrame(
        [(1, "spark spark spark", "s1"), (2, "spark other", "s1"),
         (3, "spark", "s2"), (4, "nothing", "s2"), (5, "plain", "s1")],
        "doc_id long, content string, source string",
    )
    cfg = AnalyzerConfig(mode="simple")
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=cfg))
    qt = rt.queries_to_terms(spark, [("q", "spark")], cfg)
    base = {
        r["doc_id"]: r["score"]
        for r in rt.score_queries(idx, qt, k=10).collect()
    }
    s1_scores = [base[1], base[2]]
    for mode, want in (
        ("max", max(s1_scores)),
        ("total", sum(s1_scores)),
        ("avg", sum(s1_scores) / 2),
    ):
        got = {
            r["doc_id"]: r["score"]
            for r in rt.join_query_scores(
                idx, qt, docs, field="source", score_mode=mode, k=10
            ).collect()
        }
        # every s1 doc (1, 2, 5) carries the aggregate, including the
        # non-matching doc 5 — the to-side expansion semantics
        import pytest as pt

        for d in (1, 2, 5):
            assert got[d] == pt.approx(round(want, 4), abs=1e-4), mode
        for d in (3, 4):
            assert got[d] == pt.approx(round(base[3], 4), abs=1e-4)


def test_boolean_similarity_counts_matches(spark, index):
    """BooleanSimilarity: score == number of distinct matched query
    terms (weight 1 each), independent of tf, df and length."""
    qt = rt.queries_to_terms(spark, [("q", "spark search")], EN)
    run = rt.score_queries(
        index, qt, k=10, sim=rt.Similarity(kind="boolean")
    ).collect()
    toks = {d: analyze_text(t, EN) for d, t in DOCS}
    qterms = set(analyze_text("spark search", EN))
    for r in run:
        want = float(len(qterms & set(toks[r["doc_id"]])))
        assert r["score"] == want, r["doc_id"]


def test_span_or_query_hand_computed(spark):
    """Either clause matches; shared start positions dedupe; a doc
    matching neither emits no row; slop bounds each clause."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "b", "c", "d"]),   # (a,b)@0 AND (c,d)@2 -> 2
            (1, ["c", "x", "d"]),        # (c,d)@0 only -> 1
            (2, ["a", "b", "c", "x", "d"]),  # (a,b)@0 + (c,d)@2 -> 2
            (3, ["a", "c", "b", "d"]),   # (a,b)@0 and (c,d)@1 -> 2
            (4, ["a", "x", "x", "x", "b"]),  # slop 2: b-a=4 > 3 -> none
            (5, ["z", "z"]),             # neither -> no row
        ],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    got = {
        r["doc_id"]: r["n_spans"]
        for r in rt.span_or_query(
            pos, [("a", "b"), ("c", "d")], slop=2
        ).collect()
    }
    assert got == {0: 2, 1: 1, 2: 2, 3: 2}
    # distinct-start convention: both clauses starting at the SAME
    # position count once
    pos2 = ix.build_positional_postings(
        spark.createDataFrame(
            [(0, ["a", "b"])], "doc_id long, tokens array<string>"
        )
    )
    same = rt.span_or_query(
        pos2, [("a", "b"), ("a", "b")], slop=2
    ).collect()
    assert same[0]["n_spans"] == 1


def test_percolate_scored_matches_and_ranks(spark):
    """Only fully-matched registered queries fire; per doc the firing
    queries rank by their BM25 score against it; an impossible-term
    query never fires (raw-term counting)."""
    docs = spark.createDataFrame(
        [(1, "spark fast"), (2, "spark slow fast"), (3, "other")],
        "doc_id long, content string",
    )
    cfg = AnalyzerConfig(mode="simple")
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=cfg))
    qt = rt.queries_to_terms(
        spark,
        [("qa", "spark"), ("qb", "spark fast"),
         ("qc", "spark zzz-impossible")],
        cfg,
    )
    rows = rt.percolate_scored(idx, qt, k=5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["qid"]))
    # doc 3 matches nothing; qc never fires anywhere
    assert 3 not in by_doc
    assert all(q != "qc" for v in by_doc.values() for _, q in v)
    # docs 1 and 2 fire qa and qb; qb (two matched terms) outscores qa
    for d in (1, 2):
        ranked = [q for _, q in sorted(by_doc[d])]
        assert ranked == ["qb", "qa"], d


# ------------------------------------------- layout independence of scores

_LAYOUT_VOCAB = [f"t{i}" for i in range(12)]
_LAYOUT_QUERIES = [
    ("l1", "t0 t1 t2 t3"),
    ("l2", "t1 t3 t5 t7 t9"),
    ("l3", "t0 t2 t4 t6 t6"),
    ("l4", "t2 t3 t8 t10 t11"),
]


def _relaid(spark, idx, n_parts, seed):
    """The same index with its postings in ``n_parts`` partitions; rows
    in (term, doc_id) order, or shuffled with ``seed``."""
    import dataclasses
    import random

    rows = sorted(
        idx.postings.collect(), key=lambda r: (r["term"], r["doc_id"])
    )
    if seed is not None:
        random.Random(seed).shuffle(rows)
    post = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts), idx.postings.schema
    )
    return dataclasses.replace(idx, postings=post, blobs=None)


@pytest.fixture(scope="module")
def layouts(spark):
    """Two layouts of one body index and one title index: postings in one
    partition, and in seven partitions with shuffled rows. Docs draw
    6-40 tokens from a 12-term Zipf-weighted vocabulary, so most of them
    match three or more terms of every query."""
    import random

    rng = random.Random(11)
    weights = [1.0 / (i + 1) for i in range(len(_LAYOUT_VOCAB))]
    docs = [
        (d, " ".join(rng.choices(_LAYOUT_VOCAB, weights,
                                 k=rng.randint(6, 40))))
        for d in range(160)
    ]
    cfg = ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    body = ix.build_index(
        spark.createDataFrame(docs, "doc_id long, content string"), cfg
    )
    title = ix.build_index(
        spark.createDataFrame(
            [(d, " ".join(t.split()[:4])) for d, t in docs],
            "doc_id long, content string",
        ),
        cfg,
    )
    qt = rt.queries_to_terms(spark, _LAYOUT_QUERIES, cfg.analyzer)
    one = (_relaid(spark, body, 1, None), _relaid(spark, title, 1, None))
    seven = (_relaid(spark, body, 7, 5), _relaid(spark, title, 7, 6))
    return qt, one, seven


def _layout_scorers(spark):
    from luc4ir_spark.operators import feedback as fb
    from luc4ir_spark.operators import qpp
    from luc4ir_spark.operators import wand as wd

    demote = spark.createDataFrame(
        [("l1", "t3"), ("l2", "t5"), ("l4", "t8")], "qid string, term string"
    )
    syn = spark.createDataFrame(
        [("t1", "t6"), ("t3", "t11"), ("t8", "t4")], "term string, syn string"
    )
    children = spark.createDataFrame(
        [(d, d * 4 + j) for d in range(160) for j in range(2)],
        "parent_id long, child_id long",
    )
    meta = spark.createDataFrame(
        [(d, d % 9) for d in range(160)], "doc_id long, f long"
    )
    return {
        "score_queries": lambda b, t, q: rt.score_queries(b, q),
        "score_queries_dph": lambda b, t, q: rt.score_queries(
            b, q, sim=rt.Similarity(kind="dph")),
        "boosting_query": lambda b, t, q: rt.boosting_query(b, q, demote),
        "rescore_topk": lambda b, t, q: rt.rescore_topk(
            b, q, first_k=40, k=30),
        "block_join_total": lambda b, t, q: rt.block_join_topk(
            b, q, parent_pack=8, k=100, score_mode="total"),
        "block_join_children": lambda b, t, q: rt.block_join_children_topk(
            b, q, children, k=400),
        "ltr_features": lambda b, t, q: rt.ltr_features(b, q),
        "common_terms": lambda b, t, q: rt.common_terms_query(
            b, q, max_df_ratio=0.5),
        "dismax_topk": lambda b, t, q: rt.dismax_topk(
            b, q, tie_breaker=0.3),
        "bm25f_score": lambda b, t, q: rt.bm25f_score(
            {"body": b, "title": t}, q),
        "synonym_topk": lambda b, t, q: rt.synonym_topk(b, q, syn),
        "join_query_total": lambda b, t, q: rt.join_query_scores(
            b, q, meta, "f", score_mode="total", k=100),
        "explain_scores": lambda b, t, q: rt.explain_scores(b, q),
        "xquad_rerank": lambda b, t, q: fb.xquad_rerank(
            b, q, k_cands=12, k_out=4),
        "pm2_rerank": lambda b, t, q: fb.pm2_rerank(
            b, q, k_cands=12, k_out=4),
        "impact_quantized_topk": lambda b, t, q: wd.impact_quantized_topk(
            b, q, k=100, rho=300),
        "score_queries_wand": lambda b, t, q: wd.score_queries_wand(
            b, q, k=200),
        "qpp_pre": lambda b, t, q: qpp.qpp_pre_retrieval(b, q),
        "qpp_post": lambda b, t, q: qpp.qpp_post_retrieval(
            rt.score_queries(b, q), q, b, k=5),
    }


@pytest.mark.parametrize("name", [
    "score_queries", "score_queries_dph", "boosting_query", "rescore_topk",
    "block_join_total", "block_join_children", "ltr_features",
    "common_terms", "dismax_topk", "bm25f_score", "synonym_topk",
    "join_query_total", "explain_scores", "xquad_rerank", "pm2_rerank",
    "impact_quantized_topk", "score_queries_wand", "qpp_pre", "qpp_post",
])
def test_scores_do_not_depend_on_postings_layout(spark, layouts, name):
    """Every BM25-family scorer gives bit-identical scores and equal
    ranks whether the postings sit in one partition in (term, doc_id)
    order or in seven partitions in shuffled order: a float sum folded
    in partition-encounter order moves by an ulp between the two and
    reorders near-ties."""
    qt, one, seven = layouts
    fn = _layout_scorers(spark)[name]
    a = sorted(map(tuple, fn(*one, qt).collect()))
    b = sorted(map(tuple, fn(*seven, qt).collect()))
    assert len(a) > 0
    assert a == b


def test_all_oov_topic_returns_no_rows(spark, layouts):
    from luc4ir_spark.operators import feedback as fb

    _, (body, _title), _ = layouts
    qt = rt.queries_to_terms(
        spark, [("oov", "zzznotaterm qqqnotaterm")],
        AnalyzerConfig(mode="simple"),
    )
    assert rt.dismax_topk(body, qt).count() == 0
    assert rt.common_terms_query(body, qt).count() == 0
    assert fb.xquad_rerank(body, qt).count() == 0
