"""Evaluator metrics vs hand-computed values (FIXTURES.md §5), including
the reference's last-vs-first RR quirk documented as a mode."""

import math

import pytest

from luc4ir_spark.operators import evaluation as ev

RUN = [
    # qid, docid, rank
    ("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3),
    ("q1", "d4", 4), ("q1", "d5", 5),
    ("q2", "d1", 1), ("q2", "d2", 2), ("q2", "d3", 3),
]
QRELS = [
    ("q1", "0", "d2", 1.0), ("q1", "0", "d4", 1.0),
    ("q1", "0", "d9", 1.0), ("q1", "0", "d5", 0.0),
    ("q2", "0", "d9", 1.0),
]


@pytest.fixture(scope="module")
def frames(spark):
    run = spark.createDataFrame(
        RUN, "qid string, docid string, rank long"
    )
    qrels = spark.createDataFrame(
        QRELS, "qid string, iter string, docid string, rel double"
    )
    return run, qrels


def test_per_query_metrics(spark, frames):
    run, qrels = frames
    rows = {
        r["qid"]: r
        for r in ev.per_query_metrics(run, qrels, p_at=5, ndcg_at=10).collect()
    }
    q1 = rows["q1"]
    assert q1["num_rel"] == 3 and q1["num_rel_ret"] == 2
    assert q1["recall"] == pytest.approx(2 / 3)
    assert q1["rr"] == pytest.approx(0.5)  # first rel at rank 2
    assert q1["ap"] == pytest.approx((1 / 2 + 2 / 4) / 3)
    assert q1["p_at_5"] == pytest.approx(2 / 5)
    dcg = 1 / math.log2(3) + 1 / math.log2(5)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert q1["dcg"] == pytest.approx(dcg)
    assert q1["ndcg"] == pytest.approx(dcg / idcg)
    q2 = rows["q2"]
    assert q2["num_rel_ret"] == 0
    assert q2["recall"] == 0.0 and q2["rr"] == 0.0
    assert q2["ap"] == 0.0 and q2["ndcg"] == 0.0


def test_rr_quirk_mode(spark, frames):
    """The reference returns 1/LAST relevant rank (missing break,
    RetrievedResults.java:49-57); we implement correct MRR by default
    and the quirk behind a flag."""
    run, qrels = frames
    quirk = {
        r["qid"]: r["rr"]
        for r in ev.per_query_metrics(
            run, qrels, quirk_last_rel=True
        ).collect()
    }
    assert quirk["q1"] == pytest.approx(1 / 4)  # last rel at rank 4


def test_macro(spark, frames):
    run, qrels = frames
    m = ev.evaluate(run, qrels, p_at=5, ndcg_at=10).collect()[0]
    assert m["num_queries"] == 2
    assert m["recall"] == pytest.approx((2 / 3 + 0) / 2)
    assert m["mrr"] == pytest.approx(0.25)
    assert m["map"] == pytest.approx(((0.5 + 0.5) / 3) / 2)


def test_graded_ndcg_standard_ideal(spark):
    run = spark.createDataFrame(
        [("g1", "a", 1), ("g1", "b", 2)], "qid string, docid string, rank long"
    )
    qrels = spark.createDataFrame(
        [("g1", "0", "b", 2.0), ("g1", "0", "c", 3.0)],
        "qid string, iter string, docid string, rel double",
    )
    r = ev.per_query_metrics(
        run, qrels, ndcg_at=10, ideal_from_retrieved=False,
        rel_threshold=1.0,
    ).collect()[0]
    dcg = 2.0 / math.log2(3)
    idcg = 3.0 / math.log2(2) + 2.0 / math.log2(3)
    assert r["ndcg"] == pytest.approx(dcg / idcg)


def test_rr_histogram(spark, frames):
    run, qrels = frames
    pq = ev.per_query_metrics(run, qrels)
    hist = {r["bucket"]: r["n"] for r in ev.rr_histogram(pq).collect()}
    # q1 rr=0.5 -> ceil(2.5)=3; q2 rr=0 -> bucket 0
    assert hist == {0: 1, 3: 1}


def test_trec_roundtrip(spark, tmp_path, frames):
    from luc4ir_spark.sources import trec

    run, qrels = frames
    full = run.withColumn("q0", run.qid * 0).selectExpr(
        "qid", "'Q0' as q0", "docid", "rank",
        "cast(1.0/rank as double) as score", "'r1' as runid",
    )
    path = str(tmp_path / "run.txt")
    trec.write_run(full, path)
    back = trec.read_run(spark, path)
    assert back.count() == len(RUN)
    assert back.filter("q0 = 'Q0'").count() == len(RUN)
    got = {
        (r["qid"], r["docid"]): r["rank"] for r in back.collect()
    }
    for qid, docid, rank in RUN:
        assert got[(qid, docid)] == rank


def test_qrels_reader(spark, tmp_path):
    from luc4ir_spark.sources import trec

    p = tmp_path / "qrels.txt"
    p.write_text("q1 0 d2 1\nq1 0 d5 0\n\nq2 0 d9 2\n")
    df = trec.read_qrels(spark, str(p))
    rows = {(r["qid"], r["docid"]): r["rel"] for r in df.collect()}
    assert rows == {("q1", "d2"): 1.0, ("q1", "d5"): 0.0, ("q2", "d9"): 2.0}


def test_trec_topics_parser():
    from luc4ir_spark.sources.trec import parse_trec_topics_text

    xml = """
<top>
<num> Number: 401
<title> foreign minorities, Germany
<desc> Description:
What language and cultural differences impede integration?
<narr> Narrative:
Relevant items are about minorities.
</top>
<top>
<num> Number: 402
<title> behavioral genetics
<desc> Description: d2
<narr> Narrative: n2
</top>
"""
    topics = parse_trec_topics_text(xml)
    assert len(topics) == 2
    assert topics[0]["qid"] == "401"
    assert topics[0]["title"] == "foreign minorities, Germany"
    assert "integration" in topics[0]["desc"]
    assert topics[1]["qid"] == "402"


def test_paired_ttest_hand_computed(spark):
    """t over hand-computed deltas; identical runs give NULL t; unpaired
    topics drop out."""
    import math

    from luc4ir_spark.operators import evaluation as ev

    a = spark.createDataFrame(
        [("q1", 0.5), ("q2", 0.4), ("q3", 0.9), ("qX", 1.0)],
        "qid string, ap double",
    )
    b = spark.createDataFrame(
        [("q1", 0.4), ("q2", 0.4), ("q3", 0.6)], "qid string, ap double"
    )
    row = ev.paired_ttest(a, b).collect()[0]
    d = [0.1, 0.0, 0.3]
    n, mean = 3, sum(d) / 3
    sd = math.sqrt(sum((x - mean) ** 2 for x in d) / (n - 1))
    assert row["n"] == 3  # qX is unpaired and drops
    assert row["mean_diff"] == pytest.approx(mean, rel=1e-12)
    assert row["sd_diff"] == pytest.approx(sd, rel=1e-12)
    assert row["t_stat"] == pytest.approx(mean / (sd / math.sqrt(n)), rel=1e-12)
    same = ev.paired_ttest(a, a).collect()[0]
    assert same["mean_diff"] == 0.0 and same["t_stat"] is None


def test_pool_runs_hand_computed(spark):
    from luc4ir_spark.operators import evaluation as ev

    runs = spark.createDataFrame(
        [
            ("a", "q1", 10, 1), ("a", "q1", 11, 2), ("a", "q1", 12, 3),
            ("b", "q1", 11, 1), ("b", "q1", 13, 2),
            ("a", "q2", 20, 1),
        ],
        "run_id string, qid string, doc_id long, rank long",
    )
    got = {
        (r["qid"], r["doc_id"]): (r["n_runs"], r["best_rank"])
        for r in ev.pool_runs(runs, depth=2).collect()
    }
    assert got == {
        ("q1", 10): (1, 1),
        ("q1", 11): (2, 1),  # both runs, best rank 1 (run b)
        ("q1", 13): (1, 2),
        ("q2", 20): (1, 1),
    }  # doc 12 is beyond depth 2


def test_rank_correlation_hand_computed(spark):
    from luc4ir_spark.operators import evaluation as ev

    # q1: identical order -> tau 1; q2: reversed -> tau -1;
    # q3: one shared doc -> omitted
    ra = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 1), ("q2", 2, 2), ("q2", 3, 3),
         ("q3", 1, 1)],
        "qid string, doc_id long, rank long",
    )
    rb = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 3), ("q2", 2, 2), ("q2", 3, 1),
         ("q3", 1, 1)],
        "qid string, doc_id long, rank long",
    )
    got = {
        r["qid"]: (r["n_common"], r["tau"])
        for r in ev.rank_correlation(ra, rb).collect()
    }
    assert got == {"q1": (3, 1.0), "q2": (3, -1.0)}


def test_spearman_rho_hand_computed(spark):
    from luc4ir_spark.operators import evaluation as ev

    # q1 identical -> 1; q2 reversed -> -1; q3 one swap of 3:
    # d = (0,1,1) after densify? ranks a=(1,2,3) b=(1,3,2):
    # d2 sum = 0+1+1 = 2 -> rho = 1 - 12/(3*8) = 0.5;
    # q4 single shared doc omitted; densification: q5 shares docs at
    # sparse original ranks (2,9) vs (4,1) -> densified (1,2)/(2,1),
    # rho = -1 exactly
    ra = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 1), ("q2", 2, 2), ("q2", 3, 3),
         ("q3", 1, 1), ("q3", 2, 2), ("q3", 3, 3),
         ("q4", 1, 1),
         ("q5", 7, 2), ("q5", 8, 9)],
        "qid string, doc_id long, rank long",
    )
    rb = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 3), ("q2", 2, 2), ("q2", 3, 1),
         ("q3", 1, 1), ("q3", 2, 3), ("q3", 3, 2),
         ("q4", 1, 1),
         ("q5", 7, 4), ("q5", 8, 1)],
        "qid string, doc_id long, rank long",
    )
    got = {
        r["qid"]: (r["n_common"], r["rho"])
        for r in ev.spearman_rho(ra, rb).collect()
    }
    assert got == {
        "q1": (3, 1.0),
        "q2": (3, -1.0),
        "q3": (3, 0.5),
        "q5": (2, -1.0),
    }


def test_tau_ap_hand_computed(spark):
    """tau_AP vs a pure-Python replay of the SIGIR'08 definition,
    including the top-weighting that distinguishes it from Kendall:
    q1 identical -> 1, q2 reversed -> -1, q3 a top swap and q4 a
    bottom swap of the same 4 items give DIFFERENT tau_AP (the bottom
    swap is cheaper), q5 single shared doc omitted."""
    from luc4ir_spark.operators import evaluation as ev

    ref_rows, obs_rows, expected = [], [], {}
    cases = {
        "q1": [1, 2, 3, 4],
        "q2": [4, 3, 2, 1],
        "q3": [2, 1, 3, 4],  # swap at the top
        "q4": [1, 2, 4, 3],  # swap at the bottom
    }
    for qid, order in cases.items():
        n = len(order)
        for r, d in enumerate(order, 1):
            obs_rows.append((qid, d, r))
        for d in range(1, n + 1):
            ref_rows.append((qid, d, d))
        # pure-Python tau_AP: ref rank of doc d is d itself
        s = 0.0
        for i in range(2, n + 1):
            di = order[i - 1]
            c = sum(1 for j in range(1, i) if order[j - 1] < di)
            s += c / (i - 1)
        expected[qid] = (n, round(2.0 * s / (n - 1) - 1.0, 4))
    ref_rows.append(("q5", 1, 1))
    obs_rows.append(("q5", 1, 1))
    ra = spark.createDataFrame(
        ref_rows, "qid string, doc_id long, rank long"
    )
    rb = spark.createDataFrame(
        obs_rows, "qid string, doc_id long, rank long"
    )
    got = {
        r["qid"]: (r["n_common"], r["tau_ap"])
        for r in ev.tau_ap(ra, rb).collect()
    }
    assert got == expected
    assert got["q1"] == (4, 1.0) and got["q2"] == (4, -1.0)
    # top-weighting: the top swap hurts more than the bottom swap
    assert got["q3"][1] < got["q4"][1]


def test_cascade_click_model_hand_computed(spark):
    """SERP 1: docs a,b,c at pos 1,2,3, click at 2 -> a,b examined,
    b clicked, c NOT examined. SERP 2: a,c shown, no click -> both
    examined. SERP 3: clicks at 2 AND 3 -> only the FIRST click (doc c
    at pos 2) counts; pos-3 doc ignored entirely."""
    from luc4ir_spark.operators import evaluation as ev

    rows = [
        (1, "a", 1, False), (1, "b", 2, True), (1, "c", 3, False),
        (2, "a", 1, False), (2, "c", 2, False),
        (3, "b", 1, False), (3, "c", 2, True), (3, "a", 3, True),
    ]
    imp = spark.createDataFrame(
        rows, "serp_id long, doc_id string, pos long, clicked boolean"
    )
    got = {
        r["doc_id"]: (r["n_exam"], r["n_clicks"], r["attractiveness"])
        for r in ev.cascade_click_model(imp).collect()
    }
    assert got == {
        "a": (2, 0, 0.0),   # serp1 pos1 + serp2 pos1; serp3 pos3 cut
        "b": (2, 1, 0.5),   # serp1 click, serp3 pos1 examined
        "c": (2, 1, 0.5),   # serp2 examined, serp3 first click
    }


def test_tau_ap_max_k_bounds(spark):
    from luc4ir_spark.operators import evaluation as ev

    df = spark.createDataFrame(
        [("q", 1, 1)], "qid string, doc_id long, rank long"
    )
    with pytest.raises(ValueError):
        ev.tau_ap(df, df, max_k=1)
    with pytest.raises(ValueError):
        ev.tau_ap(df, df, max_k=33)


def test_extended_metrics_hand_computed(frames):
    run, qrels = frames
    got = {
        r["qid"]: r
        for r in ev.extended_metrics(
            run, qrels, err_at=10, rbp_p=0.8
        ).collect()
    }
    # q1: qrels R=3 (d2,d4,d9), N=1 (d5); run rel at ranks 2,4; judged
    # nonrel d5 at rank 5. min(R,N)=1. Both relevant hits have
    # n_above=0 -> contribution 1 each -> bpref = 2/3.
    assert got["q1"]["bpref"] == pytest.approx(2 / 3)
    # ERR, binary grades: R_i = 0.5 at ranks 2 and 4
    err = 0.5 / 2 + 0.5 / 4 * (1 - 0.5)
    assert got["q1"]["err"] == pytest.approx(err, rel=1e-12)
    rbp = 0.2 * (0.8 ** 1 + 0.8 ** 3)
    assert got["q1"]["rbp"] == pytest.approx(rbp, rel=1e-12)
    assert got["q1"]["judged_frac"] == pytest.approx(3 / 5)
    # q2: R=1, N=0 -> no retrieved relevant: bpref 0, err 0, rbp 0,
    # nothing judged
    assert got["q2"]["bpref"] == 0.0
    assert got["q2"]["err"] == 0.0
    assert got["q2"]["rbp"] == 0.0
    assert got["q2"]["judged_frac"] == 0.0


def test_iprec_at_recall_hand_computed(frames):
    # q1: rel at ranks 2,4 of 5; R=3 -> precisions .5,1/3,.5,.4 at the
    # rel-bearing prefix; recall caps at 2/3 so levels 0..6 take the
    # backward-interpolated max 0.5 and 7..10 are unreached (0).
    # q2: nothing relevant retrieved -> all-zero curve.
    run, qrels = frames
    out = {
        (r["qid"], r["level"]): r
        for r in ev.iprec_at_recall(run, qrels).collect()
    }
    assert len(out) == 22  # 2 queries x 11 levels
    for lvl in range(11):
        exp = 0.5 if lvl <= 6 else 0.0
        assert out[("q1", lvl)]["iprec"] == pytest.approx(exp), lvl
        assert out[("q2", lvl)]["iprec"] == 0.0
    assert out[("q1", 3)]["recall_level"] == pytest.approx(0.3)


def test_r_precision_hand_computed(frames):
    # q1: R=3, top-3 = d1,d2,d3 with only d2 relevant -> 1/3
    # q2: R=1, top-1 = d1 not relevant -> 0
    run, qrels = frames
    rows = {r["qid"]: r for r in ev.r_precision(run, qrels).collect()}
    assert rows["q1"]["n_rel"] == 3
    assert rows["q1"]["rprec"] == pytest.approx(1 / 3)
    assert rows["q2"]["rprec"] == 0.0


def test_extended_metrics_bpref_penalty(spark):
    # nonrel ranked ABOVE a relevant doc must cost bpref: R=2, N=2,
    # run = nonrel(1), rel(2), nonrel(3), rel(4):
    # contributions (1 - 1/2) + (1 - 2/2) = 0.5 -> bpref 0.25
    run = spark.createDataFrame(
        [("q", "a", 1), ("q", "b", 2), ("q", "c", 3), ("q", "d", 4)],
        "qid string, docid string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", "a", 0.0), ("q", "b", 1.0), ("q", "c", 0.0),
         ("q", "d", 1.0)],
        "qid string, docid string, rel double",
    )
    r = ev.extended_metrics(run, qrels).collect()[0]
    assert r["bpref"] == pytest.approx(0.25)
    assert r["judged_frac"] == 1.0


def test_macro_metrics_extended(spark):
    import math

    pq = spark.createDataFrame(
        [("q1", 1.0, 0.5), ("q2", 0.2, 0.1), ("q3", 0.1, 0.0)],
        "qid string, rr double, ap double",
    )
    r = ev.macro_metrics_extended(pq, success_at=5).collect()[0]
    assert r["num_queries"] == 3
    assert r["mrr"] == pytest.approx((1.0 + 0.2 + 0.1) / 3)
    assert r["map"] == pytest.approx(0.2)
    eps = 1e-5
    gmap = math.exp(
        sum(math.log(a + eps) for a in (0.5, 0.1, 0.0)) / 3
    )
    assert r["gmap"] == pytest.approx(gmap, rel=1e-9)
    # success@5: rr >= 0.2 for q1, q2; q3's 0.1 means frr = 10 > 5
    assert r["success_at_5"] == pytest.approx(2 / 3)


def test_rank_rbo_hand_computed(spark):
    # identical top-3 lists -> RBO@3 = (1-p)(p^0 + p^1 + p^2)
    # (each depth's agreement is 1)
    ra = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 1), ("q2", 2, 2),
         ("q3", 7, 1)],
        "qid string, doc_id long, rank long",
    )
    rb = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 2, 1), ("q2", 1, 2),
         ("q3", 8, 1)],
        "qid string, doc_id long, rank long",
    )
    p = 0.5
    got = {
        r["qid"]: r["rbo"]
        for r in ev.rank_rbo(ra, rb, k=3, p=p).collect()
    }
    exp_q1 = (1 - p) * (1 + p + p * p)
    assert got["q1"] == pytest.approx(exp_q1, rel=1e-12)
    # q2: swapped pair — both docs enter both prefixes at depth 2:
    # overlap(1)=0, overlap(2)=2/2, overlap(3 absent, k covers ranks
    # present only): weights = 2 * W(2) with W(2)=sum_{d=2..3}(1-p)p^(d-1)/d
    w2 = sum((1 - p) * p ** (d - 1) / d for d in (2, 3))
    assert got["q2"] == pytest.approx(2 * w2, rel=1e-12)
    assert got["q3"] == 0.0  # nothing shared
    with pytest.raises(ValueError):
        ev.rank_rbo(ra, rb, k=3, p=1.0)


def test_interleave_team_draft_replay(spark):
    """Spark interleave == a pure-Python replay of team-draft with the
    same deterministic coin; structural invariants hold."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    ra = spark.createDataFrame(
        [("q1", d, i + 1) for i, d in enumerate([1, 2, 3, 4])]
        + [("q2", d, i + 1) for i, d in enumerate([10, 11])],
        "qid string, doc_id long, rank long",
    )
    rb = spark.createDataFrame(
        [("q1", d, i + 1) for i, d in enumerate([3, 5, 1, 6])]
        + [("q2", d, i + 1) for i, d in enumerate([11, 12])],
        "qid string, doc_id long, rank long",
    )
    k = 6
    got = {}
    for r in ev.interleave_team_draft(ra, rb, k=k).collect():
        got.setdefault(r["qid"], []).append(
            (r["pos"], r["doc_id"], r["team"])
        )
    for v in got.values():
        v.sort()

    lists = {
        "q1": ([1, 2, 3, 4], [3, 5, 1, 6]),
        "q2": ([10, 11], [11, 12]),
    }
    for qid, (la, lb) in lists.items():
        qn = int(qid[1:])
        picked, out, rnd = set(), [], 0
        while len(out) < k:
            coin = (
                (MIX_A * ((qn * (1 << 20) + rnd) % MIX_P) + MIX_B) % MIX_P
            ) & 1
            order = ("a", "b") if coin == 0 else ("b", "a")
            progressed = False
            for team in order:
                lst = la if team == "a" else lb
                nxt = next((d for d in lst if d not in picked), None)
                if nxt is None or len(out) >= k:
                    continue
                picked.add(nxt)
                out.append((len(out) + 1, nxt, team))
                progressed = True
            if not progressed:
                break
            rnd += 1
        assert got[qid] == out, qid
        docs = [d for _, d, _ in got[qid]]
        assert len(docs) == len(set(docs))  # no doc twice
        teams = [t for _, _, t in got[qid]]
        assert abs(teams.count("a") - teams.count("b")) <= 1  # balanced


def test_wilcoxon_signed_rank_hand_computed(spark):
    """Ties get average ranks, zero deltas drop: deltas
    {+0.1, -0.1, -0.2, 0} -> |d| ranks {1.5, 1.5, 3}, W+ = 1.5,
    W- = 1.5 + 3 = 4.5, n = 3."""
    a = spark.createDataFrame(
        [("q1", 0.5), ("q2", 0.3), ("q3", 0.1), ("q4", 0.7)],
        "qid string, ap double",
    )
    b = spark.createDataFrame(
        [("q1", 0.4), ("q2", 0.4), ("q3", 0.3), ("q4", 0.7)],
        "qid string, ap double",
    )
    row = ev.wilcoxon_signed_rank(a, b).collect()[0]
    assert row["n"] == 3
    assert row["w_plus"] == pytest.approx(1.5)
    assert row["w_minus"] == pytest.approx(4.5)


def test_wilcoxon_rounding_stabilizes_ties(spark):
    """Deltas within 5e-5 collapse into one tie group before ranking."""
    a = spark.createDataFrame(
        [("q1", 0.100004), ("q2", 0.2)], "qid string, ap double"
    )
    b = spark.createDataFrame(
        [("q1", 0.0), ("q2", 0.1)], "qid string, ap double"
    )
    row = ev.wilcoxon_signed_rank(a, b).collect()[0]
    # both deltas round to 0.1 -> avg rank 1.5 each, both positive
    assert row["n"] == 2
    assert row["w_plus"] == pytest.approx(3.0)
    assert row["w_minus"] == pytest.approx(0.0)


def test_friedman_hand_computed(spark):
    """3 systems x 4 queries with within-block ties; a q5 present in
    only one system must drop (blocks = qids common to ALL systems).
    Ranks (ascending AP, average for ties):
      q1: C=1 B=2 A=3; q2: C=1 A=B=2.5; q3: B=C=1.5 A=3;
      q4: A=1 B=2 C=3 -> R_A=9.5 R_B=8 R_C=6.5 (sum 24 = n*k(k+1)/2)
    chi2_F = 12/(4*3*4)*(9.5^2+8^2+6.5^2) - 3*4*4 = 1.125."""
    a = spark.createDataFrame(
        [("q1", 0.5), ("q2", 0.4), ("q3", 0.6), ("q4", 0.1),
         ("q5", 0.9)],
        "qid string, ap double",
    )
    b = spark.createDataFrame(
        [("q1", 0.3), ("q2", 0.4), ("q3", 0.2), ("q4", 0.3)],
        "qid string, ap double",
    )
    c = spark.createDataFrame(
        [("q1", 0.1), ("q2", 0.2), ("q3", 0.2), ("q4", 0.5)],
        "qid string, ap double",
    )
    rows = {
        r["system"]: r
        for r in ev.friedman_test(
            [("A", a), ("B", b), ("C", c)]
        ).collect()
    }
    assert set(rows) == {"A", "B", "C"}
    assert all(r["n_queries"] == 4 for r in rows.values())
    assert rows["A"]["rank_sum"] == pytest.approx(9.5)
    assert rows["B"]["rank_sum"] == pytest.approx(8.0)
    assert rows["C"]["rank_sum"] == pytest.approx(6.5)
    assert rows["A"]["mean_rank"] == pytest.approx(9.5 / 4)
    for r in rows.values():
        assert r["chi2_f"] == pytest.approx(1.125)


def test_condensed_ap_hand_computed(spark):
    """Unjudged docs vanish before ranking: run (d1 rel, d2 UNJUDGED,
    d3 nonrel, d4 rel) condenses to (d1, d3, d4) -> AP' = (1/1 + 2/3)
    / R with R = 3 (d9 relevant but unretrieved); a query with no
    judged retrieved docs scores 0."""
    run = spark.createDataFrame(
        [
            ("q1", 1, "1"), ("q1", 2, "2"), ("q1", 3, "3"),
            ("q1", 4, "4"),
            ("q2", 1, "50"),
        ],
        "qid string, rank long, docid string",
    )
    qrels = spark.createDataFrame(
        [
            ("q1", "1", 1.0), ("q1", "3", 0.0), ("q1", "4", 1.0),
            ("q1", "9", 1.0),
            ("q2", "99", 1.0),
        ],
        "qid string, docid string, rel double",
    )
    out = {r["qid"]: r for r in ev.condensed_ap(run, qrels).collect()}
    r1 = out["q1"]
    assert r1["n_judged_ret"] == 3
    assert r1["ap_condensed"] == pytest.approx((1.0 + 2 / 3) / 3)
    r2 = out["q2"]
    assert r2["n_judged_ret"] == 0 and r2["ap_condensed"] == 0.0


def test_inferred_ap_hand_computed(spark):
    """q1: sampled rels d1@1, d4@4 (+unretrieved d9), judged nonrel
    d2@2. term(d1)=1; term(d4)=1/4 + (2/4)·(1+eps)/(2+2eps) = 1/4 +
    1/2·1/2 = 0.5 exactly (the eps cancels); infAP = 1.5/3 = 0.5.
    q2 has a sampled rel but nothing retrieved -> inf_ap 0; q3 has no
    sampled rel -> no row."""
    run = spark.createDataFrame(
        [
            ("q1", 1, "1"), ("q1", 2, "2"), ("q1", 3, "3"),
            ("q1", 4, "4"),
            ("q2", 1, "50"),
            ("q3", 1, "60"),
        ],
        "qid string, rank long, docid string",
    )
    sq = spark.createDataFrame(
        [
            ("q1", "1", 1.0), ("q1", "2", 0.0), ("q1", "4", 1.0),
            ("q1", "9", 1.0),
            ("q2", "99", 1.0),
            ("q3", "60", 0.0),
        ],
        "qid string, docid string, rel double",
    )
    out = {r["qid"]: r for r in ev.inferred_ap(run, sq).collect()}
    assert set(out) == {"q1", "q2"}  # q3: no sampled relevant
    r1 = out["q1"]
    assert r1["r_sampled"] == 3 and r1["n_sampled_ret"] == 2
    assert r1["inf_ap"] == pytest.approx(0.5, abs=1e-6)
    r2 = out["q2"]
    assert r2["r_sampled"] == 1 and r2["n_sampled_ret"] == 0
    assert r2["inf_ap"] == 0.0


def test_calibration_bins_hand_computed(spark):
    """Equal-width bins: 0.05->0, 0.15->1, 0.95->9, and score 1.0
    clamps into bin 9; per-bin mean/pos-rate arithmetic."""
    rows = [
        (0.05, 0), (0.08, 1),       # bin 0: n=2, pos=1
        (0.15, 0),                  # bin 1
        (0.95, 1), (1.0, 1),        # bin 9 (1.0 clamped)
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["bin"]: r for r in ev.calibration_bins(df).collect()}
    assert set(out) == {0, 1, 9}
    assert out[0]["n"] == 2 and out[0]["n_pos"] == 1
    assert out[0]["mean_score"] == pytest.approx(0.065)
    assert out[0]["pos_rate"] == pytest.approx(0.5)
    assert out[1]["n"] == 1 and out[1]["n_pos"] == 0
    assert out[9]["n"] == 2 and out[9]["n_pos"] == 2
    assert out[9]["pos_rate"] == pytest.approx(1.0)


def test_pbm_click_model_hand_computed(spark):
    """Tiny log: (q,d1,pos1,click)x2, (q,d1,pos2,no), (q,d2,pos1,no).
    Iter 1 (g=r=0.5): unclicked posterior = 1/3 ->
      gamma = {p1: 7/9, p2: 1/3}, rel = {d1: 7/9, d2: 1/3}.
    Iter 2: unclicked pe/pr both land on exactly 0.7 (d2@p1 pe:
      (7/9·2/3)/(20/27) = 0.7) and 0.1 ->
      gamma = {p1: 0.9, p2: 0.1}, rel = {d1: 0.9, d2: 0.1}."""
    imp = spark.createDataFrame(
        [
            ("q", 1, 1, True), ("q", 1, 1, True),
            ("q", 1, 2, False), ("q", 2, 1, False),
        ],
        "qid string, doc_id long, pos long, clicked boolean",
    )
    g1, r1 = ev.pbm_click_model(imp, n_iter=1)
    got_g1 = {r["pos"]: r for r in g1.collect()}
    assert got_g1[1]["gamma"] == pytest.approx(7 / 9)
    assert got_g1[2]["gamma"] == pytest.approx(1 / 3)
    assert got_g1[1]["n_impressions"] == 3
    assert got_g1[1]["n_clicks"] == 2
    got_r1 = {r["doc"]: r["rel"] for r in r1.collect()}
    assert got_r1[1] == pytest.approx(7 / 9)
    assert got_r1[2] == pytest.approx(1 / 3)
    g2, r2 = ev.pbm_click_model(imp, n_iter=2)
    got_g2 = {r["pos"]: r["gamma"] for r in g2.collect()}
    assert got_g2[1] == pytest.approx(0.9)
    assert got_g2[2] == pytest.approx(0.1)
    got_r2 = {r["doc"]: r["rel"] for r in r2.collect()}
    assert got_r2[1] == pytest.approx(0.9)
    assert got_r2[2] == pytest.approx(0.1)


def test_risk_metric_hand_computed(spark):
    """Deltas {+0.2, -0.1, 0}: URisk_1 = (0.2 - 2*0.1)/3 = 0."""
    a = spark.createDataFrame(
        [("q1", 0.5), ("q2", 0.3), ("q3", 0.4)], "qid string, ap double"
    )
    b = spark.createDataFrame(
        [("q1", 0.3), ("q2", 0.4), ("q3", 0.4)], "qid string, ap double"
    )
    row = ev.risk_metric(a, b, alpha=1.0).collect()[0]
    assert row["n"] == 3
    assert row["n_wins"] == 1 and row["n_losses"] == 1
    assert row["urisk"] == pytest.approx(0.0, abs=1e-12)
    row2 = ev.risk_metric(a, b, alpha=4.0).collect()[0]
    assert row2["urisk"] == pytest.approx((0.2 - 5 * 0.1) / 3)


def test_bootstrap_ci_deterministic_and_sane(spark):
    """Deterministic across invocations; CI brackets the mean; a
    constant metric collapses the CI to a point."""
    pq = spark.createDataFrame(
        [("q1", 0.1), ("q2", 0.5), ("q3", 0.9), ("q4", 0.3)],
        "qid string, ap double",
    )
    r1 = ev.bootstrap_ci(pq, n_boot=100, seed=3).collect()[0]
    r2 = ev.bootstrap_ci(pq, n_boot=100, seed=3).collect()[0]
    assert r1 == r2
    assert r1["n"] == 4 and r1["n_boot"] == 100
    assert r1["ci_lo"] <= r1["mean"] <= r1["ci_hi"]
    assert r1["ci_lo"] < r1["ci_hi"]
    const = spark.createDataFrame(
        [("q1", 0.4), ("q2", 0.4)], "qid string, ap double"
    )
    rc = ev.bootstrap_ci(const, n_boot=50, seed=1).collect()[0]
    assert rc["ci_lo"] == rc["ci_hi"] == pytest.approx(0.4)
    # NOTE: seed k vs k+1 only shifts the mix draw STREAM by one slot,
    # so nearby seeds give near-identical CIs by design — determinism
    # is the contract, not seed-sensitivity


def test_bootstrap_paired_test_pure_python_replay(spark):
    """bootstrap_paired_test == a pure-Python replay of the mix draw
    stream over scaled-integer deltas; all-positive deltas give the
    conservative floor p = 1/(B+1)."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    def mix_py(x):
        return (MIX_A * (x % MIX_P) + MIX_B) % MIX_P

    a_rows = [("q1", 0.50), ("q2", 0.30), ("q3", 0.45), ("q4", 0.20)]
    b_rows = [("q1", 0.40), ("q2", 0.35), ("q3", 0.45), ("q4", 0.30)]
    a = spark.createDataFrame(a_rows, "qid string, ap double")
    b = spark.createDataFrame(b_rows, "qid string, ap double")
    n_boot, seed = 60, 7
    row = ev.bootstrap_paired_test(
        a, b, n_boot=n_boot, seed=seed
    ).collect()[0]
    # pure-Python replay (qid order == lexicographic, same mix stream)
    ds = [
        int(round((x[1] - y[1]) * 10000))
        for x, y in zip(sorted(a_rows), sorted(b_rows))
    ]
    n = len(ds)
    n_le0 = 0
    for bid in range(n_boot):
        s = sum(ds[mix_py(bid * n + j + seed) % n] for j in range(n))
        n_le0 += s <= 0
    assert row["n"] == n and row["n_boot"] == n_boot
    assert row["sum_obs"] == sum(ds)
    assert row["n_le0"] == n_le0
    assert row["p_le0"] == pytest.approx((n_le0 + 1) / (n_boot + 1))
    # all-positive deltas -> every resample sum > 0 -> floor p
    b2 = spark.createDataFrame(
        [(q, v - 0.05) for q, v in a_rows], "qid string, ap double"
    )
    r2 = ev.bootstrap_paired_test(a, b2, n_boot=40, seed=1).collect()[0]
    assert r2["n_le0"] == 0
    assert r2["p_le0"] == pytest.approx(1 / 41)


def test_permutation_test_pure_python_replay(spark):
    """permutation_test == pure-Python replay of the mix-parity sign
    flips over scaled-integer deltas; identical runs give p_two = 1."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    def mix_py(x):
        return (MIX_A * (x % MIX_P) + MIX_B) % MIX_P

    a_rows = [("q1", 0.50), ("q2", 0.30), ("q3", 0.45), ("q4", 0.20)]
    b_rows = [("q1", 0.40), ("q2", 0.35), ("q3", 0.45), ("q4", 0.30)]
    a = spark.createDataFrame(a_rows, "qid string, ap double")
    b = spark.createDataFrame(b_rows, "qid string, ap double")
    n_perm, seed = 64, 9
    row = ev.permutation_test(a, b, n_perm=n_perm, seed=seed).collect()[0]
    ds = [
        int(round((x[1] - y[1]) * 10000))
        for x, y in zip(sorted(a_rows), sorted(b_rows))
    ]
    n = len(ds)
    obs = sum(ds)
    n_ge = 0
    for p in range(n_perm):
        s = sum(
            ds[j] if mix_py(p * n + j + seed) % 2 == 0 else -ds[j]
            for j in range(n)
        )
        n_ge += abs(s) >= abs(obs)
    assert row["n"] == n and row["n_perm"] == n_perm
    assert row["sum_obs"] == obs
    assert row["n_ge"] == n_ge
    assert row["p_two"] == pytest.approx((n_ge + 1) / (n_perm + 1))
    # identical runs: every signed sum is 0 == |obs| -> p_two = 1
    r2 = ev.permutation_test(a, a, n_perm=32, seed=1).collect()[0]
    assert r2["sum_obs"] == 0 and r2["n_ge"] == 32
    assert r2["p_two"] == pytest.approx(1.0)


def test_q_measure_hand_computed(spark, frames):
    """Binary Q over the RUN/QRELS fixture (q1: rels at ranks 2 and 4,
    R=3 -> (BR(2) + BR(4))/3; q2: nothing retrieved -> 0)."""
    run, qrels = frames
    got = {
        r["qid"]: (r["num_rel"], r["q_measure"])
        for r in ev.q_measure(run, qrels).collect()
    }
    br2 = (1 + 1.0) / (2 + 2.0)   # C=1, cg=1, cig(2)=2
    br4 = (2 + 2.0) / (4 + 3.0)   # C=2, cg=2, cig capped at R=3
    assert got["q1"][0] == 3
    assert got["q1"][1] == pytest.approx((br2 + br4) / 3, rel=1e-12)
    assert got["q2"] == (1, 0.0)


def test_q_measure_graded(spark):
    """Graded gains: ideal cig uses gain-DESC order and caps at the
    total gain past the ideal list."""
    run = spark.createDataFrame(
        [("g", "a", 1), ("g", "b", 2)], "qid string, docid string, rank long"
    )
    qrels = spark.createDataFrame(
        [("g", "0", "b", 3.0), ("g", "0", "c", 1.0)],
        "qid string, iter string, docid string, rel double",
    )
    r = ev.q_measure(run, qrels).collect()[0]
    # hit b@2: C=1, cg=3, cig(2) = 3 + 1 = 4 -> BR = (1+3)/(2+4); R=2
    assert r["num_rel"] == 2
    assert r["q_measure"] == pytest.approx((4.0 / 6.0) / 2, rel=1e-12)


def test_friedman_rejects_two_systems(spark):
    """k=2 degenerates to a sign-test shape where chi^2_F is
    unreliable — the operator refuses it (ADVICE r4)."""
    a = spark.createDataFrame([("q1", 0.5)], "qid string, ap double")
    b = spark.createDataFrame([("q1", 0.3)], "qid string, ap double")
    with pytest.raises(ValueError, match=">= 3 systems"):
        ev.friedman_test([("A", a), ("B", b)])


def test_interleave_credit_hand_computed(spark):
    """Clicks credit the contributing team; click-less queries are
    explicit 0/0 ties; duplicate click events count multiply."""
    inter = spark.createDataFrame(
        [
            ("q1", 1, 10, "a"), ("q1", 2, 11, "b"), ("q1", 3, 12, "a"),
            ("q2", 1, 20, "b"), ("q2", 2, 21, "a"),
            ("q3", 1, 30, "a"),
        ],
        "qid string, pos long, doc_id long, team string",
    )
    clicks = spark.createDataFrame(
        [("q1", 10), ("q1", 12), ("q1", 11),      # a=2, b=1 -> 'a'
         ("q2", 20), ("q2", 20),                  # dup event: b=2 -> 'b'
         ("q9", 99)],                             # unknown qid ignored
        "qid string, doc_id long",
    )
    got = {
        r["qid"]: (r["clicks_a"], r["clicks_b"], r["winner"])
        for r in ev.interleave_credit(inter, clicks).collect()
    }
    assert got == {
        "q1": (2, 1, "a"),
        "q2": (0, 2, "b"),
        "q3": (0, 0, "tie"),
    }


def test_sign_test_exact_binomial(spark):
    """Exact binomial sign test vs math.comb: ties drop, doubled-tail
    two-sided p, all-tie and single-observation corners."""
    from math import comb

    def p_ref(na, nb):
        m = na + nb
        if m == 0:
            return 1.0
        k = min(na, nb)
        return min(1.0, 2 * sum(comb(m, j) for j in range(k + 1)) / 2**m)

    for na, nb, nt in [(7, 1, 2), (3, 3, 0), (0, 0, 4), (10, 2, 1),
                       (1, 0, 0), (9, 8, 3)]:
        rows = [("a",)] * na + [("b",)] * nb + [("tie",)] * nt
        df = spark.createDataFrame(rows, "winner string")
        r = ev.sign_test(df).collect()[0]
        assert (r["n_a"], r["n_b"], r["n_tie"]) == (na, nb, nt)
        assert r["n_queries"] == na + nb + nt
        assert r["p_value"] == pytest.approx(p_ref(na, nb), abs=1e-12)


def test_ips_utility_hand_computed(spark):
    """IPS estimator: clicks weight lambda(new rank)/gamma(logged
    pos); clicked docs the new run misses contribute 0; 'rr' weight
    and the bad-weight guard."""
    import math as m

    run = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q2", 20, 1)],
        "qid string, doc_id long, rank long",
    )
    clicks = spark.createDataFrame(
        [("q1", 11, 3), ("q1", 99, 1), ("q2", 20, 2)],
        "qid string, doc_id long, pos long",
    )
    gamma = spark.createDataFrame(
        [(1, 1.0), (2, 0.5), (3, 0.25)], "pos long, gamma double"
    )
    got = {
        r["qid"]: (r["n_clicks"], r["ips_utility"])
        for r in ev.ips_utility(run, clicks, gamma).collect()
    }
    # q1: click on 11 at logged pos 3 (gamma .25), new rank 2 ->
    #     (1/log2(3)) / .25; click on 99 unretrieved -> 0
    assert got["q1"][0] == 2
    assert got["q1"][1] == pytest.approx(
        (1.0 / m.log2(3.0)) / 0.25, rel=1e-12
    )
    # q2: click at pos 2 (gamma .5), new rank 1 -> (1/log2(2))/.5 = 2
    assert got["q2"] == (1, pytest.approx(2.0))
    # SNIPS: numerator as IPS, denominator = total mass sum(1/gamma)
    snips = {
        r["qid"]: r["snips_utility"]
        for r in ev.ips_utility(run, clicks, gamma).collect()
    }
    assert snips["q1"] == pytest.approx(
        ((1.0 / m.log2(3.0)) / 0.25) / (1.0 / 0.25 + 1.0 / 1.0),
        rel=1e-12,
    )
    assert snips["q2"] == pytest.approx(2.0 / (1.0 / 0.5), rel=1e-12)
    rr = {
        r["qid"]: r["ips_utility"]
        for r in ev.ips_utility(run, clicks, gamma, weight="rr").collect()
    }
    assert rr["q1"] == pytest.approx((1.0 / 2.0) / 0.25)
    with pytest.raises(ValueError):
        ev.ips_utility(run, clicks, gamma, weight="nope")


def test_alpha_ndcg_hand_computed(spark):
    """A=aspect{1}, B=aspect{1}, C=aspect{2}; run order A,B,C, α=0.5.
    Gains 1, 0.5, 1; ideal greedy picks A (tie docid ASC), C, B —
    IDCG = 1 + 1/log2(3) + 0.5/2."""
    run = spark.createDataFrame(
        [("q1", "A", 1), ("q1", "B", 2), ("q1", "C", 3)],
        "qid string, docid string, rank long",
    )
    aq = spark.createDataFrame(
        [("q1", "A", 1), ("q1", "B", 1), ("q1", "C", 2)],
        "qid string, docid string, aspect int",
    )
    r = ev.alpha_ndcg(run, aq, k=3, alpha=0.5).collect()[0]
    lg3 = math.log2(3.0)
    dcg = 1.0 + 0.5 / lg3 + 1.0 / 2.0
    idcg = 1.0 + 1.0 / lg3 + 0.5 / 2.0
    assert r["dcg"] == pytest.approx(dcg, rel=1e-9)
    assert r["idcg"] == pytest.approx(idcg, rel=1e-9)
    assert r["alpha_ndcg"] == pytest.approx(dcg / idcg, rel=1e-9)


def test_intent_aware_metrics_hand_computed(spark):
    """Aspects: A covers 1, B covers 1, C covers 2 (same frame as the
    alpha_ndcg test). ERR_1 = 0.5/1 + 0.25/2, ERR_2 = 0.5/3;
    ERR-IA = (ERR_1 + ERR_2)/2, S-recall = 1.0. A second query with
    aspects but no covered docs in the run scores 0 but keeps its
    denominator."""
    run = spark.createDataFrame(
        [("q1", "A", 1), ("q1", "B", 2), ("q1", "C", 3),
         ("q2", "X", 1)],
        "qid string, docid string, rank long",
    )
    aq = spark.createDataFrame(
        [("q1", "A", 1), ("q1", "B", 1), ("q1", "C", 2),
         ("q2", "Y", 1), ("q2", "Z", 2)],
        "qid string, docid string, aspect int",
    )
    got = {
        r["qid"]: r
        for r in ev.intent_aware_metrics(run, aq, k=10).collect()
    }
    err1 = 0.5 / 1 + 0.5 * 0.5 / 2
    err2 = 0.5 / 3
    assert got["q1"]["n_aspects"] == 2
    assert got["q1"]["err_ia"] == pytest.approx((err1 + err2) / 2)
    assert got["q1"]["s_recall"] == pytest.approx(1.0)
    assert got["q2"]["n_aspects"] == 2
    assert got["q2"]["err_ia"] == 0.0
    assert got["q2"]["s_recall"] == 0.0


def test_mcnemar_hand_computed(spark):
    """10 items: 4 both-right, 2 both-wrong, 3 A-only, 1 B-only.
    b=3, c=1: chi2_cc = (|3-1|-1)^2/4 = 0.25; exact p = 2 * P(X <= 1),
    X ~ Bin(4, 1/2) = 2 * (1 + 4)/16 = 0.625."""
    rows = (
        [(True, True)] * 4
        + [(False, False)] * 2
        + [(True, False)] * 3
        + [(False, True)]
    )
    df = spark.createDataFrame(rows, "correct_a boolean, correct_b boolean")
    r = ev.mcnemar_test(df).collect()[0]
    assert (r["n"], r["n_both"], r["n_neither"]) == (10, 4, 2)
    assert (r["n_a_only"], r["n_b_only"]) == (3, 1)
    assert r["chi2_cc"] == 0.25
    assert abs(r["p_value"] - 0.625) < 1e-12


def test_mcnemar_degenerate_and_cap(spark):
    """No discordant pairs -> chi2 0, p 1; |b-c| <= 1 -> chi2 0 via
    the continuity floor; b+c > 100 -> p is NULL (overflow guard)."""
    concordant = spark.createDataFrame(
        [(True, True)] * 3 + [(False, False)],
        "correct_a boolean, correct_b boolean",
    )
    r = ev.mcnemar_test(concordant).collect()[0]
    assert r["chi2_cc"] == 0.0 and r["p_value"] == 1.0
    near = spark.createDataFrame(
        [(True, False)] * 2 + [(False, True)],
        "correct_a boolean, correct_b boolean",
    )
    r2 = ev.mcnemar_test(near).collect()[0]
    assert r2["chi2_cc"] == 0.0  # (|2-1|-1)^2 = 0
    big = spark.createDataFrame(
        [(True, False)] * 80 + [(False, True)] * 40,
        "correct_a boolean, correct_b boolean",
    )
    r3 = ev.mcnemar_test(big).collect()[0]
    assert r3["p_value"] is None
    # chi2 = (|80-40|-1)^2 / 120
    assert r3["chi2_cc"] == round(39 * 39 / 120, 4)


def test_randomization_propensity_hand_computed(spark):
    """pos 1: 10 imps 4 clicks; pos 2: 10 imps 2 clicks; pos 3: 5
    imps 0 clicks -> ratios 1.0, 0.5, 0.0; ctrs 0.4, 0.2, 0.0."""
    rows = (
        [(1, True)] * 4 + [(1, False)] * 6
        + [(2, True)] * 2 + [(2, False)] * 8
        + [(3, False)] * 5
    )
    imp = spark.createDataFrame(rows, "pos long, clicked boolean")
    got = {
        r["pos"]: (r["n_impressions"], r["n_clicks"], r["ctr"],
                   r["gamma_ratio"])
        for r in ev.randomization_propensity(imp).collect()
    }
    assert got[1] == (10, 4, 0.4, 1.0)
    assert got[2] == (10, 2, 0.2, 0.5)
    assert got[3] == (5, 0, 0.0, 0.0)
    # clickless anchor -> NULL ratios
    dead = spark.createDataFrame(
        [(1, False), (2, True)], "pos long, clicked boolean"
    )
    out = {r["pos"]: r["gamma_ratio"]
           for r in ev.randomization_propensity(dead).collect()}
    assert out[1] is None and out[2] is None


def test_assessor_agreement_hand_computed(spark):
    """10 shared judgments: 8 agree, A marks 4 relevant, B marks 5.
    po = 0.8; pe = (4*5 + 6*5)/100 = 0.5; kappa = (8*10-50)/(100-50)
    = 0.6. Constant assessors (pe = 1) -> NULL kappa."""
    rows_a = [("q1", str(i), 1.0 if i < 4 else 0.0) for i in range(10)]
    # B agrees except on docs 3 (A rel, B not) and 4 (A not, B rel),
    # plus doc 5 flips to rel: A = {0,1,2,3}, B = {0,1,2,4,5}
    rows_b = [
        ("q1", str(i), 1.0 if i in (0, 1, 2, 4, 5) else 0.0)
        for i in range(10)
    ]
    a = spark.createDataFrame(rows_a, "qid string, docid string, rel double")
    b = spark.createDataFrame(rows_b, "qid string, docid string, rel double")
    r = ev.assessor_agreement(a, b).collect()[0]
    # agreement: docs 0,1,2 (both rel), 6,7,8,9 (both non) = 7
    assert (r["n"], r["n_agree"]) == (10, 7)
    assert r["po"] == 0.7
    # pe = (4*5 + 6*5)/100 = 0.5; kappa = (70-50)/(100-50) = 0.4
    assert r["pe"] == 0.5 and r["kappa"] == 0.4
    allpos = spark.createDataFrame(
        [("q1", str(i), 1.0) for i in range(4)],
        "qid string, docid string, rel double",
    )
    r2 = ev.assessor_agreement(allpos, allpos).collect()[0]
    assert r2["po"] == 1.0 and r2["kappa"] is None


def test_run_diff_hand_computed(spark):
    """q1: A top-3 {1,2,3}@1..3, B {2,1,9}: common {1,2} with shifts
    |1-2|+|2-1| = 2 -> avg 1.0; only_a {3}, only_b {9}. q2 exists in
    A only -> 0 common, NULL shift."""
    a = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3), ("q2", 7, 1)],
        "qid string, doc_id long, rank long",
    )
    b = spark.createDataFrame(
        [("q1", 2, 1), ("q1", 1, 2), ("q1", 9, 3)],
        "qid string, doc_id long, rank long",
    )
    got = {
        r["qid"]: (r["n_common"], r["n_only_a"], r["n_only_b"],
                   r["avg_rank_shift"])
        for r in ev.run_diff(a, b, k=10).collect()
    }
    assert got["q1"] == (2, 1, 1, 1.0)
    assert got["q2"] == (0, 1, 0, None)


def test_pool_depth_curve_hand_computed(spark):
    """Two runs over one query: pool at depth 1 = {A (min rank 1)},
    depth 2 adds B and C (rank 2 in either run). Judged = {A, C}:
    fracs 1.0, 2/3."""
    r1 = spark.createDataFrame(
        [("q", "A", 1), ("q", "B", 2)],
        "qid string, docid string, rank long",
    )
    r2 = spark.createDataFrame(
        [("q", "A", 1), ("q", "C", 2)],
        "qid string, docid string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", "A", 1.0), ("q", "C", 0.0)],
        "qid string, docid string, rel double",
    )
    got = {
        r["depth"]: (r["n_pool"], r["n_judged"], r["judged_frac"])
        for r in ev.pool_depth_curve([r1, r2], qrels, max_depth=3
                                     ).collect()
    }
    assert got[1] == (1, 1, 1.0)
    assert got[2] == (3, 2, round(2 / 3, 4))
    assert got[3] == (3, 2, round(2 / 3, 4))
