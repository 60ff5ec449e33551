"""Cross-cutting invariants: the per-row content sha256 (input_hint),
stopword-only queries, empty corpus, and hypothesis property tests for
the posting codec."""

import ast
import hashlib
import pathlib
import re

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig
from luc4ir_spark.functions.codec import (
    decode_posting_list,
    encode_posting_list,
    varbyte_decode,
    varbyte_encode,
)
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import retrieval as rt
from luc4ir_spark.sources.corpus import synth_corpus


def test_lm_cross_entropy_hand_computed(spark):
    # corpus "a a b" / "b c": cf(a)=2, cf(b)=2, cf(c)=1, C=5
    # H(d1) = -(2 ln(2/5) + ln(2/5)) / 3 = -ln(0.4) = 0.9162907
    # H(d2) = -(ln(2/5) + ln(1/5)) / 2 = 1.2628643
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, content string"
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    got = {
        r["doc_id"]: r["cross_entropy"]
        for r in ix.lm_cross_entropy(idx).collect()
    }
    assert got[1] == pytest.approx(-math.log(0.4), abs=1e-9)
    assert got[2] == pytest.approx(
        -(math.log(0.4) + math.log(0.2)) / 2, abs=1e-9
    )


def test_lm_quality_filter(spark):
    import numpy as np

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, content string"
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    # fixed threshold: keeps d1 (0.9163), drops d2 (1.2629)
    kept = [r["doc_id"] for r in ix.lm_quality_filter(idx, max_xent=1.0).collect()]
    assert kept == [1]
    # quantile threshold: percentile(0.5) of {0.9163, 1.2629} is their
    # midpoint (numpy linear interpolation agrees), so only d1 passes
    xents = np.array(
        sorted(
            r["cross_entropy"] for r in ix.lm_cross_entropy(idx).collect()
        )
    )
    assert xents[0] < float(np.percentile(xents, 50)) < xents[1]
    out = ix.lm_quality_filter(idx, quantile=0.5).collect()
    assert sorted(r["doc_id"] for r in out) == [1]
    with pytest.raises(ValueError):
        ix.lm_quality_filter(idx)
    with pytest.raises(ValueError):
        ix.lm_quality_filter(idx, max_xent=1.0, quantile=0.5)


def test_xent_buckets_equal_fill_and_order(spark):
    """Per-language ntile tertiles: bucket sizes differ by at most one,
    and every head xent <= every middle xent <= every tail xent within
    a language (on the 4dp grid)."""
    rows = []
    # 7 'en' docs with increasingly rare-token-heavy text, 2 'de' docs
    vocab = ["a", "b", "c", "d", "e", "f", "g"]
    for i in range(7):
        text = " ".join(["a"] * (7 - i) + vocab[: i + 1])
        rows.append((i, text, "en"))
    rows += [(100, "a a a", "de"), (101, "f g", "de")]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, lang string"
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    meta = docs.select("doc_id", "lang")
    out = ix.xent_buckets(idx, meta, by="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang["en"]) == 7 and len(by_lang["de"]) == 2
    sizes = {}
    for r in by_lang["en"]:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    assert sizes == {"head": 3, "middle": 2, "tail": 2}  # SQL ntile fill
    order = {"head": 0, "middle": 1, "tail": 2}
    ranked = sorted(
        by_lang["en"], key=lambda r: (r["cross_entropy"], r["doc_id"])
    )
    assert [order[r["bucket"]] for r in ranked] == sorted(
        order[r["bucket"]] for r in ranked
    )
    # a 2-doc language still splits head/tail deterministically
    de = {r["doc_id"]: r["bucket"] for r in by_lang["de"]}
    assert de[100] == "head" and de[101] in ("middle", "tail")


def test_content_sha256_invariant(spark):
    """input_hint: per-row content sha256 equality — the digest stored
    at ingest must equal an independently computed digest of the same
    row after the pipeline ran."""
    docs = synth_corpus(spark, 100, seed=42).withColumn(
        "doc_id", F.xxhash64("path")
    )
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=AnalyzerConfig()))
    stored = {
        r["doc_id"]: r["content_sha256"] for r in idx.doc_stats.collect()
    }
    for r in docs.collect():
        expect = hashlib.sha256(r["content"].encode()).hexdigest()
        assert stored[r["doc_id"]] == expect


def test_stopword_only_query_returns_nothing(spark):
    """FIXTURES.md: a stopword-only query must return 0 hits (all its
    terms are removed by the analyzer)."""
    docs = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "a dog is there")],
        "doc_id long, content string",
    )
    en = AnalyzerConfig()  # default english: stop set active
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=en))
    qt = rt.queries_to_terms(spark, [("s1", "the and of is")], en)
    assert qt.count() == 0
    assert rt.score_queries(idx, qt, k=10).count() == 0


def test_empty_corpus_build(spark):
    docs = spark.createDataFrame([], "doc_id long, content string")
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=AnalyzerConfig()))
    assert idx.stats.n_docs == 0
    assert idx.stats.avgdl == 0.0
    qt = rt.queries_to_terms(spark, [("q", "anything")], AnalyzerConfig())
    assert rt.score_queries(idx, qt, k=5).count() == 0


def test_zero_length_docs_kept_in_doc_stats(spark):
    docs = spark.createDataFrame(
        [(0, "real content here"), (1, ""), (2, "   ")],
        "doc_id long, content string",
    )
    idx = ix.build_index(docs, ix.IndexConfig(analyzer=AnalyzerConfig()))
    lens = {r["doc_id"]: r["doc_len"] for r in idx.doc_stats.collect()}
    assert lens[1] == 0 and lens[2] == 0
    assert idx.stats.n_docs == 3


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**62), max_size=300)
)
def test_varbyte_roundtrip_property(values):
    arr = np.array(values, dtype=np.int64)
    out, used = varbyte_decode(varbyte_encode(arr))
    assert used == len(varbyte_encode(arr))
    np.testing.assert_array_equal(out.astype(np.int64), arr)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=200),  # n postings
    st.integers(min_value=1, max_value=64),   # block size
    st.integers(min_value=0, max_value=2**31),
    st.randoms(use_true_random=False),
)
def test_posting_list_roundtrip_property(n, block_size, base, rnd):
    gaps = np.array([rnd.randint(1, 1000) for _ in range(n)], dtype=np.int64)
    doc_ids = base + np.cumsum(gaps)
    tfs = np.array([rnd.randint(1, 500) for _ in range(n)], dtype=np.int64)
    dls = np.array([rnd.randint(1, 10_000) for _ in range(n)], dtype=np.int64)
    blob, d = encode_posting_list(doc_ids, tfs, dls, block_size=block_size)
    ids2, tfs2, dls2 = decode_posting_list(blob, d)
    np.testing.assert_array_equal(ids2, doc_ids)
    np.testing.assert_array_equal(tfs2, tfs)
    np.testing.assert_array_equal(dls2, dls)
    # impact directory invariants hold for every block
    nb = d.offsets.size
    for b in range(nb):
        lo, hi = b * block_size, min((b + 1) * block_size, n)
        assert d.max_tf[b] == tfs[lo:hi].max()
        assert d.min_dl[b] == dls[lo:hi].min()
        assert d.last_doc[b] == doc_ids[hi - 1]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(list("abx")), min_size=1, max_size=20),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=2),
)
def test_span_not_matches_brute_force(spark, docs_tokens, pre, post):
    """span_not_query('a b', exclude 'x', pre/post) == a pure-Python
    scan over random token streams."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs_tokens)],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(df)
    got = {
        r["doc_id"]: r["spannot_freq"]
        for r in rt.span_not_query(pos, ["a", "b"], "x", pre, post).collect()
    }
    for i, toks in enumerate(docs_tokens):
        exp = 0
        for p in range(len(toks) - 1):
            if toks[p] == "a" and toks[p + 1] == "b":
                lo = max(0, p - pre)
                hi = min(len(toks) - 1, p + 1 + post)
                if not any(toks[q] == "x" for q in range(lo, hi + 1)):
                    exp += 1
        assert got.get(i, 0) == exp, (i, toks)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_percolate_matches_brute_force(spark, docs_tokens):
    """percolate(mode='all') == set-containment over random docs."""
    queries = {"qa": {"a", "b"}, "qb": {"c"}, "qc": {"a", "zz"}}
    qt = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "qid string, term string",
    )
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_tokens)],
        "doc_id long, content string",
    )
    got = {
        (r["doc_id"], r["qid"])
        for r in rt.percolate(df, qt, mode="all").collect()
    }
    exp = {
        (i, q)
        for i, toks in enumerate(docs_tokens)
        for q, terms in queries.items()
        if terms <= set(toks)
    }
    assert got == exp


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=2,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
# subnormal max|x|: the scale underflowed to 0 / rounded |q| past 127
@example(vecs=[[0.0, 5e-324]])
@example(vecs=[[190 * 5e-324, 0.0]])
def test_quantize_bound_property(spark, vecs):
    """Every dequantized component is within scale/2 of the original;
    q stays in [-127, 127]."""
    from luc4ir_spark.operators import annsearch as ann

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in ann.quantize_embeddings(df).collect()}
    for i, v in enumerate(vecs):
        scale = out[i]["scale"]
        q = out[i]["qvec"]
        assert all(abs(x) <= 127 for x in q)
        for qi, xi in zip(q, v):
            assert abs(qi * scale - xi) <= scale / 2 + 1e-9


def test_term_pmi_hand_computed(spark):
    # docs: 1="a b", 2="a b c", 3="a c", 4="d" -> n=4
    # df: a=3 b=2 c=2 d=1; co_df: (a,b)=2 (a,c)=2 (b,c)=1
    # with min_df=2 d is banded out; min_co_df=1 keeps (b,c)
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a c"), (4, "d")],
        "doc_id long, content string",
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    got = {
        (r["term_l"], r["term_r"]): r
        for r in ix.term_cooccurrence_pmi(idx, min_df=2).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    r = got[("a", "b")]
    assert (r["co_df"], r["df_l"], r["df_r"]) == (2, 3, 2)
    assert r["pmi"] == pytest.approx(math.log(4 * 2 / (3 * 2)), abs=1e-12)
    assert got[("b", "c")]["pmi"] == pytest.approx(
        math.log(4 * 1 / (2 * 2)), abs=1e-12
    )
    # min_co_df filter drops the singleton pair
    assert set(
        (r["term_l"], r["term_r"])
        for r in ix.term_cooccurrence_pmi(idx, min_df=2, min_co_df=2).collect()
    ) == {("a", "b"), ("a", "c")}
    # max_df valve: capping df<=2 removes every a-pair
    assert set(
        (r["term_l"], r["term_r"])
        for r in ix.term_cooccurrence_pmi(idx, min_df=2, max_df=2).collect()
    ) == {("b", "c")}


def test_ppmi_neighbors_hand_computed(spark):
    """Same 4-doc corpus as the PMI test: PPMI clips (a,b)/(a,c) to 0
    (ln(8/6) > 0 actually — recompute): vectors over positive PMI only;
    check the cosine of the single-context query term."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a c"), (4, "d")],
        "doc_id long, content string",
    )
    idx = ix.build_index(
        docs, ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    )
    out = {
        (r["qterm"], r["neighbor"]): r
        for r in ix.ppmi_neighbors(idx, ["b"], topn=3, min_df=2).collect()
    }
    # positive PMIs: (a,b)=ln(8/6), (a,c)=ln(8/6); (b,c)=ln(4/4)=0 clipped
    # vectors: b={a: w}, c={a: w}, a={b: w, c: w} with w=ln(4/3)
    w = math.log(4 / 3)
    # cos(b, c): shared ctx a -> w*w / (w * w) = 1
    assert out[("b", "c")]["cos"] == pytest.approx(1.0, abs=1e-12)
    # cos(b, a): shared ctx? b's ctx={a}, a's ctx={b,c} -> no overlap
    assert ("b", "a") not in out
    assert out[("b", "c")]["rank"] == 1


def test_kmv_sketch_deterministic_and_exact_path(spark):
    from luc4ir_spark.functions.hashing import MIX_P, mix_id_np
    from luc4ir_spark.operators import sketches as sk

    # 'a': 200 distinct values (+1 duplicate row) with k=16 -> sketch
    # path; 'b': 5 distinct -> exact path (m < k, kth null)
    rows = (
        [("a", i * 37 + 1) for i in range(200)]
        + [("a", 38)]
        + [("b", i) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r["g"]: r
        for r in sk.distinct_kmv_sketch(df, ["g"], "v", k=16).collect()
    }
    hs = np.unique(mix_id_np(np.array([i * 37 + 1 for i in range(200)])))
    kth = int(np.sort(hs)[15])
    assert out["a"]["m"] == 16 and out["a"]["kth_hash"] == kth
    assert out["a"]["est_distinct"] == pytest.approx(15 * MIX_P / kth)
    assert 50 < out["a"]["est_distinct"] < 800  # ~200 +- sketch error
    b = out["b"]
    assert (b["m"], b["kth_hash"], b["est_distinct"]) == (5, None, 5.0)


def test_hll_distinct_replay_and_accuracy(spark):
    """hll_distinct vs a pure-Python register replay (same md5-60bit
    hash, LSB-first rho) on BOTH branches: a 10-key group exercises
    the linear-counting correction, a 5000-key group the raw
    estimator; the big group's estimate lands within the ~13%
    (1.04/sqrt(64)) HLL error band."""
    import hashlib
    import math

    from luc4ir_spark.operators import sketches as sk

    m, w = 64, 48
    groups = {"small": 10, "big": 5000}
    rows = [
        (g, f"{g}-key-{i}")
        for g, n in groups.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    out = {
        r["g"]: r
        for r in sk.hll_distinct(
            df, "key", group_col="g", m=m, w=w
        ).collect()
    }

    def expect(n, g):
        regs = {}
        for i in range(n):
            tid = int(
                hashlib.md5(f"{g}-key-{i}".encode()).hexdigest()[:15],
                16,
            )
            j, h2 = tid % m, tid // m
            rho = w + 1
            for b in range(1, w + 1):
                if h2 % (1 << b) == 1 << (b - 1):
                    rho = b
                    break
            regs[j] = max(regs.get(j, 0), rho)
        v = m - len(regs)
        e = (
            sk.hll_alpha(m) * m * m
            / (sum(2.0 ** -r for r in regs.values()) + v)
        )
        if e <= 2.5 * m and v > 0:
            e = float(m) * math.log(float(m) / v)
        return len(regs), v, e

    for g, n in groups.items():
        nr, v, e = expect(n, g)
        assert out[g]["n_registers"] == nr
        assert out[g]["v_zero"] == v
        assert out[g]["est_distinct"] == pytest.approx(e, rel=1e-9)
    assert out["big"]["est_distinct"] == pytest.approx(5000, rel=0.3)
    # the small group really took the correction branch
    assert out["small"]["v_zero"] > 0


def test_countmin_sketch_guarantee_and_linearity(spark):
    """CMS point estimates upper-bound the true counts; the sketch of
    a union equals the cell-wise sum of shard sketches (linearity)."""
    from luc4ir_spark.operators import sketches as sk

    keys = [(f"k{i}", (i % 7) + 1) for i in range(40)]
    kc = spark.createDataFrame(keys, "key string, cnt long")
    sketch = sk.countmin_sketch(kc, "key", "cnt", depth=4, width=16)
    cells = {(r["r"], r["c"]): r["total"] for r in sketch.collect()}
    assert all(r < 4 and 0 <= c < 16 for r, c in cells)
    assert sum(v for (r, _), v in cells.items() if r == 0) == sum(
        c for _, c in keys
    )  # every row preserves the total mass
    probes = spark.createDataFrame(
        [(k,) for k, _ in keys[:10]] + [("neverseen",)], "key string"
    )
    est = {
        r["key"]: r["est"]
        for r in sk.countmin_estimate(
            sketch, probes, "key", depth=4, width=16
        ).collect()
    }
    truth = dict(keys)
    for k, v in truth.items():
        if k in est:
            assert est[k] >= v
    # CMS overshoots only via collisions; with 40 keys in 16 columns
    # some overshoot is expected but never undershoot (checked above)
    assert est["neverseen"] >= 0
    # linearity: sketch(a ∪ b) == cellwise sum of sketch(a), sketch(b)
    a, b = keys[:20], keys[20:]
    sa = sk.countmin_sketch(
        spark.createDataFrame(a, "key string, cnt long"), "key", "cnt",
        depth=4, width=16,
    )
    sb = sk.countmin_sketch(
        spark.createDataFrame(b, "key string, cnt long"), "key", "cnt",
        depth=4, width=16,
    )
    merged = {}
    for r in sa.collect() + sb.collect():
        merged[(r["r"], r["c"])] = merged.get((r["r"], r["c"]), 0) + r["total"]
    assert merged == cells


def test_bloom_filter_no_false_negatives(spark):
    """Every inserted key probes true (no false negatives — the Bloom
    guarantee); union of shard bit sets == whole-set bit set."""
    from luc4ir_spark.operators import sketches as sk

    keys = [(f"k{i}",) for i in range(60)]
    kdf = spark.createDataFrame(keys, "key string")
    bits = sk.bloom_filter_bits(kdf, "key", m_bits=512, k_hashes=3)
    probe_in = sk.bloom_might_contain(
        bits, kdf, "key", m_bits=512, k_hashes=3
    ).collect()
    assert all(r["might_contain"] for r in probe_in)
    # out-of-set probes: mostly false at this fill (n=60, m=512, k=3)
    out_keys = spark.createDataFrame(
        [(f"absent{i}",) for i in range(40)], "key string"
    )
    probe_out = sk.bloom_might_contain(
        bits, out_keys, "key", m_bits=512, k_hashes=3
    ).collect()
    fp = sum(bool(r["might_contain"]) for r in probe_out)
    assert fp < 10  # fp rate ~ (1 - e^(-3*60/512))^3 ≈ 2.6%
    # linear merge: bits(a ∪ b) == bits(a) ∪ bits(b)
    a = spark.createDataFrame(keys[:30], "key string")
    b = spark.createDataFrame(keys[30:], "key string")
    ba = {r["bit"] for r in sk.bloom_filter_bits(
        a, "key", m_bits=512, k_hashes=3).collect()}
    bb = {r["bit"] for r in sk.bloom_filter_bits(
        b, "key", m_bits=512, k_hashes=3).collect()}
    whole = {r["bit"] for r in bits.collect()}
    assert ba | bb == whole


def test_phrase_family_plan_guards(spark):
    """Plan-shape regression guards (VERDICT r4 items 1+7): the phrase
    walk's seed join must be the rarest term's cell, and the ordered
    walks must pre-prune a stopword seed with a broadcast-able
    left-semi join — a stopword-led phrase must never seed the chain
    at its own df."""
    docs = spark.createDataFrame(
        [(i, ["the"] + (["rareword"] if i == 0 else ["filler"]))
         for i in range(50)],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs).localCheckpoint()
    q = rt.phrase_query(pos, ["the", "rareword"])
    plan = q._jdf.queryExecution().executedPlan().toString()
    zi, ti = plan.find("= rareword"), plan.find("= the")
    assert zi != -1 and ti != -1 and zi < ti, plan
    prox = rt.proximity_query(pos, ["the", "rareword"], 3)
    pplan = prox._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in pplan, pplan
    assert sorted(
        (r["doc_id"], r["phrase_freq"]) for r in q.collect()
    ) == [(0, 1)]


def test_kmv_set_ops_small_sets_exact(spark):
    """When both sets hold < k distincts, theta = P and the sketches
    ARE the sets: every estimate equals the exact value."""
    from luc4ir_spark.operators import sketches as sk

    a = spark.createDataFrame([(i,) for i in range(10)], "v long")
    b = spark.createDataFrame([(i,) for i in range(5, 20)], "v long")
    r = sk.kmv_set_ops(a, b, "v", k=64).collect()[0]
    assert (r["m_a"], r["m_b"]) == (10, 15)
    assert r["exact_intersection"] == 5 and r["exact_union"] == 20
    assert r["est_intersection"] == 5.0 and r["est_union"] == 20.0
    assert r["est_jaccard"] == 0.25
    # disjoint sets: zero common, jaccard 0
    c = spark.createDataFrame([(i,) for i in range(100, 110)], "v long")
    r2 = sk.kmv_set_ops(a, c, "v", k=64).collect()[0]
    assert r2["n_common"] == 0 and r2["est_intersection"] == 0.0


def test_kmv_set_ops_sketched_estimates_track_exact(spark):
    """500 vs 400 values with 200 shared, k=64: estimates land within
    ~3 standard errors (1/sqrt(k-2) ~ 12.7%) of the exact values, and
    the retained-sample counts stay <= k."""
    from luc4ir_spark.operators import sketches as sk

    a = spark.createDataFrame([(i,) for i in range(500)], "v long")
    b = spark.createDataFrame(
        [(i,) for i in range(300, 700)], "v long"
    )
    r = sk.kmv_set_ops(a, b, "v", k=64).collect()[0]
    assert r["exact_intersection"] == 200 and r["exact_union"] == 700
    assert r["n_common"] <= 64 and r["n_union"] <= 128
    assert abs(r["est_union"] - 700) / 700 < 0.4
    assert abs(r["est_intersection"] - 200) / 200 < 0.6


def test_new_operator_plan_guards(spark):
    """Plan-shape guards for the session's operators: mlm_mask's only
    join is a broadcast (no SortMergeJoin); link_prediction's
    self-join runs over the checkpointed relation (no
    CartesianProduct); gazetteer's entity join is a broadcast nested
    loop over the literal lexicon, not a shuffle."""
    from luc4ir_spark.operators import graph as gr
    from luc4ir_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(i, "w%d alpha beta" % (i % 7)) for i in range(40)],
        "doc_id long, content string",
    )
    vocab = spark.createDataFrame(
        [("w%d" % j,) for j in range(7)], "term string"
    )
    mplan = (
        ts.mlm_mask_plan(docs, vocab)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in mplan, mplan
    assert "SortMergeJoin" not in mplan, mplan

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)],
        "src long, dst long",
    )
    lplan = (
        gr.link_prediction_pairs(edges, min_common=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in lplan, lplan

    gplan = (
        ts.gazetteer_extract(docs, entities=("alpha", "beta"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in gplan, gplan
    assert "Exchange hashpartitioning" not in gplan, gplan


def test_quantized_kmeans_codegen_bounded(spark):
    """VERDICT r5 item 1: the quantized k-means operators must keep
    their expression trees linear in K·dim — the rolling F.when argmin
    embedded the full prior best_d tree twice per centroid (~2^K·dim
    terms), janino refused to compile the generated method and Spark
    silently fell back to interpreted evaluation. Guard: the formatted
    physical plan of both operators stays bounded (the broken shape was
    ~10-60x larger) and the distances appear as a separate projection
    (each d2 computed once, argmin over attribute references)."""
    from luc4ir_spark.operators import annsearch as ann

    rows = [(i, [float((i * 7 + j) % 11 - 5) for j in range(16)])
            for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    qz = ann.quantize_embeddings(emb)
    for fn in (ann.kmeans_step_quantized, ann.cluster_quality_quantized):
        df = fn(qz, n_centroids=4, dim=16)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # linear-size bound: 4 centroids x 16 dims ~ a few thousand
        # chars of distance terms; the exponential shape exceeded this
        # by >10x at dim=16 (and ~50x at the gate's dim=64)
        assert len(plan) < 60_000, (
            f"{fn.__name__}: plan blew up to {len(plan)} chars"
        )
        assert "_d0" in plan and "_d3" in plan, plan[:2000]
        df.collect()  # executes: would log codegen errors if broken


def test_only_session_reads_environment():
    """Behaviour is chosen by arguments, not environment variables:
    no module of the package except ``session.py`` (CPU count, driver
    memory) reads ``os.environ`` or ``os.getenv``."""
    pkg = pathlib.Path(ix.__file__).resolve().parents[1]
    readers = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name in ("environ", "getenv") for a in node.names)
            ):
                readers.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert readers == []


def test_one_rank_window_one_fold_one_query_side():
    """The scoring spine is written once. (1) Only ``rank_topk`` and
    ``collapse_results`` (which ranks per collapse key first and carries
    the key) write a per-qid window ordered by score desc. (2) The
    sorted score fold, array_sort over a collect_list of values,
    appears once. (3) The term dictionary, or a name bound to a
    projection or filter of it, is broadcast only where the other side
    is the postings relation itself or pairs drawn from it
    (``corpus_side``), which it is smaller than. It is vocab-sized, so
    it is the streamed side of ``enrich_query_terms``' join and joins
    unhinted (AQE broadcasts it only while it is small) everywhere
    else."""
    corpus_side = (
        "term_max_contrib", "term_cooccurrence_pmi", "term_range_query"
    )

    def names(node):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    def is_dictionary(node, aliases):
        # a join result is sized by its other side, not by the dictionary
        src = ast.unparse(node)
        return ".join(" not in src and (
            re.search(r"\bterm_stats\b", src) or names(node) & aliases
        )

    def is_score_desc(arg):
        return (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "desc"
            and ast.unparse(arg.func.value) == "F.col('score')"
        )

    def is_qid_window(call):
        recv = call.func.value
        return (
            isinstance(recv, ast.Call)
            and isinstance(recv.func, ast.Attribute)
            and recv.func.attr == "partitionBy"
            and [ast.unparse(a) for a in recv.args] == ["'qid'"]
        )

    windows, folds, broadcasts = [], [], []
    # a sort of collected structs restores an order (token positions,
    # line numbers); only a sort of collected values is a score fold
    sql_fold = re.compile(r"array_sort\(\s*collect_list\((?!\s*struct)")

    def is_fold(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return bool(sql_fold.search(node.value))
        return (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "F.array_sort"
            and isinstance(node.args[0], ast.Call)
            and ast.unparse(node.args[0].func) == "F.collect_list"
            and "struct" not in ast.unparse(node.args[0])
        )

    pkg = pathlib.Path(ix.__file__).resolve().parents[1]
    for path in sorted(pkg.rglob("*.py")):
        rel, tree = path.relative_to(pkg), ast.parse(path.read_text())
        folds += [f"{rel}:{n.lineno}" for n in ast.walk(tree) if is_fold(n)]
        for top in tree.body:
            aliases = set()
            assigns = sorted(
                (n for n in ast.walk(top) if isinstance(n, ast.Assign)),
                key=lambda n: n.lineno,
            )
            for a in assigns:
                if is_dictionary(a.value, aliases):
                    for t in a.targets:
                        aliases |= names(t)
            name = getattr(top, "name", "")
            broadcasts += [
                f"{rel}:{n.lineno} {name}" for n in ast.walk(top)
                if isinstance(n, ast.Call)
                and ast.unparse(n.func) == "F.broadcast"
                and is_dictionary(n.args[0], aliases)
                and name not in corpus_side
            ]
            if not isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                continue
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    continue
                where = f"{rel}:{node.lineno} {top.name}"
                if (node.func.attr == "orderBy" and is_qid_window(node)
                        and node.args and is_score_desc(node.args[0])
                        and top.name not in ("rank_topk",
                                             "collapse_results")):
                    windows.append(where)
    assert windows == []
    assert len(folds) == 1, folds
    assert broadcasts == [], broadcasts
