"""Block-max WAND == exhaustive scoring (property-style, fixed seeds),
including under salting — the SURVEY §5 unit plan's core invariant."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig
from luc4ir_spark.functions.codec import decode_block_range, encode_posting_list
from luc4ir_spark.functions.hashing import mix_shard_np
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import retrieval as rt
from luc4ir_spark.operators.wand import (
    BLOB_ARROW_SCHEMA,
    BLOB_SCHEMA,
    _TermList,
    blockmax_topk_kernel,
    build_compressed_postings,
    derive_num_salt_shards,
    encode_sorted_postings,
    score_queries_wand,
)

SIMPLE = AnalyzerConfig(mode="simple")
BLK_COLUMNS = (
    "blk_offsets", "blk_ndocs", "blk_last_doc", "blk_max_tf", "blk_min_dl"
)


def synth_docs(n_docs: int, vocab: int, seed: int):
    """Zipf-ish random docs with varying lengths (ties unlikely)."""
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(vocab)]
    probs = 1.0 / np.arange(1, vocab + 1) ** 1.1
    probs /= probs.sum()
    docs = []
    for d in range(n_docs):
        length = int(rng.integers(8, 80))
        toks = rng.choice(words, size=length, p=probs)
        docs.append((d, " ".join(toks)))
    return docs


def _index_for(spark, docs, block_size=16, salt_threshold=10**9, shards=1):
    df = spark.createDataFrame(docs, "doc_id long, content string")
    cfg = ix.IndexConfig(
        analyzer=SIMPLE,
        block_size=block_size,
        salt_df_threshold=salt_threshold,
        num_salt_shards=shards,
    )
    return ix.build_index(df, cfg)


def _compare(spark, idx, queries, k, sim=None):
    qt = rt.queries_to_terms(spark, queries, SIMPLE)
    exhaustive = rt.score_queries(idx, qt, k=k, sim=sim).collect()
    wand = score_queries_wand(idx, qt, k=k, sim=sim).collect()
    ex = {}
    for r in exhaustive:
        ex.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    wd = {}
    for r in wand:
        wd.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    assert set(ex) == set(wd)
    for qid in ex:
        e = sorted(ex[qid])
        w = sorted(wd[qid])
        assert [t[1] for t in e] == [t[1] for t in w], (
            f"{qid}: doc order {[t[1] for t in e]} vs {[t[1] for t in w]}"
        )
        for (_, _, se), (_, _, sw) in zip(e, w):
            assert sw == pytest.approx(se, rel=1e-9, abs=1e-12)
    return wand


QUERIES = [
    ("q1", "w0 w3"),
    ("q2", "w1 w7 w19"),
    ("q3", "w42"),
    ("q4", "w0 w0 w2"),  # duplicate term -> weight 2
]


@pytest.mark.parametrize("seed", [7, 13])
def test_wand_matches_exhaustive(spark, seed):
    docs = synth_docs(120, 60, seed)
    idx = _index_for(spark, docs)
    _compare(spark, idx, QUERIES, k=15)


@pytest.mark.parametrize(
    "docs,queries",
    [
        ([], QUERIES),
        (synth_docs(60, 30, 3), [("o1", "zzznotaterm"), ("o2", "qqqq xyzzy")]),
        ([(0, ""), (1, "   "), (2, "?! -- ...")], QUERIES),
    ],
    ids=["empty_corpus", "oov_topics", "tokenless_docs"],
)
def test_wand_no_matches(spark, docs, queries):
    assert _compare(spark, _index_for(spark, docs), queries, k=10) == []


@pytest.mark.parametrize("shards", [1, 4])
def test_wand_all_identical_docs(spark, shards):
    """50 identical docs: every score ties, so the top-k is the k
    smallest doc ids, in doc_id order, on every shard layout."""
    ids = np.random.default_rng(5).permutation(np.arange(100, 150))
    docs = [(int(d), "w0 w1 w2 w1") for d in ids]
    idx = _index_for(spark, docs, salt_threshold=5, shards=shards)
    got = _compare(spark, idx, [("t1", "w0 w1")], k=10)
    assert [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])] == (
        list(range(100, 110))
    )


def test_wand_full_depth(spark):
    """k >= n_docs: every matched doc returned, identical ordering."""
    docs = synth_docs(60, 30, 3)
    idx = _index_for(spark, docs)
    _compare(spark, idx, QUERIES, k=100)


def test_wand_salted_matches_unsalted(spark):
    docs = synth_docs(150, 40, 11)
    idx_plain = _index_for(spark, docs)
    idx_salted = _index_for(spark, docs, salt_threshold=5, shards=4)
    qt = rt.queries_to_terms(spark, QUERIES, SIMPLE)
    a = score_queries_wand(idx_plain, qt, k=20).collect()
    b = score_queries_wand(idx_salted, qt, k=20).collect()
    ka = sorted((r["qid"], r["rank"], r["doc_id"]) for r in a)
    kb = sorted((r["qid"], r["rank"], r["doc_id"]) for r in b)
    assert ka == kb
    # salting actually happened: some term has >1 shard
    n_shards = (
        idx_salted.blobs.groupBy("term")
        .agg(F.countDistinct("salt").alias("s"))
        .agg(F.max("s"))
        .collect()[0][0]
    )
    assert n_shards > 1


def test_wand_mixed_salted_unsalted_terms(spark):
    """Regression: a query mixing a salted (df > threshold) term with an
    unsalted (df <= threshold) one must not split a doc's score across
    shard groups. Before the consistent-sharding fix, the unsalted term's
    contributions all lived in shard 0 while the salted term's lived in
    pmod(doc_id, shards), producing duplicate (qid, doc_id) rows with
    partial scores."""
    docs = synth_docs(150, 40, 17)
    # plant a df=2 term in two docs that also contain common terms
    docs = [
        (d, text + " rareterm") if d in (0, 97) else (d, text)
        for d, text in docs
    ]
    idx = _index_for(spark, docs, salt_threshold=2, shards=4)
    mixed = [
        ("m1", "w0 rareterm"),
        ("m2", "rareterm"),          # all-unsalted query still works
        ("m3", "w0 w1 rareterm"),
    ]
    _compare(spark, idx, mixed, k=25)
    # and at full depth there is exactly one row per (qid, doc_id)
    qt = rt.queries_to_terms(spark, mixed, SIMPLE)
    full = score_queries_wand(idx, qt, k=1000)
    dups = (
        full.groupBy("qid", "doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_salted_sharding_structured_ids(spark):
    """Structured doc-id spaces (all ids multiples of the shard count)
    must still spread across shards: the shard key is pmod(mix(doc_id),
    shards), not pmod(doc_id, shards) — a bare modulus would put every
    doc in shard 0, silently losing the reducer bound and all
    intra-query parallelism."""
    docs = [(d * 4, text) for d, text in synth_docs(150, 40, 23)]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    cfg = ix.IndexConfig(
        analyzer=SIMPLE, block_size=16, salt_df_threshold=5,
        num_salt_shards=4,
    )
    idx = ix.build_index(df, cfg)
    idx.blobs = build_compressed_postings(idx)
    per_term = (
        idx.blobs.groupBy("term")
        .agg(F.countDistinct("salt").alias("s"), F.sum("n_docs").alias("n"))
        .collect()
    )
    high_df = [r for r in per_term if r["n"] > 40]
    assert high_df and all(r["s"] >= 3 for r in high_df)
    # and scoring stays exact under the mixed sharding
    _compare(spark, idx, QUERIES[:2], k=20)


def test_derive_num_salt_shards(spark):
    ts = spark.createDataFrame(
        [("the", 10_000_000, 20_000_000), ("rare", 3, 3)],
        "term string, df long, cf long",
    )

    def idx_with(cfg):
        return ix.InvertedIndex(
            doc_stats=ts, postings=ts, term_stats=ts,
            stats=ix.CollectionStats(1, 1, 1), config=cfg,
        )

    # a synthetic ultra-high-df term drives the count well past the old
    # fixed sandbox constant of 16
    derived = derive_num_salt_shards(
        idx_with(ix.IndexConfig(analyzer=SIMPLE))
    )
    assert derived == 40  # ceil(1e7 / 250k)
    # explicit config wins; tiny corpora derive a single shard
    assert derive_num_salt_shards(
        idx_with(ix.IndexConfig(analyzer=SIMPLE, num_salt_shards=7))
    ) == 7
    assert derive_num_salt_shards(
        idx_with(
            ix.IndexConfig(analyzer=SIMPLE, target_postings_per_shard=10**9)
        )
    ) == 1


def test_wand_lm_similarities(spark):
    docs = synth_docs(80, 30, 5)
    idx = _index_for(spark, docs)
    for kind in ("lmdir", "lmjm"):
        _compare(spark, idx, QUERIES[:2], k=10, sim=rt.Similarity(kind=kind))


def _exhaustive_topk(terms, k):
    """Plain numpy scorer: decode every block of every term, sum
    per-doc scores, order by (score desc, doc_id asc)."""
    ids_parts, sc_parts = [], []
    for t in terms:
        for ids, tfs, dls in decode_block_range(
            t.buf, t.dirs, 0, t.dirs.offsets.size
        ):
            ids_parts.append(ids)
            sc_parts.append(
                t.score_fn(tfs.astype(np.float64), dls.astype(np.float64))
            )
    u, inv = np.unique(np.concatenate(ids_parts), return_inverse=True)
    scores = np.zeros(u.size)
    np.add.at(scores, inv, np.concatenate(sc_parts))
    order = np.lexsort((u, -scores))[:k]
    return [(int(u[i]), float(scores[i])) for i in order]


def _assert_same_topk(got, want, msg=""):
    assert [d for d, _ in got] == [d for d, _ in want], msg
    for (_, sg), (_, sw) in zip(got, want):
        assert sg == pytest.approx(sw, rel=1e-12), msg


def test_blockmax_kernel_equals_exhaustive():
    """The block-max kernel returns the exhaustive top-k on random
    lists."""
    rng = np.random.default_rng(21)
    for trial in range(5):
        terms = []
        for t in range(3):
            n = int(rng.integers(20, 300))
            ids = np.sort(
                rng.choice(np.arange(2000, dtype=np.int64), n, replace=False)
            )
            tfs = rng.integers(1, 30, n)
            dls = rng.integers(10, 200, n)
            blob, d = encode_posting_list(ids, tfs, dls, block_size=16)
            w = float(rng.uniform(0.5, 2.0))

            def fn(tf, dl, w=w):
                return w * tf / (tf + 0.7 * (0.7 + 0.3 * dl / 50.0))

            terms.append(_TermList(blob, d, fn))
        for k in (5, 50):
            _assert_same_topk(
                blockmax_topk_kernel(terms, k),
                _exhaustive_topk(terms, k),
                f"trial {trial} k={k}",
            )


def test_blockmax_kernel_skips_blocks():
    """Block-max pruning fires: short docs (ids < 1000) fill the top-10
    early, after which every long-doc window's upper bound is below the
    heap floor and its blocks are never decoded."""
    rng = np.random.default_rng(3)
    n = 20_000
    dl_all = np.where(np.arange(n) < 1000, 10, 1000)
    avgdl = float(dl_all.mean())
    terms = []
    for p in (0.5, 0.3):
        ids = np.flatnonzero(rng.random(n) < p).astype(np.int64)
        tfs = rng.integers(1, 5, ids.size)
        blob, d = encode_posting_list(ids, tfs, dl_all[ids], block_size=128)
        idf = float(np.log(1 + (n - ids.size + 0.5) / (ids.size + 0.5)))

        def fn(tf, dl, idf=idf):
            return idf * tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

        terms.append(_TermList(blob, d, fn))
    top = blockmax_topk_kernel(terms, 10)
    for t in terms:
        assert len(t.cache) < t.dirs.offsets.size // 2, (
            f"decoded {len(t.cache)} of {t.dirs.offsets.size} blocks"
        )
    _assert_same_topk(top, _exhaustive_topk(terms, 10))


def test_compressed_postings_consistent_with_flat(spark):
    docs = synth_docs(100, 30, 9)
    idx = _index_for(spark, docs, block_size=8)
    blobs = build_compressed_postings(idx)
    tot = blobs.agg(F.sum("n_docs")).collect()[0][0]
    assert tot == idx.postings.count()
    # per-term df preserved
    by_term = {
        r["term"]: r["n"]
        for r in blobs.groupBy("term").agg(F.sum("n_docs").alias("n")).collect()
    }
    for r in idx.term_stats.collect():
        assert by_term[r["term"]] == r["df"]


def _blob_rows(records):
    """Blob-table rows (Spark Rows or Arrow dicts) as comparable tuples."""
    return [
        (r["term"], r["salt"], r["n_docs"], bytes(r["blob"]))
        + tuple(tuple(r[c]) for c in BLK_COLUMNS)
        for r in records
    ]


def _reference_blobs(postings, shards, block_size):
    """Plain-Python blob table: per term, sort by doc_id, split by
    shard(doc_id), encode each shard's list; rows sorted by
    (term, salt)."""
    by_term = {}
    for term, doc_id, tf, dl in postings:
        by_term.setdefault(term, []).append((doc_id, tf, dl))
    rows = []
    for term, posts in by_term.items():
        ids, tfs, dls = (np.array(c, dtype=np.int64) for c in zip(*sorted(posts)))
        shard_of = mix_shard_np(ids, shards)
        for s in np.unique(shard_of):
            m = shard_of == s
            blob, d = encode_posting_list(ids[m], tfs[m], dls[m], block_size)
            rows.append((term, int(s), int(m.sum()), blob) + tuple(
                tuple(a.tolist()) for a in (
                    d.offsets, d.n_docs, d.last_doc, d.max_tf, d.min_dl
                )
            ))
    return sorted(rows, key=lambda r: r[:2])


def _sorted_postings_batch(seed, shards, threshold):
    """(term, _key, doc_id, tf, doc_len) rows sorted like the encode
    plan's partitions: _key = shard(doc_id) for df > threshold, else
    0. One term has 150 postings, so a batch can lie inside it."""
    rng = np.random.default_rng(seed)
    cols = {c: [] for c in ("term", "_key", "doc_id", "tf", "doc_len")}
    for t, df in enumerate([150, 1, 2, 7, 30, 64, 1, 3, 12, 40]):
        ids = rng.choice(2000, size=df, replace=False)
        keys = mix_shard_np(ids, shards) if df > threshold else 0 * ids
        for key, doc_id in sorted(zip(keys.tolist(), ids.tolist())):
            cols["term"].append(f"t{t}")
            cols["_key"].append(key)
            cols["doc_id"].append(doc_id)
            cols["tf"].append(int(rng.integers(1, 9)))
            cols["doc_len"].append(int(rng.integers(1, 300)))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols["term"]),
            pa.array(cols["_key"], pa.int32()),
            pa.array(cols["doc_id"], pa.int64()),
            pa.array(cols["tf"], pa.int32()),
            pa.array(cols["doc_len"], pa.int64()),
        ],
        names=list(cols),
    )


@pytest.mark.parametrize("shards", [1, 4])
@pytest.mark.parametrize("seed", range(6))
def test_encode_kernel_batch_splits(seed, shards):
    """The streaming encode kernel gives the same rows however its
    sorted input is cut into batches — a cut inside a group, a batch
    wholly inside one group, one-row batches, empty batches — and each
    row equals encode_posting_list on that (term, shard)'s postings."""
    batch = _sorted_postings_batch(seed, shards, threshold=10)
    n = batch.num_rows
    rng = np.random.default_rng(100 + seed)
    cut_sets = [
        list(range(n + 1)),  # one-row batches
        [0, 0, 3, 3, 3, n, n],  # empty batches at the ends and inside
        [0, 5, 40, 41, 149, n],  # [5, 40) lies inside the 150-row term
        sorted({0, n, *rng.integers(0, n + 1, size=12).tolist()}),
        sorted([0, n, *rng.integers(0, n + 1, size=30).tolist()]),
    ]

    def run(batches):
        out = list(encode_sorted_postings(iter(batches), shards, 16))
        assert all(b.schema == BLOB_ARROW_SCHEMA for b in out)
        assert len(out) == len(batches) + any(b.num_rows for b in batches)
        return _blob_rows(pa.Table.from_batches(out).to_pylist())

    whole = run([batch])
    for cuts in cut_sets:
        parts = [batch.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
        assert run(parts) == whole, cuts
    postings = zip(*(batch.column(c).to_pylist()
                     for c in ("term", "doc_id", "tf", "doc_len")))
    assert sorted(whole, key=lambda r: r[:2]) == _reference_blobs(
        postings, shards, 16
    )
    assert run([batch.slice(0, 0)]) == []


@pytest.mark.parametrize(
    "case", ["default", "salted", "salted_batch7", "empty_corpus"]
)
def test_compressed_postings_equal_reference(spark, case):
    """build_compressed_postings == the plain-Python reference built
    from the collected postings, row for row, with BLOB_SCHEMA; the
    7-row Arrow batches make groups span batches."""
    docs = [] if case == "empty_corpus" else synth_docs(150, 40, 23)
    cfg = ix.IndexConfig(analyzer=SIMPLE)
    if case.startswith("salted"):
        cfg = ix.IndexConfig(
            analyzer=SIMPLE, salt_df_threshold=5, num_salt_shards=4,
            block_size=16,
        )
    idx = ix.build_index(
        spark.createDataFrame(docs, "doc_id long, content string"), cfg
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        if case == "salted_batch7":
            spark.conf.set(key, "7")
        blobs = build_compressed_postings(idx)
        got = sorted(_blob_rows(blobs.collect()), key=lambda r: r[:2])
    finally:
        spark.conf.set(key, old)
    assert blobs.schema == spark.createDataFrame([], BLOB_SCHEMA).schema
    postings = [
        (r["term"], r["doc_id"], r["tf"], r["doc_len"])
        for r in idx.postings.collect()
    ]
    want = _reference_blobs(
        postings, derive_num_salt_shards(idx), cfg.block_size
    )
    assert got == want
    assert (len(got) == 0) == (case == "empty_corpus")


def test_shard_skew_report_uniformity(spark):
    """Per-shard totals tie out against the blob spine exactly, and
    the mix(doc_id) sharding keeps posting counts within a reasonable
    band on a uniform corpus."""
    from pyspark.sql import functions as F

    from luc4ir_spark.functions.analysis import AnalyzerConfig
    from luc4ir_spark.operators import indexer as ix
    from luc4ir_spark.operators import wand as wd

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * 3) for i in range(120)],
        "doc_id long, content string",
    )
    idx = ix.build_index(
        docs,
        ix.IndexConfig(
            analyzer=AnalyzerConfig(mode="simple"), num_salt_shards=4
        ),
        cache=False,
    )
    blobs = wd.build_compressed_postings(idx)
    rep = {r["salt"]: r for r in wd.shard_skew_report(blobs).collect()}
    assert set(rep) == {0, 1, 2, 3}
    assert sum(r["n_postings"] for r in rep.values()) == 3 * 120
    exact = {
        r["salt"]: (r["n"], r["b"])
        for r in blobs.groupBy("salt")
        .agg(
            F.sum("n_docs").alias("n"),
            F.sum(F.octet_length("blob")).alias("b"),
        )
        .collect()
    }
    for s, r in rep.items():
        assert (r["n_postings"], r["total_bytes"]) == exact[s]
    counts = [r["n_postings"] for r in rep.values()]
    assert max(counts) <= 2 * min(counts)  # uniform hash, mild band


def test_impact_quantized_topk(spark):
    from luc4ir_spark.operators.wand import impact_quantized_topk

    docs = synth_docs(120, 60, seed=21)
    idx = _index_for(spark, docs)
    # impact ranking deduplicates query terms (weights don't exist in
    # an impact-ordered store), so compare against exact BM25 over the
    # SAME deduplicated term set
    qt = rt.queries_to_terms(spark, QUERIES, SIMPLE).select(
        "qid", "term"
    ).distinct()
    # generous budget + 16-bit quantization: ranking matches exact
    # BM25 (quantization error << score gaps on this corpus)
    exact = {}
    for r in rt.score_queries(idx, qt, k=10).collect():
        exact.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    approx = {}
    out = impact_quantized_topk(
        idx, qt, k=10, bits=16, rho=10**9
    ).collect()
    for r in out:
        approx.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    for qid in exact:
        assert [d for _, d in sorted(exact[qid])] == [
            d for _, d in sorted(approx[qid])
        ], qid
    # the rho budget actually bites: a tiny budget returns fewer /
    # different docs but never more than k, and scores stay positive
    small = impact_quantized_topk(idx, qt, k=10, bits=8, rho=5).collect()
    per_q = {}
    for r in small:
        per_q.setdefault(r["qid"], []).append(r)
        assert r["score"] > 0
    assert all(len(v) <= 10 for v in per_q.values())
    # rho=5 can score at most 5 postings -> at most 5 docs per query
    assert all(len(v) <= 5 for v in per_q.values())
