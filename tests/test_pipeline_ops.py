"""Training-data pipeline operators: dedup, ANN search, text stats,
multimodal plumbing — each vs a pure-Python brute-force oracle."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import simple_tokens
from luc4ir_spark.operators import annsearch, dedup, multimodal, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (2, "quick brown fox jumps over a lazy dog today"),   # near dup
    (3, "completely different content about spark sql engines"),
    (4, "spark sql engines about completely different content"),  # same bag as 3
    (5, "unrelated short text"),
]


def tok(t):
    return t.lower().split()


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, content string")


@pytest.fixture(scope="module")
def tokens_df(spark, docs_df):
    return docs_df.select(
        "doc_id", simple_tokens("content").alias("tokens")
    )


def test_exact_duplicates(spark, docs_df):
    out = dedup.exact_duplicates(docs_df).collect()
    assert len(out) == 1
    g = out[0]
    assert g["doc_ids"] == [0, 1]
    assert g["keep_doc_id"] == 0 and g["n_docs"] == 2


def test_exact_duplicates_bounded_ids(spark):
    """max_ids_per_group caps the per-digest id sample while n_docs and
    keep_doc_id stay exact (degenerate mega-groups must not blow the
    aggregation buffer)."""
    docs = spark.createDataFrame(
        [(i, "same text") for i in range(50)] + [(99, "unique")],
        "doc_id long, content string",
    )
    g = dedup.exact_duplicates(docs, max_ids_per_group=5).collect()
    assert len(g) == 1
    assert g[0]["n_docs"] == 50
    assert g[0]["keep_doc_id"] == 0
    assert g[0]["doc_ids"] == [0, 1, 2, 3, 4]


def brute_jaccard(a, b):
    sa, sb = set(tok(a)), set(tok(b))
    return len(sa & sb) / len(sa | sb)


def test_jaccard_pairs(spark, tokens_df):
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(tokens_df, threshold=0.5).collect()
    }
    exp = {}
    for (i, ta), (j, tb) in itertools.combinations(DOCS, 2):
        jc = brute_jaccard(ta, tb)
        if jc >= 0.5:
            exp[(i, j)] = jc
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v)


def test_containment_pairs_subset_detection(spark):
    """Overlap coefficient flags the near-subset pair Jaccard misses:
    [a,b] inside [a,b,c,d] has ov = 1.0 but jaccard only 0.5."""
    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b"]),
            (3, ["a", "x"]),
        ],
        "doc_id long, tokens array<string>",
    )
    strict = {
        (r["a"], r["b"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.99).collect()
    }
    assert set(strict) == {(1, 2)}
    assert strict[(1, 2)] == pytest.approx(1.0)
    loose = {
        (r["a"], r["b"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.5).collect()
    }
    assert loose == {
        (1, 2): pytest.approx(1.0),
        (1, 3): pytest.approx(0.5),
        (2, 3): pytest.approx(0.5),
    }
    # jaccard at the same 0.99 threshold finds nothing
    assert not dedup.jaccard_pairs(docs, threshold=0.99).collect()


def test_minhash_lsh_finds_near_dups(spark, tokens_df):
    pairs = dedup.minhash_lsh_pairs(
        tokens_df, num_hashes=8, band_size=2, threshold=0.5
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (0, 1) in found  # exact dups always collide
    # verified jaccard values are exact
    for r in pairs:
        assert r["jaccard"] == pytest.approx(
            brute_jaccard(DOCS[r["a"]][1], DOCS[r["b"]][1])
        )
    # no false positives below threshold survive verification
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_minhash_lsh_bucket_cap(spark):
    """A dominant exact-duplicate class (the crawl-corpus degenerate
    case) collapses into ONE band bucket; the cap drops it from
    candidate generation — and reports it — instead of letting that
    bucket's self-join go quadratic. Composition contract: those classes
    are exactly what exact_duplicates reports."""
    big = [(i, ["common", "boilerplate", "page", "text"]) for i in range(40)]
    near = [
        (100, ["alpha", "beta", "gamma", "delta"]),
        (101, ["alpha", "beta", "gamma", "epsilon"]),
    ]
    docs = spark.createDataFrame(
        big + near, "doc_id long, tokens array<string>"
    )
    msgs = []
    capped = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket_size=10, log=msgs.append
    ).collect()
    got = {(r["a"], r["b"]) for r in capped}
    # the duplicate class is suppressed; the small near-dup pair survives
    assert got == {(100, 101)}
    assert any("dropped" in m and "band buckets" in m for m in msgs)
    # candidate work is bounded: no pair involves the degenerate class
    assert all(a >= 100 for a, _ in got)
    # uncapped still finds the class (small-corpus exactness unchanged)
    uncapped = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=40 * 40
        ).collect()
    }
    assert (0, 1) in uncapped and (100, 101) in uncapped


def test_derive_n_planes():
    """Plane count tracks corpus size toward a target bucket occupancy
    (the fixed 8-plane/256-bucket default was sandbox-sized)."""
    assert annsearch.derive_n_planes(0) == annsearch.MIN_PLANES
    assert annsearch.derive_n_planes(5_000) == annsearch.MIN_PLANES
    assert annsearch.derive_n_planes(10**6) == 10  # > the old 8
    assert annsearch.derive_n_planes(10**9) == 20
    assert annsearch.derive_n_planes(10**12) <= annsearch.MAX_PLANES
    # occupancy contract: corpus / 2^n <= target (when not clamped)
    for n in (10**6, 10**8, 10**9):
        p = annsearch.derive_n_planes(n)
        assert n / 2**p <= annsearch.DEFAULT_TARGET_BUCKET_SIZE


def test_lsh_near_dup_bucket_cap(spark, embeddings):
    """A dominant duplicate-vector class lands in one hyperplane bucket
    per table; the cap bounds candidate generation and reports drops."""
    base = embeddings.filter(F.col("vec_id") < 8).select(
        "vec_id", "embedding"
    )
    clones = base.filter(F.col("vec_id") == 0)
    for j in range(1, 30):
        clones = clones.unionByName(
            base.filter(F.col("vec_id") == 0).select(
                (F.col("vec_id") + 1000 * j).alias("vec_id"), "embedding"
            )
        )
    corpus = base.unionByName(clones.filter(F.col("vec_id") >= 1000))
    msgs = []
    capped = annsearch.lsh_near_dup_pairs(
        corpus, threshold=0.98, n_planes=8, max_bucket_size=10,
        log=msgs.append,
    ).collect()
    # the 30-clone class exceeded the cap in every table -> no pairs
    # from it; drop count reported
    assert not any(r["a"] == 0 or r["a"] >= 1000 for r in capped)
    assert any("dropped" in m and "buckets" in m for m in msgs)
    # candidate count (logged) stays bounded by cap^2 per bucket
    cand_msg = [m for m in msgs if "candidate pairs" in m]
    assert cand_msg
    # diagnostics mode must agree with the pure-lazy production plan
    plain = annsearch.lsh_near_dup_pairs(
        corpus, threshold=0.98, n_planes=8, max_bucket_size=10
    ).collect()
    assert sorted((r["a"], r["b"]) for r in capped) == sorted(
        (r["a"], r["b"]) for r in plain
    )


def test_shingles_short_docs(spark):
    """Docs shorter than the shingle size yield zero shingles instead of
    crashing (unguarded F.sequence(0, size-n) infers step -1 and
    F.slice throws on the descending index)."""
    docs = spark.createDataFrame(
        [
            (0, ["a", "b", "c"]),
            (1, ["only"]),          # 1 token < bigram size
            (2, []),                # empty doc
            (3, ["a", "b"]),
        ],
        "doc_id long, tokens array<string>",
    )
    rows = dedup.tokens_or_shingles(docs, shingle_size=2).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert got == {0: {"a b", "b c"}, 3: {"a b"}}
    # and the production consumer path survives a short doc too
    pairs = dedup.jaccard_pairs(docs, shingle_size=2, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(0, 3)}


def test_exact_duplicates_salted_two_stage(spark):
    """The id sample of a degenerate digest is taken per-salt first, so
    no single reducer sorts the whole group; the final sample is still
    exactly the smallest max_ids_per_group ids."""
    docs = spark.createDataFrame(
        [(i, "boilerplate") for i in range(500)] + [(999, "unique")],
        "doc_id long, content string",
    )
    out = dedup.exact_duplicates(
        docs, max_ids_per_group=50, num_salt_shards=8
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # stage-1 window partitions by (digest, _salt); stage-2 by digest
    assert "_salt" in plan and plan.count("Window [") >= 2
    g = out.collect()
    assert len(g) == 1
    assert g[0]["n_docs"] == 500
    assert g[0]["keep_doc_id"] == 0
    assert g[0]["doc_ids"] == list(range(50))


def test_mix_hash_spark_numpy_parity(spark):
    from luc4ir_spark.functions import hashing as hx

    ids = np.concatenate(
        [
            np.arange(0, 400, 4),
            -np.arange(1, 100) * 7,
            np.array([2**62 - 5, -(2**62) + 3]),
        ]
    ).astype(np.int64)
    df = spark.createDataFrame([(int(x),) for x in ids], "x long")
    got = [
        r["m"]
        for r in df.select(hx.mix_id_expr("x").alias("m"))
        .orderBy(F.monotonically_increasing_id())
        .collect()
    ]
    want = hx.mix_id_np(ids).tolist()
    assert sorted(got) == sorted(want)
    # shard distribution on structured (stride-4) ids is uniform
    shards = hx.mix_shard_np(np.arange(0, 4000, 4, dtype=np.int64), 4)
    counts = np.bincount(shards, minlength=4)
    assert counts.min() > 200  # ~250 each; bare pmod would give [1000,0,0,0]


def test_minhash_signature_shape(spark, tokens_df):
    sig = dedup.minhash_signatures(tokens_df, num_hashes=8).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], set()).add(r["hash_id"])
    assert all(v == set(range(8)) for v in by_doc.values())
    # identical docs -> identical signatures
    s0 = sorted((r["hash_id"], r["min_hash"]) for r in sig if r["doc_id"] == 0)
    s1 = sorted((r["hash_id"], r["min_hash"]) for r in sig if r["doc_id"] == 1)
    assert s0 == s1


def test_simhash(spark, tokens_df):
    sims = {r["doc_id"]: r["simhash"] for r in dedup.simhash(tokens_df).collect()}
    assert sims[0] == sims[1]  # identical token sets
    assert sims[3] == sims[4]  # same bag of words
    # the 64-bit default actually populates the high 32 bits (the legacy
    # 31-bit permutation hash left them permanently unset)
    assert any(v < 0 or v >= 2**32 for v in sims.values())
    pairs = dedup.simhash_pairs(
        dedup.simhash(tokens_df), max_hamming=3
    ).collect()
    found = {(r["a"], r["b"]): r["hamming"] for r in pairs}
    assert found[(0, 1)] == 0
    assert found[(3, 4)] == 0


def test_simhash_legacy_32bit(spark, tokens_df):
    sims = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(tokens_df, num_bits=31).collect()
    }
    assert sims[0] == sims[1]
    assert all(0 <= v < 2**31 for v in sims.values())


def test_simhash_pairs_bucket_cap(spark):
    """A pathological pigeonhole bucket (one chunk value shared by the
    whole corpus) is dropped from candidate generation — and reported —
    instead of driving a near-quadratic self-join."""
    # chunk 0 (bits 0-15), 2, 3 are 0 for every doc; chunk 1 is distinct
    sim = spark.createDataFrame(
        [(i, i << 16) for i in range(40)], "doc_id long, simhash long"
    )
    msgs = []
    capped = dedup.simhash_pairs(
        sim, max_hamming=3, num_bits=64, max_bucket_size=10,
        log=msgs.append,
    ).collect()
    assert capped == []  # every shared bucket was degenerate -> dropped
    assert msgs and "dropped 3 pigeonhole buckets" in msgs[0]
    uncapped = dedup.simhash_pairs(
        sim, max_hamming=3, num_bits=64, max_bucket_size=None
    ).collect()
    # e.g. 1<<16 vs 3<<16 differ in one bit of chunk 1 -> hamming 1
    assert {(r["a"], r["b"]) for r in uncapped} >= {(1, 3), (2, 3)}
    for r in uncapped:
        assert r["hamming"] <= 3
        assert r["hamming"] == bin((r["a"] << 16) ^ (r["b"] << 16)).count("1")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_kmeans_step_quantized_hand_computed(spark):
    """Two obvious 2-D clusters, K=2, seeds = lowest two ids (one per
    cluster): assignments split exactly, means are the integer-exact
    cluster averages; a tie distance goes to the lower cid."""
    q = spark.createDataFrame(
        [(1, [0, 0]), (2, [10, 10]), (3, [1, 0]), (4, [9, 10]),
         (5, [5, 5])],  # equidistant: d2=50 to both seeds -> cid 0
        "vec_id long, qvec array<long>",
    )
    got = {
        (r["cid"], r["dim"]): (r["n_assigned"], r["mean_code"])
        for r in annsearch.kmeans_step_quantized(
            q, n_centroids=2, dim=2
        ).collect()
    }
    # cluster 0: vecs 1,3,5 -> dim1 mean (0+1+5)/3, dim2 (0+0+5)/3
    assert got[(0, 1)] == (3, round(6 / 3, 4))
    assert got[(0, 2)] == (3, round(5 / 3, 4))
    # cluster 1: vecs 2,4
    assert got[(1, 1)] == (2, 9.5)
    assert got[(1, 2)] == (2, 10.0)


def test_cluster_quality_quantized_hand_computed(spark):
    """Own/other d2 averages over two clean clusters; every member
    strictly separated; exact integer averages."""
    q = spark.createDataFrame(
        [(1, [0, 0]), (2, [10, 10]), (3, [1, 0]), (4, [9, 10])],
        "vec_id long, qvec array<long>",
    )
    got = {
        r["cid"]: (r["n"], r["avg_own_d2"], r["avg_other_d2"],
                   r["n_separated"])
        for r in annsearch.cluster_quality_quantized(
            q, n_centroids=2, dim=2
        ).collect()
    }
    # cluster 0 (seed [0,0]): vecs 1 (a=0, b=200) and 3 (a=1, b=181)
    assert got[0] == (2, 0.5, 190.5, 2)
    # cluster 1 (seed [10,10]): vecs 2 (a=0, b=200) and 4 (a=1, b=181)
    assert got[1] == (2, 0.5, 190.5, 2)


def test_kmeans_step_quantized_validation(spark):
    q = spark.createDataFrame(
        [(1, [0, 0])], "vec_id long, qvec array<long>"
    )
    with pytest.raises(ValueError):
        annsearch.kmeans_step_quantized(q, n_centroids=2, dim=2)


def test_jl_project_matches_numpy_and_preserves_distance(spark, embeddings):
    """Projection vs a numpy replay with the same mix-parity signs;
    JL sanity: mean squared pairwise-distance ratio near 1 on a
    sample (the Achlioptas guarantee, loose at dim_out=8)."""
    import numpy as np
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    df = embeddings
    rows = sorted(
        (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        for r in df.limit(2000).collect()
    )
    d_in, d_out = 64, 8
    signs = np.empty((d_in, d_out))
    for i in range(d_in):
        for j in range(d_out):
            signs[i, j] = (
                1.0
                if (MIX_A * ((i * d_out + j) % MIX_P) + MIX_B) % MIX_P % 2
                else -1.0
            )
    got = {
        r["vec_id"]: np.array([r[f"y{j}"] for j in range(d_out)])
        for r in annsearch.jl_project(df, dim_in=64, dim_out=8).collect()
    }
    proj = {}
    for vid, x in rows:
        want = (x @ signs) / np.sqrt(d_out)
        assert np.allclose(got[vid], want, atol=1e-9), vid
        proj[vid] = want
    # distance preservation in expectation (coarse: ratio in [0.4, 2.5])
    ids = [vid for vid, _ in rows[:30]]
    orig = {vid: x for vid, x in rows}
    ratios = []
    for a in range(0, 29, 2):
        x, y = ids[a], ids[a + 1]
        d0 = np.sum((orig[x] - orig[y]) ** 2)
        d1 = np.sum((proj[x] - proj[y]) ** 2)
        if d0 > 0:
            ratios.append(d1 / d0)
    m = float(np.mean(ratios))
    assert 0.4 < m < 2.5, m


def test_mutual_nn_pairs_hand_computed(spark):
    """NN(1)=2 / NN(2)=1 and NN(3)=4 / NN(4)=3 are mutual; no other
    pair is. Cosines: (1,2) = 2/sqrt(5), (3,4) = 4/sqrt(17)."""
    import math as m

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 1.0]), (3, [0.0, 1.0]),
         (4, [-1.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in annsearch.mutual_nn_pairs(emb).collect()
    }
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)] == pytest.approx(2 / m.sqrt(5), abs=1e-12)
    assert got[(3, 4)] == pytest.approx(4 / m.sqrt(17), abs=1e-12)


def test_mutual_nn_matches_numpy(spark, embeddings):
    """Mutual filter vs a numpy argmax replay on the shared fixture."""
    import numpy as np

    df = embeddings
    collected = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in df.collect())
    )
    ids = [i for i, _ in collected]
    mat = np.array([v for _, v in collected], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)
    nn = {}
    for i, vid in enumerate(ids):
        j = int(np.argmax(cos[i]))  # ids ascending breaks ties
        nn[vid] = ids[j]
    want = {
        (a, b) for a, b in ((min(x, y), max(x, y))
                            for x, y in nn.items() if nn[y] == x)
        if a < b
    }
    got = {
        (r["a"], r["b"])
        for r in annsearch.mutual_nn_pairs(df).collect()
    }
    assert got == want


def test_cosine_topk_matches_numpy(spark, embeddings):
    pdf = embeddings.orderBy("vec_id").toPandas()
    mat = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = annsearch.cosine_topk(embeddings, queries, k=5).collect()
    norms = np.linalg.norm(mat, axis=1)
    for qi in range(3):
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = np.lexsort((ids, -cos))[:5]
        exp_ids = ids[order].tolist()
        rows = sorted(
            [r for r in got if r["query_id"] == qi], key=lambda r: r["rank"]
        )
        assert [r["vec_id"] for r in rows] == exp_ids
        for r, ei in zip(rows, order):
            assert r["cosine"] == pytest.approx(cos[ei], rel=1e-9)


def test_lsh_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = annsearch.cosine_topk(embeddings, queries, k=5).collect()
    approx = annsearch.lsh_cosine_topk(
        embeddings, queries, k=5, n_planes=6, n_tables=4, dim=64
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    # self-match (cosine 1.0) must always be found; overall recall decent
    hits = total = 0
    for q, es in exact_sets.items():
        assert q in approx_sets[q]
        hits += len(es & approx_sets.get(q, set()))
        total += len(es)
    assert hits / total >= 0.4, f"LSH recall too low: {hits}/{total}"


def test_ivf_topk(spark, embeddings):
    """IVF probe path: cosines are exact for returned candidates (agree
    with brute force), the self-match is always recovered (a query's own
    cluster is its first probe), and full probing degenerates to the
    exact result."""
    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = annsearch.cosine_topk(embeddings, queries, k=5).collect()
    ivf = annsearch.ivf_cosine_topk(
        embeddings, queries, k=5, n_centroids=16, n_probe=4
    ).collect()
    exact_cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    for r in ivf:
        key = (r["query_id"], r["vec_id"])
        if key in exact_cos:
            assert r["cosine"] == pytest.approx(exact_cos[key], rel=1e-9)
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q, found in by_q.items():
        assert q in found  # self-match (cosine 1.0) always recovered
    # probing every centroid == exact search
    full = annsearch.ivf_cosine_topk(
        embeddings, queries, k=5, n_centroids=16, n_probe=16
    ).collect()
    assert sorted((r["query_id"], r["rank"], r["vec_id"]) for r in full) == \
        sorted((r["query_id"], r["rank"], r["vec_id"]) for r in exact)


def test_session8_plan_shapes(spark, embeddings):
    """Plan-regression guards for the heavier new operators: PQ's
    code/table joins must broadcast (never sort-merge or a raw
    cartesian over the corpus), DSIR's top-n must be
    TakeOrderedAndProject (never a global corpus window), and the
    centroid classifier's label matrix must broadcast."""
    queries = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = annsearch.pq_adc_topk(
        embeddings, queries, k=3, m_sub=4, n_codes=8, dim=64
    )
    plan = pq._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i * 3) % 7} common", i % 2 == 0)
         for i in range(40)],
        "doc_id long, content string, is_target boolean",
    )
    ds = textstats.dsir_select(docs, n_buckets=8, alpha=0.5, topn=5)
    plan = ds._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan

    cc = textstats.centroid_classify(
        docs.withColumn("source", (F.col("doc_id") % 3).cast("string"))
    )
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pq_adc_topk_numpy_replay(spark):
    """pq_adc_topk vs a numpy replay of the whole pipeline (lowest-id
    codebook, per-subspace argmin with lower-cid ties, ADC sum,
    4dp-rounded ordering) on a small deterministic corpus."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim, m_sub, n_codes, k = 8, 2, 4, 3
    vecs = rng.randn(12, dim).round(2).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = annsearch.pq_adc_topk(
        df, queries, k=k, m_sub=m_sub, n_codes=n_codes, dim=dim
    ).collect()

    # numpy replay (float32 parquet round-trip does not apply here:
    # createDataFrame stores float32, cast back like the engine does)
    v32 = vecs.astype(np.float32).astype(np.float64)
    dsub = dim // m_sub
    book = v32[:n_codes]
    codes = np.zeros((len(v32), m_sub), dtype=int)
    for m in range(m_sub):
        sl = slice(m * dsub, (m + 1) * dsub)
        d = ((v32[:, None, sl] - book[None, :, sl]) ** 2).sum(axis=2)
        codes[:, m] = d.argmin(axis=1)  # argmin takes first = lowest cid
    exp = {}
    for q in range(3):
        dt = np.zeros((m_sub, n_codes))
        for m in range(m_sub):
            sl = slice(m * dsub, (m + 1) * dsub)
            dt[m] = ((v32[q, sl] - book[:, sl]) ** 2).sum(axis=1)
        ad = np.array(
            [sum(dt[m, codes[i, m]] for m in range(m_sub))
             for i in range(len(v32))]
        ).round(4)
        order = sorted(range(len(v32)), key=lambda i: (ad[i], i))[:k]
        exp[q] = [(i, ad[i]) for i in order]
    got = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["adist"])
        )
    for q in range(3):
        assert [i for i, _ in got[q]] == [i for i, _ in exp[q]]
        for (gi, ga), (_, ea) in zip(got[q], exp[q]):
            assert ga == pytest.approx(ea, abs=2e-4)


def test_ivf_trained_centroids_recall(spark):
    """pyspark.ml KMeans centroids plugged into the IVF plumbing reach
    recall@5 >= 0.9 at n_probe=4 on clustered data (the regime IVF is
    for; the flat-random parquet fixture has no cluster structure, so
    any 4-of-16 Voronoi probe is capped well below that there)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((16, 64)) * 4.0
    rows = []
    for i in range(480):
        c = i % 16
        v = centers[c] + rng.standard_normal(64) * 0.3
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = annsearch.cosine_topk(emb, queries, k=5).collect()
    cent = annsearch.train_ivf_centroids(emb, n_centroids=16, seed=42)
    assert cent.count() == 16
    ivf = annsearch.ivf_cosine_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, centroids=cent
    ).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in ivf:
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(
        len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex
    ) / len(ex)
    assert recall >= 0.9, f"recall@5 {recall}"


def test_lsh_near_dup_pairs(spark, embeddings):
    """The sub-quadratic near-dup path: (1) subset of brute force with
    identical cosines, (2) exact duplicates (cosine 1.0 -> identical
    buckets in every table) are ALWAYS recovered."""
    base = embeddings.filter(F.col("vec_id") < 20).select(
        "vec_id", "embedding"
    )
    dupes = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dupes)
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in annsearch.lsh_near_dup_pairs(
            corpus, threshold=0.98
        ).collect()
    }
    brute = {
        (r["a"], r["b"]): r["cosine"]
        for r in annsearch.cosine_near_dup_pairs(
            corpus, threshold=0.98
        ).collect()
    }
    assert set(got) <= set(brute)
    for pair, cos in got.items():
        assert cos == pytest.approx(brute[pair], rel=1e-9)
    for i in range(20):  # planted exact duplicates always found
        assert (i, i + 1000) in got


def test_token_count(spark, docs_df):
    out = {r["doc_id"]: r for r in textstats.token_count(docs_df).collect()}
    for d, t in DOCS:
        assert out[d]["ws_tokens"] == len(t.split())
        assert out[d]["word_tokens"] == len(tok(t))
        assert out[d]["n_chars"] == len(t)


def test_quality_score_bounds(spark, docs_df):
    for r in textstats.quality_score(docs_df).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is on the mat and it is happy"),
            (1, "el gato y la casa de los vecinos en madrid"),
            (2, "der hund ist nicht mit den kindern"),
            (3, "xyzzy qwerty asdf"),
        ],
        "doc_id long, content string",
    )
    out = {r["doc_id"]: r["lang_guess"] for r in textstats.language_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "de"
    assert out[3] == "und"


def test_doc_fingerprint_order_insensitive(spark, docs_df):
    out = {
        r["doc_id"]: r["fingerprint"]
        for r in textstats.doc_fingerprint(docs_df).collect()
    }
    assert out[3] == out[4]  # same bag of words, different order
    assert out[0] != out[3]


def test_multimodal_features(spark):
    rows = [
        (0, "image", b"\x89PNGfakebytes0", ("image/png", 10, 10, None, None)),
        (1, "image", b"\x89PNGfakebytes1", ("image/png", 20, 20, None, None)),
        (2, "image", b"\x89PNGfakebytes0", ("image/png", 10, 10, None, None)),
        (3, "video", b"RIFFfakevideo", ("video/avi", 64, 48, 3500, None)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, kind="image").collect()
    assert len(feats) == 3
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[0]["feature"] == by_id[2]["feature"]  # deterministic
    assert by_id[0]["feature"] != by_id[1]["feature"]
    assert len(by_id[0]["feature"]) == multimodal.FEATURE_DIM
    assert by_id[0]["n_bytes"] == len(b"\x89PNGfakebytes0")
    # without a codec library the real path is an explicit, honest error
    if not multimodal.has_image_codec():
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"x", fake=False)


def test_real_image_decode_when_codec_present():
    """Real Pillow decode path: runs only where Pillow is importable
    (skipped in codec-less sandboxes — the fake double covers those)."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    buf = io.BytesIO()
    img = Image.new("RGB", (32, 32))
    for x in range(32):
        for y in range(32):
            img.putpixel((x, y), (x * 8, y * 8, 0))
    img.save(buf, format="PNG")
    vec = multimodal.decode_image(buf.getvalue())
    assert len(vec) == multimodal.FEATURE_DIM
    assert abs(float(sum(v * v for v in vec)) - 1.0) < 1e-9  # unit norm
    # deterministic: same bytes -> same vector
    vec2 = multimodal.decode_image(buf.getvalue())
    assert list(vec) == list(vec2)


def test_frame_sampling(spark):
    rows = [(3, "video", b"RIFFfakevideo", ("video/avi", 64, 48, 3500, None))]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    assert sorted(r["frame_ts_ms"] for r in frames) == [0, 1000, 2000, 3000]
    f0 = [r for r in frames if r["frame_ts_ms"] == 0][0]
    f1 = [r for r in frames if r["frame_ts_ms"] == 1000][0]
    assert f0["feature"] != f1["feature"]  # per-frame features differ


def test_decontaminate(spark):
    # hand-computable corpus: doc 1 IS the eval doc (full overlap),
    # doc 2 shares one trigram with it, doc 3 shares none, doc 4 is
    # too short for any trigram (explode_outer must keep its row)
    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"]),        # trigrams: abc, bcd
            (2, ["x", "a", "b", "c", "y"]),   # xab, abc, bcy -> abc hits
            (3, ["p", "q", "r", "s"]),        # pqr, qrs -> no hit
            (4, ["a", "b"]),                  # no trigrams at all
        ],
        "doc_id long, tokens array<string>",
    )
    ev = docs.filter(F.col("doc_id") == 1)
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate(docs, ev, shingle_size=3).collect()
    }
    assert len(out) == 4
    assert (out[1]["total_shingles"], out[1]["matched_shingles"]) == (2, 2)
    assert out[1]["contamination"] == 1.0
    assert (out[2]["total_shingles"], out[2]["matched_shingles"]) == (3, 1)
    assert out[2]["contamination"] == round(1 / 3, 4)
    assert (out[3]["total_shingles"], out[3]["matched_shingles"]) == (2, 0)
    assert (out[4]["total_shingles"], out[4]["matched_shingles"]) == (0, 0)
    assert out[4]["contamination"] == 0.0


def test_decontaminate_plan_broadcasts_eval(spark, tokens_df):
    # the train corpus must never shuffle: eval side broadcast, no
    # sort-merge join anywhere in the plan
    out = dedup.decontaminate(tokens_df, tokens_df.limit(2))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            # 3 lines, one duplicated; "spam" 3 of 6 tokens; bigram
            # "spam spam" occupies 2 of 5 slots (overlapping runs count
            # per-slot, not per-char)
            (1, "spam spam spam x\nfooter\nfooter"),
            (2, "a b"),       # 2 tokens -> 1 bigram slot, all unique
            (3, ""),          # empty: every frac 0, no rows lost
        ],
        "doc_id long, content string",
    )
    out = {
        r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()
    }
    assert len(out) == 3
    r1 = out[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == round(1 / 3, 4)
    # tokens: spam spam spam x footer footer -> top "spam" 3/6
    assert r1["top_unigram_frac"] == 0.5
    # bigrams: (spam spam) x2, (spam x), (x footer), (footer footer)
    assert r1["top_bigram_frac"] == 0.4
    assert out[2]["top_bigram_frac"] == 1.0  # single slot "a b"
    assert out[2]["top_unigram_frac"] == 0.5
    r3 = out[3]
    assert (r3["n_lines"], r3["dup_line_frac"]) == (0, 0.0)
    assert (r3["top_unigram_frac"], r3["top_bigram_frac"]) == (0.0, 0.0)


def test_repetition_stats_zero_shuffle(spark, docs_df):
    plan = (
        textstats.repetition_stats(docs_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_duplicate_clusters(spark):
    # path graph 1-2-3-4 needs multi-round propagation (diameter 3);
    # 7-8 is a second component; 9 never appears -> not emitted
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "a long, b long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_lsh_pair_plans_checkpoint_the_projection(spark, tokens_df):
    # the signature pipeline must sit BEHIND the lazy localCheckpoint
    # boundary, not in the self-join's own plan: if md5/tokenize leaks
    # into the join plan it will be re-evaluated once per join side
    # (HOF lambda exprIds defeat exchange reuse — see minhash_lsh_pairs)
    plan = (
        dedup.minhash_lsh_pairs(tokens_df, num_hashes=8, band_size=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "md5" not in plan and "ExistingRDD" in plan
    plan2 = (
        dedup.simhash_pairs(dedup.simhash(tokens_df))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "md5" not in plan2 and "ExistingRDD" in plan2


def test_dedup_corpus_keep_one_per_cluster(spark):
    # chain 1~2, 2~3 collapses transitively to representative 1 even
    # though (1,3) was never compared; 7~8 keeps 7; 9 (no pairs) kept
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 8, 9)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a long, b long"
    )
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_corpus(docs, pairs).collect()
    )
    assert kept == [1, 7, 9]


def test_revisit_policy_tiers(spark):
    """Integer cross-multiplied tiers: 2/4 changed -> 1 day;
    1/8 -> 4 days; 1/32 -> 16; 0/4 -> 64."""
    rows = []
    hosts = []
    did = 0

    def host_docs(host, n, changed):
        nonlocal did
        for i in range(n):
            rows.append((did, "changed" if i < changed else "unchanged"))
            hosts.append((did, host))
            did += 1

    host_docs("hot", 4, 2)
    host_docs("warm", 8, 1)
    host_docs("cool", 32, 1)
    host_docs("cold", 4, 0)
    diff = spark.createDataFrame(rows, "doc_id long, status string")
    hm = spark.createDataFrame(hosts, "doc_id long, host string")
    got = {
        r["host"]: (r["n_changed"], r["revisit_days"])
        for r in dedup.revisit_policy(diff, hm).collect()
    }
    assert got == {"hot": (2, 1), "warm": (1, 4), "cool": (1, 16),
                   "cold": (0, 64)}


def test_dedup_corpus_survivor_keeps_best_quality(spark):
    # same graph as the min-id test, but with a quality column: the
    # 1~2~3 component keeps 2 (highest q), 7~8 keeps 8 on the q tie to
    # the smaller... no — ties go to the SMALLER doc_id, so (7,8) with
    # equal q keeps 7; 9 (no pairs) passes through
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5), (8, 5), (9, 1)],
        "doc_id long, q long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a long, b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_corpus_survivor(
            docs, pairs, quality_col="q"
        ).collect()
    )
    assert kept == [2, 7, 9]


def test_dedup_corpus_survivor_rows_verbatim(spark):
    # output rows are docs rows untouched (schema + values)
    docs = spark.createDataFrame(
        [(1, 3, "a"), (2, 8, "b")], "doc_id long, q long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    out = dedup.dedup_corpus_survivor(docs, pairs, quality_col="q")
    assert out.columns == docs.columns
    assert [tuple(r) for r in out.collect()] == [(2, 8, "b")]


def test_duplicate_clusters_transitive_via_lsh_pairs(spark, tokens_df):
    # composes with a real pair operator: every pair's endpoints land
    # in the same cluster, and cluster ids are cluster minima
    pairs = dedup.jaccard_pairs(tokens_df, threshold=0.5)
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    for r in pairs.collect():
        assert labels[r["a"]] == labels[r["b"]]
    for doc, cid in labels.items():
        assert cid <= doc
        assert labels[cid] == cid


def test_redact_pii(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a.user+x@sub.example.co.uk then ping 192.168.0.1 "
                "or call +1 (555) 010-2345 now"),
            (2, "no pii here at all"),
            # the dotted quad must be counted as ipv4, never re-counted
            # by the later (greedy) phone pattern
            (3, "ip 10.0.0.7 twice 10.0.0.8"),
        ],
        "doc_id long, content string",
    )
    out = {r["doc_id"]: r for r in textstats.redact_pii(docs).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (1, 1, 1)
    assert r1["clean"] == "mail [PII] then ping [PII] or call [PII] now"
    r2 = out[2]
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"]) == (0, 0, 0)
    assert r2["clean"] == "no pii here at all"
    r3 = out[3]
    assert (r3["n_email"], r3["n_ipv4"], r3["n_phone"]) == (0, 2, 0)
    assert r3["clean"] == "ip [PII] twice [PII]"


def test_redact_pii_zero_shuffle(spark, docs_df):
    plan = (
        textstats.redact_pii(docs_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_quality_filter(spark):
    good = ("the quick brown fox jumps over a lazy dog and it was of "
            "great joy to all present in that big field for sure; birds "
            "sang while children played games near old oak trees")
    docs = spark.createDataFrame(
        [
            (1, good),                  # english, long, varied -> keep
            (2, "x y"),                 # 2 tokens -> short (+ more)
            (3, "spam " * 40),          # repetitive + no markers
        ],
        "doc_id long, content string",
    )
    out = {r["doc_id"]: r for r in textstats.quality_filter(docs).collect()}
    r1 = out[1]
    assert r1["keep"] and r1["reasons"] == ""
    assert r1["lang_guess"] == "en"
    r2 = out[2]
    assert not r2["keep"]
    assert "short" in r2["reasons"].split(",")
    # reasons keep the fixed check order: short before lang
    assert r2["reasons"].index("short") < r2["reasons"].index("lang")
    r3 = out[3]
    assert not r3["keep"]
    assert "repetitive" in r3["reasons"].split(",")
    assert r3["top_unigram_frac"] == 1.0
    # verdicts agree with the standalone signal operators
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    for d, row in out.items():
        assert row["quality"] == q[d]["quality"]
        assert row["n_tokens"] == q[d]["n_tokens"]


def test_quality_filter_zero_shuffle(spark, docs_df):
    plan = (
        textstats.quality_filter(docs_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_chunk_documents(spark):
    words = " ".join(f"w{i}" for i in range(10))  # w0..w9
    docs = spark.createDataFrame(
        [
            (1, words),          # 10 tokens, chunk 4 / overlap 1 -> stride 3
            (2, "only three words"),
            (3, "   "),          # whitespace-only: no rows
        ],
        "doc_id long, content string",
    )
    out = textstats.chunk_documents(
        docs, chunk_tokens=4, overlap=1
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # ceil(max(10-1,1)/3) = 3 chunks; starts 0,3,6; last clamps to 4
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4]
    # adjacent chunks share exactly `overlap` tokens
    assert c1[0]["chunk_text"].split()[-1] == c1[1]["chunk_text"].split()[0]
    (c2,) = by_doc[2]
    assert c2["chunk_text"] == "only three words"
    assert c2["n_chunk_tokens"] == 3
    # every token survives chunking (dedup the overlap)
    seen = set()
    for r in c1:
        seen.update(r["chunk_text"].split())
    assert seen == set(words.split())
    with pytest.raises(ValueError):
        textstats.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_chunk_documents_map_only(spark, docs_df):
    plan = (
        textstats.chunk_documents(docs_df, chunk_tokens=40, overlap=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---- winnowing substring fingerprints ----------------------------------


def _tok_df(spark, rows):
    return spark.createDataFrame(
        [(i, t.split()) for i, t in rows], "doc_id long, tokens array<string>"
    )


def test_winnow_fingerprints_hand_computed(spark):
    import hashlib

    from luc4ir_spark.operators import dedup

    toks = "a b c d e f".split()
    df = _tok_df(spark, [(1, " ".join(toks))])
    k, w = 2, 3
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    want = sorted(
        {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    )
    got = sorted(
        r.fp
        for r in dedup.winnow_fingerprints(df, k=k, window=w).collect()
    )
    assert got == want


def test_winnow_short_docs(spark):
    from luc4ir_spark.operators import dedup

    df = _tok_df(spark, [(1, "a b"), (2, "a"), (3, "")])
    # k=3: doc 1 (2 tokens) and shorter produce no fingerprints
    assert dedup.winnow_fingerprints(df, k=3, window=4).count() == 0
    # k=2, window much larger than the gram count: exactly ONE window
    # (the whole sequence) -> one fingerprint for doc 1
    out = dedup.winnow_fingerprints(df, k=2, window=64).collect()
    assert [(r.doc_id,) for r in out] == [(1,)]


def test_substring_overlap_pairs(spark):
    from luc4ir_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = _tok_df(
        spark,
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "zeta eta " + shared + " theta iota"),
            (3, "completely different words everywhere nothing matches"),
        ],
    )
    out = dedup.substring_overlap_pairs(
        df, k=4, window=4, min_shared=1
    ).collect()
    pairs = {(r.a, r.b): r for r in out}
    # the two docs sharing a 12-token run must share fingerprints
    # (guarantee: any shared run >= k + window - 1 = 7 tokens)
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.shared_fps >= 1 and 0 < r.overlap <= 1.0
    assert all(a != 3 and b != 3 for (a, b) in pairs)


def test_substring_overlap_fp_df_cap(spark):
    from luc4ir_spark.operators import dedup

    # the same boilerplate sentence in EVERY doc: with the cap below the
    # corpus size, its fingerprints are dropped from candidate
    # generation and no pairs survive
    boiler = "this document is provided as is without any warranty"
    df = _tok_df(spark, [(i, boiler) for i in range(1, 7)])
    logs = []
    out = dedup.substring_overlap_pairs(
        df, k=4, window=4, min_shared=1, max_fp_df=3,
        log=logs.append,
    )
    assert out.count() == 0
    assert "dropped" in logs[0] and "0" not in logs[0].split("dropped")[1].split()[0]
    # without the cap the 15 identical pairs all verify at overlap 1.0
    full = dedup.substring_overlap_pairs(
        df, k=4, window=4, min_shared=1, max_fp_df=None
    ).collect()
    assert len(full) == 15 and all(r.overlap == 1.0 for r in full)


def test_top_ngrams(spark):
    from luc4ir_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),
            (2, "a b x"),
            (3, "z"),
        ],
        "doc_id long, text string",
    )
    out = textstats.top_ngrams(
        df, content_col="text", id_col="doc_id", n=2, k=3
    ).collect()
    # positional bigrams: doc 1 = [a b, b a, a b, b a] -> "a b" 2,
    # "b a" 2; doc 2 adds "a b" 1 and "b x" 1; doc 3 has none
    assert [(r.ngram, r.n_docs, r.total_count) for r in out] == [
        ("a b", 2, 3),
        ("b a", 1, 2),
        ("b x", 1, 1),
    ]


def test_minhash_lsh_join_cross_corpus(spark):
    from pyspark.sql import functions as F

    from luc4ir_spark.operators import dedup

    base = "spark catalyst optimizer rewrites the logical plan "
    rows_a = [(2 * i, base + f"variant {i}") for i in range(20)]
    rows_b = [(2 * i + 1, base + f"variant {i}") for i in range(20)]
    rows_b.append((999, "totally unrelated content about nothing"))
    df = spark.createDataFrame(
        rows_a + rows_b, "doc_id long, text string"
    ).select(
        "doc_id",
        F.array_remove(F.split(F.lower("text"), "[^a-z0-9]+"), "").alias(
            "tokens"
        ),
    )
    A = df.filter(F.col("doc_id") % 2 == 0)
    B = df.filter(F.col("doc_id") % 2 == 1)
    out = dedup.minhash_lsh_join(A, B, threshold=0.5).collect()
    assert all(r.a % 2 == 0 and r.b % 2 == 1 for r in out)
    assert all(r.b != 999 for r in out)
    # the twin docs (same variant i) share 8 of 9 distinct tokens
    twins = {(r.a, r.b) for r in out}
    assert all((2 * i, 2 * i + 1) in twins for i in range(20))
    # identity vs the self-join operator: join(A, A) = self matches
    # (jaccard 1.0) + both orientations of every pairs(A) row
    n_pairs = dedup.minhash_lsh_pairs(A, threshold=0.5).count()
    n_join = dedup.minhash_lsh_join(A, A, threshold=0.5).count()
    assert n_join == 2 * n_pairs + A.count()


def test_vocab_coverage(spark):
    from luc4ir_spark.operators import textstats

    # counts: a=5, b=3, c=1, d=1 (total 10)
    df = spark.createDataFrame(
        [(1, "a a a b b"), (2, "a a b c d")], "doc_id long, text string"
    )
    out = textstats.vocab_coverage(
        df, content_col="text", coverage=0.8
    ).collect()
    # prefix masses: a=5 (0.5 < 0.8 -> keep), b=8 (prev 5 < 8 -> keep),
    # c=9 (prev 8 == 0.8*10 -> STOP, prev not < target)
    assert [(r.rank, r.term, r["count"], r.cum_share) for r in out] == [
        (1, "a", 5, 0.5),
        (2, "b", 3, 0.8),
    ]
    # min_count drops the tail BEFORE shares are computed (mass 8)
    out2 = textstats.vocab_coverage(
        df, content_col="text", coverage=1.0, min_count=2
    ).collect()
    assert [(r.term, r["count"], r.cum_share) for r in out2] == [
        ("a", 5, 0.625),
        ("b", 3, 1.0),
    ]


def test_semantic_dedup_small(spark):
    """Hand-built geometry: vectors 0/1 seed two orthogonal clusters;
    2 is a near-clone of 0 (dropped), 3 is a near-clone of 1 (dropped),
    4 is in cluster 0 but far from everything (kept)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # ~cos 1.0 with 0
        (3, [0.01, 0.999, 0.0, 0.0]),   # ~cos 1.0 with 1
        (4, [0.7, 0.0, 0.714, 0.0]),    # cluster 0, cos ~0.7 with 0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    kept = {
        r["vec_id"]: r["cluster_id"]
        for r in annsearch.semantic_dedup(
            emb, threshold=0.95, n_clusters=2
        ).collect()
    }
    assert set(kept) == {0, 1, 4}
    assert kept[0] == 0 and kept[1] == 1 and kept[4] == 0


def test_semantic_dedup_cluster_cap_exempts(spark):
    """An oversized cluster is exempt from the pair scan — all its
    members are kept — and the exemption is logged."""
    rows = [(i, [1.0, float(i) * 1e-4, 0.0, 0.0]) for i in range(20)]
    rows.append((100, [0.0, 1.0, 0.0, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    msgs = []
    kept = annsearch.semantic_dedup(
        emb, threshold=0.9, n_clusters=2, max_cluster_size=5,
        log=msgs.append,
    ).collect()
    # the 20-member near-identical cluster exceeded the cap -> all kept
    assert len(kept) == 21
    assert any("exempted" in m for m in msgs)
    # with the cap off, the clones collapse: centroids are vecs 0 and 1
    # (nearly parallel), every i >= 1 sits marginally closer to centroid
    # 1 (positive 2nd component) — as does vec 100 — so cluster 0 = {0},
    # cluster 1 = {1..19, 100}; 1 survives as its cluster's lowest id,
    # 100 survives because cos(100, clones) ~ 1e-4 < threshold
    kept_uncapped = annsearch.semantic_dedup(
        emb, threshold=0.9, n_clusters=2, max_cluster_size=None
    ).collect()
    assert {r["vec_id"] for r in kept_uncapped} == {0, 1, 100}


def test_derive_n_clusters():
    assert annsearch.derive_n_clusters(0) == 8
    assert annsearch.derive_n_clusters(10**6) == 245  # ceil(1e6/4096)
    assert annsearch.derive_n_clusters(10**9) >= 240_000


def test_sample_stratum_cap(spark):
    """Per-stratum cap keeps exactly min(cap, |stratum|) rows, picked by
    the portable mix hash — deterministic across runs."""
    from luc4ir_spark.functions.hashing import mix_id_np
    from luc4ir_spark.operators import utilsops

    rows = [(i, "big" if i < 40 else "small") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = utilsops.sample_stratum_cap(
        df, cap=10, stratum_col="source", seed=3
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 10
    assert len(by_src["small"]) == 10  # |small| = 10 <= cap
    # the kept 'big' ids are exactly the 10 smallest by mix(id + seed)
    ids = np.arange(40, dtype=np.int64)
    order = np.lexsort((ids, mix_id_np(ids + 3)))
    assert by_src["big"] == set(ids[order][:10].tolist())
    # determinism
    again = utilsops.sample_stratum_cap(
        df, cap=10, stratum_col="source", seed=3
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_sample_stratum_cap_plan_windowgrouplimit(spark):
    """The cap must plan as WindowGroupLimit (map-side partial top-cap
    per partition BEFORE the stratum shuffle), not a full window sort."""
    from luc4ir_spark.operators import utilsops

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "doc_id long, source string"
    )
    out = utilsops.sample_stratum_cap(df, cap=5, stratum_col="source")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # the pre-shuffle map-side limit pass


def test_semantic_dedup_assignment_zero_shuffle(spark):
    """Centroid assignment is a pure projection: literal dot products +
    array argmax — no Exchange, no Generate, no Python UDF."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    from luc4ir_spark.operators.annsearch import with_norm

    c = with_norm(emb, "embedding").select(
        "vec_id", F.col("_vd").alias("v"), F.col("norm").alias("n")
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0, 0.0], 1.0)]

    def lit_dot(cv):
        dot = None
        for i, x in enumerate(cv):
            t = F.element_at(F.col("v"), i + 1) * F.lit(float(x))
            dot = t if dot is None else dot + t
        return dot

    scores = F.array(
        *[lit_dot(cv) / (F.col("n") * F.lit(cn)) for _, cv, cn in cents]
    )
    cids = F.array(*[F.lit(cid) for cid, _, _ in cents])
    idx = F.array_position(scores, F.array_max(scores)).cast("int")
    asg = c.withColumn("cluster_id", F.element_at(cids, idx).cast("long"))
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_duplicate_spans_hand_computed(spark):
    """Tiling, keeper selection, and partial-tail exclusion on a
    hand-built corpus (span_tokens=2)."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d x"),     # spans: 'a b', 'c d'; 'x' tail dropped
            (1, "c d a b"),       # spans: 'c d', 'a b'
            (2, "a b"),           # span:  'a b'
            (3, "z"),             # shorter than one span -> no rows
        ],
        "doc_id long, content string",
    )
    got = {
        r["span_id"]: r
        for r in dedup.duplicate_spans(docs, span_tokens=2).collect()
    }
    import hashlib

    def sid(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    assert set(got) == {sid("a b"), sid("c d")}
    ab, cd = got[sid("a b")], got[sid("c d")]
    assert ab["n_occ"] == 3
    assert (ab["keep_doc_id"], ab["keep_chunk_idx"]) == (0, 0)
    assert cd["n_occ"] == 2
    assert (cd["keep_doc_id"], cd["keep_chunk_idx"]) == (0, 1)
    # the drop list is every occurrence except the keepers
    drops = {
        (r["doc_id"], r["chunk_idx"])
        for r in dedup.drop_duplicate_span_occurrences(
            docs, span_tokens=2
        ).collect()
    }
    assert drops == {(1, 0), (1, 1), (2, 0)}


def test_duplicate_spans_single_shuffle_plan(spark):
    """The summary is one map-side-combined groupBy: exactly one
    Exchange, no Window, no join, no Python UDF."""
    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(4)], "doc_id long, content string"
    )
    plan = (
        dedup.duplicate_spans(docs, span_tokens=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "Join" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_classifier_score_hand_computed(spark):
    """Logit/sigmoid/keep against hand arithmetic; out-of-vocabulary
    terms contribute 0; empty docs yield no row; the model joins as a
    broadcast."""
    import math

    docs = spark.createDataFrame(
        [
            (0, "good good bad"),    # (2*1.0 + 1*-2.0)/3 = 0.0
            (1, "good novel"),       # (1.0 + 0)/2 = 0.5
            (2, "bad bad"),          # -2.0
            (3, ""),                 # no tokens -> no row
        ],
        "doc_id long, content string",
    )
    w = spark.createDataFrame(
        [("good", 1.0), ("bad", -2.0)], "term string, weight double"
    )
    out = textstats.classifier_score(docs, w, bias=0.0, threshold=0.6)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 1, 2}
    exp_logit = {0: 0.0, 1: 0.5, 2: -2.0}
    cut = math.log(0.6 / 0.4)
    for d, el in exp_logit.items():
        assert rows[d]["logit"] == pytest.approx(el, abs=1e-12)
        assert rows[d]["score"] == pytest.approx(
            1 / (1 + math.exp(-el)), rel=1e-12
        )
        assert rows[d]["keep"] == (el >= cut)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_heaps_law_hand_computed(spark):
    """4 docs, 2 checkpoints (max_id=4 -> cuts at 2 and 4):
    docs 1-2 hold tokens {a,b} (T=4, V=2); docs 3-4 add {c} and
    repeats (T=9, V=3) -> beta = ln(3/2)/ln(9/4); first checkpoint
    beta NULL; a no-new-tokens checkpoint guard yields NULL not inf."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "a b"), (2, "a b"), (3, "c a b"), (4, "a b"),
        ],
        "doc_id long, content string",
    )
    out = {
        r["checkpoint"]: r
        for r in textstats.heaps_law(docs, n_checkpoints=2).collect()
    }
    assert out[1]["max_doc_id"] == 2
    assert out[1]["n_tokens"] == 4 and out[1]["vocab"] == 2
    assert out[1]["beta"] is None
    assert out[2]["n_tokens"] == 9 and out[2]["vocab"] == 3
    assert out[2]["beta"] == pytest.approx(
        math.log(3 / 2) / math.log(9 / 4)
    )
    # equal-tokens guard: K=4 over max_id=2 duplicates the cut at 1
    # (checkpoints 2 and 3 see the same prefix) -> beta NULL, not inf
    docs2 = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, content string"
    )
    rows = {
        r["checkpoint"]: r
        for r in textstats.heaps_law(docs2, n_checkpoints=4).collect()
    }
    assert 1 not in rows  # cut 0 covers no docs
    assert rows[2]["beta"] is None  # first surviving row
    assert rows[3]["n_tokens"] == rows[2]["n_tokens"]
    assert rows[3]["beta"] is None  # the guard, not infinity
    assert rows[4]["beta"] == pytest.approx(1.0)  # ln(3/2)/ln(3/2)


def test_collocations_llr_hand_computed(spark):
    """One doc 'a b a b c': bigrams (a,b)x2, (b,a), (b,c), N=4.
    For (a,b): k11=2, k12=k21=0, k22=2 -> entropy form collapses to
    LLR = 8·ln2 ~= 5.5452. min_count=2 drops the singletons."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, content string"
    )
    out = textstats.collocations_llr(docs, topn=5, min_count=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["c"], r["rank"]) == ("a", "b", 2, 1)
    assert r["llr"] == pytest.approx(round(8 * math.log(2), 4))
    # with min_count=1 the independent singletons score lower
    all_rows = {
        (r["w1"], r["w2"]): r["llr"]
        for r in textstats.collocations_llr(
            docs, topn=5, min_count=1
        ).collect()
    }
    assert all_rows[("a", "b")] > all_rows[("b", "a")]


def test_doc_keywords_hand_computed(spark):
    """tf·ln(N/df) top-m with rounded ordering: the repeated rare term
    wins; ubiquitous terms score 0 and lose to any positive weight."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "rare rare common"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id long, content string",
    )
    out = {}
    for r in textstats.doc_keywords(docs, topm=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["rank"], r["term"], r["tfidf"])
        )
    d1 = sorted(out[1])
    assert d1[0][1] == "rare"
    assert d1[0][2] == pytest.approx(round(2 * math.log(3 / 1), 4))
    # 'common' has df 3 of 3 docs -> idf ln(1) = 0
    assert d1[1] == (2, "common", 0.0)
    # doc 2: 'other' (df 2) beats 'common' (0)
    assert sorted(out[2])[0][1] == "other"


def test_funnel_latency_hand_computed(spark):
    """Greedy-earliest latencies: u1 converts 30 min after the FIRST
    view (a later view doesn't reset the clock), u2's purchase
    BEFORE any view doesn't count but the later one does, u3 never
    converts. mean of {1.8e9, 0.6e9} = 1.2e9 µs, median likewise."""
    from datetime import datetime

    rows = [
        (0, datetime(2024, 1, 1, 10, 0), 1, "view"),
        (1, datetime(2024, 1, 1, 10, 15), 1, "view"),
        (2, datetime(2024, 1, 1, 10, 30), 1, "purchase"),
        (3, datetime(2024, 1, 1, 9, 0), 2, "purchase"),
        (4, datetime(2024, 1, 1, 11, 0), 2, "view"),
        (5, datetime(2024, 1, 1, 11, 10), 2, "purchase"),
        (6, datetime(2024, 1, 1, 12, 0), 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    from luc4ir_spark.operators import eventops as eo

    r = eo.funnel_latency(ev).collect()[0]
    assert r["n_users"] == 3
    assert r["n_converted"] == 2
    assert r["mean_latency_us"] == pytest.approx(
        (1800 + 600) / 2 * 1_000_000
    )
    assert r["median_latency_us"] == pytest.approx(1200 * 1_000_000)


def test_centroid_classify_confusion(spark):
    """Separable two-class corpus: the fruit docs classify to their
    own centroid, the mislabeled car doc (true x, pure car/truck
    text) lands on the y centroid — exactly one off-diagonal cell.
    cos(d5, y) = 1 (same direction), cos(d5, x) ~= 0.18."""
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana", "x"),
            (2, "apple banana banana", "x"),
            (3, "car truck truck", "y"),
            (4, "car car truck", "y"),
            (5, "car truck", "x"),
        ],
        "doc_id long, content string, source string",
    )
    out = {
        (r["true_label"], r["pred_label"]): r["n_docs"]
        for r in textstats.centroid_classify(docs).collect()
    }
    assert out == {("x", "x"): 2, ("x", "y"): 1, ("y", "y"): 2}


def test_robots_filter_rfc9309_resolution(spark):
    """Longest-prefix wins; allow beats disallow on equal-length
    ties; no matching rule (or unknown host) defaults to allowed."""
    urls = spark.createDataFrame(
        [
            (1, "h", "/p/1"),
            (2, "h", "/p/15"),
            (3, "h", "/p/12"),
            (4, "h", "/p/129"),
            (5, "h", "/p/123"),
            (6, "h", "/p/2"),
            (7, "h", "/p/9"),
            (8, "other", "/p/1"),
        ],
        "doc_id long, host string, path string",
    )
    rules = spark.createDataFrame(
        [
            ("h", "disallow", "/p/1"),
            ("h", "allow", "/p/12"),
            ("h", "disallow", "/p/123"),
            ("h", "allow", "/p/2"),
            ("h", "disallow", "/p/2"),
        ],
        "host string, directive string, path_prefix string",
    )
    got = {
        r["doc_id"]: (r["allowed"], r["matched_prefix"])
        for r in textstats.robots_filter(urls, rules).collect()
    }
    assert got == {
        1: (False, "/p/1"),
        2: (False, "/p/1"),
        3: (True, "/p/12"),
        4: (True, "/p/12"),
        5: (False, "/p/123"),
        6: (True, "/p/2"),
        7: (True, None),
        8: (True, None),
    }


def test_naive_bayes_classify_matches_python_replay(spark):
    """Confusion matrix equals a pure-Python multinomial NB with
    add-one smoothing over the same corpus (including the mislabeled
    doc 5, which the car-class likelihood should claim)."""
    import math
    from collections import Counter

    rows = [
        (1, "apple apple banana", "x"),
        (2, "apple banana banana", "x"),
        (3, "car truck truck", "y"),
        (4, "car car truck", "y"),
        (5, "car truck", "x"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, source string"
    )
    # pure-Python replay
    cf = {}
    prior = Counter()
    vocab = set()
    for _, text, lbl in rows:
        toks = text.split()
        prior[lbl] += 1
        vocab.update(toks)
        c = cf.setdefault(lbl, Counter())
        for t in toks:
            c[t] += 1
    n = sum(prior.values())
    v = len(vocab)
    want = Counter()
    for _, text, lbl in rows:
        toks = text.split()
        best = None
        for cand in sorted(cf):
            tc = sum(cf[cand].values())
            ll = math.log(prior[cand] / n) - len(toks) * math.log(
                tc + v
            )
            for t in toks:
                ll += math.log(cf[cand][t] + 1)
            ll = round(ll, 4)
            if best is None or ll > best[0]:
                best = (ll, cand)
        want[(lbl, best[1])] += 1
    out = {
        (r["true_label"], r["pred_label"]): r["n_docs"]
        for r in textstats.naive_bayes_classify(docs).collect()
    }
    assert out == dict(want)
    assert out[("x", "y")] == 1  # the mislabeled doc crosses over


def test_length_batches_hand_computed(spark):
    """One shard (n_shards=1): the two 3-token docs fill bucket 4's
    batch 0 (pad_frac 0), the 2-token doc sits in bucket 2, the
    5-token doc in bucket 8; empty doc drops."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h"), (4, "i j k l m"),
         (5, "")],
        "doc_id long, content string",
    )
    out = {
        (r["bucket_len"], r["batch_idx"]): r
        for r in textstats.length_batches(
            docs, batch_size=2, n_shards=1, max_len=16
        ).collect()
    }
    assert set(out) == {(4, 0), (2, 0), (8, 0)}
    b0 = out[(4, 0)]
    assert (b0["n_seqs"], b0["max_tokens"], b0["sum_tokens"],
            b0["pad_frac"]) == (2, 3, 6, 0.0)
    b1 = out[(2, 0)]
    assert (b1["n_seqs"], b1["max_tokens"], b1["pad_frac"]) == (1, 2, 0.0)
    assert out[(8, 0)]["n_seqs"] == 1


def test_length_batches_pad_frac(spark):
    """Mixed-length batch: 4 and 3 tokens together -> pad_frac =
    (2*4-7)/(2*4) = 0.125."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g")], "doc_id long, content string"
    )
    rows = textstats.length_batches(
        docs, batch_size=2, n_shards=1, max_len=16
    ).collect()
    assert len(rows) == 1
    assert rows[0]["pad_frac"] == 0.125


def test_length_buckets_hand_computed(spark):
    """Power-of-two buckets: 3 tokens -> 4, 4 -> 4, 5 -> 8, 1 -> 1;
    docs above max_len clamp to the top bucket and truncate to it;
    empty docs drop."""
    docs = spark.createDataFrame(
        [
            (0, "a b c"), (1, "a b c d"), (2, "a b c d e"),
            (3, "a"), (4, ""), (5, " ".join(["x"] * 20)),
        ],
        "doc_id long, content string",
    )
    out = {r["bucket_len"]: r
           for r in textstats.length_buckets(docs, max_len=8).collect()}
    assert set(out) == {1, 4, 8}
    assert out[1]["n_docs"] == 1 and out[1]["total_padding"] == 0
    assert out[4]["n_docs"] == 2
    assert out[4]["total_tokens"] == 7
    assert out[4]["total_padding"] == 1
    assert out[4]["efficiency"] == pytest.approx(7 / 8)
    # doc 2 (5 tokens) and doc 5 (20 tokens -> truncated to 8) share
    # bucket 8: tokens 5 + 8 = 13, padding 3, efficiency 13/16
    assert out[8]["n_docs"] == 2
    assert out[8]["total_tokens"] == 13
    assert out[8]["total_padding"] == 3
    assert out[8]["efficiency"] == pytest.approx(13 / 16)


def test_train_quality_classifier_end_to_end(spark):
    """spark.ml LR trained on a separable corpus, served through
    classifier_score's (term, weight) contract: every training doc
    classifies correctly and the learned signs point the right way."""
    rows = []
    for i in range(20):
        rows.append((i, "good clean prose text here", 1))
        rows.append((100 + i, "spam junk garbage noise", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, label int"
    )
    weights, bias = textstats.train_quality_classifier(docs)
    w = {r["term"]: r["weight"] for r in weights.collect()}
    assert w["good"] > 0 > w["spam"]
    scored = textstats.classifier_score(
        docs, weights, bias=bias, threshold=0.5
    )
    got = {r["doc_id"]: r["keep"] for r in scored.collect()}
    for i in range(20):
        assert got[i] is True
        assert got[100 + i] is False


def test_dsir_select_pure_python_replay(spark):
    """Replays dsir_select exactly in pure Python (same md5-60bit
    buckets, same smoothing, same rounded ordering) and checks the
    full selection; also sanity: a doc made purely of target-heavy
    tokens must outrank one sharing no token with the target."""
    import hashlib
    import math
    import re

    texts = {
        0: ("aaa aaa bbb", True),
        1: ("aaa bbb", False),
        2: ("ccc ccc", False),
        3: ("aaa aaa aaa", False),
    }
    docs = spark.createDataFrame(
        [(d, t, tgt) for d, (t, tgt) in texts.items()],
        "doc_id long, content string, is_target boolean",
    )
    B, alpha = 4, 0.5

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % B

    raw, tgt = {}, {}
    per_doc = {}
    for d, (t, is_t) in texts.items():
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        tf = {}
        for w in toks:
            tf[w] = tf.get(w, 0) + 1
        per_doc[d] = tf
        for w, n in tf.items():
            raw[bucket(w)] = raw.get(bucket(w), 0) + n
            if is_t:
                tgt[bucket(w)] = tgt.get(bucket(w), 0) + n
    rt_, tt = sum(raw.values()), sum(tgt.values())
    lr = {
        b: math.log((tgt.get(b, 0) + alpha) / (tt + alpha * B))
        - math.log((raw[b] + alpha) / (rt_ + alpha * B))
        for b in raw
    }
    exp = {
        d: round(sum(n * lr[bucket(w)] for w, n in tf.items()), 4)
        for d, tf in per_doc.items()
    }
    order = sorted(exp, key=lambda d: (-exp[d], d))
    out = textstats.dsir_select(
        docs, n_buckets=B, alpha=alpha, topn=4
    ).collect()
    got = sorted(out, key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got] == order
    for r in got:
        assert r["log_weight"] == pytest.approx(exp[r["doc_id"]])
        assert r["n_tokens"] == sum(per_doc[r["doc_id"]].values())
    # the weights genuinely separate docs (not all in one tie group)
    assert len(set(exp.values())) > 1


def test_readability_hand_computed(spark):
    """Flesch components against hand counts: vowel-group syllables,
    vowel-less words counting 1, [.!?]+ runs collapsing to one
    sentence break, zero-token docs dropped."""
    docs = spark.createDataFrame(
        [
            # words: the(1) cat(1) sat(1) -> syl 3; "Wow!!" one run;
            # 2 sentences, 4 words (wow), syl 4
            (0, "The cat sat. Wow!!"),
            # "xyz" -> y vowel-group (1); "123" vowel-less -> 1;
            # no punctuation -> 1 sentence; 2 words, 2 syllables
            (1, "xyz 123"),
            (2, "   "),  # zero tokens -> no row
        ],
        "doc_id long, content string",
    )
    rows = {r["doc_id"]: r for r in textstats.readability(docs).collect()}
    assert set(rows) == {0, 1}
    r0 = rows[0]
    assert (r0["n_words"], r0["n_sentences"], r0["n_syllables"]) == (
        4, 2, 4,
    )
    assert r0["flesch"] == pytest.approx(
        206.835 - 1.015 * (4 / 2) - 84.6 * (4 / 4), rel=1e-12
    )
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (
        2, 1, 2,
    )


def test_classifier_eval_hand_computed(spark):
    """Confusion counts, P/R/F1 and tie-aware AUC against hand
    arithmetic. Scores (asc): -2(y0) < 0(y1,k) == 0(y0,k) < 1(y1,k);
    mid-ranks of the tied pair are 2.5 each, so
    R1 = 2.5 + 4 = 6.5, AUC = (6.5 - 2*3/2) / (2*2) = 0.875."""
    preds = spark.createDataFrame(
        [(0, -2.0, False), (1, 0.0, True), (2, 0.0, True),
         (3, 1.0, True)],
        "doc_id long, logit double, keep boolean",
    )
    labels = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0), (3, 1)], "doc_id long, label int"
    )
    r = textstats.classifier_eval(preds, labels).collect()[0]
    assert (r["n"], r["n_pos"], r["n_neg"]) == (4, 2, 2)
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 0, 1)
    assert r["precision"] == pytest.approx(2 / 3, rel=1e-12)
    assert r["recall"] == pytest.approx(1.0, rel=1e-12)
    assert r["f1"] == pytest.approx(0.8, rel=1e-12)
    assert r["auc"] == pytest.approx(0.875, rel=1e-12)


def test_classifier_eval_degenerate(spark):
    """No predicted positives -> precision/f1 0.0; single-class labels
    -> auc falls back to 0.5 rather than dividing by zero."""
    preds = spark.createDataFrame(
        [(0, -1.0, False), (1, -2.0, False)],
        "doc_id long, logit double, keep boolean",
    )
    labels = spark.createDataFrame(
        [(0, 1), (1, 1)], "doc_id long, label int"
    )
    r = textstats.classifier_eval(preds, labels).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (0, 0, 2, 0)
    assert r["precision"] == 0.0 and r["f1"] == 0.0
    assert r["recall"] == 0.0
    assert r["auc"] == 0.5


def test_apply_vocab_hand_computed(spark):
    """OOV accounting against an explicit vocab; empty docs excluded;
    the literal-vocab path is a zero-shuffle projection."""
    docs = spark.createDataFrame(
        [(0, "a b a zz"), (1, "zz yy"), (2, "")],
        "doc_id long, content string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    out = textstats.apply_vocab(docs, vocab)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 1}
    assert (rows[0]["n_tokens"], rows[0]["n_oov"]) == (4, 1)
    assert rows[0]["oov_rate"] == pytest.approx(0.25)
    assert (rows[1]["n_tokens"], rows[1]["n_oov"]) == (2, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_apply_vocab_broadcast_twin(spark):
    """Tokenizer-scale vocabularies auto-switch to the explode +
    broadcast-join twin: no literal vocab array in the plan, a
    BroadcastHashJoin instead — and the rows equal the literal path's
    (VERDICT r4 item 3)."""
    docs = spark.createDataFrame(
        [(0, "a b a zz"), (1, "zz yy"), (2, ""), (3, "b b b")],
        "doc_id long, content string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")

    def rows(df):
        return sorted(
            (r["doc_id"], r["n_tokens"], r["n_oov"],
             round(r["oov_rate"], 12))
            for r in df.collect()
        )

    lit_out = textstats.apply_vocab(docs, vocab)
    bj_out = textstats.apply_vocab(docs, vocab, literal_max_terms=1)
    assert rows(bj_out) == rows(lit_out)
    plan = bj_out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "array_contains" not in plan

    # a >10k-term vocab takes the broadcast path by DEFAULT: the plan
    # must not contain a 10k-element literal array
    big_vocab = spark.range(10_001).select(
        F.concat(F.lit("tok"), F.col("id")).alias("term")
    )
    big_out = textstats.apply_vocab(docs, big_vocab)
    bplan = big_out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bplan
    assert "array_contains" not in bplan
    assert rows(big_out) == sorted(
        [(0, 4, 4, 1.0), (1, 2, 2, 1.0), (3, 3, 3, 1.0)]
    )


def test_semantic_dedup_derives_cluster_count(spark):
    """n_clusters=None sizes K from the corpus and logs it (a fixed K
    is a sandbox constant — same failure mode as a fixed plane count)."""
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.0, 0.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    msgs = []
    kept = annsearch.semantic_dedup(
        emb, threshold=0.9999, log=msgs.append
    ).collect()
    assert any("derived n_clusters=8" in m for m in msgs)
    assert len(kept) > 0


def test_pack_sequences_hand_computed(spark):
    """Shard/offset/sequence spans equal a pure-Python replay of the
    mix-hash layout; offsets are contiguous per shard."""
    from luc4ir_spark.functions import hashing as hx

    docs = [(i, " ".join(["w"] * (3 + (i * 7) % 11))) for i in range(40)]
    docs.append((40, "   "))  # whitespace-only doc drops out
    df = spark.createDataFrame(docs, "doc_id long, content string")
    out = textstats.pack_sequences(
        df, seq_len=10, n_shards=4, seed=0
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert 40 not in got and len(got) == 40

    # python replay
    mix = lambda x: (hx.MIX_A * (x % hx.MIX_P) + hx.MIX_B) % hx.MIX_P
    per_shard = {}
    for i, text in docs[:40]:
        n = len(text.split())
        per_shard.setdefault(mix(i) % 4, []).append((mix(i), i, n))
    for shard, rows in per_shard.items():
        off = 0
        for _, i, n in sorted(rows):
            r = got[i]
            assert r["shard"] == shard
            assert r["n_tokens"] == n
            assert r["tok_offset"] == off
            assert r["first_seq"] == off // 10
            assert r["last_seq"] == (off + n - 1) // 10
            off += n


def test_pack_sequences_no_global_sort(spark, docs_df):
    """The only window is per-shard: the plan partitions by shard
    (hash exchange), never a single-partition global sort."""
    plan = textstats.pack_sequences(
        docs_df, content_col="content", n_shards=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_good_turing_counts_hand_computed(spark):
    """corpus 'a a a b b c': counts a:3 b:2 c:1 -> N_1=1 N_2=1 N_3=1;
    r*=2·N_2/N_1=2 at r=1, 3·N_3/N_2=3 at r=2, 0 at r=3 (no N_4);
    p0 = N_1/T = 1/6."""
    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, content string"
    )
    got = {
        r["r"]: (r["n_r"], r["r_star"], r["p0"])
        for r in textstats.good_turing_counts(docs).collect()
    }
    assert got == {
        1: (1, 2.0, round(1 / 6, 4)),
        2: (1, 3.0, round(1 / 6, 4)),
        3: (1, 0.0, round(1 / 6, 4)),
    }


def test_good_turing_no_hapax(spark):
    """No hapax terms: N_1 = 0 -> p0 = 0 (not an empty result)."""
    docs = spark.createDataFrame(
        [(1, "x x y y")], "doc_id long, content string"
    )
    got = {
        r["r"]: r["p0"]
        for r in textstats.good_turing_counts(docs).collect()
    }
    assert got == {2: 0.0}


def test_kneser_ney_xent_hand_computed(spark):
    """Two docs sharing bigrams; KN probabilities replayed in pure
    Python from the corpus counts (continuation counts included)."""
    import math as m
    from collections import Counter, defaultdict

    rows = [(1, "a b a c"), (2, "b a c c")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    # corpus bigram counts
    c2 = Counter()
    per_doc = {}
    for d, txt in rows:
        tk = txt.split()
        bgs = list(zip(tk, tk[1:]))
        per_doc[d] = Counter(bgs)
        c2.update(bgs)
    c1, n1p_w1, n1p_w2 = defaultdict(float), Counter(), Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1p_w1[w1] += 1
        n1p_w2[w2] += 1
    n_types = len(c2)
    D = 0.75

    def p(w1, w2):
        return (c2[(w1, w2)] - D) / c1[w1] + (
            D * n1p_w1[w1] / c1[w1]
        ) * (n1p_w2[w2] / n_types)

    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_kn"])
        for r in textstats.kneser_ney_xent(docs).collect()
    }
    for d, bgs in per_doc.items():
        n = sum(bgs.values())
        want = -sum(c * m.log(p(*bg)) for bg, c in bgs.items()) / n
        assert got[d][0] == n
        assert got[d][1] == pytest.approx(want, abs=5e-5), d


def test_stupid_backoff_xent_hand_computed(spark):
    """All three branches: LM = 'a b a b' (bigrams ab×2? no — a b,
    b a, a b). Scored doc 'a b c a z': seen bigram (a,b), unseen
    bigram with seen unigrams (b,c -> backoff? c unseen -> floor),
    (c,a) w2 seen -> alpha backoff, (a,z) z unseen -> floor."""
    import math as m

    lm = spark.createDataFrame(
        [(100, "a b a b")], "doc_id long, content string"
    )
    docs = spark.createDataFrame(
        [(1, "a b c a z")], "doc_id long, content string"
    )
    out = textstats.stupid_backoff_xent(docs, lm, alpha=0.4).collect()
    assert len(out) == 1
    r = out[0]
    # LM counts: unigrams a:2 b:2, T=4; bigrams (a,b):2 (b,a):1
    # doc bigrams: (a,b) seen -> 2/2=1; (b,c): c unseen -> 0.16/4;
    # (c,a): a seen -> 0.4*2/4; (a,z): z unseen -> 0.16/4
    ss = [1.0, 0.4 * 0.4 / 4, 0.4 * 2 / 4, 0.4 * 0.4 / 4]
    want = -sum(m.log(x) for x in ss) / 4
    assert r["n_bigrams"] == 4
    assert r["xent_sb"] == pytest.approx(want, abs=5e-5)


def test_trigram_cross_entropy_hand_computed(spark):
    """Corpus 'a b a b a' + 'b a b' + 'x y': c(aba)=2, c(bab)=2,
    c(ab)=c(ba)=3, c(a)=c(b)=4, T=10 (x,y count toward T) -> every
    a/b trigram prob = .6·2/3 + .3·3/4 + .1·4/10 = 0.665; both docs'
    xent = -ln 0.665. Sub-3-token docs drop from the output."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "b a b"), (3, "x y")],
        "doc_id long, content string",
    )
    out = {
        r["doc_id"]: r["xent_trigram"]
        for r in textstats.trigram_cross_entropy(
            docs, lam3=0.6, lam2=0.3
        ).collect()
    }
    assert set(out) == {1, 2}
    exp = round(-math.log(0.665), 4)
    assert out[1] == pytest.approx(exp)
    assert out[2] == pytest.approx(exp)


def test_bigram_cross_entropy_hand_computed(spark):
    import math
    from collections import Counter

    rows = [(0, "a b a b"), (1, "a a b"), (2, "c")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    got = {
        r["doc_id"]: r["xent_bigram"]
        for r in textstats.bigram_cross_entropy(
            docs, lam=0.8
        ).collect()
    }
    assert 2 not in got  # single-token doc: no bigrams

    toks = {d: t.split() for d, t in rows}
    c1 = Counter(w for ts in toks.values() for w in ts)
    total = sum(c1.values())
    c2 = Counter(
        (ts[i], ts[i + 1])
        for ts in toks.values()
        for i in range(len(ts) - 1)
    )
    for d, ts in toks.items():
        bgs = [(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
        if not bgs:
            continue
        x = -sum(
            math.log(0.8 * c2[bg] / c1[bg[0]] + (1 - 0.8) * c1[bg[1]] / total)
            for bg in bgs
        ) / len(bgs)
        assert got[d] == round(x, 4), d


def test_sample_token_budget(spark):
    from luc4ir_spark.functions import hashing as hx
    from luc4ir_spark.operators import utilsops

    rows = [
        (i, "s" + str(i % 2), " ".join(["w"] * (5 + i % 4)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, content string"
    )
    budget = 40
    got = {
        r["doc_id"]: r
        for r in utilsops.sample_token_budget(
            docs, budget, stratum_col="source", content_col="content"
        ).collect()
    }
    mix = lambda x: (hx.MIX_A * (x % hx.MIX_P) + hx.MIX_B) % hx.MIX_P
    for src in ("s0", "s1"):
        members = sorted(
            (mix(i), i, 5 + i % 4) for i, s, _ in rows if s == src
        )
        cum = 0
        for _, i, n in members:
            cum += n
            if cum <= budget:
                assert i in got and got[i]["cum_tokens"] == cum
                assert got[i]["n_tokens"] == n
            else:
                assert i not in got
    assert got  # budget keeps something


def test_mask_spans_pure_python_replay(spark):
    from luc4ir_spark.functions import hashing as hx

    rows = [(i, " ".join(f"t{j}" for j in range(3 + i))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    L, S, D = 2, 3, 2
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in textstats.mask_spans(
            docs, span_len=L, stride=S, mask_denom=D
        ).collect()
    )
    mix = lambda x: (hx.MIX_A * (x % hx.MIX_P) + hx.MIX_B) % hx.MIX_P
    exp = []
    for i, text in rows:
        n = len(text.split())
        if n < L:
            continue
        for k in range((n - L) // S + 1):
            s = k * S
            if mix(i * (1 << 20) + s) % D == 0:
                exp.append((i, s, s + L, n))
    assert got == sorted(exp)
    assert got  # selection keeps something
    # non-overlap: spans within a doc never intersect
    by_doc = {}
    for d, s, e, _ in got:
        by_doc.setdefault(d, []).append((s, e))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2

    with pytest.raises(ValueError):
        textstats.mask_spans(docs, span_len=3, stride=2)


def test_stratum_divergence_hand_computed(spark):
    """Two strata over a 3-term corpus: KL computed in pure Python."""
    import math as m

    from luc4ir_spark.operators import textstats as tsm

    postings = spark.createDataFrame(
        [("a", 1, 2), ("b", 1, 1), ("a", 2, 1), ("c", 2, 3)],
        "term string, doc_id long, tf long",
    )
    strata = spark.createDataFrame(
        [(1, "s1"), (2, "s2")], "doc_id long, stratum string"
    )
    out = {
        r["stratum"]: (r["n_terms"], r["kl"])
        for r in tsm.stratum_divergence(postings, strata).collect()
    }
    cf = {"a": 3, "b": 1, "c": 3}
    t = 7
    s1 = {"a": 2, "b": 1}
    s2 = {"a": 1, "c": 3}
    for name, d in (("s1", s1), ("s2", s2)):
        ts_ = sum(d.values())
        kl = sum(
            (v / ts_) * m.log((v / ts_) / (cf[k] / t))
            for k, v in d.items()
        )
        assert out[name][0] == len(d)
        assert out[name][1] == pytest.approx(kl, rel=1e-12), name


def test_sample_by_score(spark):
    from luc4ir_spark.operators import utilsops as uo

    df = spark.createDataFrame(
        [(i, 0.0) for i in range(50)]
        + [(100 + i, 1.0) for i in range(50)]
        + [(200 + i, 0.5) for i in range(200)],
        "doc_id long, p double",
    )
    kept = uo.sample_by_score(df, "p", seed=3).collect()
    ids = {r["doc_id"] for r in kept}
    assert not any(i < 50 for i in ids)           # p=0 never kept
    assert all(100 + i in ids for i in range(50))  # p=1 always kept
    mid = sum(1 for i in ids if i >= 200)
    assert 60 <= mid <= 140                        # ~half of 200
    # consistency: raising scores only adds rows
    more = uo.sample_by_score(
        df.withColumn("p", F.least(F.col("p") + 0.25, F.lit(1.0))),
        "p", seed=3,
    ).collect()
    assert ids <= {r["doc_id"] for r in more}


def test_blocklist_filter(spark):
    docs = spark.createDataFrame(
        [(0, "a Slow Hash here"), (1, "clean text"), (2, "spark SPARK")],
        "doc_id long, content string",
    )
    out = {
        r["doc_id"]: (r["n_hits"], r["keep"])
        for r in textstats.blocklist_filter(
            docs, ["slow hash", "spark"]
        ).collect()
    }
    assert out == {0: (1, False), 1: (0, True), 2: (1, False)}
    import pytest as pt

    with pt.raises(ValueError):
        textstats.blocklist_filter(docs, [])


def test_snapshot_diff(spark):
    from luc4ir_spark.operators import dedup as dd

    old = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "doc_id long, content string"
    )
    new = spark.createDataFrame(
        [(0, "a"), (1, "B2"), (3, "d")], "doc_id long, content string"
    )
    out = {
        r["doc_id"]: r["status"]
        for r in dd.snapshot_diff(old, new).collect()
    }
    assert out == {0: "unchanged", 1: "changed", 2: "removed", 3: "added"}


def test_quantize_embeddings_roundtrip(spark):
    import math as m

    rows = [
        (0, [1.0, -0.5, 0.25, 127.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),      # zero vector: scale 1/127
        (2, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in annsearch.quantize_embeddings(df).collect()}
    def round_half_away(v):
        # Spark F.round and DuckDB round() are HALF-AWAY-FROM-ZERO;
        # Python's round() is banker's — replay the engines' rule
        return int(m.copysign(m.floor(abs(v) + 0.5), v))

    for vid, vec in rows:
        ma = max(abs(x) for x in vec) or 1.0
        scale = ma / 127.0
        exp_q = [round_half_away(x / scale) for x in vec]
        assert out[vid]["qvec"] == exp_q, vid
        assert out[vid]["scale"] == pytest.approx(scale)
        assert all(abs(q) <= 127 for q in out[vid]["qvec"])
        # dequantized error bounded by scale/2 per dim
        for q, x in zip(out[vid]["qvec"], vec):
            assert abs(q * scale - x) <= scale / 2 + 1e-12


def test_quantized_cosine_close_to_exact(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    qz = annsearch.quantize_embeddings(df)
    deq = qz.select(
        "vec_id",
        annsearch.dequantize_col(F.col("qvec"), F.col("scale")).alias(
            "embedding"
        ),
    )
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in annsearch.cosine_topk(df, queries, k=50).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in annsearch.cosine_topk(deq, queries, k=50).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(exact[k] - approx[k]) < 0.01, k


def _wav_bytes(freq=440.0, sr=8000, n=800, nch=1, amp=10000):
    import io
    import wave

    t = np.arange(n) / sr
    x = (amp * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    if nch == 2:
        x = np.column_stack([x, x]).reshape(-1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def test_decode_audio_real_wav():
    blob = _wav_bytes()
    st = multimodal.audio_stats(blob)
    assert st["n_channels"] == 1 and st["sample_rate"] == 8000
    assert st["n_frames"] == 800 and st["duration_ms"] == 100
    # sine RMS ~ amp/sqrt(2)
    assert st["rms"] == pytest.approx(10000 / np.sqrt(2), rel=0.01)
    vec = multimodal.decode_audio(blob, dim=8)
    assert len(vec) == 8
    assert np.linalg.norm(vec) == pytest.approx(1.0)
    # constant-energy sine -> near-uniform per-segment RMS
    assert vec.std() < 0.05
    # stereo downmix of the same signal gives the same feature
    vec2 = multimodal.decode_audio(_wav_bytes(nch=2), dim=8)
    assert np.allclose(vec, vec2, atol=1e-6)
    # silence edge case
    silent = multimodal.decode_audio(_wav_bytes(amp=0), dim=8)
    assert np.all(silent == 0.0)


def test_extract_audio_features_distributed(spark):
    rows = [
        (1, "audio", bytearray(_wav_bytes(440.0))),
        (2, "audio", bytearray(_wav_bytes(880.0, n=1600))),
        (3, "image", bytearray(b"\x89PNG...")),  # filtered out
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, kind string, media binary"
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_audio_features(media, dim=8).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["sample_rate"] == 8000
    assert out[1]["duration_ms"] == 100
    assert out[2]["duration_ms"] == 200
    exp = multimodal.decode_audio(_wav_bytes(440.0), dim=8)
    assert np.allclose(out[1]["feature"], exp, atol=1e-12)


def test_dedup_lines(spark):
    docs = spark.createDataFrame(
        [
            (1, "unique alpha\ncopyright footer\nbody one"),
            (2, "copyright footer\nbody two\n  copyright footer  "),
            (3, "body three\n\nunique gamma"),
            (4, "copyright footer"),
        ],
        "doc_id long, content string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_lines(docs, min_docs=2).collect()
    }
    # 'copyright footer' (trimmed) appears in docs 1, 2, 4 -> dropped
    # everywhere, including the padded spelling in doc 2
    assert out[1]["clean_text"] == "unique alpha\nbody one"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == "body two"
    assert out[2]["n_dropped"] == 2
    # blank separator line is never boilerplate (below min_line_chars)
    assert out[3]["clean_text"] == "body three\n\nunique gamma"
    assert out[3]["n_dropped"] == 0
    # a doc that was ONLY boilerplate comes back empty, not missing
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0


def test_dedup_lines_min_docs_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "shared\nmine"), (2, "shared\nyours")],
        "doc_id long, content string",
    )
    # min_docs=3: nothing qualifies, every doc unchanged
    out = dedup.dedup_lines(docs, min_docs=3).collect()
    assert all(r["n_dropped"] == 0 for r in out)


def test_suggest_next_words_hand_computed(spark):
    """Bigram-count top-k per context word: count DESC then word ASC;
    contexts with no bigram yield nothing; k truncates."""
    docs = spark.createDataFrame(
        [
            (1, "go fast go fast go slow"),
            (2, "go fast stop"),
            (3, "alone"),
        ],
        "doc_id long, content string",
    )
    out = textstats.suggest_next_words(docs, ["go", "stop", "alone"], k=2)
    rows = [(r["w1"], r["w2"], r["c"], r["rank"]) for r in out.collect()]
    # bigrams from 'go': fast x3, slow x1; from 'stop'/'alone': none
    assert sorted(rows) == [("go", "fast", 3, 1), ("go", "slow", 1, 2)]
    # tie on count -> lexicographic: 'fast stop' vs 'fast go' (go x2)
    out2 = textstats.suggest_next_words(docs, ["fast"], k=3).collect()
    got = [(r["w2"], r["c"], r["rank"]) for r in out2]
    assert got == [("go", 2, 1), ("stop", 1, 2)]


def test_normalize_urls_hand_computed(spark):
    cases = [
        # (raw, expected_norm, expected_host)
        ("HTTP://WWW.Example.COM:80/Path/X?b=2&utm_source=f&a=1#frag",
         "http://example.com/Path/X?a=1&b=2", "example.com"),
        ("https://Site.org:443/", "https://site.org/", "site.org"),
        # :443 NOT stripped for http, :80 not stripped for https
        ("http://h.com:443/p", "http://h.com:443/p", "h.com:443"),
        # empty path -> /, empty query dropped, gclid dropped
        ("https://www.a.io?gclid=z", "https://a.io/", "a.io"),
        # params sorted bytewise; non-tracking utm-lookalike kept
        ("http://x.co/p?z=1&utmost=2&y=3",
         "http://x.co/p?utmost=2&y=3&z=1", "x.co"),
        # malformed: lowercased, fragment stripped, host ''
        ("not a url #frag", "not a url ", ""),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _, _) in enumerate(cases)],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: (r["url_norm"], r["host"])
        for r in textstats.normalize_urls(df).collect()
    }
    for i, (_, norm, host) in enumerate(cases):
        assert got[i] == (norm, host), (i, got[i])


def test_host_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a.com", 10), (2, "a.com", 30), (3, "b.org", 5),
         (4, "a.com", 20)],
        "doc_id long, host string, n_chars long",
    )
    got = {
        r["host"]: r
        for r in textstats.host_stats(df, max_docs_per_host=2).collect()
    }
    a = got["a.com"]
    assert (a["n_docs"], a["total_chars"], a["avg_chars"]) == (3, 60, 20.0)
    assert a["doc_share"] == 0.75 and a["over_cap"] is True
    b = got["b.org"]
    assert (b["n_docs"], b["doc_share"], b["over_cap"]) == (1, 0.25, False)


def test_normalize_for_dedup_hand_computed(spark):
    """Case, accents, digit classing, punctuation and whitespace all
    fold; two boilerplate variants land on the SAME digest."""
    docs = spark.createDataFrame(
        [
            (1, "  Café №— Prices: 1,299 EUR!!\n\nVisit   now. "),
            (2, "cafe  prices 8750 eur visit NOW"),
            (3, "completely different"),
        ],
        "doc_id long, content string",
    )
    from luc4ir_spark.operators import textstats as ts2

    out = {r["doc_id"]: r for r in ts2.normalize_for_dedup(docs).collect()}
    assert out[1]["norm_text"] == "cafe prices 0000 eur visit now"
    assert out[2]["norm_text"] == "cafe prices 0000 eur visit now"
    assert out[1]["norm_digest"] == out[2]["norm_digest"]
    assert out[3]["norm_digest"] != out[1]["norm_digest"]


def test_corpus_token_stats_hand_computed(spark):
    """Per-group doc/token/byte tallies and the two ratios; UTF-8
    multibyte text counts octets, not characters."""
    docs = spark.createDataFrame(
        [
            (1, "one two three", "en"),
            (2, "four", "en"),
            (3, "héllo wörld", "de"),  # 2 tokens, 13 utf-8 bytes
        ],
        "doc_id long, content string, lang string",
    )
    out = {
        r["lang"]: r
        for r in textstats.corpus_token_stats(docs, by="lang").collect()
    }
    en = out["en"]
    assert (en["n_docs"], en["n_tokens"], en["n_bytes"]) == (2, 4, 17)
    assert en["tokens_per_doc"] == 2.0
    assert en["bytes_per_token"] == 4.25
    de = out["de"]
    assert de["n_tokens"] == 4  # accents split 'h' 'llo' 'w' 'rld'
    assert de["n_bytes"] == 13


def test_sample_temperature_mix_flattens(spark):
    """alpha=1/2 upweights rare sources: the kept-rate RATIO between a
    big and a small source is sqrt-compressed vs their mass ratio;
    thresholds replay in exact integers; bigger budget keeps a superset."""
    import math

    from luc4ir_spark.operators import utilsops as uo

    rows = []
    did = 0
    for s, n in (("big", 400), ("small", 25)):
        for _ in range(n):
            rows.append((did, "w " * 10, s))  # 10 tokens per doc
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, source string"
    )
    budget, res = 1000, 10000
    kept = uo.sample_temperature_mix(
        docs, budget, stratum_col="source", resolution=res
    ).collect()
    n_s = {"big": 4000, "small": 250}
    roots = {k: math.isqrt(v) for k, v in n_s.items()}
    st = sum(roots.values())
    th = {
        k: min(res, (res * budget * roots[k]) // (st * n_s[k]))
        for k in n_s
    }
    # integer replay: per-source kept counts equal the bucket rule
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    exp = {"big": 0, "small": 0}
    for d, _, s in rows:
        if ((MIX_A * (d % MIX_P) + MIX_B) % MIX_P) % res < th[s]:
            exp[s] += 1
    got = {"big": 0, "small": 0}
    for r in kept:
        got[r["source"]] += 1
    assert got == exp
    # rare source keeps a HIGHER fraction than the big one
    assert th["small"] > th["big"]
    # monotone in budget: superset property
    kept2 = uo.sample_temperature_mix(
        docs, budget * 2, stratum_col="source", resolution=res
    ).collect()
    ids1 = {r["doc_id"] for r in kept}
    ids2 = {r["doc_id"] for r in kept2}
    assert ids1 <= ids2


def test_lsh_recall_report(spark):
    """Recall ties out against independently computed pair sets; with
    all bands colliding (identical docs) recall is 1."""
    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b", "c", "d"]),   # identical -> certain collision
            (3, ["a", "b", "c", "x"]),   # jaccard 0.6 with 1/2
            (4, ["q", "r", "s", "t"]),
        ],
        "doc_id long, tokens array<string>",
    )
    rep = dedup.lsh_recall_report(
        docs, num_hashes=8, band_size=2, threshold=0.5
    ).collect()[0]
    n_ex = dedup.jaccard_pairs(docs, threshold=0.5).count()
    n_ls = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, band_size=2, threshold=0.5
    ).count()
    assert rep["n_exact"] == n_ex and rep["n_lsh"] == n_ls
    assert rep["n_missed"] == n_ex - n_ls  # verified LSH ⊆ exact
    assert rep["recall"] == round(n_ls / n_ex, 4)
    assert n_ex >= 1  # the identical pair is always in the exact set


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    """Probing the 1-bit-flip neighborhood can only ADD candidates vs
    the same single table unprobed, so multi-probe recall vs brute
    force >= single-table recall; results stay a subset of exact
    cosine order within candidates."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 64)).tolist()
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in annsearch.cosine_topk(
            corpus, queries, k=5
        ).collect()
    }
    multi = {
        (r["query_id"], r["vec_id"])
        for r in annsearch.lsh_multiprobe_topk(
            corpus, queries, k=5, n_planes=8, seed=42
        ).collect()
    }
    single = {
        (r["query_id"], r["vec_id"])
        for r in annsearch.lsh_cosine_topk(
            corpus, queries, k=5, n_planes=8, n_tables=1, seed=42
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    # every query finds at least itself (identical vector, same bucket)
    for qid in range(5):
        assert (qid, qid) in multi


def test_ann_recall_report_tie_out(spark):
    """Recall report ties out against set arithmetic on the two runs;
    identical runs give recall 1."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((100, 64)).tolist()
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id < 4").selectExpr(
        "vec_id as query_id", "embedding"
    )
    ex = annsearch.cosine_topk(corpus, queries, k=5)
    ap = annsearch.lsh_multiprobe_topk(
        corpus, queries, k=5, n_planes=8, seed=42
    )
    rep = annsearch.ann_recall_report(ap, ex).collect()[0]
    es = {(r["query_id"], r["vec_id"]) for r in ex.collect()}
    aps = {(r["query_id"], r["vec_id"]) for r in ap.collect()}
    assert rep["n_exact"] == len(es) and rep["n_approx"] == len(aps)
    assert rep["n_hit"] == len(es & aps)
    assert rep["recall"] == round(len(es & aps) / len(es), 4)
    same = annsearch.ann_recall_report(ex, ex).collect()[0]
    assert same["recall"] == 1.0


def test_assign_splits_stable_and_incremental(spark):
    """Split assignment is a pure function of the id: re-running and
    growing the corpus never reassigns existing rows; proportions land
    near the fracs."""
    from luc4ir_spark.operators import utilsops as uo

    small = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in uo.assign_splits(small, 0.1, 0.1, seed=5).collect()}
    b = {r["doc_id"]: r["split"]
         for r in uo.assign_splits(big, 0.1, 0.1, seed=5).collect()}
    assert all(b[d] == s for d, s in a.items())  # incremental-stable
    from collections import Counter

    c = Counter(b.values())
    assert 0.07 < c["test"] / 4000 < 0.13
    assert 0.07 < c["val"] / 4000 < 0.13
    assert c["train"] / 4000 > 0.74
    # disjoint + exhaustive by construction
    assert set(c) == {"train", "val", "test"}


def test_sample_weighted_pure_python_replay(spark):
    """The A-ES sample equals a pure-Python replay of u^(1/w) over the
    mix stream; heavier rows are sampled more often across seeds."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P
    from luc4ir_spark.operators import utilsops as uo

    rows = [(i, 1 if i < 50 else 100) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def replay(seed, n):
        keys = []
        for d, w in rows:
            u = ((MIX_A * ((d + seed) % MIX_P) + MIX_B) % MIX_P + 1) / MIX_P
            keys.append((u ** (1.0 / max(w, 1.0)), -d, d))
        keys.sort(reverse=True)
        return [d for _, _, d in keys[:n]]

    got = [
        r["doc_id"]
        for r in sorted(
            uo.sample_weighted(
                df, n=10, weight_col="n_chars", seed=3
            ).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == replay(3, 10)
    # weight dominance: the 10 heavy rows (w=100) vastly out-sample
    # the 50 light rows across seeds
    heavy = sum(
        sum(d >= 50 for d in replay(s, 10)) for s in range(20)
    )
    assert heavy > 120  # >60% of 200 slots to the 10 heavy rows


def test_lsh_multiprobe_plan_shape(spark):
    """The corpus side is bucketed in ONE pass and never shuffled
    before the candidate join (broadcast query side); the only
    exchange of candidate rows is the final top-k window."""
    import numpy as np

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((50, 64)).tolist()
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id < 2").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = annsearch.lsh_multiprobe_topk(
        corpus, queries, k=3, n_planes=8, seed=42
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan       # probe join is broadcast
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_validator_guards(spark):
    """Loud failures instead of silent wrong numbers (ADVICE r4):
    PQ with dim not divisible by m_sub would quietly drop trailing
    dimensions; trigram lambdas summing >= 1 would push the unigram
    floor negative and NaN the cross-entropies."""
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        annsearch.pq_adc_topk(emb, emb, dim=3, m_sub=2)
    docs = spark.createDataFrame(
        [(0, "a b c d")], "doc_id long, content string"
    )
    for l3, l2 in [(0.7, 0.3), (0.8, 0.4), (-0.1, 0.5), (0.5, -0.1)]:
        with pytest.raises(ValueError, match="trigram_cross_entropy"):
            textstats.trigram_cross_entropy(docs, lam3=l3, lam2=l2)


def test_redact_credit_cards_luhn(spark):
    """Luhn-validated card scrub vs a pure-Python checksum replay:
    valid plain/spaced/dashed forms redact (duplicates everywhere),
    checksum-invalid runs and timestamp-shaped digit runs survive."""
    def luhn_py(s):
        ds = [int(c) for c in s if c.isdigit()]
        total = 0
        for i, d in enumerate(reversed(ds)):
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return 13 <= len(ds) <= 19 and total % 10 == 0

    assert luhn_py("4539578763621486") and luhn_py("4111 1111 1111 1111")
    assert not luhn_py("1234567890123456") and not luhn_py("1700000000000")
    docs = spark.createDataFrame(
        [
            (0, "pay with 4539578763621486 now"),
            (1, "card 4111 1111 1111 1111 thanks"),
            (2, "order 1234567890123456 shipped"),
            (3, "ts 1700000000000 logged"),
            (4, "5500-0000-0000-0004 twice 5500-0000-0000-0004"),
            (5, "no digits here"),
        ],
        "doc_id long, content string",
    )
    got = {
        r["doc_id"]: (r["n_cc"], r["clean"])
        for r in textstats.redact_credit_cards(docs).collect()
    }
    assert got[0] == (1, "pay with [CC] now")
    assert got[1] == (1, "card [CC] thanks")
    assert got[2] == (0, "order 1234567890123456 shipped")
    assert got[3] == (0, "ts 1700000000000 logged")
    assert got[4] == (2, "[CC] twice [CC]")
    assert got[5] == (0, "no digits here")
    # hygiene family contract: zero-shuffle codegen projection
    plan = (
        textstats.redact_credit_cards(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_zipf_law_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "a a a a b b c"), (1, "a a b d")],
        "doc_id long, content string",
    )
    got = {
        r["rank"]: r
        for r in textstats.zipf_law(docs, top_n=3).collect()
    }
    # cf: a=6, b=3, c=1, d=1 -> top3 ranks a, b, c (term ASC tie c<d)
    assert (got[1]["term"], got[1]["cf"]) == ("a", 6)
    assert (got[2]["term"], got[2]["cf"]) == ("b", 3)
    assert (got[3]["term"], got[3]["cf"]) == ("c", 1)
    assert got[1]["slope"] is None
    assert got[2]["slope"] == pytest.approx(
        math.log(3 / 6) / math.log(2 / 1)
    )
    assert got[3]["slope"] == pytest.approx(
        math.log(1 / 3) / math.log(3 / 2)
    )


def test_sorted_neighborhood_pairs(spark):
    """Blocked SNM: docs sharing the key prefix land in one block and
    get compared within the window; docs in other blocks never pair.
    Jaccard verify prunes dissimilar neighbors."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon"),  # near-dup of 1
            (3, "alpha beta zzz qqq xxx yyy www vvv"),  # same block, far
            (4, "omega psi chi"),                   # different block
        ],
        "doc_id long, content string",
    )
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.sorted_neighborhood_pairs(
            docs, window=4, key_len=10, block_len=4, threshold=0.5
        ).collect()
    }
    # docs 1/2: tokens {alpha..delta} vs +epsilon -> jaccard 4/5
    assert out == {(1, 2): 0.8}
    # threshold 0 exposes every in-window candidate; cross-block
    # pairs (doc 4 is in block 'omeg') still never appear
    allp = {
        (r["a"], r["b"])
        for r in dedup.sorted_neighborhood_pairs(
            docs, window=4, key_len=10, block_len=4, threshold=0.0
        ).collect()
    }
    assert (1, 2) in allp
    assert not any(4 in p for p in allp)


def test_witten_bell_xent_hand_computed(spark):
    """WB probabilities replayed in pure Python from the corpus
    counts: lambda(w1) = c(w1)/(c(w1) + N1+(w1.)), unigram floor
    c(w2)/T over ALL corpus tokens."""
    import math as m
    from collections import Counter, defaultdict

    rows = [(1, "a b a c"), (2, "b a c c")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    c2 = Counter()
    per_doc = {}
    uni = Counter()
    for d, txt in rows:
        tk = txt.split()
        uni.update(tk)
        bgs = list(zip(tk, tk[1:]))
        per_doc[d] = Counter(bgs)
        c2.update(bgs)
    c1, n1p = defaultdict(float), Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1p[w1] += 1
    T = sum(uni.values())

    def p(w1, w2):
        lam = c1[w1] / (c1[w1] + n1p[w1])
        return lam * c2[(w1, w2)] / c1[w1] + (1 - lam) * uni[w2] / T

    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_wb"])
        for r in textstats.witten_bell_xent(docs).collect()
    }
    for d, bgs in per_doc.items():
        n = sum(bgs.values())
        want = -sum(c * m.log(p(*bg)) for bg, c in bgs.items()) / n
        assert got[d][0] == n
        assert got[d][1] == pytest.approx(want, abs=5e-5), d
    # a context with many novel continuations keeps more escape mass:
    # lambda is strictly below 1 everywhere here
    assert all(c1[w] / (c1[w] + n1p[w]) < 1.0 for w in c1)


def test_boilerplate_strip_hand_computed(spark):
    """Line rules: 'MENU | HOME | ABOUT' (3 tokens, 0 stopwords) ->
    drop; 'the cat sat on the mat' (6 tokens, 2 'the') -> keep;
    'ok' (< 3 tokens) -> drop; rebuild preserves order and the
    all-boilerplate doc yields ''."""
    docs = spark.createDataFrame(
        [
            (1, "MENU | HOME | ABOUT\nthe cat sat on the mat\nok\n"
                "a dog barked at the mailman"),
            (2, "NAV LINKS FOOTER\nCOPYRIGHT NOTICE TEXT"),
        ],
        "doc_id long, content string",
    )
    got = {
        r["doc_id"]: r
        for r in textstats.boilerplate_strip(
            docs, stop_terms=("the", "a"), min_tokens=3,
            min_stop_frac=(1, 10),
        ).collect()
    }
    assert got[1]["n_lines"] == 4 and got[1]["n_kept"] == 2
    assert got[1]["text_clean"] == (
        "the cat sat on the mat\na dog barked at the mailman"
    )
    assert got[2]["n_kept"] == 0 and got[2]["text_clean"] == ""
    # density boundary is exact: 1 stopword in 10 tokens passes at
    # (1, 10) (>=), fails at (1, 5)
    ten = spark.createDataFrame(
        [(3, "the w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id long, content string",
    )
    keep_10 = textstats.boilerplate_strip(
        ten, stop_terms=("the",), min_stop_frac=(1, 10)
    ).collect()[0]
    keep_5 = textstats.boilerplate_strip(
        ten, stop_terms=("the",), min_stop_frac=(1, 5)
    ).collect()[0]
    assert keep_10["n_kept"] == 1 and keep_5["n_kept"] == 0


def test_mlm_mask_plan_properties(spark):
    """Selection rate tracks mask_per_10000; branch shares follow the
    80/10/10 split; random replacements come from the vocabulary;
    keep rows echo the label; deterministic across runs."""
    rows = [(i, " ".join(f"w{j % 17}" for j in range(40)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    vocab = spark.createDataFrame(
        [(f"w{j}",) for j in range(17)], "term string"
    )
    out = textstats.mlm_mask_plan(
        docs, vocab, mask_per_10000=1500
    ).collect()
    n_pos = 50 * 40
    frac = len(out) / n_pos
    assert 0.10 < frac < 0.20   # ~15% selected
    acts = {}
    for r in out:
        acts[r["action"]] = acts.get(r["action"], 0) + 1
        if r["action"] == "mask":
            assert r["input_token"] == "[MASK]"
        elif r["action"] == "keep":
            assert r["input_token"] == r["label"]
        else:
            assert r["input_token"].startswith("w")
    assert acts["mask"] > 5 * max(acts.get("random", 1),
                                  acts.get("keep", 1))
    # pure function of (doc_id, pos): a second run is identical
    again = textstats.mlm_mask_plan(
        docs, vocab, mask_per_10000=1500
    ).collect()
    key = lambda r: (r["doc_id"], r["pos"], r["action"], r["input_token"])
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_crawl_schedule_hand_computed(spark):
    """Two hosts: h1 gets 3 URLs prioritized by quality (10 > 5 > 5,
    doc_id tie ASC), h2 gets 1. Per-host sequences restart at 1;
    fetch_time = (seq-1)*delay with the md5-derived per-host delay;
    determinism across runs."""
    from luc4ir_spark.operators import textstats as ts

    urls = spark.createDataFrame(
        [(1, "h1", 5), (2, "h1", 10), (3, "h1", 5), (4, "h2", 1)],
        "doc_id long, host string, priority long",
    )
    got = {
        r["doc_id"]: r for r in ts.crawl_schedule(urls).collect()
    }
    assert [got[d]["host_seq"] for d in (2, 1, 3)] == [1, 2, 3]
    assert got[4]["host_seq"] == 1
    for d in (1, 2, 3, 4):
        r = got[d]
        assert 1 <= r["delay"] <= 5
        assert r["fetch_time"] == (r["host_seq"] - 1) * r["delay"]
    # same-host rows share one delay
    assert len({got[d]["delay"] for d in (1, 2, 3)}) == 1


def test_unimax_alloc_hand_computed(spark):
    """Sources 10/20/100 tokens, max_epochs=2, budget 100: ascending
    caps 20/40/200. s1: 20*3=60 <= 100 -> capped (alloc 20). s2:
    40*2=80 > 100-20=80? <= holds (80 <= 80) -> capped (alloc 40).
    s3: 200*1 > 40 -> shares leftover 40 alone: alloc 40, epochs
    0.4. Budget is exactly conserved."""
    from luc4ir_spark.operators import utilsops as ut

    src = spark.createDataFrame(
        [("s1", 10), ("s2", 20), ("s3", 100)],
        "source string, n_tokens long",
    )
    got = {
        r["source"]: r
        for r in ut.unimax_alloc(src, budget_tokens=100,
                                 max_epochs=2).collect()
    }
    assert got["s1"]["is_capped"] and got["s1"]["alloc_tokens"] == 20.0
    assert got["s1"]["epochs"] == 2.0
    assert got["s2"]["is_capped"] and got["s2"]["alloc_tokens"] == 40.0
    assert not got["s3"]["is_capped"]
    assert got["s3"]["alloc_tokens"] == 40.0
    assert got["s3"]["epochs"] == 0.4
    assert sum(r["alloc_tokens"] for r in got.values()) == 100.0
    # oversized budget: everyone capped, leftover unused
    rich = {
        r["source"]: r
        for r in ut.unimax_alloc(src, budget_tokens=10_000,
                                 max_epochs=2).collect()
    }
    assert all(r["is_capped"] for r in rich.values())
    assert all(r["epochs"] == 2.0 for r in rich.values())


def test_inbatch_negatives_properties(spark):
    """Every anchor pairs only with same-batch mates, gets exactly
    n_neg negatives when the batch is big enough, never itself; two
    anchors in one batch see different negative orderings."""
    from luc4ir_spark.functions import hashing as hx
    from luc4ir_spark.operators import utilsops as ut

    docs = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )
    rows = ut.inbatch_negatives(docs, n_neg=2, n_batches=4).collect()
    import collections

    batch_of = {
        i: (hx.MIX_A * (i % hx.MIX_P) + hx.MIX_B) % hx.MIX_P % 4
        for i in range(60)
    }
    per_anchor = collections.defaultdict(list)
    for r in rows:
        assert r["anchor_id"] != r["neg_id"]
        assert batch_of[r["anchor_id"]] == r["batch_id"]
        assert batch_of[r["neg_id"]] == r["batch_id"]
        per_anchor[r["anchor_id"]].append((r["neg_rank"], r["neg_id"]))
    assert all(len(v) == 2 for v in per_anchor.values())
    assert len(per_anchor) == 60
    # anchor-dependent draws: not every anchor in a batch shares the
    # same top negative
    tops = collections.defaultdict(set)
    for a, v in per_anchor.items():
        tops[batch_of[a]].add(min(v)[1])
    assert any(len(s) > 1 for s in tops.values())


def test_gazetteer_extract_hand_computed(spark):
    """Mention counts and first offsets for token and phrase
    entities; absent entities produce no rows; self-overlap counts
    once per replace convention."""
    docs = spark.createDataFrame(
        [
            (1, "new york is in new york state"),
            (2, "aaa"),
            (3, "nothing here"),
        ],
        "doc_id long, content string",
    )
    got = {
        (r["doc_id"], r["entity"]): (r["n_mentions"], r["first_offset"])
        for r in textstats.gazetteer_extract(
            docs, entities=("new york", "state", "aa", "zzz")
        ).collect()
    }
    assert got[(1, "new york")] == (2, 1)
    assert got[(1, "state")] == (1, 25)
    assert got[(2, "aa")] == (1, 1)     # 'aa' in 'aaa': replace once
    assert (3, "zzz") not in got
    assert all(k[1] != "zzz" for k in got)


def test_sitemap_extract_hand_computed(spark):
    """<loc> and optional <lastmod> pulled per <url> block in file
    order; blocks without a loc are dropped; lastmod '' when absent."""
    xml = (
        "<urlset>"
        "<url><loc>https://a/1</loc>"
        "<lastmod>2026-01-05</lastmod></url>"
        "<url><loc>https://a/2</loc></url>"
        "<url><priority>0.5</priority></url>"
        "</urlset>"
    )
    sm = spark.createDataFrame(
        [(1, xml), (2, "<urlset></urlset>")],
        "sitemap_id long, xml string",
    )
    rows = textstats.sitemap_extract(sm).collect()
    got = {(r["sitemap_id"], r["seq"]): (r["url"], r["lastmod"])
           for r in rows}
    assert got == {
        (1, 1): ("https://a/1", "2026-01-05"),
        (1, 2): ("https://a/2", ""),
    }


def test_group_gini_hand_computed(spark):
    """Uniform 4x25 -> gini 0; one group owning everything among 4
    groups -> (n-1)/n = 0.75; hand case [1,2,3,4]: sorted Σi·x = 1+4+
    9+16 = 30, G = (60 - 5*10)/(4*10) = 0.25."""
    from luc4ir_spark.operators import textstats as ts

    uniform = spark.createDataFrame(
        [(f"g{i % 4}",) for i in range(100)], "host string"
    )
    assert ts.group_gini(uniform, "host").collect()[0]["gini"] == 0.0
    skew = spark.createDataFrame(
        [("a",)] * 97 + [("b",), ("c",), ("d",)], "host string"
    )
    g = ts.group_gini(skew, "host").collect()[0]
    assert 0.7 < g["gini"] < 0.75
    steps = spark.createDataFrame(
        [("a",)] + [("b",)] * 2 + [("c",)] * 3 + [("d",)] * 4,
        "host string",
    )
    r = ts.group_gini(steps, "host").collect()[0]
    assert (r["n_groups"], r["total"], r["gini"]) == (4, 10, 0.25)


def test_warc_extract_hand_computed(spark):
    """Two records in one blob: headers parsed, body captured after
    the blank line (including embedded newlines); a record without
    WARC-Type is dropped; missing Content-Length -> NULL."""
    crlf = "\r\n"
    blob = (
        "WARC/1.0" + crlf
        + "WARC-Type: response" + crlf
        + "WARC-Target-URI: https://x/1" + crlf
        + "Content-Length: 11" + crlf + crlf
        + "hello world"
        + "WARC/1.0" + crlf
        + "WARC-Type: request" + crlf
        + "WARC-Target-URI: https://x/2" + crlf + crlf
        + "line1\nline2"
        + "WARC/1.0" + crlf
        + "X-Not-A-Warc: nope" + crlf + crlf + "junk"
    )
    w = spark.createDataFrame([(1, blob)], "file_id long, warc string")
    rows = textstats.warc_extract(w).collect()
    got = {r["seq"]: r for r in rows}
    assert set(got) == {1, 2}
    assert got[1]["warc_type"] == "response"
    assert got[1]["target_uri"] == "https://x/1"
    assert got[1]["content_length"] == 11
    assert got[1]["body"] == "hello world"
    assert got[2]["warc_type"] == "request"
    assert got[2]["content_length"] is None
    assert got[2]["body"] == "line1\nline2"


def test_maxsim_topk_hand_computed(spark):
    """Two docs of 2 token-vectors each; query of 2 tokens. MaxSim
    replayed in numpy: each query token picks its best doc token,
    votes sum; doc g0 aligned with the query wins."""
    import numpy as np
    import pytest as pt

    from luc4ir_spark.operators import annsearch as ann

    d = {
        0: [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
        1: [[0.0, 0.0, 1.0], [0.5, 0.5, 0.0]],
    }
    q = [[1.0, 0.0, 0.0], [0.0, 0.9, 0.1]]
    dt = spark.createDataFrame(
        [(g, v) for g, vs in d.items() for v in vs],
        "group_id long, vec array<double>",
    )
    qt = spark.createDataFrame(
        [("q", i, v) for i, v in enumerate(q)],
        "qid string, tok_id long, vec array<double>",
    )
    got = {
        r["group_id"]: (r["rank"], r["score"])
        for r in ann.maxsim_topk(qt, dt, k=5).collect()
    }

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for g, vs in d.items():
        want = sum(max(cos(qv, dv) for dv in vs) for qv in q)
        assert got[g][1] == pt.approx(round(want, 4), abs=1e-4), g
    assert got[0][0] == 1 and got[1][0] == 2


def test_vit_patch_plan_hand_computed(spark):
    """224x224 at patch 16 -> 14x14=196, no pad; 225x100 -> 15x7 with
    pad_x 15, pad_y 12; budget flag at max_patches."""
    from luc4ir_spark.operators import multimodal as mm

    imgs = spark.createDataFrame(
        [(1, 224, 224), (2, 225, 100), (3, 1024, 1024)],
        "image_id long, width long, height long",
    )
    got = {
        r["image_id"]: r
        for r in mm.vit_patch_plan(
            imgs, patch=16, max_patches=2500
        ).collect()
    }
    assert (got[1]["patches_x"], got[1]["patches_y"]) == (14, 14)
    assert got[1]["n_patches"] == 196
    assert (got[1]["pad_x"], got[1]["pad_y"]) == (0, 0)
    assert (got[2]["patches_x"], got[2]["patches_y"]) == (15, 7)
    assert (got[2]["pad_x"], got[2]["pad_y"]) == (15, 12)
    assert not got[2]["over_budget"]
    assert got[3]["n_patches"] == 64 * 64 and got[3]["over_budget"]


def test_chunked_pair_joins_multi_chunk_exact(spark):
    """Round-6 balanced chunk-pair machinery: with a bucket BIGGER than
    one chunk (PAIR_CHUNK_ROWS = 256 -> 300 identical docs = 2 chunks
    per bucket) the chunk-pair self-join and the cross-grid join must
    reproduce the flat join's exact pair sets — C(300,2) within one
    corpus, 300x300 across two — all at jaccard 1.0."""
    from pyspark.sql import functions as F

    from luc4ir_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, ["alpha", "beta", "gamma"]) for i in range(300)],
        "doc_id long, tokens array<string>",
    )
    out = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    assert out.count() == 300 * 299 // 2
    assert out.filter(F.col("jaccard") != 1.0).count() == 0
    B = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "tokens")
    nj = dedup.minhash_lsh_join(docs, B, threshold=0.9).count()
    assert nj == 300 * 300
