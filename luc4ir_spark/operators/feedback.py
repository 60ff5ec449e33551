"""Pseudo-relevance feedback: relevance models, KL rerank, query
expansion, diversity rerank, clarity — the reference's second-pass
operators over the top-k (reference: feedback/*, wired at
retriever/TrecDocRetriever.java:201-258).

All operators work on the run (qid, doc_id, rank, score) plus the flat
postings table, which doubles as the forward term-vector store: the
reference stores per-doc term vectors in its index
(indexing/TrecDocIndexer.java:212) and walks them via getTermVector
(feedback/RetrievedDocsTermStats.java:79-108); here the same
(term, doc_id, tf, doc_len) rows serve both directions — the inverted
access is a join on term, the forward access a join on doc_id.

Scale shape: every operator is (top-m docs per query) ⋈ postings — the
join output is bounded by |queries| × m × avg_doc_vocab, shuffled by
qid; the postings side is semi-join-pruned by the top-doc set first.

Estimators (reference: feedback/RelevanceModelIId.java:90-129,
RelevanceModelConditional.java:24-48):
- mixTfIdf(w, D) = lam*tf(w,D)/|D| + (1-lam)*df_top(w)/sumDf
  (df_top over the top-m pool; lam default 1.0 per the reference's
  generated retrieve.properties fdbk.lambda=1)
- rm_cond:  P(w|R) = sum_D mixTfIdf(w,D) * sim(D) / sumSim
- rm_iid:   P(w|R) ∝ lam*tf_pool(w)/sumTf + (1-lam)*df_top(w)/sumDf
  (the reference multiplies by a per-query constant query-likelihood
  factor which normalization cancels; we normalize, so it is dropped)
Both are normalized to sum to 1 per query.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .indexer import InvertedIndex

KL_EPS = 1e-4  # reference floors P(w|D) at 1e-4 (KLDivReranker.java:25-52)


def topdocs_term_stats(
    index: InvertedIndex, run: DataFrame, num_top_docs: int = 10
) -> DataFrame:
    """F1: explode the top-m docs of each query into per-(qid, term, doc)
    rows with tf, doc_len, sim (reference:
    feedback/RetrievedDocsTermStats.java:52-110)."""
    top = run.filter(F.col("rank") <= num_top_docs).select(
        "qid", "doc_id", F.col("score").alias("sim")
    )
    return index.postings.join(top, "doc_id").select(
        "qid", "term", "doc_id", "tf", "doc_len", "sim"
    )


def significant_terms(
    index: InvertedIndex,
    run: DataFrame,
    num_top_docs: int = 10,
    top_m: int = 5,
) -> DataFrame:
    """Significant-terms aggregation (Elasticsearch significant_text /
    the analytics face of relevance feedback): per query, the terms
    most over-represented in its top-``num_top_docs`` documents
    relative to the whole corpus, scored by the weighted log-odds
    contribution sig = tf_fb · ln((tf_fb/T_fb) / (cf/T)). The RM
    weights (F2/F3) answer "what should I add to the query"; this
    answers "what characterizes the result set" — the drill-in panel a
    corpus-exploration UI shows. -> (qid, term, rank, sig), rank by
    sig desc then term asc, top ``top_m`` per query.

    Plan: the feedback-set postings join (`topdocs_term_stats` shape),
    one (qid, term) partial agg — queries×top-docs sized, tiny — then
    the vocab join runs with the AGGREGATED side broadcast, so the
    term dictionary is never shuffled."""
    fb = topdocs_term_stats(index, run, num_top_docs)
    # tf_fb feeds BOTH the per-query total and the vocab join as
    # broadcast consumers — materialize once (GC-scoped) so the
    # feedback-set postings join isn't executed per consumer
    tf_fb = fb.groupBy("qid", "term").agg(
        F.sum("tf").alias("tf_fb")
    ).localCheckpoint(eager=False)
    tot_fb = tf_fb.groupBy("qid").agg(F.sum("tf_fb").alias("t_fb"))
    t_corpus = float(index.stats.total_tokens)
    joined = index.term_stats.select("term", "cf").join(
        F.broadcast(tf_fb), "term"
    ).join(F.broadcast(tot_fb), "qid")
    sig = F.col("tf_fb") * F.log(
        (F.col("tf_fb") / F.col("t_fb"))
        / (F.col("cf") / F.lit(t_corpus))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sig").desc(), F.col("term").asc()
    )
    return (
        joined.withColumn("sig", sig)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_m)
        .select("qid", "term", "rank", "sig")
    )


def relevance_model(
    index: InvertedIndex,
    run: DataFrame,
    num_top_docs: int = 10,
    lam: float = 1.0,
    variant: str = "rlm_cond",
) -> DataFrame:
    """-> (qid, term, wt) with sum(wt)=1 per qid. variant: rlm_cond
    (reference default, retrieve_trecd45.sh rlm.type) or rlm_iid.

    Sharing: ``run`` usually carries the FULL first-pass scoring plan,
    and this function consumes it from four places (the feedback-set
    postings join feeding per_q / df_top / the mix, plus the sum_sim
    aggregate) — without materialization every consumer re-executes the
    whole retrieval (measured: qq_jsdiv's four-way rlm fan-out re-ran
    the scoring subtree ~16x, 26 s at sf0.01/local[8]). The top-docs
    slice (queries×m rows) and the feedback-set postings join
    (queries×m×terms rows) are each GC-scoped localCheckpoint-ed so
    the first pass runs ONCE and every aggregate reads the tiny
    materialized relations; both are feedback-sized, never
    corpus-sized."""
    top = (
        run.filter(F.col("rank") <= num_top_docs)
        .select("qid", "doc_id", F.col("score").alias("sim"))
        .localCheckpoint(eager=False)
    )
    dt = (
        index.postings.join(top, "doc_id")
        .select("qid", "term", "doc_id", "tf", "doc_len", "sim")
        .localCheckpoint(eager=False)
    )

    per_q = dt.groupBy("qid").agg(
        F.sum(F.col("tf")).alias("sum_tf_pool"),
        F.count(F.lit(1)).cast("double").alias("sum_df"),  # Σ_w df_top(w)
    )
    sims = top.groupBy("qid").agg(F.sum("sim").alias("sum_sim"))
    df_top = dt.groupBy("qid", "term").agg(
        F.countDistinct("doc_id").cast("double").alias("df_top"),
        F.sum("tf").cast("double").alias("tf_pool"),
    )

    if variant == "rlm_cond":
        wt = (
            dt.join(df_top, ["qid", "term"])
            .join(F.broadcast(per_q), "qid")
            .join(F.broadcast(sims), "qid")
            .withColumn(
                "mix",
                F.lit(lam) * F.col("tf") / F.col("doc_len")
                + F.lit(1.0 - lam) * F.col("df_top") / F.col("sum_df"),
            )
            .withColumn("contrib", F.col("mix") * F.col("sim") / F.col("sum_sim"))
            .groupBy("qid", "term")
            .agg(F.sum("contrib").alias("wt_raw"))
        )
    elif variant == "rlm_iid":
        wt = (
            df_top.join(F.broadcast(per_q), "qid")
            .withColumn(
                "wt_raw",
                F.lit(lam) * F.col("tf_pool") / F.col("sum_tf_pool")
                + F.lit(1.0 - lam) * F.col("df_top") / F.col("sum_df"),
            )
            .select("qid", "term", "wt_raw")
        )
    else:
        raise ValueError(f"unknown relevance model variant: {variant}")

    # wt feeds both the normalizer and the final join — materialize the
    # (queries × vocab)-sized relation once instead of re-aggregating
    wt = wt.localCheckpoint(eager=False)
    norms = wt.groupBy("qid").agg(F.sum("wt_raw").alias("z"))
    return wt.join(F.broadcast(norms), "qid").select(
        "qid", "term", (F.col("wt_raw") / F.col("z")).alias("wt")
    )


def kl_divergence_rerank(
    index: InvertedIndex,
    run: DataFrame,
    rlm: DataFrame,
    num_top_docs: int = 10,
) -> DataFrame:
    """F4: rerank the top-m docs ASCENDING by
    KL(RLM || doc LM) = Σ_w wt·ln(wt / P(w|D)), P(w|D)=tf/|D| floored at
    1e-4 (reference: feedback/KLDivReranker.java:25-52; ascending sort
    at :48)."""
    docs = run.filter(F.col("rank") <= num_top_docs).select("qid", "doc_id")
    # (qid, w) × (qid, doc): bounded by |rlm vocab| × m per query
    pairs = rlm.join(docs, "qid")
    tf = index.postings.select("term", "doc_id", "tf", "doc_len")
    joined = pairs.join(tf, ["term", "doc_id"], "left").withColumn(
        "p_wd",
        F.greatest(
            F.coalesce(F.col("tf") / F.col("doc_len"), F.lit(0.0)),
            F.lit(KL_EPS),
        ),
    )
    kl = joined.groupBy("qid", "doc_id").agg(
        F.sum(F.col("wt") * F.log(F.col("wt") / F.col("p_wd"))).alias("kl")
    )
    w = Window.partitionBy("qid").orderBy(F.col("kl").asc(), F.col("doc_id").asc())
    return kl.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "qid", "doc_id", "rank", F.col("kl").alias("score")
    )


def expand_query(
    rlm: DataFrame,
    query_terms: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    num_expansion_terms: int = 10,
    fb_weight: float = 0.2,
) -> DataFrame:
    """Q5/F9: RLM query expansion (reference:
    feedback/RelevanceModelIId.java:164-235): ALL feedback-doc terms
    (originals included) are weighted RLM-wt × ln(N/df) and the
    normalizer z sums over that full set — originals are skipped only at
    SELECTION time, exactly as the reference accumulates its norm before
    filtering. Top ``num_expansion_terms`` non-original terms get weight
    fb_weight·wnorm; original terms get (1-fb_weight)/|q|. Returns
    (qid, term, weight) for a re-retrieval pass with
    retrieval.score_queries."""
    orig = query_terms.select("qid", "term").distinct()
    all_terms = rlm.join(term_stats.select("term", "df"), "term").withColumn(
        "wtidf", F.col("wt") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    z = all_terms.groupBy("qid").agg(F.sum("wtidf").alias("z"))
    cand = (
        all_terms.join(orig, ["qid", "term"], "left_anti")
        .join(F.broadcast(z), "qid")
        .withColumn("wnorm", F.col("wtidf") / F.col("z"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("wnorm").desc(), F.col("term").asc()
    )
    new_terms = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= num_expansion_terms)
        .select(
            "qid", "term", (F.lit(fb_weight) * F.col("wnorm")).alias("weight")
        )
    )
    n_orig = orig.groupBy("qid").agg(F.count(F.lit(1)).alias("nq"))
    orig_w = orig.join(F.broadcast(n_orig), "qid").select(
        "qid", "term", (F.lit(1.0 - fb_weight) / F.col("nq")).alias("weight")
    )
    return orig_w.unionByName(new_terms)


def rocchio_expand(
    index,
    run: DataFrame,
    query_terms: DataFrame,
    num_top_docs: int = 3,
    alpha: float = 1.0,
    beta: float = 0.75,
    top_m: int = 10,
) -> DataFrame:
    """Rocchio pseudo-relevance feedback (Rocchio 1971; the
    vector-space classic every IR engine ships, e.g. Lucene/Solr's
    MoreLikeThis-style expansion and Anserini's Rocchio): the new
    query vector is

        q' = alpha * q  +  beta * centroid(top-k doc tf-idf vectors)

    with doc weights w(t, d) = tf * ln(N / df) and the centroid
    truncated to its ``top_m`` heaviest terms (practical Rocchio —
    untruncated centroids drag the whole pool vocabulary into the
    re-query). The gamma/non-relevant term is omitted: with PSEUDO
    feedback there is no non-relevant set. -> (qid, term, weight).

    The truncation window orders by (centroid ROUNDED to 4dp DESC,
    term ASC) — the same engine-stable keep-set rule as
    ``rm3_interpolate``; the combined weight then uses the RAW
    centroid. All relations are pool-sized (k docs x their terms)."""
    top = run.filter(F.col("rank") <= int(num_top_docs)).select(
        "qid", "doc_id"
    )
    nrel = top.groupBy("qid").agg(
        F.count(F.lit(1)).cast("double").alias("n_rel")
    )
    n = float(index.stats.n_docs)
    dt = (
        index.postings.join(top, "doc_id")
        .join(index.term_stats.select("term", "df"), "term")
        .select(
            "qid",
            "term",
            (
                F.col("tf") * F.log(F.lit(n) / F.col("df"))
            ).alias("_w"),
        )
    )
    cent = (
        dt.groupBy("qid", "term")
        .agg(F.sum("_w").alias("_sw"))
        .join(F.broadcast(nrel), "qid")
        .select(
            "qid", "term", (F.col("_sw") / F.col("n_rel")).alias("cent")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.round("cent", 4).desc(), F.col("term").asc()
    )
    kept = (
        cent.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(top_m))
        .select("qid", "term", "cent")
    )
    qt = query_terms
    if "weight" not in qt.columns:
        qt = qt.withColumn("weight", F.lit(1.0))
    j = qt.select("qid", "term", F.col("weight").alias("qw")).join(
        kept, ["qid", "term"], "full_outer"
    )
    return j.select(
        "qid",
        "term",
        (
            F.lit(float(alpha)) * F.coalesce("qw", F.lit(0.0))
            + F.lit(float(beta)) * F.coalesce("cent", F.lit(0.0))
        ).alias("weight"),
    )


def bo1_expand(
    index,
    run: DataFrame,
    num_top_docs: int = 3,
    top_m: int = 10,
) -> DataFrame:
    """Bo1 (Bose-Einstein 1) DFR term weighting for pseudo-relevance
    query expansion — Terrier's DEFAULT expansion model (Amati's
    thesis / Amati & van Rijsbergen TOIS'02 §6; Macdonald & Ounis use
    it throughout the Terrier literature), completing the expansion
    family next to RM3, Rocchio and significant_terms:

        w(t) = tf_x(t) · log2((1 + λ_t)/λ_t) + log2(1 + λ_t)
        λ_t  = cf(t) / N

    with tf_x the term's total frequency in the top-``num_top_docs``
    pool. The informativeness is the Bose-Einstein geometric
    approximation: a term whose pool frequency exceeds its collection
    rate by the widest (length-free) margin ranks first. log2 spelled
    ln/ln2 (engine parity). -> (qid, term, tf_x, weight), the top_m
    heaviest per query; the truncation window orders by (weight
    ROUNDED to 4dp DESC, term ASC) — the engine-stable keep-set rule
    of `rocchio_expand`/`rm3_interpolate`.

    Plan shape: ONE postings join against the pool (pool-sized
    output), the (term, cf) dictionary join, a per-qid window
    over pool-vocabulary-sized relations. Corpus scanned once."""
    ln2 = math.log(2.0)
    top = run.filter(F.col("rank") <= int(num_top_docs)).select(
        "qid", "doc_id"
    )
    pool = (
        index.postings.join(top, "doc_id")
        .groupBy("qid", "term")
        .agg(F.sum("tf").cast("long").alias("tf_x"))
    )
    n = float(index.stats.n_docs)
    lam = F.col("cf").cast("double") / F.lit(n)
    w_t = (
        F.col("tf_x").cast("double")
        * F.log((F.lit(1.0) + lam) / lam)
        / F.lit(ln2)
        + F.log(F.lit(1.0) + lam) / F.lit(ln2)
    )
    scored = pool.join(index.term_stats.select("term", "cf"), "term").select(
        "qid", "term", "tf_x", w_t.alias("weight")
    )
    w = Window.partitionBy("qid").orderBy(
        F.round("weight", 4).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(top_m))
        .select("qid", "term", "tf_x", "weight")
    )


def rm3_interpolate(
    rlm: DataFrame,
    query_terms: DataFrame,
    num_expansion_terms: int = 10,
    orig_weight: float = 0.5,
) -> DataFrame:
    """RM3 (Abdul-Jaleel et al., UMass TREC'04; Indri's
    ``fbOrigWeight`` — the canonical pseudo-relevance-feedback
    interpolation the RM1 model is almost always deployed as):
    truncate the relevance model to its top ``num_expansion_terms``
    terms per query, renormalize the kept mass to 1, then mix with the
    original query's MLE model over the UNION of vocabularies:

        w(t) = orig_weight * P(t|Q) + (1 - orig_weight) * P_RM1'(t)

    -> (qid, term, weight), ready for retrieval.score_queries.

    The truncation window orders by (wt ROUNDED to 4dp DESC, term ASC)
    — raw float wt can differ across engines by an ulp near ties, and
    a swapped keep/drop at the boundary changes the model; the 4dp
    grid (the same grid every RM gate proves cross-engine equal) plus
    the term tiebreak makes the kept set engine-stable. Renormalization
    then uses the RAW kept wt. Hit-sized relations throughout."""
    lam = float(orig_weight)
    w = Window.partitionBy("qid").orderBy(
        F.round("wt", 4).desc(), F.col("term").asc()
    )
    kept = (
        rlm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(num_expansion_terms))
        .select("qid", "term", "wt")
    )
    z = kept.groupBy("qid").agg(F.sum("wt").alias("z"))
    prm = kept.join(F.broadcast(z), "qid").select(
        "qid", "term", (F.col("wt") / F.col("z")).alias("p_rm")
    )
    qt = query_terms
    if "weight" not in qt.columns:
        qt = qt.withColumn("weight", F.lit(1.0))
    qs = qt.groupBy("qid").agg(F.sum("weight").alias("qs"))
    porig = qt.join(F.broadcast(qs), "qid").select(
        "qid", "term", (F.col("weight") / F.col("qs")).alias("p_q")
    )
    j = porig.join(prm, ["qid", "term"], "full_outer")
    return j.select(
        "qid",
        "term",
        (
            F.lit(lam) * F.coalesce("p_q", F.lit(0.0))
            + F.lit(1.0 - lam) * F.coalesce("p_rm", F.lit(0.0))
        ).alias("weight"),
    )


def query_clarity(
    rlm: DataFrame, term_stats: DataFrame, total_tokens: int
) -> DataFrame:
    """F6: clarity = KL(RLM || collection LM), collection model
    cf/total (reference: feedback/RelevanceModelIId.java:136-160)."""
    return (
        rlm.join(term_stats.select("term", "cf"), "term")
        .withColumn("p_coll", F.col("cf") / F.lit(float(total_tokens)))
        .groupBy("qid")
        .agg(
            F.sum(
                F.col("wt") * F.log(F.col("wt") / F.col("p_coll"))
            ).alias("clarity")
        )
    )


def query_query_similarity(
    rlm_a: DataFrame, rlm_b: DataFrame
) -> DataFrame:
    """F7: Jensen-Shannon divergence between two queries' relevance
    models (reference: retriever/TrecDocRetriever.java:109-175 — mean of
    KL(p||avg), KL(q||avg) over the merged vocabularies).

    Each side's relevance-model plan is consumed twice below (the
    qid-universe distinct and the full-outer merge), and an RLM plan
    contains the entire first-pass retrieval — materialize each input
    once (GC-scoped; RLMs are queries×vocab-sized). The common
    rlm_a-is-rlm_b self-similarity call shares ONE checkpoint across
    all four consumers."""
    if rlm_a is rlm_b:
        rlm_a = rlm_b = rlm_a.localCheckpoint(eager=False)
    else:
        rlm_a = rlm_a.localCheckpoint(eager=False)
        rlm_b = rlm_b.localCheckpoint(eager=False)
    a = rlm_a.select("qid", "term", F.col("wt").alias("pa"))
    b = rlm_b.select(F.col("qid").alias("qid_b"), "term", F.col("wt").alias("pb"))
    # all (qid, qid_b) pairs, merged vocab per pair, missing side -> 0
    pairs = a.select("qid").distinct().crossJoin(b.select("qid_b").distinct())
    a_full = pairs.join(a, "qid")
    b_full = pairs.join(b, "qid_b")
    merged = (
        a_full.join(b_full, ["qid", "qid_b", "term"], "full")
        .withColumn("pa0", F.coalesce("pa", F.lit(0.0)))
        .withColumn("pb0", F.coalesce("pb", F.lit(0.0)))
        .withColumn("avg", (F.col("pa0") + F.col("pb0")) / 2.0)
    )
    kl_a = F.sum(
        F.when(
            F.col("pa0") > 0, F.col("pa0") * F.log(F.col("pa0") / F.col("avg"))
        ).otherwise(0.0)
    )
    kl_b = F.sum(
        F.when(
            F.col("pb0") > 0, F.col("pb0") * F.log(F.col("pb0") / F.col("avg"))
        ).otherwise(0.0)
    )
    return merged.groupBy("qid", "qid_b").agg(
        ((kl_a + kl_b) / 2.0).alias("js_divergence")
    )


def diversity_rerank(
    index: InvertedIndex,
    run: DataFrame,
    num_rerank: int = 5,
) -> DataFrame:
    """F5: greedy diversity rerank — an MMR-style RE-EXPRESSION of the
    reference's diversity reranker (feedback/DiversityReranker.java:
    66-141), not a literal transcription of its gain: we iteratively
    select the doc maximizing retrieval-score / (1 + cosine(doc
    tf-vector, selected pool)), folding each selection into the pool.
    The reference divides by an idf-weighted pool-LM dot product
    (sum_w wt(w)·P(w|D), wt = tf/pool_size · idf — no damping, no
    cosine normalization), so selection ORDER can differ; what matches
    exactly is the structure (greedy pool-penalized selection over the
    top-m) and the final 1/rank score overwrite (reference :137).

    Inherently sequential per query -> per-qid ``applyInPandas`` over at
    most k docs/query (never a scale hazard: group size is bounded by
    the run depth, not the corpus)."""
    from ..deploy import ensure_package_on_executors

    ensure_package_on_executors(run.sparkSession)
    docs = run.select("qid", "doc_id", "rank", "score")
    tv = index.postings.select("doc_id", "term", "tf")
    joined = docs.join(tv, "doc_id").select(
        "qid", "doc_id", "rank", "score", "term", "tf"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["qid"].iloc[0]
        terms = {t: i for i, t in enumerate(pdf["term"].unique())}
        docs_meta = (
            pdf[["doc_id", "rank", "score"]]
            .drop_duplicates("doc_id")
            .sort_values("rank")
        )
        mat = np.zeros((len(docs_meta), len(terms)))
        did_to_row = {d: i for i, d in enumerate(docs_meta["doc_id"])}
        for r in pdf.itertuples(index=False):
            mat[did_to_row[r.doc_id], terms[r.term]] = r.tf
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        base = docs_meta["score"].to_numpy().astype(float)
        n = len(docs_meta)
        k = min(num_rerank, n)
        selected: list[int] = []
        pool = np.zeros(len(terms))
        remaining = np.ones(n, dtype=bool)
        for _ in range(k):
            pn = np.linalg.norm(pool)
            sim = unit @ (pool / pn) if pn > 0 else np.zeros(n)
            gain = np.where(remaining, base / (1.0 + np.maximum(sim, 0)), -np.inf)
            pick = int(np.argmax(gain))
            selected.append(pick)
            remaining[pick] = False
            pool = pool + mat[pick]
        # unselected docs keep their relative order after the selected
        tail = [i for i in range(n) if remaining[i]]
        order = selected + tail
        out_ids = docs_meta["doc_id"].to_numpy()[order]
        ranks = np.arange(1, n + 1)
        return pd.DataFrame(
            {
                "qid": [qid] * n,
                "doc_id": out_ids,
                "rank": ranks,
                "score": 1.0 / ranks,  # reference sets 1/rank
            }
        )

    return joined.groupBy("qid").applyInPandas(
        rerank, "qid string, doc_id long, rank long, score double"
    )


def xquad_rerank(
    index: InvertedIndex,
    query_terms: DataFrame,
    k_cands: int = 5,
    k_out: int = 3,
    lam: float = 0.5,
) -> DataFrame:
    """xQuAD explicit diversification (Santos, Macdonald & Ounis
    WWW'10, "Exploiting Query Reformulations for Web Result
    Diversification") with the standard uniform-query-aspects
    instantiation (each query TERM is one aspect, P(t|q) = 1/|terms|):
    greedily pick

      gain(d) = (1−λ)·P(d|q) + λ·(1/nt)·Σ_t P(d|t)·Π_{d'∈S}(1−P(d'|t))

    where P(d|q) is the candidate-normalized BM25 score and P(d|t) the
    candidate-normalized per-term BM25 contribution; after each pick
    the aspect coverage c_t multiplies by (1 − P(pick|t)), so aspects
    already covered stop paying. Gains are rounded to 4dp BEFORE each
    argmax (doc_id ties ASC) — the engine-stable greedy convention.
    -> (qid, doc_id, rank, xquad) for the k_out picks, xquad = the
    selection-step gain.

    Fully relational (unlike `diversity_rerank`'s pandas kernel —
    xQuAD's gain is a per-aspect SUM, so each greedy step is a
    run-sized join + aggregate): every relation after the one postings
    scan is (queries × k_cands) or (queries × terms)-sized; the k_out
    loop localCheckpoints its tiny state so the plan stays linear."""
    from .retrieval import (
        Similarity,
        _per_posting_score,
        enrich_query_terms,
        rank_topk,
        score_fold,
    )

    qt = query_terms.select("qid", "term").distinct()
    qte = enrich_query_terms(index, qt)
    contrib = _per_posting_score(Similarity(), index.stats)
    pdt_all = index.postings.join(F.broadcast(qte), "term").select(
        "qid", "term", "doc_id", contrib.alias("s")
    )
    run = rank_topk(
        pdt_all.groupBy("qid", "doc_id").agg(score_fold("s").alias("score")),
        k_cands,
    ).localCheckpoint(eager=False)
    qsum = run.groupBy("qid").agg(score_fold("score").alias("_zs"))
    rel = run.join(qsum, "qid").select(
        "qid", "doc_id", (F.col("score") / F.col("_zs")).alias("rel")
    )
    pdt = pdt_all.join(
        run.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi"
    )
    zt = pdt.groupBy("qid", "term").agg(score_fold("s").alias("_z"))
    pa = (
        pdt.join(zt.filter(F.col("_z") > 0), ["qid", "term"])
        .select(
            "qid", "term", "doc_id", (F.col("s") / F.col("_z")).alias("pa")
        )
        .localCheckpoint(eager=False)
    )
    nt = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("double").alias("_nt")
    )
    cov = qt.select("qid", "term").withColumn("c", F.lit(1.0))
    remaining = rel
    picks = []
    for step in range(1, int(k_out) + 1):
        div = (
            pa.join(cov, ["qid", "term"])
            .groupBy("qid", "doc_id")
            .agg(score_fold(F.col("pa") * F.col("c")).alias("_div"))
        )
        gained = (
            remaining.join(div, ["qid", "doc_id"], "left")
            .join(F.broadcast(nt), "qid")
            .select(
                "qid",
                "doc_id",
                "rel",
                F.round(
                    F.lit(1.0 - float(lam)) * F.col("rel")
                    + F.lit(float(lam))
                    * (
                        F.coalesce(F.col("_div"), F.lit(0.0))
                        / F.col("_nt")
                    ),
                    4,
                ).alias("g"),
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("g").desc(), F.col("doc_id").asc()
        )
        pick = (
            gained.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "qid", "doc_id",
                F.lit(step).cast("long").alias("rank"),
                F.col("g").alias("xquad"),
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        remaining = remaining.join(
            pick.select("qid", "doc_id"), ["qid", "doc_id"], "left_anti"
        ).localCheckpoint(eager=False)
        pa_pick = pa.join(
            pick.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi"
        ).select("qid", "term", F.col("pa").alias("_pp"))
        cov = (
            cov.join(pa_pick, ["qid", "term"], "left")
            .select(
                "qid",
                "term",
                (
                    F.col("c")
                    * (F.lit(1.0) - F.coalesce(F.col("_pp"), F.lit(0.0)))
                ).alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def pm2_rerank(
    index: InvertedIndex,
    query_terms: DataFrame,
    k_cands: int = 5,
    k_out: int = 3,
    lam: float = 0.5,
) -> DataFrame:
    """PM-2 proportionality-based diversification (Dang & Croft
    SIGIR'12, "Diversity by Proportionality") with uniform query-term
    aspects (w_i = 1/|terms|, the same instantiation as
    ``xquad_rerank``). Each greedy step runs the Sainte-Laguë seat
    allocation:

      quotient qt_i = w_i / (2·s_i + 1)           (seats s_i start 0)
      i*  = argmax_i qt_i                         (4dp round, term ASC)
      d*  = argmax_d λ·qt_{i*}·P(d|i*)
                   + (1−λ)·Σ_{i≠i*} qt_i·P(d|i)   (4dp round, doc ASC)
      s_i += P(d*|i) / Σ_j P(d*|j)                (for every aspect i)

    P(d|i) is the candidate-normalized per-term BM25 contribution
    (identical to xQuAD's P(d|t)). Quotients are rounded to 4dp before
    the aspect argmax and doc scores to 4dp before the doc argmax —
    the engine-stable greedy convention; seat state stays raw.
    -> (qid, doc_id, rank, pm2) for the k_out picks, pm2 = the
    4dp-rounded selection score.

    Fully relational, same 100-TB shape as xQuAD: one postings scan,
    then every step's relations are (queries × k_cands) or
    (queries × terms)-sized with localCheckpointed tiny state — the
    greedy depth k_out is a constant, never data-sized."""
    from .retrieval import (
        Similarity,
        _per_posting_score,
        enrich_query_terms,
        rank_topk,
        score_fold,
    )

    qt = query_terms.select("qid", "term").distinct()
    qte = enrich_query_terms(index, qt)
    contrib = _per_posting_score(Similarity(), index.stats)
    pdt_all = index.postings.join(F.broadcast(qte), "term").select(
        "qid", "term", "doc_id", contrib.alias("s")
    )
    run = rank_topk(
        pdt_all.groupBy("qid", "doc_id").agg(score_fold("s").alias("score")),
        k_cands,
    ).localCheckpoint(eager=False)
    pdt = pdt_all.join(
        run.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi"
    )
    zt = pdt.groupBy("qid", "term").agg(score_fold("s").alias("_z"))
    pa = (
        pdt.join(zt.filter(F.col("_z") > 0), ["qid", "term"])
        .select(
            "qid", "term", "doc_id", (F.col("s") / F.col("_z")).alias("pa")
        )
        .localCheckpoint(eager=False)
    )
    nt = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("double").alias("_nt")
    )
    # seat state: (qid, term, w, seat); w = 1/nt uniform
    seats = qt.join(F.broadcast(nt), "qid").select(
        "qid", "term", (F.lit(1.0) / F.col("_nt")).alias("w"),
        F.lit(0.0).alias("seat"),
    )
    remaining = run.select("qid", "doc_id")
    picks = []
    for step in range(1, int(k_out) + 1):
        quot = seats.select(
            "qid", "term", "w", "seat",
            (F.col("w") / (F.lit(2.0) * F.col("seat") + F.lit(1.0))
             ).alias("qt"),
        ).localCheckpoint(eager=False)
        wq = Window.partitionBy("qid").orderBy(
            F.round(F.col("qt"), 4).desc(), F.col("term").asc()
        )
        best = (
            quot.withColumn("_rn", F.row_number().over(wq))
            .filter(F.col("_rn") == 1)
            .select("qid", F.col("term").alias("_bt"))
        )
        # per-(doc, aspect) weighted proportionality contributions
        contrib_da = (
            pa.join(remaining, ["qid", "doc_id"], "left_semi")
            .join(quot.select("qid", "term", "qt"), ["qid", "term"])
            .join(F.broadcast(best), "qid")
        )
        scored = (
            contrib_da.groupBy("qid", "doc_id")
            .agg(
                score_fold(
                    F.when(
                        F.col("term") == F.col("_bt"),
                        F.lit(float(lam)) * F.col("qt") * F.col("pa"),
                    ).otherwise(
                        F.lit(1.0 - float(lam)) * F.col("qt") * F.col("pa")
                    )
                ).alias("_g")
            )
            .select("qid", "doc_id", F.round(F.col("_g"), 4).alias("g"))
        )
        # docs in `remaining` with no surviving aspect mass score 0
        scored = (
            remaining.join(scored, ["qid", "doc_id"], "left")
            .select(
                "qid", "doc_id",
                F.coalesce(F.col("g"), F.lit(0.0)).alias("g"),
            )
        )
        wd = Window.partitionBy("qid").orderBy(
            F.col("g").desc(), F.col("doc_id").asc()
        )
        pick = (
            scored.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .select(
                "qid", "doc_id",
                F.lit(step).cast("long").alias("rank"),
                F.col("g").alias("pm2"),
            )
            .localCheckpoint(eager=False)
        )
        picks.append(pick)
        remaining = remaining.join(
            pick.select("qid", "doc_id"), ["qid", "doc_id"], "left_anti"
        ).localCheckpoint(eager=False)
        # seat update: s_i += pa(d*, i) / sum_j pa(d*, j)
        pa_pick = pa.join(
            pick.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi"
        ).select("qid", "term", F.col("pa").alias("_pp"))
        zpick = pa_pick.groupBy("qid").agg(score_fold("_pp").alias("_zp"))
        seats = (
            seats.join(pa_pick, ["qid", "term"], "left")
            .join(F.broadcast(zpick), "qid", "left")
            .select(
                "qid", "term", "w",
                (
                    F.col("seat")
                    + F.when(
                        F.col("_zp") > 0,
                        F.coalesce(F.col("_pp"), F.lit(0.0))
                        / F.col("_zp"),
                    ).otherwise(F.lit(0.0))
                ).alias("seat"),
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def retrieve_with_feedback(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 1000,
    sim=None,
    num_top_docs: int = 10,
    lam: float = 1.0,
    variant: str = "rlm_cond",
    rerank: str = "kl",
    expand: bool = False,
    num_expansion_terms: int = 10,
    fb_weight: float = 0.2,
) -> DataFrame:
    """F9: the reference's full feedback flow in one composition
    (reference: retriever/TrecDocRetriever.java:181-258 — retrieve ->
    estimate RLM on the top docs -> KL-rerank them -> optionally expand
    the query and re-retrieve at full depth).

    Returns the final run (qid, doc_id, rank, score). With
    ``expand=True`` the result is a full re-retrieval with the weighted
    expanded query; otherwise the KL-reranked feedback docs are spliced
    ahead of the remaining first-pass results (reference keeps the tail
    ranks unchanged below the reranked head).

    The first-pass run is materialized ONCE via a GC-scoped lazy
    localCheckpoint (queries×k rows — run-sized, never corpus-sized):
    the relevance model, the KL-rerank head and the spliced tail all
    consume it, and since relevance_model itself checkpoints its
    feedback-set slices (round-6 sharing fix), relying on ReuseExchange
    alone would leave the checkpointed RM branch re-running the scoring
    subtree while head/tail shared exchanges among themselves. Note
    the round-6 finding (CLAUDE.md): under pyspark's default
    pin-thread gateway these checkpoints are session-pinned (py4j
    never detaches), so treat them as BOUNDED run-sized cached
    relations per call — the invariant
    test_retrieve_with_feedback_bounded_cached_rdds asserts."""
    from .retrieval import score_queries

    first = score_queries(index, query_terms, k=k, sim=sim).localCheckpoint(
        eager=False
    )
    rlm = relevance_model(
        index, first, num_top_docs=num_top_docs, lam=lam, variant=variant
    )
    if expand:
        expanded = expand_query(
            rlm,
            query_terms,
            index.term_stats,
            index.stats.n_docs,
            num_expansion_terms=num_expansion_terms,
            fb_weight=fb_weight,
        )
        return score_queries(index, expanded, k=k, sim=sim)
    if rerank == "kl":
        head = kl_divergence_rerank(index, first, rlm, num_top_docs)
    else:
        raise ValueError(f"unknown rerank: {rerank}")
    tail = first.filter(F.col("rank") > num_top_docs)
    return head.unionByName(tail).select("qid", "doc_id", "rank", "score")


def hyperbolic_rerank(
    index: InvertedIndex,
    run: DataFrame,
    rlm: DataFrame,
    num_top_docs: int = 10,
    curvature: float = 1.0,
) -> DataFrame:
    """F8: hyperbolic-embedding rerank (reference:
    retriever/HyperbolicRetriever.java:29-226, vector algebra 67-144):
    lift the query RLM vector and each doc's LM vector onto the
    hyperboloid x0 = sqrt(1 + ||x||^2 / K^2) and rank ASCENDING by the
    Minkowski geodesic distance acosh(x0*y0 - <x, y>).

    Per-qid numpy kernel over <= num_top_docs docs (bounded group)."""
    from ..deploy import ensure_package_on_executors

    ensure_package_on_executors(run.sparkSession)
    docs = run.filter(F.col("rank") <= num_top_docs).select("qid", "doc_id")
    tv = index.postings.select("doc_id", "term", "tf", "doc_len")
    doc_vecs = docs.join(tv, "doc_id").select(
        "qid", "doc_id", "term", (F.col("tf") / F.col("doc_len")).alias("p")
    )
    joined = doc_vecs.join(
        rlm.select("qid", "term", "wt"), ["qid", "term"], "full"
    ).filter(F.col("qid").isNotNull())

    K2 = curvature * curvature

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["qid"].iloc[0]
        pdf = pdf.assign(
            wt=pdf["wt"].astype(float).fillna(0.0),
            p=pdf["p"].astype(float).fillna(0.0),
        )
        terms = {t: i for i, t in enumerate(pdf["term"].unique())}
        qvec = np.zeros(len(terms))
        for r in pdf.drop_duplicates("term").itertuples(index=False):
            qvec[terms[r.term]] = r.wt
        doc_rows = pdf[pdf["doc_id"].notna()]
        doc_ids = doc_rows["doc_id"].unique().astype("int64")
        mat = np.zeros((len(doc_ids), len(terms)))
        did = {d: i for i, d in enumerate(doc_ids)}
        for r in doc_rows.itertuples(index=False):
            mat[did[int(r.doc_id)], terms[r.term]] = r.p
        q0 = np.sqrt(1.0 + (qvec @ qvec) / K2)
        d0 = np.sqrt(1.0 + np.einsum("ij,ij->i", mat, mat) / K2)
        inner = q0 * d0 - mat @ qvec
        dist = np.arccosh(np.maximum(inner, 1.0))
        order = np.lexsort((doc_ids, dist))
        return pd.DataFrame(
            {
                "qid": [qid] * len(doc_ids),
                "doc_id": doc_ids[order].astype("int64"),
                "rank": np.arange(1, len(doc_ids) + 1),
                "score": dist[order],
            }
        )

    return joined.groupBy("qid").applyInPandas(
        rerank, "qid string, doc_id long, rank long, score double"
    )
