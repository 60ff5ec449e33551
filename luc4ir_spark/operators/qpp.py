"""Query performance prediction (QPP) — pre- and post-retrieval
predictors of per-query retrieval quality.

The reference implements one QPP signal (query clarity, feedback/
RelevanceModelIId.java:136-160 — ours in operators/feedback.py's
query_clarity); this module adds the standard companions from the QPP
literature the reference's research workflow sits in:

- pre-retrieval (He & Ounis SIGIR'04; Zhao, Scholer & Tsegay ECIR'08):
  avgIDF / maxIDF over the query's in-vocabulary terms, and SCQ
  (collection-query similarity) = Σ_t (1 + ln(cf_t)) · ln(1 + N/df_t).
- post-retrieval (Zhou & Croft SIGIR'07 WIG; Shtok, Kurland & Carmel
  NQC, TOIS'12), computed from a scored run:
  WIG  = (mean top-k score − mean full-candidate-list score) / sqrt(|q|)
  NQC  = stddev_pop(top-k scores) / mean full-candidate-list score
  where |q| is the query's in-vocabulary distinct-term count and the
  "full list" is every candidate the run carries (the corpus-score
  baseline of the papers, estimated from the retrieved list exactly as
  their deployed forms do — at scale pass a deep-k run, never the
  whole corpus).

Out-of-vocabulary query terms carry no df/cf and are excluded from
every statistic (Lucene has no idf for an empty TermsEnum); a query
with NO in-vocabulary terms yields no row.

Plan shape: pre-retrieval is the scorers' query side
(``retrieval.enrich_query_terms``: the term DICTIONARY, vocab-sized and
never broadcast, joined against the broadcast query-term set) plus one
groupBy(qid) — no postings touched. Post-retrieval is two
aggregates over the run (runs are queries × k sized), with the top-k
mean folded into the same groupBy via a rank predicate — no window, no
second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .indexer import InvertedIndex
from .retrieval import enrich_query_terms


def qpp_pre_retrieval(
    index: InvertedIndex, query_terms: DataFrame
) -> DataFrame:
    """-> (qid, n_terms, avg_idf, max_idf, scq). idf is the Lucene-8
    BM25 idf (ln(1 + (N - df + .5)/(df + .5))), matching the engine's
    scorer so the predictor and the run it predicts share one idf."""
    n = index.stats.n_docs
    joined = enrich_query_terms(
        index, query_terms.select("qid", "term").distinct()
    )
    scq_term = (F.lit(1.0) + F.log(F.col("cf").cast("double"))) * F.log(
        F.lit(1.0) + F.lit(float(n)) / F.col("df").cast("double")
    )
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.avg("idf").alias("avg_idf"),
        F.max("idf").alias("max_idf"),
        F.sum(scq_term).alias("scq"),
    )


def qpp_post_retrieval(
    run: DataFrame,
    query_terms: DataFrame,
    index: InvertedIndex,
    k: int = 10,
) -> DataFrame:
    """-> (qid, n_candidates, wig, nqc) from a scored run carrying
    (qid, doc_id, rank, score) for the FULL candidate list (or a deep-k
    approximation of it). The top-``k`` prefix is selected by the run's
    own rank column — no re-sort."""
    n_terms = (
        enrich_query_terms(
            index, query_terms.select("qid", "term").distinct()
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    )
    topk = F.col("rank") <= k
    agg = run.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.avg("score").alias("_mean_all"),
        F.avg(F.when(topk, F.col("score"))).alias("_mean_k"),
        F.stddev_pop(F.when(topk, F.col("score"))).alias("_sd_k"),
    )
    return agg.join(F.broadcast(n_terms), "qid").select(
        "qid",
        "n_candidates",
        (
            (F.col("_mean_k") - F.col("_mean_all"))
            / F.sqrt(F.col("n_terms").cast("double"))
        ).alias("wig"),
        (F.col("_sd_k") / F.col("_mean_all")).alias("nqc"),
    )
