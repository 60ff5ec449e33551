"""Batch top-k retrieval: BM25 / LM-Dirichlet / LM-Jelinek-Mercer.

The reference runs queries one at a time in a sequential loop over a
Lucene searcher (reference: retriever/TrecDocRetriever.java:181-225,
similarity selection at :306-308). Here ALL queries are scored in one
distributed pass:

    query terms (tiny)  ──────────────┐ broadcast
    term_stats  ──semi-join──▶ df/cf ─┤ broadcast
    postings (term, doc_id, tf, doc_len) ──join──▶ per-(qid,doc) partial
        scores [map-side partial agg] ──shuffle by (qid,doc_id)──▶ sum
        ──▶ per-qid top-k (rank window)

The postings side is the only large input; the query side is always
broadcast, so the scan is a broadcast hash semi-join — no shuffle of the
index. Collection scalars (N, avgdl, total_cf) are folded in as literals.

Default BM25 parameters k1=0.7, b=0.3 (the engine's configured defaults
per the build target; Lucene's own defaults 1.2/0.75 are one kwarg away).
Lucene-8 BM25 formula (public): idf = ln(1+(N-df+0.5)/(df+0.5));
per-term score = boost * idf * tf / (tf + k1*(1-b+b*dl/avgdl)).
Ties break score desc, then doc_id asc (Lucene's internal-docID order,
reference comparator retriever/ScoreDocComparator.java:15-21).
"""

from __future__ import annotations

import math

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analysis import AnalyzerConfig, analyze_text
from .indexer import InvertedIndex, idf_lucene

BM25_K1_DEFAULT = 0.7
BM25_B_DEFAULT = 0.3


@dataclass(frozen=True)
class Similarity:
    kind: str = "bm25"  # bm25 | bm25plus | lmdir | lmjm | classic
    #                   # | dfr_inl2 | ib_ll | spl | f2exp | pl2 | dfi
    #                   # | dph | pivoted | boolean
    k1: float = BM25_K1_DEFAULT
    b: float = BM25_B_DEFAULT
    mu: float = 2000.0   # LM-Dirichlet (reference default LMDirichletSimilarity())
    lam: float = 0.4     # LM-Jelinek-Mercer lambda (reference uses 0.4/0.6)
    delta: float = 1.0   # BM25+ lower-bound shift (Lv & Zhai CIKM'11)
    c: float = 1.0       # DFR/IB H2 length-normalization c
    s: float = 0.5       # Axiomatic F2EXP length-normalization s
    k_ax: float = 0.35   # Axiomatic F2EXP idf exponent k
    slope: float = 0.2   # pivoted length-normalization slope (Singhal'96)


def queries_to_terms(
    spark: SparkSession,
    queries: list[tuple[str, str]],
    cfg: AnalyzerConfig | None = None,
) -> DataFrame:
    """[(qid, text)] -> DataFrame(qid, term, weight) — analyzed with the
    SAME analyzer as the index (reference parses queries through the index
    analyzer, trec/TRECQueryParser.java:64-67). Disjunctive (OR) semantics
    with per-term weight 1.0; duplicate query terms keep their multiplicity
    as summed weight (a TermQuery per occurrence in a boolean OR)."""
    cfg = cfg or AnalyzerConfig()
    rows = []
    for qid, text in queries:
        for t in analyze_text(text, cfg):
            rows.append((qid, t, 1.0))
    return spark.createDataFrame(
        rows, "qid string, term string, weight double"
    ).groupBy("qid", "term").agg(F.sum("weight").alias("weight"))


def _per_posting_score(sim: Similarity, stats, qt_cols):
    """Column expression for one (query-term, posting) pair's contribution."""
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    w = F.col("weight")
    if sim.kind == "bm25":
        norm = tf + F.lit(sim.k1) * (
            F.lit(1.0 - sim.b) + F.lit(sim.b) * dl / F.lit(stats.avgdl)
        )
        return w * F.col("idf") * tf / norm
    if sim.kind == "bm25plus":
        # BM25+ (Lv & Zhai CIKM'11): add delta AFTER the saturation so
        # long documents can't drive a matching term's contribution
        # below delta*idf — fixes BM25's over-penalization of length
        norm = tf + F.lit(sim.k1) * (
            F.lit(1.0 - sim.b) + F.lit(sim.b) * dl / F.lit(stats.avgdl)
        )
        return w * F.col("idf") * (tf / norm + F.lit(sim.delta))
    if sim.kind == "lmdir":
        # Lucene LMDirichletSimilarity (public formula):
        # log(1 + tf/(mu*P(t|C))) + log(mu/(dl+mu)), floored at 0 per term
        p_c = F.col("cf").cast("double") / F.lit(float(stats.total_tokens))
        raw = F.log(F.lit(1.0) + tf / (F.lit(sim.mu) * p_c)) + F.log(
            F.lit(sim.mu) / (dl + F.lit(sim.mu))
        )
        return w * F.greatest(raw, F.lit(0.0))
    if sim.kind == "lmjm":
        # Lucene LMJelinekMercerSimilarity: log(1 + ((1-l)/l)*(tf/dl)/P(t|C))
        p_c = F.col("cf").cast("double") / F.lit(float(stats.total_tokens))
        return w * F.log(
            F.lit(1.0)
            + F.lit((1.0 - sim.lam) / sim.lam) * (tf / dl) / p_c
        )
    if sim.kind == "classic":
        # Lucene ClassicSimilarity (TFIDFSimilarity): sqrt-tf,
        # idf = 1 + ln((N+1)/(df+1)) SQUARED (query idf x field idf),
        # fieldNorm = 1/sqrt(dl); queryNorm/boost were removed in
        # Lucene 8 and are omitted
        idf_c = F.lit(1.0) + F.log(
            F.lit(float(stats.n_docs) + 1.0)
            / (F.col("df").cast("double") + 1.0)
        )
        return w * F.sqrt(tf) * idf_c * idf_c / F.sqrt(dl)
    # log2 is written as ln(x)/ln(2) in BOTH engines (here and in the
    # DuckDB oracles) so the arithmetic shape — and hence the float64
    # result — is identical cross-engine; a native log2() may round
    # differently from ln()/ln(2) by an ulp.
    ln2 = F.lit(math.log(2.0))
    if sim.kind == "dfr_inl2":
        # DFR I(n)L2 (Amati & van Rijsbergen TOIS'02; the public
        # Lucene DFRSimilarity(BasicModelIn, AfterEffectL,
        # NormalizationH2) formula): tfn = tf*log2(1 + c*avgdl/dl),
        # score = tfn/(tfn+1) * log2((N+1)/(df+0.5))
        tfn = tf * F.log(
            F.lit(1.0) + F.lit(sim.c) * F.lit(stats.avgdl) / dl
        ) / ln2
        gain = F.log(
            F.lit(float(stats.n_docs) + 1.0)
            / (F.col("df").cast("double") + F.lit(0.5))
        ) / ln2
        return w * tfn / (tfn + F.lit(1.0)) * gain
    if sim.kind == "ib_ll":
        # Information-Based log-logistic (Clinchant & Gaussier
        # SIGIR'10; Lucene IBSimilarity(DistributionLL, LambdaDF,
        # NormalizationH2)): tfn as above, lambda = (df+1)/(N+1),
        # score = -log(lambda/(lambda+tfn)) = log(1 + tfn/lambda)
        tfn = tf * F.log(
            F.lit(1.0) + F.lit(sim.c) * F.lit(stats.avgdl) / dl
        ) / ln2
        lam_df = (F.col("df").cast("double") + F.lit(1.0)) / F.lit(
            float(stats.n_docs) + 1.0
        )
        return w * F.log(F.lit(1.0) + tfn / lam_df)
    if sim.kind == "boolean":
        # Lucene BooleanSimilarity: score = query boost per matched
        # term, no tf/idf/length at all — the similarity behind
        # filter-like scoring and constant-score rewrites when a
        # numeric match count is still wanted. With the engine's
        # weighted queries the contribution is just w.
        return w * F.lit(1.0)
    if sim.kind == "spl":
        # Information-Based smoothed power law (Clinchant & Gaussier
        # SIGIR'10; Lucene IBSimilarity(DistributionSPL, LambdaDF,
        # NormalizationH2) — the second public IB distribution next to
        # ib_ll): tfn as above, lambda = (df+1)/(N+1) with Lucene's
        # lambda==1 -> 0.99 guard (a term in EVERY doc), and
        # score = -log((lambda^(tfn/(tfn+1)) - lambda) / (1 - lambda)).
        # The ==1.0 guard compares the COMPUTED double on both engines
        # (not df==N), so an (N)/(N+1) that rounds to 1.0 at extreme N
        # branches identically. Arithmetic shape mirrors the oracle.
        tfn = tf * F.log(
            F.lit(1.0) + F.lit(sim.c) * F.lit(stats.avgdl) / dl
        ) / ln2
        lam_raw = (F.col("df").cast("double") + F.lit(1.0)) / F.lit(
            float(stats.n_docs) + 1.0
        )
        lam_spl = F.when(lam_raw == F.lit(1.0), F.lit(0.99)).otherwise(
            lam_raw
        )
        return w * -F.log(
            (F.pow(lam_spl, tfn / (tfn + F.lit(1.0))) - lam_spl)
            / (F.lit(1.0) - lam_spl)
        )
    if sim.kind == "pl2":
        # DFR PL2 (Amati & van Rijsbergen TOIS'02: Poisson basic model,
        # Laplace after-effect, H2 normalization — Terrier's default;
        # Lucene's DFRSimilarity(BasicModelP/Ine, AfterEffectL,
        # NormalizationH2) family): tfn = tf*log2(1 + c*avgdl/dl),
        # lambda = cf/N (per-doc Poisson mean),
        # score = (tfn*log2(tfn/lambda) + (lambda + 1/(12*tfn) - tfn)
        #          *log2(e) + 0.5*log2(2*pi*tfn)) / (tfn + 1).
        # Negative contributions for common terms (lambda > tfn) are
        # kept, as in Terrier. Arithmetic shape mirrors the oracle SQL
        # term-for-term (IEEE addition is order-sensitive).
        tfn = tf * F.log(
            F.lit(1.0) + F.lit(sim.c) * F.lit(stats.avgdl) / dl
        ) / ln2
        lam_p = F.col("cf").cast("double") / F.lit(float(stats.n_docs))
        two_pi = F.lit(2.0 * math.pi)
        num = (
            tfn * F.log(tfn / lam_p) / ln2
            + (lam_p + F.lit(1.0) / (F.lit(12.0) * tfn) - tfn) / ln2
            + F.lit(0.5) * F.log(two_pi * tfn) / ln2
        )
        return w * num / (tfn + F.lit(1.0))
    if sim.kind == "dfi":
        # Divergence From Independence (Kocabas, Dincer & Karaoglan
        # IRJ'14; the public Lucene DFISimilarity with
        # IndependenceStandardized): expected co-occurrence under
        # independence e = (cf+1)*dl/(total_tokens+1); a term only
        # contributes when its observed tf EXCEEDS e, with
        # score = log2((tf - e)/sqrt(e) + 1). The +1s mirror Lucene's
        # smoothing of totalTermFreq/numberOfFieldTokens. Arithmetic
        # shape mirrors the oracle SQL term-for-term.
        expected = (
            (F.col("cf").cast("double") + F.lit(1.0))
            * dl
            / F.lit(float(stats.total_tokens) + 1.0)
        )
        raw = (
            F.log((tf - expected) / F.sqrt(expected) + F.lit(1.0)) / ln2
        )
        return w * F.when(tf > expected, raw).otherwise(F.lit(0.0))
    if sim.kind == "pivoted":
        # Pivoted length normalization VSM (Singhal, Buckley & Mitra
        # SIGIR'96; Lucene once shipped it in the classic sandbox):
        # score = (1 + ln(1 + ln(tf))) / ((1-slope) + slope*dl/avgdl)
        #         * ln((N+1)/df)   [qtf = 1 in this engine's queries].
        # The double-log tf damping is the paper's 'L' component, the
        # pivot is avgdl. Arithmetic shape mirrors the oracle SQL.
        damp = F.lit(1.0) + F.log(F.lit(1.0) + F.log(tf))
        norm = F.lit(1.0 - sim.slope) + F.lit(sim.slope) * dl / F.lit(
            stats.avgdl
        )
        gain = F.log(
            F.lit(float(stats.n_docs) + 1.0) / F.col("df").cast("double")
        )
        return w * damp / norm * gain
    if sim.kind == "dph":
        # DPH (Amati's parameter-free DFR hypergeometric model —
        # Terrier DPH; no tunable constants at all):
        # f = tf/dl, norm = (1-f)^2/(tf+1),
        # score = norm * (tf*log2(tf*avgdl/dl * N/cf)
        #                 + 0.5*log2(2*pi*tf*(1-f))).
        # Degenerate single-term documents (tf == dl, f == 1) would
        # take log2(0); they contribute 0 instead (documented
        # divergence from Terrier, which never guards because such
        # docs score -inf and drop out anyway). Arithmetic shape
        # mirrors the oracle SQL term-for-term.
        f_rel = tf / dl
        norm = (F.lit(1.0) - f_rel) * (F.lit(1.0) - f_rel) / (tf + F.lit(1.0))
        info = tf * F.log(
            tf * F.lit(stats.avgdl) / dl
            * F.lit(float(stats.n_docs)) / F.col("cf").cast("double")
        ) / ln2
        tail = F.lit(0.5) * F.log(
            F.lit(2.0 * math.pi) * tf * (F.lit(1.0) - f_rel)
        ) / ln2
        return w * F.when(tf < dl, norm * (info + tail)).otherwise(F.lit(0.0))
    if sim.kind == "f2exp":
        # Axiomatic F2EXP (Fang & Zhai SIGIR'05; Lucene
        # AxiomaticF2EXP, s=0.5, k=0.35):
        # score = tf/(tf + s + s*dl/avgdl) * ((N+1)/df)^k
        tfn = tf / (
            tf + F.lit(sim.s) + F.lit(sim.s) * dl / F.lit(stats.avgdl)
        )
        return w * tfn * F.pow(
            F.lit(float(stats.n_docs) + 1.0) / F.col("df").cast("double"),
            F.lit(sim.k_ax),
        )
    raise ValueError(f"unknown similarity: {sim.kind}")


def enrich_query_terms(
    index: InvertedIndex, query_terms: DataFrame
) -> DataFrame:
    """The query side of every scorer: (qid, term[, weight, ...]) ->
    (term, df, cf, qid, weight, ..., idf). One join of the term
    dictionary against the broadcast query terms: the dictionary is the
    streamed side and is never broadcast (pruning it with a semi-join
    and broadcasting the pruned copy cost two more Spark jobs per
    batch). Terms absent from the dictionary drop out (they have no df
    and match no posting), and a missing weight column defaults to 1.0
    per row."""
    if "weight" not in query_terms.columns:
        query_terms = query_terms.withColumn("weight", F.lit(1.0))
    return (
        index.term_stats.select("term", "df", "cf")
        .join(F.broadcast(query_terms), "term")
        .withColumn("idf", idf_lucene(F.col("df"), index.stats.n_docs))
    )


def sorted_contribs(contrib: str | Column = "contrib") -> Column:
    """Aggregate: a group's per-posting contributions as one ascending
    array — the input of the deterministic score fold (``score_fold``);
    dismax reads its max and its sum off the same array."""
    return F.array_sort(F.collect_list(contrib))


def fold_sum(arr: Column) -> Column:
    """Left-to-right sum of an array column, from 0.0."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def score_fold(contrib: str | Column = "contrib") -> Column:
    """Aggregate: the per-(qid, doc) score of every ranked scorer. It
    sums the contributions in SORTED VALUE order instead of
    partition-encounter order. Two documents with identical (tf,
    doc_len) profiles over the query terms have identical contribution
    MULTISETS under every similarity, and their exact-real scores are
    equal — but a plain F.sum folds each group in partial-aggregation
    encounter order, so the two docs could land 1 ulp apart in either
    direction and the raw-score rank tie-break became a per-layout coin
    flip against the oracle (observed: dph at sf0.001, two
    equal-profile docs rank-swapped). The sorted fold makes the score a
    deterministic function of the multiset, so equal profiles tie
    EXACTLY, the doc_id tie-break applies on both engines, and no score
    depends on how the postings are partitioned. Cost: the group is at
    most the query's term count (a handful) — the buffer is bounded by
    query length, never corpus-sized."""
    return fold_sum(sorted_contribs(contrib))


def rank_topk(
    scored: DataFrame, k: int, doc: str = "doc_id", *carry: str
) -> DataFrame:
    """The rank tail of every top-k scorer: per-qid rank by (score
    desc, ``doc`` asc), cut at ``k`` -> (qid, doc, *carry, rank,
    score). Equal scores go to the lower doc id, Lucene's
    internal-docID tie order (reference comparator
    retriever/ScoreDocComparator.java:15-21). Spark plans the cut as a
    Partial/Final WindowGroupLimit pair, so each shard keeps at most k
    rows per query before the shuffle."""
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(doc).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("qid", doc, *carry, "rank", "score")
    )


def score_queries(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 1000,
    sim: Similarity | None = None,
    conjunctive: bool = False,
    exclude_terms: DataFrame | None = None,
    must_terms: DataFrame | None = None,
    min_should_match: int = 0,
    after: DataFrame | None = None,
    filter_docs: DataFrame | None = None,
    candidates: DataFrame | None = None,
    min_match_docs: DataFrame | None = None,
) -> DataFrame:
    """Score all queries in one pass -> (qid, doc_id, rank, score).

    query_terms: (qid, term[, weight]) — always the broadcast side.
    ``conjunctive=True`` keeps only docs matching ALL query terms
    (posting-list intersection semantics, done as a count filter on the
    aggregated matches — the relational form of a sorted-list intersect).
    ``exclude_terms``: optional (qid, term) — BooleanQuery MUST_NOT
    parity: a document containing ANY of a query's excluded terms is
    removed from that query's candidates BEFORE ranking (Lucene prunes
    via the exclusion iterator before the collector sees the doc), as
    one broadcast term join + a (qid, doc_id) left anti.
    ``must_terms``: optional (qid, term) — BooleanQuery MUST parity for
    the MIXED must+should case (``conjunctive`` is the all-must special
    case): a doc survives only if it matches EVERY must term of its
    query. The required count comes from the RAW must set (an
    out-of-vocabulary must term can never be matched, so that query
    returns nothing — Lucene's empty-postings MUST clause), and the
    matched count rides the same single postings scan as the scores
    (an ``is_must`` flag summed in the agg — no second index pass).
    ``min_should_match``: BooleanQuery.setMinimumNumberShouldMatch —
    keep only docs matching at least this many distinct query terms
    (0/1 = plain OR; len(query) = conjunctive).
    ``after``: optional (qid, after_score, after_doc_id) cursor —
    IndexSearcher.searchAfter keyset pagination: only docs STRICTLY
    after the cursor in (score desc, doc_id asc) order are ranked;
    queries absent from the cursor start from the top (Lucene's null
    after). The filter runs BEFORE the top-k window, so deep pages
    never materialize the rows already served.
    ``filter_docs``: optional (doc_id) allowed set — BooleanQuery
    FILTER-occur parity (metadata-restricted search): candidates are
    semi-joined against the set AFTER aggregation, BEFORE ranking, and
    scores are unaffected (FILTER clauses never score). The set is
    query-independent doc metadata, so at scale it is a pushed-down
    parquet predicate on the docs table feeding this semi-join — left
    unhinted so AQE broadcasts it only when it actually is small.
    ``min_match_docs``: optional (doc_id, min_match) — Lucene
    CoveringQuery / ES terms_set parity: the minimum number of matched
    query terms is a PER-DOCUMENT field (the LongValuesSource /
    minimum_should_match_field read), not a query constant. Docs
    absent from the table never match (ES's missing-field semantics).
    Rides the same single-scan ``n_matched`` counter as
    ``min_should_match``; the join is doc-keyed metadata — sort-merge
    on doc_id at scale, AQE-broadcast when the field table is small.
    ``candidates``: optional PER-QUERY (qid, doc_id) allowed set —
    the query-dependent analogue of ``filter_docs`` for composed
    operators (e.g. simple_query_string's item-satisfaction set):
    semi-joined on (qid, doc_id) after aggregation, before ranking,
    scores unaffected. The set is run-shaped (queries × matching
    docs), already keyed like ``matched`` — a co-partitioned semi
    join, never a corpus scan.
    """
    sim = sim or Similarity()
    qt_enriched = enrich_query_terms(index, query_terms)
    if must_terms is not None:
        mt = must_terms.select("qid", "term").distinct()
        qt_enriched = qt_enriched.join(
            F.broadcast(mt.withColumn("_must", F.lit(1))),
            ["qid", "term"],
            "left",
        ).withColumn("is_must", F.coalesce(F.col("_must"), F.lit(0)))
    n_query_terms = query_terms.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_terms")
    )

    contrib = _per_posting_score(sim, index.stats, qt_enriched.columns)
    agg_cols = [
        score_fold().alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_matched"),
    ]
    sel_cols = ["qid", "doc_id", contrib.alias("contrib")]
    if must_terms is not None:
        sel_cols.append(F.col("is_must"))
        agg_cols.append(
            F.sum("is_must").cast("long").alias("n_must_matched")
        )
    matched = (
        index.postings.join(F.broadcast(qt_enriched), "term")
        .select(*sel_cols)
        .groupBy("qid", "doc_id")
        .agg(*agg_cols)
    )
    if conjunctive:
        matched = matched.join(F.broadcast(n_query_terms), "qid").filter(
            F.col("n_matched") == F.col("n_terms")
        )
    if min_should_match > 1:
        matched = matched.filter(
            F.col("n_matched") >= F.lit(int(min_should_match))
        )
    if min_match_docs is not None:
        mm = min_match_docs.select("doc_id", "min_match")
        matched = (
            matched.join(mm, "doc_id")
            .filter(F.col("n_matched") >= F.col("min_match"))
            .drop("min_match")
        )
    if must_terms is not None:
        n_must = (
            must_terms.select("qid", "term")
            .distinct()
            .groupBy("qid")
            .agg(F.count(F.lit(1)).cast("long").alias("_n_must"))
        )
        matched = (
            matched.join(F.broadcast(n_must), "qid", "left")
            .filter(
                F.col("n_must_matched")
                == F.coalesce(F.col("_n_must"), F.lit(0))
            )
            .drop("_n_must", "n_must_matched")
        )
    if after is not None:
        cur = after.select("qid", "after_score", "after_doc_id")
        matched = matched.join(F.broadcast(cur), "qid", "left").filter(
            F.col("after_score").isNull()
            | (F.col("score") < F.col("after_score"))
            | (
                (F.col("score") == F.col("after_score"))
                & (F.col("doc_id") > F.col("after_doc_id"))
            )
        ).drop("after_score", "after_doc_id")
    if filter_docs is not None:
        matched = matched.join(
            filter_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    if candidates is not None:
        matched = matched.join(
            candidates.select("qid", "doc_id").distinct(),
            ["qid", "doc_id"],
            "left_semi",
        )
    if exclude_terms is not None:
        excl = (
            index.postings.join(
                F.broadcast(exclude_terms.select("qid", "term")), "term"
            )
            .select("qid", "doc_id")
            .distinct()
        )
        matched = matched.join(excl, ["qid", "doc_id"], "left_anti")
    return rank_topk(matched, k)


def _plain_scores(
    index: InvertedIndex,
    query_terms: DataFrame,
    sim: Similarity,
    restrict_pairs: DataFrame | None = None,
) -> DataFrame:
    """Shared disjunctive scoring core -> (qid, doc_id, score): the
    broadcast query-side postings join + per-(qid, doc) sum, with no
    ranking. ``restrict_pairs`` (qid, doc_id) limits the scan to a
    known candidate window BEFORE aggregation (the rescorer path), so
    the second pass touches |candidates| posting rows, not the corpus."""
    qt_e = enrich_query_terms(index, query_terms)
    contrib = _per_posting_score(sim, index.stats, qt_e.columns)
    rows = index.postings.join(F.broadcast(qt_e), "term").select(
        "qid", "doc_id", contrib.alias("contrib")
    )
    if restrict_pairs is not None:
        rows = rows.join(
            F.broadcast(restrict_pairs.select("qid", "doc_id")),
            ["qid", "doc_id"],
            "left_semi",
        )
    return rows.groupBy("qid", "doc_id").agg(score_fold().alias("score"))


def ltr_features(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 1000,
    mu: float = 2000.0,
) -> DataFrame:
    """Learning-to-rank feature extraction — the Elasticsearch LTR
    plugin's feature-set logging / Lucene feature logging pattern: for
    the first-pass BM25 top-k candidates, emit one row per (qid, doc)
    with the standard query-document features a ranker trains on:

        bm25       disjunctive BM25 score (the first-pass ranker)
        lmdir      LM-Dirichlet score (mu)
        n_matched  distinct query terms present in the doc
        sum_tf     total matched-term frequency
        idf_sum    sum of Lucene idf over matched terms
        doc_len    document length

    -> (qid, doc_id, rank, bm25, lmdir, n_matched, sum_tf, idf_sum,
    doc_len), rank <= k on the bm25 column.

    Plan: ALL features ride ONE broadcast postings join — every
    per-posting contribution is computed side by side and a single
    map-side-combined groupBy aggregates them, so logging six features
    costs one scan, not six; the candidate cut is the usual per-qid
    WindowGroupLimit. The three float features fold in sorted order
    (``score_fold``), so none depends on the postings' partitioning."""
    qt_e = enrich_query_terms(index, query_terms)
    contrib_b = _per_posting_score(
        Similarity(), index.stats, qt_e.columns
    )
    contrib_l = _per_posting_score(
        Similarity(kind="lmdir", mu=mu), index.stats, qt_e.columns
    )
    rows = index.postings.join(F.broadcast(qt_e), "term").select(
        "qid",
        "doc_id",
        contrib_b.alias("_cb"),
        contrib_l.alias("_cl"),
        "tf",
        "idf",
        "doc_len",
    )
    feats = rows.groupBy("qid", "doc_id").agg(
        score_fold("_cb").alias("score"),
        score_fold("_cl").alias("lmdir"),
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("tf").cast("long").alias("sum_tf"),
        score_fold("idf").alias("idf_sum"),
        F.max("doc_len").cast("long").alias("doc_len"),
    )
    rest = ("lmdir", "n_matched", "sum_tf", "idf_sum", "doc_len")
    return rank_topk(feats, k, "doc_id", *rest).select(
        "qid", "doc_id", "rank", F.col("score").alias("bm25"), *rest
    )


def boosting_query(
    index: InvertedIndex,
    query_terms: DataFrame,
    demote_terms: DataFrame,
    negative_boost: float = 0.5,
    k: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """BoostingQuery parity (Lucene's queries module / the
    positive-negative boosting query): the positive query is scored
    normally, and any candidate that ALSO matches one of its query's
    ``demote_terms`` (qid, term) has its score multiplied by
    ``negative_boost`` BEFORE ranking — unlike MUST_NOT the doc stays
    in the result list, just pushed down. One extra broadcast term
    join builds the demote set; demotion happens pre-window so a
    demoted doc can fall out of the top-k and let others in."""
    sim = sim or Similarity()
    pos = _plain_scores(index, query_terms, sim)
    neg = (
        index.postings.join(
            F.broadcast(demote_terms.select("qid", "term").distinct()),
            "term",
        )
        .select("qid", "doc_id")
        .distinct()
        .withColumn("_neg", F.lit(1))
    )
    demoted = pos.join(neg, ["qid", "doc_id"], "left").withColumn(
        "score",
        F.when(
            F.col("_neg").isNotNull(),
            F.col("score") * F.lit(float(negative_boost)),
        ).otherwise(F.col("score")),
    )
    return rank_topk(demoted, k)


def rescore_topk(
    index: InvertedIndex,
    query_terms: DataFrame,
    first_k: int = 50,
    k: int = 10,
    weight_first: float = 1.0,
    weight_second: float = 1.0,
    sim_first: Similarity | None = None,
    sim_second: Similarity | None = None,
) -> DataFrame:
    """QueryRescorer parity (Lucene QueryRescorer.rescore): a cheap
    first pass collects the per-query top ``first_k`` window, then an
    expensive second similarity re-scores ONLY that window and the
    final order is the weighted sum w1*first + w2*second (Lucene's
    default combine). The second pass is restricted to the candidate
    pairs BEFORE aggregation (`_plain_scores(restrict_pairs=...)`), so
    its cost tracks |queries|*first_k, never the corpus — the whole
    point of rescoring at 10^12 docs. Docs outside the first-pass
    window can never enter the result (rescoring re-orders, it never
    recalls). Returns (qid, doc_id, rank, score) with rank over the
    combined score."""
    first = score_queries(index, query_terms, k=first_k, sim=sim_first)
    # the candidate window feeds TWO consumers (the second pass's
    # restrict semi-join and the combine join) — plan dedup would
    # re-derive the whole first-pass scoring subtree per consumer
    # (fresh exprIds defeat exchange reuse); materialize it once,
    # GC-scoped
    cand = first.select(
        "qid", "doc_id", F.col("score").alias("s_first")
    ).localCheckpoint(eager=False)
    second = _plain_scores(
        index,
        query_terms,
        sim_second or Similarity(kind="lmdir"),
        restrict_pairs=cand,
    ).withColumnRenamed("score", "s_second")
    # second is candidate-window-sized (queries × first_k) — broadcast
    combined = cand.join(
        F.broadcast(second), ["qid", "doc_id"], "left"
    ).withColumn(
        "score",
        F.lit(float(weight_first)) * F.col("s_first")
        + F.lit(float(weight_second)) * F.coalesce(F.col("s_second"), F.lit(0.0)),
    )
    return rank_topk(combined, k)


def more_like_this(
    index: InvertedIndex,
    doc_id: int,
    n_terms: int = 5,
    k: int = 10,
    qid: str | None = None,
    sim: Similarity | None = None,
) -> DataFrame:
    """Query-by-document — the logical form of Lucene's MoreLikeThis
    (the standard companion to the reference's TermQuery retrieval
    stack): select the document's ``n_terms`` most characteristic index
    terms and run them as a disjunctive query through the standard
    scorer -> (qid, doc_id, rank, score). The source document itself is
    not excluded (it typically ranks first — filter downstream if
    undesired).

    Term selection is tf-idf-flavored but INTEGER-keyed: ORDER BY
    (tf DESC, df ASC, term ASC) — monotone in tf and in idf separately,
    and deterministic across engines, where a float tf*ln(N/df) score
    would tie-break on last-ulp ln() differences. The selection is one
    posting-row filter + a broadcast-sized top-n (TakeOrderedAndProject
    — no global sort), so the whole operator costs one extra tiny job
    over a normal ``score_queries`` call."""
    qid = qid if qid is not None else f"mlt:{doc_id}"
    doc_terms = (
        index.postings.filter(F.col("doc_id") == doc_id)
        .join(index.term_stats.select("term", "df"), "term")
        .orderBy(F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
        .limit(n_terms)
        .select(F.lit(qid).alias("qid"), "term", F.lit(1.0).alias("weight"))
    )
    return score_queries(index, doc_terms, k=k, sim=sim)


def knn_classify(
    index: InvertedIndex,
    labels: DataFrame,
    test_ids: DataFrame,
    n_terms: int = 5,
    k: int = 5,
    sim: Similarity | None = None,
) -> DataFrame:
    """k-nearest-neighbor text classification over the index — the
    logical form of Lucene's classification module second classifier
    (classification/KNearestNeighborClassifier.java: a MoreLikeThis
    query per input document, the class held by the most of its top-k
    neighbors wins): each test doc becomes a ``more_like_this``-style
    query (its ``n_terms`` most characteristic terms, INTEGER-keyed
    selection — tf DESC, df ASC, term ASC), is scored through the
    standard retrieval stack, its top-``k`` neighbors EXCLUDING itself
    vote by label (count DESC, label ASC ties — all-integer, exact),
    and the output is the confusion matrix (true_label, pred_label,
    n_docs). Test docs whose text yields no index terms are omitted.

    ``labels`` is (doc_id, label); ``test_ids`` is (doc_id) and must
    stay query-sized — the classifier is a per-batch serving operator
    (Lucene's classifies one document per call), NOT a corpus-wide
    map: the query side of the scoring join is broadcast, so a
    corpus-sized test set would broadcast a corpus-sized relation.
    Classify the corpus in bounded batches instead.

    Plan shape: term selection is one test-postings semi-join + a
    per-doc top-n window (WindowGroupLimit); scoring is the standard
    single postings scan with the query side broadcast; the vote is a
    neighbors×labels equi-join + two bounded windows."""
    tid = test_ids.select("doc_id").distinct()
    wsel = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    qt = (
        index.postings.join(F.broadcast(tid), "doc_id", "left_semi")
        .join(F.broadcast(index.term_stats.select("term", "df")), "term")
        .withColumn("_rn", F.row_number().over(wsel))
        .filter(F.col("_rn") <= n_terms)
        .select(
            F.col("doc_id").cast("string").alias("qid"),
            "term",
            F.lit(1.0).alias("weight"),
        )
    )
    run = score_queries(index, qt, k=k + 1, sim=sim)
    wq = Window.partitionBy("qid").orderBy("rank")
    nb = (
        run.filter(F.col("doc_id") != F.col("qid").cast("long"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= k)
    )
    lab = labels.select("doc_id", F.col("label").alias("_lbl"))
    votes = (
        nb.join(lab, "doc_id")
        .groupBy("qid", "_lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("_c").desc(), F.col("_lbl").asc()
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("qid").cast("long").alias("doc_id"),
            F.col("_lbl").alias("pred_label"),
        )
    )
    truth = lab.select("doc_id", F.col("_lbl").alias("true_label"))
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def proximity_query(
    positional: DataFrame,
    terms: list[str],
    window: int,
    _dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Ordered proximity matching over the positional index — the
    within-``window`` relaxation between exact phrase (window =
    len(terms) - 1) and plain conjunction (window = ∞): a match is a
    start position of ``terms[0]`` from which every later term occurs
    IN ORDER within ``window`` tokens, each strictly after its
    predecessor -> (doc_id, prox_freq) = count of such start
    positions. This is the ordered-window operator of the INQUERY/
    Indri family (#odN) and the practical core of Lucene's sloppy
    phrase for the common search-box case.

    Plan: the same array-walk shape as ``phrase_query``, generalized —
    for each next term, every surviving start keeps the EARLIEST
    in-order occurrence via a per-start fold over the (sorted,
    doc-length-bounded) position array; starts whose chain leaves the
    window die. The WALK must run in phrase order (the chain state is
    sequential), so the rarest-term cost ordering lands as a seed
    pre-prune instead: when terms[0] is not the rarest term, the seed
    cell is left-semi-joined against the rarest term's doc_id set
    (broadcast-sized right, one query-sized df lookup) before any
    positional join — a stopword-led proximity query then walks from
    ≤ df(rarest) rows, not df(stopword). Joins stay doc_id equi-joins
    of term-filtered cells and everything is per-row array arithmetic
    in one projection per phrase term."""
    if not terms:
        raise ValueError("proximity_query: empty terms")
    if window < len(terms) - 1:
        raise ValueError("window too small for the term count")
    # memoized df lookup on the input, then one dictionary-filtered
    # checkpoint for the walk (see phrase_query; _dfs skips the lookup
    # when the caller knows the dfs already)
    dfs = _dfs if _dfs is not None else _phrase_term_dfs(positional, terms)
    positional = positional.filter(
        F.col("term").isin(list(set(terms)))
    ).localCheckpoint(eager=False)
    if any(t not in dfs for t in terms):
        return _empty_positional_result(positional, "prox_freq")
    rare = min(set(terms), key=lambda t: (dfs[t], t))
    # s = array of structs (start, cur): start position and the
    # position its in-order chain has reached so far
    cur = positional.filter(F.col("term") == terms[0]).select(
        "doc_id",
        F.transform(
            "positions",
            lambda p: F.struct(p.alias("start"), p.alias("cur")),
        ).alias("s"),
    )
    if rare != terms[0]:
        cur = cur.join(
            positional.filter(F.col("term") == rare).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    for t in terms[1:]:
        nxt = positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("_p")
        )
        # earliest occurrence of t after chain.cur, still within the
        # window of chain.start: array_min of the filtered positions
        advance = lambda st: F.struct(  # noqa: E731
            st["start"].alias("start"),
            F.array_min(
                F.filter(
                    F.col("_p"),
                    lambda p: (p > st["cur"])
                    & (p <= st["start"] + F.lit(window)),
                )
            ).alias("cur"),
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "s",
                F.filter(
                    F.transform("s", advance),
                    lambda st: st["cur"].isNotNull(),
                ),
            )
            .filter(F.size("s") > 0)
            .drop("_p")
        )
    return cur.select(
        "doc_id", F.size("s").cast("long").alias("prox_freq")
    )


def unordered_window_query(
    positional: DataFrame, terms: list[str], window: int
) -> DataFrame:
    """Unordered co-occurrence window over the positional index — the
    order-free companion of ``proximity_query`` (the INQUERY/Indri
    #uwN idea; Lucene SpanNearQuery(inOrder=false) tests the same
    all-terms-within-a-window condition): a match is an occurrence of
    ``terms[0]`` (the anchor) such that EVERY other term occurs
    somewhere within ±``window`` tokens of it, in any order.
    -> (doc_id, uw_freq) = count of such anchors. uw_freq is
    anchor-term-dependent, so the anchor CANNOT be reordered — pick
    the rarest term first when the per-anchor count doesn't matter.
    Terms must be distinct (a repeated term would satisfy its own
    window).

    Plan: same shape as proximity_query — per-term doc_id equi-joins of
    dictionary-filtered positional cells, anchors thinned by a per-row
    array ``exists`` per companion term; one projection per term, no
    explode, no shuffle beyond the equi-joins. When the caller's anchor
    is NOT the rarest term, the anchor cell is pre-pruned by a
    left-semi join on the rarest term's doc_ids (same seed pre-prune
    as proximity_query) so a stopword anchor never seeds the walk at
    its own df."""
    if not terms:
        raise ValueError("unordered_window_query: empty terms")
    if len(set(terms)) != len(terms):
        raise ValueError("unordered_window_query: terms must be distinct")
    dfs = _phrase_term_dfs(positional, terms)
    positional = positional.filter(
        F.col("term").isin(list(terms))
    ).localCheckpoint(eager=False)
    if any(t not in dfs for t in terms):
        return _empty_positional_result(positional, "uw_freq")
    rare = min(terms, key=lambda t: (dfs[t], t))
    anchors = positional.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("a")
    )
    if rare != terms[0]:
        anchors = anchors.join(
            positional.filter(F.col("term") == rare).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    for t in terms[1:]:
        nxt = positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("_p")
        )
        anchors = (
            anchors.join(nxt, "doc_id")
            .withColumn(
                "a",
                F.filter(
                    "a",
                    lambda p: F.exists(
                        "_p",
                        lambda q: (q >= p - F.lit(window))
                        & (q <= p + F.lit(window)),
                    ),
                ),
            )
            .filter(F.size("a") > 0)
            .drop("_p")
        )
    return anchors.select(
        "doc_id", F.size("a").cast("long").alias("uw_freq")
    )


def phrase_query_compressed(
    compressed_positional: DataFrame,
    terms: list[str],
    window: int | None = None,
) -> DataFrame:
    """Phrase / ordered-proximity matching over the COMPRESSED
    positional index (indexer.compress_positional_postings): candidates
    are pruned to docs containing ALL the phrase terms using only the
    (term, doc_id) spine — the pos_blob column is column-pruned out of
    the scan for every non-candidate — then just the surviving cells
    are Arrow-decoded and handed to the flat ``phrase_query`` /
    ``proximity_query`` array walk. This is the 100 TB shape: the
    decode cost is candidates × positions, never corpus × positions.
    ``window=None`` = exact phrase; otherwise the ordered
    within-window semantics of proximity_query. The spine semi-join
    chain runs in ASCENDING df order (df counted off the spine, one
    query-sized job), so the candidate doc set starts at the rarest
    term's df — a stopword in the phrase never seeds the
    intersection."""
    if not terms:
        raise ValueError("phrase_query_compressed: empty terms")
    from .indexer import decode_positional_postings

    uniq = list(dict.fromkeys(terms))
    dfs = _phrase_term_dfs(compressed_positional, uniq)
    if any(t not in dfs for t in uniq):
        return _empty_positional_result(
            compressed_positional.select("term", "doc_id"),
            "phrase_freq" if window is None else "prox_freq",
        )
    # The pruned+decoded cells depend only on (relation, term set) —
    # not on the window — so they are memoized on the source DataFrame
    # object alongside the df lookup (same per-object cache, same
    # batch shape: one compressed index, several phrase/proximity
    # variants of the same terms, e.g. exact + sloppy over one query).
    # The decoded relation is checkpointed (GC-scoped) so the second
    # variant reuses the Arrow decode instead of re-running
    # prune+decode.
    memo_key = ("pruned_flat", tuple(sorted(uniq)))
    cache = getattr(compressed_positional, "_luc4ir_df_cache", None)
    if cache is None:
        cache = {}
        try:
            compressed_positional._luc4ir_df_cache = cache
        except AttributeError:
            pass
    flat = cache.get(memo_key)
    if flat is None:
        cells = compressed_positional.filter(
            F.col("term").isin(uniq)
        ).localCheckpoint(eager=False)
        docs_all = None
        for t in sorted(uniq, key=lambda t: (dfs[t], t)):
            d = cells.filter(F.col("term") == t).select("doc_id")
            docs_all = (
                d if docs_all is None
                else docs_all.join(d, "doc_id", "left_semi")
            )
        pruned = cells.join(docs_all, "doc_id", "left_semi")
        flat = decode_positional_postings(pruned).localCheckpoint(
            eager=False
        )
        cache[memo_key] = flat
    # pass the spine dfs down — only the walk's join ORDER depends on
    # them, so the pre-prune values are safe and the flat walk skips
    # its own lookup job
    if window is None:
        return phrase_query(flat, terms, _dfs=dfs)
    return proximity_query(flat, terms, window, _dfs=dfs)


def span_first_query(
    positional: DataFrame, term: str, end: int
) -> DataFrame:
    """Lucene SpanFirstQuery: the term must occur within the first
    ``end`` token positions (0-based: position < end) — the
    "title-ish / lead-paragraph" positional restriction. ->
    (doc_id, first_freq) = count of qualifying occurrences. One
    dictionary-filtered positional scan + a per-row array filter; no
    join, no shuffle."""
    if end <= 0:
        raise ValueError("span_first_query: end must be positive")
    return (
        positional.filter(F.col("term") == term)
        .select(
            "doc_id",
            F.size(
                F.filter("positions", lambda p: p < F.lit(end))
            ).cast("long").alias("first_freq"),
        )
        .filter(F.col("first_freq") > 0)
    )


def span_within_query(
    positional: DataFrame,
    big: tuple,
    little: str,
    slop: int = 0,
) -> DataFrame:
    """Lucene SpanWithinQuery: occurrences of the ``little`` term that
    lie entirely inside some span of the ``big`` SpanNearQuery — here
    the ordered pair (t1 … t2) with at most ``slop`` tokens between
    them (span = [p1, p2], match when p1 ≤ p3 ≤ p2). -> (doc_id,
    n_within) = count of little occurrences contained in at least one
    big span (docs with none yield no row, like every span operator
    here).

    Plan: three doc_id equi-joins of term-filtered positional cells
    (each side ≤ df(term) rows) and ONE per-row nested array
    quantifier over the stored position arrays — per-row work bounded
    by tf(t1)·tf(t2)·tf(little), no explode, no corpus-wide
    positional shuffle. The pruned positional relation is
    localCheckpoint'ed for the three consumers (same reuse note as
    `span_not_query`)."""
    t1, t2 = big
    positional = positional.filter(
        F.col("term").isin(list(dict.fromkeys([t1, t2, little])))
    ).localCheckpoint(eager=False)

    def cell(t: str, name: str) -> DataFrame:
        return positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(name)
        )

    j = (
        cell(little, "_p3")
        .join(cell(t1, "_p1"), "doc_id")
        .join(cell(t2, "_p2"), "doc_id")
    )
    width = F.lit(int(slop) + 1)
    contained = F.filter(
        F.col("_p3"),
        lambda p3: F.exists(
            F.col("_p1"),
            lambda p1: (p1 <= p3)
            & F.exists(
                F.col("_p2"),
                lambda p2: (p2 >= p3) & (p2 > p1) & (p2 - p1 <= width),
            ),
        ),
    )
    return (
        j.select(
            "doc_id", F.size(contained).cast("long").alias("n_within")
        )
        .filter(F.col("n_within") > 0)
    )


def span_containing_query(
    positional: DataFrame,
    big: tuple,
    little: str,
    slop: int = 0,
) -> DataFrame:
    """Lucene SpanContainingQuery — the dual of ``span_within_query``:
    count the BIG spans (ordered (t1 … t2) pairs with at most ``slop``
    tokens between) that contain at least one ``little`` occurrence.
    Spans are counted by their DISTINCT start position p1 (∃ a valid
    end p2 with a little hit inside [p1, p2]) — the deterministic,
    enumeration-order-free convention. -> (doc_id, n_containing),
    docs with none yield no row.

    Same plan shape as span_within: three doc_id equi-joins of
    term-filtered positional cells + one nested array quantifier over
    the stored position arrays — per-row work bounded by
    tf(t1)·tf(t2)·tf(little), no explode, no corpus-wide positional
    shuffle."""
    t1, t2 = big
    positional = positional.filter(
        F.col("term").isin(list(dict.fromkeys([t1, t2, little])))
    ).localCheckpoint(eager=False)

    def cell(t: str, name: str) -> DataFrame:
        return positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(name)
        )

    j = (
        cell(t1, "_p1")
        .join(cell(t2, "_p2"), "doc_id")
        .join(cell(little, "_p3"), "doc_id")
    )
    width = F.lit(int(slop) + 1)
    starts = F.filter(
        F.col("_p1"),
        lambda p1: F.exists(
            F.col("_p2"),
            lambda p2: (p2 > p1)
            & (p2 - p1 <= width)
            & F.exists(
                F.col("_p3"),
                lambda p3: (p3 >= p1) & (p3 <= p2),
            ),
        ),
    )
    return (
        j.select(
            "doc_id", F.size(starts).cast("long").alias("n_containing")
        )
        .filter(F.col("n_containing") > 0)
    )


def span_or_query(
    positional: DataFrame,
    clauses: list,
    slop: int = 0,
) -> DataFrame:
    """Lucene SpanOrQuery over SpanNear clauses — the span-family
    union completing first/not/within/containing: a position matches
    when ANY clause's ordered (t1 … t2, ≤ slop between) span starts
    there. Spans are counted by DISTINCT start position across ALL
    clauses (two clauses starting at one position count once) — the
    same enumeration-order-free convention as `span_containing_query`,
    documented divergence from Lucene's per-clause span enumeration.
    -> (doc_id, n_spans), docs with none yield no row.

    Plan: per clause, two term-filtered positional cells equi-joined
    on doc_id + one array quantifier for the start set; clause start
    arrays merge by a full-outer doc_id join + array_union (distinct
    by construction). Everything is bounded by the clauses' dfs/tfs —
    no explode, no corpus-wide positional shuffle."""
    if not clauses:
        raise ValueError("span_or_query: need at least one clause")
    width = F.lit(int(slop) + 1)
    terms = list(
        dict.fromkeys([t for pair in clauses for t in pair])
    )
    pruned = positional.filter(
        F.col("term").isin(terms)
    ).localCheckpoint(eager=False)

    def clause_starts(t1: str, t2: str, tag: str) -> DataFrame:
        a = pruned.filter(F.col("term") == t1).select(
            "doc_id", F.col("positions").alias("_p1")
        )
        b = pruned.filter(F.col("term") == t2).select(
            "doc_id", F.col("positions").alias("_p2")
        )
        starts = F.filter(
            F.col("_p1"),
            lambda p1: F.exists(
                F.col("_p2"),
                lambda p2: (p2 > p1) & (p2 - p1 <= width),
            ),
        )
        return a.join(b, "doc_id").select(
            "doc_id", starts.alias(tag)
        )
    merged = None
    for i, (t1, t2) in enumerate(clauses):
        c = clause_starts(t1, t2, f"_s{i}")
        merged = (
            c
            if merged is None
            else merged.join(c, "doc_id", "full_outer")
        )
    union = F.col("_s0")
    for i in range(1, len(clauses)):
        union = F.array_union(
            F.coalesce(union, F.array().cast("array<int>")),
            F.coalesce(F.col(f"_s{i}"), F.array().cast("array<int>")),
        )
    return (
        merged.select(
            "doc_id",
            F.size(F.array_distinct(union)).cast("long").alias(
                "n_spans"
            ),
        )
        .filter(F.col("n_spans") > 0)
    )


def span_not_query(
    positional: DataFrame,
    include: list[str],
    exclude: str,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """Lucene SpanNotQuery: occurrences of the exact ``include`` phrase
    whose span — widened by ``pre`` tokens before the start and
    ``post`` after the end (SpanNotQuery's pre/post constructor) — does
    NOT contain an occurrence of ``exclude``. -> (doc_id,
    spannot_freq) = count of surviving phrase starts.

    Plan: the shifted array-intersect chain of ``phrase_query``
    produces the match END positions per doc; ONE left join brings in
    the exclusion term's position array (absent -> empty) and a per-row
    array filter drops ends e where some exclusion position x falls in
    [e-(n-1)-pre, e+post]. Same doc_id equi-join shape as the phrase
    chain — per-row work bounded by occurrence counts, no explode."""
    if not include:
        raise ValueError("span_not_query: empty include phrase")
    # prune to the query's terms BEFORE materializing — checkpointing
    # the full positional relation would write every term's position
    # arrays; only include+exclude rows are ever consumed
    positional = positional.filter(
        F.col("term").isin(list(dict.fromkeys([*include, exclude])))
    ).localCheckpoint(eager=False)
    cur = positional.filter(F.col("term") == include[0]).select(
        "doc_id", F.col("positions").alias("s")
    )
    for t in include[1:]:
        nxt = positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("_p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "s",
                F.array_intersect(
                    F.transform("s", lambda x: x + F.lit(1)), F.col("_p")
                ),
            )
            .filter(F.size("s") > 0)
            .drop("_p")
        )
    n = len(include)
    ex = positional.filter(F.col("term") == exclude).select(
        "doc_id", F.col("positions").alias("_x")
    )
    lo_off = F.lit(n - 1 + pre)
    hi_off = F.lit(post)
    kept = (
        cur.join(ex, "doc_id", "left")
        .withColumn(
            "_x",
            F.coalesce(F.col("_x"), F.array().cast("array<int>")),
        )
        .withColumn(
            "s",
            F.filter(
                "s",
                lambda e: ~F.exists(
                    F.col("_x"),
                    lambda x: (x >= e - lo_off) & (x <= e + hi_off),
                ),
            ),
        )
    )
    return kept.filter(F.size("s") > 0).select(
        "doc_id", F.size("s").cast("long").alias("spannot_freq")
    )


def block_join_topk(
    child_index: InvertedIndex,
    query_terms: DataFrame,
    parent_pack: int,
    k: int = 10,
    sim: Similarity | None = None,
    score_mode: str = "max",
) -> DataFrame:
    """ToParentBlockJoinQuery parity: children (e.g. the chunks of
    ``textstats.chunk_documents``) are indexed with packed ids
    ``parent_id * parent_pack + child_idx``; queries score the CHILD
    index and each parent combines its matching children's scores per
    ``score_mode`` — Lucene's ScoreMode: 'max' (best child), 'total'
    (sum), 'avg' (mean over MATCHING children — Lucene averages
    matches, not all children). -> (qid, parent_id, rank, score).

    Plan: the single-scan disjunctive scorer over the child postings,
    one integer-division projection to recover the parent (zero joins —
    the packed id IS the block mapping, like Lucene's contiguous
    parent/child doc-id blocks), one agg per (qid, parent) — 'total'
    and 'avg' through the sorted ``score_fold`` — and ``rank_topk``."""
    combiner = {
        "max": F.max("score"),
        "total": score_fold("score"),
        "avg": score_fold("score") / F.count(F.lit(1)),
    }.get(score_mode)
    if combiner is None:
        raise ValueError(f"block_join_topk: unknown score_mode {score_mode!r}")
    child = _plain_scores(child_index, query_terms, sim or Similarity())
    rolled = (
        child.withColumn(
            "parent_id", F.expr(f"doc_id DIV {int(parent_pack)}")
        )
        .groupBy("qid", "parent_id")
        .agg(combiner.alias("score"))
    )
    return rank_topk(rolled, k, "parent_id")


def block_join_children_topk(
    parent_index: InvertedIndex,
    query_terms: DataFrame,
    children: DataFrame,
    k: int = 10,
    sim: Similarity | None = None,
    parent_col: str = "parent_id",
    child_col: str = "child_id",
) -> DataFrame:
    """ToChildBlockJoinQuery parity — the inverse direction of
    ``block_join_topk``: the query scores PARENT documents and every
    child of a matching parent inherits the parent's score verbatim
    (Lucene's ToChildBlockJoinQuery iterates the children of each
    matching parent block and reports the parent score for each). Used
    to retrieve chunks/passages by whole-document relevance.
    -> (qid, child_id, parent_id, rank, score); rank orders by
    (score DESC, child_id ASC).

    Plan: the single-scan parent scorer (|run|-sized output), then ONE
    equi-join onto the child mapping — the parent run is per-query and
    tiny, so AQE broadcasts it against a child table of any size; the
    top-k window is the usual per-qid WindowGroupLimit."""
    parents = _plain_scores(parent_index, query_terms, sim or Similarity())
    j = parents.withColumnRenamed("doc_id", "parent_id").join(
        children.select(
            F.col(parent_col).alias("parent_id"),
            F.col(child_col).alias("child_id"),
        ),
        "parent_id",
    )
    return rank_topk(j, k, "child_id", "parent_id")


def common_terms_query(
    index: InvertedIndex,
    query_terms: DataFrame,
    max_df_ratio: float = 0.5,
    k: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """CommonTermsQuery parity (Lucene queries module): query terms
    with df > ``max_df_ratio``·N are "common" — they contribute to the
    score but cannot select documents on their own. A document is a
    candidate only if it matches at least one RARE query term; when a
    query has NO in-vocabulary rare terms the query degrades to the
    plain OR over its common terms (Lucene's rewrite when the
    low-frequency clause is empty). Built from the shared scoring
    spine (``enrich_query_terms``, ``score_fold``, ``rank_topk``) over
    one broadcast postings scan — the rare/common split rides the scan
    as a flag, exactly like ``score_queries``' MUST counter. A query
    with only out-of-vocabulary terms returns no rows."""
    sim = sim or Similarity()
    cutoff = float(max_df_ratio) * float(index.stats.n_docs)
    qt_e = enrich_query_terms(index, query_terms).withColumn(
        "is_rare", (F.col("df") <= F.lit(cutoff)).cast("int")
    )
    has_rare = qt_e.groupBy("qid").agg(
        F.max("is_rare").alias("has_rare")
    )
    contrib = _per_posting_score(sim, index.stats, qt_e.columns)
    matched = (
        index.postings.join(F.broadcast(qt_e), "term")
        .select("qid", "doc_id", contrib.alias("contrib"), "is_rare")
        .groupBy("qid", "doc_id")
        .agg(
            score_fold().alias("score"),
            F.sum("is_rare").alias("n_rare_matched"),
        )
        .join(F.broadcast(has_rare), "qid")
        .filter(
            (F.col("has_rare") == 0) | (F.col("n_rare_matched") > 0)
        )
    )
    return rank_topk(matched, k)


def multi_phrase_query(
    positional: DataFrame, steps: list[list[str]]
) -> DataFrame:
    """Lucene MultiPhraseQuery: an exact phrase where each position
    admits ANY of several alternative terms (the query analyzers emit
    for synonym/stemming graphs at phrase positions) — e.g.
    [["slow","fast"], ["hash"]] matches "slow hash" and "fast hash".
    -> (doc_id, phrase_freq) = count of start positions.

    Plan: per step, the union of the alternatives' position arrays
    (alternative terms can't share a position, so the flattened sort is
    a strictly increasing merge) via a term-filtered groupBy — cells
    are dictionary-pruned before any shuffle — then the start-position
    array_intersect chain of phrase_query (step j contributes
    ``start ∈ step_positions_j - j``, order-independent), with steps
    processed in ASCENDING summed-df order so the rarest step seeds
    the walk (Lucene lead-with-cheapest, as in phrase_query); one
    projection per step."""
    if not steps or any(not s for s in steps):
        raise ValueError("multi_phrase_query: empty steps")
    all_terms = [t for alts in steps for t in alts]
    dfs = _phrase_term_dfs(positional, all_terms)
    positional = positional.filter(
        F.col("term").isin(list(set(all_terms)))
    ).localCheckpoint(eager=False)
    step_df = [sum(dfs.get(t, 0) for t in alts) for alts in steps]
    if any(d == 0 for d in step_df):
        return _empty_positional_result(positional, "phrase_freq")
    order = sorted(range(len(steps)), key=lambda i: (step_df[i], i))

    def step_cell(i: int) -> DataFrame:
        return (
            positional.filter(F.col("term").isin(list(steps[i])))
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.flatten(F.collect_list("positions"))
                ).alias("_p")
            )
        )

    j0 = order[0]
    cur = step_cell(j0).select(
        "doc_id",
        F.transform("_p", lambda p: p - F.lit(j0)).alias("s"),
    )
    for j in order[1:]:
        cur = (
            cur.join(step_cell(j), "doc_id")
            .withColumn(
                "s",
                F.array_intersect(
                    F.col("s"),
                    F.transform("_p", lambda p: p - F.lit(j)),
                ),
            )
            .filter(F.size("s") > 0)
            .drop("_p")
        )
    return cur.select(
        "doc_id", F.size("s").cast("long").alias("phrase_freq")
    )


def match_phrase_prefix_query(
    positional: DataFrame,
    terms: list[str],
    prefix: str,
    max_expansions: int = 50,
) -> DataFrame:
    """Lucene MatchPhrasePrefixQuery (ES ``match_phrase_prefix``): an
    exact phrase whose LAST position matches any dictionary term with
    the given prefix — "fast s" matches "fast scan", "fast sort", … .
    Lucene expands the term dictionary in term order and keeps the
    first ``max_expansions`` terms (the documented cap that makes the
    query cheap on huge dictionaries); we do the same — the expansion
    is a prefix-filtered dictionary scan, term-ASC capped, collected
    as a ≤ max_expansions literal list (dictionary-capped scalar, the
    same class as ``_phrase_term_dfs``'s df lookup; Lucene also
    materializes the expanded term set). The query then delegates to
    ``multi_phrase_query`` with the expansion as the final step's
    alternatives, inheriting its rarest-step-first walk and
    dictionary-pruned cells. -> (doc_id, phrase_freq).

    At 100-TB scale the prefix filter is a predicate-pushdown scan of
    the term dictionary (vocab-sized, never corpus-sized); note a
    term-bucketed positional store bucket-prunes only on term
    EQUALITY, so the expansion scan reads all buckets of the (tiny)
    dictionary while the subsequent positional walk still prunes per
    expanded term."""
    if not terms or not prefix:
        raise ValueError(
            "match_phrase_prefix_query: need leading terms and a prefix"
        )
    exp_rows = (
        positional.filter(F.col("term").startswith(prefix))
        .select("term")
        .distinct()
        .orderBy("term")
        .limit(int(max_expansions))
        .collect()
    )
    if not exp_rows:
        return _empty_positional_result(positional, "phrase_freq")
    expansion = sorted(r["term"] for r in exp_rows)
    return multi_phrase_query(
        positional, [[t] for t in terms] + [expansion]
    )


def fuzzy_expand_terms(
    index: InvertedIndex,
    query_terms: DataFrame,
    max_edits: int = 2,
) -> DataFrame:
    """Fuzzy term expansion — Lucene FuzzyQuery at the logical level:
    map every query term to ALL index vocabulary terms within
    ``max_edits`` Levenshtein edits (the classic damerau-less edit
    distance both Spark and DuckDB implement identically as an integer
    — exact across engines), so a misspelled query still reaches the
    postings of its intended term. -> (qid, term, weight) ready for
    ``score_queries``; weight = 1 / (1 + distance), Lucene's
    similarity-decay idea in its simplest exact-rational form, summed
    when several query terms expand to one vocab term (matching
    queries_to_terms' multiplicity semantics). Exact matches
    (distance 0) keep full weight.

    Plan shape: the expansion joins the broadcast query terms against
    the term DICTIONARY (vocab-sized — millions of rows at worst,
    never corpus-sized) with the distance predicate evaluated in
    codegen; Lucene walks an FST automaton instead, but the work unit
    is the same dictionary scan. The result is query-sized and
    broadcast onward."""
    q = query_terms.select(
        "qid", F.col("term").alias("_qterm")
    ).distinct()
    vocab = index.term_stats.select("term")
    return (
        vocab.join(
            F.broadcast(q),
            F.levenshtein(F.col("term"), F.col("_qterm")) <= max_edits,
        )
        .select(
            "qid",
            "term",
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.levenshtein(F.col("term"), F.col("_qterm"))
                )
            ).alias("weight"),
        )
        .groupBy("qid", "term")
        .agg(F.sum("weight").alias("weight"))
    )


def spell_candidates_ngram(
    index: InvertedIndex,
    query_terms: DataFrame,
    min_shared: int = 2,
    max_edits: int = 2,
    max_gram_df: int | None = 1_000_000,
    log=None,
) -> DataFrame:
    """Char-n-gram spell CANDIDATE GENERATION + exact verify — the
    scalable half of Lucene's classic SpellChecker (it indexes every
    dictionary word under its boundary-marked char bigrams/trigrams
    and retrieves correction candidates by n-gram overlap BEFORE any
    edit-distance math): where ``fuzzy_expand_terms`` scans the whole
    dictionary per query term (fine for an FST, linear for us), this
    generates candidates through an inverted char-BIGRAM index and
    verifies only them — the percolate_indexed move applied to
    spelling.

    Bigrams are taken over '^' + term + '$' (Lucene's start/end
    markers, so prefix/suffix agreement counts). A candidate needs
    >= ``min_shared`` DISTINCT shared bigrams, then the exact
    Levenshtein <= ``max_edits`` verify. ``max_gram_df`` is the skew
    valve: bigrams present in more dictionary terms than it are
    dropped from generation (a candidate sharing only ubiquitous
    bigrams is junk anyway — the max_df argument), logged via ``log``.
    -> (qid, qterm, term, n_shared, distance), ordered facts only —
    every column integer/string.

    Plan shape: the bigram index is vocab-sized x ~word-length rows
    built once per call; candidate generation is an equi-join on the
    bigram; the verify runs on candidates only. At a 10M-term
    dictionary this is the difference between 10M levenshteins per
    query term and a few hundred."""
    q = query_terms.select(
        "qid", F.col("term").alias("qterm")
    ).distinct()

    def grams(col):
        marked = F.concat(F.lit("^"), col, F.lit("$"))
        i = F.explode(
            F.sequence(F.lit(1), F.length(marked) - 1)
        ).alias("i")
        return marked, i

    vocab = index.term_stats.select("term")
    vm, vi = grams(F.col("term"))
    vg = (
        vocab.select("term", vm.alias("_m"))
        .select("term", "_m", vi)
        .select("term", F.expr("substr(_m, i, 2)").alias("gram"))
        .distinct()
    )
    if max_gram_df is not None:
        gdf = vg.groupBy("gram").agg(
            F.count(F.lit(1)).alias("_gd")
        )
        keep = gdf.filter(F.col("_gd") <= int(max_gram_df)).select(
            "gram"
        )
        if log is not None:
            n_drop = gdf.filter(F.col("_gd") > int(max_gram_df)).count()
            log(
                f"spell_candidates_ngram: dropped {n_drop} grams over "
                f"df {max_gram_df}"
            )
        vg = vg.join(keep, "gram")
    qm, qi = grams(F.col("qterm"))
    qg = (
        q.select("qid", "qterm", qm.alias("_m"))
        .select("qid", "qterm", "_m", qi)
        .select("qid", "qterm", F.expr("substr(_m, i, 2)").alias("gram"))
        .distinct()
    )
    cand = (
        vg.join(F.broadcast(qg), "gram")
        .groupBy("qid", "qterm", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    return cand.select(
        "qid",
        "qterm",
        "term",
        "n_shared",
        F.levenshtein(F.col("qterm"), F.col("term"))
        .cast("long")
        .alias("distance"),
    ).filter(F.col("distance") <= int(max_edits))


def explain_scores(
    index: InvertedIndex,
    query_terms: DataFrame,
    sim: Similarity | None = None,
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """IndexSearcher.explain() parity: the per-(query, doc, TERM) score
    breakdown behind score_queries — tf, doc_len, df, idf and the
    term's contribution; ``score_fold`` over a (qid, doc)'s
    contributions IS the run score, bit for bit. It shares the
    scorer's query side (``enrich_query_terms``) and posting scan, and
    stops before the fold; ``doc_ids`` optionally restricts to the docs
    being explained (Lucene explains one doc at a time — pass the
    handful you care about and the filter prunes before the join
    output materializes)."""
    sim = sim or Similarity()
    qt_enriched = enrich_query_terms(index, query_terms)
    postings = index.postings
    if doc_ids is not None:
        postings = postings.filter(F.col("doc_id").isin(list(doc_ids)))
    contrib = _per_posting_score(sim, index.stats, qt_enriched.columns)
    return postings.join(F.broadcast(qt_enriched), "term").select(
        "qid",
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_len").cast("long").alias("doc_len"),
        F.col("df").cast("long").alias("df"),
        F.col("idf").alias("idf"),
        contrib.alias("contribution"),
    )


def bm25f_score(
    field_indexes: dict[str, InvertedIndex],
    query_terms: DataFrame,
    k: int = 1000,
    k1: float = BM25_K1_DEFAULT,
    field_weights: dict[str, float] | None = None,
    field_b: dict[str, float] | None = None,
) -> DataFrame:
    """BM25F multi-field ranking (Robertson/Zaragoza's public formula;
    Lucene exposes the same capability as per-field scoring combined by
    the query): each field f contributes a length-normalized tf

        tfn_f = tf_f / (1 - b_f + b_f * dl_f / avgdl_f)

    weighted by the field boost; the combined pseudo-frequency saturates
    ONCE across fields — score(q,d) = Σ_t idf(df_doc) * tfc/(k1 + tfc)
    with tfc = Σ_f w_f * tfn_f and df_doc the DOCUMENT-level df (a term
    counts once per doc however many fields it appears in). This is the
    structural win of BM25F over naive per-field score summing: a term
    heavy in two fields saturates jointly instead of double-dipping.

    ``field_indexes``: one InvertedIndex per field over the SAME doc_id
    space (each field's avgdl divides by the full corpus n_docs, so
    field-less docs dilute the average exactly as an empty field value
    would). Plan shape: per field, postings ⋈ broadcast(query term set)
    — index-sized scan, query-sized output — then ONE (term, doc_id)
    shuffle of the unioned candidates, a per-term df recount on that
    (already query-bounded) relation, and the standard per-qid top-k
    window. No field's full postings are ever shuffled."""
    if not field_indexes:
        raise ValueError("need at least one field index")
    field_weights = field_weights or {f: 1.0 for f in field_indexes}
    field_b = field_b or {f: BM25_B_DEFAULT for f in field_indexes}
    if "weight" not in query_terms.columns:
        query_terms = query_terms.withColumn("weight", F.lit(1.0))
    qset = F.broadcast(query_terms.select("term").distinct())
    n_docs = max(ix.stats.n_docs for ix in field_indexes.values())

    parts = []
    for fname, idx in field_indexes.items():
        w_f = float(field_weights[fname])
        b_f = float(field_b[fname])
        avg = idx.stats.avgdl
        if avg <= 0.0:
            continue  # field empty in every doc: contributes nothing
        tfn = (
            F.col("tf").cast("double")
            / (
                F.lit(1.0 - b_f)
                + F.lit(b_f) * F.col("doc_len").cast("double") / F.lit(avg)
            )
        )
        parts.append(
            idx.postings.join(qset, "term", "left_semi").select(
                "term", "doc_id", (F.lit(w_f) * tfn).alias("wtfn")
            )
        )
    comb = parts[0]
    for p in parts[1:]:
        comb = comb.unionByName(p)
    comb = comb.groupBy("term", "doc_id").agg(F.sum("wtfn").alias("tfc"))
    dfs = comb.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        comb.join(F.broadcast(dfs), "term")
        .join(F.broadcast(query_terms), "term")
        .select(
            "qid",
            "doc_id",
            (
                F.col("weight")
                * idf_lucene(F.col("df"), n_docs)
                * F.col("tfc")
                / (F.lit(float(k1)) + F.col("tfc"))
            ).alias("contrib"),
        )
        .groupBy("qid", "doc_id")
        .agg(score_fold().alias("score"))
    )
    return rank_topk(scored, k)


def complete_prefix(
    index: InvertedIndex,
    query_prefixes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Autocomplete suggester — Lucene's suggest module at the logical
    level: for each (qid, prefix), the top-k vocabulary completions
    ranked by popularity, all-integer ordering (df desc, cf desc, term
    asc) so the ranking is exact on any engine. One broadcast prefix ×
    term-dictionary startswith scan (vocab-sized) + a bounded per-prefix
    top-k window (WindowGroupLimit) — never touches postings or docs.
    -> (qid, suggestion, df, rank)."""
    q = query_prefixes.select("qid", "prefix").distinct()
    cand = index.term_stats.join(
        F.broadcast(q), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("df").desc(), F.col("cf").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
            "rank",
        )
    )


def infix_suggest(
    index: InvertedIndex,
    query_infixes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Infix autocomplete — Lucene's AnalyzingInfixSuggester at the
    logical level (lucene/suggest AnalyzingInfixSuggester: unlike the
    FST prefix suggesters, the typed text may match ANYWHERE inside
    the suggestion — "ethe" completes to "prometheus" — ranked by
    suggestion weight): for each (qid, needle), the top-k vocabulary
    terms CONTAINING the needle, popularity-ranked with the same
    all-integer ordering as ``complete_prefix`` (df desc, cf desc,
    term asc — exact on any engine), plus the 1-based match offset
    (the relational stand-in for the suggester's highlighted
    fragment; offset 1 == the match is also a prefix).
    -> (qid, suggestion, df, offset, rank).

    Plan shape: one broadcast needle × term-DICTIONARY contains scan
    (vocab-sized — Lucene backs this with a dedicated suggest index
    over the same dictionary; the work unit is identical) + a bounded
    per-qid top-k window (WindowGroupLimit). Never touches postings
    or documents, so corpus scale only enters through |vocab|."""
    q = query_infixes.select("qid", "needle").distinct()
    cand = index.term_stats.join(
        F.broadcast(q), F.instr(F.col("term"), F.col("needle")) > 0
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("df").desc(), F.col("cf").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
            F.instr(F.col("term"), F.col("needle"))
            .cast("long")
            .alias("offset"),
            "rank",
        )
    )


def score_gap_cutoff(
    run: DataFrame,
    max_k: int = 10,
    min_rank: int = 1,
    score_col: str = "score",
    round_dp: int = 4,
) -> DataFrame:
    """Dynamic result-list truncation at the largest score gap — the
    practical member of the where-to-stop-reading family (Arampatzis,
    Kamps & Robertson SIGIR'09 model score distributions; the max-gap
    rule is the deterministic cousin engines actually ship, e.g.
    Vespa/ES-style rank cutoff heuristics): within the top ``max_k``,
    cut after the rank whose score drop to the next result is
    LARGEST; the relevant head usually separates from the tail by a
    visible cliff. Gaps are computed on scores ROUNDED to
    ``round_dp`` so the argmax is engine-stable (raw scores can
    differ in the last ulp across engines); ties break to the
    EARLIEST rank (shorter lists on ambiguity). Queries with fewer
    than 2 results in the window emit no row.
    -> (qid, cut_rank, gap): keep ranks <= cut_rank downstream.

    Plan shape: per-qid lead() + a bounded top-1 window over run-sized
    relations — nothing touches the corpus."""
    w = Window.partitionBy("qid").orderBy("rank")
    g = (
        run.filter(F.col("rank") <= int(max_k))
        .select(
            "qid",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col(score_col), int(round_dp)).alias("_s"),
        )
        .withColumn("_next", F.lead("_s").over(w))
        .filter(
            (F.col("rank") >= int(min_rank)) & F.col("_next").isNotNull()
        )
        .withColumn(
            "gap", F.round(F.col("_s") - F.col("_next"), int(round_dp))
        )
    )
    pick = Window.partitionBy("qid").orderBy(
        F.col("gap").desc(), F.col("rank").asc()
    )
    return (
        g.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select("qid", F.col("rank").alias("cut_rank"), "gap")
    )


def fuzzy_complete(
    index: InvertedIndex,
    query_prefixes: DataFrame,
    max_edits: int = 1,
    k: int = 5,
) -> DataFrame:
    """Fuzzy autocomplete — Lucene's FuzzySuggester at the logical
    level (lucene/suggest FuzzySuggester: the TYPED text may contain
    typos, so completions whose prefix is within ``max_edits`` of it
    still surface — "spakr" completes to "spark…"): a vocabulary term
    is a candidate when levenshtein(term[:|typed|], typed) <=
    max_edits — the suggester's edits-within-the-prefix semantics
    simplified to the typed-length prefix (a length-changing edit at
    the prefix boundary can cost one extra edit vs the automaton;
    documented divergence, conservative). Ranked by (distance ASC,
    df DESC, cf DESC, term ASC) — distance ties fall back to the
    `complete_prefix` popularity order, all-integer and engine-exact.
    -> (qid, suggestion, df, distance, rank).

    Plan shape: one broadcast typed-set × term-DICTIONARY theta scan
    (vocab-sized — exactly `infix_suggest`'s work unit; Lucene walks a
    Levenshtein automaton over its FST instead, same dictionary-bound
    cost) + a bounded per-qid top-k window. Postings never touched."""
    q = query_prefixes.select("qid", "prefix").distinct()
    dist = F.levenshtein(
        F.col("term").substr(F.lit(1), F.length("prefix")),
        F.col("prefix"),
    )
    cand = index.term_stats.join(
        F.broadcast(q), dist <= F.lit(int(max_edits))
    ).withColumn(
        "distance",
        F.levenshtein(
            F.col("term").substr(F.lit(1), F.length("prefix")),
            F.col("prefix"),
        ).cast("long"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(),
        F.col("df").desc(),
        F.col("cf").desc(),
        F.col("term").asc(),
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
            "distance",
            "rank",
        )
    )


def prefix_expand_terms(
    index: InvertedIndex,
    query_prefixes: DataFrame,
) -> DataFrame:
    """Prefix / trailing-wildcard term expansion — Lucene PrefixQuery
    (``spar*``) at the logical level: map each (qid, prefix) to every
    index vocabulary term that starts with the prefix, uniform weight
    1.0 (Lucene's SCORING_BOOLEAN_REWRITE: one equal-boost TermQuery
    per expansion; the constant-score rewrites differ only in skipping
    per-term scoring). -> (qid, term, weight) for ``score_queries``.

    Plan shape: broadcast the (tiny) prefix set against the term
    DICTIONARY — vocab-sized, never corpus-sized — with the
    ``startswith`` predicate in codegen; Lucene seeks the term enum to
    the prefix block instead, but the work unit is the same dictionary
    scan, and the expansion result stays query-sized and is broadcast
    onward into the postings join."""
    q = query_prefixes.select("qid", "prefix").distinct()
    return (
        index.term_stats.select("term")
        .join(F.broadcast(q), F.col("term").startswith(F.col("prefix")))
        .select("qid", "term")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def dismax_topk(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 1000,
    tie_breaker: float = 0.0,
    sim: Similarity | None = None,
) -> DataFrame:
    """Lucene DisjunctionMaxQuery over one TermQuery clause per query
    term: doc score = max(clause scores) + tie_breaker * (sum of the
    OTHER clause scores) — the dismax shape behind field-disjunction
    and "best field wins" ranking (the reference's BooleanQuery OR sums
    instead; dismax is the standard companion the sum cannot express).
    tie_breaker=0 is the pure max; tie_breaker=1 degenerates to the
    boolean-OR sum.

    Plan shape: the shared scoring spine (``enrich_query_terms``, the
    one broadcast postings scan, ``rank_topk``) — only the aggregate
    differs: the group's contributions are collected once as a sorted
    array (``sorted_contribs``), its last element is the max and its
    sorted fold the sum, and the dismax combination is one projected
    expression. No second index pass, no extra shuffle."""
    sim = sim or Similarity()
    qt_enriched = enrich_query_terms(index, query_terms)
    contrib = _per_posting_score(sim, index.stats, qt_enriched.columns)
    tie = F.lit(float(tie_breaker))
    mx = F.element_at("_cs", -1)
    matched = (
        index.postings.join(F.broadcast(qt_enriched), "term")
        .select("qid", "doc_id", contrib.alias("contrib"))
        .groupBy("qid", "doc_id")
        .agg(sorted_contribs().alias("_cs"))
        .select(
            "qid",
            "doc_id",
            (mx + tie * (fold_sum(F.col("_cs")) - mx)).alias("score"),
        )
    )
    return rank_topk(matched, k)


def wildcard_to_regex(pattern: str) -> str:
    """Translate a Lucene WildcardQuery pattern (``*`` = any sequence,
    ``?`` = exactly one char) to an anchored regex usable verbatim by
    BOTH Spark's rlike/regexp_like and DuckDB's regexp_matches (both
    are unanchored searches, hence the explicit ^...$). Every other
    character is escaped literally."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_expand_terms(
    index: InvertedIndex,
    query_patterns: DataFrame,
) -> DataFrame:
    """Wildcard term expansion — Lucene WildcardQuery (``te*t``,
    ``?ash``) at the logical level: map each (qid, regex) row — regex
    produced by ``wildcard_to_regex`` — to every vocabulary term it
    fully matches, uniform weight 1.0 per matching pattern, summed when
    several of a query's patterns reach the same term (the same
    clause-multiplicity rule as queries_to_terms). -> (qid, term,
    weight) for ``score_queries``.

    Plan shape: broadcast the tiny pattern set against the term
    DICTIONARY (vocab-sized, never corpus-sized) with the regex
    predicate in codegen; Lucene walks a compiled automaton over its
    FST instead, but the work unit is the same dictionary scan and the
    expansion stays query-sized, broadcast onward into the postings
    join."""
    q = query_patterns.select("qid", "rx").distinct()
    return (
        index.term_stats.select("term")
        .join(F.broadcast(q), F.expr("regexp_like(term, rx)"))
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def term_range_query(
    index: InvertedIndex,
    lo: str,
    hi: str,
    include_lo: bool = True,
    include_hi: bool = True,
) -> DataFrame:
    """Lucene TermRangeQuery under its default CONSTANT_SCORE rewrite:
    every document containing at least one dictionary term in the
    lexical range [lo, hi] matches with score 1.0 (multi-term queries
    skip per-term scoring entirely). Returns (doc_id, n_matched,
    score) where n_matched counts the DISTINCT range terms the doc
    contains — the diagnostic Lucene exposes via the rewritten query's
    clause count. Bounds compare as raw binary strings, exactly
    Lucene's BytesRef order for ASCII terms.

    Plan shape: the range predicate prunes the term DICTIONARY first
    (vocab-sized scan, broadcast result), then one semi-join-shaped
    pass over postings with a (doc_id) count agg — no scoring math, no
    per-term shuffle."""
    lo_cmp = F.col("term") >= lo if include_lo else F.col("term") > lo
    hi_cmp = F.col("term") <= hi if include_hi else F.col("term") < hi
    terms = index.term_stats.filter(lo_cmp & hi_cmp).select("term")
    return (
        index.postings.join(F.broadcast(terms), "term", "left_semi")
        .select("doc_id", "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .withColumn("score", F.lit(1.0))
    )


def synonym_topk(
    index: InvertedIndex,
    query_terms: DataFrame,
    synonyms: DataFrame,
    k: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """Lucene SynonymQuery (the query SynonymGraphFilter emits): each
    query term and its synonyms score as ONE blended pseudo-term — the
    doc's tf is the SUM over group members, the idf uses the MAX
    docFreq across the group (SynonymQuery.createWeight collects
    max(df) and a summing TermMatchesIterator) — so a synonym match
    never out-scores the primary term and repeated synonyms saturate
    together. ``synonyms``: (term, syn) rows, applied query-side only;
    a term with no row is its own singleton group.

    Plan shape: the group expansion happens on the TINY query side
    (query terms ⋈ broadcast synonym table, still query-sized), then
    the SAME single broadcast postings scan as score_queries with the
    groupBy lifted to (qid, group, doc) for the tf blend, one more
    map-side partial agg to (qid, doc), and the top-k window. BM25
    only (the blend is defined on tf; LM kernels smooth cf and would
    need a blended cf — not what Lucene does)."""
    sim = sim or Similarity()
    if sim.kind != "bm25":
        raise ValueError("synonym_topk blends tf — BM25 only")
    base = query_terms.select("qid", F.col("term").alias("grp")).distinct()
    syn = synonyms.select(
        F.col("term").alias("grp"), F.col("syn").alias("member")
    )
    members = base.join(F.broadcast(syn), "grp", "left").select(
        "qid",
        "grp",
        F.coalesce(F.col("member"), F.col("grp")).alias("term"),
    ).unionByName(
        base.select("qid", "grp", F.col("grp").alias("term"))
    ).distinct()

    # group df = max df over members that exist in the dictionary
    enriched = enrich_query_terms(index, members)
    grp_df = enriched.groupBy("qid", "grp").agg(
        F.max("df").alias("grp_df")
    )
    qt = enriched.join(F.broadcast(grp_df), ["qid", "grp"]).withColumn(
        "idf", idf_lucene(F.col("grp_df"), index.stats.n_docs)
    ).select("qid", "grp", "term", "idf")

    blended = (
        index.postings.join(F.broadcast(qt), "term")
        .groupBy("qid", "grp", "doc_id")
        .agg(
            F.sum("tf").alias("tf"),
            F.max("doc_len").alias("doc_len"),
            F.max("idf").alias("idf"),
        )
        .withColumn("weight", F.lit(1.0))
    )
    contrib = _per_posting_score(sim, index.stats, blended.columns)
    scored = (
        blended.select("qid", "doc_id", contrib.alias("contrib"))
        .groupBy("qid", "doc_id")
        .agg(score_fold().alias("score"))
    )
    return rank_topk(scored, k)


def collapse_results(
    run: DataFrame,
    doc_meta: DataFrame,
    collapse_col: str,
    k: int = 10,
) -> DataFrame:
    """Field collapsing (Lucene/Elasticsearch CollapsingTopDocsCollector
    semantics): keep only each query's single BEST hit per collapse-key
    value (score desc, doc_id asc — the collector's tie order), then
    re-rank the collapsed list and cut to top-k. -> (qid, doc_id, rank,
    score, <collapse_col>).

    Plan shape: the run (queries × depth, tiny) is broadcast against
    the doc-metadata table so the corpus side is a pruned scan — at
    100 TB the metadata join is a semi-join-shaped broadcast probe, the
    corpus is never shuffled; then two windows over the run-sized
    result (per-(qid,key) keep-1, per-qid re-rank), both
    WindowGroupLimit-able."""
    meta = doc_meta.select("doc_id", collapse_col)
    joined = meta.join(F.broadcast(run), "doc_id")
    w_key = Window.partitionBy("qid", collapse_col).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_q = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("_kr", F.row_number().over(w_key))
        .filter(F.col("_kr") == 1)
        .withColumn("rank", F.row_number().over(w_q).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score", collapse_col)
    )


def count_hits(index: InvertedIndex, query_terms: DataFrame) -> DataFrame:
    """IndexSearcher.count(query) for a disjunctive free-text query:
    the number of distinct documents matching ANY query term — the
    collector that skips scoring entirely. One broadcast semi-join over
    postings + a distinct count; queries with no in-vocabulary terms
    return no row (Lucene returns 0 for an empty rewrite — callers can
    left-join the query list)."""
    qt = query_terms.select("qid", "term").distinct()
    return (
        index.postings.join(F.broadcast(qt), "term")
        .select("qid", "doc_id")
        .groupBy("qid")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_hits"))
    )


def sort_by_field(
    index: InvertedIndex,
    query_terms: DataFrame,
    doc_meta: DataFrame,
    sort_col: str,
    ascending: bool = False,
    k: int = 10,
) -> DataFrame:
    """IndexSearcher.search(query, n, Sort(SortField(field))) — the
    TopFieldCollector: candidates are every doc matching ANY query term
    (scoring skipped, exactly Lucene's needsScores=false path), ordered
    by a document field with doc_id as the tiebreak (Lucene's implicit
    doc-order tiebreak), cut to top-k per query.
    -> (qid, doc_id, rank, <sort_col>).

    Plan shape: one broadcast semi-join-shaped postings pass for the
    candidate set (distinct (qid, doc_id)), then a doc_id equi-join to
    the metadata table — at scale that is a pruned columnar scan of
    exactly one metadata column, never a shuffle of the corpus — and a
    per-qid WindowGroupLimit top-k on the field."""
    qt = query_terms.select("qid", "term").distinct()
    cand = (
        index.postings.join(F.broadcast(qt), "term")
        .select("qid", "doc_id")
        .distinct()
    )
    joined = cand.join(doc_meta.select("doc_id", sort_col), "doc_id")
    key = F.col(sort_col).asc() if ascending else F.col(sort_col).desc()
    w = Window.partitionBy("qid").orderBy(key, F.col("doc_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", sort_col)
    )


def function_score(
    run: DataFrame,
    doc_meta: DataFrame,
    boost: "F.Column",
    k: int = 10,
) -> DataFrame:
    """Lucene FunctionScoreQuery (DoubleValuesSource over a doc field):
    multiply each hit's relevance score by a document-derived boost and
    re-rank — recency/popularity/length boosts without touching the
    scorer. ``boost`` is a Column expression over ``doc_meta``'s
    columns. -> (qid, doc_id, rank, score) with score = run score ×
    boost(doc).

    Plan shape: the run (queries × depth) joins the metadata table on
    doc_id — the corpus side stays a pruned scan, boost is one codegen
    projection — then the per-qid re-rank window."""
    meta = doc_meta.select("doc_id", boost.alias("_boost"))
    joined = run.select("qid", "doc_id", "score").join(
        F.broadcast(meta.join(
            run.select("doc_id").distinct(), "doc_id", "left_semi"
        )),
        "doc_id",
    )
    rescored = joined.select(
        "qid", "doc_id", (F.col("score") * F.col("_boost")).alias("score")
    )
    return rank_topk(rescored, k)


def parse_boolean_query(
    qid: str, text: str, cfg: AnalyzerConfig | None = None
) -> list[tuple[str, str, str]]:
    """Parse Lucene QueryParser's +/- clause syntax (default operator
    OR): whitespace-separated clauses, ``+term`` = MUST, ``-term`` =
    MUST_NOT, bare ``term`` = SHOULD (reference queries go through the
    classic QueryParser, trec/TRECQueryParser.java:64-67). Each clause
    body runs through the index analyzer; a clause whose body analyzes
    to several tokens contributes all of them under the same occur flag,
    one that analyzes to nothing (stopword) drops out. Returns
    [(qid, term, clause)] rows with clause in must|should|must_not."""
    cfg = cfg or AnalyzerConfig()
    out: list[tuple[str, str, str]] = []
    for raw in text.split():
        if raw.startswith("+"):
            clause, body = "must", raw[1:]
        elif raw.startswith("-"):
            clause, body = "must_not", raw[1:]
        else:
            clause, body = "should", raw
        for t in analyze_text(body, cfg):
            out.append((qid, t, clause))
    return out


def boolean_query(
    index: InvertedIndex,
    clauses: DataFrame,
    k: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """Full BooleanQuery execution over parsed clauses (qid, term,
    clause ∈ must|should|must_not) — the general MUST + SHOULD +
    MUST_NOT mix (Lucene BooleanQuery; ``conjunctive``/``exclude_terms``
    on score_queries are its all-must / no-must corners). Scoring terms
    are must+should with multiplicity as summed weight (a TermQuery per
    occurrence, matching queries_to_terms), must-ness filters via the
    single-scan ``must_terms`` path, and must_not prunes candidates
    before ranking. One postings scan total."""
    scoring = (
        clauses.filter(F.col("clause") != "must_not")
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    must = clauses.filter(F.col("clause") == "must").select("qid", "term")
    excl = clauses.filter(F.col("clause") == "must_not").select(
        "qid", "term"
    )
    return score_queries(
        index,
        scoring,
        k=k,
        sim=sim,
        must_terms=must,
        exclude_terms=excl,
    )


def parse_simple_query_string(
    qid: str, text: str, cfg: AnalyzerConfig | None = None
) -> tuple[list, list, list, list]:
    """Parse the Lucene SimpleQueryParser grammar's flat subset
    (queryparser.simple.SimpleQueryParser with AND as the default
    operator): whitespace-separated ITEMS are all required; within an
    item ``a|b`` separates OR alternatives; a leading ``-`` negates
    the item (plain-term negation); ``"..."`` is an exact phrase item;
    a trailing ``*`` makes an alternative a prefix. Alternative bodies
    run through the analyzer (a body analyzing to several tokens
    contributes them all as OR members; one analyzing to nothing
    drops; an item losing ALL alternatives drops entirely). Prefix
    stems are normalized to the simple token space. Returns
    ``(items, phrases, prefixes, negations)``:
      items:     [(item_id, [term, ...])]  exact OR members per item
      phrases:   [(item_id, [terms])]      exact phrase items
      prefixes:  [(item_id, prefix)]       prefix OR members per item
      negations: [term, ...]
    Item ids number every surviving positive item; a matching doc must
    satisfy each one. Parsing is driver-side over query strings —
    query-sized, never data-sized (the reference parses per query on
    one thread too)."""
    import re as _re

    cfg = cfg or AnalyzerConfig()
    items: list = []
    phrases: list = []
    prefixes: list = []
    negations: list = []
    nid = 0
    for i, chunk in enumerate(text.split('"')):
        if i % 2 == 1:  # inside quotes
            toks = analyze_text(chunk, cfg)
            if toks:
                phrases.append((nid, toks))
                nid += 1
            continue
        for raw in chunk.split():
            neg = raw.startswith("-")
            body = raw[1:] if neg else raw
            if not body:
                continue
            if neg:
                negations.extend(analyze_text(body, cfg))
                continue
            terms: list = []
            pfx: list = []
            for alt in body.split("|"):
                if not alt:
                    continue
                if alt.endswith("*"):
                    stem = _re.sub(r"[^a-z0-9]+", "", alt[:-1].lower())
                    if stem:
                        pfx.append(stem)
                else:
                    terms.extend(analyze_text(alt, cfg))
            if terms or pfx:
                items.append((nid, terms))
                for p in pfx:
                    prefixes.append((nid, p))
                nid += 1
    return items, phrases, prefixes, negations


def simple_query_string(
    index: InvertedIndex,
    positional: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    sim: Similarity | None = None,
    cfg: AnalyzerConfig | None = None,
) -> DataFrame:
    """Lucene SimpleQueryParser execution end-to-end: AND-of-items
    semantics — a candidate doc must satisfy EVERY positive item
    (exact term, ``a|b`` OR group, ``pre*`` prefix group, ``"..."``
    phrase) and contain NO negated term; scoring is the plain BM25
    (or ``sim``) sum over every matched scoring term (group members,
    dictionary-expanded prefixes, phrase words — one TermQuery per
    occurrence, like `boolean_query`), delegated to `score_queries`
    with the item-satisfaction set as its per-query ``candidates``
    semi-join. A query whose items expand to nothing (e.g. a prefix
    matching no vocabulary term) matches no documents — Lucene's
    empty-rewrite MUST clause.

    Plan shape: ONE postings scan resolves all group matches (the
    per-item term table is query-sized and broadcast), each phrase
    runs the positional-intersection chain of `phrase_query`, the
    satisfaction count is a map-side-combined countDistinct(item) ==
    n_items filter, and scoring reuses `score_queries`' single
    broadcast scan. -> (qid, doc_id, rank, score)."""
    spark = index.postings.sparkSession
    group_rows: list = []
    prefix_rows: list = []
    phrase_items: list = []
    neg_rows: list = []
    n_items: dict = {}
    for qid, text in queries:
        items, phrases, prefixes, negs = parse_simple_query_string(
            qid, text, cfg
        )
        n_items[qid] = len(items) + len(phrases)
        for iid, terms in items:
            for t in terms:
                group_rows.append((qid, iid, t))
        for iid, p in prefixes:
            prefix_rows.append((qid, iid, p))
        for iid, ph in phrases:
            phrase_items.append((qid, iid, ph))
        for t in negs:
            neg_rows.append((qid, t))
    gt = spark.createDataFrame(
        group_rows, "qid string, item_id long, term string"
    )
    if prefix_rows:
        pq = spark.createDataFrame(
            prefix_rows, "qid string, item_id long, prefix string"
        )
        exp = (
            index.term_stats.select("term")
            .join(
                F.broadcast(pq),
                F.col("term").startswith(F.col("prefix")),
            )
            .select("qid", "item_id", "term")
        )
        gt = gt.unionByName(exp)
    matched = (
        index.postings.join(
            F.broadcast(gt.select("qid", "item_id", "term").distinct()),
            "term",
        ).select("qid", "item_id", "doc_id")
    )
    phrase_term_rows: list = []
    for qid, iid, ph in phrase_items:
        pm = phrase_query(positional, ph).select(
            F.lit(qid).alias("qid"),
            F.lit(iid).cast("long").alias("item_id"),
            "doc_id",
        )
        matched = matched.unionByName(pm)
        for t in ph:
            phrase_term_rows.append((qid, t))
    need = spark.createDataFrame(
        [(q, n) for q, n in n_items.items()], "qid string, _need long"
    )
    cands = (
        matched.distinct()
        .groupBy("qid", "doc_id")
        .agg(F.countDistinct("item_id").cast("long").alias("_ni"))
        .join(F.broadcast(need), "qid")
        .filter((F.col("_ni") == F.col("_need")) & (F.col("_need") > 0))
        .select("qid", "doc_id")
    )
    if neg_rows:
        neg = spark.createDataFrame(neg_rows, "qid string, term string")
        negd = (
            index.postings.join(F.broadcast(neg), "term")
            .select("qid", "doc_id")
            .distinct()
        )
        cands = cands.join(negd, ["qid", "doc_id"], "left_anti")
    all_terms = gt.select("qid", "term")
    if phrase_term_rows:
        all_terms = all_terms.unionByName(
            spark.createDataFrame(
                phrase_term_rows, "qid string, term string"
            )
        )
    scoring = all_terms.groupBy("qid", "term").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )
    return score_queries(index, scoring, k=k, sim=sim, candidates=cands)


def suggest_terms(
    index: InvertedIndex,
    query_terms: DataFrame,
    max_edits: int = 2,
    n_suggestions: int = 1,
) -> DataFrame:
    """"Did you mean" — Lucene SpellChecker at the logical level: for
    every OUT-OF-VOCABULARY query term, the best dictionary terms
    within ``max_edits`` Levenshtein edits, ranked by
    (distance ASC, df DESC, term ASC) — SpellChecker's
    closer-then-more-popular ordering with INTEGER sort keys only, so
    the ranking is deterministic across engines. In-vocabulary terms
    yield no row (nothing to correct).
    -> (qid, term, suggestion, distance, df, rank).

    Plan: the OOV set is a broadcast anti-join against the term
    dictionary; candidates are the same vocab-sized dictionary scan as
    ``fuzzy_expand_terms``; the per-(qid, term) top-n is a
    WindowGroupLimit."""
    q = query_terms.select("qid", "term").distinct()
    vocab = index.term_stats.select(
        F.col("term").alias("suggestion"), "df"
    )
    oov = q.join(
        index.term_stats.select("term"), "term", "left_anti"
    )
    cand = vocab.join(
        F.broadcast(oov),
        F.levenshtein(F.col("suggestion"), F.col("term")) <= max_edits,
    ).select(
        "qid",
        "term",
        "suggestion",
        F.levenshtein(F.col("suggestion"), F.col("term"))
        .cast("long")
        .alias("distance"),
        "df",
    )
    w = Window.partitionBy("qid", "term").orderBy(
        F.col("distance").asc(), F.col("df").desc(),
        F.col("suggestion").asc(),
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= n_suggestions)
        .select("qid", "term", "suggestion", "distance", "df", "rank")
    )


def best_fragments(
    run: DataFrame,
    positional: DataFrame,
    query_terms: DataFrame,
    width: int = 8,
    n_fragments: int = 2,
) -> DataFrame:
    """Multi-fragment highlighting — FastVectorHighlighter at the
    logical level: fragment candidates anchor at EVERY query-term
    occurrence in a hit document; a fragment's score is the number of
    query-term occurrences inside its token window
    [anchor, anchor+width); the top ``n_fragments`` per (qid, doc) win
    by (score desc, anchor asc). Divergence from Lucene's FVH,
    documented: overlapping fragments are NOT suppressed (suppression
    is a sequential greedy; renderers dedupe overlaps instead) — the
    single-fragment ``make_snippets`` stays the exact-parity path.
    -> (qid, doc_id, frag_rank, start_pos, n_hits).

    Plan: the positional cells are pruned to query terms AND run docs
    BEFORE the explode, so occurrence rows are hit-sized; the
    anchor×member window count is a per-(qid, doc) self-equi-join of
    that tiny relation (localCheckpoint-ed — two consumers)."""
    hits = run.select("qid", "doc_id")
    occ = (
        positional.join(
            F.broadcast(query_terms.select("qid", "term").distinct()),
            "term",
        )
        .join(hits, ["qid", "doc_id"], "left_semi")
        .select("qid", "doc_id", F.explode("positions").alias("p"))
        .localCheckpoint(eager=False)
    )
    a, m = occ.alias("a"), occ.alias("m")
    scored = (
        a.join(
            m,
            (F.col("a.qid") == F.col("m.qid"))
            & (F.col("a.doc_id") == F.col("m.doc_id"))
            & (F.col("m.p") >= F.col("a.p"))
            & (F.col("m.p") < F.col("a.p") + F.lit(width)),
        )
        .groupBy(
            F.col("a.qid").alias("qid"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.p").alias("start_pos"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    w = Window.partitionBy("qid", "doc_id").orderBy(
        F.col("n_hits").desc(), F.col("start_pos").asc()
    )
    return (
        scored.withColumn("frag_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("frag_rank") <= n_fragments)
        .select(
            "qid", "doc_id", "frag_rank",
            F.col("start_pos").cast("long").alias("start_pos"),
            "n_hits",
        )
    )


def proximity_rerank(
    run: DataFrame,
    positional: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Proximity-boosted reranking (Tao & Zhai SIGIR'07's MinDist
    heuristic): each hit's retrieval score gets the bonus
    ln(1 + exp(-MinDist)), where MinDist is the smallest token
    distance between occurrences of two DIFFERENT query terms in the
    document — adjacent query terms earn ~ln 2, far-apart ones ~0, and
    single-term matches (no pair) earn exactly 0. -> (qid, doc_id,
    rank, score) re-ranked by the boosted score.

    Plan: the same run-doc × query-term pruned positional slice as
    `best_fragments` (hit-sized, localCheckpoint-ed), one per-(qid,
    doc) self-join over different-term occurrences for the min
    distance, a left join back to the run (no-pair docs keep bonus 0),
    and the usual top-k window."""
    hits = run.select("qid", "doc_id", "score")
    occ = (
        positional.join(
            F.broadcast(query_terms.select("qid", "term").distinct()),
            "term",
        )
        .join(hits.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi")
        .select("qid", "doc_id", "term", F.explode("positions").alias("p"))
        .localCheckpoint(eager=False)
    )
    a, b = occ.alias("a"), occ.alias("b")
    mindist = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") != F.col("b.term")),
        )
        .groupBy(
            F.col("a.qid").alias("qid"), F.col("a.doc_id").alias("doc_id")
        )
        .agg(
            F.min(F.abs(F.col("a.p") - F.col("b.p")))
            .cast("double")
            .alias("min_dist")
        )
    )
    boosted = hits.join(mindist, ["qid", "doc_id"], "left").withColumn(
        "score",
        F.col("score")
        + F.when(
            F.col("min_dist").isNotNull(),
            F.log(F.lit(1.0) + F.exp(-F.col("min_dist"))),
        ).otherwise(F.lit(0.0)),
    )
    return rank_topk(boosted, k)


def did_you_mean(
    index: InvertedIndex,
    queries_pos: DataFrame,
    max_edits: int = 2,
) -> DataFrame:
    """Collated "did you mean" — Lucene DirectSpellChecker +
    SpellChecker collation: every OOV token of a query is replaced by
    its best dictionary suggestion (``suggest_terms`` ordering:
    distance ASC, df DESC, term ASC), tokens keep their original
    order, and the collation is VERIFIED by counting documents
    matching ALL corrected terms (the collate query probe). Tokens
    with no suggestion within ``max_edits`` stay as-is, so their query
    collates to 0 hits — exactly Lucene's failed collation.

    ``queries_pos``: (qid, pos, term) — position-keyed tokens (order
    matters for the collated string). -> (qid, collated, n_hits)."""
    sug = suggest_terms(
        index, queries_pos.select("qid", "term"),
        max_edits=max_edits, n_suggestions=1,
    ).select("qid", "term", "suggestion")
    # `fixed` fans out to the collation agg, the distinct term count,
    # and the hit-probe join — materialize once so the vocab-scan
    # levenshtein subtree inside suggest_terms isn't re-derived per
    # consumer (plan dedup gives each fresh exprIds)
    fixed = queries_pos.join(sug, ["qid", "term"], "left").select(
        "qid", "pos",
        F.coalesce(F.col("suggestion"), F.col("term")).alias("t"),
    ).localCheckpoint(eager=False)
    coll = fixed.groupBy("qid").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda s: s["t"],
            ),
        ).alias("collated")
    )
    dq = fixed.select("qid", "t").distinct()
    n_terms = dq.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("_nt")
    )
    hits = (
        index.postings.join(
            F.broadcast(dq.withColumnRenamed("t", "term")), "term"
        )
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
        .join(F.broadcast(n_terms), "qid")
        .filter(F.col("_m") == F.col("_nt"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return coll.join(hits, "qid", "left").select(
        "qid", "collated",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
            "n_hits"
        ),
    )


def grouped_topk(
    run: DataFrame,
    docs: DataFrame,
    group_col: str,
    k_per_group: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Grouped search results — Lucene's grouping module at the logical
    level: within each query, keep the top ``k_per_group`` hits per
    group value (source site, domain, language...), the standard
    result-diversification used to stop one site dominating a page
    -> (qid, group, doc_id, rank, group_rank). ``rank`` is the hit's
    original run rank; ``group_rank`` restarts per (qid, group).

    Plan: one hit-sized join to the metadata (run side broadcastable)
    + a rank <= k window per (qid, group) — WindowGroupLimit, map-side
    partial."""
    joined = run.select("qid", "doc_id", "rank").join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(group_col).alias("group")
        ),
        "doc_id",
    )
    w = Window.partitionBy("qid", "group").orderBy(F.col("rank").asc())
    return (
        joined.withColumn(
            "group_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("group_rank") <= k_per_group)
        .select("qid", "group", "doc_id", "rank", "group_rank")
    )


def make_snippets(
    run: DataFrame,
    docs: DataFrame,
    query_terms: DataFrame,
    width: int = 30,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Simplified result highlighting (the logical core of Lucene's
    Highlighter): for each run hit, the fixed-width text window around
    the EARLIEST occurrence of any of that query's terms in the
    lowercased document -> (qid, doc_id, snip_start, snippet).
    Substring semantics (a term matches inside a longer word — same
    simplification as Lucene's SimpleFragmenter before token-aligned
    fragmenters); hits containing none of the query's terms as
    substrings yield no row (cannot happen for same-analyzer BM25
    runs, where every hit shares >= 1 token with the query).

    Plan: the run and query terms are per-query-top-k / vocab-tiny, so
    both broadcast; positions are one locate() per (hit, term) — pure
    codegen — min-reduced per hit, and the window is a single substr.
    The corpus is scanned once for the hit docs' text (runtime filters
    from the broadcast run prune the scan)."""
    hits = run.select("qid", "doc_id").join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(content_col).alias("_txt")
        ),
        "doc_id",
    )
    per_term = hits.join(
        F.broadcast(query_terms.select("qid", "term")), "qid"
    ).withColumn(
        "_pos", F.instr(F.lower(F.col("_txt")), F.col("term"))
    ).filter(F.col("_pos") > 0)
    best = per_term.groupBy("qid", "doc_id").agg(
        F.min("_pos").alias("_p"), F.first("_txt").alias("_t")
    )
    start = F.greatest(F.col("_p") - F.lit(width), F.lit(1))
    return best.select(
        "qid",
        "doc_id",
        start.cast("long").alias("snip_start"),
        F.substring(F.col("_t"), start, F.lit(2 * width)).alias("snippet"),
    )


def facet_counts(
    run: DataFrame,
    docs: DataFrame,
    facet_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Result faceting — Lucene facets at the logical level: count a
    run's hits per facet value (source, language, year, ...) per query
    -> (qid, facet, n_docs). One hit-sized equi-join back to the
    document metadata (the run side is per-query top-k, i.e. tiny —
    AQE broadcasts it against any corpus) and a map-side-combined
    groupBy; at 10^12 docs the join cost tracks |run|, not |corpus|,
    because the broadcast run prunes the scan via DPP/runtime filters."""
    return (
        run.select("qid", "doc_id")
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(facet_col).alias("facet")
            ),
            "doc_id",
        )
        .groupBy("qid", "facet")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def drill_sideways(
    run: DataFrame,
    docs: DataFrame,
    drill: list[tuple[str, str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Drill-sideways faceting — Lucene ``facet.DrillSideways``: the
    user has drilled down on one value per dimension; for EACH drilled
    dimension the facet counts are computed with that dimension's own
    filter REMOVED and every other drill-down filter applied (so the
    UI can show "what would I get if I picked a different value
    here?"), which is exactly Lucene's near-miss collection semantics.

    ``drill`` = ordered [(dim_col, drilled_value), ...].
    -> (qid, dim, value, n_docs).

    Scale shape: ONE hit-sized metadata equi-join (run side is
    per-query top-k — AQE broadcasts it against any corpus), then ONE
    map-side-combined pre-aggregation over (qid, dim1, ..., dimK);
    each dimension's sideways counts re-aggregate that compact cube
    (|qids| x |dim cardinalities| rows), so hits are scanned once no
    matter how many dimensions are drilled."""
    if not drill:
        raise ValueError("drill_sideways: need at least one dimension")
    dim_cols = [c for c, _ in drill]
    cube = (
        run.select("qid", "doc_id")
        .join(
            docs.select(F.col(id_col).alias("doc_id"), *dim_cols),
            "doc_id",
        )
        .groupBy("qid", *dim_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    parts = []
    for dim, _val in drill:
        others = F.lit(True)
        for o_dim, o_val in drill:
            if o_dim != dim:
                others = others & (F.col(o_dim) == F.lit(o_val))
        parts.append(
            cube.filter(others)
            .groupBy("qid", F.col(dim).cast("string").alias("value"))
            .agg(F.sum("n").cast("long").alias("n_docs"))
            .select("qid", F.lit(dim).alias("dim"), "value", "n_docs")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def percolate_scored(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 3,
    sim: "Similarity | None" = None,
) -> DataFrame:
    """SCORING percolation — Elasticsearch's percolate query used as a
    scoring clause (the alert-RANKING mode: a doc that fires fifty
    registered alerts routes to the strongest few): per document, the
    registered queries whose every term it contains (the `percolate`
    all-MUST contract), RANKED by the query's BM25 score against that
    document — i.e. `score_queries`' matrix transposed to a per-DOC
    window. -> (doc_id, qid, rank, score), rank <= k.

    Plan shape: ONE standard scoring pass over the postings (the
    score_queries plan — query side broadcast), an all-MUST filter via
    the matched-DISTINCT-term counter riding the same scan, and a
    per-doc WindowGroupLimit. Registry scale rides the same rarest-
    term presearcher as `percolate_indexed` when needed — the scoring
    window is unchanged."""
    qt = query_terms.select("qid", "term").distinct()
    n_q = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("_nt")
    )
    run = score_queries(index, query_terms, k=10**6, sim=sim)
    matched = (
        index.postings.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "qid")
        .agg(F.count_distinct("term").cast("long").alias("_nm"))
        .join(F.broadcast(n_q), "qid")
        .filter(F.col("_nm") == F.col("_nt"))
        .select("doc_id", "qid")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("qid").asc()
    )
    return (
        run.join(matched, ["qid", "doc_id"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(
            "doc_id", "qid", "rank", F.round("score", 4).alias("score")
        )
    )


def percolate(
    docs: DataFrame,
    query_terms: DataFrame,
    mode: str = "all",
    min_should_match: int = 1,
    cfg: AnalyzerConfig | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reverse search — Lucene Monitor / Elasticsearch percolator:
    match INCOMING documents against a REGISTERED query set instead of
    queries against an index. ``mode='all'`` requires a doc to contain
    EVERY term of a query (BooleanQuery all-MUST, counted over the RAW
    registered term set, so a query with an impossible term never
    fires); ``mode='any'`` fires on >= ``min_should_match`` distinct
    matched terms. -> (doc_id, qid, n_matched).

    Plan shape: docs here are an INCOMING BATCH (an alerting
    micro-batch, a re-screening slice), not the corpus — the explode is
    batch-bounded; the registered queries are the broadcast side, and
    the (doc, query) match counts are one map-side-combinable groupBy.
    Per-doc cost tracks matched registered terms, never the registry
    size (unmatched queries are never materialized)."""
    from .indexer import tokenize

    cfg = cfg or AnalyzerConfig(mode="simple")
    qt = query_terms.select("qid", "term").distinct()
    n_q = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    doc_terms = (
        tokenize(docs, cfg, id_col=id_col, content_col=content_col)
        .select("doc_id", F.explode("tokens").alias("term"))
        .distinct()
    )
    matched = (
        doc_terms.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .join(F.broadcast(n_q), "qid")
    )
    if mode == "all":
        matched = matched.filter(F.col("n_matched") == F.col("n_terms"))
    elif mode == "any":
        matched = matched.filter(
            F.col("n_matched") >= F.lit(int(min_should_match))
        )
    else:
        raise ValueError(f"percolate: unknown mode {mode!r}")
    return matched.select("doc_id", "qid", "n_matched")


def percolate_indexed(
    docs: DataFrame,
    query_terms: DataFrame,
    term_stats: DataFrame,
    cfg: AnalyzerConfig | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """INDEXED percolation — the Elasticsearch percolator's scale move
    (its QueryAnalyzer extracts each registered query's BEST term and
    indexes queries by it; candidate queries for a doc come from that
    one-term index, then full verification runs only on candidates):
    ``percolate`` broadcasts the whole registry, which dies at millions
    of registered queries; here each query is keyed by its RAREST term
    (min corpus df from ``term_stats``, OOV terms df=0 — rarest of all,
    and correctly so: an impossible term can only kill an all-MUST
    query, and no doc will ever seed it as a candidate). all-MUST
    semantics only: any full match must contain its rarest term, so the
    seed candidates are a superset of the hits and verification is
    exact. Result set == percolate(mode='all') row for row.

    Plan shape: registry-sized relations only ever shuffle on TERM —
    no broadcast of the registry; candidates per doc are bounded by
    the queries whose rarest term the doc contains (rare by
    construction), and the verify join fans each candidate out to its
    query's terms before one (doc, qid) count. Reference: ES
    percolator docs / Lucene monitor's TermFilteredPresearcher."""
    from .indexer import tokenize

    cfg = cfg or AnalyzerConfig(mode="simple")
    qt = query_terms.select("qid", "term").distinct()
    n_q = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    seed = (
        qt.join(term_stats.select("term", "df"), "term", "left")
        .select(
            "qid",
            "term",
            F.coalesce(F.col("df"), F.lit(0)).cast("long").alias("_df"),
        )
        .groupBy("qid")
        .agg(
            F.min(
                F.struct(
                    F.col("_df").alias("df"), F.col("term").alias("t")
                )
            ).alias("_s")
        )
        .select("qid", F.col("_s.t").alias("term"))
    )
    doc_terms = (
        tokenize(docs, cfg, id_col=id_col, content_col=content_col)
        .select("doc_id", F.explode("tokens").alias("term"))
        .distinct()
    )
    cand = doc_terms.join(seed, "term").select("doc_id", "qid")
    verified = (
        cand.join(qt, "qid")
        .join(doc_terms, ["doc_id", "term"], "left_semi")
        .groupBy("doc_id", "qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .join(n_q, "qid")
        .filter(F.col("n_matched") == F.col("n_terms"))
    )
    return verified.select("doc_id", "qid", "n_matched")


def join_query(
    index: InvertedIndex,
    query_terms: DataFrame,
    docs: DataFrame,
    field: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-time join — Lucene JoinUtil.createJoinQuery with
    ScoreMode.None: return the documents whose ``field`` value equals
    the ``field`` of ANY document matching the from-query ("every doc
    from a source that produced a match"). Constant score (no
    per-term math), -> (qid, doc_id) distinct.

    Plan: from-matches are one broadcast term semi-join over postings
    (docs matching >= 1 query term), the from-values are a
    per-query-tiny distinct field set, and the to-side expansion is an
    equi-join of that (broadcastable) set against the doc metadata —
    the corpus is scanned once and never shuffled; at scale the field
    set becomes a DPP/runtime filter on a field-partitioned table."""
    qd = (
        index.postings.join(
            F.broadcast(query_terms.select("qid", "term").distinct()),
            "term",
        )
        .select("qid", "doc_id")
        .distinct()
    )
    meta = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("_f")
    )
    from_vals = qd.join(meta, "doc_id").select("qid", "_f").distinct()
    return (
        meta.join(F.broadcast(from_vals), "_f")
        .select("qid", "doc_id")
        .distinct()
    )


def join_query_scores(
    index: InvertedIndex,
    query_terms: DataFrame,
    docs: DataFrame,
    field: str,
    score_mode: str = "max",
    k: int = 10,
    id_col: str = "doc_id",
    sim: "Similarity | None" = None,
) -> DataFrame:
    """Scored query-time join — Lucene JoinUtil.createJoinQuery with
    ScoreMode.{Max, Total, Avg} (the modes `join_query`'s
    ScoreMode.None omits): from-side documents are SCORED (BM25 by
    default), their scores aggregate per join-key value, and every
    to-side document carries its key's aggregate, ranked per query.
    The canonical shape: "rank products by the best/total relevance
    of their matching reviews".

      max   : strongest from-match wins          (Lucene Max)
      total : relevance mass accumulates         (Lucene Total)
      avg   : normalized by from-match count     (Lucene Avg — ONE
              division of a float sum by an integer count)

    -> (qid, doc_id, rank, score), rank <= k, 4dp-rounded score with
    doc_id-ASC ties like every scorer here. NOTE on parity: `total`
    and `avg` SUM per-doc floats across a key's from-matches — the
    oracle replays the identical join tree so group memberships match
    and the sums agree to 4dp (same convention as every scoring gate).

    Plan shape: one standard scoring pass (`score_queries` — postings
    scanned once), one (qid, field) map-side-combined aggregate over
    the hit set, one broadcast of the per-query-tiny key table onto
    the doc metadata, one WindowGroupLimit top-k."""
    if score_mode not in ("max", "total", "avg"):
        raise ValueError(
            "join_query_scores: score_mode must be max|total|avg"
        )
    run = score_queries(index, query_terms, k=10**6, sim=sim)
    meta = docs.select(
        F.col(id_col).alias("doc_id"), F.col(field).alias("_f")
    )
    agg = {
        "max": F.max("score"),
        "total": score_fold("score"),
        "avg": score_fold("score") / F.count(F.lit(1)),
    }[score_mode]
    keys = (
        run.join(meta, "doc_id")
        .groupBy("qid", "_f")
        .agg(agg.alias("score"))
    )
    ranked = rank_topk(meta.join(F.broadcast(keys), "_f"), k)
    return ranked.withColumn("score", F.round("score", 4))


def result_field_stats(
    run: DataFrame,
    docs: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Numeric stats aggregation over a result set — the ES
    stats/percentiles aggregation face of faceting: per query,
    min/max/avg/sample-stddev/exact-median of a numeric doc attribute
    across the run's hits. -> (qid, n, vmin, vmax, vavg, vstd, vmed).
    Same broadcast-run metadata join as `facet_counts`; the aggregate
    is run-sized (top-k per query), so the median's per-group sort is
    bounded and never corpus-sized."""
    v = F.col("_val").cast("double")
    return (
        run.select("qid", "doc_id")
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.col(value_col).alias("_val"),
            ),
            "doc_id",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            F.avg(v).alias("vavg"),
            F.stddev_samp(v).alias("vstd"),
            F.median(v).alias("vmed"),
        )
    )


def facet_hierarchy(
    run: DataFrame,
    docs: DataFrame,
    levels: list[str],
    id_col: str = "doc_id",
    fill: str = "(all)",
) -> DataFrame:
    """Hierarchical (taxonomy) facet counts — Lucene's taxonomy facets
    drill-down tree at the logical level: per query, hit counts at
    EVERY prefix depth of ``levels`` (e.g. source, then source/lang) in
    one pass. Catalyst's native rollup does this as a single Expand +
    one aggregation — no per-level rescan or union. Subtotal rows get
    ``fill`` in their aggregated level columns (assumes the level
    columns themselves are non-null); the all-queries grand total is
    dropped via the grouping_id qid bit so qid is always concrete."""
    j = run.select("qid", "doc_id").join(
        docs.select(F.col(id_col).alias("doc_id"), *levels), "doc_id"
    )
    out = (
        j.rollup("qid", *levels)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.grouping_id().alias("_gid"),
        )
        .filter(F.col("_gid") < (1 << len(levels)))
    )
    sel = (
        [F.col("qid")]
        + [F.coalesce(F.col(c), F.lit(fill)).alias(c) for c in levels]
        + [F.col("n_docs")]
    )
    return out.select(*sel)


def range_facet_counts(
    run: DataFrame,
    docs: DataFrame,
    value_col: str,
    ranges: list[tuple[str, int, int | None]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Numeric range faceting — Lucene LongRangeFacetCounts at the
    logical level: bucket a run's hits by a numeric doc attribute into
    caller-defined [lo, hi) ranges (hi=None = unbounded) and count per
    (qid, bucket). Same broadcast-run join shape as `facet_counts`;
    the bucket CASE is a pure codegen projection. Ranges may overlap
    (Lucene allows it) — a hit counts once per range it falls in, via
    a small literal-array explode of matching labels."""
    v = F.col("_val").cast("double")
    whens = []
    for label, lo, hi in ranges:
        cond = v >= F.lit(float(lo))
        if hi is not None:
            cond = cond & (v < F.lit(float(hi)))
        whens.append(F.when(cond, F.lit(label)))
    buckets = F.array_compact(F.array(*whens))
    return (
        run.select("qid", "doc_id")
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(value_col).alias("_val")
            ),
            "doc_id",
        )
        .select("qid", F.explode(buckets).alias("bucket"))
        .groupBy("qid", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _phrase_term_dfs(
    positional: DataFrame, terms: list[str]
) -> dict[str, int]:
    """df lookup for the phrase family's cost ordering (Lucene
    ExactPhraseMatcher leads with the lowest-cost term): one
    dictionary-filtered count per distinct term. The collect is
    len(terms) rows — query-sized, never corpus-sized — and the result
    is MEMOIZED on the source DataFrame object (keyed by the term
    set), so repeated phrase-family calls over the same relation (the
    common batch shape: one positional index, many queries) pay the
    scan once. Terms absent from the index are absent from the dict."""
    key = frozenset(terms)
    cache = getattr(positional, "_luc4ir_df_cache", None)
    if cache is None:
        cache = {}
        try:
            positional._luc4ir_df_cache = cache
        except AttributeError:
            pass
    if key in cache:
        return cache[key]
    rows = (
        positional.filter(F.col("term").isin(list(key)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in rows}
    cache[key] = dfs
    return dfs


def _phrase_constraint_order(
    dfs: dict[str, int], phrase: list[str]
) -> list[tuple[str, int]]:
    """Order the phrase's (term, offset) constraints by ascending df
    (tie: term, offset) — the join order of the start-position
    intersection walk. Pure and unit-testable; duplicate phrase terms
    contribute one constraint per offset."""
    return sorted(
        ((t, j) for j, t in enumerate(phrase)),
        key=lambda c: (dfs.get(c[0], 0), c[0], c[1]),
    )


def _empty_positional_result(
    positional: DataFrame, freq_col: str
) -> DataFrame:
    """(doc_id, <freq_col>) with 0 rows — the fast path when a phrase
    term is not in the dictionary (df lookup came back empty), saving
    the join chain entirely."""
    return positional.select("doc_id").limit(0).withColumn(
        freq_col, F.lit(0).cast("long")
    )


def phrase_query(
    positional: DataFrame,
    phrase: list[str],
    _dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Exact phrase matching over a positional index
    (``indexer.build_positional_postings``) — Lucene PhraseQuery
    (slop 0) semantics: a document matches where the terms occur at
    strictly consecutive positions; -> (doc_id, phrase_freq) with
    phrase_freq the number of distinct start offsets (the value
    Lucene's ExactPhraseMatcher feeds its scorer).

    Relational plan: the positional-intersection algorithm over
    candidate START positions — each phrase offset j contributes the
    constraint ``start ∈ positions(term_j) - j``, so the walk is an
    array_intersect chain of shifted position lists that is
    order-independent. Constraints are processed in ASCENDING df order
    (Lucene ExactPhraseMatcher's lead-with-cheapest cost ordering,
    df looked up via one query-sized count job): the seed relation is
    the RAREST term's cell, so a stopword-led phrase like "the quick
    zebra" starts from df(zebra) rows, not df(the) — every subsequent
    doc_id equi-join's left side is already ≤ the rarest df, pruned
    further after each step (`size > 0`). Duplicate phrase terms are
    one constraint per offset, each re-filtering the positional
    relation independently. ``_dfs`` lets a caller that already knows
    the dfs (phrase_query_compressed's spine) skip the lookup job —
    only the ORDERING depends on the values, so approximate dfs are
    safe."""
    if not phrase:
        raise ValueError("phrase_query: empty phrase")
    # df lookup on the INPUT relation (memoized per object, so a batch
    # of phrases over one index pays it once), then the walk's state:
    # the positional relation is consumed once per phrase term; plan
    # dedup re-derives the whole posexplode+collect build per consumer
    # (fresh exprIds defeat reuse) — materialize it once, GC-scoped,
    # DICTIONARY-FILTERED first so the checkpoint holds only the
    # phrase terms' cells (the walk's per-term filters then scan ≤
    # Σ df(term) rows instead of re-scanning the full positional
    # relation once per term)
    dfs = _dfs if _dfs is not None else _phrase_term_dfs(positional, phrase)
    positional = positional.filter(
        F.col("term").isin(list(set(phrase)))
    ).localCheckpoint(eager=False)
    if any(t not in dfs for t in phrase):
        return _empty_positional_result(positional, "phrase_freq")
    order = _phrase_constraint_order(dfs, phrase)
    t0, j0 = order[0]
    cur = positional.filter(F.col("term") == t0).select(
        "doc_id",
        F.transform("positions", lambda p: p - F.lit(j0)).alias("s"),
    )
    for t, j in order[1:]:
        nxt = positional.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("_p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "s",
                F.array_intersect(
                    F.col("s"),
                    F.transform("_p", lambda p: p - F.lit(j)),
                ),
            )
            .filter(F.size("s") > 0)
            .drop("_p")
        )
    return cur.select(
        "doc_id", F.size("s").cast("long").alias("phrase_freq")
    )


def similar_docs_topk(
    index: InvertedIndex,
    k: int = 10,
    query_doc_ids: list[int] | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Document-to-document similarity: for each (query) document, the
    top-k most similar other documents by tf-idf cosine — the batch
    "related documents" join (all-pairs similarity search à la Bayardo
    et al. 2007, done through the inverted index the engine already
    has) -> (a, b, rank, cosine). ``query_doc_ids`` restricts the left
    side (None = every document, the full all-pairs run); ``max_df``
    drops terms with document frequency above the cap from the pair
    join — the same skew valve as the jaccard shingle df cap: a
    stopword-grade term contributes df^2 candidate rows and near-zero
    idf weight, so capping bounds the join fan-out at negligible
    similarity cost (norms are still computed over ALL terms, so
    reported cosines are exact w.r.t. the full vectors).

    Plan shape: weights = postings x term_stats (broadcast-size right
    side), norms = one map-side-combined groupBy, pair dot products =
    ONE equi-join on term + a map-side-combined (a, b) groupBy, then a
    bounded per-query top-k window. At corpus scale run it with
    ``max_df`` set (or over LSH/minhash candidates) — an uncapped
    all-pairs join is quadratic in the df of its most common term."""
    n_docs = index.stats.n_docs
    # the weight projection fans out to THREE consumers (norms + both
    # join sides) and norms to two; plan dedup gives each consumer
    # fresh exprIds so ReuseExchange shares nothing (measured: 44
    # exchanges, 0 reused). GC-scoped lazy local checkpoints
    # materialize each shared relation once — the same house rule as
    # the LSH pair operators.
    w = index.postings.join(
        index.term_stats.select("term", "df"), "term"
    ).select(
        "term",
        "doc_id",
        (
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df"))
        ).alias("wt"),
        "df",
    ).localCheckpoint(eager=False)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    ).localCheckpoint(eager=False)
    pairs_src = w if max_df is None else w.filter(F.col("df") <= max_df)
    left = pairs_src.select(
        "term", F.col("doc_id").alias("a"), F.col("wt").alias("wa")
    )
    if query_doc_ids is not None:
        left = left.filter(F.col("a").isin(list(query_doc_ids)))
    right = pairs_src.select(
        "term", F.col("doc_id").alias("b"), F.col("wt").alias("wb")
    )
    dots = (
        left.join(right, "term")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    scored = (
        dots.join(norms.select(F.col("doc_id").alias("a"),
                               F.col("nrm").alias("na")), "a")
        .join(norms.select(F.col("doc_id").alias("b"),
                           F.col("nrm").alias("nb")), "b")
        .select(
            "a", "b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    win = Window.partitionBy("a").orderBy(
        F.col("cosine").desc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
        .select("a", "b", "rank", "cosine")
    )


def to_trec_run(
    run: DataFrame,
    run_name: str = "luc4ir_spark",
    docid_map: DataFrame | None = None,
) -> DataFrame:
    """(qid, doc_id, rank, score) -> TREC 6-column run rows
    ``qid Q0 docid rank score runid`` (reference writer:
    retriever/TrecDocRetriever.java:281-295; standard 6-col layout as in
    the committed res.txt). ``docid_map``: (doc_id, docid_str).

    The score column is cast to float32, the reference's
    ``ScoreDoc.score`` float, so scores that differ below float32
    resolution come out equal; ``rank`` is kept from ``run`` and so
    carries the engine's double order (score desc, doc_id asc)."""
    out = run
    if docid_map is not None:
        out = out.join(docid_map, "doc_id").withColumn(
            "docid", F.col("docid_str")
        )
    else:
        out = out.withColumn("docid", F.col("doc_id").cast("string"))
    return out.select(
        "qid",
        F.lit("Q0").alias("q0"),
        "docid",
        "rank",
        F.col("score").cast("float").alias("score"),
        F.lit(run_name).alias("runid"),
    ).orderBy("qid", "rank")


def comb_fuse(
    runs: DataFrame,
    method: str = "mnz",
    topk: int = 10,
) -> DataFrame:
    """CombSUM / CombMNZ score fusion (Fox & Shaw TREC-2; Lee SIGIR'97
    normalization): ``runs`` carries (run_id, qid, doc_id, score) for
    any number of systems stacked. Each system's scores are min-max
    normalized PER QUERY (nscore = (s - min)/(max - min); a degenerate
    single-score query normalizes to 1.0 — the doc IS that run's best),
    then per (qid, doc):

        CombSUM = Σ nscore    CombMNZ = CombSUM × #runs containing doc

    ``method='zsum'`` swaps the min-max normalization for per-(run,
    query) z-scores (Montague & Aslam CIKM'01) and fuses by plain
    summation — scale-free when the systems' score distributions have
    very different shapes.

    -> (qid, doc_id, rank, fused), rank ≤ topk, ties doc_id asc.

    Scale shape: runs are (systems × queries × k) — corpus-independent
    — so this is two bounded windows (per-(run,qid) min/max via one
    groupBy-free window, per-qid rank) and one groupBy."""
    if method not in ("sum", "mnz", "zsum"):
        raise ValueError("method must be 'sum', 'mnz' or 'zsum'")
    w = Window.partitionBy("run_id", "qid")
    r = runs.select("run_id", "qid", "doc_id", "score").withColumn(
        "_mn", F.min("score").over(w)
    ).withColumn("_mx", F.max("score").over(w))
    if method == "zsum":
        # z-score normalization (Montague & Aslam CIKM'01's "standard"
        # normalization): nscore = (s - mean)/stddev per (run, qid); a
        # degenerate constant-score run contributes 0 for every doc
        r = r.withColumn("_av", F.avg("score").over(w)).withColumn(
            "_sd", F.stddev_samp("score").over(w)
        )
        nscore = F.when(
            F.col("_sd") > 0,
            (F.col("score") - F.col("_av")) / F.col("_sd"),
        ).otherwise(F.lit(0.0))
        method = "sum"  # z-scores fuse by plain summation
    else:
        nscore = F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col("score") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        ).otherwise(F.lit(1.0))
    agg = (
        r.select("qid", "doc_id", nscore.alias("_ns"))
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("_ns").alias("_sum"),
            F.count(F.lit(1)).cast("double").alias("_nz"),
        )
    )
    fused = (
        F.col("_sum") * F.col("_nz") if method == "mnz" else F.col("_sum")
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("fused").desc(), F.col("doc_id").asc()
    )
    return (
        agg.select("qid", "doc_id", fused.alias("fused"))
        .withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("qid", "doc_id", "rank", "fused")
    )


def borda_fuse(
    runs: DataFrame,
    pool_k: int,
    topk: int = 10,
) -> DataFrame:
    """Borda-count rank fusion (Aslam & Montague SIGIR'01, "Models for
    Metasearch"): each system is a voter awarding ``pool_k - rank + 1``
    points to its rank-r document (truncated ballots — a doc absent
    from a system's top ``pool_k`` gets nothing from it); documents are
    fused by total points. ``runs`` carries (run_id, qid, doc_id, rank)
    for any number of stacked systems. All-integer arithmetic — no
    score calibration, no float tie hazard; ties break doc_id ASC.
    -> (qid, doc_id, rank, borda), rank <= topk.

    Scale shape: inputs are (systems x queries x pool_k) rows —
    corpus-independent — one map-side-combined groupBy + one bounded
    per-query window."""
    pts = (
        runs.filter(F.col("rank") <= int(pool_k))
        .select(
            "qid",
            "doc_id",
            (F.lit(int(pool_k)) - F.col("rank") + 1)
            .cast("long")
            .alias("_pts"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("_pts").cast("long").alias("borda"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("borda").desc(), F.col("doc_id").asc()
    )
    return (
        pts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("qid", "doc_id", "rank", "borda")
    )


def rrf_fuse(
    run_a: DataFrame,
    run_b: DataFrame,
    k_rrf: int = 60,
    topk: int = 10,
    qid_col: str = "qid",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    runs keyed (qid, doc_id, rank):

        rrf(q, d) = sum over runs of 1 / (k_rrf + rank(q, d))

    with a doc absent from a run contributing nothing from it. The
    standard hybrid-retrieval combiner (BM25 text run + embedding
    cosine run): rank-only, so the two scorers' scales never need
    calibration. Ties break on doc_id ascending (common here — a doc
    at rank r in only one run ties any doc at rank r in only the
    other). -> (qid, doc_id, rank, rrf), rank <= topk.

    Scale shape: both inputs are (n_queries x k) runs — tiny relative
    to any corpus — so this is one equi-join plus one bounded
    per-query window; the corpus itself is never touched."""
    a = run_a.select(qid_col, doc_col, F.col("rank").alias("_ra"))
    b = run_b.select(qid_col, doc_col, F.col("rank").alias("_rb"))
    fused = a.join(b, [qid_col, doc_col], "full_outer").select(
        qid_col,
        doc_col,
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("_ra")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("_rb")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("rrf").desc(), F.col(doc_col).asc()
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= topk)


def ltr_train_ridge(
    features: DataFrame,
    feature_cols: tuple = ("bm25", "lmdir"),
    label_col: str = "label",
    l2: float = 1.0,
) -> DataFrame:
    """Pointwise LTR training as closed-form two-feature ridge
    regression (regularized least squares — the classic pointwise
    baseline in Liu's "Learning to Rank for IR" survey, §2.2): solve
    (XᵀX + λI)w = Xᵀy for the feature table's two columns and report
    the weights plus the training MSE.

    Distribution shape: the ONLY corpus-sized work is one map-side-
    combined scalar aggregate producing the sufficient statistics
    (n, Σx1², Σx1x2, Σx2², Σx1y, Σx2y, Σy²); the 2×2 solve and the MSE
    (computed FROM the statistics — yᵀy − 2wᵀb + wᵀSw — so there is no
    second pass over the data) are a one-row projection. This is the
    same pattern a 1000-executor ranker trainer wants: ship sufficient
    statistics, not rows. No intercept term (add a constant feature
    upstream if needed); λ is added to the diagonal only.
    -> one row (n, w1, w2, mse)."""
    f1, f2 = feature_cols
    x1, x2, y = F.col(f1), F.col(f2), F.col(label_col)
    stats = features.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * y).alias("b1"),
        F.sum(x2 * y).alias("b2"),
        F.sum(y * y).alias("syy"),
    )
    lam = float(l2)
    # stepwise projections keep the float64 expression shape identical
    # to the SQL replay (same associations, same literal spellings)
    s1 = stats.withColumn(
        "s11p", F.col("s11") + F.lit(lam)
    ).withColumn("s22p", F.col("s22") + F.lit(lam))
    s2 = s1.withColumn(
        "det",
        F.col("s11p") * F.col("s22p") - F.col("s12") * F.col("s12"),
    )
    s3 = s2.withColumn(
        "w1",
        (F.col("s22p") * F.col("b1") - F.col("s12") * F.col("b2"))
        / F.col("det"),
    ).withColumn(
        "w2",
        (F.col("s11p") * F.col("b2") - F.col("s12") * F.col("b1"))
        / F.col("det"),
    )
    mse = (
        F.col("syy")
        - F.lit(2.0)
        * (F.col("w1") * F.col("b1") + F.col("w2") * F.col("b2"))
        + (
            F.col("w1") * F.col("w1") * F.col("s11")
            + F.lit(2.0) * (F.col("w1") * F.col("w2") * F.col("s12"))
            + F.col("w2") * F.col("w2") * F.col("s22")
        )
    ) / F.col("n").cast("double")
    return s3.select("n", "w1", "w2", mse.alias("mse"))


def query_relaxation_report(
    index: InvertedIndex,
    query_terms: DataFrame,
    min_hits: int = 3,
) -> DataFrame:
    """Query-relaxation ladder — the search-engine fallback behavior
    of trying the strictest interpretation first (all terms, Lucene
    MUST) and relaxing minimum_should_match one step at a time until
    enough results exist (Solr's mm-relaxation recipe): for each query
    pick the LARGEST msm whose candidate count reaches ``min_hits``,
    falling back to plain OR (msm=1, whatever it yields) when no level
    does. A query with an out-of-vocabulary term can never satisfy its
    full-AND level — exactly Lucene's empty-postings MUST. -> one row
    per query: (qid, n_terms, msm, level, n_hits) with
    level = n_terms − msm (0 = pure AND).

    Plan shape: EVERY level's count comes from ONE postings scan — the
    per-doc matched-term counts collapse to a (qid, n_matched)
    histogram (queries × n_terms rows), the msm grid is a literal
    sequence explode over that, and the pick is a per-qid
    WindowGroupLimit. No per-level rescans."""
    qt = query_terms.select("qid", "term").distinct()
    n_terms = qt.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    matched = (
        index.postings.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(F.countDistinct("term").cast("long").alias("_nm"))
    )
    hist = matched.groupBy("qid", "_nm").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    grid = n_terms.select(
        "qid",
        "n_terms",
        F.explode(F.sequence(F.lit(1), F.col("n_terms"))).alias("_m"),
    )
    hits = (
        grid.join(hist, "qid", "left")
        .groupBy("qid", "n_terms", "_m")
        .agg(
            F.sum(
                F.when(F.col("_nm") >= F.col("_m"), F.col("_cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_hits")
        )
    )
    elig = (F.col("n_hits") >= F.lit(int(min_hits))).cast("int")
    sk = F.when(elig == 1, -F.col("_m")).otherwise(F.col("_m"))
    w = Window.partitionBy("qid").orderBy(elig.desc(), sk.asc())
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "qid",
            "n_terms",
            F.col("_m").alias("msm"),
            (F.col("n_terms") - F.col("_m")).cast("long").alias("level"),
            "n_hits",
        )
    )


def mine_hard_negatives(
    run: DataFrame,
    qrels: DataFrame,
    n_neg: int = 2,
    qid_col: str = "qid",
    docid_col: str = "docid",
    rel_col: str = "rel",
    run_id_col: str = "doc_id",
) -> DataFrame:
    """Hard-negative mining for retrieval-model training (the
    BM25-negatives recipe of DPR, Karpukhin et al. EMNLP'20, and the
    sentence-transformers MS MARCO setup): from a first-stage run,
    pair every RETRIEVED relevant doc (a positive the retriever can
    actually see) with the ``n_neg`` highest-ranked NON-relevant docs
    of the same query — the confusable negatives that make contrastive
    training work, vs. random negatives a model separates trivially.
    Unjudged docs count as non-relevant (the standard assumption).
    -> (qid, pos_id, neg_id, neg_rank), all integers: one row per
    (positive × hard negative).

    Column contracts: ``qid_col``/``docid_col`` name the join keys on
    BOTH sides (the run must carry a doc key matching the qrels'
    docid spelling); ``run_id_col`` names the run's integer doc id
    that becomes pos_id/neg_id (it may be the same column as
    ``docid_col`` when the run keys docs by integer id directly).

    Plan shape: the run joins the qrels once (broadcast — qrels are
    judgment-sized), negatives cut by a per-qid WindowGroupLimit, and
    the triple fan-out is a run-sized equi-join on qid bounded by
    positives × n_neg. The corpus is never touched."""
    r = run.select(
        F.col(qid_col).alias("qid"),
        F.col(docid_col).alias("_dk"),
        F.col(run_id_col).alias("_rid"),
        "rank",
    )
    joined = r.join(
        F.broadcast(
            qrels.select(
                F.col(qid_col).alias("qid"),
                F.col(docid_col).alias("_dk"),
                F.col(rel_col).alias("_rel"),
            )
        ),
        ["qid", "_dk"],
        "left",
    ).withColumn(
        "_is_pos", F.coalesce(F.col("_rel"), F.lit(0.0)) >= 1.0
    )
    pos = joined.filter(F.col("_is_pos")).select(
        "qid", F.col("_rid").alias("pos_id")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rank").asc(), F.col("_rid").asc()
    )
    negs = (
        joined.filter(~F.col("_is_pos"))
        .withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= int(n_neg))
        .select("qid", F.col("_rid").alias("neg_id"), "neg_rank")
    )
    return pos.join(negs, "qid").select(
        "qid", "pos_id", "neg_id", "neg_rank"
    )


def ltr_apply_linear(
    features: DataFrame,
    model: DataFrame,
    feature_cols: tuple = ("bm25", "lmdir"),
    k: int = 10,
) -> DataFrame:
    """Serve a linear LTR model (the `ltr_train_ridge` output — one
    row with w1, w2) over a feature log: score = w1·f1 + w2·f2,
    re-ranked per query — the train→serve loop of a pointwise ranker
    without any driver-side weight collection (the one-row model
    relation broadcasts into a projection; swapping in a refreshed
    model is swapping a one-row table). -> (qid, doc_id, rank, score),
    rank <= k, ranked on the raw combined score (doc_id ties ASC) like
    every scorer here."""
    f1, f2 = feature_cols
    j = features.select("qid", "doc_id", f1, f2).crossJoin(
        F.broadcast(model.select("w1", "w2"))
    )
    scored = j.select(
        "qid",
        "doc_id",
        (F.col("w1") * F.col(f1) + F.col("w2") * F.col(f2)).alias(
            "score"
        ),
    )
    return rank_topk(scored, k)


def condorcet_fuse(
    runs: DataFrame,
    pool_k: int,
    topk: int = 10,
) -> DataFrame:
    """Condorcet-style rank fusion via Copeland scoring (Montague &
    Aslam CIKM'02, "Condorcet fusion for improved retrieval"): each
    system is a voter; document a beats document b when a MAJORITY of
    systems rank a above b (a doc absent from a system's top ``pool_k``
    ranks below every present doc there; both absent = that system
    abstains on the pair). The Copeland score is wins − losses over all
    pairwise duels; Montague & Aslam sort with the pairwise-majority
    comparator directly — Copeland is the standard well-defined
    linearization of the same majority graph (identical order whenever
    a Condorcet ranking exists). ``runs`` carries
    (run_id, qid, doc_id, rank) for any number of stacked systems.
    All-integer arithmetic — no score calibration, no float tie hazard;
    final ties break doc_id ASC. -> (qid, doc_id, rank, copeland),
    rank <= topk.

    Scale shape: candidates per query are bounded by systems×pool_k,
    so the duel stage is queries × systems × (systems·pool_k)² rows —
    corpus-independent (e.g. 3 systems, pool 10: ≤ 2,700 duel rows per
    query). One shuffle by qid; the corpus is never touched."""
    r = runs.filter(F.col("rank") <= int(pool_k)).select(
        "qid", "run_id", "doc_id",
        F.col("rank").cast("long").alias("rank"),
    )
    cands = r.select("qid", "doc_id").distinct()
    rids = r.select("run_id").distinct()
    # absent docs rank pool_k+1: below every present rank, and two
    # absences compare equal -> the system abstains on that pair
    grid = (
        cands.crossJoin(F.broadcast(rids))
        .join(r, ["qid", "run_id", "doc_id"], "left")
        .select(
            "qid", "run_id", "doc_id",
            F.coalesce("rank", F.lit(int(pool_k) + 1).cast("long"))
            .alias("rank"),
        )
    )
    a, b = grid.alias("a"), grid.alias("b")
    duel = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.run_id") == F.col("b.run_id"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.qid").alias("qid"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("opp"),
        )
        .agg(
            F.sum(
                F.when(F.col("a.rank") < F.col("b.rank"), 1).otherwise(0)
            ).alias("w"),
            F.sum(
                F.when(F.col("a.rank") > F.col("b.rank"), 1).otherwise(0)
            ).alias("l"),
        )
    )
    cop = (
        duel.select(
            "qid", "doc_id",
            F.when(F.col("w") > F.col("l"), 1)
            .when(F.col("w") < F.col("l"), -1)
            .otherwise(0)
            .alias("_pt"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("_pt").cast("long").alias("copeland"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("copeland").desc(), F.col("doc_id").asc()
    )
    return (
        cop.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("qid", "doc_id", "rank", "copeland")
    )


def sdm_topk(
    index: InvertedIndex,
    positional: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    mu: float = 2000.0,
    weights: tuple[float, float, float] = (0.85, 0.1, 0.05),
    uw_window: int = 8,
    cfg: AnalyzerConfig | None = None,
) -> DataFrame:
    """Sequential Dependence Model retrieval (Metzler & Croft SIGIR'05
    — the Indri/Galago #combine of unigram, ordered-window and
    unordered-window features; the standard strong baseline the
    reference's LM runs compare against):

        score(q, D) = w_t * f_T + w_o * f_O + w_u * f_U

    with f_T the Dirichlet query-likelihood over unigrams, f_O the
    same over #od1 counts of ADJACENT query-term pairs (exact-phrase
    occurrences), f_U over #uw{window} counts (anchor-based unordered
    co-occurrence, ``unordered_window_query`` semantics), each feature
    Dirichlet-smoothed with ITS OWN collection frequency over the same
    collection length C; default weights (0.85, 0.1, 0.05) are the
    published setting.

    Zero-evidence clauses drop (a unigram with df=0, a pair never
    occurring in the collection) — the same rule the OR query applies
    to unknown terms. Repeated adjacent terms skip the unordered
    feature (a term would satisfy its own window).

    Numerics: per-feature sums use the background decomposition
        f_X(D) = S_X(D) + B_X(q) - n_X(q) * ln(dl + mu),
        S_X(D) = sum over MATCHED clauses of
                 [ln(cnt + mu*cf/C) - ln(mu*cf/C)]
    so candidates never cross-join the clause list — only matched
    rows are touched, and the per-query constants B/n are a tiny
    broadcast. The oracle replays this exact algebraic shape.
    -> (qid, doc_id, rank, score), rank <= k (score DESC, doc_id ASC).

    Scale: candidates are unigram-matched docs (standard SDM pruning);
    window counts are per-pair dictionary-filtered positional
    equi-joins (phrase_query / unordered_window_query plans — array
    folds, no explode); everything else is hit-sized."""
    spark = index.postings.sparkSession
    cfg = cfg or AnalyzerConfig()
    w_t, w_o, w_u = (float(w) for w in weights)
    mu = float(mu)
    c_len = float(index.stats.total_tokens)
    uni_rows, pair_rows = [], []
    for qid, text in queries:
        terms = analyze_text(text, cfg)
        uni_rows += [(qid, t) for t in terms]
        pair_rows += [(qid, a, b) for a, b in zip(terms, terms[1:])]
    if not uni_rows:
        raise ValueError("sdm_topk: no query terms")
    qt = spark.createDataFrame(uni_rows, "qid string, term string")
    # ---- unigram feature rows (matched only) + per-qid constants
    tstats = index.term_stats.select("term", "cf")
    upost = index.postings.join(
        F.broadcast(qt.join(tstats, "term")), "term"
    )
    pc_t = F.lit(mu) * F.col("cf") / F.lit(c_len)
    st = (
        upost.select(
            "qid", "doc_id",
            (F.log(F.col("tf") + pc_t) - F.log(pc_t)).alias("_d"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("_d").alias("s_t"))
    )
    const_t = (
        qt.join(tstats, "term")
        .groupBy("qid")
        .agg(
            F.sum(F.log(pc_t)).alias("b_t"),
            F.count(F.lit(1)).cast("long").alias("n_t"),
        )
    )
    # ---- per-pair window counts (driver loop over the QUERY pairs —
    # query-sized, not data-sized; all Spark plans stay lazy)
    pos_ck = positional.localCheckpoint(eager=False)
    seen, od_parts, uw_parts = set(), [], []
    for _, a, b in pair_rows:
        if (a, b) in seen:
            continue
        seen.add((a, b))
        tag = lambda df, cnt: df.select(
            F.lit(a).alias("w1"), F.lit(b).alias("w2"),
            "doc_id", F.col(cnt).cast("long").alias("cnt"),
        )
        od_parts.append(tag(phrase_query(pos_ck, [a, b]), "phrase_freq"))
        if a != b:
            uw_parts.append(
                tag(
                    unordered_window_query(pos_ck, [a, b], uw_window),
                    "uw_freq",
                )
            )

    def _union(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    qpairs = (
        spark.createDataFrame(
            pair_rows, "qid string, w1 string, w2 string"
        )
        if pair_rows
        else None
    )

    def _feature(parts):
        """(S_x per (qid, doc), constants per qid) for one window
        feature from its per-pair count rows."""
        if not parts or qpairs is None:
            return None, None
        cnts = _union(parts).localCheckpoint(eager=False)
        cfs = cnts.groupBy("w1", "w2").agg(
            F.sum("cnt").cast("long").alias("pcf")
        )
        pc = F.lit(mu) * F.col("pcf") / F.lit(c_len)
        matched = (
            F.broadcast(qpairs.join(cfs, ["w1", "w2"]))
            .join(cnts, ["w1", "w2"])
            .select(
                "qid", "doc_id",
                (F.log(F.col("cnt") + pc) - F.log(pc)).alias("_d"),
            )
            .groupBy("qid", "doc_id")
            .agg(F.sum("_d").alias("s_x"))
        )
        consts = (
            qpairs.join(cfs, ["w1", "w2"])
            .groupBy("qid")
            .agg(
                F.sum(F.log(pc)).alias("b_x"),
                F.count(F.lit(1)).cast("long").alias("n_x"),
            )
        )
        return matched, consts

    so, const_o = _feature(od_parts)
    su, const_u = _feature(uw_parts)
    # ---- assemble over unigram-matched candidates
    cand = (
        st.join(index.doc_stats.select("doc_id", "doc_len"), "doc_id")
        .join(F.broadcast(const_t), "qid")
    )

    def _attach(df, feat, consts, s_name, b_name, n_name):
        if feat is None:
            return (
                df.withColumn(s_name, F.lit(0.0))
                .withColumn(b_name, F.lit(0.0))
                .withColumn(n_name, F.lit(0).cast("long"))
            )
        return (
            df.join(feat.withColumnRenamed("s_x", s_name),
                    ["qid", "doc_id"], "left")
            .join(
                F.broadcast(
                    consts.withColumnRenamed("b_x", b_name)
                    .withColumnRenamed("n_x", n_name)
                ),
                "qid",
                "left",
            )
            .fillna({s_name: 0.0, b_name: 0.0, n_name: 0})
        )

    cand = _attach(cand, so, const_o, "s_o", "b_o", "n_o")
    cand = _attach(cand, su, const_u, "s_u", "b_u", "n_u")
    ln_dl = F.log(F.col("doc_len") + F.lit(mu))
    score = (
        F.lit(w_t)
        * (F.col("s_t") + F.col("b_t") - F.col("n_t") * ln_dl)
        + F.lit(w_o)
        * (F.col("s_o") + F.col("b_o") - F.col("n_o") * ln_dl)
        + F.lit(w_u)
        * (F.col("s_u") + F.col("b_u") - F.col("n_u") * ln_dl)
    )
    return rank_topk(cand.select("qid", "doc_id", score.alias("score")), k)


def word_break_suggest(
    index: InvertedIndex,
    terms: list[str],
    k: int = 3,
) -> DataFrame:
    """Word-break spell correction — Lucene
    ``WordBreakSpellChecker.suggestWordBreaks``: an out-of-vocabulary
    run-on term ("sparkjoin") is split at every interior position and
    a split survives iff BOTH halves are dictionary words; suggestions
    rank by combined document frequency (df1 + df2 DESC, split
    position ASC — all-integer, engine-stable). In-vocabulary input
    terms yield no suggestions (nothing to fix), mirroring
    ``suggest_terms``' OOV-only rule.
    -> (term, left, right, df_sum, rank), rank <= k.

    Plan: |terms| x |term length| split candidates (a literal-sequence
    explode — query-sized, never corpus-sized), two broadcast joins
    against the vocab-sized term dictionary, one bounded window."""
    if not terms:
        raise ValueError("word_break_suggest: empty terms")
    spark = index.postings.sparkSession
    t = spark.createDataFrame([(w,) for w in terms], "term string")
    vocab = index.term_stats.select("term", "df")
    oov = t.join(vocab.select("term"), "term", "left_anti")
    cand = (
        oov.select(
            "term",
            F.explode(
                F.sequence(F.lit(1), F.length("term") - 1)
            ).alias("p"),
        )
        .select(
            "term",
            "p",
            F.expr("substr(term, 1, p)").alias("left"),
            F.expr("substr(term, p + 1)").alias("right"),
        )
    )
    j = (
        cand.join(
            F.broadcast(
                vocab.select(
                    F.col("term").alias("left"), F.col("df").alias("_d1")
                )
            ),
            "left",
        )
        .join(
            F.broadcast(
                vocab.select(
                    F.col("term").alias("right"), F.col("df").alias("_d2")
                )
            ),
            "right",
        )
        .select(
            "term", "p", "left", "right",
            (F.col("_d1") + F.col("_d2")).cast("long").alias("df_sum"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("df_sum").desc(), F.col("p").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("term", "left", "right", "df_sum", "rank")
    )
