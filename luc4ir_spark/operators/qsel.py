"""Verbose-query term selection: max-avg-idf sliding window.

Re-expresses the reference's query selector (reference:
qsel/QuerySelector.java:69-96 + qsel/IdfWindowScoringFunction.java:20-34,
used by retriever/VerboseQueryRetriever.java:37-52): slide a fixed-size
window over the analyzed verbose query (desc field), score each window
by the mean idf of its terms, and keep the argmax window as the reduced
query.

Spark shape: posexplode the term arrays, join the df stats (unhinted:
the dictionary is vocab-sized, so AQE broadcasts it only while it is
small), frame-window average, per-qid argmax — one pass for ALL queries
instead of the reference's per-query loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_verbose_query_terms(
    query_tokens: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    window_size: int = 3,
) -> DataFrame:
    """query_tokens: (qid, tokens array<string>) -> (qid, term, weight=1.0)
    — the terms of the best window, ready for retrieval.score_queries.

    Out-of-vocabulary terms contribute idf 0 (they cannot match anyway).
    Queries shorter than the window keep all their terms. Ties break on
    the earliest window start (the reference keeps the first maximum).
    """
    pos = query_tokens.select(
        "qid", F.posexplode("tokens").alias("pos", "term")
    )
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    with_idf = pos.join(
        term_stats.select("term", "df"), "term", "left"
    ).withColumn("idf", F.coalesce(idf, F.lit(0.0)))

    frame = (
        Window.partitionBy("qid")
        .orderBy("pos")
        .rowsBetween(0, window_size - 1)
    )
    n_terms = Window.partitionBy("qid")
    scored = (
        with_idf.withColumn("win_score", F.avg("idf").over(frame))
        .withColumn("win_len", F.count(F.lit(1)).over(frame))
        .withColumn("n", F.count(F.lit(1)).over(n_terms))
    )
    # eligible window starts: full windows, or pos 0 for short queries
    eligible = scored.filter(
        (F.col("win_len") == window_size)
        | ((F.col("n") < window_size) & (F.col("pos") == 0))
    )
    pick = Window.partitionBy("qid").orderBy(
        F.col("win_score").desc(), F.col("pos").asc()
    )
    best = (
        eligible.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("pos").alias("start"))
    )
    return (
        pos.join(F.broadcast(best), "qid")
        .filter(
            (F.col("pos") >= F.col("start"))
            & (F.col("pos") < F.col("start") + window_size)
        )
        .select("qid", "term", F.lit(1.0).alias("weight"))
        .distinct()
    )


def query_segmentation(
    docs: DataFrame,
    queries: DataFrame,
    threshold: float = 0.0,
    content_col: str = "content",
) -> DataFrame:
    """Glue-based query segmentation (the PMI-glue family of Bergsma &
    Wang EMNLP'07 / Hagen et al. WWW'11 naive segmentation): split a
    query into phrase segments at every adjacent pair whose corpus
    ADJACENCY glue falls below ``threshold`` —

      glue(w1, w2) = ln( N · c(w1 w2) / (c(w1 ·) · c(· w2)) )

    the PMI over the corpus bigram table (N = total bigrams, marginals
    = left/right occurrence counts); an UNSEEN bigram is always a
    boundary. ``queries`` is (qid, text); tokens follow the engine's
    ``simple`` analyzer. -> (qid, seg, phrase, n_terms) — one row per
    segment, tokens space-joined in position order, seg 0-based.

    Scale shape: the corpus stage is the collocations bigram groupBy
    (one literal-index explode, map-side combined, vocab²-bounded);
    everything query-side is queries × positions-sized, and the glue
    lookup is a broadcast-able join of query bigrams against the
    bigram table. The segment id is a per-qid running sum of boundary
    flags — a query-length window, never corpus-sized."""
    toks_expr = F.array_remove(
        F.split(F.lower(F.col(content_col)), "[^a-z0-9]+"), ""
    )
    t = docs.select(toks_expr.alias("tk")).filter(F.size("tk") >= 2)
    i = F.explode(F.sequence(F.lit(1), F.size("tk") - 1)).alias("i")
    bg = (
        t.select("tk", i)
        .select(
            F.element_at("tk", F.col("i")).alias("w1"),
            F.element_at("tk", F.col("i") + 1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    left = bg.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("c").cast("long").alias("c2"))
    tot = bg.agg(F.sum("c").cast("long").alias("n"))
    glue = (
        bg.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.log(
                F.col("n") * F.col("c")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("_glue"),
        )
    )
    qtok_expr = F.array_remove(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), ""
    )
    qt = queries.select(
        "qid", F.posexplode(qtok_expr).alias("pos", "token")
    )
    qbg = qt.alias("a").join(
        qt.alias("b"),
        (F.col("a.qid") == F.col("b.qid"))
        & (F.col("b.pos") == F.col("a.pos") + 1),
    ).select(
        F.col("a.qid").alias("qid"),
        F.col("b.pos").alias("pos"),
        F.col("a.token").alias("w1"),
        F.col("b.token").alias("w2"),
    )
    bounds = qbg.join(F.broadcast(glue), ["w1", "w2"], "left").select(
        "qid",
        "pos",
        (
            F.col("_glue").isNull()
            | (F.col("_glue") < F.lit(float(threshold)))
        )
        .cast("int")
        .alias("_b"),
    )
    w_cum = (
        Window.partitionBy("qid")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = (
        qt.join(bounds, ["qid", "pos"], "left")
        .withColumn(
            "seg",
            F.coalesce(
                F.sum(F.coalesce(F.col("_b"), F.lit(0))).over(w_cum),
                F.lit(0),
            ).cast("long"),
        )
    )
    return seg.groupBy("qid", "seg").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x.getField("token"),
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
