"""Inverted-index construction as a Spark DataFrame pipeline.

Replaces the reference's serial indexing loop (reference:
indexing/TrecDocIndexer.java:151-168 — one thread feeding a Lucene
IndexWriter doc by doc) with a distributed build:

    documents ──derive_postings──▶ (term, doc_id, tf, doc_len)
       │    simple: codegen'd split ──▶ explode ──▶ map-side partial agg
       │    others: one Arrow kernel analyzes AND counts tf per doc
       ├──▶ derive_doc_stats (doc_len out of the postings, sha256)
       └──▶ shuffle by term  == Lucene's segment merge
              ├──▶ term_stats (df, cf)
              └──▶ per-(term, salt) sorted, delta+varbyte-encoded
                   posting blobs with per-block max-tf impacts

Every build — in-session (``build_index``), checkpointed
(plans/checkpoints.py) and streamed (streaming/incremental_index.py) —
gets its postings and doc_stats from those two functions.

The only cluster-wide data movement is the shuffle by term; skewed
high-df terms (code corpora: 'the', 'license', 'import'...) are salted
into ``num_salt_shards`` sub-lists so no single reducer owns a monster
posting list (salting criterion: df > salt_df_threshold).

Doc-length is denormalized into the flat postings (term, doc_id, tf,
doc_len) so BM25 scoring needs NO join against doc_stats at query time —
the analogue of Lucene keeping norms alongside postings.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analysis import (
    AnalyzerConfig,
    analyze_series,
    simple_tokens,
    tokens_udf,
)


@dataclass(frozen=True)
class IndexConfig:
    analyzer: AnalyzerConfig = AnalyzerConfig()
    # terms with df above this get the salted encode shuffle key
    salt_df_threshold: int = 100_000
    # doc-shard count for compressed blobs. None (default) derives
    # ceil(max df / target_postings_per_shard) at build time — see
    # wand.derive_num_salt_shards — so the largest posting list, not a
    # hand-tuned constant, bounds encode-group size and per-(qid, salt)
    # query-kernel memory (<= n_query_terms * target postings per task).
    # Doc ids are mix-hashed (functions/hashing.py) before the modulus,
    # so structured id spaces (all-even, stride-k) still shard uniformly.
    num_salt_shards: int | None = None
    target_postings_per_shard: int = 250_000
    block_size: int = 128  # docs per impact block inside a posting blob


@dataclass(frozen=True)
class CollectionStats:
    """Driver-side scalars, embedded as literals into scoring plans
    (the 'broadcast document-length/avgdl statistics' of the design —
    scalar literals fold into codegen, cheaper than a broadcast join)."""

    n_docs: int
    total_tokens: int
    vocab_size: int

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.n_docs if self.n_docs else 0.0


@dataclass
class InvertedIndex:
    """Handle over the index tables (all lazy DataFrames)."""

    doc_stats: DataFrame     # doc_id, doc_len, content_sha256
    postings: DataFrame      # term, doc_id, tf, doc_len   (flat view)
    term_stats: DataFrame    # term, df, cf
    stats: CollectionStats
    config: IndexConfig
    blobs: DataFrame | None = None  # term, salt, blob... (compressed view)


def tokenize(
    docs: DataFrame,
    cfg: AnalyzerConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """documents -> (doc_id, tokens array<string>).

    ``simple`` mode stays fully JVM-side (whole-stage codegen, no Arrow
    hop); other modes run the Arrow-vectorized analyzer UDF.
    """
    if cfg.mode == "simple" and not cfg.stopwords:
        toks = simple_tokens(content_col)
    elif cfg.mode == "simple":
        stop_arr = F.array(*[F.lit(w) for w in sorted(cfg.stopwords)])
        toks = F.array_except(simple_tokens(content_col), stop_arr)
    else:
        from ..deploy import ensure_package_on_executors

        ensure_package_on_executors(docs.sparkSession)
        toks = tokens_udf(cfg)(F.col(content_col))
    return docs.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))


def assign_doc_ids(
    docs: DataFrame,
    key_cols: list[str],
    num_buckets: int = 1024,
) -> DataFrame:
    """Deterministic dense doc_id assignment without a global sort.

    A single global ``zipWithIndex``/``row_number() OVER (ORDER BY ...)``
    serializes on one reducer at 10^12-row scale. Instead: hash-bucket by
    the natural key, sort *within* each bucket, and offset each bucket by
    the cumulative count of the buckets before it (one tiny driver-side
    action over ``num_buckets`` rows). Same input -> same ids, any cluster
    size, no single-node bottleneck.
    """
    key = F.concat_ws("", *[F.col(c) for c in key_cols])
    bucketed = docs.withColumn(
        "_bucket", F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")
    ).withColumn("_key", key)
    counts = (
        bucketed.groupBy("_bucket").count().orderBy("_bucket").collect()
    )
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["_bucket"]] = acc
        acc += row["count"]
    spark = docs.sparkSession
    offsets_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "_bucket int, _offset long"
    )
    w = Window.partitionBy("_bucket").orderBy("_key")
    return (
        bucketed.join(F.broadcast(offsets_df), "_bucket")
        .withColumn(
            "doc_id",
            (F.col("_offset") + F.row_number().over(w) - F.lit(1)).cast("long"),
        )
        .drop("_bucket", "_offset", "_key")
    )


def build_flat_postings(tokens: DataFrame) -> DataFrame:
    """(doc_id, tokens) -> (term, doc_id, tf, doc_len).

    ``explode`` + hash aggregate; Catalyst plans this with a map-side
    partial count before the shuffle, so the wire carries (doc_id, term,
    partial_tf), not raw tokens. doc_len rides along via a grouping key
    (constant per doc_id — no extra join, no second shuffle).
    """
    with_len = tokens.withColumn("doc_len", F.size("tokens").cast("long"))
    return (
        with_len.select(
            "doc_id", "doc_len", F.explode("tokens").alias("term")
        )
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "doc_len")
    )


def extract_postings_arrow(
    docs: DataFrame,
    cfg: AnalyzerConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(docs) -> (term, doc_id, tf, doc_len): tokenization AND per-doc
    term-frequency extraction in ONE Arrow kernel.

    The explode-then-groupBy route materializes every token occurrence
    as a JVM string row (|tokens| rows) before the map-side partial agg
    — at high parallelism the allocation rate turns the build GC-bound.
    Here the Counter runs inside the pandas UDF, so only the already-
    aggregated (term, doc_id, tf) triples (~|distinct terms per doc|)
    cross Arrow, and no groupBy is needed before the term shuffle.
    This is the default path for UDF-analyzed modes."""
    from collections import Counter

    from ..deploy import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    def extract(batches):
        for pdf in batches:
            token_lists = analyze_series(pdf[content_col], cfg)
            ids, terms, tfs, dls = [], [], [], []
            for doc_id, toks in zip(pdf[id_col], token_lists):
                cnt = Counter(toks)
                n = len(toks)
                ids.extend([doc_id] * len(cnt))
                dls.extend([n] * len(cnt))
                terms.extend(cnt.keys())
                tfs.extend(cnt.values())
            yield pd.DataFrame(
                {"term": terms, "doc_id": ids, "tf": tfs, "doc_len": dls}
            )

    return docs.select(id_col, content_col).mapInPandas(
        extract, "term string, doc_id long, tf int, doc_len long"
    )


def derive_postings(
    docs: DataFrame,
    cfg: AnalyzerConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """documents -> flat postings (term, doc_id, tf, doc_len): the one
    postings derivation every index build uses. ``simple`` mode stays on
    the pure-JVM tokenizer (explode + codegen'd partial agg); every
    Arrow-analyzed mode extracts tf inside the UDF
    (``extract_postings_arrow`` — avoids the JVM token-explode)."""
    if cfg.mode == "simple":
        return build_flat_postings(tokenize(docs, cfg, id_col, content_col))
    return extract_postings_arrow(docs, cfg, id_col, content_col)


def derive_doc_stats(
    docs: DataFrame,
    postings: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """documents + their flat postings -> (doc_id, doc_len,
    content_sha256). doc_len is the post-stop token count (Lucene-norm
    analogue, exact int64 instead of the 1-byte lossy SmallFloat), read
    back out of the postings (constant per doc_id); the left join keeps
    zero-token docs with doc_len 0. content_sha256 is the per-row ingest
    invariant, so docs are re-scanned only for the sha projection."""
    lens = postings.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.sha2(F.col(content_col), 256).alias("content_sha256"),
        )
        .join(lens, "doc_id", "left")
        .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0)))
        .select("doc_id", "doc_len", "content_sha256")
    )


def build_positional_postings(tokens: DataFrame) -> DataFrame:
    """(doc_id, tokens) -> (term, doc_id, positions) with ``positions``
    the SORTED 0-based occurrence offsets — the positional index that
    backs exact phrase matching (Lucene parity: the PostingsEnum
    position stream that PhraseQuery consumes; the reference's Lucene
    indexes store positions by default). One posexplode over the token
    arrays feeds a map-side-combined (term, doc_id) collect; positions
    are sorted per cell so downstream intersections are deterministic.
    Per-cell memory is a doc's per-term occurrence count — bounded by
    doc length, never corpus-sized. Positional cells are ~2-3x the flat
    tf index; build them only when phrase/proximity semantics are
    needed (the tf spine stays the scoring default)."""
    return (
        tokens.select(
            "doc_id", F.posexplode("tokens").alias("pos", "term")
        )
        .groupBy("term", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
                "positions"
            )
        )
    )


def compress_positional_postings(positional: DataFrame) -> DataFrame:
    """(term, doc_id, positions) -> (term, doc_id, tf, pos_blob): the
    compressed positional index — per-posting position streams
    delta+varbyte encoded (functions/codec.py), tf kept as a sibling
    column so phrase candidates can be pruned and decode bounded
    WITHOUT touching the blob (Lucene's .pos file stores the same
    per-posting vint delta streams, with freq in the .doc file).
    ~3-5× smaller than int arrays; the scoring spine is untouched.

    Plan shape: a pure per-row Arrow projection (mapInPandas), no
    shuffle — the input's (term, doc_id) partitioning, whatever it is,
    survives."""
    from ..deploy import ensure_package_on_executors

    spark = positional.sparkSession
    ensure_package_on_executors(spark)

    schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("tf", T.LongType()),
            T.StructField("pos_blob", T.BinaryType()),
        ]
    )

    def enc(batches):
        import numpy as np

        from ..functions import codec

        for pdf in batches:
            out = {
                "term": pdf["term"],
                "doc_id": pdf["doc_id"],
                "tf": pdf["positions"].map(len).astype("int64"),
                "pos_blob": pdf["positions"].map(
                    lambda p: codec.encode_positions(
                        np.asarray(p, dtype=np.int64)
                    )
                ),
            }
            yield pd.DataFrame(out)

    return positional.select("term", "doc_id", "positions").mapInPandas(
        enc, schema
    )


def decode_positional_postings(compressed: DataFrame) -> DataFrame:
    """Inverse of ``compress_positional_postings`` for the (pruned!)
    cells a phrase/proximity query actually needs: (term, doc_id, tf,
    pos_blob) -> (term, doc_id, positions). Decode AFTER candidate
    pruning — the blob column of non-candidates is column-pruned out of
    the scan entirely."""
    from ..deploy import ensure_package_on_executors

    spark = compressed.sparkSession
    ensure_package_on_executors(spark)

    schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField(
                "positions", T.ArrayType(T.IntegerType(), False)
            ),
        ]
    )

    def dec(batches):
        import numpy as np

        from ..functions import codec

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "term": pdf["term"],
                    "doc_id": pdf["doc_id"],
                    "positions": [
                        codec.decode_positions(b, freq=int(f)).astype(
                            np.int32
                        )
                        for b, f in zip(pdf["pos_blob"], pdf["tf"])
                    ],
                }
            )

    return compressed.select(
        "term", "doc_id", "tf", "pos_blob"
    ).mapInPandas(dec, schema)


def build_term_stats(flat_postings: DataFrame) -> DataFrame:
    """term -> (df, cf): the term-dictionary statistics BM25/LM need.
    (reference reads these from the Lucene index: docFreq/totalTermFreq,
    e.g. feedback/RelevanceModelIId.java:154-156)."""
    return flat_postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


def collect_collection_stats(
    doc_stats: DataFrame, term_stats: DataFrame
) -> CollectionStats:
    """Collection scalars from MATERIALIZED doc_stats/term_stats tables
    (the open-an-existing-index path — streaming/bucketed readers).
    Builds use ``derive_collection_stats`` instead, which never forces
    the doc_stats join."""
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("tot")
    ).collect()[0]
    vocab = term_stats.count()
    return CollectionStats(
        n_docs=int(row["n"] or 0),
        total_tokens=int(row["tot"] or 0),
        vocab_size=int(vocab),
    )


def derive_collection_stats(
    term_stats: DataFrame, n_docs: int
) -> CollectionStats:
    """Collection scalars of a build in one action over its (small) term
    table: total tokens == sum(cf) (sum of tf == sum of per-doc doc_len;
    zero-token docs contribute 0 to both), vocab == term rows; ``n_docs``
    is the caller's input row count."""
    row = term_stats.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cf").alias("tot")
    ).collect()[0]
    return CollectionStats(
        n_docs=n_docs,
        total_tokens=int(row["tot"] or 0),
        vocab_size=int(row["v"] or 0),
    )


def build_index(
    docs: DataFrame,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    content_col: str = "content",
    cache: bool = True,
) -> InvertedIndex:
    """End-to-end, in-session index build. The compressed blob table is
    left to its reader (operators/wand.py builds it on first use).

    Memory shape: analysis runs exactly ONCE, inside
    ``derive_postings`` (raw token arrays are never cached — persisting
    them evicts everything else and thrashes at high parallelism); only
    the compact flat-postings table is persisted. doc_stats is derived
    lazily from the postings (``derive_doc_stats``), so docs are
    re-scanned only for the cheap sha projection.

    ``docs`` should be cheap to count (a file source — parquet counts
    from footer metadata — or an already-persisted frame): the stats
    derivation issues one docs.count(). Builds that must survive a
    restart go through build_index_checkpointed, which writes the same
    tables to disk, each in one job, and on a rerun redoes only the
    stages from the first one not finished (it scans docs again for its
    lineage fingerprint and for the sha projection)."""
    cfg = cfg or IndexConfig()
    flat = derive_postings(docs, cfg.analyzer, id_col, content_col)
    if cache:
        flat = flat.persist()
    doc_stats = derive_doc_stats(docs, flat, id_col, content_col)
    term_stats = build_term_stats(flat)
    if cache:
        term_stats = term_stats.persist()
    # Scalars WITHOUT forcing the doc_stats join (a content sha2 scan +
    # a postings-sized doc_id shuffle, measured as the build's scaling
    # bottleneck at 8 -> 16 cores); the term-table action also fills the
    # flat-postings cache, and docs.count() is metadata-cheap on files.
    stats = derive_collection_stats(term_stats, docs.count())
    return InvertedIndex(
        doc_stats=doc_stats,
        postings=flat,
        term_stats=term_stats,
        stats=stats,
        config=cfg,
    )


def merge_indexes(a: InvertedIndex, b: InvertedIndex) -> InvertedIndex:
    """Logical segment merge: two indexes over DISJOINT doc-id spaces
    become one index over their union — the relational form of Lucene's
    ``IndexWriter.addIndexes`` / background segment merging (the
    reference builds per-collection indexes with that machinery, e.g.
    indexer/TrecDocIndexer.java's writer lifecycle). Lucene remaps
    segment-local doc ids at merge time; here doc ids are globally
    assigned at ingest (assign_doc_ids), so disjointness is the caller's
    contract and the merge itself is pure metadata algebra.

    Plan shape at scale: the postings and doc_stats spines are plain
    UNIONs — a Spark union is plan-level concatenation, NO shuffle, no
    re-encode of either side — and only the vocab-sized term_stats
    re-aggregation (df/cf are additive across disjoint doc sets)
    shuffles. That makes merging two 50 TB indexes as cheap as one
    small agg over their term dictionaries, which is exactly why an
    incremental build (streaming/incremental_index.py) can fold daily
    deltas into a base index without touching the base's postings.

    Collection scalars are additive (n_docs, total_tokens); vocab_size
    is NOT (overlapping vocabularies), so it costs the one count action
    over the merged term table. The merged handle carries no blob
    table: its reader rebuilds the delta+varbyte blobs from the merged
    flat postings on first use — blobs are doc-sharded by
    pmod(mix(doc_id), shards), so blobs of the two inputs cannot simply
    be concatenated (a term present in both sides must re-block its
    union posting list to keep block maxima exact)."""
    if a.config.analyzer != b.config.analyzer:
        raise ValueError(
            "merge_indexes: analyzer configs differ — indexes are not "
            f"merge-compatible ({a.config.analyzer} vs {b.config.analyzer})"
        )
    postings = a.postings.unionByName(b.postings)
    doc_stats = a.doc_stats.unionByName(b.doc_stats)
    term_stats = (
        a.term_stats.unionByName(b.term_stats)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
        )
    )
    stats = CollectionStats(
        n_docs=a.stats.n_docs + b.stats.n_docs,
        total_tokens=a.stats.total_tokens + b.stats.total_tokens,
        vocab_size=int(term_stats.count()),
    )
    return InvertedIndex(
        doc_stats=doc_stats,
        postings=postings,
        term_stats=term_stats,
        stats=stats,
        config=a.config,
    )


def prune_index_static(
    index: InvertedIndex, max_per_term: int = 128
) -> InvertedIndex:
    """Static index pruning — Carmel et al. SIGIR'01 ("Static index
    pruning for information retrieval systems") / the "champion lists"
    of Manning, Raghavan & Schütze IIR §7.1.3: keep only the top
    ``max_per_term`` postings of every term by (tf DESC, doc_id ASC) —
    the entries able to produce the largest per-term contributions —
    while every GLOBAL statistic (df, cf, doc lengths, avgdl, N) stays
    the FULL index's, so a posting that survives scores bit-identically
    to the unpruned index and pruning only loses tail candidates.

    This is the static counterpart of the dynamic early-termination
    family (block-max WAND `wand.py`, impact-ordered anytime top-k):
    the pruned tier is the small hot serving index (fits memory /
    faster scan), the full index stays as the fallback tier for
    recall-critical or conjunctive queries.

    Plan shape: ONE per-term window top-k over the flat postings —
    Spark plans it as WindowGroupLimit with a Partial stage, so each
    map task pre-cuts to M before the term shuffle; every other table
    passes through by reference (zero extra work, zero copies). Skew:
    the window key is the term — the same key the postings shuffle
    already uses — and the partial limit bounds any stopword cell at
    M rows post-shuffle."""
    if int(max_per_term) <= 0:
        raise ValueError("prune_index_static: max_per_term must be > 0")
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    pruned = (
        index.postings.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= int(max_per_term))
        .drop("_r")
    )
    return InvertedIndex(
        doc_stats=index.doc_stats,
        postings=pruned,
        term_stats=index.term_stats,
        stats=index.stats,
        config=index.config,
    )


def delete_docs(index: InvertedIndex, doc_ids: DataFrame) -> InvertedIndex:
    """Logical document deletion — Lucene's
    ``IndexWriter.deleteDocuments`` / live-docs bitset at the relational
    level: a new index handle whose postings, doc_stats, and term stats
    exclude the given documents. ``doc_ids``: a 1-column DataFrame of
    ids to drop (any column name; the first column is used).

    Plan shape at scale: the drop list joins as a LEFT ANTI on the
    doc_id rider of each spine — Lucene applies the same idea as a
    bitset filter at read time — and AQE broadcasts it while small
    (the common case: deletions are a sliver of the corpus). Term
    stats are re-aggregated from the filtered postings (one vocab-
    sized shuffle; df/cf must shrink for deleted docs' terms or BM25
    idf drifts — Lucene defers this to segment merges and lives with
    stale df, we keep stats exact). Collection scalars come from the
    filtered relations (two scalar actions), so scoring over the new
    handle is exactly the scoring of a fresh build without the deleted
    docs (tested). Compressed blobs are NOT carried over — rebuild via
    ``wand.build_compressed_postings`` after bulk deletes, exactly as
    Lucene rewrites segments on merge."""
    ids = doc_ids.select(
        F.col(doc_ids.columns[0]).cast("long").alias("doc_id")
    ).distinct()
    # re-select the original column order (a join key floats to the
    # front) so the spine schemas stay contract-identical to a build
    postings = index.postings.join(ids, "doc_id", "left_anti").select(
        index.postings.columns
    )
    doc_stats = index.doc_stats.join(ids, "doc_id", "left_anti").select(
        index.doc_stats.columns
    )
    term_stats = build_term_stats(postings)
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("tot")
    ).collect()[0]
    stats = CollectionStats(
        n_docs=int(row["n"] or 0),
        total_tokens=int(row["tot"] or 0),
        vocab_size=int(term_stats.count()),
    )
    return InvertedIndex(
        doc_stats=doc_stats,
        postings=postings,
        term_stats=term_stats,
        stats=stats,
        config=index.config,
    )


def update_docs(
    index: InvertedIndex,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    cache: bool = False,
) -> InvertedIndex:
    """Document upsert — Lucene ``IndexWriter.updateDocument`` at the
    relational level: atomically replace (or insert) every doc in
    ``new_docs`` by id. Exactly Lucene's own decomposition —
    delete-by-id then add — expressed as one anti-join prune
    (``delete_docs``: live-docs semantics, stats kept exact), a delta
    index build over ONLY the changed docs, and the shuffle-free union
    merge (``merge_indexes``: base postings are never rewritten; only
    the vocab-sized term stats re-aggregate). Cost at scale is therefore
    O(changed docs) plus one term-dictionary agg, independent of base
    corpus size. Scoring over the returned handle equals scoring over a
    fresh build of the modified corpus (tested + oracle-gated)."""
    ids = new_docs.select(F.col(id_col).cast("long").alias("doc_id"))
    pruned = delete_docs(index, ids)
    delta = build_index(
        new_docs, index.config, id_col=id_col, content_col=content_col,
        cache=cache,
    )
    return merge_indexes(pruned, delta)


def idf_lucene(df_col, n_docs: int):
    """Lucene-8 BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def term_max_contrib(
    index: InvertedIndex,
    topn: int = 20,
    k1: float = 0.7,
    b: float = 0.3,
) -> DataFrame:
    """Per-term global score upper bounds — the table MaxScore (Turtle
    & Flood'95) and WAND keep to skip non-competitive documents: for
    every term, the maximum single-posting BM25 contribution and the
    doc achieving it (the compressed spine already stores per-BLOCK
    maxima; this is the term-level roll-up). Reported for the ``topn``
    largest bounds (4dp-rounded, term ties ASC). Ties on the max
    contribution resolve to the LARGER doc_id (lexicographic
    struct-max, identical in DuckDB). -> (term, df, doc_id,
    max_contrib).

    One map-side-combined max(struct) over the postings + a
    TakeOrderedAndProject — corpus-scale trivial."""
    from .retrieval import SPARK_MATH, Similarity, kernel_contrib

    contrib = kernel_contrib(
        Similarity(k1=float(k1), b=float(b)), index.stats, SPARK_MATH,
        F.col("tf").cast("double"), F.col("doc_len").cast("double"),
        F.lit(1.0), idf_lucene(F.col("df"), index.stats.n_docs), None,
    )
    # the dictionary is far smaller than the postings it meets here, so
    # broadcasting it keeps the postings from being shuffled on term
    rows = index.postings.join(
        F.broadcast(index.term_stats.select("term", "df")), "term"
    ).select("term", "df", F.struct(contrib.alias("c"), "doc_id").alias("_s"))
    agg = (
        rows.groupBy("term", "df")
        .agg(F.max("_s").alias("_m"))
        .select(
            "term",
            "df",
            F.col("_m.doc_id").alias("doc_id"),
            F.round(F.col("_m.c"), 4).alias("max_contrib"),
        )
    )
    sel = agg.orderBy(
        F.col("max_contrib").desc(), F.col("term").asc()
    ).limit(int(topn))
    rw = Window.orderBy(F.col("max_contrib").desc(), F.col("term").asc())
    return sel.withColumn(
        "rank", F.row_number().over(rw).cast("long")
    ).select("term", "df", "doc_id", "rank", "max_contrib")


def term_burstiness(
    index: InvertedIndex,
    min_df: int = 5,
    topn: int = 20,
) -> DataFrame:
    """Term burstiness (Church & Gale'95, "Poisson mixtures"; Katz'96
    adaptation): content-bearing words REPEAT within the documents
    they appear in, function words don't — mean within-doc tf
    (cf/df, exact rational) and the repeat probability
    P(tf ≥ 2 | tf ≥ 1) = |{d: tf ≥ 2}| / df. Terms below ``min_df``
    are too rare to estimate and drop. Top-n by (4dp-rounded mean tf
    DESC, term ASC). -> (term, df, cf, n_repeat, rank, mean_tf,
    p_repeat). One map-side-combined aggregate over the postings."""
    per = index.postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
    ).filter(F.col("df") >= int(min_df))
    scored = per.select(
        "term",
        "df",
        "cf",
        "n_repeat",
        F.round(
            F.col("cf").cast("double") / F.col("df").cast("double"), 4
        ).alias("mean_tf"),
        F.round(
            F.col("n_repeat").cast("double") / F.col("df").cast("double"),
            4,
        ).alias("p_repeat"),
    )
    sel = scored.orderBy(
        F.col("mean_tf").desc(), F.col("term").asc()
    ).limit(int(topn))
    rw = Window.orderBy(F.col("mean_tf").desc(), F.col("term").asc())
    return sel.withColumn(
        "rank", F.row_number().over(rw).cast("long")
    ).select("term", "df", "cf", "n_repeat", "rank", "mean_tf", "p_repeat")


def compact_doc_ids(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense doc-id renumbering — what Lucene's forceMerge does to
    docids after deletes (IndexWriter.forceMerge compacts segments and
    renumbers documents densely; reference behavior: a merged index
    has ids [0, numDocs)): map every live doc id to a dense [0, n)
    id. Lucene's order is segment-insertion; ours is SHARD-MAJOR mix
    order — any bijection is a valid compaction, and this one needs NO
    global sort: new_id = shard_offset + row_number within the doc's
    pmod(mix(id), S) shard, with the S shard offsets computed from one
    S-row count aggregate. All-integer, deterministic, and
    SQL-replayable. -> (old_id, new_id, shard).

    Scale shape: one map-side-combined shard count, one BROADCAST
    S-row offset relation, and a PARTITIONED row_number window (each
    shard sorts independently — the whole point; a global
    row_number/orderBy would funnel every doc through one reducer).
    Compose with `index_delete` for the delete→compact cycle and with
    `remap_index` to rewrite the posting tables."""
    from ..functions.hashing import mix_id_expr

    s = int(n_shards)
    keyed = docs.select(
        F.col(id_col).alias("old_id"),
        mix_id_expr(F.col(id_col)).alias("_mkey"),
    ).withColumn("shard", F.pmod(F.col("_mkey"), F.lit(s)).cast("long"))
    counts = keyed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    off_w = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0))
        .cast("long")
        .alias("_off"),
    )
    rn_w = Window.partitionBy("shard").orderBy("_mkey", "old_id")
    return (
        keyed.join(F.broadcast(offsets), "shard")
        .withColumn(
            "new_id",
            (F.col("_off") + F.row_number().over(rn_w) - F.lit(1))
            .cast("long"),
        )
        .select("old_id", "new_id", "shard")
    )


def remap_index(index: InvertedIndex, mapping: DataFrame) -> InvertedIndex:
    """Rewrite an index's doc-keyed tables through a `compact_doc_ids`
    mapping (old_id, new_id) — the table-level half of forceMerge's
    renumbering. Term-keyed statistics are id-invariant and pass
    through untouched; doc_stats and the flat postings re-key via one
    broadcast-friendly equi-join each (the mapping is doc-count-sized
    and co-partitioned by the join key at scale)."""
    m = mapping.select(
        F.col("old_id").alias("doc_id"), F.col("new_id")
    )
    new_docs = (
        index.doc_stats.join(m, "doc_id")
        .drop("doc_id")
        .withColumnRenamed("new_id", "doc_id")
    )
    new_post = (
        index.postings.join(m, "doc_id")
        .drop("doc_id")
        .withColumnRenamed("new_id", "doc_id")
    )
    # re-select the original column order: downstream unions and
    # spine builders assume a stable schema (see index_delete's note)
    new_docs = new_docs.select(*index.doc_stats.columns)
    new_post = new_post.select(*index.postings.columns)
    return InvertedIndex(
        doc_stats=new_docs,
        postings=new_post,
        term_stats=index.term_stats,
        stats=index.stats,
        config=index.config,
        blobs=None,
    )


def shard_idf_drift(
    index: InvertedIndex, n_shards: int = 4, topn: int = 15
) -> DataFrame:
    """Distributed-search statistics drift report: how far each term's
    SHARD-LOCAL Lucene idf can stray from the global one when the
    corpus is hash-sharded — the classic distributed-IR correctness
    hazard (a sharded deployment scoring with local stats ranks
    differently per shard; Lucene solves it with a global-stats pass,
    e.g. solr/ES distributed idf). Shards are pmod(mix(doc_id), S)
    (the repo's portable hash); a term absent from a shard counts
    df_local = 0 there (the worst drift case). drift(term) =
    max_shards |idf_local − idf_global|, reported for the ``topn``
    largest (4dp-rounded, term-ASC ties). -> (term, df, rank, drift).

    Plan shape: one map-side-combined (term, shard) count over the
    postings, a broadcast S-row shard-size relation, the term×S grid
    via a literal sequence explode over the vocab-sized term_stats,
    and a TakeOrderedAndProject top-n — nothing corpus² and no global
    window."""
    from ..functions.hashing import mix_id_expr

    s = int(n_shards)
    shard_of = F.pmod(mix_id_expr(F.col("doc_id")), F.lit(s))
    dfl = (
        index.postings.select("term", shard_of.alias("shard"))
        .groupBy("term", "shard")
        .agg(F.count(F.lit(1)).cast("long").alias("df_l"))
    )
    ns = (
        index.doc_stats.select(shard_of.alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    )
    grid = index.term_stats.select(
        "term",
        "df",
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("_sh"),
    ).select("term", "df", F.col("_sh").cast("long").alias("shard"))
    j = (
        grid.join(dfl, ["term", "shard"], "left")
        .join(F.broadcast(ns), "shard")
        .withColumn("df_l", F.coalesce(F.col("df_l"), F.lit(0)))
    )
    idf_l = F.log(
        F.lit(1.0)
        + (F.col("n_s").cast("double") - F.col("df_l") + F.lit(0.5))
        / (F.col("df_l") + F.lit(0.5))
    )
    idf_g = idf_lucene(F.col("df"), index.stats.n_docs)
    agg = (
        j.select("term", "df", F.abs(idf_l - idf_g).alias("_d"))
        .groupBy("term", "df")
        .agg(F.round(F.max("_d"), 4).alias("drift"))
    )
    sel = agg.orderBy(
        F.col("drift").desc(), F.col("term").asc()
    ).limit(int(topn))
    rw = Window.orderBy(F.col("drift").desc(), F.col("term").asc())
    return sel.withColumn(
        "rank", F.row_number().over(rw).cast("long")
    ).select("term", "df", "rank", "drift")


def idf_dump(index: InvertedIndex) -> DataFrame:
    """term -> log(N/df) dump (reference: retriever/MsMarcoTopDocs.java:64-76)."""
    return index.term_stats.select(
        "term",
        F.log(F.lit(float(index.stats.n_docs)) / F.col("df")).alias("idf"),
    )


def lm_cross_entropy(index: InvertedIndex) -> DataFrame:
    """Per-doc cross-entropy under the corpus unigram LM — the
    index-native analogue of the CCNet quality signal (Wenzek et al.
    2020 rank crawl text by LM perplexity; with the index's own term
    stats as the LM this needs no external model):

        H(d) = -(1/|d|) * sum_t tf(t, d) * ln(cf(t) / C)

    Low H = text that looks like the corpus average; high H =
    rare-token-heavy outliers (binary junk, boilerplate codes). Every
    indexed term has cf >= 1, so no smoothing is needed for corpus
    members. -> (doc_id, cross_entropy).

    Plan: postings already carry doc_len, term_stats (|vocab| rows,
    the small side) joins on the postings' existing term key, and the
    per-doc reduce is one map-side-combined groupBy — the same shuffle
    shape as any retrieval scorer; no explode, no UDF."""
    c = float(index.stats.total_tokens)
    j = index.postings.join(index.term_stats.select("term", "cf"), "term")
    return j.groupBy("doc_id").agg(
        (
            -F.sum(F.col("tf") * F.log(F.col("cf") / F.lit(c)))
            / F.max("doc_len")
        ).alias("cross_entropy")
    )


def xent_buckets(
    index: InvertedIndex,
    doc_meta: DataFrame,
    by: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 section
    4.4): within each language, split the corpus into equal-sized
    perplexity buckets — head = most corpus-like text, tail = the
    rare-token outliers; downstream pipelines train preferentially on
    head/middle. Assignment is RANK-based: ntile(n) over (xent rounded
    to the 4dp grid, doc_id) — integer-exact given 4dp-equal xent, so
    the split is engine-replayable (raw-ulp ordering is not).

    Scale: one shuffle by language + a within-language sort (ntile).
    Languages are few and large, so each sort is distributed but the
    biggest language bounds the tail; for a skewed 100 TB corpus,
    CCNet's own production form is the better shape — per-lang
    thresholds from approx_percentile on a sample, broadcast, assign
    by comparison (see lm_quality_filter's quantile path) — this
    operator is the exact within-corpus split.
    -> (doc_id, <by>, cross_entropy, bucket)."""
    xent = lm_cross_entropy(index)
    j = xent.join(
        doc_meta.select(F.col(id_col).alias("doc_id"), by), "doc_id"
    )
    w = Window.partitionBy(by).orderBy(
        F.round("cross_entropy", 4).asc(), F.col("doc_id").asc()
    )
    nt = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        bucket = (
            F.when(nt == 1, F.lit("head"))
            .when(nt == 3, F.lit("tail"))
            .otherwise(F.lit("middle"))
        )
    else:
        bucket = nt.cast("string")
    return j.select(
        "doc_id",
        by,
        F.round("cross_entropy", 4).alias("cross_entropy"),
        bucket.alias("bucket"),
    )


def lm_quality_filter(
    index: InvertedIndex,
    max_xent: float | None = None,
    quantile: float | None = None,
    exact_quantile: bool = True,
) -> DataFrame:
    """CCNet-style LM quality gate: keep docs whose corpus-unigram-LM
    cross-entropy (``lm_cross_entropy``) is at or below a threshold —
    either a FIXED ``max_xent`` (CCNet's practice: thresholds derived
    once from a trusted reference corpus and reused) or a per-corpus
    ``quantile`` (e.g. 0.75 keeps the lowest-perplexity three
    quarters). Exactly one of the two must be given.

    The quantile path computes the threshold with Spark's exact
    interpolated ``percentile`` when ``exact_quantile`` (a sort-based
    aggregate — fine to tens of millions of docs) and the
    bounded-memory t-digest ``approx_percentile`` otherwise — the
    100 TB setting, where an exact global quantile of 10^9 doubles is
    never worth one reducer's memory. The scalar threshold is
    broadcast; the corpus is filtered in place, never re-shuffled.
    -> (doc_id, cross_entropy) of the kept docs."""
    if (max_xent is None) == (quantile is None):
        raise ValueError("pass exactly one of max_xent / quantile")
    xent = lm_cross_entropy(index)
    if max_xent is not None:
        return xent.filter(
            F.col("cross_entropy") <= F.lit(float(max_xent))
        )
    fn = "percentile" if exact_quantile else "approx_percentile"
    thr = xent.agg(
        F.expr(f"{fn}(cross_entropy, {float(quantile)})").alias("_thr")
    )
    return (
        xent.crossJoin(F.broadcast(thr))
        .filter(F.col("cross_entropy") <= F.col("_thr"))
        .select("doc_id", "cross_entropy")
    )


def check_index(index: InvertedIndex) -> DataFrame:
    """CheckIndex parity at the logical level (Lucene's
    org.apache.lucene.index.CheckIndex cross-verifies the terms dict
    against the postings and the norms against doc lengths): verify
    the structural invariants that tie the index relations together,
    returning violation COUNTS — all zero on a healthy index:

    - ``df_mismatches`` / ``cf_mismatches``: term_stats.(df, cf) vs an
      independent re-aggregation of the flat postings
    - ``doclen_mismatches``: the denormalized postings doc_len vs the
      per-doc Σtf AND vs doc_stats.doc_len
    - ``nonpositive_tf``: postings rows with tf <= 0

    -> one row (n_terms, n_postings, n_docs, df_mismatches,
    cf_mismatches, doclen_mismatches, nonpositive_tf). Two
    map-side-combinable aggregations over the postings + two
    vocab/corpus-sized joins — the same cost envelope as a stats
    rebuild, run on demand (after a merge/upsert/delete) rather than
    per query."""
    per_term = index.postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("_df"),
        F.sum("tf").cast("long").alias("_cf"),
    )
    term_chk = index.term_stats.join(per_term, "term", "full").select(
        (
            (F.col("df") != F.col("_df"))
            | F.col("df").isNull()
            | F.col("_df").isNull()
        ).cast("long").alias("df_bad"),
        (
            (F.col("cf") != F.col("_cf"))
            | F.col("cf").isNull()
            | F.col("_cf").isNull()
        ).cast("long").alias("cf_bad"),
    )
    per_doc = index.postings.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("_len"),
        F.max("doc_len").cast("long").alias("_len_col"),
        F.min("doc_len").cast("long").alias("_len_col_min"),
    )
    # an empty doc legitimately has doc_stats.doc_len = 0 and no
    # postings rows -> missing per_doc side means expected length 0
    doc_chk = index.doc_stats.join(per_doc, "doc_id", "full").select(
        (
            F.col("doc_len").isNull()
            | (F.col("doc_len") != F.coalesce(F.col("_len"), F.lit(0)))
            | (
                F.col("_len").isNotNull()
                & (
                    (F.col("_len_col") != F.col("_len"))
                    | (F.col("_len_col_min") != F.col("_len"))
                )
            )
        ).cast("long").alias("len_bad")
    )
    t = term_chk.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("df_bad").alias("df_mismatches"),
        F.sum("cf_bad").alias("cf_mismatches"),
    )
    d = doc_chk.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("len_bad").alias("doclen_mismatches"),
    )
    p = index.postings.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum((F.col("tf") <= 0).cast("long")).alias("nonpositive_tf"),
    )
    return (
        t.crossJoin(d)
        .crossJoin(p)
        .select(
            "n_terms", "n_postings", "n_docs",
            "df_mismatches", "cf_mismatches",
            "doclen_mismatches", "nonpositive_tf",
        )
    )


def term_cooccurrence_pmi(
    index: InvertedIndex,
    min_df: int = 1,
    max_df: int | None = None,
    min_co_df: int = 1,
) -> DataFrame:
    """Term-pair association mining straight from the inverted index:
    for every unordered pair of terms co-occurring in at least
    ``min_co_df`` documents, the document-level pointwise mutual
    information (Church & Hanks 1990, document-cooccurrence variant)

        pmi(l, r) = ln( n_docs * co_df(l, r) / (df(l) * df(r)) )

    — the collocation / word-association signal (query suggestion,
    synonym candidate mining, topic drift detection) computed without
    re-tokenizing: postings already hold the (term, doc) incidence.

    -> (term_l, term_r, co_df, df_l, df_r, pmi), term_l < term_r.

    Scale shape: the candidate generator is a self-join of the
    df-band-filtered postings on doc_id — per-doc fan-out is
    C(distinct terms in band, 2), so ``max_df`` is the skew valve
    (stopword-grade terms contribute df^2 pair rows and near-zero
    PMI; the same valve as similar_docs_topk / the jaccard df cap)
    and ``min_df`` prunes hapax noise. The banded relation is
    repartitioned by doc_id and localCheckpoint'ed ONCE so the
    alias self-join reads one materialization instead of recomputing
    the filter per side (house rule from the LSH pair operators);
    the pair count is a map-side-combinable groupBy; df lookups are
    broadcast joins of the (tiny, band-filtered) term dictionary."""
    n_docs = float(index.stats.n_docs)
    stats = index.term_stats.select("term", "df").filter(
        F.col("df") >= int(min_df)
    )
    if max_df is not None:
        stats = stats.filter(F.col("df") <= int(max_df))
    banded = (
        index.postings.select("term", "doc_id")
        .join(F.broadcast(stats.select("term")), "term")
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    left = banded.select(F.col("term").alias("term_l"), "doc_id")
    right = banded.select(F.col("term").alias("term_r"), "doc_id")
    pairs = (
        left.join(right.hint("merge"), "doc_id")
        .filter(F.col("term_l") < F.col("term_r"))
        .groupBy("term_l", "term_r")
        .agg(F.count(F.lit(1)).cast("long").alias("co_df"))
        .filter(F.col("co_df") >= int(min_co_df))
    )
    out = (
        pairs.join(
            F.broadcast(
                stats.select(
                    F.col("term").alias("term_l"), F.col("df").alias("df_l")
                )
            ),
            "term_l",
        )
        .join(
            F.broadcast(
                stats.select(
                    F.col("term").alias("term_r"), F.col("df").alias("df_r")
                )
            ),
            "term_r",
        )
    )
    return out.select(
        "term_l",
        "term_r",
        "co_df",
        "df_l",
        "df_r",
        F.log(
            F.lit(n_docs) * F.col("co_df")
            / (F.col("df_l") * F.col("df_r")).cast("double")
        ).alias("pmi"),
    )


def ppmi_neighbors(
    index: InvertedIndex,
    terms: list[str],
    topn: int = 3,
    min_df: int = 1,
    max_df: int | None = None,
    min_co_df: int = 1,
) -> DataFrame:
    """Distributional term similarity over PPMI vectors (Church &
    Hanks 1990 association + the positive-PMI vector space of Turney
    & Pantel JAIR'10): each term's vector is its document-level PPMI
    with every co-occurring context term (``term_cooccurrence_pmi``
    clipped at 0), and the neighbors of a query term are the ``topn``
    vocabulary terms by cosine — the classic pre-embedding synonym /
    query-expansion candidate miner, computed straight from the
    postings with no re-tokenization.

    -> (qterm, rank, neighbor, cos) with rank by (4dp-rounded cosine
    DESC, neighbor ASC) — the engine-stable cut; the query term
    itself is excluded.

    Scale shape: the pair generator inherits term_cooccurrence_pmi's
    valves (``max_df`` kills stopword-grade df² fan-out, ``min_df``
    hapax noise); the PPMI vector table is pair-count-sized and
    localCheckpoint'ed once for its three consumers (query side,
    neighbor side, norms) — the LSH-family fan-out rule; the cosine
    join is restricted to the broadcast query terms, so it is
    |terms| × shared-context-sized, never vocab × vocab."""
    pmi = term_cooccurrence_pmi(
        index, min_df=min_df, max_df=max_df, min_co_df=min_co_df
    ).filter(F.col("pmi") > 0)
    vec = (
        pmi.select(
            F.col("term_l").alias("term"),
            F.col("term_r").alias("ctx"),
            F.col("pmi").alias("w"),
        )
        .unionByName(
            pmi.select(
                F.col("term_r").alias("term"),
                F.col("term_l").alias("ctx"),
                F.col("pmi").alias("w"),
            )
        )
        .localCheckpoint(eager=False)
    )
    norms = vec.groupBy("term").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_n")
    )
    qv = vec.filter(F.col("term").isin(list(terms))).select(
        F.col("term").alias("qterm"), "ctx", F.col("w").alias("_wq")
    )
    dots = (
        qv.join(
            vec.select(
                F.col("term").alias("neighbor"),
                "ctx",
                F.col("w").alias("_wt"),
            ),
            "ctx",
        )
        .filter(F.col("neighbor") != F.col("qterm"))
        .groupBy("qterm", "neighbor")
        .agg(F.sum(F.col("_wq") * F.col("_wt")).alias("_dot"))
    )
    cos = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("term", "qterm")), "qterm"
        )
        .withColumnRenamed("_n", "_nq")
        .join(
            F.broadcast(norms.withColumnRenamed("term", "neighbor")),
            "neighbor",
        )
        .select(
            "qterm",
            "neighbor",
            (F.col("_dot") / (F.col("_nq") * F.col("_n"))).alias("cos"),
        )
    )
    w = Window.partitionBy("qterm").orderBy(
        F.round(F.col("cos"), 4).desc(), F.col("neighbor").asc()
    )
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(topn))
        .select("qterm", "rank", "neighbor", "cos")
    )
