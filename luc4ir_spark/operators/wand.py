"""Compressed postings build + block-max WAND top-k scorer.

The reference's searcher gets heap-based top-k with block-max WAND
pruning from its index library (invoked at retriever/TrecDocRetriever.
java:177-179; the library skips non-competitive blocks once the heap is
full). Spark has no WAND — ``orderBy().limit()`` scores everything — so
this module implements it as a custom physical kernel:

Build (``build_compressed_postings``):
    flat postings ──join df──▶ shuffle key (df > threshold ⇒
    shard(doc_id), else 0) ──repartition by (term, key)──▶ sort within
    partitions by (term, key, doc_id) ──▶ one ``mapInArrow`` streaming
    kernel per partition (``encode_sorted_postings``): it finds the
    (term, key) group boundaries in each Arrow batch with vectorized
    compares, splits each closed group by shard(doc_id) and writes one
    delta+varbyte blob + per-block (last_doc, max_tf, min_dl) impact
    directory PER NON-EMPTY SHARD. Only the last, still-open group is
    carried into the next batch, so a task holds one batch plus one
    open group, and the UDF is called once per partition, not once per
    group.

    shard(doc_id) = pmod(mix(doc_id), shards) where mix is the
    engine-portable multiplicative hash (functions/hashing.py) — a bare
    pmod(doc_id, shards) skews or empties shards for structured id
    spaces (all-even ids, stride-k sequences). The Spark expression and
    the numpy kernel compute the identical mix, so the shuffle key and
    the emitted blob shards always agree.

    ``shards`` is auto-derived when IndexConfig.num_salt_shards is None:
    ceil(max term df / target_postings_per_shard), clamped to [1, 4096]
    — so a 10^9-df stop-term still becomes bounded encode groups without
    hand-tuning a cluster constant. Per-(qid, salt) query-task memory is
    then <= n_query_terms * target_postings_per_shard postings (encoded
    ~2-6 B each + one decoded block per term at a time).

    Two distinct roles: the SHUFFLE key bounds the largest encode group
    (a degenerate term occurring in every doc of a 10^12-file corpus
    becomes num_salt_shards independently-encoded sub-groups instead of
    one monster group — only df > salt_df_threshold terms pay the extra
    key), while the EMITTED blobs are uniformly doc-sharded for every
    term: blob.salt == shard(doc_id) (the mix hash above) for all of a
    blob's docs.
    Uniform doc-sharding means all terms of any query agree on which
    shard owns a doc, so per-shard scoring is exact with NO query-time
    blob replication or posting masking (a doc's full score accumulates
    inside its one shard; shard results are disjoint and merge exactly).

Query (``score_queries_wand``):
    query terms ⋈ blobs (broadcast query side) ──groupBy(qid, salt)──▶
    ``applyInPandas`` block-max kernel (``blockmax_topk_kernel``) with
    a k-heap. The doc-id space is cut into windows on the union of the
    terms' block boundaries (8 boundaries a window). A window's upper
    bound is the sum, over terms, of the best (max_tf, min_dl) impact
    among the term's blocks that overlap it; a window whose bound is
    below the heap floor theta is skipped without decoding a byte.
    Surviving windows bulk-decode their blocks and are scored with
    numpy; only candidates at or above theta reach the heap. theta is
    shard-local (safe: shard-local theta <= global theta, so pruning is
    only ever conservative). Per-shard top-k then a tiny global per-qid
    merge. With shards > 1 every query fans out to ``shards``
    independent kernel tasks — the intra-query parallelism knob at
    cluster scale.

Tie semantics match the exhaustive path: score desc, doc_id asc; the
heap orders by (score, -doc_id) and pruning uses strict ub < theta so
an equal-scoring smaller doc_id can still displace the heap floor.
"""

from __future__ import annotations

import heapq
import math
from collections.abc import Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.codec import (
    BlockDirectory,
    decode_block,
    decode_block_range,
    encode_posting_list,
)
from ..functions.hashing import mix_shard_expr, mix_shard_np
from .indexer import InvertedIndex
from .retrieval import (
    Similarity,
    _per_posting_score,
    enrich_query_terms,
    rank_topk,
    score_fold,
)

BLOB_SCHEMA = (
    "term string, salt int, n_docs long, blob binary,"
    " blk_offsets array<long>, blk_ndocs array<int>,"
    " blk_last_doc array<long>, blk_max_tf array<int>,"
    " blk_min_dl array<long>"
)
# the same schema as the Arrow types Spark maps BLOB_SCHEMA to
BLOB_ARROW_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("salt", pa.int32()),
    ("n_docs", pa.int64()),
    ("blob", pa.binary()),
    ("blk_offsets", pa.list_(pa.int64())),
    ("blk_ndocs", pa.list_(pa.int32())),
    ("blk_last_doc", pa.list_(pa.int64())),
    ("blk_max_tf", pa.list_(pa.int32())),
    ("blk_min_dl", pa.list_(pa.int64())),
])


MAX_SALT_SHARDS = 4096


def derive_num_salt_shards(index: InvertedIndex) -> int:
    """Resolve the shard count: an explicit IndexConfig.num_salt_shards
    wins; ``None`` derives ceil(max df / target_postings_per_shard),
    clamped to [1, MAX_SALT_SHARDS] — the largest posting list (not a
    hand-tuned constant) sizes both the encode groups and the
    per-(qid, salt) query-kernel memory bound."""
    cfg = index.config
    if cfg.num_salt_shards is not None:
        return cfg.num_salt_shards
    row = index.term_stats.agg(F.max("df").alias("m")).collect()[0]
    max_df = int(row["m"] or 0)
    return max(
        1,
        min(
            MAX_SALT_SHARDS,
            -(-max_df // max(1, cfg.target_postings_per_shard)),
        ),
    )


def _encode_group(rows: dict, term: str, chunks: list, shards: int, bs: int):
    """Encode one closed (term, _key) group — its doc_id-sorted
    (doc_id, tf, doc_len) rows, in one or more chunks — as one blob per
    non-empty shard(doc_id), appended to the BLOB_SCHEMA column lists
    ``rows``."""
    ids, tfs, dls = (np.concatenate(c) for c in zip(*chunks))
    shard_of = mix_shard_np(ids, shards)
    for s in np.unique(shard_of):
        m = shard_of == s
        blob, d = encode_posting_list(ids[m], tfs[m], dls[m], block_size=bs)
        for name, v in zip(BLOB_ARROW_SCHEMA.names, (
            term, int(s), int(m.sum()), blob,
            d.offsets, d.n_docs, d.last_doc, d.max_tf, d.min_dl,
        )):
            rows[name].append(v)


def encode_sorted_postings(
    batches: Iterable[pa.RecordBatch], shards: int, block_size: int
) -> Iterator[pa.RecordBatch]:
    """Streaming encode kernel: Arrow batches of (term, _key, doc_id, tf,
    doc_len) rows sorted by (term, _key, doc_id) -> BLOB_SCHEMA batches,
    one per input batch plus one for the group still open at the end.

    Group boundaries are found per batch with vectorized compares; a
    group is encoded (``_encode_group``) once the next one starts. Only
    the rows of the last, still-open group are carried to the next
    batch, whose first key is checked against the carried key, so a
    group spanning many batches is never re-scanned and memory is one
    batch plus one open group."""
    open_key = None
    open_chunks: list[list[np.ndarray]] = []
    for batch in batches:
        rows = {name: [] for name in BLOB_ARROW_SCHEMA.names}
        n = batch.num_rows
        if n:
            terms = batch.column("term")
            keys = batch.column("_key").to_numpy(zero_copy_only=False)
            cols = [
                batch.column(c).to_numpy(zero_copy_only=False)
                for c in ("doc_id", "tf", "doc_len")
            ]
            new = keys[1:] != keys[:-1]
            new |= pc.not_equal(
                terms.slice(1), terms.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            starts = np.flatnonzero(np.concatenate(([True], new)))
            bounds = np.append(starts, n).tolist()
            for i, key in enumerate(zip(
                pc.take(terms, starts).to_pylist(), keys[starts].tolist()
            )):
                if key != open_key:
                    if open_key is not None:
                        _encode_group(
                            rows, open_key[0], open_chunks, shards, block_size
                        )
                    open_key, open_chunks = key, []
                open_chunks.append([c[bounds[i]:bounds[i + 1]] for c in cols])
            # the open group may go on in the next batch: keep a copy of
            # its rows here, not a view that pins this whole batch
            open_chunks[-1] = [c.copy() for c in open_chunks[-1]]
        yield pa.RecordBatch.from_pydict(rows, schema=BLOB_ARROW_SCHEMA)
    if open_key is not None:
        rows = {name: [] for name in BLOB_ARROW_SCHEMA.names}
        _encode_group(rows, open_key[0], open_chunks, shards, block_size)
        yield pa.RecordBatch.from_pydict(rows, schema=BLOB_ARROW_SCHEMA)


def build_compressed_postings(
    index: InvertedIndex,
    block_size: int | None = None,
) -> DataFrame:
    """flat postings -> (term, salt, blob + block directory) table.

    The postings are shuffled by (term, _key), sorted within each
    partition by (term, _key, doc_id) and encoded by one streaming
    ``mapInArrow`` kernel per partition (``encode_sorted_postings``):
    one Python UDF call per partition, not one per group, and a task
    holds one Arrow batch plus one open group."""
    from ..deploy import ensure_package_on_executors

    ensure_package_on_executors(index.postings.sparkSession)
    cfg = index.config
    bs = block_size or cfg.block_size
    threshold = cfg.salt_df_threshold
    shards = derive_num_salt_shards(index)

    # the shuffle key only BOUNDS group sizes (high-df terms pre-split);
    # the emitted blobs are uniformly doc-sharded by shard(doc_id) for
    # EVERY term — see module docstring. The Spark-side key and the
    # kernel's numpy shard split are the SAME mixed-hash function.
    flat = index.postings.join(
        index.term_stats.select("term", "df"), "term"
    ).select(
        "term",
        F.when(
            F.col("df") > threshold, mix_shard_expr("doc_id", shards)
        ).otherwise(F.lit(0)).alias("_key"),
        "doc_id", "tf", "doc_len",
    )
    return (
        flat.repartition("term", "_key")
        .sortWithinPartitions("term", "_key", "doc_id")
        .mapInArrow(
            partial(encode_sorted_postings, shards=shards, block_size=bs),
            BLOB_SCHEMA,
        )
    )


# --------------------------------------------------------------- scoring


def _make_kernel(sim: Similarity, stats):
    """Per-term scoring closure factory: returns f(row_consts) ->
    (score(tf, dl), is_monotone) where score works on numpy arrays.
    All kernels are monotone ↑tf, ↓dl, so (max_tf, min_dl) bounds hold."""
    if sim.kind == "bm25":
        def make(idf, weight, cf):
            c = weight * idf
            k1b = sim.k1 * (1.0 - sim.b)
            k1bb = sim.k1 * sim.b / stats.avgdl

            def f(tf, dl):
                return c * tf / (tf + k1b + k1bb * dl)

            return f
        return make
    if sim.kind == "lmdir":
        def make(idf, weight, cf):
            p_c = cf / stats.total_tokens

            def f(tf, dl):
                raw = np.log(1.0 + tf / (sim.mu * p_c)) + np.log(
                    sim.mu / (dl + sim.mu)
                )
                return weight * np.maximum(raw, 0.0)

            return f
        return make
    if sim.kind == "lmjm":
        def make(idf, weight, cf):
            p_c = cf / stats.total_tokens
            lam_ratio = (1.0 - sim.lam) / sim.lam

            def f(tf, dl):
                return weight * np.log(1.0 + lam_ratio * (tf / dl) / p_c)

            return f
        return make
    raise ValueError(f"unknown similarity: {sim.kind}")


class _TermList:
    """Per-term compressed list handle for the vectorized kernel."""

    __slots__ = ("buf", "dirs", "score_fn", "lb", "ub", "cache")

    def __init__(self, blob, dirs: BlockDirectory, score_fn):
        self.buf = np.frombuffer(blob, dtype=np.uint8)
        self.dirs = dirs
        self.score_fn = score_fn
        # conservative lower bound of each block's first doc: the
        # previous block's last doc + 1 (exact enough for overlap tests)
        self.lb = np.empty_like(dirs.last_doc)
        self.lb[0] = -(1 << 62)
        if dirs.last_doc.size > 1:
            self.lb[1:] = dirs.last_doc[:-1] + 1
        self.ub = score_fn(
            dirs.max_tf.astype(np.float64), dirs.min_dl.astype(np.float64)
        )
        self.cache: dict[int, tuple] = {}

    def decode(self, b: int):
        got = self.cache.get(b)
        if got is None:
            got = decode_block(self.buf, self.dirs, b)
            self.cache[b] = got
        return got

    def decode_range(self, b0: int, b1: int) -> None:
        """Bulk-decode any uncached blocks in [b0, b1) — one varbyte
        pass per contiguous uncached run instead of ~30 small numpy ops
        per block (the difference between ~1 ms and ~10 us a block when
        a window survives pruning)."""
        run_start = None
        for b in range(b0, b1 + 1):
            missing = b < b1 and b not in self.cache
            if missing and run_start is None:
                run_start = b
            elif not missing and run_start is not None:
                for i, got in enumerate(
                    decode_block_range(self.buf, self.dirs, run_start, b)
                ):
                    self.cache[run_start + i] = got
                run_start = None


def blockmax_topk_kernel(
    terms: list[_TermList], k: int, blocks_per_window: int = 8
) -> list[tuple[int, float]]:
    """Vectorized block-max scorer: the doc-id space is windowed on the
    union of block boundaries; a window whose summed per-term block
    upper bounds cannot beat the heap floor theta is skipped WITHOUT
    decoding; surviving windows are scored with numpy (decode -> mask ->
    per-term kernel -> np.add.at accumulate) and only candidates at or
    above theta touch the Python heap. Identical results to exhaustive
    scoring (ties: score desc, doc_id asc), ~numpy-speed per posting
    instead of a per-doc Python pivot loop."""
    if not terms:
        return []
    boundaries = np.unique(
        np.concatenate([t.dirs.last_doc for t in terms])
    )
    his = boundaries[blocks_per_window - 1 :: blocks_per_window]
    if his.size == 0 or his[-1] != boundaries[-1]:
        his = np.append(his, boundaries[-1])
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    lo = -(1 << 62)
    for hi in his:
        # per-term overlapping block ranges + UB sum for the window
        ranges = []
        ub_sum = 0.0
        for t in terms:
            b0 = int(np.searchsorted(t.dirs.last_doc, lo, side="right"))
            b1 = int(np.searchsorted(t.lb, hi, side="right"))
            if b1 > b0:
                ranges.append((t, b0, b1))
                ub_sum += float(t.ub[b0:b1].max())
        theta = heap[0][0] if len(heap) >= k else -math.inf
        if not ranges or ub_sum < theta:
            lo = hi
            continue
        ids_parts, sc_parts = [], []
        for t, b0, b1 in ranges:
            t.decode_range(b0, b1)  # bulk varbyte pass for the window
            for b in range(b0, b1):
                ids, tfs, dls = t.decode(b)
                mask = (ids > lo) & (ids <= hi)
                if mask.any():
                    ids_parts.append(ids[mask])
                    sc_parts.append(
                        t.score_fn(
                            tfs[mask].astype(np.float64),
                            dls[mask].astype(np.float64),
                        )
                    )
        lo = hi
        if not ids_parts:
            continue
        cat_ids = np.concatenate(ids_parts)
        u, inv = np.unique(cat_ids, return_inverse=True)
        scores = np.zeros(u.size)
        np.add.at(scores, inv, np.concatenate(sc_parts))
        # only candidates that can enter the heap reach Python
        theta = heap[0][0] if len(heap) >= k else -math.inf
        if theta > -math.inf:
            cand = np.flatnonzero(scores >= theta)
        else:
            cand = np.arange(scores.size)
        # (score desc, doc asc): among equal scores the smallest doc
        # comes first, so once one candidate fails the heap test every
        # later one fails too and the break below is safe
        order = cand[np.lexsort((u[cand], -scores[cand]))]
        for i in order:
            entry = (float(scores[i]), -int(u[i]))
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            else:
                break
    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


def score_queries_wand(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """Top-k via block-max WAND over the compressed postings.

    Produces the same (qid, doc_id, rank, score) as
    ``retrieval.score_queries`` (disjunctive), with pruned execution.
    """
    from ..deploy import ensure_package_on_executors

    ensure_package_on_executors(query_terms.sparkSession)
    sim = sim or Similarity()
    if index.blobs is None:
        index.blobs = build_compressed_postings(index)
    make_kernel = _make_kernel(sim, index.stats)

    qt = enrich_query_terms(index, query_terms).select(
        "qid", "term", "weight", "idf", "cf"
    )
    # blobs are uniformly doc-sharded at build time (every term's blob
    # for shard s holds exactly the docs with pmod(mix(doc_id), shards)
    # == s — mix = functions/hashing.py, the same function Spark-side
    # and numpy-side), so grouping by (qid, salt) gives each doc's FULL
    # score within its one shard — no replication, no masking, exact
    # disjoint merge.
    joined = index.blobs.join(F.broadcast(qt), "term")

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["qid"].iloc[0]
        term_lists = []
        for row in pdf.itertuples(index=False):
            dirs = BlockDirectory(
                offsets=np.asarray(row.blk_offsets, dtype=np.int64),
                n_docs=np.asarray(row.blk_ndocs, dtype=np.int32),
                last_doc=np.asarray(row.blk_last_doc, dtype=np.int64),
                max_tf=np.asarray(row.blk_max_tf, dtype=np.int32),
                min_dl=np.asarray(row.blk_min_dl, dtype=np.int64),
            )
            fn = make_kernel(float(row.idf), float(row.weight), float(row.cf))
            term_lists.append(_TermList(row.blob, dirs, fn))
        top = blockmax_topk_kernel(term_lists, k)
        return pd.DataFrame(
            {
                "qid": [qid] * len(top),
                "doc_id": [d for d, _ in top],
                "score": [s for _, s in top],
            }
        )

    shard_tops = joined.groupBy("qid", "salt").applyInPandas(
        run_shard, "qid string, doc_id long, score double"
    )
    return rank_topk(shard_tops, k)


def shard_skew_report(blobs: DataFrame) -> DataFrame:
    """Salted-layout balance report over the compressed postings
    (``build_compressed_postings`` output): per salt shard, how many
    blobs / postings / bytes landed there -> (salt, n_blobs,
    n_postings, total_bytes). The operational check behind the
    intra-query parallelism claim: ``pmod(mix(doc_id), shards)``
    doc-sharding should keep per-shard work uniform, and at the
    10^12-doc regime a skewed shard IS the WAND tail latency — this
    report is how an operator sees it before queries do. One
    map-side-combined groupBy over the blob spine (the blob column is
    pruned; only octet_length is read)."""
    return (
        blobs.groupBy(F.col("salt").cast("long").alias("salt"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blobs"),
            F.sum("n_docs").cast("long").alias("n_postings"),
            F.sum(F.octet_length("blob")).cast("long").alias(
                "total_bytes"
            ),
        )
    )


def impact_quantized_topk(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 10,
    bits: int = 8,
    rho: int = 1000,
    sim: Similarity | None = None,
) -> DataFrame:
    """Impact-ordered anytime ranking (Anh & Moffat SIGIR'06 quantized
    impacts; JASS score-at-a-time, Lin & Trotman SIGIR'15): each
    posting's BM25 contribution is quantized per term to ``bits`` bits
    against the term's max impact (the block-max upper bound reused as
    the quantization scale), postings are processed in DECREASING
    impact order, and scoring STOPS after the ``rho`` highest-impact
    postings per query — the anytime budget that bounds per-query work
    independently of df. Scores are the dequantized midpoints
    (imp + 0.5)·max/2^bits, so the run is a documented approximation
    of exact BM25 whose fidelity grows with ``bits`` and ``rho``.
    -> (qid, doc_id, rank, score) top-k per query.

    Relational form of the SaaT loop: the impact order is a per-qid
    window (impact DESC, term ASC, doc_id ASC — total, engine-stable)
    with a rank cut — Spark plans it as the Partial/Final
    WindowGroupLimit pair, so each shard keeps only its rho best
    postings before the shuffle; no posting list is ever fully decoded
    for high-rho terms the budget will never reach. At 100 TB this is
    THE bounded-latency knob: work per query is min(rho, Σ df) rows
    regardless of how pathological the query's df mix is."""
    sim = sim or Similarity()
    levels = float(2**bits - 1)
    denom = float(2**bits)
    qte = enrich_query_terms(
        index, query_terms.select("qid", "term").distinct()
    )
    contrib = _per_posting_score(
        Similarity(k1=sim.k1, b=sim.b), index.stats, qte.columns
    )
    j = index.postings.join(F.broadcast(qte), "term").select(
        "qid", "term", "doc_id", contrib.alias("c")
    )
    tmax = j.groupBy("term").agg(F.max("c").alias("_m"))
    qi = j.join(F.broadcast(tmax), "term").select(
        "qid",
        "term",
        "doc_id",
        F.floor(F.col("c") / F.col("_m") * F.lit(levels))
        .cast("long")
        .alias("imp"),
        "_m",
    )
    qi = qi.withColumn(
        "dq",
        (F.col("imp").cast("double") + F.lit(0.5))
        * F.col("_m")
        / F.lit(denom),
    )
    w_imp = Window.partitionBy("qid").orderBy(
        F.col("imp").desc(), F.col("term").asc(), F.col("doc_id").asc()
    )
    cut = qi.withColumn("_pr", F.row_number().over(w_imp)).filter(
        F.col("_pr") <= int(rho)
    )
    scores = cut.groupBy("qid", "doc_id").agg(
        score_fold("dq").alias("score")
    )
    return rank_topk(scores, k)
