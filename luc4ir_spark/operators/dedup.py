"""Deduplication operators for large-scale corpus pipelines.

Beyond the reference's IR core: the operations a 100 TB training-data
pipeline runs over the same corpus table. All are DataFrame
compositions designed around bounded shuffle fan-out; the one Python
step is SimHash's per-batch numpy bit count:

- exact:    hash-groupBy on a content digest — one shuffle on the digest
- n-gram/token Jaccard: inverted join on shingles with a df cap so
  ubiquitous shingles don't explode the candidate-pair join (the same
  skew concern as high-df terms in the index build)
- MinHash + LSH: signature = min over k permutation hashes of the
  shingle-id set, computed as a zero-shuffle per-doc projection; banding buckets candidates so the pair join touches
  only same-bucket docs; candidates verified with exact Jaccard
- SimHash: per-bit weighted majority over shingle hashes -> 64-bit
  fingerprint; near-dups = small Hamming distance

Determinism: shingle ids are the first 60 bits of md5(shingle) — a
pure projection (no shuffle, no vocabulary-sized sort) that any SQL
engine reproduces bit-for-bit (``('0x' || substr(md5(s),1,15))::BIGINT``
in DuckDB) — and permutation hashes are (a*(x mod p) + b) mod p with
fixed seeds, so the DuckDB oracle can replay every stage exactly.
60-bit ids collide with probability ~n^2/2^61 (~0.04 %
at a 10^6-shingle vocabulary); a collision merges two shingles for
every doc identically, only marginally perturbing similarity estimates.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1

# fixed (a, b) parameter table for permutation hashes, seed=42-ish;
# generated once, embedded as literals so SQL oracles can embed them too
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1203077, 52512857), (442549, 102051253), (730087, 21053237),
    (105331, 183270443), (1909177, 8033339), (238727, 66050159),
    (1047169, 31109963), (691529, 141274129), (333791, 9102337),
    (1823017, 54129829), (563779, 77232917), (1300237, 3034303),
    (879203, 118092013), (207023, 90014591), (1556683, 47038369),
    (412081, 160034479),
]


def shingle_set_expr(tokens_col, shingle_size: int = 1):
    """Column expression: token array -> DISTINCT shingle array (pure
    projection — no explode, no shuffle). shingle_size=1 -> token set;
    >1 -> word n-gram shingle set."""
    col = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    if shingle_size <= 1:
        return F.array_distinct(col)
    n = shingle_size
    # guard: a doc shorter than the shingle size yields NO shingles.
    # An unguarded F.sequence(0, size - n) infers step -1 when
    # size < n and the descending index range makes F.slice throw
    # (INVALID_PARAMETER_VALUE.START) — one empty doc would kill the
    # whole job.
    grams = F.when(
        F.size(col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(col) - n),
            lambda i: F.array_join(F.slice(col, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def tokens_or_shingles(
    docs: DataFrame,
    tokens_col: str = "tokens",
    shingle_size: int = 1,
    outer: bool = False,
) -> DataFrame:
    """(doc_id, tokens) -> distinct (doc_id, shingle) rows (the exploded
    view — used where a row-per-shingle inverted join is needed).
    ``outer=True`` keeps one null-shingle row for empty shingle sets
    (explode_outer semantics).

    Exploded via an index sequence + element_at, never explode(<shingle
    expression>) directly: a Generate whose generator is the computed
    expression gets the whole (interpreted, for n-grams) shingle chain
    inlined, while referencing the array from BOTH the generator and
    the upper project keeps it a child column evaluated once per doc."""
    base = docs.select(
        "doc_id", shingle_set_expr(tokens_col, shingle_size).alias("_ss")
    )
    # guard: sequence(0, -1) infers a descending step under ANSI and
    # errors — empty arrays must produce an empty index array
    idx = F.when(
        F.size("_ss") > 0, F.sequence(F.lit(0), F.size("_ss") - 1)
    ).otherwise(F.array().cast("array<int>"))
    ex = F.explode_outer if outer else F.explode
    return base.select("doc_id", "_ss", ex(idx).alias("_i")).select(
        "doc_id",
        F.element_at("_ss", F.col("_i") + 1).alias("shingle"),
    )


def _verify_pairs_exact(
    cands: DataFrame,
    docs: DataFrame,
    tokens_col: str,
    shingle_size: int,
    threshold: float,
) -> DataFrame:
    """(a, b) candidates -> (a, b, jaccard >= threshold), verified
    against the FULL shingle sets via a JVM array_intersect — each
    candidate is one JVM row op over the two docs' bounded
    shingle arrays, replacing the explode ⋈ explode ⋈ groupBy plan
    (measured 4x faster at the bench; one shuffle fewer). The
    intersect runs over the 60-bit hashed shingle-id arrays, not the
    strings: long intersects are several times cheaper, and filter
    pushdown inlines the threshold predicate into the second join's
    condition where it is evaluated per candidate (the module
    docstring's collision note bounds the 60-bit caveat)."""
    shset = shingle_set_expr(tokens_col, shingle_size)
    # lazy checkpoint: the md5 sid-array projection feeds BOTH join
    # sides below, and HOF lambda exprIds defeat plan-level sharing
    # (see minhash_lsh_pairs) — materialize it once
    arrs = docs.select(
        "doc_id", F.transform(shset, _shingle_id_expr).alias("_ss")
    ).localCheckpoint(eager=False)
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("_ss").alias("_sa"))
    ab = arrs.select(F.col("doc_id").alias("b"), F.col("_ss").alias("_sb"))
    return (
        cands.join(aa, "a")
        .join(ab, "b")
        .withColumn(
            "common", F.size(F.array_intersect("_sa", "_sb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("common")
            / (
                F.size("_sa") + F.size("_sb") - F.col("common")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def exact_duplicates(
    docs: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_ids_per_group: int | None = 1000,
    num_salt_shards: int = 16,
) -> DataFrame:
    """Exact dedup on a content digest -> (digest, n_docs, doc_ids,
    keep_doc_id) for groups with more than one member. One hash-shuffle;
    digest grouping beats grouping on raw content (shuffle carries 32
    bytes/row, not documents).

    ``max_ids_per_group`` bounds the ``doc_ids`` sample per digest (a
    degenerate boilerplate document duplicated 10^9 times must not
    materialize a 10^9-element aggregation buffer on one reducer);
    ``n_docs`` and ``keep_doc_id`` stay exact for every group. ``None``
    collects all ids (small-corpus convenience).

    The sample is taken in two salted stages so even a degenerate digest
    never funnels its whole group through one reducer's sort: stage 1
    keeps the ``max_ids_per_group`` smallest ids per
    (digest, mix(doc_id) % num_salt_shards) — each reducer sees at most
    group/S rows — and stage 2 merges the <= S * max survivors per
    digest (a bounded group by construction). The union of per-salt
    smallest-m sets contains the global smallest m, so the final sample
    is identical to the unsalted single-sort result."""
    from ..functions.hashing import mix_shard_expr

    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(content_col)).alias("digest"),
    )
    if max_ids_per_group is None:
        kept = hashed
    else:
        salted = hashed.withColumn(
            "_salt", mix_shard_expr("doc_id", num_salt_shards)
        )
        w1 = Window.partitionBy("digest", "_salt").orderBy("doc_id")
        partial = (
            salted.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= max_ids_per_group)
            .drop("_rn", "_salt")
        )
        w2 = Window.partitionBy("digest").orderBy("doc_id")
        kept = (
            partial.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= max_ids_per_group)
            .drop("_rn")
        )
    groups = hashed.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
    )
    ids = kept.groupBy("digest").agg(
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids")
    )
    return (
        groups.join(ids, "digest")
        .filter(F.col("n_docs") > 1)
        .select("digest", "n_docs", "doc_ids", "keep_doc_id")
    )


def _perm_hash(a, b, sid):
    """(a * (sid mod p) + b) mod p — reduce BEFORE multiplying so 60-bit
    hash ids cannot overflow int64 under ANSI mode (a < 2^21, sid mod p
    < 2^31 -> product < 2^52)."""
    return (a * (sid % F.lit(MERSENNE_P)) + b) % F.lit(MERSENNE_P)


def _perm_hash_fn(a, b):
    """1-arg lambda factory for higher-order functions (a default-arg
    lambda reads as a 3-parameter function to Spark's arity check)."""
    return lambda x: _perm_hash(F.lit(a), F.lit(b), x)


DEFAULT_MAX_SHINGLE_DF = 10_000
DEFAULT_MAX_BUCKET_SIZE = 100_000


def containment_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    shingle_size: int = 1,
    threshold: float = 0.9,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    log=None,
) -> DataFrame:
    """All-pairs OVERLAP-COEFFICIENT >= threshold — the asymmetric
    near-SUBSET detector Jaccard misses: ov(A,B) = |A∩B| / min(|A|,
    |B|) is ~1 whenever one doc's shingle set is (nearly) contained in
    the other's, however different their lengths (quote extraction,
    boilerplate-plus-payload pages, truncated mirrors — Broder'97
    defines this as "containment" next to "resemblance"). Candidate
    generation, the df skew cap, and the verify-on-FULL-sets contract
    are exactly `jaccard_pairs`'s (cap bounds recall only, reported
    values are exact). -> (a, b, containment), a < b — containment is
    symmetric in this min form; per-direction subset checks divide
    common by the chosen side's size downstream."""
    sh = tokens_or_shingles(docs, tokens_col, shingle_size)
    if max_shingle_df is None:
        cand_sh = sh.localCheckpoint(eager=False)
    else:
        sh = sh.localCheckpoint(eager=False)
        dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
        if log is not None:
            n_dropped = dfc.filter(F.col("sdf") > max_shingle_df).count()
            log(
                f"containment_pairs: max_shingle_df={max_shingle_df} "
                f"dropped {n_dropped} distinct shingles from candidates"
            )
        cand_sh = sh.join(
            dfc.filter(F.col("sdf") <= max_shingle_df), "shingle"
        ).select("doc_id", "shingle")
    # balanced chunk-pair enumeration per shingle (same machinery as
    # the LSH bucket joins — see the PAIR_CHUNK_ROWS note): a
    # stop-shingle at the df cap otherwise enumerates its whole df^2
    # candidate block in the one task owning that shingle's partition.
    # The window pass also checkpoints, fixing a second pathology: the
    # capped cand_sh was a join OUTPUT consumed by both sides of the
    # alias self-join, so the sh x dfc join re-ran per side.
    keyed = _windowed_bucket_chunks(
        cand_sh.select("doc_id", "shingle").repartition("shingle"),
        ["shingle"], "doc_id", None, None, "shingle_pairs",
    )
    L, R, on = _balanced_pair_sides(keyed, ["shingle"])
    cands = (
        L.hint("merge")
        .join(R.hint("merge"), on=on)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
        )
        .distinct()
    )
    shset = shingle_set_expr(tokens_col, shingle_size)
    arrs = docs.select(
        "doc_id", F.transform(shset, _shingle_id_expr).alias("_ss")
    ).localCheckpoint(eager=False)
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("_ss").alias("_sa"))
    ab = arrs.select(F.col("doc_id").alias("b"), F.col("_ss").alias("_sb"))
    return (
        cands.join(aa, "a")
        .join(ab, "b")
        .withColumn(
            "common", F.size(F.array_intersect("_sa", "_sb")).cast("long")
        )
        .withColumn(
            "containment",
            F.col("common")
            / F.least(F.size("_sa"), F.size("_sb")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def jaccard_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    shingle_size: int = 1,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    log=None,
) -> DataFrame:
    """All-pairs token/n-gram Jaccard >= threshold via inverted join.

    ``max_shingle_df`` (skew guard, ON by default — a stop-shingle in
    every doc would square the corpus) bounds CANDIDATE generation only:
    pairs are proposed by shingles with df <= cap, then verified against
    the FULL shingle sets, so every reported jaccard value is exact. A
    true pair is missed only if every shingle it shares has df > cap —
    at a high-threshold dedup setting such a pair shares many shingles
    and the chance all of them are corpus-wide stop-shingles is
    negligible; raise the cap (or pass None for the exact-but-quadratic
    -in-the-worst-key path) if the corpus says otherwise.

    ``log``: optional callable; when set (and the cap is active) a small
    extra aggregation reports how many distinct shingles the cap
    dropped — never silently truncate coverage."""
    # lazy checkpoints at both fan-outs (see minhash_lsh_pairs: HOF
    # lambda exprIds defeat plan-level sharing, so every consumer
    # re-runs the tokenize+shingle projection otherwise): sh feeds the
    # df aggregate AND the candidate join; cand_sh feeds both sides of
    # the inverted self-join
    sh = tokens_or_shingles(docs, tokens_col, shingle_size)
    if max_shingle_df is None:
        cand_sh = sh.localCheckpoint(eager=False)
    else:
        sh = sh.localCheckpoint(eager=False)
        dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
        if log is not None:
            n_dropped = dfc.filter(
                F.col("sdf") > max_shingle_df
            ).count()
            log(
                f"jaccard_pairs: max_shingle_df={max_shingle_df} dropped "
                f"{n_dropped} distinct shingles from candidate generation"
            )
        cand_sh = sh.join(
            dfc.filter(F.col("sdf") <= max_shingle_df), "shingle"
        ).select("doc_id", "shingle")
    # balanced chunk-pair enumeration per shingle (same machinery as
    # the LSH bucket joins — see the PAIR_CHUNK_ROWS note): a
    # stop-shingle at the df cap otherwise enumerates its whole df^2
    # candidate block in the one task owning that shingle's partition.
    # The window pass also checkpoints, fixing a second pathology: the
    # capped cand_sh was a join OUTPUT consumed by both sides of the
    # alias self-join, so the sh x dfc join re-ran per side.
    keyed = _windowed_bucket_chunks(
        cand_sh.select("doc_id", "shingle").repartition("shingle"),
        ["shingle"], "doc_id", None, None, "shingle_pairs",
    )
    L, R, on = _balanced_pair_sides(keyed, ["shingle"])
    cands = (
        L.hint("merge")
        .join(R.hint("merge"), on=on)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
        )
        .distinct()
    )
    # verification always runs over the FULL sets (array_intersect per
    # candidate), so the df cap can only affect candidate RECALL, never
    # a reported value
    return _verify_pairs_exact(
        cands, docs, tokens_col, shingle_size, threshold
    )


def _shingle_id_expr(col):
    """Element-level hash shingle id: first 60 bits of md5 (the same
    projection the DuckDB oracles replay as
    ``('0x' || substr(md5(shingle), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_minima_col(sids_col, num_hashes: int):
    """array<long> column of the ``num_hashes`` permutation minima over
    a shingle-id array column: one ``array_min(transform(...))`` per
    permutation, (a * (sid mod p) + b) mod p in exact int64 (a < 2^21,
    sid mod p < 2^31 => products < 2^52). Kept over a vectorized numpy
    Arrow kernel of the same arithmetic, which returned bit-identical
    minima but ran at 0.38x this path's speed
    (BENCH/engine_cmp_r5.json): it pays the transfer of every doc's
    shingle-id array across the UDF boundary."""
    col = F.col(sids_col) if isinstance(sids_col, str) else sids_col
    return F.array(
        *[
            F.array_min(F.transform(col, _perm_hash_fn(a, b)))
            for (a, b) in MINHASH_PARAMS[:num_hashes]
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    tokens_col: str = "tokens",
    num_hashes: int = 8,
    shingle_size: int = 1,
) -> DataFrame:
    """-> (doc_id, hash_id, min_hash): MinHash signature rows.
    h_i(x) = (a_i * (shingle_id mod p) + b_i) mod p, per-doc min.

    Computed as a PURE PROJECTION: per doc, shingle ids and all
    ``num_hashes`` minima come from array expressions inside codegen —
    no explode, no distinct, no groupBy, zero shuffles (the previous
    explode ⋈ params ⋈ min-agg plan shuffled the corpus twice). Docs
    with an empty shingle set produce no rows (matching the aggregate
    formulation)."""
    params = MINHASH_PARAMS[:num_hashes]
    if num_hashes > len(MINHASH_PARAMS):
        raise ValueError(f"at most {len(MINHASH_PARAMS)} hashes supported")
    shset = shingle_set_expr(tokens_col, shingle_size)
    # materialize the shingle-id array once; CollapseProject keeps the
    # non-cheap transform out of the num_hashes downstream references
    with_sids = docs.select(
        "doc_id", F.transform(shset, _shingle_id_expr).alias("_sids")
    )
    sig = minhash_minima_col("_sids", num_hashes)
    # explode a LITERAL index array, never the computed signature array:
    # Generate over an expression re-evaluates the interpreted HOF chain
    # per OUTPUT row (num_hashes x) — with a literal generator the
    # minima array is a child column evaluated once per doc
    return (
        with_sids.select("doc_id", sig.alias("_sig"))
        .select(
            "doc_id",
            "_sig",
            F.explode(
                F.array(*[F.lit(i) for i in range(len(params))])
            ).alias("hash_id"),
        )
        .select(
            "doc_id",
            "hash_id",
            F.element_at("_sig", F.col("hash_id") + 1).alias("min_hash"),
        )
        .filter(F.col("min_hash").isNotNull())
    )


def _band_keyed(
    docs: DataFrame,
    tokens_col: str,
    num_hashes: int,
    band_size: int,
    shingle_size: int,
) -> tuple[DataFrame, int]:
    """Shared banding projection for the LSH pair/join operators:
    (doc_id, _sids, _bands, band, bucket) rows, one per (doc, band),
    already repartitioned on the (band, bucket) join key. Returns
    (keyed, n_bands).

    All per-doc work is ONE projection: shingle ids, the num_hashes
    permutation minima, and the concat_ws band buckets. The band index
    is exploded from a LITERAL array, never the computed one — Generate
    over an expression forces the whole interpreted HOF chain
    (transform/array_min are CodegenFallback) to re-evaluate per OUTPUT
    row, measured 6x slower; with a literal generator the band array is
    a child column evaluated once per doc. The explicit repartition is
    the operator's one shuffle: it co-partitions the bucket equi-join
    and shares the signature materialization between the cap window and
    the join sides. The empty-shingle filter tests the RAW token column
    (size < shingle_size <=> empty shingle set) — a pushed-down filter
    on a computed column would inline and re-evaluate the md5 chain."""
    params = MINHASH_PARAMS[:num_hashes]
    if num_hashes > len(MINHASH_PARAMS):
        raise ValueError(f"at most {len(MINHASH_PARAMS)} hashes supported")
    col = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    shset = shingle_set_expr(tokens_col, shingle_size)
    base = docs.filter(F.size(col) >= max(shingle_size, 1)).select(
        "doc_id", shset.alias("_ss")
    )
    with_sids = base.select(
        "doc_id",
        "_ss",
        F.transform("_ss", _shingle_id_expr).alias("_sids"),
    )
    # minima materialized as one array column so the per-band
    # concat_ws below references attributes, not num_hashes
    # re-evaluations
    with_mins = with_sids.select(
        "doc_id",
        "_sids",
        minhash_minima_col("_sids", num_hashes).alias("_mins"),
    )
    n_bands = -(-num_hashes // band_size)
    bands_arr = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.element_at(F.col("_mins"), i + 1).cast("string")
                    for i in range(
                        j * band_size,
                        min((j + 1) * band_size, num_hashes),
                    )
                ],
            )
            for j in range(n_bands)
        ]
    )
    keyed = (
        with_mins.select("doc_id", "_sids", bands_arr.alias("_bands"))
        .select(
            "doc_id",
            "_sids",
            "_bands",
            F.explode(
                F.array(*[F.lit(j) for j in range(n_bands)])
            ).alias("band"),
        )
        .withColumn("bucket", F.element_at("_bands", F.col("band") + 1))
        .repartition("band", "bucket")
    )
    return keyed, n_bands


# Balanced intra-bucket pair enumeration. A bucket equi-self-join puts a
# bucket's ENTIRE n^2 candidate work in the one task that owns the
# bucket's partition: at the bench a single 1,560-doc band bucket
# produced ~1.2M of 2.3M candidates in one task (measured straggler),
# and at the 100k cap a degenerate bucket means 5x10^9 verifications in
# ONE task — the guide §2.5 hot-key pathology. The fix is the classic
# chunked self-join: order each bucket's members by id, cut them into
# chunks of ~PAIR_CHUNK_ROWS (growing so no bucket exceeds
# PAIR_MAX_CHUNKS chunks), and enumerate pairs per chunk-PAIR (i <= j):
# the left side replicates each row to its (i, j>=i) targets, the right
# side to its (i<=j, j) targets, and the join key gains (_ci, _cj), so
# a bucket's quadratic work spreads over k(k+1)/2 independent keys.
# Because chunks are id-ordered, i < j implies id_l < id_r, so the
# a < b dedup filter keeps exactly the same pair set as the flat join
# (equal chunks contribute both orderings, a < b keeps one).
PAIR_CHUNK_ROWS = 256
PAIR_MAX_CHUNKS = 64


def _windowed_bucket_chunks(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int | None,
    log,
    label: str,
    drop_msg: str | None = None,
    chunk_rows: int = PAIR_CHUNK_ROWS,
    max_chunks: int = PAIR_MAX_CHUNKS,
) -> DataFrame:
    """ONE window pass over the already-repartitioned keyed relation:
    bucket size (_bn, for the cap) and id-ordered row number (_rn, for
    the balanced chunk index) share the same partitioning, then the
    relation is lazily localCheckpoint-ed BEFORE the optional
    diagnostic count and the self-join fan-out (a groupBy+join cap
    subtree would get column-pruned below its own exchange and defeat
    exchange sharing, and the signature pipeline would recompute per
    consumer). Returns rows with (_ci, _k) chunk columns; ``drop_msg``
    overrides the default drop-log line."""
    wb = Window.partitionBy(*bucket_cols)
    wr = wb.orderBy(id_col)
    out = keyed.withColumn("_bn", F.count(F.lit(1)).over(wb)).withColumn(
        "_rn", F.row_number().over(wr)
    )
    out = out.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        if log is not None:
            n_dropped = (
                out.filter(F.col("_bn") > max_bucket_size)
                .select(*bucket_cols)
                .distinct()
                .count()
            )
            log(
                drop_msg.format(n_dropped=n_dropped)
                if drop_msg is not None
                else f"{label}: max_bucket_size={max_bucket_size} "
                f"dropped {n_dropped} band buckets from candidate "
                f"generation"
            )
        out = out.filter(F.col("_bn") <= max_bucket_size)
    c = F.greatest(
        F.lit(int(chunk_rows)),
        F.expr(f"(_bn + {int(max_chunks) - 1}) div {int(max_chunks)}"),
    )
    return (
        out.withColumn("_c", c)
        .withColumn("_ci", F.expr("(_rn - 1) div _c"))
        .withColumn("_k", F.expr("(_bn + _c - 1) div _c"))
        .drop("_bn", "_rn", "_c")
    )


def _balanced_pair_sides(
    chunked: DataFrame, bucket_cols: list[str]
) -> tuple[DataFrame, DataFrame, list]:
    """The two exploded sides of the balanced intra-bucket pair join:
    -> (L aliased 'l', R aliased 'r', join conditions). Both sides are
    cheap scans of the checkpointed chunked relation (the explode input
    is a tiny arithmetic sequence over materialized attributes, never a
    HOF chain), explicitly repartitioned on the widened
    (bucket..., _ci, _cj) key so every chunk PAIR is its own join key —
    the merge join then only sorts, and an oversized bucket's work
    spreads over its k(k+1)/2 chunk pairs instead of one task. A
    singleton-chunk bucket (k=1, the common case) emits exactly one
    copy per side, so the balanced join degenerates to the flat one."""
    base_cols = [c for c in chunked.columns if c not in ("_ci", "_k")]
    lhs = chunked.select(
        *base_cols,
        "_ci",
        F.explode(F.sequence(F.col("_ci"), F.col("_k") - 1)).alias("_cj"),
    )
    rhs = chunked.select(
        *base_cols,
        F.col("_ci").alias("_cj"),
        F.explode(F.sequence(F.lit(0), F.col("_ci"))).alias("_ci"),
    )
    keys = list(bucket_cols) + ["_ci", "_cj"]
    L = lhs.repartition(*keys).alias("l")
    R = rhs.repartition(*keys).alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    return L, R, on


def _balanced_cross_sides(
    keyed_a: DataFrame,
    keyed_b: DataFrame,
    bucket_cols: list[str],
) -> tuple[DataFrame, DataFrame, list]:
    """Balanced CROSS-relation bucket join (the two-corpus analogue of
    ``_balanced_pair_sides``): both inputs come from
    ``_windowed_bucket_chunks`` (own chunk index ``_ci``, own chunk
    count ``_k``, checkpointed). Each side learns the OTHER side's
    chunk count per bucket from a one-row-per-bucket size table (a
    distinct over the cached relation — ``_k`` is constant within a
    bucket) and replicates its rows across the other side's chunk
    range, so the join key gains ``(_ca, _cb)`` and a flooded bucket's
    |A|×|B| candidate block spreads over ka·kb grid cells instead of
    the bucket's single owning task. The size-table joins are INNER,
    which also drops buckets present on only one side before any
    replication (they can produce no pairs). Size tables are left
    unhinted — AQE broadcasts them while bucket cardinality is small
    and falls back to a shuffled join at scale.
    Returns (L aliased 'l', R aliased 'r', join conditions)."""
    ka = keyed_a.select(*bucket_cols, F.col("_k").alias("_ka")).distinct()
    kb = keyed_b.select(*bucket_cols, F.col("_k").alias("_kb")).distinct()
    base_a = [c for c in keyed_a.columns if c not in ("_ci", "_k")]
    base_b = [c for c in keyed_b.columns if c not in ("_ci", "_k")]
    lhs = keyed_a.join(kb, list(bucket_cols)).select(
        *base_a,
        F.col("_ci").alias("_ca"),
        F.explode(F.sequence(F.lit(0), F.col("_kb") - 1)).alias("_cb"),
    )
    rhs = keyed_b.join(ka, list(bucket_cols)).select(
        *base_b,
        F.col("_ci").alias("_cb"),
        F.explode(F.sequence(F.lit(0), F.col("_ka") - 1)).alias("_ca"),
    )
    keys = list(bucket_cols) + ["_ca", "_cb"]
    L = lhs.repartition(*keys).alias("l")
    R = rhs.repartition(*keys).alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    return L, R, on


def minhash_lsh_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_size: int = 1,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    log=None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature (num_hashes /
    band_size bands), bucket-join docs agreeing on a full band, then
    VERIFY candidates with exact Jaccard >= threshold. The bucket join
    replaces the quadratic all-pairs with |docs per identical band
    bucket| fan-out.

    ``max_bucket_size`` (default ``DEFAULT_MAX_BUCKET_SIZE``) caps the
    per-(band, bucket) membership used for CANDIDATE generation — at
    crawl scale a large exact-duplicate class puts every member in ONE
    band bucket and makes that bucket's self-join quadratic (10^6
    identical docs => 5*10^11 candidates). Each pair is considered
    exactly once, in its FIRST colliding band; a pair whose first
    colliding band bucket is oversized is dropped from candidate
    generation (drop count reported via ``log`` — a giant dup class
    collides in every band, so its first band is always the dropped
    one). True duplicate classes the cap suppresses are exactly the
    ones ``exact_duplicates`` already reports — compose both, dedup
    exact first, when a corpus has degenerate classes. ``None``
    disables the cap (first-collision dedup still applies).

    Verification runs over the FULL per-doc sets of 60-bit hashed
    shingle ids (the same ids minhashing consumes, so the DuckDB oracle
    replays them exactly): long-array intersects are several times
    cheaper than string-array intersects, which matters doubly here
    because filter pushdown inlines the threshold predicate into the
    join condition and evaluates the intersect per candidate. A 60-bit
    collision perturbing a jaccard value needs two distinct shingles of
    one doc pair to collide: P < k^2/2^61 per doc (~1e-10 at 10^4
    shingles/doc) — the module docstring's collision note applies.

    Plan shape — ONE shuffle, ONE projection pass: banding is a pure
    projection (band buckets are concat_ws over per-band minima,
    exploded via a LITERAL index array), the row carries the doc's
    full band array and its shingle-id set through a single explicit
    ``repartition(band, bucket)``, the bucket-size cap is a window
    count over that same exchange, and the capped relation is lazily
    localCheckpoint-ed so the alias self-join's two sides read ONE
    materialization (exchange reuse alone cannot share it — see the
    inline comment). Verification runs INLINE in the joined row:
    first-collision dedup is a conjunction of element_at band
    comparisons (replacing a 2x-candidates DISTINCT shuffle), a
    size-ratio prune (jaccard >= t forces min(|A|,|B|) >=
    t*max(|A|,|B|)) skips most intersections, then one JVM
    array_intersect (replacing two doc-table joins). Trade-off vs
    verify-by-id: the exchange carries each shingle-id set n_bands
    times, verify-by-id carries two sets per CANDIDATE — inline wins
    whenever candidates per doc exceed n_bands, the operating regime
    of a dedup pass (measured 1.4x end-to-end at the bench, with the
    candidate+verify tail 2.6x). Bucket strings are identical to
    grouping exploded signature rows by (doc_id, band) in hash_id
    order, which is what the SQL oracle replays."""
    keyed, n_bands = _band_keyed(
        docs, tokens_col, num_hashes, band_size, shingle_size
    )
    # The keyed relation MUST be localCheckpoint-ed (lazily) before the
    # self-join fan-out: an alias self-join does NOT share the keyed
    # subtree — plan dedup gives the right side fresh exprIds, and the
    # HOF lambdas in the signature chain (NamedLambdaVariable ids)
    # then defeat ReuseExchange/AQE stage-reuse canonicalization, so
    # BOTH sides re-run the full tokenize+md5+minima projection
    # (measured: two full map stages at 60k docs). The checkpoint
    # (GC-scoped, lineage-flat) happens inside _windowed_bucket_chunks,
    # which also computes the cap count and the balanced chunk index in
    # the ONE (band, bucket) window pass; the pair join runs per chunk
    # PAIR so an oversized bucket's quadratic verify work spreads over
    # tasks instead of landing on the bucket's single owner (see the
    # PAIR_CHUNK_ROWS note). "merge" hint: AQE would otherwise build
    # one side as a BroadcastExchange, which can never reuse the
    # shuffle.
    keyed = _windowed_bucket_chunks(
        keyed, ["band", "bucket"], "doc_id", max_bucket_size, log,
        "minhash_lsh_pairs",
    )
    L, R, on = _balanced_pair_sides(keyed, ["band", "bucket"])
    # first-collision dedup: emit the pair only from the lowest band
    # index where the two docs' buckets agree (exact — every colliding
    # pair has a unique minimal colliding band). Spelled as a literal
    # conjunction of element_at comparisons (codegen) rather than
    # exists(zip_with(slice...)) (interpreted, measured 2x slower)
    first_hit = F.lit(True)
    for i in range(n_bands - 1):
        first_hit = first_hit & (
            (F.col("l.band") <= i)
            | (
                F.element_at(F.col("l._bands"), i + 1)
                != F.element_at(F.col("r._bands"), i + 1)
            )
        )
    sa, sb = F.size(F.col("l._sids")), F.size(F.col("r._sids"))
    verified = (
        L.hint("merge")
        .join(R.hint("merge"), on=on)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(first_hit)
        # size-ratio prune: jaccard >= t requires t*max <= min — skips
        # the intersect on most non-pairs for high thresholds
        .filter(sb.cast("double") >= F.lit(threshold) * sa)
        .filter(sa.cast("double") >= F.lit(threshold) * sb)
        # project boundary: common/sa/sb become plain attributes, so the
        # jaccard expression above references the intersect result
        # instead of re-evaluating it per consumer expression
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            sa.alias("_na"),
            sb.alias("_nb"),
            F.size(F.array_intersect(F.col("l._sids"), F.col("r._sids")))
            .cast("long")
            .alias("common"),
        )
    )
    return (
        verified.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("_na") + F.col("_nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_lsh_join(
    docs_a: DataFrame,
    docs_b: DataFrame,
    tokens_col: str = "tokens",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_size: int = 1,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    log=None,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup join: (a, b, jaccard) with a
    from ``docs_a``, b from ``docs_b``, exact jaccard >= threshold —
    the "dedup the new crawl batch against the existing corpus" /
    fuzzy-decontamination operator. Same machinery as
    ``minhash_lsh_pairs`` (one banding projection per side, the same
    seeded permutation literals so both sides bucket identically, a
    co-partitioned (band, bucket) equi-join, first-collision band
    dedup, size-ratio prune, inline 60-bit shingle-id intersect) but
    across two relations, so there is no a < b constraint and a doc
    can match on both sides.

    ``max_bucket_size`` caps each side's (band, bucket) membership
    independently; a pair survives iff, in its FIRST colliding band,
    BOTH sides' buckets are within the cap (a degenerate duplicate
    class floods the same band bucket on whichever side carries it).
    Docs identical across the two inputs report jaccard 1.0 —
    compose with ``exact_duplicates`` over the union (or an anti-join
    on digest) first when byte-identical re-crawls dominate."""
    keyed_a, n_bands = _band_keyed(
        docs_a, tokens_col, num_hashes, band_size, shingle_size
    )
    keyed_b, _ = _band_keyed(
        docs_b, tokens_col, num_hashes, band_size, shingle_size
    )
    # per-side cap + chunk geometry in one window pass each (same
    # machinery as the self-join operators), then the balanced
    # cross-grid join: a flooded (band, bucket) otherwise lands its
    # whole |A_bucket| x |B_bucket| candidate block in one task
    keyed_a = _windowed_bucket_chunks(
        keyed_a, ["band", "bucket"], "doc_id", max_bucket_size, log,
        "minhash_lsh_join[a]",
    )
    keyed_b = _windowed_bucket_chunks(
        keyed_b, ["band", "bucket"], "doc_id", max_bucket_size, log,
        "minhash_lsh_join[b]",
    )
    L, R, on = _balanced_cross_sides(
        keyed_a, keyed_b, ["band", "bucket"]
    )
    first_hit = F.lit(True)
    for i in range(n_bands - 1):
        first_hit = first_hit & (
            (F.col("l.band") <= i)
            | (
                F.element_at(F.col("l._bands"), i + 1)
                != F.element_at(F.col("r._bands"), i + 1)
            )
        )
    sa, sb = F.size(F.col("l._sids")), F.size(F.col("r._sids"))
    verified = (
        L.hint("merge")
        .join(R.hint("merge"), on=on)
        .filter(first_hit)
        .filter(sb.cast("double") >= F.lit(threshold) * sa)
        .filter(sa.cast("double") >= F.lit(threshold) * sb)
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            sa.alias("_na"),
            sb.alias("_nb"),
            F.size(F.array_intersect(F.col("l._sids"), F.col("r._sids")))
            .cast("long")
            .alias("common"),
        )
    )
    return (
        verified.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("_na") + F.col("_nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _md5_hash64(col):
    """Full-width 64-bit deterministic hash of a string column, built
    from two 32-bit md5 halves with overflow-free arithmetic (ANSI-safe;
    DuckDB replays it as
    ``(CASE WHEN hi >= 2^31 THEN hi - 2^32 ELSE hi END) * 2^32 + lo``
    over ``('0x'||substr(md5(x), off, 8))::BIGINT`` halves — verified
    bit-identical)."""
    lo = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    hi = F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long")
    hi_signed = hi - F.when(hi >= F.lit(2**31), F.lit(2**32)).otherwise(
        F.lit(0)
    )
    return hi_signed * F.lit(2**32) + lo


# per-doc simhash fingerprint: one numpy kernel per Arrow batch (64
# vectorized bit-extract + segmented reduceat passes over the batch's
# flattened hash arrays). (h >> b) & 1 is the arithmetic-shift bit
# extract in int64, and the uint64 accumulate + int64 view sets the
# top bit as -(2^63). Kept over a SQL chain of num_bits filter-count
# HOF passes per doc, which returned bit-identical fingerprints but
# ran ~3x slower (BENCH/engine_cmp_r5.json, 5 interleaved reps at 60k
# docs: median 5.0 s here vs 15.3 s).
def _simhash_arrow_udf(num_bits: int):
    @F.pandas_udf("bigint")
    def fp(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in hs), dtype=np.int64, count=n)
        total = int(lens.sum())
        vals = np.zeros(n, dtype=np.uint64)
        if total:
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in hs]
            )
            offs = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            # per-bit passes keep peak memory at |flat| int64 instead
            # of a |flat| x num_bits matrix
            for b in range(num_bits):
                cnt = np.add.reduceat((flat >> b) & 1, offs)
                vals |= ((2 * cnt > lens).astype(np.uint64)) << np.uint64(b)
        out = pd.Series(vals.view(np.int64)).astype(object)
        out[lens == 0] = None  # empty shingle set -> no row
        return out

    return fp


def simhash(
    docs: DataFrame,
    tokens_col: str = "tokens",
    num_bits: int = 64,
    hash_a: int = 1203077,
    hash_b: int = 52512857,
) -> DataFrame:
    """-> (doc_id, simhash): per-bit weighted majority fingerprint.
    Each distinct shingle votes tf=1 per bit of its hash; bit set iff
    the +1/-1 vote sum is positive. Near-dups share most bits.

    ``num_bits > 32`` (the 64-bit default) hashes the shingle string
    with the full-width md5-derived hash (the 31-bit permutation hash
    would leave bits 31+ permanently unset); <= 32 keeps the legacy
    (a * sid + b) mod p construction over 60-bit shingle ids.

    Computed as a per-doc projection, no explode over (shingles x
    bits) rows, no groupBy, zero shuffles: the hash array is built in
    the JVM, and the per-bit +1/-1 vote sum is positive iff more than
    half the shingle hashes have the bit set, which
    ``_simhash_arrow_udf`` counts with numpy per Arrow batch. Docs with
    an empty shingle set produce no row."""
    shset = shingle_set_expr(tokens_col, 1)
    if num_bits > 32:
        hs_expr = F.transform(shset, _md5_hash64)
    else:
        hs_expr = F.transform(
            shset,
            lambda s: _perm_hash(
                F.lit(hash_a), F.lit(hash_b), _shingle_id_expr(s)
            ),
        )
    # materialize the hash array once — see minhash_signatures
    with_hs = docs.select("doc_id", hs_expr.alias("_hs"))
    return with_hs.select(
        "doc_id", _simhash_arrow_udf(num_bits)(F.col("_hs")).alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def simhash_pairs(
    sim: DataFrame,
    max_hamming: int = 3,
    num_bits: int = 64,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    log=None,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance -> (a, b, hamming).
    Candidate generation buckets on bit-chunks (pigeonhole: distance
    <= d -> some chunk of d+1 chunks matches exactly), then verifies
    the true distance with bit_count(xor).

    Scale shape: with the 64-bit default and max_hamming=3 each of the
    4 chunks has 16 bits -> 65,536 distinct bucket values per chunk, so
    the per-bucket self-join is ~(n / 65,536)^2 instead of the old
    32-bit (n / 256)^2. ``max_bucket_size`` (ON by default) drops
    pathological buckets — a chunk value shared by half the corpus
    (e.g. a boilerplate prefix forcing a constant chunk) — from
    CANDIDATE generation; each pair is considered exactly once, in its
    FIRST matching chunk (a conjunction of inline chunk-extract
    comparisons over the two fingerprints — no candidate DISTINCT
    shuffle), so a pair whose first matching chunk bucket is oversized
    is dropped. Reported pairs are always verified exact
    (bit_count(xor)). ``log``: optional callable reporting how many
    buckets the cap dropped — never silently truncate coverage.

    Plan shape (same as minhash_lsh_pairs): one explicit
    repartition(chunk, chunk_val) feeds a window bucket-size count and
    an ALIAS self-join, so the simhash fingerprint projection (the
    num_bits filter-count HOF chain) materializes once instead of per
    consumer."""
    n_chunks = max_hamming + 1
    chunk_bits = max(1, num_bits // n_chunks)
    mask = (1 << chunk_bits) - 1
    keyed = (
        sim.select(
            "doc_id",
            "simhash",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_chunks - 1))
            ).alias("chunk"),
        )
        .withColumn(
            # arithmetic shift then low-bit mask == logical shift
            # extract (identical in DuckDB, whose >> is also arithmetic)
            "chunk_val",
            F.expr(f"shiftright(simhash, chunk * {chunk_bits}) & {mask}"),
        )
        .repartition("chunk", "chunk_val")
    )
    # ONE window pass computes the cap count and the balanced chunk
    # index, with the lazy checkpoint before the diagnostic count and
    # the self-join fan-out — see minhash_lsh_pairs: plan dedup + HOF
    # lambda exprIds defeat exchange reuse, so the upstream simhash
    # projection would otherwise re-run per consumer; the chunk-pair
    # join keeps a flooded pigeonhole bucket from serializing its n^2
    # verifications in one task
    keyed = _windowed_bucket_chunks(
        keyed, ["chunk", "chunk_val"], "doc_id", max_bucket_size, log,
        "simhash_pairs",
        drop_msg=(
            f"simhash_pairs: max_bucket_size={max_bucket_size} dropped "
            "{n_dropped} pigeonhole buckets from candidate generation"
        ),
    )
    L, R, on = _balanced_pair_sides(keyed, ["chunk", "chunk_val"])
    # first-collision dedup: emit the pair only from the lowest chunk
    # index where the two fingerprints agree — the earlier chunk values
    # are re-extracted inline from the carried fingerprints, so no
    # arrays and no DISTINCT are needed
    first_hit = F.lit(True)
    for i in range(n_chunks - 1):
        first_hit = first_hit & (
            (F.col("l.chunk") <= i)
            | (
                F.expr(f"shiftright(l.simhash, {i * chunk_bits}) & {mask}")
                != F.expr(f"shiftright(r.simhash, {i * chunk_bits}) & {mask}")
            )
        )
    return (
        L.hint("merge")
        .join(R.hint("merge"), on=on)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(first_hit)
        .withColumn(
            "hamming",
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            "hamming",
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    tokens_col: str = "tokens",
    shingle_size: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Eval-set decontamination: per training document, how many of its
    DISTINCT word n-grams also occur in an evaluation set (the
    GPT-3/PaLM-style n-gram-overlap contamination check a training
    pipeline runs before fine-tuning or eval). Beyond the reference's
    IR core, same family as the dedup operators above.

    Returns (doc_id, total_shingles, matched_shingles, contamination)
    for EVERY training doc — ``contamination`` is
    matched/total rounded to 4dp (0.0 for docs too short to have any
    n-gram); filter ``matched_shingles > 0`` (or a ratio threshold) to
    drop contaminated docs.

    Scale shape: the eval side is DISTINCT n-grams of the (by
    definition small) eval corpus, broadcast to every executor — the
    training corpus is never shuffled. The train side is one scan:
    distinct-shingle projection (`shingle_set_expr`, no explode of raw
    tokens beyond the bounded per-doc shingle set), explode_outer (so
    sub-n-gram-length docs keep a row), broadcast left join, and ONE
    map-side-combined groupBy whose shuffle carries three longs per
    doc. For an eval set too large to broadcast pass
    ``broadcast_eval=False`` (plain shuffled hash join).
    """
    ev = (
        tokens_or_shingles(eval_docs, tokens_col, shingle_size)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    # index-sequence explode (see tokens_or_shingles): keeps the n-gram
    # shingle chain a child column computed once per doc instead of
    # inlined into the Generate
    base = docs.select(
        "doc_id", shingle_set_expr(tokens_col, shingle_size).alias("_ss")
    )
    idx = F.when(
        F.size("_ss") > 0, F.sequence(F.lit(0), F.size("_ss") - 1)
    ).otherwise(F.array().cast("array<int>"))
    exploded = base.select(
        "doc_id", "_ss", F.explode_outer(idx).alias("_i")
    ).select(
        "doc_id",
        F.size("_ss").cast("long").alias("total_shingles"),
        F.element_at("_ss", F.col("_i") + 1).alias("shingle"),
    )
    counted = (
        exploded.join(ev, "shingle", "left")
        .groupBy("doc_id", "total_shingles")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("matched_shingles")
        )
    )
    return counted.select(
        "doc_id",
        "total_shingles",
        "matched_shingles",
        F.round(
            F.when(
                F.col("total_shingles") > 0,
                F.col("matched_shingles")
                / F.col("total_shingles").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("contamination"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    tokens_col: str = "tokens",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): (doc_id, fp) rows where fp ranges
    over the distinct window-minima of the doc's positional k-gram hash
    sequence. Guarantee: any shared token substring of length >=
    k + window - 1 contributes at least one IDENTICAL fingerprint to
    both docs, so fingerprint overlap detects long verbatim substring
    reuse — the exact-substring dedup signal of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better"
    (suffix-array substring dedup), re-expressed as a bounded per-doc
    projection + set ops instead of a global suffix sort (which does
    not distribute).

    Construction (all one per-doc projection, zero shuffles):
    positional (NOT distinct) k-grams g_i = tokens[i..i+k-1] joined by
    a single space; h_i = 60-bit md5 id (the module's shingle-id
    projection, replayable in any SQL engine); fingerprints =
    distinct { min(h_i..h_{i+window-1}) } over every window position
    (one whole-sequence window when the doc has fewer than ``window``
    grams). Set semantics make the classic rightmost-tie rule
    irrelevant — equal minima pick the same VALUE. Docs shorter than
    ``k`` tokens emit no rows. The window minima are computed as
    slice/array_min per position (O(n*window) per doc — fine for the
    window sizes fingerprinting uses; an ascending-minima deque kernel
    is the upgrade path if a corpus needs window >> 32)."""
    col = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    w = int(window)
    if k < 1 or w < 1:
        raise ValueError("k and window must be >= 1")
    grams = F.when(
        F.size(col) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(col) - k),
            lambda i: F.array_join(F.slice(col, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.filter(F.size(col) >= k).select(
        "doc_id",
        F.transform(grams, _shingle_id_expr).alias("_hs"),
    )
    n_windows = F.greatest(F.size("_hs") - w + 1, F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: F.array_min(F.slice(F.col("_hs"), i + 1, w)),
        )
    )
    fpd = base.select("doc_id", fps.alias("_fps"))
    # index-sequence explode (see tokens_or_shingles): keep the hash
    # chain a once-per-doc child column, never the generator expression
    idx = F.when(
        F.size("_fps") > 0, F.sequence(F.lit(0), F.size("_fps") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return fpd.select("doc_id", "_fps", F.explode(idx).alias("_i")).select(
        "doc_id", F.element_at("_fps", F.col("_i") + 1).alias("fp")
    )


def substring_overlap_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    log=None,
) -> DataFrame:
    """Verbatim-substring-overlap pairs via winnowing fingerprints:
    (a, b, shared_fps, overlap) for doc pairs sharing >= ``min_shared``
    fingerprints, a < b, overlap = shared / min(|A|, |B|) over the full
    fingerprint sets. The distributed stand-in for suffix-array exact
    substring dedup: two docs sharing any verbatim token run of length
    >= k + window - 1 share a fingerprint, and the shared-fingerprint
    count grows with the amount of copied text.

    Same candidate/verify split as ``jaccard_pairs``: candidates come
    from the inverted fingerprint join with ``max_fp_df`` capping
    ubiquitous fingerprints (a boilerplate sentence fingerprint in
    every doc would square the corpus; drop count via ``log``;
    candidate RECALL only), then every candidate is verified against
    the FULL fingerprint sets (array_intersect of the two docs'
    fingerprint arrays), so reported counts and ratios are exact."""
    # lazy checkpoint: the winnowing projection feeds the df aggregate,
    # the candidate join, AND the per-doc fingerprint-set verify — HOF
    # lambda exprIds defeat plan-level sharing (see minhash_lsh_pairs),
    # so every consumer would re-run it otherwise
    fps = winnow_fingerprints(docs, tokens_col, k, window).localCheckpoint(
        eager=False
    )
    if max_fp_df is None:
        cand_fp = fps
    else:
        dfc = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_fdf"))
        if log is not None:
            n_dropped = dfc.filter(F.col("_fdf") > max_fp_df).count()
            log(
                f"substring_overlap_pairs: max_fp_df={max_fp_df} dropped "
                f"{n_dropped} fingerprints from candidate generation"
            )
        cand_fp = fps.join(
            dfc.filter(F.col("_fdf") <= max_fp_df), "fp"
        ).select("doc_id", "fp")
    a = cand_fp.select(F.col("doc_id").alias("a"), "fp")
    b = cand_fp.select(F.col("doc_id").alias("b"), "fp")
    cands = (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # verify on the FULL fingerprint arrays (one aggregated array per
    # doc, grouped from the exploded rows so the winnowing projection
    # runs once)
    arrs = fps.groupBy("doc_id").agg(F.collect_set("fp").alias("_fp"))
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("_fp").alias("_fa"))
    ab = arrs.select(F.col("doc_id").alias("b"), F.col("_fp").alias("_fb"))
    verified = (
        cands.join(aa, "a")
        .join(ab, "b")
        .select(
            "a",
            "b",
            F.size("_fa").alias("_na"),
            F.size("_fb").alias("_nb"),
            F.size(F.array_intersect("_fa", "_fb"))
            .cast("long")
            .alias("shared_fps"),
        )
    )
    return (
        verified.filter(F.col("shared_fps") >= min_shared)
        .withColumn(
            "overlap",
            F.col("shared_fps")
            / F.least(F.col("_na"), F.col("_nb")).cast("double"),
        )
        .select("a", "b", "shared_fps", "overlap")
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup pairs -> connected components: (doc_id, cluster_id)
    with cluster_id = the smallest doc_id reachable through the pair
    graph. The step a training pipeline runs AFTER any pair operator
    above (keep one representative per cluster: ``doc_id ==
    cluster_id``; transitive near-dups collapse even when the endpoints
    themselves were never compared).

    Min-label propagation: each round every node takes the min of its
    own and its neighbors' labels; converged when a round changes
    nothing. Rounds needed = graph diameter — near-dup clusters are
    near-cliques (diameter 2-3 in practice), so the loop is short;
    ``max_iter`` bounds adversarial chains (a path graph propagates one
    hop per round; the loop stops early the round nothing changes).
    Scale shape: the symmetric edge list is materialized ONCE via
    localCheckpoint (GC-scoped) and reused by every round; each round
    is one equi-join + one map-side-combined min-groupBy (label rows
    only — never documents), and each round's result is
    localCheckpointed so lineage stays flat. The convergence probe is
    a limit(1) anti-equality join, not a full count. Only doc_ids that
    appear in some pair are emitted — every other doc is trivially its
    own singleton cluster.
    """
    edges = pairs.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    )
    # Lazy checkpoints + a per-round plan that carries the OLD label:
    # the eager-checkpoint-then-probe shape ran TWO jobs per round (a
    # full materialization job, then the convergence probe over the
    # cache); joining the old label into the round's result lets the
    # probe's limit(1).count() BE the materializing action, so each
    # round schedules one job (plus lazy back-fill of any partitions
    # the early-exit limit skipped — same total work, half the job
    # round-trips, which dominate at gate scale).
    sym = (
        edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr = sym.withColumnRenamed("a", "node").join(
            labels, "node"
        ).select(F.col("b").alias("node"), "cluster_id")
        new = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .join(
                labels.select(
                    "node", F.col("cluster_id").alias("_old")
                ),
                "node",
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new.filter(F.col("cluster_id") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new.drop("_old")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Materialize the DEDUPLICATED corpus: connected components over
    the near-dup pair graph (``duplicate_clusters``), then keep exactly
    one representative per cluster — the minimum reachable doc_id —
    plus every untouched singleton. This is the end artifact a
    training pipeline feeds downstream of any pair operator above
    (jaccard / minhash-LSH / simhash / substring overlap), collapsing
    transitive near-dups whose endpoints were never directly compared.

    Scale shape: the drop list (cluster members minus their
    representatives) is bounded by the number of documents that appear
    in ANY pair — typically orders of magnitude smaller than the
    corpus — so the ``left_anti`` join lets AQE broadcast it when
    small and degrade to a shuffled anti join only when a crawl's dup
    mass is genuinely huge. The docs relation is scanned once, never
    widened, and rows stream through untouched (no columns added or
    dropped)."""
    clusters = duplicate_clusters(
        pairs, a_col=a_col, b_col=b_col, max_iter=max_iter
    )
    drop = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def dedup_corpus_survivor(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    quality_col: str = "n_chars",
    max_iter: int = 20,
) -> DataFrame:
    """``dedup_corpus`` with a SURVIVORSHIP policy: per near-dup
    component keep the member with the HIGHEST ``quality_col`` (ties to
    the smaller doc_id) instead of the minimum doc_id — what production
    crawl pipelines actually do (CCNet keeps the best-perplexity copy,
    RefinedWeb/C4-style passes keep the longest), so a truncated or
    boilerplate-padded mirror never shadows the canonical page.

    ``quality_col`` is read off ``docs`` and must be numeric (it is
    negated for the struct-min argmax). Untouched singletons pass
    through unchanged, and output rows are ``docs`` rows verbatim.

    Scale shape: identical to ``dedup_corpus`` — every derived relation
    is bounded by the docs that appear in ANY pair, never the corpus.
    The quality lookup joins the cluster table (pair-graph-sized)
    against a two-column docs projection; the argmax is one map-side-
    combined struct-min groupBy; the corpus is scanned once for that
    projection and once through the final ``left_anti`` (broadcast by
    AQE while the drop list is small)."""
    clusters = duplicate_clusters(
        pairs, a_col=a_col, b_col=b_col, max_iter=max_iter
    )
    q = docs.select(
        F.col(id_col).alias("doc_id"), F.col(quality_col).alias("_q")
    )
    m = clusters.join(q, "doc_id")
    # min(struct(-q, doc_id)): max quality, ties to the LOWER doc_id —
    # the same lexicographic struct-extreme both engines agree on
    surv = (
        m.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_q")).alias("nq"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("s")
        )
        .select(F.col("s.d").alias("doc_id"))
    )
    drop = m.select("doc_id").join(surv, "doc_id", "left_anti")
    return docs.join(
        drop.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


# chunk_idx packing for the span-keeper key: doc_id * 2^20 + chunk_idx.
# chunk_idx < 2^20 holds for any document under ~52M whitespace tokens
# (span_tokens >= 50 at crawl scale); doc_id must stay under 2^43 for
# the product to fit int64 — both asserted cheap at plan-build time.
_SPAN_KEY_SHIFT = 1 << 20


def _span_occurrences(
    docs: DataFrame,
    span_tokens: int,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_id, chunk_idx, span_id) for every FULL non-overlapping
    ``span_tokens``-token window (partial tails are excluded — a
    partial span cannot equal a full one, and including it would make
    short-doc tails spuriously collide). Pure map-side: per-doc token
    array + a generated index explode (the sequence generator never
    references a computed HOF array, and the span slice happens in the
    upper project over the materialized token column — the same
    inlining-safe shape as textstats.chunk_documents)."""
    c = F.col(content_col)
    toks = F.array_remove(F.split(F.trim(c), r"\s+"), "")
    n_spans = F.floor(F.size(toks) / F.lit(span_tokens)).cast("long")
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        n_spans.alias("_ns"),
    ).filter(F.col("_ns") > 0)
    idx = F.explode(F.sequence(F.lit(0).cast("long"), F.col("_ns") - 1))
    span = F.slice(
        F.col("_toks"),
        (F.col("chunk_idx") * span_tokens + 1).cast("int"),
        span_tokens,
    )
    return per_doc.select(
        "doc_id", "_toks", idx.alias("chunk_idx")
    ).select(
        "doc_id",
        "chunk_idx",
        _shingle_id_expr(F.array_join(span, " ")).alias("span_id"),
    )


def duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 50,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide EXACT duplicated spans — the C4 / Lee et al. (2022)
    "remove repeated substrings" signal at fixed granularity: tile each
    document into non-overlapping ``span_tokens``-token windows, hash
    each window (60-bit md5 id, the engine-portable shingle projection),
    and report every span text that occurs more than once anywhere in
    the corpus -> (span_id, n_occ, keep_doc_id, keep_chunk_idx), the
    keeper being the first occurrence in (doc_id, chunk_idx) order.

    Relationship to the neighbors: ``exact_duplicates`` catches whole-
    document copies, ``substring_overlap_pairs`` (winnowing) catches
    pairwise overlap of ANY alignment; this operator finds the globally
    repeated boilerplate spans themselves (license headers, navigation
    chrome) with their occurrence mass — the input to span-level
    scrubbing (see ``drop_duplicate_span_occurrences``).

    Scale shape: one map-side-combined groupBy on span_id — the only
    shuffle, carrying (span_id, partial count, partial min-key) — no
    window, no join, no token explode (spans are sliced from the per-doc
    token array). The keeper rides the aggregation as min(doc_id *
    2^20 + chunk_idx), exact integer arithmetic on both engines."""
    occ = _span_occurrences(docs, span_tokens, content_col, id_col)
    key = F.col("doc_id") * F.lit(_SPAN_KEY_SHIFT) + F.col("chunk_idx")
    g = occ.groupBy("span_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.min(key).alias("_kk"),
    )
    return g.filter(F.col("n_occ") > 1).select(
        "span_id",
        "n_occ",
        F.expr(f"_kk DIV {_SPAN_KEY_SHIFT}").alias("keep_doc_id"),
        F.pmod(F.col("_kk"), F.lit(_SPAN_KEY_SHIFT)).cast("long").alias(
            "keep_chunk_idx"
        ),
    )


def drop_duplicate_span_occurrences(
    docs: DataFrame,
    span_tokens: int = 50,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """The occurrence-level drop list for span scrubbing: every
    (doc_id, chunk_idx, span_id) whose span text occurs elsewhere in
    the corpus, EXCEPT the first occurrence (which is kept) — C4-style
    keep-one span dedup. The occurrence relation feeds both the
    duplicate aggregation and the drop join, so it is materialized once
    via a GC-scoped local checkpoint (the shared-subtree house rule);
    the dup-span summary is tiny relative to the corpus and AQE
    broadcasts it."""
    occ = _span_occurrences(
        docs, span_tokens, content_col, id_col
    ).localCheckpoint(eager=False)
    key = F.col("doc_id") * F.lit(_SPAN_KEY_SHIFT) + F.col("chunk_idx")
    dup = (
        occ.groupBy("span_id")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min(key).alias("_kk"))
        .filter(F.col("n_occ") > 1)
        .select("span_id", "_kk")
    )
    return (
        occ.join(dup, "span_id")
        .filter(key != F.col("_kk"))
        .select("doc_id", "chunk_idx", "span_id")
    )


def snapshot_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff — the crawl-refresh bookkeeping pass: what
    did the new snapshot add, remove, or change vs the previous one?
    One full outer join on doc id with per-side content digests;
    status ∈ {added, removed, changed, unchanged}. -> (doc_id, status,
    old_digest, new_digest).

    At 100 TB both sides shuffle once on the id (or not at all when
    snapshots are id-bucketed/partitioned the same way — the join
    co-locates); digests are computed in the scan, so content bytes
    never move twice."""
    o = old_docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(content_col)).alias("old_digest"),
    )
    n = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(content_col)).alias("new_digest"),
    )
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest") != F.col("new_digest"), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, "doc_id", "full").select(
        "doc_id", status.alias("status"), "old_digest", "new_digest"
    )


def revisit_policy(
    diff: DataFrame,
    doc_hosts: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """Crawl revisit scheduling from a snapshot diff (the freshness
    economics of Cho & Garcia-Molina, VLDB'00 "Synchronizing a
    database to improve freshness": revisit frequency should track
    observed change rate): per host, how much churned between the two
    snapshots — added/removed/changed all count; unchanged does not —
    and the resulting revisit interval tier.

    The tier is picked by EXACT integer cross-multiplication, never a
    float-rate threshold (a rate c/n that lands bit-near a boundary
    would flip tiers across engines):

        revisit_days = 1   if 2c  >= n   (rate >= 1/2)
                       4   if 8c  >= n   (rate >= 1/8)
                       16  if 32c >= n   (rate >= 1/32)
                       64  otherwise

    -> (host, n_docs, n_changed, change_rate, revisit_days);
    change_rate is display-only (one 4dp division).

    Plan shape: diff joins the host map on doc id (co-located when
    both ride the crawl's id bucketing), one map-side-combined host
    groupBy; docs only present in one snapshot must still appear in
    ``doc_hosts`` (derive the map from the union of snapshots)."""
    j = diff.join(
        doc_hosts.select(
            F.col(id_col).alias("doc_id"), F.col(host_col).alias("host")
        ),
        "doc_id",
    )
    per = j.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("status") != "unchanged", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_changed"),
    )
    c, n = F.col("n_changed"), F.col("n_docs")
    tier = (
        F.when(2 * c >= n, F.lit(1))
        .when(8 * c >= n, F.lit(4))
        .when(32 * c >= n, F.lit(16))
        .otherwise(F.lit(64))
    )
    return per.select(
        "host",
        "n_docs",
        "n_changed",
        F.round(c / n, 4).alias("change_rate"),
        tier.cast("long").alias("revisit_days"),
    )


def dedup_lines(
    docs: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_docs: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Line-level corpus deduplication (the RefinedWeb / CCNet
    boilerplate pass): drop EVERY occurrence of any trimmed line that
    appears in >= ``min_docs`` distinct documents, then reassemble each
    document from its surviving lines in original order. Lines shorter
    than ``min_line_chars`` after trimming (e.g. blank separators) are
    never counted as boilerplate and always survive. ->
    (doc_id, clean_text, n_kept, n_dropped); documents whose every
    line is boilerplate come back with clean_text = ''.

    Plan shape at scale: lines are posexploded from a codegen
    ``split`` (no HOF in the generator chain); the corpus-wide count
    groups by the line's 128-bit md5, so the shuffle carries
    (digest, doc_id) pairs, never the line bytes twice; the
    boilerplate set joins back by digest (AQE broadcasts it while it
    is small — at crawl scale it stays a plain hash join) and the
    reassembly is one groupBy(doc_id) with an in-agg array sort. Two
    shuffles total: the digest count and the doc rebuild."""
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.col(content_col), re.escape(delim), -1)
        ).alias("idx", "raw"),
    ).withColumn("line", F.trim(F.col("raw")))
    eligible = F.length("line") >= min_line_chars
    boiler = (
        lines.filter(eligible)
        .select(F.md5("line").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("digest")
    )
    flagged = (
        lines.withColumn(
            "digest", F.when(eligible, F.md5("line"))
        )
        .join(boiler.withColumn("_dup", F.lit(True)), "digest", "left")
        .withColumn("is_dup", F.coalesce("_dup", F.lit(False)))
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("idx", "raw", "is_dup"))
    )
    kept = F.filter(ordered, lambda x: ~x["is_dup"])
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(kept, lambda x: x["raw"]), delim
            ).alias("clean_text"),
            F.size(kept).cast("long").alias("n_kept"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
        )
    )


def lsh_recall_report(
    tokens: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    shingle_size: int = 1,
) -> DataFrame:
    """Candidate-generation RECALL of MinHash-LSH banding against the
    exact Jaccard self-join at the same threshold — the S-curve
    calibration every dedup pipeline runs at small scale before
    trusting (num_hashes, band_size) at full scale: banding only SEES
    pairs that collide in some band, so true near-dup pairs below the
    collision curve are silently missed; this report counts them.
    Verified LSH pairs are a subset of the exact set (both verify on
    full shingle sets), so precision is 1 by construction and the
    single number that matters is recall.
    -> one row (n_exact, n_lsh, n_missed, recall).

    Scale note: the exact side is the quadratic-ish df-capped
    self-join — run this calibration on a SAMPLE (it is a measurement,
    not a production path); the LSH side is the production operator
    unchanged."""
    exact = jaccard_pairs(
        tokens, threshold=threshold, shingle_size=shingle_size
    ).select("a", "b")
    lsh = minhash_lsh_pairs(
        tokens,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        shingle_size=shingle_size,
    ).select("a", "b")
    n_ex = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_ls = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    n_co = (
        exact.join(lsh, ["a", "b"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        n_ex.crossJoin(n_ls)
        .crossJoin(n_co)
        .select(
            "n_exact",
            "n_lsh",
            (F.col("n_exact") - F.col("n_common")).cast("long").alias(
                "n_missed"
            ),
            F.round(
                F.col("n_common") * F.lit(1.0) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    key_len: int = 24,
    block_len: int = 4,
    threshold: float = 0.5,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood near-duplicate candidates (Hernández &
    Stolfo SIGMOD'95, the merge/purge method) — the third blocking
    family beside MinHash-LSH banding and SimHash pigeonholes: sort
    records by a normalization key and compare each record only to
    its ``window − 1`` successors in sort order, then verify with
    exact token-set Jaccard. -> (a, b, jaccard), a < b, jaccard ≥
    ``threshold``.

    Key = first ``key_len`` chars of the alnum-squashed lowercase
    text; BLOCK = its first ``block_len`` chars. The sort runs INSIDE
    blocks (row_number partitioned by block) — never a global
    single-partition window — so block cardinality is the parallelism
    and the block boundary is the documented miss source (classic SNM
    answers it with multi-pass over different keys, same as LSH's
    multiple bands). The blocked relation is repartitioned by block
    and localCheckpoint'ed once for the alias self-join (house rule
    from the LSH pair operators); the window band join is
    block-equality + a rank-difference predicate, so each block
    produces ≤ |block|·(window−1) candidates — linear in corpus size
    for fixed window, the whole point of SNM."""
    key = F.substring(
        F.regexp_replace(F.lower(F.col(content_col)), "[^a-z0-9]", ""),
        1,
        int(key_len),
    )
    keyed = (
        docs.select(
            F.col(id_col).alias("doc_id"), key.alias("_key"),
        )
        .withColumn("_block", F.substring("_key", 1, int(block_len)))
        .repartition("_block")
    )
    w = Window.partitionBy("_block").orderBy(
        F.col("_key").asc(), F.col("doc_id").asc()
    )
    ranked = keyed.withColumn(
        "_rn", F.row_number().over(w)
    ).localCheckpoint(eager=False)
    l = ranked.select(
        F.col("_block").alias("_bl"),
        F.col("doc_id").alias("_dl"),
        F.col("_rn").alias("_rl"),
    )
    r = ranked.select(
        F.col("_block").alias("_br"),
        F.col("doc_id").alias("_dr"),
        F.col("_rn").alias("_rr"),
    )
    cands = (
        l.join(
            r.hint("merge"),
            (F.col("_bl") == F.col("_br"))
            & (F.col("_rr") > F.col("_rl"))
            & (F.col("_rr") <= F.col("_rl") + int(window) - 1),
        )
        .select(
            F.least("_dl", "_dr").alias("a"),
            F.greatest("_dl", "_dr").alias("b"),
        )
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.array_remove(
                    F.split(F.lower(F.col(content_col)), "[^a-z0-9]+"),
                    "",
                )
            )
        ).alias("term"),
    ).localCheckpoint(eager=False)
    sizes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    ta = toks.select(F.col("doc_id").alias("a"), "term")
    tb = toks.select(
        F.col("doc_id").alias("_b2"), F.col("term").alias("_tb")
    )
    inter = (
        cands.join(ta, "a")
        .join(
            tb,
            (F.col("b") == F.col("_b2"))
            & (F.col("term") == F.col("_tb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("a"), F.col("_sz").alias("_sa")
    )
    sb = sizes.select(
        F.col("doc_id").alias("b"), F.col("_sz").alias("_sb")
    )
    jac = (
        F.col("_common")
        / (F.col("_sa") + F.col("_sb") - F.col("_common")).cast("double")
    )
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(jac >= float(threshold))
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )
