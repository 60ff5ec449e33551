"""Resumable, checkpointed index builds with lineage + per-stage metrics.

The reference rebuilds its index from scratch every run (OpenMode.CREATE,
reference: indexing/TrecDocIndexer.java:154-155) — a non-starter for a
10^12-file corpus where a build is hours of cluster time and ANY restart
must not redo finished work. This module adds what the reference lacks:

- postings and doc_stats come from the same derivation as
  ``build_index`` (operators/indexer.py ``derive_postings`` /
  ``derive_doc_stats``): the flat postings are the one persisted table,
  doc_stats and every slice read it, and it is unpersisted on every
  exit, so a build leaves nothing cached in the session;
- the postings are written as ``num_slices`` term-hash slices
  (pmod(xxhash64(term), num_slices)); each slice is an independent job
  whose output lands in ``postings/slice=<i>/``;
- a JSON manifest records lineage (input fingerprint, config hash,
  engine version) plus per-slice completion and per-stage metrics
  (rows, seconds, docs/sec);
- a restart verifies lineage, SKIPS completed slices, and finishes the
  rest — the final table is byte-equivalent to a single-shot build;
- changing the input or the config invalidates the manifest (fingerprint
  mismatch -> fresh build), so a stale checkpoint can never leak into a
  new index.

Slicing by term hash (not by input split) keeps each slice a complete,
mergeable postings subset: slices never overlap in terms, so "resume"
is pure set union, no reconciliation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexer import (
    CollectionStats,
    IndexConfig,
    InvertedIndex,
    build_term_stats,
    derive_doc_stats,
    derive_postings,
)

MANIFEST = "manifest.json"


def _config_fingerprint(cfg: IndexConfig) -> str:
    a = cfg.analyzer
    # stopword CONTENT, not count: two different same-size stop sets must
    # invalidate the lineage (a stale checkpoint can never leak)
    stop_hash = hashlib.sha256(
        "\n".join(sorted(a.stopwords or ())).encode("utf-8")
    ).hexdigest()[:16]
    return (
        f"mode={a.mode};stop={stop_hash};lower={a.lowercase};"
        f"salt_df={cfg.salt_df_threshold};shards={cfg.num_salt_shards};"
        f"block={cfg.block_size}"
    )


def _input_fingerprint(docs: DataFrame, id_col: str, content_col: str) -> dict:
    """Cheap but strong lineage: row count + XOR of row content hashes
    (order- and partitioning-insensitive; XOR, not sum — sum of 64-bit
    hashes overflows under ANSI mode)."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(F.col(id_col).cast("string"), F.col(content_col))
        ).alias("h"),
    ).collect()[0]
    return {"n_rows": int(row["n"] or 0), "content_hash": int(row["h"] or 0)}


def _load_manifest(out_dir: str) -> dict | None:
    p = os.path.join(out_dir, MANIFEST)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def _save_manifest(out_dir: str, m: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(m, fh, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, MANIFEST))


def build_index_checkpointed(
    docs: DataFrame,
    out_dir: str,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    content_col: str = "content",
    num_slices: int = 8,
    log=print,
) -> dict:
    """Build (or resume) a persisted index at ``out_dir``. Returns the
    manifest. Layout:
        out_dir/doc_stats/            parquet
        out_dir/postings/slice=i/     parquet (term,doc_id,tf,doc_len)
        out_dir/term_stats/           parquet
        out_dir/stats.json            collection scalars
        out_dir/manifest.json         lineage + completion + metrics
    """
    cfg = cfg or IndexConfig()
    spark = docs.sparkSession
    lineage = {
        "input": _input_fingerprint(docs, id_col, content_col),
        "config": _config_fingerprint(cfg),
        "num_slices": num_slices,
    }
    m = _load_manifest(out_dir)
    if m is not None and m.get("lineage") != lineage:
        log(f"[checkpoint] lineage mismatch at {out_dir} — rebuilding")
        m = None
    if m is None:
        m = {
            "lineage": lineage,
            "completed_stages": [],
            "completed_slices": [],
            "metrics": {},
        }

    def stage_done(name: str) -> bool:
        return name in m["completed_stages"]

    def record(stage: str, t0: float, rows: int, extra: dict | None = None):
        dt = time.time() - t0
        m["metrics"][stage] = {
            "rows": rows,
            "seconds": round(dt, 3),
            "rows_per_sec": round(rows / dt, 1) if dt > 0 else None,
            **(extra or {}),
        }
        _save_manifest(out_dir, m)
        log(f"[checkpoint] {stage}: {rows} rows in {dt:.2f}s")

    # the one parse: doc_stats and every slice read this persisted table;
    # the build owns it and unpersists it on every exit
    flat = derive_postings(docs, cfg.analyzer, id_col, content_col).persist()
    try:
        # ---- stage: doc_stats
        if not stage_done("doc_stats"):
            t0 = time.time()
            ds = derive_doc_stats(docs, flat, id_col, content_col)
            path = os.path.join(out_dir, "doc_stats")
            ds.write.mode("overwrite").parquet(path)
            n = spark.read.parquet(path).count()
            m["completed_stages"].append("doc_stats")
            record("doc_stats", t0, n, {"docs_per_sec_key": True})
        else:
            log("[checkpoint] doc_stats: already complete, skipping")

        # ---- stage: postings, per term-hash slice
        slice_of = F.pmod(F.xxhash64("term"), F.lit(num_slices)).cast("int")
        done = m["completed_slices"]
        todo = [s for s in range(num_slices) if s not in done]
        for s in todo:
            t0 = time.time()
            part = flat.filter(slice_of == s)
            path = os.path.join(out_dir, "postings", f"slice={s}")
            part.write.mode("overwrite").parquet(path)
            n = spark.read.parquet(path).count()
            m["completed_slices"].append(s)
            record(f"postings_slice_{s}", t0, n)
        if not todo:
            log("[checkpoint] postings: all slices complete, skipping")
    finally:
        flat.unpersist()

    # ---- stage: term_stats + collection stats (derived; cheap, last)
    if not stage_done("term_stats"):
        t0 = time.time()
        all_postings = spark.read.parquet(os.path.join(out_dir, "postings"))
        tstats = build_term_stats(all_postings)
        path = os.path.join(out_dir, "term_stats")
        tstats.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        ds = spark.read.parquet(os.path.join(out_dir, "doc_stats"))
        row = ds.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("tot")
        ).collect()[0]
        stats = CollectionStats(
            n_docs=int(row["n"] or 0),
            total_tokens=int(row["tot"] or 0),
            vocab_size=n,
        )
        with open(os.path.join(out_dir, "stats.json"), "w") as fh:
            json.dump(asdict(stats), fh)
        m["completed_stages"].append("term_stats")
        record("term_stats", t0, n)
    else:
        log("[checkpoint] term_stats: already complete, skipping")
    return m


def read_index(
    spark: SparkSession, out_dir: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    """Open a persisted index directory as an InvertedIndex handle."""
    with open(os.path.join(out_dir, "stats.json")) as fh:
        s = json.load(fh)
    return InvertedIndex(
        doc_stats=spark.read.parquet(os.path.join(out_dir, "doc_stats")),
        postings=spark.read.parquet(os.path.join(out_dir, "postings")),
        term_stats=spark.read.parquet(os.path.join(out_dir, "term_stats")),
        stats=CollectionStats(
            n_docs=s["n_docs"],
            total_tokens=s["total_tokens"],
            vocab_size=s["vocab_size"],
        ),
        config=cfg or IndexConfig(),
    )


def save_index_bucketed(
    index: InvertedIndex,
    table_prefix: str,
    n_buckets: int = 32,
) -> None:
    """Persist the index as Spark BUCKETED tables — postings and term
    stats bucketed AND sorted by ``term`` — so every future term-keyed
    operation (scoring joins, segment merges, term-stat re-aggs,
    posting self-joins) reads co-partitioned, pre-sorted data and
    plans with NO shuffle exchange and no per-join sort: the
    bucket-join fast path the 100 TB layout lives on (one shuffle at
    WRITE time buys zero shuffles on every subsequent read). Table
    metadata goes through the session catalog (``saveAsTable`` — plain
    ``parquet(path)`` writes cannot record bucketing); on a production
    lakehouse the same layout is a table-format bucket transform
    (e.g. an Iceberg ``bucket(N, term)`` partition spec — catalog jars
    absent in this sandbox, the Spark-catalog form is the same plan
    shape). doc_stats is doc-keyed and stays an unbucketed table."""
    (
        index.postings.write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_postings")
    )
    (
        index.term_stats.write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_term_stats")
    )
    (
        index.doc_stats.write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_doc_stats")
    )


def read_index_bucketed(
    spark: SparkSession,
    table_prefix: str,
    cfg: IndexConfig | None = None,
) -> InvertedIndex:
    """Open a bucketed-table index. Collection scalars are recomputed
    from the persisted tables (two scalar actions — the open-an-index
    path, same as collect_collection_stats)."""
    doc_stats = spark.table(f"{table_prefix}_doc_stats")
    postings = spark.table(f"{table_prefix}_postings")
    term_stats = spark.table(f"{table_prefix}_term_stats")
    from ..operators.indexer import collect_collection_stats

    return InvertedIndex(
        doc_stats=doc_stats,
        postings=postings,
        term_stats=term_stats,
        stats=collect_collection_stats(doc_stats, term_stats),
        config=cfg or IndexConfig(),
    )


def save_positional_bucketed(
    positional: DataFrame,
    table_name: str,
    n_buckets: int = 32,
) -> None:
    """Persist a positional (or compressed-positional) index as a
    Spark BUCKETED table, bucketed + sorted by ``term`` — the storage
    layout that makes the phrase/proximity family's dictionary
    filters prune at SCAN time: `term = x` / `term IN (...)`
    predicates enable Spark's bucket pruning, so a 3-term phrase
    query over a 100 TB positional store reads at most 3 of
    ``n_buckets`` buckets (the scan node reports
    ``SelectedBucketsCount: k out of N`` — plan-asserted in tests)
    instead of scanning the whole store to find its cells. Same
    catalog-table mechanics (and the same Iceberg bucket-transform
    equivalence) as ``save_index_bucketed``. NOTE: pruning requires
    the bucketed scan to survive planning — for filter-only plans
    Spark's DisableUnnecessaryBucketedScan rule drops it unless
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``
    (set by ``session.get_spark``)."""
    (
        positional.write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_events_partitioned(
    events: DataFrame,
    path: str,
    ts_col: str = "ts",
) -> None:
    """Date-partitioned event-log layout — the standard 100 TB log
    table shape: ``partitionBy(event_date)`` so every time-bounded
    query prunes whole directories at planning time (Hive-style
    partition pruning; the same idea as an Iceberg ``days(ts)``
    partition transform). Readers filter on ``event_date`` (or on
    ``ts`` AND ``event_date`` together — only the latter prunes)."""
    (
        events.withColumn(
            "event_date", F.date_format(F.col(ts_col), "yyyy-MM-dd")
        )
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
