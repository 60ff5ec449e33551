"""Resumable, checkpointed index builds with lineage + per-stage metrics.

The reference rebuilds its index from scratch every run (OpenMode.CREATE,
reference: indexing/TrecDocIndexer.java:154-155) — a non-starter for a
10^12-file corpus where a build is hours of cluster time and ANY restart
must not redo finished work. This module adds what the reference lacks:

- postings, doc_stats and term_stats come from the same derivations as
  ``build_index`` (operators/indexer.py ``derive_postings``,
  ``derive_doc_stats``, ``build_term_stats``, ``derive_collection_stats``):
  the flat postings are the one persisted table, every stage reads it,
  no written table is read back, and the flat is unpersisted on every
  exit, so a build leaves nothing cached in the session;
- each table is written once, by one job: ``doc_stats/``, then
  ``postings/`` partitioned into ``num_slices`` term-hash slices
  (``slice=<i>/`` = pmod(xxhash64(term), num_slices) — a read layout,
  not a unit of resume), then ``term_stats/`` with ``stats.json``;
- a JSON manifest records lineage (input fingerprint, config hash,
  slice count), the completed prefix of those three stages and each
  stage's row count — nothing timing-dependent, so two builds of the
  same input write byte-identical manifests;
- a restart verifies lineage, SKIPS the completed prefix, and redoes
  every stage from the first one not done. Spark's commit protocol makes
  each stage's single write all-or-nothing, and a stage's write
  overwrites its whole directory, so a crash mid-stage leaves nothing
  behind that the rerun could read — the final tables equal a
  single-shot build's;
- changing the input or the config invalidates the manifest (fingerprint
  mismatch -> fresh build), so a stale checkpoint can never leak into a
  new index.
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
    derive_collection_stats,
    derive_doc_stats,
    derive_postings,
)

MANIFEST = "manifest.json"
STAGES = ("doc_stats", "postings", "term_stats")
# the on-disk postings columns, ``slice`` read from the partition paths;
# declared so an empty index (no slice directory at all) still opens
POSTINGS_SCHEMA = "term string, doc_id long, tf int, doc_len long, slice int"


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
    """Cheap but strong lineage, one aggregate job: row count + SUM of
    row content hashes (order- and partitioning-insensitive). The sum
    runs in decimal(38,0), which holds 10^19 rows' worth of 64-bit
    hashes, so it cannot overflow under ANSI mode; an XOR would let any
    row that occurs an even number of times cancel out."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(
                F.col(id_col).cast("string"), F.col(content_col)
            ).cast("decimal(38,0)")
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
        out_dir/manifest.json         lineage + completed stages + rows
    """
    cfg = cfg or IndexConfig()
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
        m = {"lineage": lineage, "completed_stages": [], "metrics": {}}
    # the manifest records the completed prefix of STAGES; every stage
    # from the first one not done is redone
    start = len(m["completed_stages"])
    for name in STAGES[:start]:
        log(f"[checkpoint] {name}: already complete, skipping")
    if start == len(STAGES):
        return m
    n_docs = lineage["input"]["n_rows"]

    # the one parse: every stage reads this persisted table; the build
    # owns it and unpersists it on every exit
    flat = derive_postings(docs, cfg.analyzer, id_col, content_col).persist()

    def write_doc_stats() -> int:
        ds = derive_doc_stats(docs, flat, id_col, content_col)
        ds.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_stats"))
        return n_docs  # the left join keeps exactly one row per input row

    def write_postings() -> int:
        # one job writes every slice; overwrite replaces the whole
        # directory, so no slice of an earlier layout or crash survives
        slice_of = F.pmod(F.xxhash64("term"), F.lit(num_slices)).cast("int")
        (
            flat.withColumn("slice", slice_of)
            .write.mode("overwrite")
            .partitionBy("slice")
            .parquet(os.path.join(out_dir, "postings"))
        )
        return flat.count()

    def write_term_stats() -> int:
        tstats = build_term_stats(flat)
        tstats.write.mode("overwrite").parquet(
            os.path.join(out_dir, "term_stats")
        )
        stats = derive_collection_stats(tstats, n_docs)
        with open(os.path.join(out_dir, "stats.json"), "w") as fh:
            json.dump(asdict(stats), fh)
        return stats.vocab_size

    writes = (write_doc_stats, write_postings, write_term_stats)
    try:
        for name, write in zip(STAGES[start:], writes[start:]):
            t0 = time.time()
            rows = write()
            m["completed_stages"].append(name)
            m["metrics"][name] = {"rows": rows}
            _save_manifest(out_dir, m)
            log(f"[checkpoint] {name}: {rows} rows in {time.time() - t0:.2f}s")
    finally:
        flat.unpersist()
    return m


def read_index(
    spark: SparkSession, out_dir: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    """Open a persisted index directory as an InvertedIndex handle."""
    with open(os.path.join(out_dir, "stats.json")) as fh:
        s = json.load(fh)
    postings = spark.read.schema(POSTINGS_SCHEMA).parquet(
        os.path.join(out_dir, "postings")
    )
    return InvertedIndex(
        doc_stats=spark.read.parquet(os.path.join(out_dir, "doc_stats")),
        postings=postings,
        term_stats=spark.read.parquet(os.path.join(out_dir, "term_stats")),
        stats=CollectionStats(**s),
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
