"""Structured Streaming incremental index maintenance.

The reference is strictly batch (no streaming anywhere; SURVEY §2.9).
This module adds the streaming ingest a living corpus needs: new
document files land in a directory, a Structured Streaming query
tokenizes each micro-batch and writes its postings/doc-stat rows into a
``batch_id=<id>``-partitioned parquet layout via ``foreachBatch``.

Exactly-once RESULT from at-least-once delivery: foreachBatch may replay
a batch after a failure between the sink write and the checkpoint
commit, so each write targets the batch's own partition with DYNAMIC
partition overwrite — a replay overwrites the partial partition instead
of appending duplicates, making the write idempotent per batch id.

Per-batch partitions are sound because (term, doc_id) pairs from new
docs never collide with old ones (doc ids are unique); term-level
statistics (df/cf/N/avgdl) are recomputed lazily at query time from the
union — the same "segments + merge-on-read" shape Lucene uses, with the
streaming micro-batch as the segment."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexer import (
    IndexConfig,
    InvertedIndex,
    build_term_stats,
    collect_collection_stats,
    derive_doc_stats,
    derive_postings,
)

DOC_SCHEMA = "doc_id long, content string"


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent micro-batch write: the batch's rows land in their own
    ``batch_id=<id>`` partition under dynamic overwrite, so a foreachBatch
    replay (failure after write, before checkpoint commit) overwrites the
    partial partition instead of double-appending."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def write_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    cfg: IndexConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> None:
    """One micro-batch -> postings + doc_stats partitions, derived as
    every other build derives them (``derive_postings`` /
    ``derive_doc_stats``; module-level so replay idempotence is directly
    testable)."""
    if batch_df.isEmpty():
        return
    flat = derive_postings(batch_df, cfg.analyzer, id_col, content_col)
    _write_batch_partition(
        flat, os.path.join(index_dir, "postings"), batch_id
    )
    ds = derive_doc_stats(batch_df, flat, id_col, content_col)
    _write_batch_partition(
        ds, os.path.join(index_dir, "doc_stats"), batch_id
    )


def start_incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    content_col: str = "content",
    schema: str = DOC_SCHEMA,
):
    """Start the streaming query: parquet files arriving in ``input_dir``
    are incrementally tokenized into ``index_dir/{postings,doc_stats}``.
    Returns the StreamingQuery (caller manages lifecycle)."""
    cfg = cfg or IndexConfig()
    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_index_batch(
            batch_df, batch_id, index_dir, cfg, id_col, content_col
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(index_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def open_incremental_index(
    spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    """Open the streaming-maintained tables as a queryable index;
    term/collection stats recomputed from the current union (merge-on-
    read)."""
    postings = spark.read.parquet(
        os.path.join(index_dir, "postings")
    ).drop("batch_id")
    doc_stats = spark.read.parquet(
        os.path.join(index_dir, "doc_stats")
    ).drop("batch_id")
    term_stats = build_term_stats(postings)
    return InvertedIndex(
        doc_stats=doc_stats,
        postings=postings,
        term_stats=term_stats,
        stats=collect_collection_stats(doc_stats, term_stats),
        config=cfg or IndexConfig(),
    )
