#!/usr/bin/env python
"""Block-max WAND vs exhaustive scoring in the DISK-RESIDENT regime.

BENCH/BASELINE.md §3b measured the hot-cache case (postings persisted in
memory), where codegen'd exhaustive scoring wins. This harness measures
the regime WAND is designed for: postings NOT cached — every query batch
re-reads its index from parquet. Two effects matter there:

1. storage: the delta+varbyte blob table is a fraction of the flat
   postings' size, so the scan moves far fewer bytes;
2. lazy decode: WAND touches only blocks whose upper bound can beat the
   current heap floor.

Prints one JSON line with table sizes and min-of-reps timings for both
paths at two query mixes (high-df worst case; Zipf realistic mix).

Round 4 adds the SALTED multi-shard path at the same scale: a second
blob table built with target_postings_per_shard small enough that
``derive_num_salt_shards`` yields shards > 1 (every term's postings
uniformly doc-sharded by pmod(mix(doc_id), shards)), timed on the same
mixes, plus a single-query latency probe (1-shard vs S-shard blobs —
shard fan-out is the claimed intra-query parallelism knob) and the
kernel stage's per-task run-time quantiles pulled from the Spark UI
REST API as fan-out balance evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def kernel_task_summary(spark, since_ms: int) -> dict:
    """Per-task executorRunTime quantiles for the heaviest stage
    submitted after ``since_ms`` — the WAND kernel stage (it dominates
    task count x time in a score_queries_wand job). Local-mode UI REST;
    returns {} if the UI is disabled."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return {}
    app = spark.sparkContext.applicationId
    try:
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=complete"
            )
        )
    except Exception:
        return {}
    recent = [
        s
        for s in stages
        if s.get("firstTaskLaunchedTime")
        and _ms(s["firstTaskLaunchedTime"]) >= since_ms
    ]
    if not recent:
        return {}
    heaviest = max(recent, key=lambda s: s.get("executorRunTime", 0))
    try:
        summ = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages/"
                f"{heaviest['stageId']}/{heaviest['attemptId']}/taskSummary"
                "?quantiles=0.0,0.25,0.5,0.75,1.0"
            )
        )
        run_ms = summ.get("executorRunTime", [])
    except Exception:
        run_ms = []
    return {
        "stage_id": heaviest["stageId"],
        "num_tasks": heaviest.get("numTasks"),
        "stage_executor_run_ms": heaviest.get("executorRunTime"),
        "task_run_ms_quantiles_0_25_50_75_100": [
            round(q, 1) for q in run_ms
        ],
    }


def _ms(iso: str) -> int:
    """Spark REST timestamps like 2026-08-17T06:43:47.123GMT -> epoch ms."""
    from datetime import datetime, timezone

    s = iso.replace("GMT", "+0000")
    dt = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(dt.astimezone(timezone.utc).timestamp() * 1000)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=240_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default="/tmp/wand_disk_bench")
    # small enough that derive_num_salt_shards yields shards > 1 at the
    # default corpus size (max df ~= n_docs here: the Zipf head term is
    # in nearly every doc)
    ap.add_argument("--target-postings", type=int, default=32_000)
    args = ap.parse_args()

    from luc4ir_spark.functions.analysis import AnalyzerConfig
    from luc4ir_spark.operators import indexer as ix
    from luc4ir_spark.operators import retrieval as rt
    from luc4ir_spark.operators import wand as wd
    from luc4ir_spark.session import driver_memory, get_spark
    from luc4ir_spark.sources.corpus import (
        HIGH_DF_TOKENS,
        build_vocab,
        synth_corpus,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mem = driver_memory()
    spark = get_spark(
        app_name="wand_disk_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
            # the per-task run-time quantiles come from the UI REST API
            "spark.ui.enabled": "true",
        },
    )
    cfg = ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    flat_dir = os.path.join(args.out, "flat")
    blob_dir = os.path.join(args.out, "blobs")
    if not os.path.exists(os.path.join(args.out, "_built")):
        docs = synth_corpus(spark, args.docs, seed=42).withColumn(
            "doc_id", F.xxhash64(F.concat_ws("|", "repo", "path", "commit"))
        )
        idx = ix.build_index(docs, cfg)
        idx.postings.write.mode("overwrite").parquet(flat_dir)
        wd.build_compressed_postings(idx).write.mode("overwrite").parquet(
            blob_dir
        )
        idx.term_stats.write.mode("overwrite").parquet(
            os.path.join(args.out, "terms")
        )
        with open(os.path.join(args.out, "stats.json"), "w") as fh:
            json.dump(
                {
                    "n_docs": idx.stats.n_docs,
                    "total_tokens": idx.stats.total_tokens,
                    "vocab_size": idx.stats.vocab_size,
                },
                fh,
            )
        open(os.path.join(args.out, "_built"), "w").write("ok")
        for df in (idx.postings, idx.term_stats):
            df.unpersist()

    stats = json.load(open(os.path.join(args.out, "stats.json")))
    cstats = ix.CollectionStats(**stats)
    term_stats = spark.read.parquet(os.path.join(args.out, "terms"))

    # ---- salted multi-shard blob table (built from the on-disk flat
    # postings; only the IndexConfig differs — derive_num_salt_shards
    # turns the small target into shards > 1)
    cfg_sharded = ix.IndexConfig(
        analyzer=AnalyzerConfig(mode="simple"),
        target_postings_per_shard=args.target_postings,
    )
    blob_sharded_dir = os.path.join(args.out, "blobs_sharded")
    if not os.path.exists(os.path.join(args.out, "_built_sharded")):
        idx_b = ix.InvertedIndex(
            doc_stats=None,
            postings=spark.read.parquet(flat_dir),
            term_stats=term_stats,
            stats=cstats,
            config=cfg_sharded,
        )
        wd.build_compressed_postings(idx_b).write.mode(
            "overwrite"
        ).parquet(blob_sharded_dir)
        open(os.path.join(args.out, "_built_sharded"), "w").write("ok")
    idx_probe = ix.InvertedIndex(
        doc_stats=None, postings=None, term_stats=term_stats,
        stats=cstats, config=cfg_sharded,
    )
    n_shards = wd.derive_num_salt_shards(idx_probe)

    # two query mixes, 50 queries each; vocab is Zipf-ranked, so index
    # position ~ document frequency rank
    vocab = build_vocab(5000)
    mixes = {
        "worst_high_df": [
            (f"h{i}", " ".join(HIGH_DF_TOKENS[i % 10: i % 10 + 3]))
            for i in range(50)
        ],
        "zipf_mix": [
            (
                f"z{i}",
                f"{HIGH_DF_TOKENS[i % 10]}"
                f" {vocab[50 + (i * 13) % 400]}"
                f" {vocab[800 + (i * 31) % 2000]}",
            )
            for i in range(50)
        ],
    }

    timings: dict[str, dict[str, float]] = {}
    for mix_name, queries in mixes.items():
        qt = rt.queries_to_terms(
            spark, queries, cfg.analyzer
        ).persist()
        qt.count()
        t_ex, t_wd, t_wd_s = [], [], []
        kernel_stage = {}
        for _ in range(args.reps):
            # fresh reads every rep: nothing persisted, plan re-scans
            flat = spark.read.parquet(flat_dir)
            idx = ix.InvertedIndex(
                doc_stats=None, postings=flat, term_stats=term_stats,
                stats=cstats, config=cfg,
            )
            t0 = time.time()
            rt.score_queries(idx, qt, k=args.k).count()
            t_ex.append(time.time() - t0)

            idx.blobs = spark.read.parquet(blob_dir)
            t0 = time.time()
            wd.score_queries_wand(idx, qt, k=args.k).count()
            t_wd.append(time.time() - t0)

            # the salted path: same queries, S-shard blobs — every
            # (qid, salt) pair is an independent kernel task
            idx_s = ix.InvertedIndex(
                doc_stats=None, postings=flat, term_stats=term_stats,
                stats=cstats, config=cfg_sharded,
                blobs=spark.read.parquet(blob_sharded_dir),
            )
            since = int(time.time() * 1000)
            t0 = time.time()
            wd.score_queries_wand(idx_s, qt, k=args.k).count()
            t_wd_s.append(time.time() - t0)
            kernel_stage = kernel_task_summary(spark, since) or kernel_stage
        timings[mix_name] = {
            "exhaustive_min_s": round(min(t_ex), 3),
            "wand_min_s": round(min(t_wd), 3),
            "wand_sharded_min_s": round(min(t_wd_s), 3),
            "exhaustive_all": [round(t, 2) for t in t_ex],
            "wand_all": [round(t, 2) for t in t_wd],
            "wand_sharded_all": [round(t, 2) for t in t_wd_s],
            "sharded_kernel_stage": kernel_stage,
        }
        qt.unpersist()

    # ---- intra-query parallelism probe: ONE worst-case query, k=10 —
    # with 1-shard blobs the whole query is one kernel task; with S
    # shards its work fans out across S tasks
    single_q = rt.queries_to_terms(
        spark, [("sq0", " ".join(HIGH_DF_TOKENS[:3]))], cfg.analyzer
    ).persist()
    single_q.count()
    t_one, t_shard = [], []
    for _ in range(max(args.reps, 3)):
        flat = spark.read.parquet(flat_dir)
        idx1 = ix.InvertedIndex(
            doc_stats=None, postings=flat, term_stats=term_stats,
            stats=cstats, config=cfg,
            blobs=spark.read.parquet(blob_dir),
        )
        t0 = time.time()
        wd.score_queries_wand(idx1, single_q, k=args.k).count()
        t_one.append(time.time() - t0)
        idxs = ix.InvertedIndex(
            doc_stats=None, postings=flat, term_stats=term_stats,
            stats=cstats, config=cfg_sharded,
            blobs=spark.read.parquet(blob_sharded_dir),
        )
        t0 = time.time()
        wd.score_queries_wand(idxs, single_q, k=args.k).count()
        t_shard.append(time.time() - t0)
    single_query = {
        "one_shard_min_s": round(min(t_one), 3),
        "sharded_min_s": round(min(t_shard), 3),
        "one_shard_all": [round(t, 2) for t in t_one],
        "sharded_all": [round(t, 2) for t in t_shard],
    }

    print(json.dumps({
        "metric": "wand_disk_regime",
        "docs": stats["n_docs"],
        "flat_postings_bytes": dir_bytes(flat_dir),
        "blob_bytes": dir_bytes(blob_dir),
        "blob_sharded_bytes": dir_bytes(blob_sharded_dir),
        "n_shards": n_shards,
        "target_postings_per_shard": args.target_postings,
        "k": args.k,
        "mixes": timings,
        "single_query": single_query,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
