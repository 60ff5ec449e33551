#!/usr/bin/env python
"""Per-stage breakdown of the slow bench.py workloads (guide §1: time
the computation with noop-style isolation, label jobs). NOT the graded
bench — bench.py is frozen; this file exists so optimization claims in
OPTIMIZATION_r06.md cite isolated stage numbers.

Usage: python scripts/bench_extra.py [workload ...]
Workloads: minhash, phrase, neardup, linkgraph, bm25, wand, build
Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS / $SPARK_GRAFT_REPS.
Prints one JSON line: {"stages": {name: [sec, ...]}, ...}
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig
from luc4ir_spark.operators import annsearch as ann
from luc4ir_spark.operators import dedup as dd
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import retrieval as rt
from luc4ir_spark.operators import wand as wd
from luc4ir_spark.session import driver_memory, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

stages: dict[str, list[float]] = {}


def timed(name, fn):
    out = None
    for _ in range(REPS):
        t0 = time.time()
        out = fn()
        stages.setdefault(name, []).append(round(time.time() - t0, 3))
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    which = set(sys.argv[1:]) or {"minhash", "phrase"}
    mem = driver_memory()
    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch"
        },
    )
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs = docs.persist()
    docs.count()

    if "minhash" in which:
        tokens = docs.select(
            "doc_id",
            F.array_remove(
                F.split(F.lower("text"), "[^a-z0-9]+"), ""
            ).alias("tokens"),
        )

        def mh_keyed_only():
            sc.setJobDescription("minhash: banding+window+checkpoint")
            keyed, n_bands = dd._band_keyed(tokens, "tokens", 16, 8, 1)
            capped = dd._windowed_bucket_chunks(
                keyed, ["band", "bucket"], "doc_id", 100_000, None, "x"
            )
            n = capped.count()
            sc.setJobDescription(None)
            return n

        timed("minhash_keyed", mh_keyed_only)

        def mh_full():
            sc.setJobDescription("minhash: full pairs")
            n = dd.minhash_lsh_pairs(
                tokens, num_hashes=16, band_size=8, threshold=0.95
            ).count()
            sc.setJobDescription(None)
            return n

        timed("minhash_full", mh_full)

    if "phrase" in which:
        def ph_tokenize_build():
            sc.setJobDescription("phrase: positional build")
            toks = ix.tokenize(
                docs, AnalyzerConfig(mode="simple"),
                id_col="doc_id", content_col="text",
            )
            pos = ix.build_positional_postings(toks).persist()
            pos.count()
            sc.setJobDescription(None)
            return pos

        pos = None
        for _ in range(REPS):
            if pos is not None:
                pos.unpersist()
            t0 = time.time()
            pos = ph_tokenize_build()
            stages.setdefault("phrase_pos_build", []).append(
                round(time.time() - t0, 3)
            )

        def ph_compress():
            sc.setJobDescription("phrase: compress positional")
            cpos = ix.compress_positional_postings(pos).persist()
            cpos.count()
            sc.setJobDescription(None)
            return cpos

        cpos = None
        for _ in range(REPS):
            if cpos is not None:
                cpos.unpersist()
            t0 = time.time()
            cpos = ph_compress()
            stages.setdefault("phrase_compress", []).append(
                round(time.time() - t0, 3)
            )

        def ph_queries():
            sc.setJobDescription("phrase: 3 queries")
            a = rt.phrase_query_compressed(
                cpos, ["slow", "hash", "batch"]
            ).count()
            b = rt.phrase_query_compressed(
                cpos, ["slow", "hash", "batch"], window=6
            ).count()
            c = rt.unordered_window_query(
                pos, ["slow", "hash", "batch"], window=6
            ).count()
            sc.setJobDescription(None)
            return a + b + c

        timed("phrase_queries", ph_queries)

        def ph_q_exact_only():
            sc.setJobDescription("phrase: exact only")
            n = rt.phrase_query_compressed(
                cpos, ["slow", "hash", "batch"]
            ).count()
            sc.setJobDescription(None)
            return n

        timed("phrase_q_exact", ph_q_exact_only)

        def ph_q_uw_only():
            sc.setJobDescription("phrase: unordered only")
            n = rt.unordered_window_query(
                pos, ["slow", "hash", "batch"], window=6
            ).count()
            sc.setJobDescription(None)
            return n

        timed("phrase_q_uw", ph_q_uw_only)

    if "neardup" in which:
        emb = spark.read.parquet(
            os.path.join(SF_DIR, "embeddings.parquet")
        ).persist()
        emb.count()

        def nd_full():
            sc.setJobDescription("neardup: full")
            n = ann.lsh_near_dup_pairs(emb, threshold=0.9).count()
            sc.setJobDescription(None)
            return n

        timed("neardup_full", nd_full)

        def nd_fixed_planes():
            sc.setJobDescription("neardup: pinned planes (no derive)")
            n = ann.lsh_near_dup_pairs(
                emb, threshold=0.9, n_planes=8
            ).count()
            sc.setJobDescription(None)
            return n

        timed("neardup_pinned", nd_fixed_planes)

    if "linkgraph" in which:
        from luc4ir_spark.operators import graph as gr

        ids = docs.select("doc_id")
        n_ids = ids.count()

        def lg_edges():
            sc.setJobDescription("linkgraph: edges+pagerank")
            edges = gr.synthetic_link_graph(ids, n_ids)
            return gr.pagerank_regular_exact(
                ids, edges, n_ids, n_iter=3, id_col="doc_id"
            ).count()

        timed("linkgraph_pagerank", lg_edges)

        def lg_lp():
            sc.setJobDescription("linkgraph: link prediction")
            edges = gr.synthetic_link_graph(ids, n_ids)
            return gr.link_prediction_pairs(edges, min_common=2).count()

        timed("linkgraph_linkpred", lg_lp)

        def lg_tri():
            sc.setJobDescription("linkgraph: triangles")
            edges = gr.synthetic_link_graph(ids, n_ids)
            return gr.triangle_count(edges).count()

        timed("linkgraph_triangles", lg_tri)

    if "bm25" in which or "wand" in which or "build" in which:
        cfg = ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))

        def build():
            sc.setJobDescription("index build simple")
            idx = ix.build_index(docs, cfg, content_col="text")
            idx.postings.count()
            sc.setJobDescription(None)
            return idx

        idx = None
        for _ in range(REPS):
            if idx is not None:
                idx.postings.unpersist()
                idx.term_stats.unpersist()
            t0 = time.time()
            idx = build()
            stages.setdefault("index_build", []).append(
                round(time.time() - t0, 3)
            )

        if "bm25" in which or "wand" in which:
            from bench import make_queries

            qt = rt.queries_to_terms(
                spark, make_queries(50), AnalyzerConfig(mode="simple")
            ).persist()
            qt.count()

            if "bm25" in which:
                def bm25():
                    sc.setJobDescription("bm25 batch")
                    n = rt.score_queries(idx, qt, k=1000).count()
                    sc.setJobDescription(None)
                    return n

                timed("bm25_batch", bm25)

            if "wand" in which:
                def compress():
                    sc.setJobDescription("compress postings")
                    idx.blobs = wd.build_compressed_postings(idx).persist()
                    return idx.blobs.count()

                timed("compress", compress)

                def wand():
                    sc.setJobDescription("wand batch")
                    n = wd.score_queries_wand(idx, qt, k=1000).count()
                    sc.setJobDescription(None)
                    return n

                timed("wand_batch", wand)

    print(json.dumps({
        "sf_dir": SF_DIR, "cpus": CPUS, "reps": REPS, "stages": stages,
        "mins": {k: min(v) for k, v in stages.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
