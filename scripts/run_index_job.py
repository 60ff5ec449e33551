#!/usr/bin/env python
"""Cluster entry point: build (resumably) and query the inverted index.

Submit (the north-rule invocation shape):

    cd <repo-root>   # so luc4ir_spark resolves for the zip builder
    spark-submit \\
      --py-files $(python -m luc4ir_spark.deploy) \\
      scripts/run_index_job.py \\
      --input  /data/corpus_parquet   \\   # (repo,path,commit,lang,content)
      --index  /data/index_out        \\
      --queries /data/queries.tsv     \\   # qid \\t text
      --run-out /data/run.txt --k 1000 --slices 64

On a real cluster the SparkSession comes from spark-submit's conf
(executors, memory, shuffle partitions); locally it falls back to
local[$SPARK_GRAFT_CPUS]. The build is checkpoint-resumable: rerunning
after a failure skips the completed stages (plans/checkpoints.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--run-out", default=None)
    ap.add_argument("--k", type=int, default=1000)
    ap.add_argument("--slices", type=int, default=64)
    ap.add_argument("--analyzer", default="english",
                    choices=["english", "standard", "simple", "whitespace"])
    ap.add_argument("--stopfile", default=None)
    ap.add_argument("--k1", type=float, default=0.7)
    ap.add_argument("--b", type=float, default=0.3)
    ap.add_argument("--wand", action="store_true",
                    help="use block-max WAND over compressed postings")
    ap.add_argument("--run-name", default="luc4ir_spark")
    args = ap.parse_args()

    from luc4ir_spark.functions.analysis import make_config
    from luc4ir_spark.operators.indexer import IndexConfig
    from luc4ir_spark.operators import retrieval as rt
    from luc4ir_spark.plans.checkpoints import (
        build_index_checkpointed,
        read_index,
    )
    from luc4ir_spark.session import get_spark
    from luc4ir_spark.sources import trec

    spark = SparkSession.getActiveSession() or get_spark("luc4ir_spark_job")
    acfg = make_config(mode=args.analyzer, stopwords=args.stopfile)
    cfg = IndexConfig(analyzer=acfg)

    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns:
        from luc4ir_spark.operators.indexer import assign_doc_ids

        key = [c for c in ("repo", "path", "commit") if c in docs.columns]
        docs = assign_doc_ids(docs, key or [docs.columns[0]])
    content_col = "content" if "content" in docs.columns else "text"

    t0 = time.time()
    manifest = build_index_checkpointed(
        docs, args.index, cfg, content_col=content_col,
        num_slices=args.slices,
    )
    print(json.dumps({
        "stage": "build", "seconds": round(time.time() - t0, 2),
        "rows": {s: v["rows"] for s, v in manifest["metrics"].items()},
    }))

    if args.queries:
        idx = read_index(spark, args.index, cfg)
        qdf = trec.read_tsv_queries(spark, args.queries).collect()
        qt = rt.queries_to_terms(
            spark, [(r["qid"], r["title"]) for r in qdf], acfg
        )
        sim = rt.Similarity(k1=args.k1, b=args.b)
        t0 = time.time()
        if args.wand:
            from luc4ir_spark.operators.wand import score_queries_wand

            run = score_queries_wand(idx, qt, k=args.k, sim=sim)
        else:
            run = rt.score_queries(idx, qt, k=args.k, sim=sim)
        trec_run = rt.to_trec_run(run, args.run_name)
        if args.run_out:
            trec.write_run(trec_run, args.run_out)
        n = trec_run.count()
        print(json.dumps({
            "stage": "retrieve", "rows": n,
            "seconds": round(time.time() - t0, 2),
        }))


if __name__ == "__main__":
    main()
