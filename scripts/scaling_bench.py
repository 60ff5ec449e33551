#!/usr/bin/env python
"""Two-parallelism scaling evidence for the north rule.

The rule requires >=0.8 throughput scaling efficiency between N and 4N
executor clusters; this sandbox is one machine, so the stand-in (per the
build instructions) is the same job at local[8] vs local[32] on
identical input: efficiency = (throughput_32 / throughput_8) / 4.

Caveat measured and reported alongside: this VM's vCPUs time-share —
a pure-CPU multiprocessing burn (no Spark, no JVM) already loses ~28%
per-core throughput going 8 -> 32 workers, capping ANY job's achievable
efficiency at ~0.72 here. We therefore report both the absolute
efficiency and the efficiency relative to that measured hardware
ceiling (which is what would transfer to a real 4x-executor cluster).

Workloads (north-rule corpus, (repo,path,commit,lang,content) shape):
  extract   tokenize + per-doc tf extraction (the dominant index-build
            stage): Arrow kernel, no shuffle
  build     full index build (extract + term shuffle + stats)
  query     50 BM25 queries x k=1000 over the built index
  wand      same queries through the block-max WAND kernel path
  dedup     MinHash-LSH near-dup pass (16 hashes / 2 bands, 5%
            injected near-dup fraction) — the round-4 single-shuffle
            plan shape

Each (workload, cpus) measurement runs in its own subprocess (one
SparkSession per JVM), repeated --reps times; medians are reported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS_DEFAULT = 360_000


def raw_cpu_ceiling(low: int, high: int) -> dict:
    """Pure-python multiprocessing burn: the machine's own scaling."""
    import multiprocessing as mp

    def measure(n: int) -> float:
        with mp.Pool(n) as p:
            res = p.map(_burn, range(n))
        return sum(res)

    lo = measure(low)
    hi = measure(high)
    return {
        "low_iters": lo,
        "high_iters": hi,
        "raw_speedup": round(hi / lo, 3),
        "raw_efficiency": round((hi / lo) / (high / low), 3),
    }


def _burn(_: int) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2.0:
        x += 1
    return x


def _calibrate(cpus: int) -> float:
    """1-second single-core burn — records how fast THIS moment's CPU is
    so externally-inflated reps can be identified post hoc."""
    t0 = time.time()
    x = 0
    while time.time() - t0 < 1.0:
        x += 1
    return x / 1e6


def _calibrate_alloc(mb: int = 256) -> float:
    """Touch ``mb`` MiB of freshly-allocated pages; returns MiB/s.

    Detects the host page-backing collapse mode the pure-CPU probe is
    blind to (observed 2026-08-18: backing 4 GiB took 118 s — ~35 MiB/s
    vs the healthy multi-GiB/s — while _calibrate read a clean 8.3+).
    Any Spark measurement taken in such a window is invalid: every
    stage's cost is dominated by faulting fresh executor/shuffle pages,
    and scaling efficiency collapses for reasons that have nothing to
    do with the job."""
    import numpy as np

    t0 = time.time()
    np.ones(mb * 131_072, dtype=np.int64)  # 8 B × 131072 = 1 MiB
    return round(mb / (time.time() - t0), 1)


def stage_metrics(spark, since_ms: int) -> list[dict]:
    """Per-stage executor metrics (run time, GC, shuffle bytes) for
    stages whose first task launched after ``since_ms`` — the scaling
    attribution evidence (which stage anti-scales, and is it GC or
    shuffle). Needs spark.ui.enabled; returns [] otherwise."""
    import urllib.request
    from datetime import datetime, timezone

    base = spark.sparkContext.uiWebUrl
    if not base:
        return []
    app = spark.sparkContext.applicationId
    try:
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=complete"
            )
        )
    except Exception:
        return []

    def ms(iso: str) -> int:
        dt = datetime.strptime(
            iso.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        )
        return int(dt.astimezone(timezone.utc).timestamp() * 1000)

    out = []
    for s in stages:
        t = s.get("firstTaskLaunchedTime")
        if not t or ms(t) < since_ms:
            continue
        out.append(
            {
                "stage_id": s["stageId"],
                "name": s.get("name", "")[:80],
                "num_tasks": s.get("numTasks"),
                "executor_run_ms": s.get("executorRunTime"),
                "jvm_gc_ms": s.get("jvmGcTime"),
                "shuffle_read_mb": round(
                    s.get("shuffleReadBytes", 0) / 1e6, 1
                ),
                "shuffle_write_mb": round(
                    s.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
            }
        )
    return sorted(out, key=lambda s: -s["executor_run_ms"])[:8]


ALL_WORKLOADS = ("extract", "build", "query", "wand", "dedup")


def run_child(
    cpus: int,
    n_docs: int,
    profile: bool = False,
    workloads: tuple[str, ...] = ALL_WORKLOADS,
) -> dict:
    from pyspark.sql import functions as F

    from luc4ir_spark.functions.analysis import AnalyzerConfig
    from luc4ir_spark.operators import indexer as ix
    from luc4ir_spark.operators import retrieval as rt
    from luc4ir_spark.session import driver_memory, get_spark
    from luc4ir_spark.sources.corpus import HIGH_DF_TOKENS, synth_corpus

    # IDENTICAL job shape at both parallelism levels: same input
    # partition count, same shuffle partition count — only the number
    # of executor threads differs (the "same input, two cluster sizes"
    # contract of the north rule).
    parts = 128
    spark = get_spark(
        app_name=f"scaling_bench_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # pin + pre-touch the heap: G1 heap-growth dynamics caused
            # 2-3x run-to-run variance on identical 32-thread builds
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_memory()}"
                " -XX:+AlwaysPreTouch"
            ),
            # stage-metric capture for --profile attribution
            "spark.ui.enabled": "true" if profile else "false",
        },
    )
    cfg = AnalyzerConfig(mode="english")
    docs = synth_corpus(spark, n_docs, seed=42, num_partitions=parts)
    docs = docs.withColumn(
        "doc_id", F.xxhash64(F.concat_ws("|", "repo", "path", "commit"))
    ).persist()
    docs.count()  # corpus materialized OUTSIDE all timed windows

    # warm the python workers (cold fork+import otherwise lands in rep 1)
    ix.extract_postings_arrow(docs.limit(2000), cfg).count()

    res: dict = {}
    prof: dict = {}

    if "extract" in workloads:
        t0 = time.time()
        res["n_rows"] = ix.extract_postings_arrow(docs, cfg).count()
        res["extract_sec"] = round(time.time() - t0, 3)
        if profile:
            prof["extract_stages"] = stage_metrics(spark, int(t0 * 1000))

    # query + wand need the built index even when "build" isn't timed
    idx = None
    if {"build", "query", "wand"} & set(workloads):
        t0 = time.time()
        idx = ix.build_index(docs, ix.IndexConfig(analyzer=cfg))
        res["n_postings"] = idx.postings.count()
        if "build" in workloads:
            res["build_sec"] = round(time.time() - t0, 3)
            if profile:
                prof["build_stages"] = stage_metrics(spark, int(t0 * 1000))

    queries = [
        (f"s{i}", " ".join(HIGH_DF_TOKENS[i % 10 : i % 10 + 3]))
        for i in range(50)
    ]
    qt = rt.queries_to_terms(spark, queries, cfg) if idx is not None else None

    if "query" in workloads:
        rt.score_queries(idx, qt.limit(3), k=10).count()  # warm
        t0 = time.time()
        res["n_run_rows"] = rt.score_queries(idx, qt, k=1000).count()
        res["query_sec"] = round(time.time() - t0, 3)
        if profile:
            prof["query_stages"] = stage_metrics(spark, int(t0 * 1000))

    if "dedup" in workloads:
        # MinHash-LSH near-dup pass over the same corpus: signature
        # projection + ONE repartition shuffle + alias self-join +
        # inline verify (the round-4 single-shuffle plan shape). A 5%
        # injected near-dup fraction (copy + one extra token => jaccard
        # n/(n+1) >= 0.95 for docs with >= 19 distinct tokens) keeps the
        # TRUE-pair count linear in n_docs so the timing measures the
        # operator, not a quadratic pair-emit.
        from luc4ir_spark.operators import dedup as dd

        tok = F.array_remove(
            F.split(F.lower(F.col("content")), r"[^a-z0-9_']+"), ""
        )
        base_tok = docs.select("doc_id", tok.alias("tokens"))
        dup_tok = (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
            .select(
                (-F.col("doc_id")).alias("doc_id"),
                F.concat(tok, F.array(F.lit("neardupmarker"))).alias(
                    "tokens"
                ),
            )
        )
        corpus_tok = base_tok.unionByName(dup_tok)

        def _dedup_pass():
            return dd.minhash_lsh_pairs(
                corpus_tok, num_hashes=16, band_size=8, threshold=0.95
            ).count()

        dd.minhash_lsh_pairs(
            base_tok.limit(2000), num_hashes=16, band_size=8,
            threshold=0.95,
        ).count()  # warm
        t0 = time.time()
        res["n_dedup_pairs"] = _dedup_pass()
        res["dedup_sec"] = round(time.time() - t0, 3)
        if profile:
            prof["dedup_stages"] = stage_metrics(spark, int(t0 * 1000))

    if "wand" in workloads:
        # pruned query path: block-max WAND kernels over pre-built
        # blobs — per-(qid, salt) numpy tasks, the query-time scaling
        # twin of the Arrow extract stage (blob build excluded from the
        # timed window)
        from luc4ir_spark.operators import wand as wd

        idx.blobs = wd.build_compressed_postings(idx).persist()
        idx.blobs.count()
        wd.score_queries_wand(idx, qt.limit(3), k=10).count()  # warm
        t0 = time.time()
        res["n_wand_rows"] = wd.score_queries_wand(idx, qt, k=1000).count()
        res["wand_sec"] = round(time.time() - t0, 3)

    spark.stop()
    return {
        "cpus": cpus,
        **prof,
        "calib_m_iters": round(_calibrate(cpus), 2),
        "calib_alloc_mb_s": _calibrate_alloc(),
        "n_docs": n_docs,
        **res,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", type=int, default=None)
    ap.add_argument("--docs", type=int, default=N_DOCS_DEFAULT)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--profile", action="store_true",
                    help="record per-stage REST metrics (GC, shuffle)")
    ap.add_argument("--workloads", default=",".join(ALL_WORKLOADS),
                    help="comma list from extract,build,query,wand — "
                         "lets a session re-measure just the short "
                         "workloads at larger --docs")
    args = ap.parse_args()
    workloads = tuple(
        w for w in args.workloads.split(",") if w in ALL_WORKLOADS
    )

    if args.child is not None:
        print(
            "CHILD_JSON "
            + json.dumps(
                run_child(args.child, args.docs, args.profile, workloads)
            )
        )
        return

    ceiling = raw_cpu_ceiling(args.low, args.high)  # before any JVM load
    runs: dict[int, list[dict]] = {args.low: [], args.high: []}
    # interleave reps so machine-state drift hits both levels equally
    for rep in range(args.reps):
        for cpus in (args.low, args.high):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--child", str(cpus), "--docs", str(args.docs),
                   "--workloads", ",".join(workloads)]
            if args.profile:
                cmd.append("--profile")
            proc = subprocess.run(
                cmd,
                capture_output=True, text=True, cwd=REPO, timeout=3000,
                env={**os.environ, "SPARK_DRIVER_MEM": "48g"},
            )
            lines = [
                l for l in proc.stdout.splitlines()
                if l.startswith("CHILD_JSON ")
            ]
            if not lines:
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
                raise SystemExit(f"child local[{cpus}] rep {rep} failed")
            runs[cpus].append(json.loads(lines[-1][len("CHILD_JSON "):]))

    ratio = args.high / args.low

    def med(cpus: int, key: str) -> float:
        return statistics.median(r[key] for r in runs[cpus])

    def best(cpus: int, key: str) -> float:
        # min-of-reps: the noise-robust estimator on a shared VM — any
        # external interference only ever inflates a run's wall time
        return min(r[key] for r in runs[cpus])

    out: dict = {
        "metric": "scaling_efficiency",
        "docs": args.docs,
        "reps": args.reps,
        "low_cpus": args.low,
        "high_cpus": args.high,
        "raw_cpu_ceiling": ceiling,
        "workloads": {},
        "all_runs": runs,
    }
    for wl in ALL_WORKLOADS:
        if any(f"{wl}_sec" not in r for rs in runs.values() for r in rs):
            continue
        lo, hi = med(args.low, f"{wl}_sec"), med(args.high, f"{wl}_sec")
        blo, bhi = best(args.low, f"{wl}_sec"), best(args.high, f"{wl}_sec")
        speedup = lo / hi
        speedup_min = blo / bhi
        out["workloads"][wl] = {
            "low_sec_median": round(lo, 3),
            "high_sec_median": round(hi, 3),
            "low_sec_min": round(blo, 3),
            "high_sec_min": round(bhi, 3),
            "speedup_median": round(speedup, 3),
            "efficiency_median": round(speedup / ratio, 3),
            "speedup_min": round(speedup_min, 3),
            "efficiency_min": round(speedup_min / ratio, 3),
            "efficiency_min_vs_hw_ceiling": round(
                speedup_min / ceiling["raw_speedup"], 3
            ),
            "low_docs_per_sec": round(args.docs / blo, 1),
            "high_docs_per_sec": round(args.docs / bhi, 1),
        }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
