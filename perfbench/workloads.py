"""The workloads: ingest and trec_run.

A workload's life in one run: ``make_inputs`` (the benchmark's own work,
untimed), ``setup_rep`` (read inputs and build what the operations need;
timed into setup_s), then timed ``op`` calls, each preceded by an untimed
``prepare`` and followed by an untimed ``after_op``, then ``finish``
(checks that need the session, after the clock stops), and last
``check``, which compares every output with computations made apart from
the engine. ``op`` returns a record of what it produced and how much work
it did; the runner times it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .procstat import tree_cpu_s

K1, B = 0.7, 0.3


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def cached_bytes(spark) -> int:
    """Bytes Spark's block manager holds for persisted data."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


@dataclass
class OpRecord:
    """What one operation produced. ``phases`` maps "docs" and "queries"
    to the (seconds, cpu seconds) of the part of the op that indexed
    ``docs`` documents or answered ``queries`` topics, so ingest can time
    its build and its probe queries apart. An op that indexes nothing
    has no "docs" phase."""

    docs: int = 0
    queries: int = 0
    phases: dict = field(default_factory=dict)
    data: dict = field(default_factory=dict)


class Workload:
    name = ""
    setup_reps = 9
    # a timed round: the same ops in every run, whatever its length. The
    # first timed op of a young JVM often runs 10-30 % slower than the
    # next, and the run's rates are medians over its ops, so three where
    # they are cheap enough.
    ops_per_round = 3

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        # (documents, (seconds, cpu seconds)) of each index build in
        # set-up; the indexing rate of a workload whose ops index nothing
        self.setup_builds: list[tuple[int, tuple[float, float]]] = []

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def make_inputs(self) -> None: ...

    def setup_rep(self) -> None: ...

    def prepare(self, i: int): return i

    def op(self, prep) -> OpRecord: ...

    def after_op(self, rec: OpRecord) -> None: ...

    def finish(self) -> None: ...

    def check(self) -> None: ...

    def index_bytes_per_input_byte(self) -> float: ...


# ----------------------------------------------------------------- ingest

SHARD_DOCS = 100
NUM_SLICES = 2
# 20 fixed, seed-independent probe topics of head identifiers (Zipf
# ranks 1-60) and language keywords, which every shard holds
_PROBE_KW = ("return", "function", "struct", "import", "class", "const",
             "public", "static", "match", "yield")
PROBE_TOPICS = [
    (f"p{j:02d}", f"{gen.word(1 + 3 * j % 60)} {gen.word(1 + (7 * j + 5) % 60)}"
                  f" {_PROBE_KW[j % len(_PROBE_KW)]}")
    for j in range(20)
]


class Ingest(Workload):
    """One op: build a fresh disjoint shard into a query-ready index with
    the english analyzer (checkpointed build, read back, compressed and
    persisted), then answer the probe topics on it with WAND top-10."""

    name = "ingest"
    # a set-up rep only reads the first shard: one, the session's first
    # read
    setup_reps = 1
    # an op costs about 8 s here and its warm-up about 20 s: a third
    # timed op would take the runs past the time set for all of them
    ops_per_round = 2

    def make_inputs(self) -> None:
        from luc4ir_spark.functions.analysis import AnalyzerConfig
        from luc4ir_spark.operators.indexer import IndexConfig

        self.cfg = IndexConfig(analyzer=AnalyzerConfig())
        self.in_bytes = []
        self.out_bytes = []
        self.first_shard = self.prepare(0)["path"]
        # the last op's index, kept for the checks that run Spark jobs
        self.last = None

    def prepare(self, i: int):
        docs = gen.corpus(self.seed, 100 + i, SHARD_DOCS,
                          first_id=i * SHARD_DOCS)
        path = os.path.join(self.work, "shards", f"s{i}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table(docs), path)
        return {"i": i, "path": path, "docs": docs,
                "out": os.path.join(self.work, "index", f"s{i}")}

    def setup_rep(self) -> None:
        # reading the first shard's input is the only set-up this
        # workload has: every op builds its own index
        self.spark.read.parquet(self.first_shard).count()

    def op(self, prep) -> OpRecord:
        from pyspark.sql import functions as F

        from luc4ir_spark.operators import indexer as ix
        from luc4ir_spark.operators import retrieval as rt
        from luc4ir_spark.operators import wand as wd
        from luc4ir_spark.plans import checkpoints as ck

        span, spark, cfg = self.tracer.span, self.spark, self.cfg
        t0, c0 = time.perf_counter(), tree_cpu_s()
        docs = spark.read.parquet(prep["path"])
        if self.tracer.enabled:
            # layer-by-layer: the analyzer and the postings build on their
            # own, each forced, before the checkpointed build repeats them
            with span("analysis"):
                toks = ix.tokenize(docs, cfg.analyzer).persist()
                toks.count()
            with span("indexer"):
                flat = ix.build_flat_postings(toks).persist()
                r = ix.build_term_stats(flat).agg(
                    F.count(F.lit(1)).alias("t"), F.sum("df").alias("p")
                ).collect()[0]
                self.tracer.count("indexer.terms", r["t"])
                self.tracer.count("indexer.postings", r["p"])
            flat.unpersist()
            toks.unpersist()
            # the traced op's throughput counts only what the untraced
            # op also does
            t0, c0 = time.perf_counter(), tree_cpu_s()
        with span("checkpoints"):
            ck.build_index_checkpointed(docs, prep["out"], cfg,
                                        num_slices=NUM_SLICES, log=_quiet)
        with span("compress"):
            index = ck.read_index(spark, prep["out"], cfg)
            blobs = wd.build_compressed_postings(index).persist()
            row = blobs.agg(
                F.count(F.lit(1)).alias("groups"),
                F.sum("n_docs").alias("n_docs"),
                F.sum(F.octet_length("blob")).alias("blob_bytes"),
                F.sum(F.size("blk_offsets")).alias("blocks"),
            ).collect()[0]
        index.blobs = blobs
        t1, c1 = time.perf_counter(), tree_cpu_s()
        with span("wand"):
            qt = rt.queries_to_terms(spark, PROBE_TOPICS, cfg.analyzer)
            top = wd.score_queries_wand(index, qt, k=10).collect()
        t2, c2 = time.perf_counter(), tree_cpu_s()
        return OpRecord(
            docs=SHARD_DOCS, queries=len(PROBE_TOPICS),
            phases={"docs": (t1 - t0, c1 - c0), "queries": (t2 - t1, c2 - c1)},
            data={"prep": prep, "index": index, "blobs": row, "wand": top,
                  "qt": qt},
        )

    def after_op(self, rec: OpRecord) -> None:
        prep, index, row = rec.data["prep"], rec.data["index"], rec.data["blobs"]
        out, docs = prep["out"], prep["docs"]
        tag = f"ingest shard {prep['i']}"
        self.errors += [f"{tag}: {e}" for e in
                        check_index_dir(out, docs, int(row["n_docs"]))]
        in_b = sum(len(c.encode("utf-8")) for c in docs["content"])
        self.in_bytes.append(in_b)
        self.out_bytes.append(
            dir_bytes(out) + int(row["blob_bytes"]) + 32 * int(row["blocks"]))
        self.tracer.count("checkpoints.bytes_written", dir_bytes(out))
        self.tracer.count("compress.groups", row["groups"])
        self.tracer.count("compress.blob_bytes", row["blob_bytes"])
        if self.tracer.enabled:
            self._kernels(rec)
        index.blobs.unpersist()
        if self.last is not None:
            _drop(self.last["prep"])
        self.last = {k: rec.data[k] for k in ("prep", "index", "wand", "qt")}
        rec.data.clear()

    def finish(self) -> None:
        """The checks that run Spark jobs, on the last op's shard index,
        after the clock stops: they take about 2.5 s, a third of an op,
        so they run once per run rather than after every op."""
        if self.last is not None:
            self._check_with_spark(self.last, f"ingest shard "
                                              f"{self.last['prep']['i']}")
            _drop(self.last["prep"])
            self.last = None

    def _check_with_spark(self, data: dict, tag: str) -> None:
        from luc4ir_spark.operators import retrieval as rt
        from luc4ir_spark.plans import checkpoints as ck

        prep, out = data["prep"], data["prep"]["out"]
        # resumability: a second build on the finished directory redoes
        # no stage and rewrites no file
        before = _snapshot(out)
        lines: list[str] = []
        ck.build_index_checkpointed(
            self.spark.read.parquet(prep["path"]), out, self.cfg,
            num_slices=NUM_SLICES, log=lines.append)
        redone = [x for x in lines if "skipping" not in x]
        if redone or _snapshot(out) != before:
            self.errors.append(f"{tag}: resumed build redid work: {redone}")
        # WAND top-10 equals exhaustive scoring on the same shard index
        exact = rt.score_queries(data["index"], data["qt"], k=50).collect()
        want: dict[str, list] = {q: [] for q, _ in PROBE_TOPICS}
        for r in sorted(exact, key=lambda r: (r["qid"], r["rank"])):
            want[r["qid"]].append((r["doc_id"], r["score"]))
        want = {q: v for q, v in want.items() if v}
        self.errors += [f"{tag}: wand vs exhaustive: {e}" for e in
                        oracle.compare_topk(_by_qid(data["wand"]), want, 10)]

    def _kernels(self, rec: OpRecord) -> None:
        """Self time of the pure kernels on this op's inputs, in this
        process: the analyzer on the shard's text, the posting codec on
        its postings, and the block-max WAND kernel on the probe topics'
        (qid, salt) groups as ``score_queries_wand`` forms them."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from luc4ir_spark.functions.analysis import analyze_series
        from luc4ir_spark.functions.codec import (
            BlockDirectory, encode_posting_list)
        from luc4ir_spark.operators import retrieval as rt
        from luc4ir_spark.operators import wand as wd
        from luc4ir_spark.operators.indexer import idf_lucene

        prep, index = rec.data["prep"], rec.data["index"]
        texts = pd.Series(prep["docs"]["content"])
        t0 = time.perf_counter()
        analyze_series(texts, self.cfg.analyzer)
        self.tracer.count("analysis.kernel_s", time.perf_counter() - t0)
        post = pq.read_table(os.path.join(prep["out"], "postings"),
                             columns=["term", "doc_id", "tf", "doc_len"])
        p = post.to_pandas().sort_values(["term", "doc_id"])
        lists = [(g["doc_id"].to_numpy(np.int64), g["tf"].to_numpy(np.int64),
                  g["doc_len"].to_numpy(np.int64))
                 for _, g in p.groupby("term", sort=False)]
        t0 = time.perf_counter()
        for ids, tfs, dls in lists:
            encode_posting_list(ids, tfs, dls, self.cfg.block_size)
        self.tracer.count("codec.encode_s", time.perf_counter() - t0)

        qt = (rec.data["qt"].join(F.broadcast(index.term_stats), "term")
              .withColumn("idf", idf_lucene(F.col("df"), index.stats.n_docs))
              .select("qid", "term", "weight", "idf", "cf"))
        joined = index.blobs.join(F.broadcast(qt), "term").toPandas()
        make = wd._make_kernel(rt.Similarity(k1=K1, b=B), index.stats)
        spent, groups = 0.0, 0
        for _key, g in joined.groupby(["qid", "salt"]):
            lists = [wd._TermList(r.blob, BlockDirectory(
                offsets=np.asarray(r.blk_offsets, dtype=np.int64),
                n_docs=np.asarray(r.blk_ndocs, dtype=np.int32),
                last_doc=np.asarray(r.blk_last_doc, dtype=np.int64),
                max_tf=np.asarray(r.blk_max_tf, dtype=np.int32),
                min_dl=np.asarray(r.blk_min_dl, dtype=np.int64)),
                make(float(r.idf), float(r.weight), float(r.cf)))
                for r in g.itertuples(index=False)]
            t0 = time.perf_counter()
            wd.blockmax_topk_kernel(lists, 10)
            spent += time.perf_counter() - t0
            groups += 1
        self.tracer.count("wand.groups", groups)
        self.tracer.count("wand.kernel_s", spent)

    def index_bytes_per_input_byte(self) -> float:
        return statistics.median(
            o / i for o, i in zip(self.out_bytes, self.in_bytes))


def _quiet(_msg: str) -> None:
    pass


def _drop(prep: dict) -> None:
    """Delete an ingest op's shard input and index directory."""
    shutil.rmtree(prep["out"])
    os.remove(prep["path"])


def _snapshot(path: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _by_qid(rows) -> dict[str, list[tuple[int, int, float]]]:
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return got


def check_index_dir(out: str, docs: dict, blob_postings: int) -> list[str]:
    """Property checks on a checkpointed index directory, read with
    pyarrow: per-row sha256, Σtf = Σdoc_len, df = postings rows per term
    and Σ blob n_docs = postings rows."""
    errs = []
    ds = pq.read_table(os.path.join(out, "doc_stats")).to_pydict()
    want = {d: hashlib.sha256(c.encode("utf-8")).hexdigest()
            for d, c in zip(docs["doc_id"], docs["content"])}
    got = dict(zip(ds["doc_id"], ds["content_sha256"]))
    if len(ds["doc_id"]) != len(want) or got != want:
        bad = [d for d in want if got.get(d) != want[d]]
        errs.append(f"content_sha256 differs on {len(bad)} docs, "
                    f"{len(ds['doc_id'])} rows for {len(want)} docs")
    post = pq.read_table(os.path.join(out, "postings"),
                         columns=["term", "tf"]).to_pydict()
    if sum(post["tf"]) != sum(ds["doc_len"]):
        errs.append(f"sum tf {sum(post['tf'])} != sum doc_len "
                    f"{sum(ds['doc_len'])}")
    ts = pq.read_table(os.path.join(out, "term_stats")).to_pydict()
    rows_per_term = Counter(post["term"])
    if dict(zip(ts["term"], ts["df"])) != dict(rows_per_term):
        errs.append("term df differs from postings rows per term")
    if blob_postings != len(post["term"]):
        errs.append(f"sum blob n_docs {blob_postings} != postings rows "
                    f"{len(post['term'])}")
    with open(os.path.join(out, "stats.json")) as fh:
        stats = json.load(fh)
    if stats["n_docs"] != len(want):
        errs.append(f"stats n_docs {stats['n_docs']} != {len(want)}")
    return errs


# ---------------------------------------------------------- trec_run

BATCH = 50


class TrecRun(Workload):
    """One op: a batch of 50 topics through the exhaustive BM25 scorer
    (k=1000), written as a TREC run file and evaluated against qrels. The
    simple-analyzer index over one generated corpus is built in set-up,
    and its builds give the workload's indexing rate; the ops cycle
    through ``n_batches`` batches."""

    name = "trec_run"
    n_docs = 1000
    n_batches = 4
    k = 1000

    def make_inputs(self) -> None:
        from luc4ir_spark.functions.analysis import AnalyzerConfig
        from luc4ir_spark.operators.indexer import IndexConfig

        self.cfg = IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
        self.docs = gen.corpus(self.seed, 0, self.n_docs)
        self.df = gen.doc_freq(self.docs)
        self.topics = gen.topics(self.seed, self.df, self.n_batches * BATCH)
        self.batches = [self.topics[i:i + BATCH]
                        for i in range(0, len(self.topics), BATCH)]
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(pa.table(self.docs), self.corpus_path)
        self.input_bytes = sum(len(c.encode("utf-8"))
                               for c in self.docs["content"])
        self.qrels = gen.qrels(self.seed, self.docs, self.topics)
        self.qrels_path = os.path.join(self.work, "qrels.txt")
        with open(self.qrels_path, "w") as fh:
            for qid, docid, rel in self.qrels:
                fh.write(f"{qid} 0 {docid} {rel}\n")
        self.index = None
        self.qrels_df = None
        self.runs: list[tuple[int, list, str, list, object]] = []

    def setup_rep(self) -> None:
        from luc4ir_spark.operators import indexer as ix
        from luc4ir_spark.sources import trec

        if self.index is not None:
            self.index.postings.unpersist()
            self.index.term_stats.unpersist()
            self.qrels_df.unpersist()
        docs = self.spark.read.parquet(self.corpus_path)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("indexer"):
            self.index = ix.build_index(docs, self.cfg)
        self.setup_builds.append(
            (self.n_docs, (time.perf_counter() - t0, tree_cpu_s() - c0)))
        # the index tables alone, before the qrels are cached
        self.index_bytes = cached_bytes(self.spark)
        if self.tracer.enabled:
            self.tracer.count("indexer.postings", self.index.postings.count())
            self.tracer.count("indexer.terms", self.index.stats.vocab_size)
        self.qrels_df = trec.read_qrels(self.spark, self.qrels_path).persist()
        self.qrels_df.count()

    def prepare(self, i: int):
        return i % self.n_batches

    def index_bytes_per_input_byte(self) -> float:
        return self.index_bytes / self.input_bytes

    def op(self, b: int) -> OpRecord:
        from luc4ir_spark.operators import evaluation as ev
        from luc4ir_spark.operators import retrieval as rt
        from luc4ir_spark.sources import trec

        span = self.tracer.span
        path = os.path.join(self.work, "run.txt")
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with span("retrieval"):
            qt = rt.queries_to_terms(self.spark, self.batches[b],
                                     self.cfg.analyzer)
            run = rt.score_queries(self.index, qt, k=self.k).persist()
            run.count()
        with span("trec"):
            trec.write_run(rt.to_trec_run(run, "perfbench"), path)
        with span("evaluation"):
            per_q = ev.per_query_metrics(
                rt.to_trec_run(run, "perfbench"), self.qrels_df).persist()
            pq_rows = per_q.collect()
            macro = ev.macro_metrics(per_q).collect()[0]
        ph = (time.perf_counter() - t0, tree_cpu_s() - c0)
        # the ranked rows for the oracle check, read from the cache after
        # the clock stops: shipping 50k rows to Python is the benchmark's
        # work, not the engine's
        rows = run.collect()
        per_q.unpersist()
        run.unpersist()
        return OpRecord(queries=len(self.batches[b]),
                        phases={"queries": ph},
                        data={"b": b, "rows": rows, "path": path,
                              "per_q": pq_rows, "macro": macro})

    def after_op(self, rec: OpRecord) -> None:
        d = rec.data
        with open(d["path"]) as fh:
            text = fh.read()
        os.remove(d["path"])
        self.runs.append((d["b"], d["rows"], text, d["per_q"], d["macro"]))
        self.tracer.count("trec.run_bytes", len(text.encode("utf-8")))
        self.tracer.count("retrieval.postings_scanned", sum(
            self.df.get(t, 0) for _, q in self.batches[d["b"]]
            for t in set(gen.simple_terms(q))))
        rec.data.clear()

    def check(self) -> None:
        used = sorted({b for b, *_ in self.runs})
        want = oracle.bm25_topk(
            self.docs["doc_id"], self.docs["content"],
            [t for b in used for t in self.batches[b]], self.k, K1, B)
        judged: dict[str, dict[str, float]] = {}
        for qid, docid, rel in self.qrels:
            judged.setdefault(qid, {})[docid] = float(rel)
        for b, rows, text, per_q, macro in self.runs:
            tag = f"trec_run batch {b}"
            # a topic the engine returns nothing for must match no doc
            ref = {q: want[q] for q, _ in self.batches[b] if want[q]}
            self.errors += [f"{tag}: {e}" for e in
                            oracle.compare_topk(_by_qid(rows), ref, self.k)]
            ranked, errs = parse_run(text)
            self.errors += [f"{tag}: run file: {e}" for e in errs]
            got = {r["qid"]: r for r in per_q}
            if set(got) != set(ranked):
                self.errors.append(f"{tag}: evaluated qids differ from run")
                continue
            sums = Counter()
            for qid, docids in ranked.items():
                mine = oracle.eval_query(docids, judged.get(qid, {}))
                for m, v in mine.items():
                    sums[m] += v
                    if not _close(got[qid][m], v):
                        self.errors.append(
                            f"{tag} {qid}: {m} {got[qid][m]!r} != {v!r}")
            n = len(ranked)
            for m, mm in (("ap", "map"), ("recall", "recall"),
                          ("p_at_5", "avg_p_at_5"), ("ndcg", "avg_ndcg")):
                if not _close(macro[mm], sums[m] / n):
                    self.errors.append(f"{tag}: macro {mm} {macro[mm]!r} "
                                       f"!= {sums[m] / n!r}")


def _close(a: float, b: float, tol: float = 1e-9) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def parse_run(text: str) -> tuple[dict[str, list[str]], list[str]]:
    """TREC run text -> (qid -> docids by rank, format errors). Each line
    must read ``qid Q0 docid rank score runid``, ranks must run 1, 2, ...
    per qid and scores must not increase down the ranking."""
    ranked: dict[str, list[str]] = {}
    last: dict[str, float] = {}
    errs = []
    for n, line in enumerate(text.splitlines(), start=1):
        f = line.split()
        if len(f) != 6 or f[1] != "Q0" or f[5] != "perfbench":
            errs.append(f"line {n}: {line!r}")
            break
        qid, docid, rank, score = f[0], f[2], int(f[3]), float(f[4])
        lst = ranked.setdefault(qid, [])
        if rank != len(lst) + 1:
            errs.append(f"line {n}: rank {rank} after {len(lst)}")
            break
        if qid in last and score > last[qid]:
            errs.append(f"line {n}: score {score} rises above {last[qid]}")
            break
        last[qid] = score
        lst.append(docid)
    return ranked, errs


WORKLOADS = {w.name: w for w in (Ingest, TrecRun)}
