"""Resumability (SURVEY §5 item 5): kill after partial completion ->
rerun -> identical final index; lineage invalidation; streaming
incremental index == batch index."""

import dataclasses
import json
import os

import pytest
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import retrieval as rt
from luc4ir_spark.plans import checkpoints as cp
from luc4ir_spark.sources.corpus import synth_corpus
from luc4ir_spark.streaming.incremental_index import (
    open_incremental_index,
    start_incremental_index,
)

SIMPLE = AnalyzerConfig(mode="simple")
CFG = ix.IndexConfig(analyzer=SIMPLE)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_corpus(spark, 300, seed=42).withColumn(
        "doc_id",
        F.xxhash64(F.concat_ws("|", "repo", "path", "commit")),
    ).persist()


def _postings_map(spark, out_dir):
    rows = spark.read.parquet(os.path.join(out_dir, "postings")).collect()
    return sorted((r["term"], r["doc_id"], r["tf"], r["doc_len"]) for r in rows)


def test_corpus_deterministic(spark):
    a = synth_corpus(spark, 50, seed=42).orderBy("path").collect()
    b = synth_corpus(spark, 50, seed=42, num_partitions=3).orderBy("path").collect()
    assert a == b  # partitioning-independent
    c = synth_corpus(spark, 50, seed=7).orderBy("path").collect()
    assert a != c  # seed-sensitive
    # shape contract (north-rule input_hint)
    assert set(a[0].asDict().keys()) == {
        "repo", "path", "commit", "lang", "content"
    }
    # per-doc unique token present
    assert any("uniq_" in r["content"] for r in a)


def _quiet(_msg):
    pass


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fake_postings_crash(out_dir):
    """Leave ``out_dir`` as a crash inside the postings stage would: the
    manifest's completed prefix is ``["doc_stats"]``, one slice is gone
    and the aborted write's ``postings/_temporary/`` is still there."""
    import shutil

    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as fh:
        m = json.load(fh)
    m["completed_stages"] = ["doc_stats"]
    with open(manifest_path, "w") as fh:
        json.dump(m, fh)
    postings = os.path.join(out_dir, "postings")
    shutil.rmtree(os.path.join(postings, "slice=1"))
    tmp = os.path.join(postings, "_temporary", "0")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"half-written")


def test_interrupted_build_resumes_identically(spark, docs, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")

    logs: list[str] = []
    cp.build_index_checkpointed(
        docs, full_dir, CFG, num_slices=4, log=logs.append
    )
    cp.build_index_checkpointed(
        docs, part_dir, CFG, num_slices=4, log=logs.append
    )
    _fake_postings_crash(part_dir)
    before = _persisted_rdds(spark)

    logs.clear()
    cp.build_index_checkpointed(
        docs, part_dir, CFG, num_slices=4, log=logs.append
    )
    # doc_stats skipped; postings and term_stats redone, in that order
    assert logs[0] == "[checkpoint] doc_stats: already complete, skipping"
    assert logs[1].startswith("[checkpoint] postings: ")
    assert logs[2].startswith("[checkpoint] term_stats: ")
    assert len(logs) == 3 and not any("skipping" in l for l in logs[1:])
    assert not os.path.exists(os.path.join(part_dir, "postings", "_temporary"))
    assert not _persisted_rdds(spark) - before

    assert _postings_map(spark, part_dir) == _postings_map(spark, full_dir)
    idx_a = cp.read_index(spark, full_dir, CFG)
    idx_b = cp.read_index(spark, part_dir, CFG)
    assert idx_a.stats == idx_b.stats
    assert _rows(idx_a.postings) == _rows(idx_b.postings)
    assert _rows(idx_a.doc_stats) == _rows(idx_b.doc_stats)
    assert _rows(idx_a.term_stats) == _rows(idx_b.term_stats)


def test_noop_rerun_skips_everything(spark, docs, tmp_path):
    out = str(tmp_path / "idx")
    logs: list[str] = []
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2, log=logs.append)
    logs.clear()
    m = cp.build_index_checkpointed(
        docs, out, CFG, num_slices=2, log=logs.append
    )
    assert logs == [
        f"[checkpoint] {s}: already complete, skipping" for s in cp.STAGES
    ]
    assert m["completed_stages"] == list(cp.STAGES)
    # per-stage row counts match the tables on disk
    idx = cp.read_index(spark, out, CFG)
    assert m["metrics"]["doc_stats"]["rows"] == idx.doc_stats.count() == 300
    assert m["metrics"]["postings"]["rows"] == idx.postings.count()
    assert m["metrics"]["term_stats"]["rows"] == idx.stats.vocab_size


def test_manifest_is_deterministic(spark, docs, tmp_path):
    """The manifest holds no timing: two builds of the same input into
    two directories write byte-identical manifests."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    cp.build_index_checkpointed(docs, a, CFG, num_slices=2, log=_quiet)
    cp.build_index_checkpointed(docs, b, CFG, num_slices=2, log=_quiet)
    with open(os.path.join(a, "manifest.json"), "rb") as fa, open(
        os.path.join(b, "manifest.json"), "rb"
    ) as fb:
        assert fa.read() == fb.read()


def _alpha_docs(spark, n=40):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 7} delta") for i in range(n)],
        "doc_id long, content string",
    )


def test_rebuild_with_fewer_slices_drops_stale_slices(spark, tmp_path):
    """Rebuilding a directory at a smaller ``num_slices`` (a lineage
    mismatch) leaves no slice of the old layout behind: the rebuilt
    postings and term_stats equal a fresh build's."""
    docs = _alpha_docs(spark)
    out, fresh = str(tmp_path / "resliced"), str(tmp_path / "fresh")
    cp.build_index_checkpointed(docs, out, CFG, num_slices=4, log=_quiet)
    logs: list[str] = []
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2, log=logs.append)
    assert any("lineage mismatch" in l for l in logs)
    cp.build_index_checkpointed(docs, fresh, CFG, num_slices=2, log=_quiet)
    assert sorted(os.listdir(os.path.join(out, "postings"))) == sorted(
        os.listdir(os.path.join(fresh, "postings"))
    )
    got = cp.read_index(spark, out, CFG)
    want = cp.read_index(spark, fresh, CFG)
    assert _rows(got.postings) == _rows(want.postings)
    assert _rows(got.term_stats) == _rows(want.term_stats)
    df = {r["term"]: r["df"] for r in got.term_stats.collect()}
    assert got.postings.count() == 200 and df["alpha"] == 40


def test_job_count_does_not_depend_on_num_slices(spark, tmp_path):
    """Every table is one write job, so the build runs as many Spark
    jobs at 16 slices as at 2."""
    docs = _alpha_docs(spark)
    sc = spark.sparkContext

    def jobs(num_slices):
        group = f"ckpt_jobs_{num_slices}"
        sc.setJobGroup(group, group)
        try:
            cp.build_index_checkpointed(
                docs, str(tmp_path / group), CFG,
                num_slices=num_slices, log=_quiet,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n2, n16 = jobs(2), jobs(16)
    assert n2 == n16, (n2, n16)


def test_empty_corpus_builds_and_reads(spark, tmp_path):
    """An empty corpus builds an index that opens and answers queries
    with nothing (postings/ holds no slice directory at all), and a
    rerun only skips."""
    docs = spark.createDataFrame([], "doc_id long, content string")
    out = str(tmp_path / "empty")
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2, log=_quiet)
    idx = cp.read_index(spark, out, CFG)
    assert idx.stats == ix.CollectionStats(0, 0, 0)
    assert idx.postings.count() == 0
    assert idx.postings.columns == ["term", "doc_id", "tf", "doc_len", "slice"]
    assert idx.doc_stats.count() == 0 and idx.term_stats.count() == 0
    qt = rt.queries_to_terms(spark, [("e1", "alpha beta")], SIMPLE)
    assert rt.score_queries(idx, qt, k=5).count() == 0
    logs: list[str] = []
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2, log=logs.append)
    assert logs and all("skipping" in l for l in logs)


def test_lineage_mismatch_rebuilds(spark, docs, tmp_path):
    out = str(tmp_path / "idx2")
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2)
    changed = docs.limit(200)
    logs: list[str] = []
    cp.build_index_checkpointed(
        changed, out, CFG, num_slices=2, log=logs.append
    )
    assert any("lineage mismatch" in l for l in logs)
    idx = cp.read_index(spark, out, CFG)
    assert idx.stats.n_docs == 200


def test_lineage_sees_rows_that_occur_twice(spark, tmp_path):
    """Two inputs of the same size, each one row twice, have different
    lineages: an order-insensitive hash fold that lets a repeated row
    cancel out (XOR) gave both the same fingerprint, and the second
    build skipped every stage and served the first corpus."""
    out = str(tmp_path / "idx_twice")
    schema = "doc_id long, content string"
    first = spark.createDataFrame([(1, "alpha beta")] * 2, schema)
    second = spark.createDataFrame([(2, "gamma delta")] * 2, schema)
    cp.build_index_checkpointed(first, out, CFG, num_slices=2, log=_quiet)
    logs: list[str] = []
    cp.build_index_checkpointed(
        second, out, CFG, num_slices=2, log=logs.append
    )
    assert any("lineage mismatch" in l for l in logs)
    assert not any("skipping" in l for l in logs)
    idx = cp.read_index(spark, out, CFG)
    terms = {r["term"] for r in idx.term_stats.collect()}
    assert terms == {"gamma", "delta"}


def test_checkpointed_index_retrieves(spark, docs, tmp_path):
    out = str(tmp_path / "idx3")
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2)
    idx = cp.read_index(spark, out, CFG)
    qt = rt.queries_to_terms(spark, [("c1", "import return license")], SIMPLE)
    assert rt.score_queries(idx, qt, k=5).count() == 5


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_checkpointed_build_leaves_nothing_persisted(spark, tmp_path):
    """The build owns what it persists: a fresh build, a resume after a
    crash inside the postings stage and a no-op rerun, all in one
    session, leave no persisted RDD behind."""
    docs = _alpha_docs(spark)
    out = str(tmp_path / "owned")
    before = _persisted_rdds(spark)

    cp.build_index_checkpointed(docs, out, CFG, num_slices=2)
    assert not _persisted_rdds(spark) - before

    _fake_postings_crash(out)
    logs: list[str] = []
    cp.build_index_checkpointed(docs, out, CFG, num_slices=2, log=logs.append)
    redone = [l for l in logs if "skipping" not in l]
    assert [l.split(":")[0] for l in redone] == [
        "[checkpoint] postings", "[checkpoint] term_stats"
    ]
    assert not _persisted_rdds(spark) - before

    cp.build_index_checkpointed(docs, out, CFG, num_slices=2)
    assert not _persisted_rdds(spark) - before


def test_checkpointed_english_matches_build_index(spark, tmp_path):
    """With the default (english, Arrow-analyzed) analyzer the
    checkpointed build writes exactly the tables build_index derives;
    docs that analyze to no token (empty, only stopwords) keep
    doc_len 0."""
    docs = spark.createDataFrame(
        [
            (1, "Running runners ran the running race."),
            (2, "The LICENSE of this file: see the license's terms."),
            (3, ""),
            (4, "the and of a to"),
            (5, "import numpy; return the runner's results"),
        ],
        "doc_id long, content string",
    )
    cfg = ix.IndexConfig()
    out = str(tmp_path / "english")
    cp.build_index_checkpointed(docs, out, cfg, num_slices=2)
    batch = ix.build_index(docs, cfg, cache=False)

    assert _postings_map(spark, out) == _rows(batch.postings)
    ds = spark.read.parquet(os.path.join(out, "doc_stats"))
    assert _rows(ds) == _rows(batch.doc_stats)
    doc_len = {r["doc_id"]: r["doc_len"] for r in ds.collect()}
    assert doc_len[3] == 0 and doc_len[4] == 0
    assert all(doc_len[d] > 0 for d in (1, 2, 5))
    with open(os.path.join(out, "stats.json")) as fh:
        assert json.load(fh) == dataclasses.asdict(batch.stats)


def test_streaming_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch (failure
    between sink write and checkpoint commit) must not duplicate
    postings/doc_stats rows — the batch_id-partitioned dynamic overwrite
    makes the replay a no-op."""
    from luc4ir_spark.streaming.incremental_index import write_index_batch

    docs = synth_corpus(spark, 40, seed=5).withColumn(
        "doc_id", F.xxhash64("path")
    ).select("doc_id", "content")
    idx_dir = str(tmp_path / "replay_idx")
    write_index_batch(docs, 0, idx_dir, CFG)
    once = open_incremental_index(spark, idx_dir, CFG)
    n_postings = once.postings.count()
    n_docs = once.stats.n_docs
    # replay the SAME batch id (simulated failure-recovery re-delivery)
    write_index_batch(docs, 0, idx_dir, CFG)
    twice = open_incremental_index(spark, idx_dir, CFG)
    assert twice.postings.count() == n_postings
    assert twice.stats.n_docs == n_docs


def test_config_fingerprint_tracks_stopword_content():
    """Same-size but different stopword sets must change the lineage
    fingerprint (stale-checkpoint guarantee)."""
    from luc4ir_spark.functions.analysis import make_config

    a = ix.IndexConfig(analyzer=make_config("simple", stopwords=["alpha", "beta"]))
    b = ix.IndexConfig(analyzer=make_config("simple", stopwords=["alpha", "gamma"]))
    assert cp._config_fingerprint(a) != cp._config_fingerprint(b)
    assert cp._config_fingerprint(a) == cp._config_fingerprint(
        ix.IndexConfig(analyzer=make_config("simple", stopwords=["beta", "alpha"]))
    )


def test_streaming_incremental_equals_batch(spark, tmp_path):
    docs = synth_corpus(spark, 120, seed=9).withColumn(
        "doc_id", F.xxhash64("path")
    ).select("doc_id", "content").persist()
    in_dir = str(tmp_path / "incoming")
    idx_dir = str(tmp_path / "stream_idx")
    os.makedirs(in_dir)

    # two arrival waves
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    q = start_incremental_index(spark, in_dir, idx_dir, CFG)
    q.awaitTermination(120)
    docs.filter(F.col("doc_id") % 2 != 0).write.mode("append").parquet(in_dir)
    q2 = start_incremental_index(spark, in_dir, idx_dir, CFG)
    q2.awaitTermination(120)

    streamed = open_incremental_index(spark, idx_dir, CFG)
    batch = ix.build_index(docs, CFG)
    assert streamed.stats == batch.stats
    a = sorted(
        (r["term"], r["doc_id"], r["tf"])
        for r in streamed.postings.collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in batch.postings.collect()
    )
    assert a == b
    # doc_stats come from the same derivation, content_sha256 included
    assert sorted(map(tuple, streamed.doc_stats.collect())) == sorted(
        map(tuple, batch.doc_stats.collect())
    )
    # and it answers queries identically
    qt = rt.queries_to_terms(spark, [("s1", "import license")], SIMPLE)
    ra = rt.score_queries(streamed, qt, k=10).collect()
    rb = rt.score_queries(batch, qt, k=10).collect()
    assert sorted(map(str, ra)) == sorted(map(str, rb))


def test_bucketed_index_joins_without_exchange(spark, tmp_path):
    """Bucketed+sorted persistence: term-keyed joins and aggregations
    over the reopened index plan with NO shuffle exchange (the
    bucket-join fast path), and scoring equals the in-memory index."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 7} delta") for i in range(60)],
        "doc_id long, content string",
    )
    cfg = ix.IndexConfig(analyzer=AnalyzerConfig(mode="simple"))
    idx = ix.build_index(docs, cfg, cache=False)
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bidx_test"
        f" LOCATION '{tmp_path}/warehouse'"
    )
    try:
        cp.save_index_bucketed(idx, "bidx_test.t", n_buckets=4)
        reopened = cp.read_index_bucketed(spark, "bidx_test.t", cfg)
        # bucketed self-join on term: with the broadcast shortcut off
        # (tiny test tables would otherwise broadcast and skip the
        # bucketed scan) the sort-merge join needs NO Exchange and,
        # thanks to sortBy, no per-side Sort of the scan either
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p = reopened.postings.alias("l")
            q = reopened.postings.alias("r")
            j = p.hint("merge").join(q.hint("merge"), "term")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # term-keyed aggregation: also exchange-free
        agg = reopened.postings.groupBy("term").count()
        plan2 = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan2, plan2
        # scoring over the reopened index matches the in-memory one
        qt = rt.queries_to_terms(
            spark, [("q", "alpha doc3")], AnalyzerConfig(mode="simple")
        )
        got = sorted(
            map(tuple, rt.score_queries(reopened, qt, k=5).collect())
        )
        exp = sorted(map(tuple, rt.score_queries(idx, qt, k=5).collect()))
        assert got == exp
        assert reopened.stats.n_docs == idx.stats.n_docs
        assert reopened.stats.total_tokens == idx.stats.total_tokens
    finally:
        spark.sql("DROP DATABASE IF EXISTS bidx_test CASCADE")


def test_zorder_value_hand_computed(spark):
    from luc4ir_spark.plans import layout as ly

    df = spark.createDataFrame(
        [(0b1010, 0b0110), (255, 0), (0, 255), (3, 3)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(
            ly.zorder_value(["x", "y"], bits=8).alias("z")
        ).collect()
    ]

    def morton(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == [morton(0b1010, 0b0110), morton(255, 0),
                   morton(0, 255), morton(3, 3)]
    # x-only bits are the even positions, y-only the odd
    assert got[1] == 0b0101010101010101
    assert got[2] == 0b1010101010101010


def test_zorder_layout_sorted_partitions(spark):
    from luc4ir_spark.plans import layout as ly

    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") * 7 % 16).alias("y")
    )
    out = ly.zorder_layout(df, ["x", "y"], bits=4, num_partitions=4)
    parts = out.select("z").rdd.glom().collect()
    seen = []
    for p in parts:
        vals = [r["z"] for r in p]
        assert vals == sorted(vals)  # sorted within partition
        seen.append(vals)
    # range partitioning: partition maxima non-decreasing across parts
    bounds = [v[-1] for v in seen if v]
    assert bounds == sorted(bounds)


def test_partitioned_event_layout_prunes(spark, tmp_path):
    """Date-partitioned writes: a reader filtering on the partition
    column scans ONLY the matching directories (PartitionFilters in
    the plan, one input file), and results equal the unpartitioned
    filter."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from luc4ir_spark.plans import checkpoints as cp

    rows = [
        (i, datetime(2024, 1, 1 + (i % 3), 12, 0), i % 5, "click", 1.0)
        for i in range(90)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    path = str(tmp_path / "events_part")
    cp.write_events_partitioned(ev, path)
    back = spark.read.parquet(path)
    day = back.filter(F.col("event_date") == "2024-01-02")
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    got = {r["event_id"] for r in day.collect()}
    exp = {i for i in range(90) if i % 3 == 1}
    assert got == exp
    # the single-directory read returns the same rows (inputFiles()
    # reports the BASE relation pre-pruning, so it can't witness this)
    direct = spark.read.parquet(path + "/event_date=2024-01-02")
    assert {r["event_id"] for r in direct.collect()} == exp


def test_positional_bucketed_scan_pruning(spark, tmp_path):
    """A term-bucketed positional store prunes at SCAN time: a 2-term
    phrase query's dictionary filter reads 2 of 16 buckets
    (SelectedBucketsCount in the scan node), and the phrase walk over
    the catalog table returns the same rows as over the DataFrame."""
    import re

    from luc4ir_spark.operators import indexer as ix
    from luc4ir_spark.operators import retrieval as rt

    docs = spark.createDataFrame(
        [(i, ["the", "zebra"] if i == 0 else ["the", "filler", f"w{i % 50}"])
         for i in range(500)],
        "doc_id long, tokens array<string>",
    )
    pos = ix.build_positional_postings(docs)
    cp.save_positional_bucketed(pos, "pos_bucketed_test", n_buckets=16)
    try:
        tbl = spark.table("pos_bucketed_test")
        flt = tbl.filter(F.col("term").isin(["the", "zebra"]))
        plan = flt._jdf.queryExecution().executedPlan().toString()
        hits = re.findall(r"SelectedBucketsCount: (\d+) out of 16", plan)
        assert hits and int(hits[0]) <= 2, plan
        got = sorted(
            (r["doc_id"], r["phrase_freq"])
            for r in rt.phrase_query(tbl, ["the", "zebra"]).collect()
        )
        assert got == [(0, 1)]
    finally:
        spark.sql("DROP TABLE IF EXISTS pos_bucketed_test")


def test_docvalues_report_hand_computed(spark):
    """lang: 4 docs, 2 distinct 2-byte values -> bits 1, raw 8,
    dict 4 + ceil(4*1/8)=1 -> 5 < 8 -> dict. note: 4 distinct long
    values -> raw wins (dictionary stores every value once AND the
    ordinals). constant col -> 0 bits."""
    from luc4ir_spark.plans import layout as ly

    df = spark.createDataFrame(
        [("en", "aaaaaaaaaa", "k"), ("en", "bbbbbbbbbb", "k"),
         ("de", "cccccccccc", "k"), ("de", "dddddddddd", "k")],
        "lang string, note string, const string",
    )
    got = {
        r["col_name"]: r
        for r in ly.docvalues_report(
            df, ["lang", "note", "const"]
        ).collect()
    }
    lang = got["lang"]
    assert (lang["n_distinct"], lang["bits_per_value"],
            lang["raw_bytes"], lang["dict_bytes"],
            lang["encoding"]) == (2, 1, 8, 5, "dict")
    note = got["note"]
    # all-distinct 10-byte values: dict = 40 + ceil(4*2/8) = 41 > 40
    assert (note["n_distinct"], note["bits_per_value"],
            note["raw_bytes"], note["dict_bytes"],
            note["encoding"]) == (4, 2, 40, 41, "raw")
    const = got["const"]
    assert (const["n_distinct"], const["bits_per_value"],
            const["dict_bytes"], const["encoding"]) == (1, 0, 1, "dict")


def test_postings_encoding_report_hand_computed(spark):
    """Three engineered lists: a dense term over a small universe
    (bitmap wins), a sparse clustered term over a huge universe
    (varbyte wins: tiny gaps), and a sparse uniform term over a huge
    universe (Elias-Fano wins: big gaps cost varbyte ~4 bytes each,
    EF ~l bits each). Sizes checked against pure-Python replay."""
    from luc4ir_spark.plans import layout as ly

    dense = [("dense", i) for i in range(0, 64, 2)]          # U=63, df=32
    clust = [("clust", 1_000_000 + i) for i in range(20)]    # tiny gaps
    sparse = [("sparse", i * 50_000_000) for i in range(1, 21)]
    p = spark.createDataFrame(
        dense + clust + sparse, "term string, doc_id long"
    )
    got = {
        r["term"]: r
        for r in ly.postings_encoding_report(p).collect()
    }

    def vb(v):
        b = 1
        while v >= (1 << (7 * b)):
            b += 1
        return b

    def replay(ids):
        ids = sorted(ids)
        gaps = [ids[0]] + [b - a for a, b in zip(ids, ids[1:])]
        n, u = len(ids), ids[-1] + 1
        l = max(0, (u // n).bit_length() - 1)
        return (
            sum(vb(g) for g in gaps),
            (n * l + n + (u >> l) + 7) // 8,
            (u + 7) // 8,
        )

    for term, ids in (
        ("dense", [i for _, i in dense]),
        ("clust", [i for _, i in clust]),
        ("sparse", [i for _, i in sparse]),
    ):
        v, e, b = replay(ids)
        r = got[term]
        assert (r["varbyte_bytes"], r["ef_bytes"], r["bitmap_bytes"]) == (
            v, e, b,
        ), term
    assert got["dense"]["best"] == "bitmap"
    assert got["clust"]["best"] == "varbyte"
    assert got["sparse"]["best"] == "elias_fano"


def test_term_frontcoding_hand_computed(spark):
    """Sorted vocab app, apple, apply, banana: prefixes 0, 3, 4, 0;
    encoded = 1 + len - plen; cap at max_prefix."""
    from luc4ir_spark.plans import layout as ly

    v = spark.createDataFrame(
        [("apple",), ("banana",), ("app",), ("apply",)], "term string"
    )
    got = {
        r["term"]: (r["term_bytes"], r["prefix_len"], r["encoded_bytes"])
        for r in ly.term_dict_frontcoding_report(v).collect()
    }
    assert got["app"] == (3, 0, 4)       # first in sort order
    assert got["apple"] == (5, 3, 3)     # shares 'app'
    assert got["apply"] == (5, 4, 2)     # shares 'appl' with apple
    assert got["banana"] == (6, 0, 7)
    # cap: two long terms sharing 20 chars cap at max_prefix=4
    long = spark.createDataFrame(
        [("x" * 20 + "a",), ("x" * 20 + "b",)], "term string"
    )
    capped = {
        r["term"]: r["prefix_len"]
        for r in ly.term_dict_frontcoding_report(
            long, max_prefix=4
        ).collect()
    }
    assert sorted(capped.values()) == [0, 4]


def test_scan_pruning_report_hand_computed(spark):
    """Range-clustered files prune outside [20, 29]; the kept file
    holds every matching row (the zone-map invariant); a hash layout
    of the same rows prunes nothing."""
    from luc4ir_spark.plans import layout as ly

    rows = [(i, i) for i in range(50)]  # value == id, 0..49
    d = spark.createDataFrame(rows, "doc_id long, v long")
    clustered = d.selectExpr("doc_id", "v", "v DIV 10 AS file_id")
    rep = {
        r["file_id"]: r
        for r in ly.scan_pruning_report(
            clustered, "v", "file_id", 20, 29
        ).collect()
    }
    assert [rep[f]["pruned"] for f in (0, 1, 2, 3, 4)] == [
        True, True, False, True, True,
    ]
    assert rep[2]["n_matching"] == 10
    for f in (0, 1, 3, 4):
        assert rep[f]["n_matching"] == 0   # zone-map invariant
    hashed = d.selectExpr("doc_id", "v", "doc_id % 5 AS file_id")
    hrep = ly.scan_pruning_report(
        hashed, "v", "file_id", 20, 29
    ).collect()
    assert all(not r["pruned"] for r in hrep)
    assert sum(r["n_matching"] for r in hrep) == 10


def test_compaction_plan_hand_computed(spark):
    """Bin-fill at target 100: sizes 90, 60, 50, 30, 20 (one
    partition) in size-DESC order -> cum-before 0, 90, 150, 200, 230
    -> groups 0, 0, 1, 2, 2; a second partition restarts at group 0."""
    from luc4ir_spark.plans import layout as ly

    rows = [
        ("p1", 1, 90), ("p1", 2, 60), ("p1", 3, 50), ("p1", 4, 30),
        ("p1", 5, 20), ("p2", 6, 10),
    ]
    f = spark.createDataFrame(
        rows, "partition string, file_id long, size_bytes long"
    )
    got = {
        r["file_id"]: (r["group_id"], r["group_seq"])
        for r in ly.compaction_plan(f, target_bytes=100).collect()
    }
    assert got == {
        1: (0, 1), 2: (0, 2), 3: (1, 3), 4: (2, 4), 5: (2, 5),
        6: (0, 1),
    }


def test_cache_plan_hand_computed(spark):
    """Density ordering: t1 (freq 4 / 100 B, key 40000) first, then
    t2 (2/100, 20000), then t3 (1/200, 5000), t4 unqueried (0).
    Budget 220: t1+t2 fit (200), t3 pushes cum to 400 -> out."""
    from luc4ir_spark.plans import layout as ly

    costs = spark.createDataFrame(
        [("t1", 100, 4), ("t2", 100, 2), ("t3", 200, 1), ("t4", 50, 0)],
        "term string, bytes long, qfreq long",
    )
    got = {
        r["term"]: (r["density_key"], r["cum_bytes"], r["cached"])
        for r in ly.cache_plan(costs, budget_bytes=220).collect()
    }
    assert got["t1"] == (40000, 100, True)
    assert got["t2"] == (20000, 200, True)
    assert got["t3"] == (5000, 400, False)
    assert got["t4"] == (0, 450, False)
