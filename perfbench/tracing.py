"""Layer spans and Spark event-log metrics for the traced run.

Each call into an engine layer runs inside ``Tracer.span(layer)``, which
times it and, when tracing, tags every Spark job it starts with a job
description ``<layer>#<call>``. After the session stops, ``task_metrics``
reads Spark's event log and sums each call's task metrics by that tag.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

SPARK_LAYERS = ("analysis", "indexer", "checkpoints", "compress",
                "retrieval", "wand", "trec", "evaluation")
# wall-time metric name per layer; trec's is named after its one call,
# write_run
WALL_NAME = {layer: f"{layer}.s" for layer in SPARK_LAYERS}
WALL_NAME["trec"] = "trec.write_s"
TASK_FIELDS = (("task_cpu_s", "s"), ("gc_s", "s"),
               ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
               ("tasks", "count"), ("task_skew", "ratio"))
COUNTS = (("indexer.postings", "count"), ("indexer.terms", "count"),
          ("checkpoints.bytes_written", "bytes"), ("compress.groups", "count"),
          ("compress.blob_bytes", "bytes"),
          ("retrieval.postings_scanned", "count"), ("wand.groups", "count"),
          ("trec.run_bytes", "bytes"))
KERNELS = ("analysis.kernel_s", "codec.encode_s", "wand.kernel_s")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [("session.start_s", "s")]
    out += [(WALL_NAME[layer], "s") for layer in SPARK_LAYERS]
    out += [(f"{layer}.{f}", u) for layer in SPARK_LAYERS
            for f, u in TASK_FIELDS]
    out += list(COUNTS)
    out += [(k, "s") for k in KERNELS]
    return out


class Tracer:
    """Spans around layer calls; tags Spark jobs only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self._sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[tuple[str, str, float]] = []  # layer, tag, seconds
        # name -> (recorded in the timed phase, value)
        self.counts: dict[str, list[tuple[bool, float]]] = {}
        self.timed_from = 0
        self.timed = False

    def mark_timed(self) -> None:
        """Spans and counts from here on belong to timed operations."""
        self.timed_from = len(self.spans)
        self.timed = True

    @contextmanager
    def span(self, layer: str):
        tag = f"{layer}#{len(self.spans)}"
        if self.enabled:
            self._sc.setJobDescription(tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.enabled:
                self._sc.setJobDescription(None)
            self.spans.append((layer, tag, dt))

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append((self.timed, float(value)))


def task_metrics(event_log: str) -> dict[str, dict]:
    """tag -> summed task metrics of the jobs that carried that job
    description, from a Spark JSON event log."""
    stage_tag: dict[int, str] = {}
    per: dict[str, dict] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                if tag:
                    for sid in ev.get("Stage IDs", ()):
                        stage_tag[sid] = tag
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if tag is None or not m:
                    continue
                d = per.setdefault(tag, {
                    "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                    "spill_bytes": 0, "tasks": 0, "run_ms": []})
                d["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                d["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                d["tasks"] += 1
                d["run_ms"].append(m.get("Executor Run Time", 0))
    for d in per.values():
        run = d.pop("run_ms")
        med = statistics.median(run) if run else 0
        d["task_skew"] = max(run) / med if med > 0 else 0.0
    return per


def per_layer(tracer: Tracer, tasks: dict[str, dict],
              session_s: float) -> dict[str, dict]:
    """Per-layer metrics: the median over a layer's calls of each per-call
    value. A layer called in timed operations counts those calls only (not
    the warm-up's); a layer called only in set-up counts its set-up calls.
    Counts and kernel times follow the same rule. A layer the workload
    never calls reads 0."""
    timed = {layer for layer, _, _ in tracer.spans[tracer.timed_from:]}
    vals: dict[str, list[float]] = {}
    for i, (layer, tag, dt) in enumerate(tracer.spans):
        if layer in timed and i < tracer.timed_from:
            continue
        vals.setdefault(WALL_NAME[layer], []).append(dt)
        t = tasks.get(tag, {})
        for f, _ in TASK_FIELDS:
            vals.setdefault(f"{layer}.{f}", []).append(float(t.get(f, 0)))
    for name, recorded in tracer.counts.items():
        vals[name] = ([v for in_timed, v in recorded if in_timed]
                      or [v for _, v in recorded])
    vals["session.start_s"] = [session_s]
    return {
        name: {"value": statistics.median(vals[name]) if vals.get(name)
               else 0, "unit": unit}
        for name, unit in per_layer_names()
    }
