"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest|trec_run \\
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts the engine on
local[N] (N = min(4, usable CPUs)), sets up, runs whole rounds of
operations until S seconds of operation time have passed (after one
untimed warm-up operation), checks every output against
computations made apart from the engine, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from job-tagged Spark event logs. Each run also writes
its full record, host probes included, to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(BENCH_DIR, "out")

HEAP = "2g"  # fixed heap (-Xms = -Xmx) that fits a 15 GB host


def start_session(run_dir: str, trace: bool):
    from luc4ir_spark.session import get_spark

    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # the JVMs write nothing outside the run directory
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(run_dir, "events"))
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    (the Python workers) have exited."""
    from pyspark import SparkContext

    from perfbench.procstat import alive, tree

    children = tree()[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF
        gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while children and time.monotonic() < deadline:
        children = [p for p in children if alive(p)]
        time.sleep(0.05)


def rate(units: list[int], phases: list[tuple[float, float]], which: int):
    """Median over operations of units per second (which=0) or per CPU
    second (which=1)."""
    return statistics.median(u / p[which] for u, p in zip(units, phases))


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench import procstat, tracing
    from perfbench.workloads import WORKLOADS

    run_dir = os.path.join(OUT, f"{workload}-{seed}-t{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")

    t_run = time.perf_counter()
    probes = {"before": procstat.host_probes()}
    wl = WORKLOADS[workload](seed, run_dir)
    t0 = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark, trace)
    wl.bind(spark, tracer)
    try:
        reps = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup_rep()
            reps.append(time.perf_counter() - t0)
        prep = wl.prepare(0)
        t0 = time.perf_counter()
        rec = wl.op(prep)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.after_op(rec)
        after_s = [time.perf_counter() - t0]

        tracer.mark_timed()
        attempted = failed = 0
        timed = 0.0
        docs, queries, docs_ph, q_ph, op_s, phases = [], [], [], [], [], []
        while timed < seconds:
            for _ in range(wl.ops_per_round):
                prep = wl.prepare(attempted + 1)
                t0 = time.perf_counter()
                try:
                    rec = wl.op(prep)
                except Exception:  # counted as a failed operation
                    traceback.print_exc()
                    rec = None
                dt = time.perf_counter() - t0
                attempted += 1
                timed += dt
                if rec is None:
                    failed += 1
                    continue
                op_s.append(dt)
                phases.append(rec.phases)
                if "docs" in rec.phases:
                    docs.append(rec.docs)
                    docs_ph.append(rec.phases["docs"])
                queries.append(rec.queries)
                q_ph.append(rec.phases["queries"])
                t0 = time.perf_counter()
                wl.after_op(rec)
                after_s.append(time.perf_counter() - t0)
        peak_rss = procstat.peak_rss_mb()
        t0 = time.perf_counter()
        wl.finish()
        after_s.append(time.perf_counter() - t0)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t0
    probes["after"] = procstat.host_probes()

    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "attempted": attempted, "failed": failed,
        "errors": wl.errors[:50], "probes": probes,
        "setup": {"session_s": session_s, "reps_s": reps,
                  "warmup_s": warmup_s},
        "setup_builds": wl.setup_builds,
        "op_s": op_s, "op_phases": phases, "after_op_s": after_s,
        "stop_s": stop_s,
        "check_s": check_s, "inputs_s": inputs_s, "peak_rss_mb": peak_rss,
        "run_s": time.perf_counter() - t_run,
    }
    if not docs:
        # ops that index nothing: the rate of the last four set-up
        # builds, past the young JVM's slowest ones
        docs = [n for n, _ in wl.setup_builds[-4:]]
        docs_ph = [ph for _, ph in wl.setup_builds[-4:]]
    if op_s:
        e2e = {
            "setup_s": session_s + statistics.median(reps) + warmup_s,
            "peak_rss_mb": sum(peak_rss.values()),
            "docs_per_s": rate(docs, docs_ph, 0),
            "docs_per_cpu_s": rate(docs, docs_ph, 1),
            "index_bytes_per_input_byte": wl.index_bytes_per_input_byte(),
            "queries_per_s": rate(queries, q_ph, 0),
            "queries_per_cpu_s": rate(queries, q_ph, 1),
        }
    else:
        e2e = {}
    units = {"setup_s": "s", "peak_rss_mb": "MB", "docs_per_s": "1/s",
             "docs_per_cpu_s": "1/cpu_s",
             "index_bytes_per_input_byte": "ratio",
             "queries_per_s": "1/s", "queries_per_cpu_s": "1/cpu_s"}
    base = os.path.join(OUT, f"{workload}-seed{seed}")
    if trace:
        events = os.path.join(run_dir, "events")
        tasks = {}
        for f in os.listdir(events):
            tasks.update(tracing.task_metrics(os.path.join(events, f)))
        metrics = tracing.per_layer(tracer, tasks, session_s)
        record["per_layer"] = metrics
        record["traced_e2e"] = e2e
        record["tracing_overhead"] = _overhead(base + ".json", e2e)
        path = base + "-trace.json"
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        path = base + ".json"
    record["metrics"] = metrics
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"probes": probes, "errors": wl.errors[:10],
                      "record": os.path.relpath(path, ROOT)}))
    return {"correct": not wl.errors and bool(op_s), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _overhead(untraced_path: str, traced: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, as a share of the
    untraced value, against the last untraced run of the same workload
    and seed."""
    if not os.path.exists(untraced_path):
        return {"note": "no untraced run of this workload and seed yet"}
    with open(untraced_path) as fh:
        base = json.load(fh)["metrics"]
    return {k: {"untraced": base[k]["value"], "traced": v,
                "change": v / base[k]["value"] - 1}
            for k, v in traced.items() if k in base and base[k]["value"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "trec_run"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "luc4ir_spark")):
        print(f"perfbench: no luc4ir_spark package under {ROOT}; run from "
              "the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
