"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 [--workloads ingest trec_run]
        [--log runs.jsonl]
    python3 perfbench/spread.py --summarize runs.jsonl [runs2.jsonl]

Each run is untraced and lasts the benchmark's own ``run_seconds`` from
BENCHMARK.json. For each workload and metric it prints the median over
seeds and the distance between the first and third quartiles as a share
of the median (``statistics.quantiles(values, n=4)``), plus each run's
wall time.
Given two logs it also prints how far the second set's median moved from
the first's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_all(workloads, seeds, log) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    rows = []
    for w in workloads:
        for seed in seeds:
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            row = {"workload": w, "seed": seed, "rc": p.returncode,
                   "wall_s": time.perf_counter() - t0,
                   "result": json.loads(lines[-1]) if lines else None}
            rows.append(row)
            if log:
                with open(log, "a") as fh:
                    fh.write(json.dumps(row) + "\n")
            print(json.dumps({k: row[k] for k in ("workload", "seed", "rc",
                                                  "wall_s")}), flush=True)
    return rows


def summarize(rows: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for w in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == w and r["result"]]
        metrics: dict[str, list[float]] = {}
        for r in mine:
            for m, v in r["result"]["metrics"].items():
                metrics.setdefault(m, []).append(v["value"])
        s = {"runs": len(mine),
             "correct": all(r["result"]["correct"] for r in mine),
             "failed_share": sorted({r["result"]["failed"]
                                     / r["result"]["attempted"]
                                     for r in mine}),
             "wall_s": [round(r["wall_s"], 1) for r in mine]}
        for m, vals in metrics.items():
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            s[m] = {"median": med, "spread": (q[2] - q[0]) / med if med else 0}
        out[w] = s
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="+", default=["ingest", "trec_run"])
    ap.add_argument("--log")
    ap.add_argument("--summarize", nargs="+")
    a = ap.parse_args()
    if a.summarize:
        sets = []
        for path in a.summarize:
            with open(path) as fh:
                sets.append(summarize([json.loads(x) for x in fh]))
    else:
        sets = [summarize(run_all(a.workloads, _seeds(a.seeds), a.log))]
    print(json.dumps(sets, indent=1))
    if len(sets) == 2:
        for w, s in sets[1].items():
            for m, v in s.items():
                if isinstance(v, dict) and m in sets[0].get(w, {}):
                    base = sets[0][w][m]["median"]
                    print(f"{w} {m}: second/first median "
                          f"{v['median'] / base:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
