#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    # ten seeds per workload: median, quartiles and spread of every metric
    python3 perfbench/spread.py --seeds 1-10 --workloads sybil_query,catalog_light

    # the same seed twice, traced: which per-layer counts repeat exactly
    python3 perfbench/spread.py --seeds 7,7 --trace 1

The spread of a metric is (Q3 - Q1) / median over its runs, with quartiles
as statistics.quantiles(values, n=4) gives them. Each run's result line is
appended to --log (JSON lines) so a summary can be redone without rerunning.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "construct.jobs",
          "cache.hits", "cache.misses", "digest.files_written", "table.block_dirs")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}")
    return json.loads(lines[-1])


def summary(rows):
    """{metric: (median, q1, q3, spread)} over result lines."""
    out = {}
    for m in rows[0]["metrics"]:
        v = [r["metrics"][m]["value"] for r in rows]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
        out[m] = (med, q1, q3, (q3 - q1) / med if med else 0.0)
    return out


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(HERE, "out", "spread.jsonl"))
    a = ap.parse_args()
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        rows = []
        for s in seeds(a.seeds):
            line = run(w, s, a.seconds, a.trace)
            rows.append(line)
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "trace": a.trace, **line}) + "\n")
        print(f"== {w}: {len(rows)} runs, seeds {a.seeds}, trace {a.trace}")
        for m, (med, q1, q3, sp) in summary(rows).items():
            b = bounds.get(m)
            flag = "" if b is None else (" ok" if sp < b / 3 else f" ABOVE bound/3 ({b / 3:.3f})")
            print(f"  {m:26s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {sp:7.3%}{flag}")
        if a.trace and len(set(seeds(a.seeds))) == 1:
            for m in COUNTS:
                vals = [r["metrics"][m]["value"] for r in rows if m in r["metrics"]]
                print(f"  repeat {m:24s} {'exact' if len(set(vals)) <= 1 else 'VARIES'} {vals}")


if __name__ == "__main__":
    main()
