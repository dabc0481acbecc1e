#!/usr/bin/env python3
"""Steadiness runs: ten untraced runs of every workload, each with another
seed, written to perfbench/results/steady_<set>.json.

    python3 perfbench/steady.py 1      # seeds 1001-1010
    python3 perfbench/steady.py 2      # seeds 2001-2010

For each workload and end-to-end metric the file holds the ten values,
their median and their spread: (q3 - q1) / median, with the quartiles
of Python's `statistics.quantiles(values, n=4)`. When the other set's
file exists, `vs_other_set` gives, per metric, how much worse this set's
median is than the other's, as a share of the other's (negative: better).
Run from the root of an engine checkout.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("tail", "backfill", "corpus")
SECONDS = 12
RUNS = 10


def main():
    if len(sys.argv) != 2 or sys.argv[1] not in ("1", "2"):
        sys.exit("usage: steady.py 1|2")
    which = int(sys.argv[1])
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    out = {"seconds": SECONDS, "workloads": {}}
    for w in WORKLOADS:
        runs = []
        for seed in range(which * 1000 + 1, which * 1000 + RUNS + 1):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            lines = p.stdout.decode().strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit("%s seed %d failed (exit %d)" % (w, seed, p.returncode))
            last = json.loads(lines[-1])
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": time.time() - t0,
                         "correct": last["correct"], "attempted": last["attempted"],
                         "failed": last["failed"],
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()}})
            print(w, seed, "exit", p.returncode, "correct", last["correct"],
                  {k: round(v, 3) for k, v in runs[-1]["metrics"].items()}, flush=True)
        summary = {}
        for k in better:
            vals = [r["metrics"][k] for r in runs]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            summary[k] = {"median": med, "spread": (q[2] - q[0]) / med}
        out["workloads"][w] = {"runs": runs, "summary": summary,
                               "mean_wall_s": statistics.mean(r["wall_s"] for r in runs)}
    other = os.path.join(HERE, "results", "steady_%d.json" % (3 - which))
    if os.path.isfile(other):
        with open(other) as f:
            prev = json.load(f)["workloads"]
        for w, d in out["workloads"].items():
            d["vs_other_set"] = {}
            for k, s in d["summary"].items():
                m0 = prev[w]["summary"][k]["median"]
                worse = (s["median"] - m0) / m0
                d["vs_other_set"][k] = worse if better[k] == "lower" else -worse
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "steady_%d.json" % which), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, d in out["workloads"].items():
        print(w, {k: "median %.4g spread %.3f" % (s["median"], s["spread"])
                  for k, s in d["summary"].items()}, d.get("vs_other_set", ""))


if __name__ == "__main__":
    main()
