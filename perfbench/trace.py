#!/usr/bin/env python3
"""Traced runs of every workload, written under perfbench/results.

    python3 perfbench/trace.py

For each workload: one untraced run and two traced runs at seed 7 and the
benchmark's 12 s.
`results/trace_<workload>.json` holds the first traced run's spans, span
self times and per-layer metrics, plus
- `trace_overhead`: traced minus untraced end-to-end metrics;
- `repeat`: each exact count of the two traced runs side by side (listener
  job/stage/task counts and filesystem bytes written must be equal).
Run from the root of an engine checkout.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["streaming.jobs_per_epoch", "streaming.stages_per_epoch",
          "streaming.tasks_per_epoch", "streaming.write_bytes_per_epoch",
          "sinks.lookup_jobs", "analytics.shuffle_bytes"]
SEED = 7
SECONDS = 12
WORKLOADS = ("tail", "backfill", "corpus")


def run(workload, trace, out=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace)]
    if out:
        cmd += ["--trace-out", out]
    p = subprocess.run(cmd, stdout=subprocess.PIPE)
    lines = p.stdout.decode().strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit("%s trace=%d failed (exit %d)" % (workload, trace, p.returncode))
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main():
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in WORKLOADS:
        path = os.path.join(HERE, "results", "trace_%s.json" % w)
        _, plain = run(w, 0)
        rep1, traced = run(w, 1, path)
        rep2, traced2 = run(w, 1)
        with open(path) as f:
            doc = json.load(f)
        doc["e2e_untraced"] = plain["metrics"]
        doc["trace_overhead"] = {
            k: {"value": doc["e2e_traced"][k]["value"] - v["value"], "unit": v["unit"]}
            for k, v in plain["metrics"].items()}
        rep = {k: [traced["metrics"][k]["value"], traced2["metrics"][k]["value"]]
               for k in COUNTS}
        rep["write_bytes_per_event"] = [rep1.get("write_bytes_per_event", 0),
                                        rep2.get("write_bytes_per_event", 0)]
        doc["repeat"] = rep
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
        same = all(v[0] == v[1] for v in rep.values())
        print("%s: traced and untraced runs done; counts repeat: %s" % (w, same))


if __name__ == "__main__":
    main()
