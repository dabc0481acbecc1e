#!/usr/bin/env python3
"""CDC benchmark launcher.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 15 --trace 0

Run from the root of an engine checkout. Builds once (see build.py),
then runs the workload in its own JVM via plain `java`: pinned heap,
`local[k]` with k = min(3, cores - 1), k shuffle partitions, one client
thread, the seed as an argument. Every file the run writes lives under
`.bench_build/` of the checkout; the per-run work directory is deleted
afterwards.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). The line before it is the full
report of the run (every named metric, sample counts, model checks).
`--trace-out FILE` additionally writes the traced run's spans and
per-layer metrics to FILE. Exits nonzero when the build fails, the JVM
fails or any correctness check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark's directory source-only
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tail", "backfill", "corpus")
MARK = "PERFBENCH_RESULT "
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except build.BuildError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2

    # leave one core to the driver thread, the JIT and GC: with every core
    # running tasks, tail's commit medians spread twice as wide across runs
    cores = min(3, max(1, (os.cpu_count() or 2) - 1))
    bdir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bdir, "work-%d" % os.getpid())
    logs = os.path.join(bdir, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace))
    spans = os.path.join(work, "trace.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores), "--trace-file", spans]
    cmd = build.java_cmd(root, classes, "graft.perfbench.Main", args, work)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(work, exist_ok=True)
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.stderr.write("perfbench: JVM timed out; log %s\n" % log)
                return 3
        lines = out.decode(errors="replace").splitlines()
        res = [ln[len(MARK):] for ln in lines if ln.startswith(MARK)]
        if p.returncode != 0 or not res:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.stderr.write("perfbench: JVM exit %d; log %s\n" % (p.returncode, log))
            return 1
        r = json.loads(res[-1])
        if a.trace_out and os.path.isfile(spans):
            os.makedirs(os.path.dirname(os.path.abspath(a.trace_out)), exist_ok=True)
            shutil.copyfile(spans, a.trace_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = r["layer"] if a.trace else r["e2e"]
    print(json.dumps({"report": r["report"]}, sort_keys=True))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.stdout.flush()
    return 0 if r["failed"] == 0 else 1


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    sys.stderr.write("perfbench: %.1f s wall\n" % (time.time() - t0))
    sys.exit(rc)
