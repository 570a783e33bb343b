"""Benchmark entry point.

    python3 perfbench/run.py --workload logs --seed 1 --seconds 20 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates
the seed's inputs unless cached (perfbench/gen.py), runs one harness JVM,
checks its answers (perfbench/check.py) and prints one JSON result as the
last line of stdout. Spark's own output goes to .bench_build/logs/."""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170     # the whole command must end within 180 s
KEEP_SEEDS = 12      # cached input sets kept per workload


def prune_cache(workload, keep):
    root = os.path.join(gen.DATA, workload)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in [d for d in dirs if d != keep][KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    data = gen.cached(cp, a.workload, a.seed)
    prune_cache(a.workload, data)

    work = os.path.join(build.BUILD, "work", a.workload)
    result = os.path.join(build.BUILD, f"result-{a.workload}.json")
    if os.path.exists(result):
        os.remove(result)
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = build.java(cp, "graftbench.Bench",
                     [a.workload, data, work, a.seconds, a.trace, result], cds=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)

        def stop(*_):
            proc.kill()
            proc.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"run: harness exceeded the deadline; log {log}\n")
            stop()
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"run: harness exited with {rc}; log {log}")
    build.keep_cds()

    with open(result) as f:
        res = json.load(f)
    faults = list(res["inconsistent"])
    actual = os.path.join(work, "actual.json")
    faults += check.check(a.workload, data, actual)
    for fault in faults:
        sys.stderr.write(f"check: {fault}\n")
    sys.stderr.write(f"run: {res['rounds']} rounds, log {log}\n")
    print(json.dumps({"correct": not faults, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}), flush=True)


if __name__ == "__main__":
    main()
