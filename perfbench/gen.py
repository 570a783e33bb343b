"""Generator command: builds one workload's inputs and expected answers for
a seed, anew, under .bench_data/<workload>/seed-<n>/.

    python3 perfbench/gen.py --workload logs --seed 7

The answers come from the generator's own tally of the records it wrote
(perfbench/harness/Gen.scala), never from graft."""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("logs", "corpus-clean")
DATA = os.path.join(build.ROOT, ".bench_data")


GEN_SOURCES = [os.path.join(build.ROOT, "perfbench", "harness", f)
               for f in ("Gen.scala", "Logs.scala", "Json.scala")]


def gen_stamp():
    """A digest of the generator's sources: a cached set made by another
    generator is made anew."""
    h = hashlib.sha256()
    for p in GEN_SOURCES:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def data_dir(workload, seed):
    return os.path.join(DATA, workload, f"seed-{seed}")


def generate(cp, workload, seed):
    """(Re)build the inputs of one workload and seed; returns their dir."""
    final = data_dir(workload, seed)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run(build.java(cp, "graftbench.Gen", [workload, seed, tmp], heap="2g"),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"gen: generator failed for {workload} seed {seed}")
    with open(os.path.join(tmp, "gen.stamp"), "w") as f:
        f.write(gen_stamp())
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def cached(cp, workload, seed):
    d = data_dir(workload, seed)
    try:
        with open(os.path.join(d, "gen.stamp")) as f:
            fresh = f.read() == gen_stamp()
    except OSError:
        fresh = False
    return d if fresh else generate(cp, workload, seed)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(generate(build.build(), a.workload, a.seed))
