"""Self-test of the checker and of the result line.

    python3 perfbench/selftest.py [--seed N]

For each workload: one untraced run, whose last stdout line must parse as
the result object with every end-to-end metric of BENCHMARK.json and
correct=true; then the run's answers are corrupted (one count changed,
one survivor added, ...) and the checker must reject each corruption.
One traced run must carry every per-layer metric. Exits non-zero on the
first miss."""
import argparse
import copy
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))


def run(workload, seed, trace):
    out = subprocess.run([sys.executable, os.path.join(build.ROOT, "perfbench", "run.py"),
                          "--workload", workload, "--seed", str(seed), "--seconds", "1",
                          "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"selftest: {workload} run exited {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"selftest: {workload} result keys {sorted(res)}")
    want = SPEC["per_layer" if trace else "end_to_end"]
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            sys.exit(f"selftest: {workload} lacks metric {m['name']} [{m['unit']}]: {got}")
    if not res["correct"] or res["attempted"] < 1:
        sys.exit(f"selftest: {workload} run not correct: {res}")
    return res


def bump_count(rows):
    """One count changed: the last value of the first row."""
    rows[0][-1] += 1


def corruptions(workload, actual):
    """(name, corrupted answers) pairs, each of which must fail."""
    out = []

    def mut(name, f):
        a = copy.deepcopy(actual)
        f(a)
        out.append((name, a))

    if workload == "logs":
        i = next(i for i, q in enumerate(actual["scan"]["queries"]) if q and i > 0)
        mut("scan count changed", lambda a: bump_count(a["scan"]["queries"][i]))
        mut("conservation count changed", lambda a: bump_count(a["scan"]["queries"][0]))
        mut("scan row added", lambda a: a["scan"]["queries"][i].append(list(a["scan"]["queries"][i][0])))
        j = next(j for j, q in enumerate(actual["index"]["after_update"]) if q)
        mut("index count changed", lambda a: bump_count(a["index"]["after_update"][j]))
        mut("stream window count changed", lambda a: bump_count(a["stream"]["sink"]))
        mut("stream served count changed", lambda a: bump_count(a["stream"]["served"][0]))
    else:
        surv = set(actual["survivors"])
        dropped = next(i for i in range(len(surv) * 2) if i not in surv)
        mut("survivor added", lambda a: a["survivors"].append(dropped) or a["survivors"].sort())
        mut("exact keeper removed", lambda a: a["exact_keepers"].pop())
        mut("verified jaccard changed", lambda a: a["verified"][0].__setitem__(2, a["verified"][0][2] - 0.01))
        # every third candidate pair lost, and with it its verified pair and
        # the survivors that pair dropped: only the recall check can see it
        def lose_candidates(a):
            lost = {tuple(p) for p in a["candidates"][::3]}
            a["candidates"] = [p for p in a["candidates"] if tuple(p) not in lost]
            a["verified"] = [v for v in a["verified"] if (v[0], v[1]) not in lost]
            keep = set(a["exact_keepers"])
            losers = {b for x, b, _ in a["verified"] if x in keep and b in keep}
            a["survivors"] = sorted(keep - losers)
        mut("a third of the candidate pairs lost", lose_candidates)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    a = ap.parse_args()
    for w in gen.WORKLOADS:
        run(w, a.seed, 0)
        data = gen.data_dir(w, a.seed)
        with open(os.path.join(build.BUILD, "work", w, "actual.json")) as f:
            actual = json.load(f)
        expected = json.load(open(os.path.join(data, "expected.json")))
        ops = json.load(open(os.path.join(data, "ops.json")))
        if check.check_answers(w, data, expected, actual, ops):
            sys.exit(f"selftest: {w} answers fail the check before corruption")
        for name, bad in corruptions(w, actual):
            faults = check.check_answers(w, data, expected, bad, ops)
            if not faults:
                sys.exit(f"selftest: {w}: checker accepted '{name}'")
            if name.startswith("a third of the candidate") and not any("recall" in f for f in faults):
                sys.exit(f"selftest: {w}: '{name}' not caught by the recall check: {faults}")
            print(f"selftest: {w}: '{name}' rejected: {faults[0][:100]}")
    run("logs", a.seed, 1)
    print("selftest: traced run carries every per-layer metric")
    print("selftest: PASS")


if __name__ == "__main__":
    main()
