"""Checker: compares the program's answers (actual.json, written by the
harness) with the generator's tally (expected.json) and with properties
of the method. Returns a list of faults; empty means correct.

    python3 perfbench/check.py <workload> <data dir> <actual.json>

An answer of null is an operation that failed (counted in `failed`);
the check speaks of the operations that did not fail."""
import collections
import json
import os
import re
import sys

MIN_JACCARD = 0.6          # Dedup.MinJaccard, the verify threshold
BANDS, ROWS = 8, 2         # Dedup.Bands x Dedup.RowsPerBand
SHINGLE_N = 3              # Dedup.ShingleN, the word-shingle width
RECALL_SLACK = 0.05        # allowed shortfall below the banding bound
WINDOW_S = 3600            # the stream's window


def _rows(rows):
    return collections.Counter(json.dumps(r) for r in rows)


def _same_rows(name, want, got, faults):
    if got is None:
        return
    w, g = _rows(want), _rows(got)
    if w != g:
        missing = list((w - g).elements())[:3]
        extra = list((g - w).elements())[:3]
        faults.append(f"{name}: {sum((w - g).values())} rows missing {missing}, "
                      f"{sum((g - w).values())} unexpected {extra}")


def check_logs_scan(expected, actual, ops):
    faults = []
    for i, (want, got) in enumerate(zip(expected["queries"], actual["queries"])):
        _same_rows(f"scan query {i}", want, got, faults)
    q0 = actual["queries"][0]
    if q0 is not None and q0 != [[expected["valid_records"]]]:
        faults.append(f"conservation: unbounded count {q0} != {expected['valid_records']} valid records")
    if len(actual["queries"]) != len(expected["queries"]):
        faults.append("scan: answer count differs from query count")
    return faults


def check_logs_index(expected, actual, ops):
    faults = []
    for phase in ("before_update", "after_update"):
        if len(actual[phase]) != len(expected[phase]):
            faults.append(f"index {phase}: answer count differs from query count")
        for i, (want, got) in enumerate(zip(expected[phase], actual[phase])):
            _same_rows(f"index query {i} {phase}", want, got, faults)
    return faults


def check_stream(expected, actual, ops):
    faults = []
    wm_s = actual["watermark_ms"] // 1000
    closed = [r for r in expected["windows"] if r[0] + WINDOW_S <= wm_s]
    sink = actual["sink"]
    if sink is not None:
        late = [r for r in sink if r[0] + WINDOW_S > wm_s]
        if late:
            faults.append(f"stream: {len(late)} sink rows for windows not closed by the watermark")
        _same_rows("stream closed windows", closed, [r for r in sink if r[0] + WINDOW_S <= wm_s], faults)
        total = sum(r[-1] for r in sink)
        if total > min(expected["valid_records"], actual["input_rows"]):
            faults.append(f"stream: sink total {total} exceeds the input")
    if not closed:
        faults.append("stream: the watermark closed no window")
    for i, (q, want, got) in enumerate(zip(ops["queries"], expected["served"], actual["served"])):
        before_s = _iso_s(q["before"])
        if before_s > wm_s:
            faults.append(f"stream served query {i}: bound {q['before']} is past the watermark")
        _same_rows(f"stream served query {i}", want, got, faults)
    return faults


def _iso_s(s):
    import datetime
    return int(datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp())


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text):
    toks = [t for t in _WS.split(text.lower()) if t]
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a, b):
    return len(a & b) / max(len(a | b), 1)


def band_bound(s):
    """P(a pair of Jaccard s shares a band) = 1-(1-s^r)^b."""
    return 1.0 - (1.0 - s ** ROWS) ** BANDS


def check_corpus_clean(expected, actual, ops, data_dir):
    faults = []
    texts = {}
    with open(os.path.join(data_dir, "corpus.jsonl")) as f:
        for line in f:
            d = json.loads(line)
            texts[d["doc_id"]] = d["text"]
    n = expected["docs"]
    family = expected["family"]
    members = collections.defaultdict(list)
    for i, fam in enumerate(family):
        if fam >= 0:
            members[fam].append(i)
    sh = {}

    def S(i):
        if i not in sh:
            sh[i] = shingles(texts[i])
        return sh[i]

    def norm(i):
        return " ".join(t for t in _WS.split(texts[i].lower()) if t)

    if actual["exact_keepers"] is not None and actual["exact_keepers"] != expected["exact_keepers"]:
        faults.append(f"exactKeepers: {len(actual['exact_keepers'])} ids, "
                      f"expected {len(expected['exact_keepers'])}, or other ids")

    cands = actual["candidates"]
    if cands is not None:
        bad = [p for p in cands if not (0 <= p[0] < p[1] < n)]
        if bad:
            faults.append(f"minhashCandidates: {len(bad)} pairs not (a < b) input ids, e.g. {bad[:3]}")
        if len({tuple(p) for p in cands}) != len(cands):
            faults.append("minhashCandidates: repeated pairs")

    verified = actual["verified"]
    if verified is not None:
        for a, b, j in verified:
            exact = jaccard(S(a), S(b))
            if not a < b or abs(exact - j) > 1e-9 or exact < MIN_JACCARD:
                faults.append(f"jaccardVerified: pair ({a},{b}) reports {j}, exact Jaccard {exact}")
                break
        if cands is not None:
            cs = {(p[0], p[1]) for p in cands}
            outside = [(a, b) for a, b, _ in verified if (a, b) not in cs]
            if outside:
                faults.append(f"jaccardVerified: {len(outside)} pairs not among the candidates")

    keep = set(expected["exact_keepers"])
    surv = actual["survivors"]
    if surv is not None:
        s = set(surv)
        if len(s) != len(surv) or not all(0 <= i < n for i in s):
            faults.append("clean: survivors are not distinct input ids")
        dropped = [i for i in range(n) if i not in s]
        if len(s) + len(dropped) != n:
            faults.append("clean: survivors + dropped != input")
        seen = {}
        for i in sorted(s):
            k = norm(i)
            if k in seen:
                faults.append(f"clean: survivors {seen[k]} and {i} are copies")
                break
            seen[k] = i
        for i in dropped:
            fam = family[i]
            if fam < 0 or not any(j < i and jaccard(S(i), S(j)) >= MIN_JACCARD for j in members[fam]):
                faults.append(f"clean: dropped doc {i} has no lower-id family member "
                              f"with Jaccard >= {MIN_JACCARD}")
                break
        # the keep policy: exact keepers minus the higher id of every
        # verified pair between two exact keepers
        if verified is not None:
            losers = {b for a, b, _ in verified if a in keep and b in keep}
            want_s = keep - losers
            if s != want_s:
                faults.append(f"clean: {len(s - want_s)} survivors the keep policy drops, "
                              f"{len(want_s - s)} it keeps missing")
    # near-dup recall of the banding step against its bound, over pairs of
    # exact keepers of one family whose Jaccard passes the threshold: a
    # pair is found when minhashCandidates reports it
    want, got, pairs = 0.0, 0, 0
    found = {(p[0], p[1]) for p in cands} if cands is not None else set()
    for fam, ids in members.items():
        ks = sorted(i for i in ids if i in keep)
        for x in range(len(ks)):
            for y in range(x + 1, len(ks)):
                j = jaccard(S(ks[x]), S(ks[y]))
                if j >= MIN_JACCARD:
                    pairs += 1
                    want += band_bound(j)
                    got += (ks[x], ks[y]) in found
    if cands is None:
        faults.append("minhashCandidates: no answer, so its recall is unchecked")
    elif pairs == 0:
        faults.append("minhashCandidates: the corpus planted no near-duplicate pair above the threshold")
    elif got / pairs < want / pairs - RECALL_SLACK:
        faults.append(f"minhashCandidates: near-dup recall {got}/{pairs} below the banding bound "
                      f"{want / pairs:.4f} - {RECALL_SLACK}")
    return faults


def check(workload, data_dir, actual_path):
    with open(os.path.join(data_dir, "expected.json")) as f:
        expected = json.load(f)
    with open(os.path.join(data_dir, "ops.json")) as f:
        ops = json.load(f)
    with open(actual_path) as f:
        actual = json.load(f)
    return check_answers(workload, data_dir, expected, actual, ops)


def check_answers(workload, data_dir, expected, actual, ops):
    if workload == "corpus-clean":
        return check_corpus_clean(expected, actual, ops, data_dir)
    return (check_logs_scan(expected["scan"], actual["scan"], ops["scan"])
            + check_logs_index(expected["index"], actual["index"], ops["index"])
            + check_stream(expected["stream"], actual["stream"], ops["stream"]))


if __name__ == "__main__":
    faults = check(*sys.argv[1:4])
    for f in faults:
        print("FAIL", f)
    print("PASS" if not faults else f"{len(faults)} faults")
    sys.exit(1 if faults else 0)
