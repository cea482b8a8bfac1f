"""Write gates.json (the gates_tail list and its expected results) from a
discovery run.

    python3 perfbench/run.py --record <record.json>
    python3 perfbench/select_gates.py <record.json> [--out perfbench/gates.json]

<record.json> holds, for every SparkEntry gate run cold and then warm on
perfbench/data/sf0.1, its rows, digest, timings and marker-gated artifact
roots.

gates_tail is drawn from the gates under 1 s in bench/bench_sf0.1.json:
- artifact readers: for each distinct set of marker-gated roots, the gate
  whose recorded cold run was cheapest; then the ARTIFACT_GATES cheapest
  of these. They run warm in the workload, reading their artifacts.
- a seeded draw of TAIL_PER_FAMILY gates from each family (by name) among
  the other gates.

Only gates whose two recorded executions agreed (rows and digest) and
that return at least one row are eligible.
"""
import argparse
import json
import os
import random
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_PER_FAMILY = 2
ARTIFACT_GATES = 3
SEED = 16
FAMILIES = [
    ("streaming", r"stream"),
    ("vector", r"ann|knn|ivf|pq|codebook|embedding|hamming|sq8|matryoshka|"
               r"probe|kmeans|recall|centroid|maxsim|quantiz|rerank|lsh"),
    ("text", r"token|text|ngram|bpe|tfidf|bm25|minhash|winnow|dedup|scrub|"
             r"pii|lang|fingerprint|regexp|string|unicode|url|markup|"
             r"boilerplate|stopword|decontam|repetition|quality|zipf|inverted"),
    ("json_time", r"json|variant|time|date|asof|session|window|interval|"
                  r"range|spine|gap|rolling|cohort|funnel|extract|struct|map|"
                  r"array|explode"),
    ("relational", r"."),
]


def family(name):
    return next(f for f, rx in FAMILIES if re.search(rx, name))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("record")
    ap.add_argument("--out", default=os.path.join(HERE, "gates.json"))
    a = ap.parse_args()
    rec = json.load(open(a.record))
    ok = {n: r for n, r in rec.items() if r.get("stable") and r["rows"] > 0}
    times = json.load(open(os.path.join(ROOT, "bench", "bench_sf0.1.json")))["queries"]
    sub = sorted(n for n, t in times.items() if t is not None and t < 1 and n in ok)
    kinds = {}
    for n in sub:
        if ok[n]["roots"]:
            k = tuple(ok[n]["roots"])
            if k not in kinds or ok[n]["cold_ms"] < ok[kinds[k]]["cold_ms"]:
                kinds[k] = n
    readers = sorted(kinds.values(), key=lambda n: ok[n]["cold_ms"])
    rng = random.Random(SEED)
    tail = set(readers[:ARTIFACT_GATES])
    for fam, _ in FAMILIES:
        pool = [n for n in sub if family(n) == fam and not ok[n]["roots"]]
        tail.update(rng.sample(pool, min(TAIL_PER_FAMILY, len(pool))))
    out = {
        "workloads": {"gates_tail": sorted(tail)},
        "expected": {n: {k: ok[n][k] for k in ("rows", "digest", "roots")}
                     for n in sorted(tail)},
    }
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for w, ns in out["workloads"].items():
        print(w, len(ns), " ".join(ns))


if __name__ == "__main__":
    main()
