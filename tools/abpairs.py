#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

Usage:
  abpairs.py --parent DIR --change DIR --workload W --seeds 101-110
             [--seconds 10] [--out runs.jsonl]
  abpairs.py --report runs.jsonl [--workload W]

DIR is a checkout of each commit (a `git clone` or `git archive` copy).
Pairs are keyed by seed, so give each pair of a workload its own seed.
Pair k runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` in both checkouts, one after the other, parent first on even k
and change first on odd k. Each run's result line is appended to --out as
one JSON record, so a report can be printed again with --report.

Per end-to-end metric (names, direction and bound from the change's
BENCHMARK.json) it prints each side's median and quartiles
(statistics.quantiles, n=4), the pairs the change won (ties count for
neither side), and a verdict:
  gain        at least ten pairs, wins >= 9/10 of them, and the medians
              differ, in the better direction, by more than the parent's
              quartile spread
  too few pairs
              the gain conditions hold on fewer than ten pairs
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  a side's spread (quartile distance over median) exceeds the
              bound and not every change run beats every parent run
  within      none of the above
Failed operations are reported per side; a gain does not count when the
change fails more operations than the parent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    results = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} in {checkout}")
    return json.loads(results[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(records, metrics, workload):
    pairs = {}
    for r in records:
        if r["workload"] == workload:
            pairs.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for _, p in sorted(pairs.items()) if len(p) == 2]
    if not pairs:
        print(f"no complete pair for workload {workload}")
        return
    failed = {s: sum(p[s]["failed"] for p in pairs) for s in ("parent", "change")}
    print(f"workload={workload} pairs={len(pairs)} seeds="
          + ",".join(str(p["parent"]["seed"]) for p in pairs)
          + f" failed parent={failed['parent']} change={failed['change']}")
    print(f"{'metric':15s} {'parent median [q1, q3]':30s} "
          f"{'change median [q1, q3]':30s} {'delta':>8s} {'wins':>6s}  verdict")
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        better = (lambda c, q: c < q) if lower else (lambda c, q: c > q)
        wins = sum(better(p["change"]["metrics"][name]["value"],
                          p["parent"]["metrics"][name]["value"]) for p in pairs)
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        gap = (pm - cm) if lower else (cm - pm)
        worse_by = -gap / pm if pm else 0.0
        spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
        if (wins >= 0.9 * len(pairs) and gap > p3 - p1
                and failed["change"] <= failed["parent"]):
            # a gain claim needs at least ten pairs (choosing-metrics §8)
            verdict = "gain" if len(pairs) >= 10 else "too few pairs"
        elif worse_by > bound:
            verdict = "worse"
        elif spread > bound and not all(better(c, q) for c in chg for q in par):
            verdict = "unresolved"
        else:
            verdict = "within"
        delta = (cm - pm) / pm * 100 if pm else 0.0
        print(f"{name:15s} {pm:10.4g} [{p1:.4g}, {p3:.4g}]".ljust(46)
              + f" {cm:10.4g} [{c1:.4g}, {c3:.4g}]".ljust(31)
              + f" {delta:+7.1f}% {wins:3d}/{len(pairs):<2d}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out")
    ap.add_argument("--report", metavar="RUNS_JSONL")
    a = ap.parse_args()

    if a.report:
        with open(a.report) as fh:
            records = [json.loads(l) for l in fh if l.strip()]
        bench_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("--parent, --change, --workload and --seeds are required")
        records = []
        out = open(a.out, "a") if a.out else None
        for k, seed in enumerate(parse_seeds(a.seeds)):
            order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_once(getattr(a, side), a.workload, seed, a.seconds)
                rec = {"workload": a.workload, "pair": k, "seed": seed,
                       "side": side, "first": order[0], "failed": res["failed"],
                       "attempted": res["attempted"], "metrics": res["metrics"]}
                records.append(rec)
                if out:
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                sys.stderr.write(f"[abpairs] pair {k} seed {seed} {side}: "
                                 f"suite_s={res['metrics']['suite_s']['value']:.4f} "
                                 f"failed={res['failed']}\n")
        bench_dir = a.change
    with open(os.path.join(bench_dir, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    for w in sorted({r["workload"] for r in records}):
        if a.workload in (None, w):
            report(records, metrics, w)


if __name__ == "__main__":
    sys.exit(main())
