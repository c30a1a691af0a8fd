#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Collect runs, alternating which side goes first for each seed:

    python3 perfbench/compare.py run --parent ../graft-parent --change . \\
        --workload commit_churn --seeds 1-10 --out .perfbench/cmp

Each side is a checkout holding perfbench/; the runs of one side are
stored as JSON lines in <out>/<side>.jsonl. Then report:

    python3 perfbench/compare.py report .perfbench/cmp

For every workload and end-to-end metric the report prints each side's
median and quartiles, the fraction of seed-matched pairs the change won,
and a verdict:

  improved       the change won at least 9/10 of the pairs and the medians
                 differ by more than the parent's quartile spread
  worse          the change's median is worse than the parent's by more
                 than the metric's bound in BENCHMARK.json
  unresolved     the parent's own spread exceeds the bound, and not every
                 change run beats every parent run
  within bound   otherwise

With fewer than ten seed-matched pairs the verdict is `too few pairs`.

A `FAIL-FRAC ROSE` flag marks a workload whose share of failed ops grew.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10  # the least number of parent/change pairs a verdict rests on


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds):
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    result.update({"workload": workload, "seed": seed, "exit": proc.returncode})
    return result


def cmd_run(a):
    bench = load_benchmark(os.path.join(a.change, "BENCHMARK.json"))
    os.makedirs(a.out, exist_ok=True)
    sides = [("parent", a.parent), ("change", a.change)]
    for i, seed in enumerate(a.seeds):
        order = sides if i % 2 == 0 else sides[::-1]
        for name, checkout in order:
            r = run_one(checkout, a.workload, seed, bench["run_seconds"])
            with open(os.path.join(a.out, f"{name}.jsonl"), "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"{name} seed {seed}: exit {r['exit']}", file=sys.stderr)


def load_benchmark(path):
    with open(path) as f:
        return json.load(f)


def load_side(path):
    runs = []
    if os.path.exists(path):
        with open(path) as f:
            runs = [json.loads(ln) for ln in f if ln.strip()]
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(parent, change, pairs, better, bound):
    sign = -1.0 if better == "lower" else 1.0  # positive = change is better
    p_lo, p_med, p_hi = quartiles(parent)
    _, c_med, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = (p_hi - p_lo) / abs(p_med) if p_med else float("inf")
    worse_by = -sign * (c_med - p_med) / abs(p_med) if p_med else 0.0
    if len(pairs) < MIN_PAIRS:
        return won, f"too few pairs (<{MIN_PAIRS})"
    if won >= 0.9 and sign * (c_med - p_med) > (p_hi - p_lo):
        return won, "improved"
    if worse_by > bound:
        return won, "worse"
    every_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not every_better:
        return won, "unresolved"
    return won, "within bound"


def cmd_report(a):
    bench = load_benchmark(a.benchmark)
    parent = load_side(os.path.join(a.dir, "parent.jsonl"))
    change = load_side(os.path.join(a.dir, "change.jsonl"))
    workloads = sorted({r["workload"] for r in parent + change})
    print(f"{'workload':18} {'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won':>5}  verdict")
    for w in workloads:
        pw = [r for r in parent if r["workload"] == w]
        cw = [r for r in change if r["workload"] == w]
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = {r["seed"]: r["metrics"][name]["value"] for r in pw if name in r["metrics"]}
            cv = {r["seed"]: r["metrics"][name]["value"] for r in cw if name in r["metrics"]}
            if not pv or not cv:
                print(f"{w:18} {name:18} missing runs")
                continue
            pairs = [(pv[s], cv[s]) for s in sorted(pv) if s in cv]
            won, v = verdict(list(pv.values()), list(cv.values()), pairs, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:18} {name:18} {fmt(quartiles(list(pv.values()))):>30} "
                  f"{fmt(quartiles(list(cv.values()))):>30} {won:5.2f}  {v}")
        frac = lambda rs: sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
        if frac(cw) > frac(pw):
            print(f"{w:18} FAIL-FRAC ROSE: {frac(pw):.4f} -> {frac(cw):.4f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect alternating parent/change runs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="compare the collected runs")
    p.add_argument("dir")
    p.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
    else:
        cmd_report(a)


if __name__ == "__main__":
    main()
