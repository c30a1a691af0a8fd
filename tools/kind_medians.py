#!/usr/bin/env python3
"""Per-op-kind median latency of two benchmark checkouts, side by side.

    python3 tools/kind_medians.py --parent ../parent --change . \\
        --workload commit_churn --seeds 1-10 [--trace 0|1]

Reads each checkout's `.perfbench/out/<workload>-seed<N>-trace<T>.json`
(written by `perfbench/run.py`) for every seed in the range, pools each op
kind's per-run median latency (`context.op_kinds_ms[kind].p50_ms`) across
seeds, and prints, per kind, the median over runs for each side and the
change/parent ratio, plus the median host calibration time (`calib_s`) of
each side, so a shift in host speed shows next to the op kinds it would
move. Runs missing on either side are skipped and named. It only reads
files.
"""
import argparse
import json
import os
import statistics
import sys


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(checkout, workload, seed, trace):
    path = os.path.join(checkout, ".perfbench", "out", f"{workload}-seed{seed}-trace{trace}.json")
    try:
        with open(path) as f:
            return json.load(f)["context"]
    except (OSError, ValueError, KeyError):
        return None


def fmt(ms):
    return "-" if ms is None else f"{ms:.1f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sides = {"parent": a.parent, "change": a.change}
    kinds = {s: {} for s in sides}
    calib = {s: [] for s in sides}
    missing = []
    for seed in a.seeds:
        ctx = {s: load(path, a.workload, seed, a.trace) for s, path in sides.items()}
        if any(c is None for c in ctx.values()):
            missing.append(seed)
            continue
        for s, c in ctx.items():
            calib[s].append(c["calib_s"])
            for kind, v in c.get("op_kinds_ms", {}).items():
                kinds[s].setdefault(kind, []).append(v["p50_ms"])
    runs = len(calib["parent"])
    if runs == 0:
        print(f"no seed has a result on both sides (looked for seeds {a.seeds})", file=sys.stderr)
        return 1

    print(f"{a.workload}, trace {a.trace}: {runs} seed(s) on both sides"
          + (f"; missing on a side: {missing}" if missing else ""))
    print(f"{'kind':<16}{'parent ms':>12}{'change ms':>12}{'ratio':>8}")
    for kind in sorted(set(kinds["parent"]) | set(kinds["change"])):
        p = kinds["parent"].get(kind)
        c = kinds["change"].get(kind)
        pm = statistics.median(p) if p else None
        cm = statistics.median(c) if c else None
        ratio = f"{cm / pm:.3f}" if pm and cm else "-"
        print(f"{kind:<16}{fmt(pm):>12}{fmt(cm):>12}{ratio:>8}")
    pc, cc = statistics.median(calib["parent"]), statistics.median(calib["change"])
    print(f"{'calib_s':<16}{pc:>12.4f}{cc:>12.4f}{cc / pc:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
