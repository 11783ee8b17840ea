#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent checkout against a change checkout.

Usage (from anywhere):
    python3 tools/bench_pairs.py --parent DIR --change DIR --workload graph \
        --seeds 7-11 [--seconds 8] [--trace 0|1] [--out pairs.json]

For each seed it runs `python3 benchmark/run.py` once in each checkout,
alternating which side goes first (even seeds: parent first), so the
box's own drift falls on both sides alike. Each checkout builds its own
benchmark on its first run. A run that exits non-zero, or reports a
failed or incorrect op, stops the script.

It prints one table in the BENCH_NOTES format: per metric the median
[q1-q3] of each side, the change of the medians, and how many pairs the
change won (by the metric's `better` direction in the change's
BENCHMARK.json). A claimed gain must also clear the parent's own spread:
`|Δ median| > parent q3 - q1` is printed as the last column. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones.
`--out` keeps every run's JSON result.
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
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "benchmark/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit("bench_pairs: %s seed %d exited with %d" % (checkout, seed, r.returncode))
    result = json.loads(lines[-1])
    if not result.get("correct") or result.get("failed"):
        sys.exit("bench_pairs: %s seed %d had failed ops: %s" % (checkout, seed, lines[-1]))
    # {"name": {"value": v, "unit": u}} -> {"name": v}
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(v):
    a = abs(v)
    if a >= 1000:
        return "{:,.0f}".format(v)
    if a >= 100:
        return "%.1f" % v
    return "%.2f" % v


def summary(xs):
    lo, hi = quartiles(xs)
    return "%s [%s–%s]" % (fmt(statistics.median(xs)), fmt(lo), fmt(hi))


def table(workload, seeds, pairs, metrics):
    out = ["| workload | metric | parent | change | Δ | change wins | Δ > parent IQR |",
           "|---|---|---|---|---|---|---|"]
    span = ("%d–%d" % (seeds[0], seeds[-1]) if seeds == list(range(seeds[0], seeds[-1] + 1))
            else ",".join(map(str, seeds)))
    label = "%s (%d pairs, seeds %s)" % (workload, len(pairs), span)
    for name, better in metrics:
        if not all(name in p["metrics"] and name in c["metrics"] for p, c in pairs):
            continue
        par = [p["metrics"][name] for p, _ in pairs]
        chg = [c["metrics"][name] for _, c in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        delta = "%+.1f %%" % (100.0 * (mc - mp) / mp) if mp else "n/a"
        sign = 1 if better == "higher" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        lo, hi = quartiles(par)
        clears = "yes" if abs(mc - mp) > hi - lo else "no"
        out.append("| %s | `%s` | %s | %s | %s | %d/%d | %s |" % (
            label, name, summary(par), summary(chg), delta, wins, len(pairs), clears))
        label = ""
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True, choices=["curate", "graph"])
    ap.add_argument("--seeds", required=True, help="e.g. 7-11 or 3,5,9")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds)
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    pairs = []
    for seed in seeds:
        order = [("parent", a.parent), ("change", a.change)]
        if seed % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, a.workload, seed, a.seconds, a.trace)
            print("bench_pairs: seed %d %s %s" % (seed, side, json.dumps(got[side]["metrics"])),
                  file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seeds": seeds, "trace": a.trace,
                       "pairs": [{"seed": s, "parent": p, "change": c}
                                 for s, (p, c) in zip(seeds, pairs)]}, fh, indent=1)
    print(table(a.workload, seeds, pairs, metrics))


if __name__ == "__main__":
    main()
