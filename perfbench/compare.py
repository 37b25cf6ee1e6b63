#!/usr/bin/env python3
"""Compare a parent and a change with the benchmark.

    python3 perfbench/compare.py run --parent DIR --change DIR \
        --workloads prices_daily,graph_iterate [--pairs 10] [--first-seed 5000] --out runs.json
    python3 perfbench/compare.py report runs.json

`run` makes alternating pairs: pair i runs both checkouts on seed
first_seed + i, the parent first when i is even and the change first when
i is odd. Each checkout runs its own perfbench/run.py, with the run length
of the change's BENCHMARK.json.

`report` prints one row per workload. For each end-to-end metric:
  gain        the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, in the better direction;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's spread (IQR over median) is wider than the bound
              and not every change run is better than every parent run;
  same        otherwise.
A gain needs at least 10 pairs.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

from steady import run_once

MIN_PAIRS = 10


def cmd_run(args):
    spec = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    out = {"parent": args.parent, "change": args.change, "pairs": {}}
    for w in args.workloads.split(","):
        pairs = []
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                root = Path(args.parent if side == "parent" else args.change)
                pair[side] = run_once(w, seed, spec["run_seconds"], 0, root=root)["metrics"]
            print(f"{w} pair {i} (seed {seed}) done", file=sys.stderr, flush=True)
            pairs.append(pair)
        out["pairs"][w] = pairs
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


def quartiles(v):
    q1, _, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(metric, pairs):
    name, lower = metric["name"], metric["better"] == "lower"
    p = [x["parent"][name]["value"] for x in pairs]
    c = [x["change"][name]["value"] for x in pairs]
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    wins = sum(1 for a, b in zip(c, p) if better(a, b))
    (pq1, pm, pq3), (_, cm, _) = quartiles(p), quartiles(c)
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    every = all(better(a, b) for a in c for b in p)
    if len(pairs) >= MIN_PAIRS and wins >= 0.9 * len(pairs) and better(cm, pm) \
            and abs(cm - pm) > pq3 - pq1:
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    elif (pq3 - pq1) / pm > metric["bound"] and not every:
        v = "unresolved"
    else:
        v = "same"
    return f"{name} {v} ({pm:.4g} [{pq1:.4g}, {pq3:.4g}] -> {cm:.4g}, wins {wins}/{len(pairs)})"


def cmd_report(args):
    data = json.loads(Path(args.file).read_text())
    spec = json.loads((Path(data["change"]) / "BENCHMARK.json").read_text())
    for w, pairs in data["pairs"].items():
        print(f"{w}: " + "; ".join(verdict(m, pairs) for m in spec["end_to_end"]))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", required=True)
    r.add_argument("--pairs", type=int, default=MIN_PAIRS)
    r.add_argument("--first-seed", type=int, default=5000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("file")
    args = ap.parse_args()
    cmd_run(args) if args.cmd == "run" else cmd_report(args)


if __name__ == "__main__":
    main()
