#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread (interquartile range over median).

    python3 perfbench/steady.py --workloads prices_daily,index_serve --seeds 1-10 \
        [--trace] [--out perfbench/results/head.json]

Without --trace it runs the end-to-end metrics; with --trace it runs the
traced mode, and, when the output file already holds untraced runs of the
same workload, reports the tracing overhead: the traced median of
`trace.wall_s` against the untraced median of `wall_s`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
PHASES = ["session_s", "gen_s", "prepare_s", "warmup_s", "measured_s", "pass_s"]
ROOT = HERE.parent


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def run_once(workload, seed, seconds, trace, root=ROOT):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    elapsed = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["elapsed_s"] = elapsed
    res["seed"] = seed
    record = json.loads((root / ".bench_build" / "run" / "result.json").read_text())
    res["phases"] = {k: record[k] for k in PHASES}
    return res


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else 0.0, "n": len(values)}


def summarize(runs):
    names = runs[0]["metrics"].keys()
    return {m: summary([r["metrics"][m]["value"] for r in runs]) for m in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    mode = "traced" if args.trace else "untraced"
    store = json.loads(Path(args.out).read_text()) if args.out and Path(args.out).exists() else {}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            r = run_once(w, seed, spec["run_seconds"], int(args.trace))
            print(f"{w} seed {seed}: {r['elapsed_s']:.1f} s, correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
            runs.append(r)
        stats = summarize(runs)
        entry = store.setdefault(w, {})
        entry[mode] = {"runs": runs, "summary": stats,
                       "elapsed_s": summary([r["elapsed_s"] for r in runs])}
        if args.trace and "untraced" in entry:
            base = entry["untraced"]["summary"]["wall_s"]["median"]
            entry["tracing_overhead"] = stats["trace.wall_s"]["median"] / base - 1
        print(f"== {w} ({mode}, {len(runs)} runs, median run "
              f"{entry[mode]['elapsed_s']['median']:.1f} s)")
        for m, s in stats.items():
            b = bounds.get(m)
            flag = "" if b is None else ("  ok" if s["spread"] < b / 3 else "  WIDE")
            print(f"  {m:<30} median {s['median']:>12.5g}  q1 {s['q1']:>12.5g}  "
                  f"q3 {s['q3']:>12.5g}  spread {s['spread']:6.2%}"
                  f"{'' if b is None else f'  bound {b:.0%}'}{flag}")
        if "tracing_overhead" in entry:
            print(f"  tracing overhead on wall_s: {entry['tracing_overhead']:+.2%}")
        if args.out:
            Path(args.out).write_text(json.dumps(store, indent=1) + "\n")


if __name__ == "__main__":
    main()
