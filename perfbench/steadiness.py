#!/usr/bin/env python3
"""Run a workload once per seed and report how steady its metrics are.

    python3 perfbench/steadiness.py --workload etl_mix --seeds 1-10 --seeds 11-20 [--out DIR]

Each --seeds names one set of runs. With several sets the runs are
interleaved (first seed of each set, then the second, ...), so a drift
in the machine's speed during the session reaches every set alike.
For each set and metric it prints, as a markdown table, the median, the
quartiles (as Python's statistics.quantiles(values, n=4) gives them),
the spread (the distance between the quartiles as a share of the median)
and the bound from BENCHMARK.json; then each later set's medians over
the first set's. With --out it writes every run's metrics and the
summary of each set to DIR/<workload>.seeds<first>-<last>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs):
    names = list(runs[0]["metrics"]) if runs else []
    summary = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None,
                         "unit": runs[0]["metrics"][name]["unit"]}
    return summary


def run_one(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}",
              file=sys.stderr)
        sys.exit(1)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, action="append")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    sets = args.seeds or [seeds("1-10")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = [[] for _ in sets]
    for i in range(max(len(s) for s in sets)):
        for k, s in enumerate(sets):
            if i < len(s):
                res = run_one(spec, args.workload, s[i], args.trace)
                runs[k].append({"seed": s[i], **res})
                print(f"seed {s[i]}: " + ", ".join(f"{n}={v['value']:.4g}"
                                                   for n, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summaries = [summarize(r) for r in runs]
    for s, summary in zip(sets, summaries):
        print(f"\n{args.workload}, {len(s)} runs, seeds {s[0]}-{s[-1]}, "
              f"{spec['run_seconds']} s each\n")
        print("| metric | unit | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        for name, m in summary.items():
            b = bounds.get(name)
            spread = "" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"| `{name}` | {m['unit']} | {m['median']:.4g} | {m['q1']:.4g} | "
                  f"{m['q3']:.4g} | {spread} | {'' if b is None else b} |")
    for s, summary in zip(sets[1:], summaries[1:]):
        print(f"\nseeds {s[0]}-{s[-1]} medians over seeds {sets[0][0]}-{sets[0][-1]}: " +
              ", ".join(f"`{n}` {m['median'] / summaries[0][n]['median']:.3f}"
                        for n, m in summary.items() if summaries[0][n]["median"]))
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        for s, r, summary in zip(sets, runs, summaries):
            path = os.path.join(args.out, f"{args.workload}.seeds{s[0]}-{s[-1]}.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "trace": args.trace,
                           "runs": r, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
