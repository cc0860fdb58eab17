#!/usr/bin/env python3
"""Steadiness check: runs the benchmark as two sets of the same code and
prints, for each (workload, metric) pair, each set's median and quartiles
and whether the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --traced 1
    python3 perfbench/steady.py --runs 5 --workloads backlog

Run from the root of a checkout. Set 1 uses seeds seed0..seed0+runs-1,
set 2 seeds seed0+1000 onwards. A pair passes when each set's
interquartile range over its median stays within the metric's bound and
the second set's median is not worse than the first's by more than the
bound. The spread of `setup_s` is printed but not required to stay within
its bound, as in the acceptance rule the benchmark is written for:
`setup_s` is one fresh-process set-up per run (see README.md), so its
spread carries the host's start-up noise; its two medians must still
agree. `steady` marks a spread below a third of the bound. With
`--traced N`, N traced runs per workload follow and the tracing overhead
is printed: the traced run's `trace.*` timings against the untraced
medians of the same metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def run(cmd, workload, seed, seconds, trace):
    out = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds",
                                str(seconds), "--trace", str(trace)],
                         capture_output=True, text=True, cwd=ROOT)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (exit {out.returncode}):\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=2000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    results = {w: [[], []] for w in workloads}
    for s in range(2):
        for w in workloads:
            for i in range(args.runs):
                seed = args.seed0 + 1000 * s + i
                r = run(bench["command"], w, seed, bench["run_seconds"], 0)
                results[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    ok = True
    print(f"\n{'workload':10} {'metric':22} {'set':>3} {'q1':>11} {'median':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        if not all(r["correct"] for rs in results[w] for r in rs):
            ok = False
            print(f"{w}: a run reported correct=false")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, rs in enumerate(results[w]):
                q1, med, q3 = stats([r["metrics"][name]["value"] for r in rs])
                spread = (q3 - q1) / med
                meds.append(med)
                exempt = name == "setup_s"
                verdict = ("steady" if spread < bound / 3 else "within bound" if spread <= bound
                           else "wide (exempt)" if exempt else "TOO WIDE")
                ok &= exempt or spread <= bound
                print(f"{w:10} {name:22} {s + 1:>3} {q1:11.5g} {med:11.5g} {q3:11.5g} "
                      f"{spread:7.3f} {bound:6.2f}  {verdict}")
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= bound
            ok &= agree
            print(f"{w:10} {name:22} set 2 vs 1: {worse:+.3f} "
                  f"{'agree' if agree else 'DISAGREE'}")
    for w in workloads:
        for i in range(args.traced):
            r = run(bench["command"], w, args.seed0 + 5000 + i, bench["run_seconds"], 1)
            for k, v in sorted(r["metrics"].items()):
                base = k[len("trace."):]
                if k.startswith("trace.") and v["value"]:
                    untraced = statistics.median(
                        x["metrics"][base]["value"] for x in results[w][0])
                    print(f"tracing overhead {w} {base}: traced {v['value']:.5g} vs untraced "
                          f"median {untraced:.5g} ({v['value'] / untraced - 1:+.1%})")
    print("\nall pairs agree" if ok else "\nSOME PAIRS FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
