#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload cdc_ingest --seeds 1-10 [--traced 3]

For every end-to-end metric it prints the values, the median, the
quartiles (statistics.quantiles(values, n=4)) and the spread: the
distance between the quartiles as a share of the median, next to the
metric's bound in BENCHMARK.json. With --traced N it also makes N traced
runs and prints the tracing overhead: the traced median minus the
untraced median of every end-to-end metric.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"seed {seed} trace {trace} failed:\n{out.stderr[-3000:]}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    full = json.loads((BENCH / ".results" / f"{workload}-{seed}-{trace}.json").read_text())
    print(f"seed {seed} trace {trace}: correct {last['correct']} "
          f"failed {last['failed']}/{last['attempted']} "
          + " ".join(f"{k}={v:.4g}" for k, v in full["end_to_end"].items()), flush=True)
    return full


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    plain = [run(a.workload, s, seconds, 0) for s in seeds(a.seeds)]
    print(f"\n{a.workload}: {len(plain)} runs of {seconds} s")
    for m in spec["end_to_end"]:
        vals = [r["end_to_end"][m["name"]] for r in plain]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"  {m['name']:<18} median {med:.4g} {m['unit']}  q1 {q1:.4g}  q3 {q3:.4g}"
              f"  spread {(q3 - q1) / med:.3f}  bound {m['bound']}")
    bad = [r for r in plain if not r["correct"] or r["failed"]]
    print(f"  runs with a failed check or op: {len(bad)}")
    if a.traced:
        traced = [run(a.workload, s, seconds, 1) for s in seeds(a.seeds)[:a.traced]]
        print(f"  tracing overhead ({len(traced)} traced runs, traced minus untraced median):")
        for m in spec["end_to_end"]:
            t = statistics.median(r["end_to_end"][m["name"]] for r in traced)
            u = statistics.median(r["end_to_end"][m["name"]] for r in plain)
            print(f"    {m['name']:<18} {t - u:+.4g} {m['unit']} ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
