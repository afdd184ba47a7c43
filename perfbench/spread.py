"""Run the benchmark over several seeds and report run-to-run spread.

    python3 perfbench/spread.py --workload wave_steady --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload seen_churn --seeds 1 2 3 --traced 1 2

For every end-to-end metric it prints the median, the quartiles (Python's
statistics.quantiles, n=4) and the interquartile distance as a share of the
median next to the metric's bound. With --traced seeds it also runs traced
runs and prints the tracing overhead: how much the traced runs' medians of
the same end-to-end figures differ from the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} trace {trace} exited {p.returncode}:\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    res["notes"] = [x for x in lines[1:-1] if " = " not in x and not x.startswith("span ")]
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--traced", type=int, nargs="*", default=[],
                    help="seeds for traced runs (tracing overhead)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    runs = []
    for s in args.seeds:
        r = run_once(args.workload, s, bench["run_seconds"], 0)
        runs.append(r)
        vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {s}: wall {r['wall_s']:.1f} s correct {r['correct']} "
              f"failed {r['failed']}/{r['attempted']} {vals}", flush=True)
        for line in r["notes"]:
            print(f"    {line}", flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, mean wall "
          f"{statistics.mean(r['wall_s'] for r in runs):.1f} s")
    medians = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med, q1, q3, rel = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
        medians[m["name"]] = med
        flag = "ok" if rel < m["bound"] / 3 else "WIDE"
        print(f"  {m['name']:<22} median {med:.6g} {m['unit']}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"spread {rel:.3f} (bound {m['bound']}, {flag})")

    if args.traced:
        traced = [run_once(args.workload, s, bench["run_seconds"], 1) for s in args.traced]
        print("\ntracing overhead (traced median vs untraced median):")
        for name in ("throughput_per_s", "step_p50_s"):
            t = statistics.median(r["metrics"][f"trace.{name}"]["value"] for r in traced)
            print(f"  {name:<22} traced {t:.6g}  untraced {medians[name]:.6g}  "
                  f"difference {(t - medians[name]) / medians[name]:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
