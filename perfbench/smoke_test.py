"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke_test.py

Checks that every metric named in BENCHMARK.json prints with its unit in
both modes, that a corrupted output (a permuted frontier) fails the output
check, that the traced runs see the bloom prefilter only on seen_churn, and
that the benchmark fails without printing a result when the program is
missing. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(args: list[str]) -> dict:
    rc, lines = run(args + ["--seed", "3", "--seconds", "1", "--scale", "tiny"])
    if rc != 0:
        raise AssertionError(f"{args} exited {rc}")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{args}: result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise AssertionError(f"{args}: attempted {res['attempted']}")
    return res


def check_metrics(res: dict, declared: list[dict], what: str) -> None:
    names = {m["name"]: m["unit"] for m in declared}
    if set(res["metrics"]) != set(names):
        raise AssertionError(f"{what}: metric names differ: "
                             f"{sorted(set(res['metrics']) ^ set(names))}")
    for name, m in res["metrics"].items():
        if m["unit"] != names[name] or not isinstance(m["value"], (int, float)):
            raise AssertionError(f"{what}: {name} = {m}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] + ["crawl_polite"]

    for wl in workloads:
        for trace in (0, 1):
            res = result(["--workload", wl, "--trace", str(trace)])
            declared = bench["per_layer"] if trace else bench["end_to_end"]
            check_metrics(res, declared, f"{wl} trace {trace}")
            if not res["correct"] or res["failed"]:
                raise AssertionError(f"{wl} trace {trace}: outputs failed their checks")
            if trace:
                calls = res["metrics"]["seen.prefilter_calls"]["value"]
                if (calls > 0) != (wl == "seen_churn"):
                    raise AssertionError(f"{wl}: seen.prefilter_calls = {calls}")
            print(f"ok: {wl} trace {trace}", flush=True)

    res = result(["--workload", "wave_steady", "--trace", "0", "--corrupt"])
    if res["correct"] or not res["failed"]:
        raise AssertionError("a permuted frontier passed the output check")
    print("ok: permuted frontier fails the check", flush=True)

    bare = os.path.join(ROOT, ".perfbench_run", "smoke_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(["--workload", "wave_steady", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in lines):
        raise AssertionError("the benchmark ran without the program")
    print("ok: fails without the program", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
