"""Frontier benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload wave_steady --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. It starts a local Spark session with
one core per CPU, builds the workload's seeded inputs, measures for
--seconds seconds, checks every output, and prints the metrics named in
BENCHMARK.json: end-to-end ones with --trace 0, per-layer ones with
--trace 1 (which also enables the Spark event log). All files it writes go
to .perfbench_run/ in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` (tmpfs or a disk fs)."""
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {
        "e2e": {m["name"]: m["unit"] for m in b["end_to_end"]},
        "layer": {m["name"]: m["unit"] for m in b["per_layer"]},
    }


def _start_spark(work: str, cores: int, trace: bool):
    from siteone_crawler_spark.session import get_spark

    # every JVM spark-submit starts (its launcher and Spark's) keeps its temp
    # files in the checkout and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    java_opts = f"-Xms{HEAP}"
    try:
        if len(os.sched_getaffinity(0)) < (os.cpu_count() or cores):
            java_opts += f" -XX:ActiveProcessorCount={cores}"
    except (AttributeError, OSError):
        pass
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=4 * cores,
                     extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, then the Spark JVM (it exits when its stdin
    closes; its Python workers exit with it) and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="permute the wave_steady frontier before its check "
                         "(smoke test of the output check)")
    args = ap.parse_args(argv)

    declared = _declared()
    sys.path.insert(0, ROOT)
    import pyarrow

    from perfbench import trace as tr
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(f"{work}/tmp")
    # Python, the JVM and Spark all keep their scratch files in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    try:
        cores = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        cores = os.cpu_count() or 1

    try:
        with tr.RssSampler() as rss:
            t0 = time.time()
            spark = _start_spark(work, cores, bool(args.trace))
            try:
                spark.range(1).count()
                session_s = time.time() - t0
                ctx = Ctx(spark=spark, cores=cores, work=work, seed=args.seed,
                          seconds=args.seconds, trace=bool(args.trace),
                          size=SIZES[args.scale], corrupt=args.corrupt)
                out = WORKLOADS[args.workload](ctx)
                env = (
                    f"env: nproc {cores}, master {spark.sparkContext.master}, heap {HEAP}, "
                    f"spark {spark.version}, pyarrow {pyarrow.__version__}, "
                    f"python {sys.version.split()[0]}, checkpoint+local dirs on "
                    f"{_fs_type(work)} ({work})"
                )
            finally:
                _stop_spark(spark)
        out.e2e["setup_s"] += session_s
        out.e2e["peak_rss_mb"] = rss.peak / 2**20
        if args.trace:
            log = tr.read_event_log(f"{work}/events")
            out.layer.update(tr.spark_metrics(log, out.windows, cores, out.n_steps))
            # the same end-to-end figures, measured with tracing on: their
            # difference to an untraced run is the tracing overhead
            out.layer["trace.throughput_per_s"] = out.e2e["throughput_per_s"]
            out.layer["trace.step_p50_s"] = out.e2e["step_p50_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(env)
    for line in out.notes:
        print(line)
    units = declared["layer"] if args.trace else declared["e2e"]
    values = out.layer if args.trace else out.e2e
    metrics = {}
    for name, unit in units.items():
        metrics[name] = {"value": float(values[name]), "unit": unit}
        print(f"{name} = {metrics[name]['value']:.6g} {unit}")
    if args.trace:
        for line in ctx.spans.summary():
            print(line)
    print(f"fail_ratio = {out.failed / max(out.attempted, 1):.6g} "
          f"({out.failed} of {out.attempted} operations)")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
