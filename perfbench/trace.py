"""Tracing for the per-layer run: spans, engine metric rows, Spark event log.

Spans are recorded by the benchmark around its own calls into each layer
and kept in memory. Engine phase times come from the `time_us:*` and
`subtime_us:*` rows the engine writes into its `metrics` table. Spark
runtime numbers come from the event log, which only the traced run enables.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Spans recorded around the benchmark's calls into each layer, kept in
    memory: [name, start, end, index of the enclosing span]."""

    def __init__(self) -> None:
        self.items: list[list] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.items)
        self.items.append([name, time.time(), None, self._open[-1] if self._open else None])
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.items[idx][2] = time.time()

    def summary(self) -> list[str]:
        """One line per span name: count, total seconds, and self seconds
        (total minus the time its child spans cover)."""
        covered: dict[int, float] = defaultdict(float)
        for _name, start, end, parent in self.items:
            if parent is not None:
                covered[parent] += end - start
        agg: dict[str, list] = {}
        for i, (name, start, end, _parent) in enumerate(self.items):
            a = agg.setdefault(name, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += end - start
            a[2] += end - start - covered[i]
        return [f"span {name}: n {n}, total {tot:.3f} s, self {own:.3f} s"
                for name, (n, tot, own) in agg.items()]


# engine `time_us:` phases in the order a wave runs them, and the layer
# phase each one is reported under
ENGINE_PHASES = (
    ("time_us:breaker_precheck", "breaker"),
    ("time_us:visited+candidates_materialize", "materialize"),
    ("time_us:skipped+finalize", "finalize"),
    ("time_us:footer_counts", "finalize"),
)


def wave_rows(metric_rows) -> dict[int, dict[str, int]]:
    """{wave: {stage: rows}} from the engine's metrics table rows."""
    out: dict[int, dict[str, int]] = defaultdict(dict)
    for r in metric_rows:
        out[int(r["wave"])][r["stage"]] = int(r["rows"])
    return dict(out)


def phase_windows(rows: dict[str, int], start: float, end: float) -> list[tuple[str, float, float]]:
    """Lay one wave's recorded phases end to end from `start`; whatever is
    left until `end` (metrics, lineage, commit) is the `tail` phase."""
    out, t = [], start
    for stage, phase in ENGINE_PHASES:
        d = rows.get(stage, 0) / 1e6
        out.append((phase, t, t + d))
        t += d
    out.append(("tail", t, max(t, end)))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages that forked Python workers
    share are counted once."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(d))
            except (OSError, IndexError, ValueError):
                continue
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)


def read_event_log(log_dir: str) -> dict:
    """Parse the Spark event log into jobs and tasks.

    Returns {"jobs": {job_id: (submit_s, [stage_ids])}, "tasks": [...]}
    where each task is (stage_id, run_s, gc_s, shuffle_read_b,
    shuffle_write_b, spill_b)."""
    jobs: dict[int, tuple[float, list[int]]] = {}
    tasks: list[tuple] = []
    paths = sorted(
        os.path.join(d, fn)
        for d, _dirs, files in os.walk(log_dir)
        for fn in files
        if fn.startswith(("events", "local-", "app-"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = (ev["Submission Time"] / 1e3, ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0) / 1e3,
                        m.get("JVM GC Time", 0) / 1e3,
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        wr.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
    return {"jobs": jobs, "tasks": tasks}


# phases the spark.busy_share.* metrics are reported for: the engine's wave
# phases and the seen-set operations
PHASES = ("breaker", "materialize", "finalize", "tail", "probe", "absorb", "remove")


def spark_metrics(log: dict, windows: list[tuple[str, float, float]], cores: int,
                  n_steps: int) -> dict[str, float]:
    """spark.* layer metrics over the measured steps.

    A job belongs to the phase whose window holds its submission time; a
    phase's busy share is the run time of its jobs' tasks over the phase's
    wall time times the core count."""
    # a stage runs under the first job that lists it; later jobs that list
    # it again skip it
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for s in log["jobs"][jid][1]:
            stage_job.setdefault(s, jid)

    def phase_of(t: float) -> str | None:
        for name, s, e in windows:
            if s <= t < e:
                return name
        return None

    job_phase = {jid: phase_of(t) for jid, (t, _s) in log["jobs"].items()}
    wall: dict[str, float] = defaultdict(float)
    for name, s, e in windows:
        wall[name] += e - s
    busy: dict[str, float] = defaultdict(float)
    run = gc = rd = wr = spill = 0.0
    n_tasks = 0
    measured_jobs = {j for j, p in job_phase.items() if p is not None}
    measured_stages = set()
    for sid, run_s, gc_s, r_b, w_b, sp_b in log["tasks"]:
        jid = stage_job.get(sid)
        if jid not in measured_jobs:
            continue
        measured_stages.add(sid)
        busy[job_phase[jid]] += run_s
        run += run_s
        gc += gc_s
        rd += r_b
        wr += w_b
        spill += sp_b
        n_tasks += 1
    steps = max(n_steps, 1)
    out = {
        f"spark.busy_share.{p}": (busy[p] / (wall[p] * cores) if wall[p] > 0 else 0.0)
        for p in PHASES
    }
    out.update({
        "spark.gc_share": gc / run if run else 0.0,
        "spark.shuffle_read_bytes": rd / steps,
        "spark.shuffle_write_bytes": wr / steps,
        "spark.spill_bytes": spill / steps,
        "spark.jobs_per_step": len(measured_jobs) / steps,
        "spark.stages_per_step": len(measured_stages) / steps,
        "spark.tasks_per_step": n_tasks / steps,
    })
    return out
