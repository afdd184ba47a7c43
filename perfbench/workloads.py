"""The benchmark workloads. Each drives the engine from outside through its
public API and returns an Outcome: operations attempted and failed,
end-to-end metrics and (in a traced run) per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import CrawlEngine
from siteone_crawler_spark.functions.robots import compile_rules_map
from siteone_crawler_spark.functions.urls import make_resolve_udf
from siteone_crawler_spark.generator import generate_site, site_to_dfs
from siteone_crawler_spark.operators.seen import key_bucket
from siteone_crawler_spark.simulator import simulate
from siteone_crawler_spark.sources.checkpoint import CheckpointStore

from . import checks, inputs
from .trace import Spans, phase_windows, wave_rows

# input sizes; "tiny" is the smoke test's
SIZES = {
    "full": dict(wave_frontier=40_000, wave_hosts=128,
                 churn_keys=300_000, churn_buckets=3, churn_probe=40_000,
                 churn_remove=5_000,
                 crawl_docs=600, crawl_hosts=8, crawl_budget=60, crawl_kill_after=3,
                 href_sample=20_000),
    "tiny": dict(wave_frontier=300, wave_hosts=8,
                 churn_keys=4_000, churn_buckets=4, churn_probe=1_000,
                 churn_remove=200,
                 crawl_docs=60, crawl_hosts=3, crawl_budget=10, crawl_kill_after=1,
                 href_sample=500),
}


# measured waves per wave_steady run and rounds per seen_churn run, at the least
MIN_WAVES = 1
MIN_ROUNDS = 2


@dataclass
class Ctx:
    spark: object
    cores: int
    work: str
    seed: int
    seconds: float
    trace: bool
    size: dict
    corrupt: bool = False
    spans: Spans = field(default_factory=Spans)
    _n: int = 0

    def ckpt_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"ckpt{self._n}")


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    # (phase, start, end) windows of measured steps, for event-log attribution
    windows: list = field(default_factory=list)
    n_steps: int = 0
    notes: list = field(default_factory=list)

    def op(self, fn, *args):
        """Run one checked operation; an exception or a failed check counts
        as a failure and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed operation is recorded, not fatal
            self.failed += 1
            self.notes.append(f"FAILED: {type(e).__name__}: {e}")
            traceback.print_exc()
            return None


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _rate(per_call: int, seconds: list[float]) -> float:
    return per_call * len(seconds) / sum(seconds) if seconds else 0.0


def _timed(fn, *args):
    t0 = time.time()
    out = fn(*args)
    return out, time.time() - t0


def _metric_rows(ckpt: str) -> dict[int, dict[str, int]]:
    m = checks.read_column_table(ckpt, "metrics", ["wave", "stage", "rows"])
    return wave_rows(
        {"wave": w, "stage": s, "rows": r}
        for w, s, r in zip(m["wave"].tolist(), m["stage"].tolist(), m["rows"].tolist())
    )


def _wave_end(ckpt: str, wave: int) -> float:
    """When a wave's metrics table was committed (just before the manifest
    bump that commits the wave)."""
    return os.path.getmtime(os.path.join(ckpt, "metrics", f"wave={wave}", "_SUCCESS"))


def _ckpt_layer(ckpt: str, n_urls: int) -> dict[str, float]:
    tables = checks.dir_bytes(ckpt)
    out = {
        "checkpoint.files": float(sum(n for n, _b in tables.values())),
        "checkpoint.bytes": float(sum(b for _n, b in tables.values())),
    }
    for t in ("frontier", "seen", "visited", "skipped", "deferred"):
        out[f"checkpoint.{t}_bytes"] = float(tables.get(t, (0, 0))[1])
    out["ckpt_bytes_per_url"] = out["checkpoint.bytes"] / max(n_urls, 1)
    return out


def _engine_layer(rows_by_wave: list[dict[str, int]], walls: list[float]) -> dict[str, float]:
    """Median per-wave engine, ordering and checkpoint-write times."""

    def med(stage: str) -> float:
        return _median([r.get(stage, 0) / 1e6 for r in rows_by_wave])

    recorded = [
        sum(v for k, v in r.items() if k.startswith("time_us:")) / 1e6 for r in rows_by_wave
    ]
    seen_w = [
        (r.get("subtime_us:finalize/seen_write", 0) + r.get("subtime_us:finalize/seen+bloom", 0))
        / 1e6 for r in rows_by_wave
    ]
    yields = [r.get("enqueued", 0) / r["candidates"] for r in rows_by_wave if r.get("candidates")]
    return {
        "engine.breaker_s": med("time_us:breaker_precheck"),
        "engine.materialize_s": med("time_us:visited+candidates_materialize"),
        "engine.finalize_s": med("time_us:skipped+finalize"),
        "engine.tail_s": _median([w - r for w, r in zip(walls, recorded)]),
        "engine.enqueue_yield": _median(yields),
        "ordering.rank_s": med("subtime_us:finalize/rank"),
        "checkpoint.visited_write_s": med("subtime_us:visited_write"),
        "checkpoint.skipped_write_s": med("subtime_us:skipped_write"),
        "checkpoint.frontier_write_s": med("subtime_us:finalize/frontier_write"),
        "checkpoint.seen_write_s": _median(seen_w),
    }


def _kernel_layer(robots: dict[str, str], initial_url: str, base: list[str],
                  href: list[str]) -> dict[str, float]:
    """Time the resolve kernel in-process on a fixed pandas batch, and the
    robots compiler on the workload's robots bodies."""
    compile_s = []
    for _ in range(5):
        rules, dt = _timed(compile_rules_map, robots)
        compile_s.append(dt)
    host = initial_url.split("/")[2]
    kernel = make_resolve_udf(host, "https", robots_rules=rules, with_key=False).func
    b, h = pd.Series(base), pd.Series(href)
    rates, invalid = [], 0.0
    for _ in range(3):
        out, dt = _timed(kernel, b, h)
        rates.append(len(b) / dt)
        invalid = 1.0 - float(out["valid"].mean())
    return {
        "urls.resolve_rows_per_s": _median(rates),
        "urls.invalid_share": invalid,
        "robots.compile_s": _median(compile_s),
    }


class SeenProbe:
    """Counts SeenSet.filter_new calls on one SeenSet and how many took the
    bloom-prefilter path (visible as the maybe_seen UDF in the plan)."""

    def __init__(self, seen) -> None:
        self.calls = 0
        self.prefilter_calls = 0
        inner = seen.filter_new

        def filter_new(*args, **kwargs):
            df = inner(*args, **kwargs)
            self.calls += 1
            if "maybe_seen" in df._jdf.queryExecution().logical().toString():
                self.prefilter_calls += 1
            return df

        seen.filter_new = filter_new


def _seen_layer_zero() -> dict[str, float]:
    return {
        "seen.probe_s": 0.0, "seen.absorb_s": 0.0, "seen.remove_s": 0.0,
        "seen.maybe_share": 0.0, "seen.fp_rate": 0.0,
    }


# ---------------------------------------------------------------- parity
def parity_check(ctx: Ctx, out: Outcome) -> None:
    """Crawl a small `generator.generate_site(seed)` site with the engine
    in parity config and compare with `simulator.simulate`: crawl order,
    seen set and skipped set must be equal."""
    site = generate_site(seed=ctx.seed, n_hosts=1, docs_per_host=6, fanout=5)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))

    def crawl():
        sim = simulate(site, cfg)
        docs, meta, _robots, _seeds = site_to_dfs(ctx.spark, site)
        ck = ctx.ckpt_dir()
        tables = CrawlEngine(ctx.spark, cfg, ck, n_buckets=8).run(
            docs, meta, site.robots, site.seeds
        )
        v = checks.read_column_table(
            ck, "visited",
            ["seq", "url", "uq_id", "source_uq_id", "source_attr", "wave", "status_code"],
            upto_wave=tables["last_wave"],
        )
        got = sorted(zip(*[v[c].tolist() for c in v]))
        if got != [tuple(t[:7]) for t in sim.crawl_order]:
            raise checks.CheckFailed("engine crawl order differs from the simulator")
        keys = checks.read_column_table(ck, "frontier", ["url_key"])["url_key"]
        if set(keys.tolist()) != set(sim.seen):
            raise checks.CheckFailed("engine seen set differs from the simulator")
        skipped = {
            (r["url"], r["reason"], r["source_uq_id"], r["source_attr"])
            for r in tables["skipped"].collect()
        }
        if skipped != set(sim.skipped):
            raise checks.CheckFailed("engine skipped set differs from the simulator")
        shutil.rmtree(ck, ignore_errors=True)

    with ctx.spans.span("parity"):
        _, dt = _timed(out.op, crawl)
    out.notes.append(f"parity crawl vs simulator: {dt:.2f} s")


# ------------------------------------------------------------ wave_steady
def wave_steady(ctx: Ctx) -> Outcome:
    """Steady-state waves: each step installs the same pre-seeded frontier
    into a fresh checkpoint (seed_frontier, untimed) and times one wave."""
    out = Outcome()
    sz, spark = ctx.size, ctx.spark
    n, hosts = sz["wave_frontier"], sz["wave_hosts"]
    parts = 4 * ctx.cores

    def corpus():
        docs, meta, robots = inputs.wave_corpus(spark, ctx.seed, n, hosts)
        docs = docs.repartition(parts, "doc_id").persist()
        meta = meta.repartition(parts, "doc_id").persist()
        fr = inputs.url_frontier(spark, ctx.seed, hosts, 0, n).persist()
        docs.count(), meta.count(), fr.count()
        return docs, meta, robots, fr

    with ctx.spans.span("generator.corpus"):
        (docs, meta, robots, fr), corpus_s = _timed(corpus)
    first_url = fr.select("url").where(F.col("seq") == 0).first()["url"]
    cfg = CrawlConfig(allowed_domains=inputs.ALLOWED,
                      max_visited_urls=10**12, max_queue_length=10**12)

    install_s, walls, rates, rows_by_wave, windows = [], [], [], [], []
    ref = {}
    probes = []

    def step(measured: bool):
        ck = ctx.ckpt_dir()
        eng = CrawlEngine(spark, cfg, ck, n_buckets=64)
        if ctx.trace:
            probes.append(SeenProbe(eng.seen))
        with ctx.spans.span("checkpoint.install"):
            _, dt = _timed(eng.seed_frontier, fr)
        with ctx.spans.span("engine.run"):
            t0 = time.time()
            tables = eng.run(docs, meta, robots, seeds=[(first_url, 5)], max_waves=1,
                             external_frontier=fr, preseeded=True)
            t1 = time.time()
        if ctx.corrupt and measured:
            _permute_frontier(ck)
        with ctx.spans.span("checks"):
            digest, n_front, n_vis = checks.check_crawl(ck, tables["last_wave"])
            rows = _metric_rows(ck)[0]
        if n_vis != n or n_front != n + rows["enqueued"]:
            raise checks.CheckFailed(f"wave visited {n_vis}/{n}, frontier {n_front}")
        # the unmeasured step sets the reference digest: a corrupted measured
        # step must not
        if ref.setdefault("digest", digest) != digest:
            raise checks.CheckFailed("frontier order digest differs between runs of one seed")
        install_s.append(dt)
        if not measured:
            shutil.rmtree(ck, ignore_errors=True)
            return
        if "ckpt" not in ref:
            ref["ckpt"] = _ckpt_layer(ck, n_front)
            sk = checks.read_column_table(ck, "skipped", ["reason"])["reason"]
            ref["robots_skipped"] = float((sk == 2).sum())
        walls.append(t1 - t0)
        rates.append((n_vis + rows["enqueued"]) / (t1 - t0))
        rows_by_wave.append(rows)
        windows.extend(phase_windows(rows, t0, t1))
        shutil.rmtree(ck, ignore_errors=True)

    # one unmeasured full-size step first: JVM class loading, code generation
    # and JIT warm-up (after a smaller warm-up wave the first measured wave
    # ran 10-20% slow)
    with ctx.spans.span("warmup"):
        _, warm_s = _timed(out.op, step, False)
    out.notes.append(f"warm-up wave step: {warm_s:.2f} s")
    t_end = time.time() + ctx.seconds
    while time.time() < t_end or len(walls) < MIN_WAVES:
        with ctx.spans.span("step"):
            out.op(step, True)
        if out.failed:
            break

    out.n_steps = len(walls)
    out.windows = windows
    out.e2e = {
        "throughput_per_s": _median(rates),
        "step_p50_s": _median(walls),
        "ckpt_bytes_per_url": ref.get("ckpt", {}).get("ckpt_bytes_per_url", 0.0),
        "setup_s": corpus_s + _median(install_s),
    }
    out.notes.append(
        f"wave_steady: frontier {n} URLs, corpus {2 * n} docs, {hosts} Zipf hosts; "
        f"{len(walls)} measured waves {[round(w, 2) for w in walls]}"
    )
    if ctx.trace:
        # after the measured steps, so it does not warm them up
        parity_check(ctx, out)
        base, href = _wave_hrefs(docs, sz["href_sample"])
        out.layer.update(_engine_layer(rows_by_wave, walls))
        out.layer.update(_kernel_layer(robots, first_url, base, href))
        out.layer.update({k: v for k, v in ref.get("ckpt", {}).items()
                          if k.startswith("checkpoint.")})
        out.layer.update(_seen_layer_zero())
        out.layer.update({
            "engine.admitted_share": 1.0,
            "engine.waves": 1.0,
            "engine.resume_s": 0.0,
            "checkpoint.restore_s": 0.0,
            "checkpoint.install_s": _median(install_s),
            "robots.skipped_rows": ref.get("robots_skipped", 0.0),
            "seen.probe_calls": float(sum(p.calls for p in probes)),
            "seen.prefilter_calls": float(sum(p.prefilter_calls for p in probes)),
            "generator.corpus_s": corpus_s,
        })
    return out


def _wave_hrefs(docs, limit: int) -> tuple[list[str], list[str]]:
    pdf = (
        docs.select(F.col("doc_id").alias("base"), F.explode("spans").alias("s"))
        .where(F.col("s.kind") != "text")
        .select("base", F.col("s.text").alias("href"))
        .limit(limit)
        .toPandas()
    )
    return pdf["base"].tolist(), pdf["href"].tolist()


def _permute_frontier(ckpt: str) -> None:
    """Corrupt a finished run's frontier for the smoke test: reverse the
    seq column of the first frontier file, so rows keep their keys but
    the order no longer matches the engine's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(ckpt, "frontier", "wave=1")
    fn = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0]
    t = pq.read_table(os.path.join(d, fn))
    seq = t.column("seq").to_pylist()[::-1]
    t = t.set_column(t.schema.get_field_index("seq"), "seq", pa.array(seq, pa.int64()))
    pq.write_table(t, os.path.join(d, fn))


# ----------------------------------------------------------- crawl_polite
def crawl_polite(ctx: Ctx) -> Outcome:
    """A polite BFS crawl, killed after k waves and resumed to the end by a
    fresh engine; its frontier digest must equal an uninterrupted crawl's."""
    out = Outcome()
    sz, spark = ctx.size, ctx.spark
    budget = sz["crawl_budget"]

    def corpus():
        site = inputs.polite_site(ctx.seed, sz["crawl_docs"], sz["crawl_hosts"])
        docs, meta, _r, _s = site_to_dfs(spark, site)
        docs, meta = docs.persist(), meta.persist()
        docs.count(), meta.count()
        return site, docs, meta

    with ctx.spans.span("generator.corpus"):
        (site, docs, meta), corpus_s = _timed(corpus)
    cfg = CrawlConfig(
        allowed_domains=inputs.ALLOWED, max_visited_urls=10**9, max_queue_length=10**9,
        per_host_wave_budget=budget, wave_seconds=float(budget), politeness_salts=2,
    )
    parity_check(ctx, out)

    def full_crawl():
        ck = ctx.ckpt_dir()
        eng = CrawlEngine(spark, cfg, ck, n_buckets=8)
        tables = eng.run(docs, meta, site.robots, site.seeds)
        digest, _n_front, _n_vis = checks.check_crawl(ck, tables["last_wave"])
        shutil.rmtree(ck, ignore_errors=True)
        return digest

    # the uninterrupted crawl is the reference digest and the JIT warm-up
    with ctx.spans.span("warmup"):
        ref_digest = out.op(full_crawl)

    walls, crawl_rates, resume_s, restore_s, rows_by_wave, windows = [], [], [], [], [], []
    admitted, pending, waves, probes, ref = [], [], [], [], {}

    def killed_crawl():
        ck = ctx.ckpt_dir()
        k = sz["crawl_kill_after"]
        t0 = time.time()
        with ctx.spans.span("engine.run"):
            eng = CrawlEngine(spark, cfg, ck, n_buckets=8)
            eng.run(docs, meta, site.robots, site.seeds, max_waves=k)
        del eng  # the kill: the next engine sees only the checkpoint
        with ctx.spans.span("engine.resume"):
            t_resume = time.time()
            eng = CrawlEngine(spark, cfg, ck, n_buckets=8)
            if ctx.trace:
                probes.append(SeenProbe(eng.seen))
            tables = eng.run(docs, meta, site.robots, site.seeds)
            t1 = time.time()
        last = tables["last_wave"]
        with ctx.spans.span("checks"):
            digest, n_front, n_vis = checks.check_crawl(ck, last)
        if digest != ref_digest:
            raise checks.CheckFailed("resumed crawl digest differs from the uninterrupted crawl")
        rows = _metric_rows(ck)
        ends = [_wave_end(ck, w) for w in range(last + 1)]
        starts = [t0] + ends[:-1]
        starts[k] = t_resume
        w_walls = [e - s for s, e in zip(starts, ends)]
        resume_s.append(ends[k] - t_resume)
        recorded_k = sum(v for s, v in rows[k].items() if s.startswith("time_us:")) / 1e6
        restore_s.append(max(0.0, resume_s[-1] - recorded_k))
        walls.extend(w_walls)
        crawl_rates.append(n_vis / (t1 - t0))
        store = CheckpointStore(spark, ck)
        for w in range(last + 1):
            rows_by_wave.append(rows[w])
            windows.extend(phase_windows(rows[w], starts[w], ends[w]))
            pending.append(store.count_rows("frontier", w) + store.count_rows("deferred", w))
            admitted.append(rows[w].get("frontier", 0))
        waves.append(last + 1)
        if "ckpt" not in ref:
            ref["ckpt"] = _ckpt_layer(ck, n_front)
            sk = checks.read_column_table(ck, "skipped", ["reason"])["reason"]
            ref["robots_skipped"] = float((sk == 2).sum())
        shutil.rmtree(ck, ignore_errors=True)

    t_end = time.time() + ctx.seconds
    while time.time() < t_end or not crawl_rates:
        with ctx.spans.span("step"):
            out.op(killed_crawl)
        if out.failed:
            break

    out.n_steps = len(walls)
    out.windows = windows
    out.e2e = {
        "throughput_per_s": _median(crawl_rates),
        "step_p50_s": _median(walls),
        "ckpt_bytes_per_url": ref.get("ckpt", {}).get("ckpt_bytes_per_url", 0.0),
        "setup_s": corpus_s,
    }
    out.notes.append(
        f"crawl_polite: {len(site.docs)} docs on {sz['crawl_hosts']} Zipf hosts, "
        f"budget {budget}/host/wave, salts 2, Crawl-delay 2 on every third host; "
        f"{len(crawl_rates)} killed+resumed crawls, waves {waves}, "
        f"resume_s {[round(x, 2) for x in resume_s]}"
    )
    if ctx.trace:
        base, href = inputs.site_hrefs(site, sz["href_sample"])
        out.layer.update(_engine_layer(rows_by_wave, walls))
        out.layer.update(_kernel_layer(site.robots, site.seeds[0][0], base, href))
        out.layer.update({k: v for k, v in ref.get("ckpt", {}).items()
                          if k.startswith("checkpoint.")})
        out.layer.update(_seen_layer_zero())
        out.layer.update({
            "engine.admitted_share": sum(admitted) / max(sum(pending), 1),
            "engine.waves": _median(waves),
            "engine.resume_s": _median(resume_s),
            "checkpoint.restore_s": _median(restore_s),
            "checkpoint.install_s": 0.0,
            "robots.skipped_rows": ref.get("robots_skipped", 0.0),
            "seen.probe_calls": float(sum(p.calls for p in probes)),
            "seen.prefilter_calls": float(sum(p.prefilter_calls for p in probes)),
            "generator.corpus_s": corpus_s,
        })
    return out


# ------------------------------------------------------------- seen_churn
def seen_churn(ctx: Ctx) -> Outcome:
    """Probe, insert and remove rounds on a seen set large enough for the
    bloom prefilter. Keys are page ids mapped to URL md5 keys; the benchmark
    knows exactly which ids are seen, so every probe is checked."""
    out = Outcome()
    sz, spark = ctx.size, ctx.spark
    k0, n_b = sz["churn_keys"], sz["churn_buckets"]
    half, n_rm = sz["churn_probe"] // 2, sz["churn_remove"]
    hosts = 128
    cfg = CrawlConfig(allowed_domains=inputs.ALLOWED)

    def ids(lo, hi):
        return spark.range(lo, hi).withColumnRenamed("id", "did")

    def keyed(df):
        return inputs.url_keys(spark, ctx.seed, hosts, df)

    def check_agg(df, lo_hi: list[tuple[int, int]]):
        """The survivors of a probe must be exactly the ids in lo_hi."""
        got = df.agg(F.count("*").alias("n"), F.sum("did").alias("s"),
                     F.sum(F.col("did") * F.col("did")).alias("q")).first()
        want_n = sum(h - lo for lo, h in lo_hi)
        want_s = sum(sum(range(lo, h)) for lo, h in lo_hi)
        want_q = sum(i * i for lo, h in lo_hi for i in range(lo, h))
        if (got["n"], got["s"] or 0, got["q"] or 0) != (want_n, want_s, want_q):
            raise checks.CheckFailed(
                f"probe returned {got['n']} keys, expected {want_n} (or wrong keys)"
            )

    ck = ctx.ckpt_dir()
    eng = CrawlEngine(spark, cfg, ck, n_buckets=n_b)
    seen = eng.seen
    # the 5M-key regime, scaled: the bloom prefilter and the bucketed
    # shuffle anti-join both switch on at a quarter of the install
    seen.bloom_min_keys = seen.broadcast_max_keys = k0 // 4
    probes = [SeenProbe(seen)] if ctx.trace else []

    def corpus():
        fr = inputs.url_frontier(spark, ctx.seed, hosts, 0, k0).persist()
        fr.count()
        return fr

    with ctx.spans.span("generator.corpus"):
        fr, corpus_s = _timed(corpus)
    with ctx.spans.span("checkpoint.install"):
        _, install_s = _timed(eng.seed_frontier, fr)
    fr.unpersist()
    ckpt = _ckpt_layer(ck, k0)

    probe_s, absorb_s, remove_s, rounds, windows = [], [], [], [], []
    state = {"r": 0, "n_seen": k0, "fresh": k0, "prev_new": None}

    def churn_round():
        r, n_seen, prev_new = state["r"], state["n_seen"], state["prev_new"]
        state["r"] += 1
        # probe: half already seen (installed keys, plus last round's
        # inserts), half never seen
        lo = r * half
        if prev_new is None:
            seen_part = ids(lo, lo + half)
        else:
            q = half // 2
            seen_part = ids(lo, lo + half - q).unionByName(ids(prev_new[0], prev_new[0] + q))
        new_lohi = (state["fresh"], state["fresh"] + half)
        state["fresh"] += half
        cand = keyed(seen_part.unionByName(ids(*new_lohi)))
        with ctx.spans.span("seen.probe"):
            t0 = time.time()
            check_agg(seen.filter_new(cand, n_seen=n_seen), [new_lohi])
            t1 = time.time()
        # insert the new keys
        with ctx.spans.span("seen.absorb"):
            t2 = time.time()
            seen.add(keyed(ids(*new_lohi)), n_keys=half)
            t3 = time.time()
        n_seen += half
        # remove an invalidation batch from the top of the install; the
        # change is visible once a probe of those keys passes them all
        rm = (k0 - (r + 1) * n_rm, k0 - r * n_rm)
        with ctx.spans.span("seen.remove"):
            t4 = time.time()
            seen.remove(keyed(ids(*rm)))
            check_agg(seen.filter_new(keyed(ids(*rm)), n_seen=n_seen), [rm])
            t5 = time.time()
        state["n_seen"], state["prev_new"] = n_seen - n_rm, new_lohi
        probe_s.append(t1 - t0)
        absorb_s.append(t3 - t2)
        remove_s.append(t5 - t4)
        rounds.append((2 * half + half + n_rm, t5 - t0))
        windows.extend([("probe", t0, t1), ("absorb", t2, t3), ("remove", t4, t5)])

    def warmup_probe():
        """An unmeasured probe of a full candidate batch: the prefilter UDF's
        first use, code generation and JIT warm-up. It changes no state (a
        remove would also lengthen the key table's plan)."""
        new_lohi = (state["fresh"], state["fresh"] + half)
        state["fresh"] += half
        cand = keyed(ids(0, half).unionByName(ids(*new_lohi)))
        check_agg(seen.filter_new(cand, n_seen=k0), [new_lohi])

    with ctx.spans.span("warmup"):
        _, warm_s = _timed(out.op, warmup_probe)
    out.notes.append(f"warm-up probe: {warm_s:.2f} s")
    # rounds probe installed ids from the bottom and remove from the top;
    # stop before the two ranges meet
    max_rounds = k0 // (half + n_rm)
    t_end = time.time() + ctx.seconds
    while (time.time() < t_end or len(rounds) < MIN_ROUNDS) and state["r"] < max_rounds:
        with ctx.spans.span("step"):
            out.op(churn_round)
        if out.failed:
            break

    out.n_steps = len(rounds)
    out.windows = windows
    out.e2e = {
        "throughput_per_s": (sum(k for k, _dt in rounds) / sum(dt for _k, dt in rounds)
                             if rounds else 0.0),
        "step_p50_s": _median([dt for _k, dt in rounds]),
        "ckpt_bytes_per_url": ckpt["ckpt_bytes_per_url"],
        "setup_s": corpus_s + install_s,
    }
    out.notes.append(
        f"seen_churn: {k0} keys installed in {n_b} buckets in {install_s:.2f} s; per round "
        f"{2 * half} probed (half seen), {half} inserted, {n_rm} removed; {len(rounds)} "
        f"measured rounds {[round(dt, 2) for _k, dt in rounds]}; "
        f"seen_probe_keys_per_s {_rate(2 * half, probe_s):.0f}, "
        f"seen_insert_keys_per_s {_rate(half, absorb_s):.0f}, "
        f"seen_remove_keys_per_s {_rate(n_rm, remove_s):.0f}"
    )
    if ctx.trace:
        # on the final seen state, outside the measured rounds: the first
        # probed half-batch is still seen, the fresh ids never were
        fresh = keyed(ids(state["fresh"], state["fresh"] + half))
        shares = _bloom_shares(seen, keyed(ids(0, half)).unionByName(fresh), fresh, n_b)
        urls = keyed(ids(0, sz["href_sample"])).select("url").toPandas()["url"].tolist()
        robots = {f"h{i:04d}.s{ctx.seed}.bench.test": inputs.ROBOTS for i in range(hosts)}
        out.layer.update(_engine_layer([], []))
        out.layer.update(_kernel_layer(robots, urls[0], urls, urls))
        out.layer.update({k: v for k, v in ckpt.items() if k.startswith("checkpoint.")})
        out.layer.update({
            "seen.probe_s": _median(probe_s),
            "seen.absorb_s": _median(absorb_s),
            "seen.remove_s": _median(remove_s),
            "seen.maybe_share": shares[0],
            "seen.fp_rate": shares[1],
            "engine.admitted_share": 0.0,
            "engine.waves": 0.0,
            "engine.resume_s": 0.0,
            "checkpoint.restore_s": 0.0,
            "checkpoint.install_s": install_s,
            "robots.skipped_rows": 0.0,
            "seen.probe_calls": float(sum(p.calls for p in probes)),
            "seen.prefilter_calls": float(sum(p.prefilter_calls for p in probes)),
            "generator.corpus_s": corpus_s,
        })
    shutil.rmtree(ck, ignore_errors=True)
    return out


def _bloom_shares(seen, cand, truly_new, n_buckets: int) -> tuple[float, float]:
    """(share of candidates the prefilter calls maybe-seen, false-positive
    rate over the truly-new keys), from the live prefilter state."""

    def maybe(df) -> float:
        pdf = df.select(
            "url_key", key_bucket(F.col("url_key"), n_buckets).alias("bucket")
        ).toPandas()
        return float(seen.prefilter.contains(pdf).mean()) if len(pdf) else 0.0

    return maybe(cand), maybe(truly_new)


WORKLOADS = {"wave_steady": wave_steady, "crawl_polite": crawl_polite, "seen_churn": seen_churn}
