"""The URL-seen set's lifecycle behind CrawlEngine: install, per-wave commit
and resume all go through SeenSet, which knows whether its prefilter covers
every key — and the SeenSet/CrawlEngine surface the frontier benchmark
(perfbench/workloads.py) drives from outside."""

import pyspark.sql.functions as F

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import FRONTIER_COLS, CrawlEngine
from siteone_crawler_spark.generator import generate_site, site_to_dfs
from siteone_crawler_spark.operators.seen import SeenSet, key_bucket


def _urls(spark, lo, hi):
    """(did, url, url_key) for page ids lo..hi-1."""
    url = F.concat(F.lit("https://www.example.test/page/"), F.col("id").cast("string"))
    return spark.range(lo, hi).select(
        F.col("id").alias("did"), url.alias("url"), F.md5(url).alias("url_key")
    )


def _frontier(spark, n):
    """An external wave-0 frontier of n pages, seq 0..n-1."""
    return _urls(spark, 0, n).select(
        "url",
        "url_key",
        F.substring("url_key", 1, 8).alias("uq_id"),
        F.lit("www.example.test").alias("host"),
        F.concat(F.lit("/page/"), F.col("did").cast("string")).alias("path"),
        F.lit("").alias("ext"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("wave"),
        F.col("did").alias("seq"),
        F.lit("").alias("source_uq_id"),
        F.lit(5).alias("source_attr"),
    ).select(*FRONTIER_COLS)


def _ids(df) -> set[int]:
    return {r["did"] for r in df.select("did").collect()}


def _uses_prefilter(df) -> bool:
    # how the benchmark's SeenProbe tells the prefilter path apart
    return "maybe_seen" in df._jdf.queryExecution().logical().toString()


def test_filter_new_without_size_after_install_and_resume(spark, tmp_path):
    """Below bloom_min_keys the engine builds no prefilter, so filter_new
    without n_seen must not consult one: every installed key stays seen,
    after seed_frontier and again after a kill and resume."""
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    ck = str(tmp_path / "ckpt")
    cand = _urls(spark, 900, 1100)  # 100 installed + 100 never seen

    fr = _frontier(spark, 1000)
    e1 = CrawlEngine(spark, cfg, ck, n_buckets=4)
    e1.seed_frontier(fr)
    assert not e1.seen.prefilter_covers_keys
    assert _ids(e1.seen.filter_new(cand)) == set(range(1000, 1100))

    # commit one wave (no page of the frontier is in the corpus, so every
    # fetch fails and nothing new is enqueued), then resume in a new engine
    site = generate_site(seed=1, n_hosts=1, docs_per_host=3)
    docs, meta, _robots, _seeds = site_to_dfs(spark, site)
    e1.run(docs, meta, site.robots, site.seeds, max_waves=1,
           external_frontier=fr, preseeded=True)
    assert e1.store.read_manifest()["last_wave"] == 0
    del e1
    e2 = CrawlEngine(spark, cfg, ck, n_buckets=4)
    e2.run(docs, meta, site.robots, site.seeds, max_waves=0)
    assert e2.n_enqueued == 1000
    assert not e2.seen.prefilter_covers_keys
    assert _ids(e2.seen.filter_new(cand)) == set(range(1000, 1100))


def test_benchmark_surface_above_threshold(spark, tmp_path):
    """The calls perfbench's seen_churn makes: per-instance thresholds, an
    install through seed_frontier that builds the prefilter, then probes
    (the maybe_seen UDF in the logical plan), inserts and removes."""
    eng = CrawlEngine(spark, CrawlConfig(), str(tmp_path / "ckpt"), n_buckets=4)
    seen = eng.seen
    seen.bloom_min_keys = seen.broadcast_max_keys = 500
    assert (seen.bloom_min_keys, seen.broadcast_max_keys) == (500, 500)
    assert SeenSet.bloom_min_keys == SeenSet.broadcast_max_keys == 5_000_000

    eng.seed_frontier(_frontier(spark, 1000))
    assert seen.prefilter_covers_keys
    cand = _urls(spark, 900, 1100)
    probe = seen.filter_new(cand, n_seen=1000)
    assert _uses_prefilter(probe)
    assert _ids(probe) == set(range(1000, 1100))

    seen.add(_urls(spark, 1000, 1050), n_keys=50)
    assert _ids(seen.filter_new(cand, n_seen=1050)) == set(range(1050, 1100))

    seen.remove(_urls(spark, 0, 10))
    assert _ids(seen.filter_new(_urls(spark, 0, 20), n_seen=1040)) == set(range(10))

    pdf = _urls(spark, 10, 1050).select(
        "url_key", key_bucket(F.col("url_key"), 4).alias("bucket")
    ).toPandas()
    assert seen.prefilter.contains(pdf).all()


def test_benchmark_surface_below_threshold(spark, tmp_path):
    """wave_steady's regime: a seen set below bloom_min_keys is probed by a
    broadcast anti-join, never through the prefilter UDF."""
    eng = CrawlEngine(spark, CrawlConfig(), str(tmp_path / "ckpt"), n_buckets=4)
    eng.seed_frontier(_frontier(spark, 1000))
    assert eng.n_enqueued == 1000
    probe = eng.seen.filter_new(_urls(spark, 900, 1100), n_seen=1000)
    assert not _uses_prefilter(probe)
    assert _ids(probe) == set(range(1000, 1100))
