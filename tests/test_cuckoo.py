"""Cuckoo-filter URL-seen prefilter (operators/cuckoo.py).

Contract mirrors the bloom arm (tests/test_seen_ordering.py): no false
negatives ever; false positives only route rows into the exact anti-join;
plus the cuckoo-only property — deletion — and serialization/builder
equivalence."""

import hashlib
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from siteone_crawler_spark.operators.cuckoo import (
    SLOTS,
    CuckooState,
    build_cuckoo_blobs,
    cuckoo_filter_new,
)
from siteone_crawler_spark.operators.seen import key_bucket


def _keys(n, tag=""):
    return [hashlib.md5(f"{tag}url-{i}".encode()).hexdigest() for i in range(n)]


def _bucketed(spark, keys, n_buckets):
    """Bucket assignment must match the Spark-side key_bucket expression
    (pmod(xxhash64)) — compute it THROUGH Spark so the test can't drift."""
    df = spark.createDataFrame([(k,) for k in keys], "url_key string")
    pdf = (
        df.select("url_key", key_bucket(F.col("url_key"), n_buckets).alias("bucket"))
        .toPandas()
    )
    return pdf


def test_no_false_negatives_and_fpr(spark):
    n_buckets = 8
    inserted = _keys(5000, "in-")
    absent = _keys(5000, "out-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 11)  # 2048*4 slots/bucket
    st.add_keys(_bucketed(spark, inserted, n_buckets))

    hits_in = st.contains(_bucketed(spark, inserted, n_buckets))
    assert hits_in.all(), "false negative: an inserted key reported absent"

    hits_out = st.contains(_bucketed(spark, absent, n_buckets))
    # 16-bit fingerprints, 4 slots: FPR bound ~ 2*SLOTS/2^16 ≈ 0.012%; allow
    # a generous 1% margin for the small-table load factor
    assert hits_out.mean() < 0.01


def test_delete_restores_schedulability(spark):
    n_buckets = 4
    keys = _keys(2000, "del-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 10)
    pdf = _bucketed(spark, keys, n_buckets)
    st.add_keys(pdf)
    assert st.contains(pdf).all()

    victims = pdf.iloc[:500].reset_index(drop=True)
    survivors = pdf.iloc[500:].reset_index(drop=True)
    removed = st.delete_keys(victims)
    assert removed == 500
    # survivors untouched — still zero false negatives
    assert st.contains(survivors).all()
    # victims now (almost all) absent; tolerate fingerprint collisions with
    # remaining keys at the documented FPR
    assert st.contains(victims).mean() < 0.01


def test_serialization_roundtrip(spark):
    n_buckets = 4
    keys = _keys(3000, "ser-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 10)
    pdf = _bucketed(spark, keys, n_buckets)
    st.add_keys(pdf)
    st2 = CuckooState.from_rows(st.to_rows(), n_buckets, 1 << 10)
    assert st2.contains(pdf).all()
    for b in st.tables:
        assert np.array_equal(st.tables[b], st2.tables[b])
        assert st.stash.get(b, []) == st2.stash.get(b, [])


def test_stash_catches_saturation(spark):
    """A pathologically small table must spill to the stash, never lose a
    key (the no-false-negative contract under worst-case load)."""
    n_buckets = 1
    keys = _keys(600, "sat-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 6)  # 64*4 = 256 slots
    pdf = _bucketed(spark, keys, n_buckets)
    st.add_keys(pdf)
    assert sum(len(v) for v in st.stash.values()) > 0
    assert st.contains(pdf).all()
    # roundtrip preserves the stash too
    st2 = CuckooState.from_rows(st.to_rows(), n_buckets, 1 << 6)
    assert st2.contains(pdf).all()


def test_distributed_builder_membership_equivalence(spark):
    """build_cuckoo_blobs (executor-parallel applyInPandas) must accept the
    same membership set as the driver-side build — same contract the bloom
    arm pins for its two builder paths."""
    n_buckets = 8
    keys = sorted(_keys(4000, "dist-"))
    df = spark.createDataFrame([(k,) for k in keys], "url_key string").select(
        "url_key", key_bucket(F.col("url_key"), n_buckets).alias("bucket")
    )
    blobs = build_cuckoo_blobs(df, rows_per_bucket=1 << 11)
    st_dist = CuckooState.from_rows(blobs, n_buckets, 1 << 11)

    st_drv = CuckooState(n_buckets, rows_per_bucket=1 << 11)
    st_drv.add_keys(_bucketed(spark, keys, n_buckets))

    pdf = _bucketed(spark, keys, n_buckets)
    assert st_dist.contains(pdf).all()
    assert st_drv.contains(pdf).all()


def test_cuckoo_filter_new_exact(spark):
    """End-to-end prefiltered anti-join: output must equal the exact
    anti-join ground truth (prefilter is an optimization, never semantics)."""
    n_buckets = 8
    seen_keys = _keys(1500, "seen-")
    new_keys = _keys(700, "new-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 11)
    st.add_keys(_bucketed(spark, seen_keys, n_buckets))
    exact = spark.createDataFrame([(k,) for k in seen_keys], "url_key string")

    cand = spark.createDataFrame(
        [(k,) for k in seen_keys[:400] + new_keys], "url_key string"
    )
    out = cuckoo_filter_new(spark, cand, st, exact)
    got = sorted(r["url_key"] for r in out.collect())
    assert got == sorted(new_keys)


def test_alt_index_involution():
    """i2 = i1 ^ h(fp) must map back: alt(alt(i)) == i for power-of-two m —
    the property the kick walk and delete both rely on."""
    from siteone_crawler_spark.operators.cuckoo import _alt_index

    rng = np.random.RandomState(7)
    m = 1 << 12
    i1 = rng.randint(0, m, size=1000).astype(np.int64)
    fp = rng.randint(1, 1 << 16, size=1000).astype(np.uint16)
    i2 = _alt_index(i1, fp, m)
    back = _alt_index(i2, fp, m)
    assert (back == i1).all()
    assert (i2 >= 0).all() and (i2 < m).all()


def test_power_of_two_enforced():
    with pytest.raises(ValueError):
        CuckooState(4, rows_per_bucket=1000)


def test_seen_set_cuckoo_arm_filter_new(spark):
    """SeenSet(kind='cuckoo') must route filter_new through the cuckoo UDF
    with the exact same semantics as the bloom arm (and the ground truth)."""
    from siteone_crawler_spark.operators.seen import SeenSet

    seen = SeenSet(spark, n_buckets=4, kind="cuckoo", cuckoo_rows_per_bucket=1 << 11)
    seen.bloom_min_keys = 1  # force the prefilter path
    keys = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(200)], "url_key string"
    )
    seen._keys = keys.withColumn("bucket", key_bucket(F.col("url_key"), 4))
    seen.absorb(seen._keys, 200)

    cands = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(150, 300)], "url_key string"
    )
    got = {r["url_key"] for r in seen.filter_new(cands, n_seen=200).collect()}
    assert got == {f"{i:032x}" for i in range(200, 300)}


def test_merge_blob_absorbs_increments(spark):
    """Two incremental distributed builds merged into one state must accept
    the union — the engine's per-wave absorb path for the cuckoo arm."""
    n_buckets = 4
    a = _keys(1500, "mrg-a-")
    b = _keys(1500, "mrg-b-")
    st = CuckooState(n_buckets, rows_per_bucket=1 << 11)
    for part in (a, b):
        df = spark.createDataFrame([(k,) for k in part], "url_key string").select(
            "url_key", key_bucket(F.col("url_key"), n_buckets).alias("bucket")
        )
        for bk, blob in build_cuckoo_blobs(df, rows_per_bucket=1 << 11):
            st.merge_blob(bk, blob)
    both = _bucketed(spark, a + b, n_buckets)
    assert st.contains(both).all()


def _crawl_tables(spark, site, cfg, ckpt, min_keys=None, max_waves=None):
    from siteone_crawler_spark.engine import CrawlEngine
    from siteone_crawler_spark.generator import site_to_dfs

    docs, meta, _robots, _seeds = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(ckpt), n_buckets=8)
    if min_keys is not None:
        eng.seen.bloom_min_keys = min_keys
    kw = {} if max_waves is None else {"max_waves": max_waves}
    return eng, eng.run(docs, meta, site.robots, site.seeds, **kw)


def test_engine_cuckoo_arm_crawl_parity(spark, tmp_path):
    """Full engine crawl with the cuckoo arm FORCED onto the prefilter path
    must be bit-identical to the bloom arm and to the simulator's order —
    the drop-in-sibling contract (config.seen_filter)."""
    from siteone_crawler_spark.config import CrawlConfig
    from siteone_crawler_spark.generator import generate_site
    from siteone_crawler_spark.simulator import simulate

    site = generate_site(seed=42, n_hosts=2, docs_per_host=20)
    base = dict(allowed_domains=("*.example.test",))
    sim = simulate(site, CrawlConfig(**base))

    _, bloom_t = _crawl_tables(
        spark, site, CrawlConfig(**base), tmp_path / "bloom", min_keys=1
    )
    _, cuckoo_t = _crawl_tables(
        spark,
        site,
        CrawlConfig(**base, seen_filter="cuckoo"),
        tmp_path / "cuckoo",
        min_keys=1,
    )
    exp = [t[:7] for t in sim.crawl_order]
    for tables in (bloom_t, cuckoo_t):
        got = [
            (r["seq"], r["url"], r["uq_id"], r["source_uq_id"], r["source_attr"],
             r["wave"], r["status_code"])
            for r in tables["visited"].orderBy("seq").collect()
        ]
        assert got == exp
    for t in ("visited", "frontier", "skipped"):
        a = sorted(map(tuple, bloom_t[t].collect()))
        b = sorted(map(tuple, cuckoo_t[t].collect()))
        assert a == b, f"table {t} differs between seen-filter arms"


@pytest.fixture(scope="module")
def resume_case(spark, tmp_path_factory):
    """Inputs of the resume tests: the uninterrupted crawl's sorted
    visited/frontier/skipped rows, and a checkpoint killed after one wave.
    Both crawl with the default bloom_min_keys, which the site never
    reaches, so no prefilter exists yet and the killed checkpoint serves
    both arms."""
    from siteone_crawler_spark.config import CrawlConfig
    from siteone_crawler_spark.generator import generate_site

    site = generate_site(seed=3, n_hosts=2, docs_per_host=15)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    _, full = _crawl_tables(spark, site, cfg, tmp_path_factory.mktemp("full"))
    killed = tmp_path_factory.mktemp("killed")
    e1, _ = _crawl_tables(spark, site, cfg, killed, max_waves=1)
    assert not e1.store.read_manifest()["done"]
    return {
        "site": site,
        "want": {
            t: sorted(map(tuple, full[t].collect()))
            for t in ("visited", "frontier", "skipped")
        },
        "killed": killed,
        "n_at_kill": e1.n_enqueued,
    }


@pytest.mark.parametrize("arm", ["bloom", "cuckoo"])
def test_engine_prefilter_resume(spark, tmp_path, resume_case, arm):
    """Kill-and-resume with the prefilter must be bit-identical to an
    uninterrupted crawl through every branch of SeenSet.restore. The killed
    crawl resumes four times, each engine life with its own bloom_min_keys:
      1. not live on restore (exact path), crossed in its wave: first full
         fold and first 'blooms' snapshot;
      2. restored from that snapshot and probed through it;
      3. snapshot restored, threshold out of reach: no new snapshot;
      4. no snapshot at the last wave: rebuilt from the seen keys, crawl
         runs to the end."""
    from siteone_crawler_spark.config import CrawlConfig
    from siteone_crawler_spark.operators.seen import BloomState

    ck = tmp_path / "ckpt"
    shutil.copytree(resume_case["killed"], ck)
    cfg = CrawlConfig(allowed_domains=("*.example.test",), seen_filter=arm)
    lives = [
        (resume_case["n_at_kill"] + 1, 1, True),
        (1, 1, True),
        (10**9, 1, False),
        (1, None, True),
    ]
    for min_keys, max_waves, snapshot in lives:
        eng, tables = _crawl_tables(
            spark, resume_case["site"], cfg, ck, min_keys, max_waves
        )
        assert eng.store.read_manifest()["done"] == (max_waves is None)
        assert eng.store.has_wave("blooms", tables["last_wave"] + 1) == snapshot
        assert eng.seen.prefilter_covers_keys == snapshot
    assert isinstance(eng.seen.prefilter, BloomState if arm == "bloom" else CuckooState)
    for t, want in resume_case["want"].items():
        got = sorted(map(tuple, tables[t].collect()))
        assert got == want, f"table {t} differs after {arm}-arm resume"
