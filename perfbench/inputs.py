"""Seeded inputs for the three frontier workloads.

The program's own generators are not seeded (`generate_site_df`) or only
seed latencies (`generate_site`), so every input here is derived from the
benchmark's `--seed`: host assignment, link targets and host names are all
salted with it. The same seed always yields the same tables.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siteone_crawler_spark.engine import FRONTIER_COLS
from siteone_crawler_spark.generator import Site

ALLOWED = ("*.bench.test",)
ROBOTS = "User-agent: *\nDisallow: /private/\n"


def _host_name(seed: int, idx) -> F.Column:
    return F.concat(
        F.lit("h"), F.lpad(idx.cast("string"), 4, "0"), F.lit(f".s{seed}.bench.test")
    )


def _zipf_host(seed: int, n_hosts: int, did: F.Column) -> F.Column:
    # log-uniform host index (about Zipf s=1), salted by the seed
    u = F.pmod(F.xxhash64(did, F.lit(seed)), F.lit(100_000)) / 100_000.0
    return (F.pow(F.lit(float(n_hosts)), u) - 1).cast("int")


def _page_url(seed: int, n_hosts: int, did: F.Column) -> F.Column:
    return F.concat(
        F.lit("https://"), _host_name(seed, _zipf_host(seed, n_hosts, did)),
        F.lit("/p/"), did.cast("string"),
    )


def _span(kind: str, text: F.Column, offset: int) -> F.Column:
    return F.struct(
        F.lit(kind).alias("kind"), text.alias("text"), F.lit("").alias("media_ref"),
        F.lit(offset).alias("offset"),
    )


def wave_corpus(spark, seed: int, n_frontier: int, n_hosts: int, fanout: int = 8,
                hot_targets: int = 1000):
    """Docs, meta and robots for a steady-state wave over `n_frontier` URLs.

    The corpus holds 2 x n_frontier pages and link targets are uniform over
    it, so about half of the targets are already in the frontier. Every page
    also links to a hot page and carries three junk hrefs: an invalid one
    (dropped by the resolve kernel), an external host (skipped, not allowed)
    and a robots-disallowed path (skipped, robots).
    """
    n_docs = 2 * n_frontier
    did = F.col("did")
    spans = [_span("text", F.concat(F.lit("page "), did.cast("string")), 0)]
    for k in range(fanout):
        tid = F.pmod(F.xxhash64(did, F.lit(k), F.lit(seed)), F.lit(n_docs))
        spans.append(_span("a_href", _page_url(seed, n_hosts, tid), k + 1))
    hot = F.pmod(F.xxhash64(did, F.lit(seed), F.lit(-1)), F.lit(hot_targets))
    spans.append(_span("a_href", _page_url(seed, n_hosts, hot), fanout + 1))
    junk = (
        F.when(F.pmod(did, F.lit(4)) == 0, F.lit("mailto:x@bench.test"))
        .when(F.pmod(did, F.lit(4)) == 1, F.lit("javascript:void(0)"))
        .when(F.pmod(did, F.lit(4)) == 2, F.lit("#top"))
        .otherwise(F.lit("{{ template_var }}"))
    )
    spans.append(_span("a_href", junk, fanout + 2))
    spans.append(_span(
        "a_href",
        F.concat(F.lit(f"https://ext{seed}-"), F.pmod(did, F.lit(7)).cast("string"),
                 F.lit(".other.test/x"), did.cast("string")),
        fanout + 3,
    ))
    spans.append(_span(
        "a_href", F.concat(F.lit("/private/s"), did.cast("string")), fanout + 4
    ))
    ids = spark.range(n_docs).withColumnRenamed("id", "did")
    docs = ids.select(
        _page_url(seed, n_hosts, did).alias("doc_id"), F.array(*spans).alias("spans")
    )
    meta = docs.select(
        "doc_id",
        F.lit(200).alias("status_code"),
        F.lit("text/html; charset=utf-8").alias("content_type_header"),
        F.lit(None).cast("string").alias("redirect_location"),
        (F.length("doc_id") * 17).cast("long").alias("size"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(50000)) / 10.0).alias("request_time_ms"),
    )
    robots = {f"h{i:04d}.s{seed}.bench.test": ROBOTS for i in range(n_hosts)}
    return docs, meta, robots


def url_frontier(spark, seed: int, n_hosts: int, lo: int, hi: int) -> DataFrame:
    """FRONTIER_SCHEMA rows for pages lo..hi-1 of a wave corpus (or of the
    seen_churn key space), seq = page id - lo, so seq is 0..N-1."""
    did = F.col("did")
    url = _page_url(seed, n_hosts, did)
    key = F.md5(url)
    return spark.range(lo, hi).withColumnRenamed("id", "did").select(
        url.alias("url"),
        key.alias("url_key"),
        F.substring(key, 1, 8).alias("uq_id"),
        _host_name(seed, _zipf_host(seed, n_hosts, did)).alias("host"),
        F.concat(F.lit("/p/"), did.cast("string")).alias("path"),
        F.lit("").alias("ext"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("wave"),
        (did - F.lit(lo)).cast("long").alias("seq"),
        F.lit("").alias("source_uq_id"),
        F.lit(91).alias("source_attr"),
    ).select(*FRONTIER_COLS)


def url_keys(spark, seed: int, n_hosts: int, ids: DataFrame) -> DataFrame:
    """(did, url, url_key) for page ids in the `did` column."""
    url = _page_url(seed, n_hosts, F.col("did"))
    return ids.select("did", url.alias("url"), F.md5(url).alias("url_key"))


def polite_site(seed: int, n_docs: int, n_hosts: int, fanout: int = 6) -> Site:
    """A small Zipf site for a polite BFS crawl, as a `generator.Site`.

    Host i gets about n_docs / ((i + 1) * H) pages, fixed by rank, so the
    crawl's size and wave count barely move with the seed; the seed picks
    link targets and host names. Each page links to `fanout` random pages
    (one in four on another host), its host root, an invalid href, an
    external host and a robots-disallowed path; one page in 40 is a 404.
    Every third host sets `Crawl-delay: 2`.
    """
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(n_hosts)]
    counts = [max(2, round(n_docs * w / sum(weights))) for w in weights]
    hosts = [f"c{i:02d}.s{seed}.bench.test" for i in range(n_hosts)]
    pages = [
        [f"https://{h}/"] + [f"https://{h}/d/{seed}-{j}" for j in range(1, c)]
        for h, c in zip(hosts, counts)
    ]
    site = Site(params=dict(seed=seed, n_docs=n_docs, n_hosts=n_hosts, fanout=fanout))
    junk = ("mailto:x@bench.test", "javascript:void(0)", "#top", "{{ t }}")
    for hi, urls in enumerate(pages):
        for j, url in enumerate(urls):
            spans = [{"kind": "text", "text": f"page {j}", "media_ref": "", "offset": 0}]

            def add(text: str) -> None:
                spans.append({"kind": "a_href", "text": text, "media_ref": "",
                              "offset": len(spans)})

            for _ in range(fanout):
                th = rng.randrange(n_hosts) if rng.random() < 0.25 else hi
                add(rng.choice(pages[th]))
            add("/")
            add(junk[j % len(junk)])
            add(f"https://ext{j % 5}.other.test/x{j}")
            add(f"/private/p{j}")
            site.docs.append({"doc_id": url, "spans": spans})
            site.meta.append({
                "doc_id": url,
                "status_code": 404 if j % 40 == 39 else 200,
                "content_type_header": "text/html; charset=utf-8",
                "redirect_location": None,
                "size": 1000 + 37 * j,
                "request_time_ms": float(rng.randrange(1, 500)),
                "headers": None,
            })
        site.robots[hosts[hi]] = ROBOTS + ("Crawl-delay: 2\n" if hi % 3 == 2 else "")
    site.seeds = [(pages[0][0], 5)]
    return site


def site_hrefs(site: Site, limit: int) -> tuple[list[str], list[str]]:
    """(base, href) pairs of the site's link spans, for the resolve kernel."""
    base, href = [], []
    for d in site.docs:
        for s in d["spans"]:
            if s["kind"] != "text":
                base.append(d["doc_id"])
                href.append(s["text"])
                if len(base) >= limit:
                    return base, href
    return base, href
