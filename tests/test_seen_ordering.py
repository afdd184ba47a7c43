"""Unit tests for the seen-set (bloom + exact paths) and the scalable
global-sequence operator."""

import pyspark.sql.functions as F


def test_bloom_state_roundtrip():
    import pandas as pd

    from siteone_crawler_spark.operators.seen import BloomState

    st = BloomState(n_buckets=4, bits_per_bucket=1 << 12, k=5)
    keys = [f"{i:032x}" for i in range(500)]
    pdf = pd.DataFrame({"url_key": keys, "bucket": [i % 4 for i in range(500)]})
    st.add_keys(pdf)
    # no false negatives, ever
    assert st.contains(pdf).all()
    # serialization roundtrip preserves membership
    st2 = BloomState.from_rows(st.to_rows(), 4, 1 << 12, 5)
    assert st2.contains(pdf).all()
    # unseen keys mostly miss (FPR sanity, not exactness)
    other = pd.DataFrame(
        {"url_key": [f"{i + 10_000:032x}" for i in range(500)], "bucket": [i % 4 for i in range(500)]}
    )
    assert st.contains(other).mean() < 0.2


def test_seen_filter_new_bloom_and_exact_paths(spark):
    from siteone_crawler_spark.operators.seen import SeenSet, key_bucket

    seen = SeenSet(spark, n_buckets=4, bits_per_bucket=1 << 14)
    seen.bloom_min_keys = 1  # force the bloom path
    keys = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(200)], "url_key string"
    )
    seen._keys = keys.withColumn("bucket", key_bucket(F.col("url_key"), 4))
    seen.prefilter.add_keys(seen._keys.toPandas())

    cands = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(150, 300)], "url_key string"
    )
    # bloom path
    got = {r["url_key"] for r in seen.filter_new(cands, n_seen=200).collect()}
    expected = {f"{i:032x}" for i in range(200, 300)}
    assert got == expected
    # exact broadcast path
    seen.bloom_min_keys = 10**9
    got2 = {r["url_key"] for r in seen.filter_new(cands, n_seen=200).collect()}
    assert got2 == expected


def test_distributed_bloom_build(spark):
    from siteone_crawler_spark.operators.seen import (
        BloomState,
        build_bloom_blobs,
        key_bucket,
    )

    keys = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(1000)], "url_key string"
    ).withColumn("bucket", key_bucket(F.col("url_key"), 8))
    st = BloomState(8, 1 << 14, 7)
    for b, blob in build_bloom_blobs(keys, st.m, st.k):
        st.merge_blob(b, blob)
    pdf = keys.toPandas()
    assert st.contains(pdf).all()


def test_with_global_seq_big_path(spark):
    """Force the two-pass (range-shuffle) path and check rank correctness and
    determinism across parallelism levels."""
    from siteone_crawler_spark.operators.ordering import with_global_seq

    df = spark.range(10_000).select(
        (F.col("id") % 100).alias("parent_seq"), (F.col("id") / 100).cast("int").alias("offset")
    )
    ranked, n = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=7, small_threshold=0,
        num_partitions=16,
    )
    rows = ranked.orderBy("seq").collect()
    assert n == 10_000
    assert rows[0]["seq"] == 7 and rows[-1]["seq"] == 7 + 9999
    keys = [(r["parent_seq"], r["offset"]) for r in rows]
    assert keys == sorted(keys)
    # different partition count -> identical assignment
    ranked2, _ = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=7, small_threshold=0,
        num_partitions=3,
    )
    a = sorted(map(tuple, ranked.collect()))
    b = sorted(map(tuple, ranked2.collect()))
    assert a == b


def test_bloom_builder_paths_identical(spark):
    """The driver pandas build (used <250k keys) and the distributed
    per-bucket build must produce byte-identical bitsets — the engine
    switches between them on slice size, which must never change results."""
    from siteone_crawler_spark.operators.seen import (
        BloomState,
        build_bloom_blobs,
        key_bucket,
    )

    keys = spark.createDataFrame(
        [(f"{i * 2654435761 % (1 << 128):032x}",) for i in range(2000)],
        "url_key string",
    ).withColumn("bucket", key_bucket(F.col("url_key"), 8))
    a = BloomState(8, 1 << 14, 7)
    a.add_keys(keys.toPandas())
    b = BloomState(8, 1 << 14, 7)
    for bk, blob in build_bloom_blobs(keys, b.m, b.k):
        b.merge_blob(bk, blob)
    assert set(a.bits) == set(b.bits)
    for bk in a.bits:
        assert a.bits[bk].tobytes() == b.bits[bk].tobytes()


def test_with_global_seq_big_path_pure_catalyst(spark):
    """r6: seq assignment on the two-pass path is pure Catalyst (offset
    array + monotonically_increasing_id) — no Python boundary in the plan,
    and empty partitions in the range shuffle do not shift the numbering."""
    from siteone_crawler_spark.operators.ordering import with_global_seq

    df = spark.range(500).select(
        F.lit(0).alias("parent_seq"), F.col("id").cast("int").alias("offset")
    )
    # more partitions than distinct range bounds -> some partitions empty
    ranked, n = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=0, small_threshold=0,
        num_partitions=64,
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan and "MapInPandas" not in plan
    rows = ranked.orderBy("seq").collect()
    assert n == 500
    assert [r["seq"] for r in rows] == list(range(500))
    assert [r["offset"] for r in rows] == list(range(500))
