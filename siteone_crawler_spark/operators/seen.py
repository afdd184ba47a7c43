"""The URL-seen set: bucketed exact store + per-bucket prefilter, and the
checkpointed lifecycle of both.

Scale story (the reference's DashMap keyed by MD5(url),
/root/reference/src/engine/crawler.rs:96-103, becomes):

  - keys are hash-bucketed: bucket = pmod(xxhash64(url_key), B). The key
    table on disk is partitioned by `bucket`, so a wave's anti-join reads
    ONLY buckets that actually contain candidate keys (partition pruning).
  - each bucket carries a Bloom filter (numpy bitset, k derived hashes from
    the md5 key itself — no extra hashing pass). Candidates that miss the
    Bloom are DEFINITELY new and skip the exact anti-join entirely; only
    Bloom-positive candidates (true dupes + FPR) shuffle into the exact
    anti-join. At 10^10 keys with Zipfian re-link rates, this turns the
    per-wave dedup from "shuffle everything against everything" into
    "broadcast B bitsets + anti-join the small maybe-seen slice".
  - false positives are safe: they just take the exact path. Bit-array size
    is a config knob (`bits_per_bucket`); at 10^10 keys / 4096 buckets,
    ~16 bits/key = ~4.9 GB per bucket would be wrong — you'd size B up so
    each bucket's filter fits executor memory (e.g. B=65536, 2.4M keys and
    ~4.8 MB of bits per bucket). Locally we default small.

Lifecycle: SeenSet alone owns its two checkpoint tables and decides when the
prefilter goes live (`bloom_min_keys`). The crawl engine makes one call per
event — `install` (external wave-0 frontier), `commit_wave` (after each
frontier write) and `restore` (resume) — and SeenSet tracks whether its
prefilter covers every key, so `filter_new` never trusts a partial filter.

    seen/wave=K/bucket=B/   url_key of the keys enqueued at frontier wave K
    blooms/wave=K/          (bucket, bits) prefilter snapshot after wave K

Bloom hash scheme: the url_key is already an md5 hex digest; h1/h2 are its
two 64-bit halves and probe i = (h1 + i*h2) mod m — deterministic, vectorized
with numpy inside Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# key-slice size above which Bloom bitsets are built DISTRIBUTED (per-bucket
# applyInPandas, build_bloom_blobs) instead of a single-threaded driver-pandas
# hash pass — the one cutoff behind SeenSet.absorb, which every prefilter
# build goes through (add, install, per-wave commit, resume), pinned
# equivalent by test_seen_ordering's builder-path test
DRIVER_BLOOM_BUILD_MAX_KEYS = 250_000

KEYS_SCHEMA = "url_key string, bucket int"
PREFILTER_SCHEMA = "bucket int, bits binary"


def key_bucket(url_key_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_key_col), F.lit(n_buckets)).cast("int")


def _hash_halves(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    h1 = keys.str.slice(0, 16).apply(int, base=16).to_numpy(dtype=np.uint64)
    h2 = keys.str.slice(16, 32).apply(int, base=16).to_numpy(dtype=np.uint64)
    return h1, h2 | np.uint64(1)


def _probe_positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    # (n, k) bit positions
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


class BloomState:
    """Per-bucket bitsets held as a {bucket: np.ndarray(uint8)} dict.

    Locally the dict is driver-held and broadcast (B is small); the
    serialization format (bucket, bits binary) is what a per-partition
    executor-resident variant would checkpoint too.
    """

    def __init__(self, n_buckets: int, bits_per_bucket: int = 1 << 17, k: int = 7):
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.k = k
        self.bits: dict[int, np.ndarray] = {}

    def add_keys(self, pdf: pd.DataFrame) -> None:
        """pdf columns: url_key, bucket."""
        for b, grp in pdf.groupby("bucket"):
            arr = self.bits.setdefault(int(b), np.zeros(self.m // 8, dtype=np.uint8))
            h1, h2 = _hash_halves(grp["url_key"])
            pos = _probe_positions(h1, h2, self.k, self.m).ravel()
            np.bitwise_or.at(arr, pos // 8, (1 << (pos % 8)).astype(np.uint8))

    def contains(self, pdf: pd.DataFrame) -> np.ndarray:
        """Vectorized maybe-seen test. pdf columns: url_key, bucket."""
        out = np.zeros(len(pdf), dtype=bool)
        if not len(pdf):
            return out
        for b, grp in pdf.groupby("bucket"):
            arr = self.bits.get(int(b))
            if arr is None:
                continue
            h1, h2 = _hash_halves(grp["url_key"])
            pos = _probe_positions(h1, h2, self.k, self.m)
            hit = ((arr[pos // 8] >> (pos % 8).astype(np.uint8)) & 1).all(axis=1)
            out[grp.index.to_numpy()] = hit
        return out

    def merge_blob(self, bucket: int, blob: bytes) -> None:
        arr = self.bits.get(int(bucket))
        incoming = np.frombuffer(blob, dtype=np.uint8)
        if arr is None:
            self.bits[int(bucket)] = incoming.copy()
        else:
            np.bitwise_or(arr, incoming, out=arr)

    def to_rows(self) -> list[tuple[int, bytes]]:
        return [(b, arr.tobytes()) for b, arr in sorted(self.bits.items())]

    @classmethod
    def from_rows(cls, rows, n_buckets: int, bits_per_bucket: int, k: int = 7):
        s = cls(n_buckets, bits_per_bucket, k)
        for b, blob in rows:
            s.bits[int(b)] = np.frombuffer(blob, dtype=np.uint8).copy()
        return s


def build_bloom_blobs(keys_df: DataFrame, m: int, k: int) -> list[tuple[int, bytes]]:
    """Distributed per-bucket Bloom construction: each bucket's keys hash into
    a bitset inside an applyInPandas group (executor-parallel); only the
    B blobs (B x m/8 bytes) come back to the driver for the OR-merge."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        arr = np.zeros(m // 8, dtype=np.uint8)
        h1, h2 = _hash_halves(pdf["url_key"])
        pos = _probe_positions(h1, h2, k, m).ravel()
        np.bitwise_or.at(arr, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        return pd.DataFrame({"bucket": [b], "bits": [arr.tobytes()]})

    rows = (
        keys_df.groupBy("bucket")
        .applyInPandas(per_bucket, "bucket int, bits binary")
        .collect()
    )
    return [(r["bucket"], r["bits"]) for r in rows]


class SeenSet:
    """Exact key table (url_key, bucket) + a probabilistic prefilter.

    Two drop-in prefilter arms behind the same facade (the north-star's
    "partitioned cuckoo/bloom URL-seen filter"):
      - kind="bloom" (default): per-bucket bitsets, cheapest bits/key;
      - kind="cuckoo" (operators/cuckoo.py): per-bucket fingerprint tables —
        same no-false-negative contract PLUS deletion, so a recrawl/
        invalidation pipeline can make URLs schedulable again without a
        rebuild.
    Both serialize as (bucket int, bits binary) rows, so the checkpoint
    table, absorb path, and filter_new plan are arm-agnostic.
    """

    def __init__(
        self,
        spark,
        n_buckets: int = 64,
        bits_per_bucket: int = 1 << 17,
        kind: str = "bloom",
        cuckoo_rows_per_bucket: int = 1 << 15,
    ):
        self.spark = spark
        self.n_buckets = n_buckets
        self.kind = kind
        if kind == "bloom":
            self.prefilter = BloomState(n_buckets, bits_per_bucket)
        elif kind == "cuckoo":
            from .cuckoo import CuckooState

            self.prefilter = CuckooState(n_buckets, cuckoo_rows_per_bucket)
        else:
            raise ValueError(f"unknown seen-filter kind: {kind!r}")
        self._keys: DataFrame | None = None  # columns: url_key, bucket
        # whether the prefilter holds every key of the set (vacuously true
        # while empty); filter_new takes the prefilter path only when it does
        self.prefilter_covers_keys = True

    # ---------------------------------------------- arm-agnostic operations
    def absorb(self, src: DataFrame, slice_rows: int) -> None:
        """Fold a (url_key, bucket) key slice into the prefilter. Driver
        build while the slice is modest (a single-threaded pandas hash pass
        is cheaper than a Spark stage); distributed per-bucket build above
        the cutoff — a 10^10-key seen set must never toPandas through the
        driver."""
        if slice_rows < DRIVER_BLOOM_BUILD_MAX_KEYS:
            self.prefilter.add_keys(src.select("url_key", "bucket").toPandas())
        elif self.kind == "bloom":
            for b, blob in build_bloom_blobs(src, self.prefilter.m, self.prefilter.k):
                self.prefilter.merge_blob(b, blob)
        else:
            from .cuckoo import build_cuckoo_blobs

            for b, blob in build_cuckoo_blobs(src, self.prefilter.m):
                self.prefilter.merge_blob(b, blob)

    def remove(self, keys: DataFrame) -> None:
        """Remove keys from the seen set (recrawl/invalidation): the URLs
        become enqueue-able again the next time a link reaches filter_new.

        The exact table drops the keys (anti-join) — that alone is CORRECT
        on both arms, because a stale prefilter positive is safe: it only
        routes the key into the exact anti-join, which now misses, so the
        key passes. The arms differ in hygiene: the cuckoo arm also deletes
        the fingerprints (the filter stays tight across unbounded
        invalidation cycles — the capability it exists for), while bloom
        bits cannot clear, so stale positives accumulate as extra
        exact-join traffic until a periodic rebuild (absorb over the
        remaining keys into a fresh BloomState).

        `keys`: DataFrame with a url_key column. Invalidation batches are
        operator-issued and modest (a recrawl list, an expiry sweep), so
        the cuckoo delete runs driver-side; a 10^8-key purge would instead
        rebuild the affected buckets distributed, like absorb."""
        kb = keys.select(
            "url_key", key_bucket(F.col("url_key"), self.n_buckets).alias("bucket")
        )
        self._keys = self.keys.join(
            kb.select("url_key"), on=["url_key"], how="left_anti"
        )
        if self.kind == "cuckoo":
            self.prefilter.delete_keys(kb.toPandas())

    @property
    def keys(self) -> DataFrame:
        if self._keys is None:
            self._keys = self.spark.createDataFrame([], KEYS_SCHEMA)
        return self._keys

    def add(self, new_keys: DataFrame, n_keys: int | None = None) -> None:
        """new_keys: DataFrame with url_key column (assumed distinct, unseen).
        The slice always folds into the prefilter (pass n_keys to skip the
        sizing count that picks the driver or distributed build)."""
        kb = new_keys.select(
            "url_key", key_bucket(F.col("url_key"), self.n_buckets).alias("bucket")
        )
        n = n_keys if n_keys is not None else kb.count()
        self.absorb(kb, n)
        self._keys = self.keys.unionByName(kb)

    # ------------------------------------------- checkpointed lifecycle
    def install(self, store, n_keys: int) -> None:
        """Take the seen set from an externally written frontier wave 0
        (n_keys rows). The prefilter is built here when the set is already
        past bloom_min_keys; its first snapshot lands with the next wave."""
        self._write_keys(store, 0, max_files=32)
        self._load_keys(store, 0)
        self.prefilter_covers_keys = n_keys == 0
        if n_keys >= self.bloom_min_keys:
            self._fold_all(n_keys)

    def commit_wave(
        self, store, wave: int, n_new: int, n_seen: int, max_files: int
    ) -> str:
        """Fold frontier wave `wave` (n_new keys, n_seen in total after it)
        into the checkpointed set. Returns which path ran ("seen+bloom" or
        "seen_write"), the engine's sub-timing label.

        Prefilter maintenance starts only once the set is big enough to pay
        for it (below that, filter_new broadcast-anti-joins the exact keys);
        the first build folds EVERY key. Once live, the wave's key slice
        comes from the frontier parquet, independent of the seen write, so
        the two run as CONCURRENT jobs — the build stays off the wave's
        serial tail."""
        live = n_seen >= self.bloom_min_keys
        if live and self.prefilter_covers_keys:
            from concurrent.futures import ThreadPoolExecutor

            def update_prefilter():
                self.absorb(self._wave_keys(store, wave), n_new)
                self._write_prefilter(store, wave)

            with ThreadPoolExecutor(max_workers=2) as ex:
                f_seen = ex.submit(self._write_keys, store, wave, max_files)
                f_pre = ex.submit(update_prefilter)
                f_seen.result()
                f_pre.result()
            self._load_keys(store, wave)
            return "seen+bloom"
        self._write_keys(store, wave, max_files)
        self._load_keys(store, wave)
        if live:
            self._fold_all(n_seen)
            self._write_prefilter(store, wave)
        elif n_new:
            self.prefilter_covers_keys = False
        return "seen_write"

    def restore(self, store, wave: int) -> int:
        """Resume from the checkpoint: keys of seen waves 0..wave, and the
        prefilter from its wave snapshot — or rebuilt from the keys when the
        set crossed bloom_min_keys without one. Returns the key count."""
        self._load_keys(store, wave)
        n = self.keys.count()
        rows = store.read_wave("blooms", wave, PREFILTER_SCHEMA).collect()
        if rows:
            self._load_prefilter([(r["bucket"], r["bits"]) for r in rows])
            self.prefilter_covers_keys = True
        elif n >= self.bloom_min_keys:
            self._fold_all(n)
        else:
            self.prefilter_covers_keys = n == 0
        return n

    def _wave_keys(self, store, wave: int) -> DataFrame:
        return store.read_wave("frontier", wave, "url_key string").select(
            "url_key", key_bucket(F.col("url_key"), self.n_buckets).alias("bucket")
        )

    def _write_keys(self, store, wave: int, max_files: int) -> None:
        # PARTITIONED BY bucket on disk: the exact anti-join side
        # partition-prunes and never recomputes the bucket hash; derived
        # from the just-written frontier parquet, so its lineage is one scan
        store.write_table(
            "seen", wave, self._wave_keys(store, wave),
            max_files=max_files, partition_by="bucket",
        )

    def _load_keys(self, store, wave: int) -> None:
        # parquet-backed keys: cut lineage, one scan over committed waves
        self._keys = store.read_all_partitioned(
            "seen", wave, KEYS_SCHEMA, ["url_key", "bucket"]
        )

    def _write_prefilter(self, store, wave: int) -> None:
        store.write_table(
            "blooms", wave,
            self.spark.createDataFrame(self.prefilter.to_rows(), PREFILTER_SCHEMA),
        )

    def _fold_all(self, n_keys: int) -> None:
        """Rebuild the prefilter from every key of the set (a fresh state:
        re-inserting keys a cuckoo table already holds would duplicate
        their fingerprints)."""
        self._load_prefilter([])
        self.absorb(self.keys, n_keys)
        self.prefilter_covers_keys = True

    def _load_prefilter(self, rows: list[tuple[int, bytes]]) -> None:
        """Replace the prefilter with the state serialized in `rows`."""
        if self.kind == "bloom":
            self.prefilter = BloomState.from_rows(
                rows, self.n_buckets, self.prefilter.m, self.prefilter.k
            )
        else:
            from .cuckoo import CuckooState

            self.prefilter = CuckooState.from_rows(
                rows, self.n_buckets, self.prefilter.m
            )

    # below this many seen keys the bloom prefilter costs more (one extra
    # Python stage per wave + the bitset build) than the broadcast anti-join
    # it replaces; sized against the 64MB autoBroadcastJoinThreshold
    # (~32-char md5 keys -> ~5M keys fit a broadcast comfortably)
    bloom_min_keys: int = 5_000_000

    def filter_new(
        self, candidates: DataFrame, key_col: str = "url_key", n_seen: int | None = None
    ) -> DataFrame:
        """Return candidates whose key is NOT in the seen set.

        `n_seen` is the set's size when the caller knows it (None: unknown).
        Prefilter-negative rows skip the join; only maybe-seen rows anti-join
        the exact table (pre-pruned to the candidate buckets). A prefilter
        that does not cover every key is never consulted.
        """
        spark = self.spark
        if n_seen is not None and n_seen == 0:
            return candidates
        if n_seen is not None and n_seen < self.bloom_min_keys:
            return candidates.join(
                F.broadcast(self.keys.withColumnRenamed("url_key", key_col).select(key_col)),
                on=[key_col],
                how="left_anti",
            )
        cand = candidates.withColumn("__bucket", key_bucket(F.col(key_col), self.n_buckets))
        if not self.prefilter_covers_keys:
            return self._exact_anti_join(cand, key_col, n_seen).drop("__bucket")
        bc = spark.sparkContext.broadcast(
            {
                "kind": self.kind,
                "rows": self.prefilter.to_rows(),
                "m": self.prefilter.m,
                "k": getattr(self.prefilter, "k", None),
                "B": self.n_buckets,
            }
        )

        @F.pandas_udf("boolean")
        def maybe_seen(keys: pd.Series, buckets: pd.Series) -> pd.Series:
            v = bc.value
            if v["kind"] == "bloom":
                st = BloomState.from_rows(v["rows"], v["B"], v["m"], v["k"])
            else:
                from siteone_crawler_spark.operators.cuckoo import CuckooState

                st = CuckooState.from_rows(v["rows"], v["B"], v["m"])
            pdf = pd.DataFrame({"url_key": keys, "bucket": buckets}).reset_index(drop=True)
            return pd.Series(st.contains(pdf))

        cand = cand.withColumn("__maybe", maybe_seen(F.col(key_col), F.col("__bucket")))
        definite_new = cand.filter(~F.col("__maybe"))
        # exact anti-join only for the maybe slice
        survivors = self._exact_anti_join(
            cand.filter(F.col("__maybe")), key_col, n_seen
        )
        return definite_new.unionByName(survivors).drop("__bucket", "__maybe")

    def _exact_anti_join(
        self, cand: DataFrame, key_col: str, n_seen: int | None
    ) -> DataFrame:
        """Anti-join candidates (carrying __bucket) against the exact keys."""
        seen_pruned = self.keys.withColumnRenamed("url_key", key_col)
        if self._small(n_seen):
            return cand.join(
                F.broadcast(seen_pruned.select(key_col)), on=[key_col], how="left_anti"
            )
        # co-key on (bucket, key): the seen table is bucket-partitioned on
        # disk, so the scan prunes to touched buckets and both sides hash
        # identically in the shuffle
        return cand.join(
            seen_pruned.withColumnRenamed("bucket", "__bucket"),
            on=[key_col, "__bucket"],
            how="left_anti",
        )

    # keys above which the exact side must NOT be broadcast: ~32-char md5
    # keys, ~5M rows ≈ 300MB of broadcast payload is the ceiling; beyond it
    # the anti-join runs as a shuffle (bucket-colocated sort-merge — both
    # sides already carry the bucket column, so AQE keeps it narrow)
    broadcast_max_keys: int = 5_000_000

    def _small(self, n_seen: int | None) -> bool:
        return n_seen is not None and n_seen <= self.broadcast_max_keys
