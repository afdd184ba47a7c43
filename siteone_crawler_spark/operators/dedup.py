"""Deduplication operators for training-data pipelines.

Five flavors, all DataFrame-native where possible:

  exact          md5(normalized text) groupBy — the hash-groupBy baseline
  minhash + LSH  word-shingles -> k independent minhashes -> b bands ->
                 band-bucket join -> candidate pairs -> exact Jaccard verify
  simhash        64-bit sign-aggregated token hashes (native Catalyst, md5
                 or xxhash64 token hashes)
  ngram-jaccard  exact Jaccard over shingle sets for candidate pairs
  embedding near-dup  cosine over embedding vectors (operators/similarity.py)

Hashing uses md5 hex strings (lexicographic min is a valid minhash) so the
DuckDB oracle can reproduce values exactly — both engines agree on md5() of
the same bytes, which would not hold for xxhash64 across engines. At cluster
scale you would swap md5 for xxhash64 (cheaper, JVM-native); the operator
shape is identical.

Scale notes: the LSH band join shuffles on (band, band_key) — bucket keys are
uniformly distributed by construction (hashes), so no skew; candidate-pair
verification joins shingle sets back by doc_id (co-partitioned on doc_id).

Reference parity note: the reference crawler has no content dedup (its dedup
is URL-keyed only, /root/reference/src/engine/found_urls.rs:29-32); this
module is the north-rule training-data superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, norm_tokens, word_shingles


def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ids: int = 1000,
) -> DataFrame:
    """Groups of identical normalized content: (fp, n_docs, keeper, doc_ids).
    Only groups with >1 member are duplicates; keeper = min(doc_id).

    `n_docs` and `keeper` are always exact; `doc_ids` is a PREVIEW capped at
    the `max_ids` smallest members — a degenerate corpus (10^8 empty docs)
    collapses to ONE group, and emitting an uncapped 10^8-element array in a
    single output row breaks every downstream consumer (the reference caps
    its per-group URL previews the same way: docs/JSON-OUTPUT.md §5 sample
    tables). The cap bounds the OUTPUT row; the collect_list agg buffer
    itself is still O(group) during the merge — if a corpus is known to
    carry mega-groups, drop doc_ids from the projection entirely (Catalyst
    prunes the collect_list away) and fetch previews per-fp on demand.
    Pass None to disable the cap."""
    ids = F.sort_array(F.collect_list("doc_id"))
    if max_ids is not None:
        ids = F.slice(ids, 1, max_ids)
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
            ids.alias("doc_ids"),
        )
    )


def _minhash_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per doc with all `num_hashes` minhashes as columns
    (__m0..__m{k-1}): a single groupBy(doc_id) with k min() aggregates.

    The tall formulation (explode k seeds per shingle, groupBy (doc, seed))
    multiplied the shuffle by k AND paid a second exchange to regroup by
    (doc, band); here the k mins partial-aggregate map-side over the raw
    shingle rows, ONE exchange carries k hashes per doc, and band keys
    become row-local expressions. Values are identical: min over
    md5(str(seed) || '|' || shingle) per seed either way."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, seed, minhash): minhash = lexicographic MIN over
    md5(seed || '|' || shingle). Rows with no shingles get no signature.
    Computed via the wide one-exchange aggregate (_minhash_wide) and
    unfolded with posexplode — same rows, one exchange instead of one per
    grouping and no k-way shingle-row multiplication before the shuffle."""
    wide = _minhash_wide(docs, id_col, text_col, num_hashes, shingle_n)
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
        ).alias("seed", "minhash"),
    )


def lsh_band_keys(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band, band_key): band_key = md5 over the band's concatenated
    minhashes. Docs sharing any band_key are near-dup candidates."""
    rows_per_band = num_hashes // bands
    sig = signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    return (
        sig.groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(",", F.array_sort(F.collect_list(F.col("minhash"))))
            ).alias("band_key")
        )
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) with the number of colliding bands.

    The band-key self-join is quadratic WITHIN a bucket: boilerplate corpora
    (error pages, templated listings) make identical shingle sets — hence
    identical band keys — common at 100-TB scale, and one million-doc band
    bucket alone is a 10^12-row join. `max_bucket` drops buckets with more
    members than the cap before pairing, the same over-full-bucket guard as
    the simhash (blk, val) blocks and the CDC chunk-frequency filter: an
    over-full bucket means the band is uninformative for its members — at
    scale, route those docs to exact dedup (identical shingle sets ARE exact
    near-dups) or re-band with more hashes. Pass None to disable."""
    wide = _minhash_wide(docs, id_col, text_col, num_hashes, shingle_n)
    rows_per_band = num_hashes // bands
    # band keys are ROW-LOCAL over the wide signature row (md5 of the
    # band's sorted minhashes — identical to the tall collect_list +
    # array_sort values), so the tall path's second (doc, band) exchange
    # disappears entirely
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.array_sort(
                        F.array(
                            *[
                                F.col(f"__m{b * rows_per_band + j}")
                                for j in range(rows_per_band)
                            ]
                        )
                    ),
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    bk = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("__b")
    ).select("doc_id", F.col("__b.band").alias("band"), F.col("__b.band_key").alias("band_key"))
    # terminate the shingle+signature build in ONE exchange plus a LAZY
    # localCheckpoint barrier: the guard aggregate and both self-join sides
    # rename columns below their own exchanges, which defeats exchange
    # reuse and re-ran the whole minhash pipeline per consumer (measured 3x
    # wall; the repartition alone did not restore reuse — the consumers'
    # differently-pruned subtrees canonicalize differently). The checkpoint
    # is lazy (computed inside the consuming action, fresh per build — no
    # cross-run result reuse) and holds only the slim (doc_id, band,
    # band_key) rows the joins shuffle anyway.
    bk = bk.repartition("band", "band_key").localCheckpoint(eager=False)
    if max_bucket is not None:
        # both sides reuse the exchange above
        keep = (
            bk.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "band_key")
        )
        bk = bk.join(keep, ["band", "band_key"])
    a = bk.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bk.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands"))
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs."""
    # semi-join docs to the candidate ids BEFORE shingling: the inner joins
    # below already restrict output to pair members, so this changes nothing
    # — but it shrinks the expensive shingle build from O(corpus) to
    # O(candidates), which at 10^10 docs is the difference between a full
    # double corpus scan and a lookup-sized one
    ids = (
        pairs.select(F.col("doc_a").alias("__pid"))
        .union(pairs.select(F.col("doc_b").alias("__pid")))
        .distinct()
    )
    docs = docs.join(ids, docs[id_col] == ids["__pid"], "leftsemi")
    # lazy barrier: the shingle-set build is consumed twice (doc_a side and
    # doc_b side of the verify join) and re-ran per side without it; the
    # checkpoint holds candidate-sized rows only (post semi-join)
    sets_ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).localCheckpoint(eager=False)
    j = (
        pairs.join(sets_.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets_.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "doc_a",
        "doc_b",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6).alias("jaccard"),
    )


def near_duplicates_minhash(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Full pipeline: LSH candidates -> exact-Jaccard verify -> thresholded
    near-dup pairs, ordered (doc_a, doc_b). `max_bucket` forwards to the
    over-full-band-bucket guard in minhash_candidate_pairs."""
    pairs = minhash_candidate_pairs(
        docs, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
    )
    jac = jaccard_pairs(docs, pairs.select("doc_a", "doc_b"), id_col, text_col, shingle_n)
    return jac.filter(F.col("jaccard") >= threshold)


def simhash64(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    native: bool = False,
) -> DataFrame:
    """64-bit SimHash over normalized tokens.

    Each token hashes to 64 bits; bit i votes +1/-1; the fingerprint is the
    sign vector. Near-dups have small Hamming distance.

    Two token-hash kernels, BOTH pure Catalyst (zero Python in the plan):
    - default (md5 top-8-bytes, big-endian): bit-identical to the historical
      Arrow/numpy kernel (int.from_bytes(md5(t).digest()[:8], 'big') per
      token) and reproducible in DuckDB, so the driver oracle re-derives
      the bit voting in SQL. The token hash is assembled natively from the
      md5 hex string — two 32-bit conv() halves OR'd into one long, the
      exact digest bit pattern — and fed to the same SWAR vote kernel as
      the native arm (the kernel is hash-agnostic).
    - native=True (xxhash64): cheapest hash, the 100-TB default.
    Fingerprints differ between kernels (they hash differently) but
    near-dup PAIRS agree on real near-dups (tests pin this on a fixture
    corpus).
    """
    if native:
        hashes_sql = "transform(__toks, t -> xxhash64(t))"
    else:
        # md5 hex -> the UNSIGNED big-endian value of digest bytes [0, 8)
        # reinterpreted as a signed long: hi = bytes 0-3 (hex chars 1-8),
        # lo = bytes 4-7 (hex chars 9-16); (hi << 32) | lo is the exact
        # two's-complement bit pattern, and the vote kernel only reads
        # bits. One md5 per token (the inner transform binds the hex
        # string, so the two conv() halves share it).
        hashes_sql = (
            "transform(transform(__toks, t -> md5(t)),"
            " x -> shiftleft(cast(conv(substring(x, 1, 8), 16, 10) AS long), 32)"
            " | cast(conv(substring(x, 9, 8), 16, 10) AS long))"
        )
    # SWAR bit-count kernel — identical fingerprints to the naive
    # per-bit vote fold, ~8x fewer interpreted-lambda ops (HOF lambdas
    # never reach codegen, so op count IS the cost; the naive form's
    # 64-wide per-token transform measured ~65 s on a 100k-doc corpus
    # with the kernel as the whole bottleneck). Layout: for shift k in
    # 0..7, (h >> k) & 0x0101...01 drops bit (k + 8j) of the token
    # hash into byte lane j, so adding that word into an accumulator
    # long counts eight bit positions at once (8 ops per token instead
    # of 64). Byte lanes must stay below 128 so 127 additions of the
    # all-lanes word 0x0101..01 cannot overflow a signed long, so
    # tokens are folded in 127-token chunks; per chunk the 8 lane-words widen into 64 int
    # counters. Bit i of the fingerprint is set iff ones_i * 2 > n —
    # exactly the "votes > 0" rule of the naive kernel (votes =
    # 2*ones - n). Arithmetic shiftright is safe: the mask's highest
    # lane reads shifted bit 56 = original bit 56+k <= 63, below the
    # sign-fill region for every k <= 7.
    votes = F.expr(
        f"""
        IF(size(__toks) = 0, 0L,
          element_at(transform(array({hashes_sql}),
            hs -> aggregate(
              transform(
                sequence(0, cast(ceil(size(hs) / 127.0) AS int) - 1),
                c -> aggregate(
                  slice(hs, c * 127 + 1, 127),
                  array_repeat(0L, 8),
                  (acc, h) -> transform(
                    sequence(0, 7),
                    k -> element_at(acc, k + 1)
                         + (shiftright(h, k) & 72340172838076673L)))),
              array_repeat(0, 64),
              (ones, lanes) -> transform(
                sequence(0, 63),
                i -> element_at(ones, i + 1)
                     + cast(shiftright(element_at(lanes, (i % 8) + 1),
                                       8 * (i div 8)) & 255L AS int)),
              ones -> aggregate(
                transform(sequence(0, 63),
                          i -> IF(element_at(ones, i + 1) * 2 > size(hs),
                                  shiftleft(1L, i), 0L)),
                0L, (s, v) -> s | v)
            )), 1))"""
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        norm_tokens(F.col(text_col)).alias("__toks"),
    ).select("doc_id", F.coalesce(votes, F.lit(0)).alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 8, max_bucket: int | None = 10_000, **kw
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 16-bit sub-bands (any exact
    sub-band match is a candidate — standard Hamming-LSH), then verify the
    full Hamming distance. Avoids the O(n^2) cross join globally; the
    within-bucket join is still quadratic, so `max_bucket` drops buckets
    with more members than the cap before pairing (a 10^10-doc corpus puts
    ~150k docs in an average 16-bit bucket — pairing those is 10^10 rows
    per bucket). An over-full bucket means that sub-band is uninformative
    for its members; at scale, re-block them with more/permuted bands or
    route the mega-cluster to exact dedup. Pass None to disable the guard.

    kw forwards to simhash64 — pass native=True for the xxhash64 all-Catalyst
    fingerprint kernel (the at-scale default; md5 is for oracle parity)."""
    sh = simhash64(docs, **kw)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), 16 * i)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    # terminate the fingerprint kernel in ONE exchange plus a LAZY
    # localCheckpoint barrier: the guard aggregate and both self-join sides
    # re-execute everything below their own exchanges (the repartition
    # alone did not restore exchange reuse — the consumers' differently-
    # pruned subtrees canonicalize differently, and the r5 plan showed six
    # ArrowEvalPython nodes for one UDF), so without the barrier the
    # 64-bit vote kernel ran per consumer. Lazy: computed inside the
    # consuming action, fresh per build (no cross-run result reuse); it
    # holds the slim (doc_id, simhash, blk, val) rows the joins shuffle
    # anyway. The joins below all want (blk, val) hash partitioning, so
    # this shuffle replaces theirs.
    blocks = blocks.repartition("blk", "val").localCheckpoint(eager=False)
    if max_bucket is not None:
        # both sides reuse the exchange above
        keep = (
            blocks.groupBy("blk", "val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("blk", "val")
        )
        blocks = blocks.join(keep, ["blk", "val"])
    a = blocks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "blk", "val")
    b = blocks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "blk", "val")
    cand = (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- content-defined chunking (CDC) dedup -----------------------------------
# Chunk-level near-dup detection for training corpora: boundaries are a
# pure function of a local w-char window (the CDC property — an insertion
# shifts at most the chunks it touches, unlike fixed-size chunking), so
# shared content yields shared chunk hashes whatever its offset. The
# "rolling hash" is md5 over each w-char window — not an O(1)-update
# Karp-Rabin, but the SAME boundary-locality property, and it stays a
# native Catalyst expression on both the Spark and the SQL-oracle side.


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    mask: int = 16,
    min_len: int = 1,
) -> DataFrame:
    """One row per (doc_id, chunk_hash, n): boundaries where
    md5(window)'s leading 16 bits % mask == 0; chunks are the spans
    between boundaries, hashed by md5. n counts duplicate chunks within
    the doc (multiset semantics for the overlap measure)."""
    t = F.col(text_col)
    positions = F.sequence(F.lit(1), F.greatest(F.length(t) - window + 1, F.lit(1)))
    is_boundary = lambda i: (  # noqa: E731
        F.conv(F.substring(F.md5(F.substring(t, i, window)), 1, 4), 16, 10).cast(
            "long"
        )
        % mask
        == 0
    )
    bounds = F.concat(
        F.array(F.lit(1)),
        F.filter(positions, lambda i: (i > 1) & is_boundary(i)),
        F.array(F.length(t) + 1),
    )

    # let-bind bounds via a single-element transform: each element_at(bounds,
    # k) inside the chunk lambda would otherwise re-run the ENTIRE boundary
    # scan (one md5 per text position) — three times per chunk (Catalyst
    # skips subexpression elimination in higher-order-function lambdas; same
    # measured 6.7x-class cost as functions/text.word_shingles)
    def cut(b):
        idx = F.sequence(F.lit(1), F.size(b) - 1)
        return F.transform(
            idx,
            lambda k: F.substring(
                t,
                F.element_at(b, k),
                F.element_at(b, k + 1) - F.element_at(b, k),
            ),
        )

    chunks = F.flatten(F.transform(F.array(bounds), cut))
    chunks = F.filter(chunks, lambda c: F.length(c) >= min_len)
    out = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.transform(chunks, F.md5)).alias("chunk_hash")
    )
    return out.groupBy("doc_id", "chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def cdc_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    mask: int = 16,
    max_chunk_freq: int | None = 10_000,
) -> DataFrame:
    """Pairs of docs whose chunk-multiset overlap ratio
    (shared / min(total_a, total_b)) >= threshold. Candidates come from an
    inverted-index equi-join on chunk_hash — no all-pairs anywhere; chunks
    appearing in more than `max_chunk_freq` docs (boilerplate) are dropped
    from pairing, the same over-full-bucket guard as the LSH families."""
    ch = cdc_chunks(docs, id_col, text_col, window, mask)
    # one exchange + a LAZY localCheckpoint barrier for the chunk scan:
    # totals, the frequency guard, and both inverted-index join sides
    # otherwise re-run the per-char md5 boundary scan each (4x measured;
    # the repartition alone did not restore exchange reuse across the
    # consumers' differently-pruned subtrees). Lazy: computed inside the
    # consuming action, fresh per build — no cross-run result reuse; it
    # holds the slim (doc_id, chunk_hash, n) rows the joins shuffle anyway.
    ch = ch.repartition("chunk_hash").localCheckpoint(eager=False)
    totals = ch.groupBy("doc_id").agg(F.sum("n").alias("total"))
    if max_chunk_freq is not None:
        keep = (
            ch.groupBy("chunk_hash")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") <= max_chunk_freq)
            .select("chunk_hash")
        )
        ch = ch.join(keep, "chunk_hash")
    a = ch.select(F.col("doc_id").alias("doc_a"), "chunk_hash", F.col("n").alias("na"))
    b = ch.select(F.col("doc_id").alias("doc_b"), "chunk_hash", F.col("n").alias("nb"))
    shared = (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("na", "nb")).alias("shared"))
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("total").alias("ta"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("total").alias("tb"))
    return (
        shared.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared") / F.least("ta", "tb"), 6
            ).alias("overlap"),
        )
        .filter(F.col("overlap") >= threshold)
    )


def repeated_window_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-window detection — the fixed-stride variant of
    exact-substring dedup (Lee, Ippolito, Nystrom, Zhang, Eck, Callison-
    Burch, Carlini — "Deduplicating Training Data Makes Language Models
    Better", ACL 2022, public; their suffix-array substrings become
    `window`-token rolling windows here, the granularity a shuffle-based
    engine can count globally).

    A window whose corpus-wide occurrence count >= min_count (duplicates
    inside one document count too) marks exactly-repeated text a training
    pipeline cuts or down-weights. Output per doc: n_windows, n_repeated
    (occurrences in repeated windows), repeated_ratio.

    Plan: explode windows -> md5 the window BEFORE the exchange (32-byte
    keys shuffle instead of ~6x-larger window strings) -> hash-count ->
    semi-join occurrences back -> per-doc aggregate. Same inverted-index
    shape as cdc_near_duplicates; map-side partial counts; no windows
    (the SQL kind), no Python."""
    from siteone_crawler_spark.functions.text import token_count, word_shingles

    # lazy barrier: the occurrence stream feeds BOTH the corpus-wide window
    # count and the per-doc semi-join — without it the tokenize+shingle+md5
    # pass (the expensive part) ran once per consumer. Stored rows are the
    # already-hashed (doc_id, h) pairs the two shuffles move anyway.
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), window)).alias("__w"),
    ).select("doc_id", F.md5("__w").alias("h")).localCheckpoint(eager=False)
    hot = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("h")
    )
    per_doc = (
        occ.join(hot, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_repeated"))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(
            token_count(F.col(text_col)) - (window - 1), F.lit(0)
        ).alias("n_windows"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
        F.round(
            F.when(
                F.col("n_windows") > 0,
                F.coalesce("n_repeated", F.lit(0)) / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("repeated_ratio"),
    )
