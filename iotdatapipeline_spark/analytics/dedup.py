"""Deduplication families for training-data pipelines.

  * exact: hash-groupBy on content digest — one shuffle, no pairs.
  * MinHash + LSH: shingle → k-min-hash signature → banded bucket
    join; candidate pairs only ever meet inside a band bucket, so the
    pair space is bounded by bucket collisions, not n² — the only
    strategy that survives 100 TB.
  * n-gram Jaccard: exact verify step for candidate pairs (bounded by
    a blocking key such as ``source`` or an LSH bucket).
  * SimHash: see analytics.text.simhash16 (signature equality bucket).

Hashing is md5-derived end-to-end (no platform-dependent seeds):
MinHash draws its k permutations from ONE md5 per shingle
(Kirsch-Mitzenmacher a + i·b over the digest's two 56-bit halves,
exact in int64), band keys re-hash the signature ints, and every
engine computes the identical values — the DuckDB oracles replay the
same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iotdatapipeline_spark.operators.skew import fanout_repartition


def exact_dedup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5(content) groups with canonical (min) id and
    multiplicity. Output: text_hash, canonical_id, n_copies."""
    return (
        docs.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).cast("long").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per word-``n``-gram shingle: (id, *extra_cols, shingle).

    Explode-first formulation: explode the shingle INDEX sequence, then
    build each shingle with plain ``slice``+``array_join`` projections.
    The alternative — building the full shingle array with a
    ``transform`` lambda and exploding it — keeps the per-shingle work
    inside a higher-order-function closure, which Spark evaluates
    outside whole-stage codegen; measured 2.8× slower on the same data.
    Explode + project pipeline in one codegen stage, so the words array
    is never materialized per shingle row."""
    # pre-split into a real column: an inline split inside a downstream
    # expression would be re-evaluated per shingle (O(words²) per doc).
    ws = F.col("__ws")
    cnt = F.greatest(F.array_size(ws) - F.lit(n - 1), F.lit(1))
    return (
        docs.withColumn("__ws", F.split(F.col(text_col), " "))
        .select(F.col(id_col), *extra_cols, "__ws", F.explode(F.sequence(F.lit(1), cnt)).alias("__i"))
        .select(F.col(id_col), *extra_cols, F.array_join(F.slice(ws, F.col("__i"), n), " ").alias("shingle"))
    )


def shingle_set(docs: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word-``n``-gram shingles per document (long format).

    ``distinct=True`` shuffles to the true shingle *set* — required when
    downstream counts shingles (Jaccard). Pass ``distinct=False`` for
    consumers insensitive to multiplicity (MinHash: min over a multiset
    equals min over its set) — it removes a full shuffle of the widest
    intermediate, the dominant cost at scale."""
    # fanout_repartition: the explode+md5 fan-out below is the widest
    # compute in the pipeline — parallelize it even when the doc scan
    # is a single task (no-op at cluster scale, see skew.py).
    out = exploded_shingles(fanout_repartition(docs), id_col, text_col, n)
    return out.distinct() if distinct else out


#: Modulus + fixed coefficient pairs for the affine MinHash family —
#: MINHASH_P prime (same one Spark MLlib's MinHashLSH uses); (A, B)
#: arbitrary fixed constants in [1, P) / [0, P). Hardcoded so every
#: engine (and every round) computes identical signatures.
MINHASH_P = 2_038_074_743
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (914_334_281, 823_378_492),
    (1_732_584_193, 271_828_182),
    (1_518_500_249, 141_421_356),
    (789_456_123, 577_215_664),
    (1_234_567_891, 314_159_265),
    (611_111_113, 161_803_398),
    (1_908_090_707, 101_001_011),
    (444_444_443, 707_106_781),
)


def minhash_signatures(
    shingles: DataFrame, id_col: str, k: int = 8, extra_aggs: tuple = ()
) -> DataFrame:
    """k-permutation MinHash from ONE md5 per shingle: base hash
    x = int(md5[:8 hex]) mod P, then k independent affine permutations
    h_i(s) = (A_i·x + B_i) mod P (the classic construction, same shape
    as Spark MLlib's MinHashLSH). Exact in int64: A_i, x < 2^31 so
    A_i·x + B_i < 2^62. Signature columns ``h0..h{k-1}`` = per-doc
    minima as BIGINTs.

    vs. k independent md5 calls: 8× less hashing on the widest
    intermediate and integer min instead of 32-char string min — the
    map-side cost that dominates MinHash at corpus scale — while the
    DISTINCT random multipliers keep the k permutations independent
    (a naive a + i·b from one digest correlates the minima and was
    measured to blow candidate pairs up 15×). The base hash is
    materialized in a projection before the aggregate so md5 runs
    once, not once per h_i.

    ``extra_aggs``: additional aggregate expressions folded into the
    SAME per-id groupBy (r14, guide §2.4 — e.g. ``count(*)`` gives the
    shingle-set size without a second corpus-wide shuffle of the
    exploded stream). They may reference only ``id_col``/``__x``."""
    if k > len(MINHASH_COEFFS):
        raise ValueError(f"k <= {len(MINHASH_COEFFS)} fixed coefficient pairs available")
    x = F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 8), 16, 10).cast("long") % MINHASH_P
    pre = shingles.select(F.col(id_col), x.alias("__x"))
    aggs = [
        F.min((a * F.col("__x") + b) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
    ]
    return pre.groupBy(id_col).agg(*aggs, *extra_aggs)


def lsh_band_long(
    signatures: DataFrame,
    id_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Band a MinHash signature and return the long-format LSH index:
    one row per (id, band_id, band_hash). This IS the structure a
    persisted near-dup index stores (partitioned/bucketed by
    (band_id, band_hash)) — ``lsh_candidate_pairs`` derives same-set
    pairs from it, ``lsh_probe_candidates`` joins a new batch against
    it without touching corpus×corpus.

    ``carry_cols``: extra per-id payload columns carried through the
    band explode (r14) so downstream pair expansion can emit them
    without re-joining the signature frame per side."""
    n_bands = k // rows_per_band
    bands = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).cast(
                "binary"
            )
        ).alias(f"b{b}")
        for b in range(n_bands)
    ]
    banded = signatures.select(F.col(id_col), *[F.col(c) for c in carry_cols], *bands)
    return banded.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(n_bands)])).alias("band_id", "band_hash"),
    )


def lsh_probe_candidates(
    index_bands: DataFrame, probe_bands: DataFrame, id_col: str
) -> DataFrame:
    """Asymmetric LSH candidate generation: join a (small) probe
    batch's band keys against the stored corpus index on
    (band_id, band_hash). Output: (probe_id, index_id) distinct.

    This is the INCREMENTAL dedup shape: a daily ingest batch is
    deduplicated against a 100 TB corpus by hash-joining |batch|·bands
    rows against the bucketed index — corpus×corpus is never
    re-enumerated, and with the index bucketed on the join key the
    shuffle moves only the probe side."""
    probe = probe_bands.select(
        F.col(id_col).alias("probe_id"), "band_id", "band_hash"
    )
    index = index_bands.select(
        F.col(id_col).alias("index_id"), "band_id", "band_hash"
    )
    return (
        probe.join(index, ["band_id", "band_hash"])
        .filter(F.col("probe_id") != F.col("index_id"))
        .select("probe_id", "index_id")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Band the signature (b = k/rows_per_band bands), hash each band,
    group ids per (band_id, band_hash) bucket, and expand pairs WITHIN
    each bucket. Output: doc1 < doc2 distinct.

    Shape rationale: the naive formulation is a self-join on
    (band_id, band_hash) — but Spark does not reuse the exchange across
    the two sides (verified), so the entire upstream shingle→minhash
    pipeline would execute twice. Grouping to ``collect_set`` + in-array
    pair expansion computes signatures once, costs one extra (uniform,
    high-cardinality-keyed) shuffle, and never enumerates pairs outside
    a bucket. LSH buckets are small by construction; a pathological
    bucket (mass-duplicated content) is quadratic in ITS size only —
    cap it with ``max_bucket`` at scale (dropped buckets are guaranteed
    over-threshold duplicates; route them to exact dedup instead).

    ``carry_cols`` (r14, guide §2.4): per-id payload columns (e.g. the
    signature components, set sizes) ride the bucket structs and come
    out as ``<c>_1``/``<c>_2`` on each pair — consumers that need
    per-side attributes (estimator audits) avoid re-joining the
    signature frame once per side, which re-executes the whole
    upstream shingle pipeline per join side. Carried values must be
    deterministic per id (they are deduped with a per-pair max).

    A pair that matches in several bands is emitted by several buckets,
    so the plan ends in a pair-keyed dedup shuffle (distinct / groupBy).
    That shuffle moves only the LSH-bounded candidate pairs; carrying
    each id's earlier band hashes to emit a pair from its first band
    only was measured slower (r14: x10 ABBA 1.448 vs 1.629 s, sf0.1
    flat) because it ~doubles the bytes of the bucket exchange.
    """
    long = lsh_band_long(
        signatures, id_col, k=k, rows_per_band=rows_per_band, carry_cols=carry_cols
    )
    if carry_cols:
        member = F.struct(F.col(id_col), *[F.col(c) for c in carry_cols])
        buckets = (
            long.groupBy("band_id", "band_hash")
            .agg(F.array_sort(F.collect_set(member)).alias("ms"))
            .filter(F.size("ms") > 1)
        )
        if max_bucket is not None:
            buckets = buckets.filter(F.size("ms") <= max_bucket)
        # ids are unique per bucket, so the struct sort (id first) gives
        # the same strict doc1 < doc2 ordering as the ids-only path
        lefts = buckets.select(F.posexplode("ms").alias("i", "m1"), F.col("ms"))
        pairs = lefts.select(
            "m1",
            F.explode(F.slice(F.col("ms"), F.col("i") + 2, F.size("ms"))).alias("m2"),
        )
        flat = pairs.select(
            F.col(f"m1.{id_col}").alias("doc1"),
            F.col(f"m2.{id_col}").alias("doc2"),
            *[F.col(f"m1.{c}").alias(f"{c}_1") for c in carry_cols],
            *[F.col(f"m2.{c}").alias(f"{c}_2") for c in carry_cols],
        )
        # cross-band dedupe; groupBy (not distinct) so the output is
        # partitioned by (doc1, doc2) and a downstream join on the pair
        # key reuses this exchange
        return flat.groupBy("doc1", "doc2").agg(
            *[F.max(f"{c}_1").alias(f"{c}_1") for c in carry_cols],
            *[F.max(f"{c}_2").alias(f"{c}_2") for c in carry_cols],
        )
    buckets = (
        long.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # all ordered pairs within the sorted ids array: (ids[i], ids[j]) for j>i
    lefts = buckets.select(F.posexplode("ids").alias("i", "doc1"), F.col("ids"))
    pairs = lefts.select(
        "doc1",
        F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias("doc2"),
    )
    return pairs.distinct()


def _salted_pair_counts(
    shingles: DataFrame, id_col: str, keys: list[str], m: int
) -> DataFrame:
    """Per-(doc1, doc2) co-occurrence counts via salted two-stage
    bucket expansion (guide §2.5 — deterministic salt, never rand()):
    see ``jaccard_pairs``. Emits each shared key exactly once per pair:
    same-salt from the sorted sub-array, cross-salt from the single
    (salt1 < salt2) block row."""
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)).cast("int")
    sb = (
        shingles.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
    )
    w_lefts = sb.filter(F.size("ids") > 1).select(
        F.posexplode("ids").alias("i", "doc1"), F.col("ids")
    )
    within = w_lefts.select(
        "doc1",
        F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias("doc2"),
    )
    a = sb.select(*keys, F.col("__salt").alias("s1"), F.col("ids").alias("ids1"))
    b = sb.select(*keys, F.col("__salt").alias("s2"), F.col("ids").alias("ids2"))
    blocks = (
        a.join(b, keys)
        .filter(F.col("s1") < F.col("s2"))
        # a hot shingle owns m(m-1)/2 block rows on ONE task after the
        # join's key partitioning; re-key by (keys, s1, s2) so the
        # quadratic per-block expansion spreads across the cluster
        .repartition(*keys, "s1", "s2")
    )
    cross = (
        blocks.select(F.explode("ids1").alias("da"), "ids2")
        .select("da", F.explode("ids2").alias("db"))
        .select(F.least("da", "db").alias("doc1"), F.greatest("da", "db").alias("doc2"))
    )
    return within.unionByName(cross).groupBy("doc1", "doc2").agg(
        F.count(F.lit(1)).alias("inter")
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    block_col: str | None = None,
    min_jaccard_x1000: int = 100,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. Pairs are bounded by
    ``block_col`` (same-block only) — at scale this must be an LSH
    bucket or metadata key, never unblocked. Output: doc1, doc2,
    inter, jaccard_x1000 (floor of 1000·|∩|/|∪| — exact integer).

    Precondition: ``shingles`` must be distinct per (id, shingle
    [, block]) — ``shingle_set(distinct=True)`` output. Duplicate rows
    would desynchronize the set-semantics bucket intersection from the
    ``count(*)`` sizes and understate jaccard.

    Shape (r13, guide §2.4): intersection sizes come from grouping the
    shingle stream ONCE per (shingle[, block]) into a sorted id set and
    expanding ordered pairs within each bucket — the same
    exchange-reuse rationale as ``lsh_candidate_pairs`` above: the
    naive self-join on the shingle key executes the whole upstream
    explode→distinct pipeline once PER SIDE (Spark does not share the
    exchange across a self-join's sides), tripling the scans once the
    per-doc size aggregate is counted. Pair volume is identical to the
    join's output (k docs sharing a shingle → C(k,2) rows either way).
    Measured (ABBA median-of-6, noop sink, tools/bench_jaccard_ab.py):
    x10 6.863 → 4.751 s (the corpus-scaled subtree dominates); at
    sf0.1 the self-join form still wins 0.824 vs 1.018 s (collect_set
    object-agg fixed cost) — decision taken at data scale.

    Skew guard (r14, guide §2.5): with the plain shape a pathological
    stop-shingle collects O(k) ids into ONE bucket row and expands its
    C(k,2) pairs in ONE task. ``salt_buckets=m`` switches to a
    result-identical two-stage expansion: ids aggregate per (shingle,
    salt) with salt = hash(id) mod m, so no bucket row holds more than
    ~k/m ids; same-salt pairs expand in-array as before, cross-salt
    pairs come from salt-block pairs (a hash repartition on
    (shingle[, block], salt₁, salt₂) spreads a hot shingle's m·(m−1)/2
    block rows across tasks before the quadratic expansion). Per-row
    memory is bounded at ~(k/m)²; per-task work is bounded only in
    expectation, since hash placement can still put several block rows
    on one task. Every co-occurrence is emitted exactly once (same-salt
    in-array, cross-salt from the single (salt₁<salt₂) block), so
    counts are unchanged — verified by exceptAll in
    tests/test_properties.py. Costs one extra shuffle of the salted
    buckets plus a per-side re-execution of the upstream pipeline for
    the block join; default None keeps the single-aggregate plan for
    corpora without a hot shingle (the fixture's 3-grams)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    keys = ["shingle"] + ([block_col] if block_col is not None else [])
    if salt_buckets is not None:
        inter = _salted_pair_counts(shingles, id_col, keys, salt_buckets)
    else:
        buckets = (
            shingles.groupBy(*keys)
            .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        lefts = buckets.select(F.posexplode("ids").alias("i", "doc1"), F.col("ids"))
        inter = (
            lefts.select(
                "doc1",
                F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias("doc2"),
            )
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    s1 = sizes.select(F.col(id_col).alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("doc2"), F.col("n").alias("n2"))
    out = (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard_x1000",
            F.floor(F.lit(1000.0) * F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))).cast(
                "long"
            ),
        )
    )
    return out.filter(F.col("jaccard_x1000") >= min_jaccard_x1000).select(
        # never-firing when(): the bucket expansion proves doc1/doc2
        # non-null, but the pinned schema (from the pre-r13 join form)
        # carries them nullable
        F.when(F.col("doc1").isNotNull(), F.col("doc1")).alias("doc1"),
        F.when(F.col("doc2").isNotNull(), F.col("doc2")).alias("doc2"),
        "inter",
        "jaccard_x1000",
    )
