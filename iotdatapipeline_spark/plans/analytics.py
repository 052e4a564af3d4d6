"""Analytics query registry — training-data operators over the
``documents`` and ``embeddings`` fixtures (north-star extensions,
SURVEY.md §7 step 8).

Oracle strategy: all hashing is md5 hex strings (engine-agnostic);
cosine/L2 run in double with round/floor-to-integer cuts so the
driver's value hash is stable across summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iotdatapipeline_spark.analytics.dedup import MINHASH_COEFFS
from iotdatapipeline_spark.analytics import (
    LANG_STOPWORDS,
    TOKEN_REGEX,
    exact_dedup_groups,
    fingerprint,
    ivf_assign,
    ivf_search,
    jaccard_pairs,
    kmeans_assignments,
    knn_bruteforce,
    langid_pred,
    langid_scores,
    lsh_candidate_pairs,
    minhash_signatures,
    n_tokens,
    n_words,
    neardup_pairs,
    exploded_shingles,
    shingle_set,
    simhash16_of_hashes,
    word_hashes,
    stopword_hits,
    words,
)
from iotdatapipeline_spark.plans._registry import ORACLE, register, scratch
from iotdatapipeline_spark.sources import load_table


def _sql_stop_filter(col: str, stopwords: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    return f"CAST(len(list_filter(string_split({col}, ' '), w -> w IN ({inlist}))) AS BIGINT)"


# word-3-gram distinct shingles per doc (shared CTE text)
_SHINGLES_SQL = """
    ws AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    pos AS (SELECT doc_id, source, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
            FROM ws),
    sh AS (SELECT DISTINCT doc_id, source,
                  array_to_string(ws[i:i+2], ' ') AS shingle
           FROM pos)
"""


# ── Text analysis ───────────────────────────────────────────────────────────

@register(
    "docs_token_stats",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS len_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words,
           CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("len_chars"),
        n_words(t).alias("n_words"),
        F.array_size(F.array_distinct(words(t))).cast("long").alias("n_distinct_words"),
        n_tokens(t).alias("n_tokens"),
    )


@register(
    "docs_quality_stats",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               {_sql_stop_filter('text', LANG_STOPWORDS['en'])} AS stop_hits,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letter_chars
        FROM documents
    )
    SELECT doc_id, n_words, stop_hits,
           CAST(floor(100.0 * n_letter_chars / n_words) AS BIGINT) AS mean_word_len_x100,
           CASE WHEN n_words < 20 THEN 'short'
                WHEN stop_hits * 5 >= n_words THEN 'fluent'
                ELSE 'listy' END AS quality_label
    FROM b
    """,
)
def docs_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-density heuristics with an
    integer-threshold label (exact across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    nw = n_words(t)
    stop = stopword_hits(t, LANG_STOPWORDS["en"])
    letters = F.length(F.regexp_replace(t, " ", "")).cast("long")
    return docs.select(
        "doc_id",
        nw.alias("n_words"),
        stop.alias("stop_hits"),
        F.floor(F.lit(100.0) * letters / nw).cast("long").alias("mean_word_len_x100"),
        F.when(nw < 20, "short").when(stop * 5 >= nw, "fluent").otherwise("listy").alias("quality_label"),
    )


@register(
    "docs_quality_classifier",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
               {_sql_stop_filter('text', LANG_STOPWORDS['en'])} AS stop_hits,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letter_chars
        FROM documents
    ),
    f AS (
        SELECT doc_id, n_words,
               (1000 * stop_hits) // n_words AS stop_density_x1000,
               (1000 * n_uniq) // n_words AS uniq_x1000,
               (100 * n_letter_chars) // n_words AS mwl_x100
        FROM b
    )
    SELECT doc_id,
           CAST(3 * stop_density_x1000 + 2 * uniq_x1000
                - abs(mwl_x100 - 500)
                - CASE WHEN n_words < 20 THEN 2000 ELSE 0 END AS BIGINT) AS score,
           CASE WHEN 3 * stop_density_x1000 + 2 * uniq_x1000
                     - abs(mwl_x100 - 500)
                     - CASE WHEN n_words < 20 THEN 2000 ELSE 0 END >= 1000
                THEN 'keep' ELSE 'drop' END AS label
    FROM f
    """,
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (the fastText-filter shape of
    CCNet/RefinedWeb): a fixed linear model over integer document
    features — stopword density, lexical diversity (distinct-word
    ratio), mean word length penalty, and a short-document prior —
    applied as one zero-shuffle projection with a keep/drop decision
    threshold. The weights stand in for a trained model's (inference
    is the at-scale workload; training happens offline on a sample);
    every feature is an exact integer ratio, so the score and the
    decision boundary hash-match across engines.

    Scale shape: pure per-row projection — no shuffle at all; the
    filter runs at scan speed on 100 TB, which is exactly why
    classifier filtering is the first pass of a corpus pipeline."""
    docs = load_table(spark, sf_dir, "documents").withColumn("__ws", words(F.col("text")))
    t = F.col("text")
    nw = F.array_size(F.col("__ws")).cast("long")
    uniq = F.array_size(F.array_distinct(F.col("__ws"))).cast("long")
    stop = stopword_hits(t, LANG_STOPWORDS["en"])
    letters = F.length(F.regexp_replace(t, " ", "")).cast("long")
    feats = docs.select(
        "doc_id",
        nw.alias("n_words"),
        uniq.alias("n_uniq"),
        stop.alias("stop_hits"),
        letters.alias("n_letter_chars"),
    ).select(
        "doc_id",
        "n_words",
        F.expr("div(1000 * stop_hits, n_words)").alias("stop_density_x1000"),
        F.expr("div(1000 * n_uniq, n_words)").alias("uniq_x1000"),
        F.expr("div(100 * n_letter_chars, n_words)").alias("mwl_x100"),
    )
    score = (
        3 * F.col("stop_density_x1000")
        + 2 * F.col("uniq_x1000")
        - F.abs(F.col("mwl_x100") - 500)
        - F.when(F.col("n_words") < 20, 2000).otherwise(0)
    ).cast("long")
    return feats.select(
        "doc_id",
        score.alias("score"),
        F.when(score >= 1000, "keep").otherwise("drop").alias("label"),
    )


def _langid_sql() -> str:
    hits = ",\n               ".join(
        f"{_sql_stop_filter('lower(text)', sw)} AS {lang}_hits" for lang, sw in LANG_STOPWORDS.items()
    )
    cols = [f"{lang}_hits" for lang in LANG_STOPWORDS]
    g = f"greatest({', '.join(cols)})"
    case = " ".join(f"WHEN {c} = {g} THEN '{c[:2]}'" for c in cols)
    return f"""
    WITH s AS (
        SELECT doc_id,
               {hits}
        FROM documents
    )
    SELECT doc_id, {', '.join(cols)},
           CASE WHEN {g} <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang
    FROM s
    """


@register("docs_langid", _langid_sql())
def docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, argmax
    with deterministic tie order."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scores = langid_scores(t)
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"{lang}_hits") for lang in LANG_STOPWORDS],
        langid_pred(t).alias("pred_lang"),
    )


@register(
    "docs_fingerprint",
    """
    WITH g AS (
        SELECT doc_id, md5(array_to_string(ws[i:i+4], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
    )
    SELECT doc_id, min(h) AS fingerprint FROM g GROUP BY doc_id
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-md5 over 5-word shingles (1-hash
    MinHash / rolling-fingerprint family)."""
    docs = load_table(spark, sf_dir, "documents").withColumn("__ws", words(F.col("text")))
    return docs.select("doc_id", fingerprint(F.col("text"), 5, words_col=F.col("__ws")).alias("fingerprint"))


def _simhash_sql() -> str:
    sums = ",\n               ".join(
        f"sum(CASE WHEN substr(h, {j + 1}, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    bits = " || ".join(f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(16))
    return f"""
    WITH w AS (
        SELECT doc_id, md5(w) AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    b AS (SELECT doc_id, {sums} FROM w GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash FROM b
    """


@register("docs_simhash", _simhash_sql())
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (near-dup bucket key)."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize per-word md5s once; the 16 bit-sum passes then share it
    hashed = docs.withColumn("__hs", word_hashes(F.col("text")))
    return hashed.select("doc_id", simhash16_of_hashes(F.col("__hs")).alias("simhash"))


def _hamming16_sql(a: str, b: str) -> str:
    return " + ".join(
        f"(CASE WHEN substr({a}, {j + 1}, 1) <> substr({b}, {j + 1}, 1) THEN 1 ELSE 0 END)"
        for j in range(16)
    )


@register(
    "docs_simhash_neardup_pairs",
    f"""
    WITH sig AS (SELECT * FROM ({_simhash_sql()})),
    p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.simhash AS s1, b.simhash AS s2
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE substr(a.simhash, 1, 4) = substr(b.simhash, 1, 4)
           OR substr(a.simhash, 5, 4) = substr(b.simhash, 5, 4)
           OR substr(a.simhash, 9, 4) = substr(b.simhash, 9, 4)
           OR substr(a.simhash, 13, 4) = substr(b.simhash, 13, 4)
    )
    SELECT id1, id2, CAST({_hamming16_sql('s1', 's2')} AS BIGINT) AS hamming
    FROM p
    WHERE {_hamming16_sql('s1', 's2')} <= 3
    """,
)
def docs_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming(sig) ≤ 3, candidates met
    ONLY inside a band bucket (pigeonhole: any pair within Hamming 3
    of a 16-bit signature shares at least one of its four 4-bit
    bands), so the pair space is Σ_bucket n_b², never corpus n² —
    the same banded shape as ``lsh_candidate_pairs``, on SimHash
    signatures instead of MinHash ints.

    Bucket expansion is collect_set + in-array pairing (one shuffle on
    the high-cardinality (band_id, band_val) key; a self-join would
    re-execute the whole signature pipeline per side). A pair sharing
    several bands is deduplicated AFTER the cheap Hamming filter, on
    the (id1, id2) pair — never before the bucket stage. At corpus
    scale the signature widens (64-bit sig, 4×16-bit bands) so bucket
    cardinality grows with the corpus; the 16-bit form here keeps the
    DuckDB oracle exact."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.withColumn("__hs", word_hashes(F.col("text")))
    sig = hashed.select("doc_id", simhash16_of_hashes(F.col("__hs")).alias("simhash"))
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", 1 + 4 * b, 4) for b in range(4)])
        ).alias("band_id", "band_val"),
    )
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "simhash"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    lefts = buckets.select(F.posexplode("ms").alias("i", "m1"), F.col("ms"))
    pairs = lefts.select(
        F.col("m1"), F.explode(F.slice(F.col("ms"), F.col("i") + 2, F.size("ms"))).alias("m2")
    )
    hamming = sum(
        F.when(
            F.substring(F.col("m1.simhash"), j + 1, 1) != F.substring(F.col("m2.simhash"), j + 1, 1), 1
        ).otherwise(0)
        for j in range(16)
    )
    return (
        pairs.select(
            F.col("m1.doc_id").alias("id1"),
            F.col("m2.doc_id").alias("id2"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ── Dedup ───────────────────────────────────────────────────────────────────

@register(
    "docs_exact_dedup",
    """
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups with canonical id."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@register(
    "docs_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    ab AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2038074743 AS x
        FROM sh
    ),
    m AS (
        SELECT doc_id,
               {", ".join(f"min(({a} * x + {b}) % 2038074743) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
        FROM ab GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)) AS b{b}" for b in range(4))}
        FROM m
    ),
    e AS (
        SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
               unnest([b0, b1, b2, b3]) AS band_hash
        FROM bands
    )
    SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
    FROM e a JOIN e c
      ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id
    """,
)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=8) + LSH (4 bands × 2 rows) candidate duplicate
    pairs over word-3-gram shingles."""
    docs = load_table(spark, sf_dir, "documents")
    # distinct=False: MinHash's min-agg is multiplicity-insensitive, so
    # the dedup shuffle of the exploded shingles would be pure overhead
    sh = shingle_set(docs, "doc_id", "text", n=3, distinct=False)
    sigs = minhash_signatures(sh, "doc_id", k=8)
    return lsh_candidate_pairs(sigs, "doc_id", k=8, rows_per_band=2)


@register(
    "docs_minhash_jaccard_estimate",
    f"""
    WITH {_SHINGLES_SQL},
    ab AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2038074743 AS x
        FROM sh
    ),
    m AS (
        SELECT doc_id,
               {", ".join(f"min(({a} * x + {b}) % 2038074743) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
        FROM ab GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)) AS b{b}" for b in range(4))}
        FROM m
    ),
    e AS (
        SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
               unnest([b0, b1, b2, b3]) AS band_hash
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        FROM e a JOIN e c
          ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT cand.doc1, cand.doc2, count(*) AS inter
        FROM cand
          JOIN sh s1 ON s1.doc_id = cand.doc1
          JOIN sh s2 ON s2.doc_id = cand.doc2 AND s2.shingle = s1.shingle
        GROUP BY cand.doc1, cand.doc2
    )
    SELECT cand.doc1, cand.doc2,
           CAST(floor(1000.0 * ((CASE WHEN m1.h0 = m2.h0 THEN 1 ELSE 0 END) + (CASE WHEN m1.h1 = m2.h1 THEN 1 ELSE 0 END) + (CASE WHEN m1.h2 = m2.h2 THEN 1 ELSE 0 END) + (CASE WHEN m1.h3 = m2.h3 THEN 1 ELSE 0 END) + (CASE WHEN m1.h4 = m2.h4 THEN 1 ELSE 0 END) + (CASE WHEN m1.h5 = m2.h5 THEN 1 ELSE 0 END) + (CASE WHEN m1.h6 = m2.h6 THEN 1 ELSE 0 END) + (CASE WHEN m1.h7 = m2.h7 THEN 1 ELSE 0 END)) / 8) AS BIGINT) AS est_x1000,
           CAST(floor(1000.0 * COALESCE(inter.inter, 0)
                      / (z1.n + z2.n - COALESCE(inter.inter, 0))) AS BIGINT) AS jaccard_x1000
    FROM cand
      JOIN m m1 ON m1.doc_id = cand.doc1
      JOIN m m2 ON m2.doc_id = cand.doc2
      JOIN sizes z1 ON z1.doc_id = cand.doc1
      JOIN sizes z2 ON z2.doc_id = cand.doc2
      LEFT JOIN inter ON inter.doc1 = cand.doc1 AND inter.doc2 = cand.doc2
    """,
)
def docs_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality metric for MinHash: for every LSH candidate
    pair, the signature-agreement estimate (matching components / k)
    next to the EXACT shingle-set Jaccard — the number that validates
    k and the banding scheme, completing the approximation-audit trio
    with ``embeddings_ivf_recall`` and ``embeddings_neardup_recall``.

    Scale shape (r14, guide §2.4 duplicated subtrees): the r13 form
    re-executed the shingle→signature pipeline once per consuming
    branch (signatures ×3 for the candidate generation and the two
    per-side estimate joins, sizes ×2 — 23 exchanges / 8 scans in
    PLANS.md). Now ONE per-doc aggregate computes the signature AND
    the set size (``extra_aggs``), and the candidate expansion carries
    (h0..h7, n) through the band buckets (``carry_cols``), so the
    estimate, both set sizes, and the pair key all come out of the
    bucket pair expansion — no signature or size re-join. The exact
    intersection still joins shingles only for candidate pairs
    (LSH-bounded, never n²); its two shingle references share the
    distinct's exchange with the signature branch (identical subtrees
    → ReusedExchange), so the corpus is scanned once per execution —
    nothing is persisted across actions."""
    docs = load_table(spark, sf_dir, "documents")
    # never-firing isnotnull filters: the inner joins below infer them
    # on the s1/s2 branches anyway; stating them on sh makes all three
    # consuming subtrees byte-identical so ReusedExchange shares ONE
    # scan+explode+distinct across the whole plan
    sh = shingle_set(docs, "doc_id", "text", n=3, distinct=True).filter(
        F.col("doc_id").isNotNull() & F.col("shingle").isNotNull()
    )
    sigsize = minhash_signatures(
        sh, "doc_id", k=8, extra_aggs=(F.count(F.lit(1)).alias("n"),)
    )
    carried = tuple(f"h{i}" for i in range(8)) + ("n",)
    cand = lsh_candidate_pairs(sigsize, "doc_id", k=8, rows_per_band=2, carry_cols=carried)
    matches = sum(
        F.when(F.col(f"h{i}_1") == F.col(f"h{i}_2"), 1).otherwise(0) for i in range(8)
    )
    s1 = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    inter = (
        cand.select("doc1", "doc2")
        .join(s1, "doc1")
        .join(s2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = cand.join(inter, ["doc1", "doc2"], "left").withColumn(
        "inter", F.coalesce(F.col("inter"), F.lit(0))
    )
    return out.select(
        # never-firing coalesce: bucket members are never null, but the
        # struct field inherits the parquet column's nullable flag while
        # the pinned schema (from the pre-r14 collect_set-of-primitives
        # path) carries doc1/doc2 non-nullable
        F.coalesce(F.col("doc1"), F.lit(0)).alias("doc1"),
        F.coalesce(F.col("doc2"), F.lit(0)).alias("doc2"),
        F.floor(1000.0 * matches / 8).cast("long").alias("est_x1000"),
        F.floor(1000.0 * F.col("inter") / (F.col("n_1") + F.col("n_2") - F.col("inter")))
        .cast("long")
        .alias("jaccard_x1000"),
    )


@register(
    "docs_jaccard_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
           CAST(floor(1000.0 * inter / (s1.n + s2.n - inter)) AS BIGINT) AS jaccard_x1000
    FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
    WHERE CAST(floor(1000.0 * inter / (s1.n + s2.n - inter)) AS BIGINT) >= 10
    """,
)
def docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for same-source candidate
    pairs (the verify stage behind LSH candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "doc_id", "text", 3, extra_cols=("source",)).distinct()
    return jaccard_pairs(sh, "doc_id", block_col="source", min_jaccard_x1000=10)


@register(
    "docs_neardup_resolved",
    f"""
    WITH {_SHINGLES_SQL},
    ab AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2038074743 AS x
        FROM sh
    ),
    m AS (
        SELECT doc_id,
               {", ".join(f"min(({a} * x + {b}) % 2038074743) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
        FROM ab GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)) AS b{b}" for b in range(4))}
        FROM m
    ),
    e AS (
        SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
               unnest([b0, b1, b2, b3]) AS band_hash
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        FROM e a JOIN e c
          ON a.band_id = c.band_id AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
        SELECT doc1, doc2
        FROM (
            SELECT cand.doc1, cand.doc2, count(*) AS inter
            FROM cand
              JOIN sh a ON a.doc_id = cand.doc1
              JOIN sh b ON b.doc_id = cand.doc2 AND b.shingle = a.shingle
            GROUP BY cand.doc1, cand.doc2
        ) iv
        JOIN sizes s1 ON iv.doc1 = s1.doc_id
        JOIN sizes s2 ON iv.doc2 = s2.doc_id
        WHERE 1000.0 * iv.inter / (s1.n + s2.n - iv.inter) >= 800
    ),
    edges AS (
        SELECT doc1 AS src, doc2 AS dst FROM verified
        UNION ALL SELECT doc2, doc1 FROM verified
        UNION ALL SELECT doc1, doc1 FROM verified
        UNION ALL SELECT doc2, doc2 FROM verified
    ),
    l1 AS (SELECT src AS doc_id, min(dst) AS lbl FROM edges GROUP BY src),
    l2 AS (
        SELECT e.src AS doc_id, min(l1.lbl) AS lbl
        FROM edges e JOIN l1 ON l1.doc_id = e.dst GROUP BY e.src
    )
    SELECT doc_id, CAST(lbl AS BIGINT) AS canonical_id,
           CAST(doc_id <> lbl AS BOOLEAN) AS is_duplicate
    FROM l2
    """,
)
def docs_neardup_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship dedup composition: MinHash+LSH candidate pairs →
    exact-Jaccard verification (≥ 0.8 on word-3-gram sets) → two
    rounds of min-label propagation over the verified-duplicate graph
    → (doc, canonical) assignment. Candidates bound the quadratic
    stage, verification bounds false positives, label propagation
    resolves duplicate CLUSTERS (not just pairs) — each stage is the
    scale-safe version of its naive counterpart. (Two propagation
    rounds resolve chains up to diameter 4 — beyond that, iterate the
    same step; the fixture's planted near-dup groups are pairs.)"""
    docs = load_table(spark, sf_dir, "documents")
    sh_nd = shingle_set(docs, "doc_id", "text", n=3, distinct=False)
    cands = lsh_candidate_pairs(minhash_signatures(sh_nd, "doc_id", k=8), "doc_id", k=8, rows_per_band=2)

    sh = shingle_set(docs, "doc_id", "text", n=3, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cands.join(sh.alias("a"), F.col("a.doc_id") == F.col("doc1"))
        .join(sh.alias("b"), (F.col("b.doc_id") == F.col("doc2")) & (F.col("b.shingle") == F.col("a.shingle")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    verified = (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .filter(F.lit(1000.0) * F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")) >= 800)
        .select("doc1", "doc2")
    )
    # r14 (guide §2.4 duplicated subtrees): the edge list used to be a
    # 4-way unionAll of projections of `verified` — four references to
    # the whole LSH→verify pipeline, ×2 again via l1/l2, for an
    # analyzed plan of 115 exchanges / 40 scans (58 exch / 38 reused at
    # the bench profile). One row-local explode of the 4 (src, dst)
    # structs emits the same multiset from ONE reference: plan 58→22
    # exchanges; ABBA 1.948→1.263 s sf0.1, 18.17→9.40 s x10 (1.9×).
    # A localCheckpoint'ed `verified` (1 reference) measured SLOWER
    # than this shape at both scales (tools/bench_neardup_ab.py) —
    # exchange reuse already shares the two remaining references.
    edges = verified.select(
        F.explode(
            F.array(
                F.struct(F.col("doc1").alias("src"), F.col("doc2").alias("dst")),
                F.struct(F.col("doc2").alias("src"), F.col("doc1").alias("dst")),
                F.struct(F.col("doc1").alias("src"), F.col("doc1").alias("dst")),
                F.struct(F.col("doc2").alias("src"), F.col("doc2").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    l1 = edges.groupBy(F.col("src").alias("doc_id")).agg(F.min("dst").alias("lbl"))
    l2 = (
        edges.join(l1.select(F.col("doc_id").alias("dst"), "lbl"), "dst")
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("lbl").alias("lbl"))
    )
    return l2.select(
        "doc_id",
        F.col("lbl").cast("long").alias("canonical_id"),
        (F.col("doc_id") != F.col("lbl")).alias("is_duplicate"),
    )


@register(
    "docs_redaction",
    """
    WITH enriched AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or call 555' || CAST(1000000 + doc_id AS VARCHAR)
                    ELSE text END AS t
        FROM documents
    ),
    masked AS (
        SELECT doc_id, t,
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        FROM enriched
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '[0-9]{7,}')) AS BIGINT) AS n_long_numbers,
           md5(regexp_replace(t1, '[0-9]{7,}', '<NUM>', 'g')) AS redacted_hash
    FROM masked
    """,
)
def docs_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub (emails, long digit runs) — the standard
    pre-training redaction pass. Synthetic PII is injected
    deterministically into a third of the docs so the gate checks
    real matches; the md5 of the redacted text proves the masking
    transform is byte-identical across engines."""
    from iotdatapipeline_spark.analytics.text import redact, redaction_counts

    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555"),
                (F.col("doc_id") + 1_000_000).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    n_email, n_num = redaction_counts(F.col("t"))
    return enriched.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_num.alias("n_long_numbers"),
        F.md5(redact(F.col("t")).cast("binary")).alias("redacted_hash"),
    )


def _training_corpus_sql() -> str:
    hits = ",\n                   ".join(
        f"{_sql_stop_filter('lower(text)', sw)} AS {lang}_hits" for lang, sw in LANG_STOPWORDS.items()
    )
    cols = [f"{lang}_hits" for lang in LANG_STOPWORDS]
    g = f"greatest({', '.join(cols)})"
    case = " ".join(f"WHEN {c} = {g} THEN '{c[:2]}'" for c in cols)
    return f"""
    WITH scored AS (
        SELECT doc_id, text, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               {_sql_stop_filter('text', LANG_STOPWORDS['en'])} AS stop_hits,
               {hits}
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text, source, n_words,
               CASE WHEN {g} <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang
        FROM scored
        WHERE n_words >= 20 AND stop_hits * 20 >= n_words
    ),
    canon AS (
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM kept GROUP BY md5(text)
    )
    SELECT k.doc_id, k.source, k.pred_lang, CAST(k.n_words AS BIGINT) AS n_words,
           c.n_copies,
           CAST(len(regexp_extract_all(k.text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens
    FROM kept k JOIN canon c ON k.doc_id = c.keep_id
    """


@register("docs_training_corpus", _training_corpus_sql())
def docs_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data preparation flagship: quality gate
    (length + stopword fluency) → language scoring → exact dedup
    keeping the canonical (min-id) copy → token accounting. One
    declarative plan: every stage is a narrow projection/filter until
    the single dedup shuffle; at 100 TB the filters run inside the
    scan and only survivors reach the hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    nw = n_words(t)
    kept = docs.select(
        "doc_id", "text", "source", nw.alias("n_words"),
        stopword_hits(t, LANG_STOPWORDS["en"]).alias("stop_hits"),
        langid_pred(t).alias("pred_lang"),
    ).filter((F.col("n_words") >= 20) & (F.col("stop_hits") * 20 >= F.col("n_words")))
    canon = kept.groupBy(F.md5(t.cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        kept.join(canon, kept["doc_id"] == canon["keep_id"])
        .select(
            "doc_id",
            "source",
            "pred_lang",
            F.col("n_words").cast("long").alias("n_words"),
            "n_copies",
            n_tokens(t).alias("n_tokens"),
        )
    )


# ── Similarity search ───────────────────────────────────────────────────────

@register(
    "embeddings_knn_bruteforce",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    p AS (
        SELECT qid, e.vec_id AS nid,
               unnest(qe)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
        FROM q, embeddings e WHERE e.vec_id <> qid
    ),
    d AS (
        SELECT qid, nid,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos_sim
        FROM p GROUP BY qid, nid
    ),
    r AS (
        SELECT qid, nid, cos_sim,
               row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
        FROM d
    )
    SELECT qid, nid, rk, cos_sim FROM r WHERE rk <= 3
    """,
)
def embeddings_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 for query vectors vec_id<5 (ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3)


@register(
    "embeddings_ivf_assign",
    """
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
    p AS (
        SELECT e.vec_id AS vec_id, cid,
               unnest(e.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings e, c
    ),
    d AS (
        SELECT vec_id, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq
        FROM p GROUP BY vec_id, cid
    ),
    r AS (
        SELECT vec_id, cid, dist_sq,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq ASC, cid) AS rn
        FROM d
    )
    SELECT vec_id, cid AS centroid_id, dist_sq FROM r WHERE rn = 1
    """,
)
def embeddings_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bucketing: nearest-centroid assignment (centroids =
    vec_id<8) — the scale path for ANN."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    return ivf_assign(emb, cents)


@register(
    "embeddings_ivf_search",
    """
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
    -- inverted file: every vector -> nearest centroid (same rule as ivf_assign)
    ap AS (
        SELECT e.vec_id AS nid, cid,
               unnest(e.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings e, c
    ),
    ad AS (
        SELECT nid, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq
        FROM ap GROUP BY nid, cid
    ),
    assign AS (
        SELECT nid, cid FROM (
            SELECT nid, cid,
                   row_number() OVER (PARTITION BY nid ORDER BY dist_sq ASC, cid) AS rn
            FROM ad
        ) WHERE rn = 1
    ),
    -- probes: 2 nearest centroids per query (vec_id < 5)
    qp AS (
        SELECT q.vec_id AS qid, cid,
               unnest(q.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings q, c WHERE q.vec_id < 5
    ),
    qdist AS (
        SELECT qid, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq
        FROM qp GROUP BY qid, cid
    ),
    probes AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY dist_sq ASC, cid) AS rn
            FROM qdist
        ) WHERE rn <= 2
    ),
    -- exact cosine over probed buckets only
    cp AS (
        SELECT p.qid, a.nid,
               unnest(q.embedding)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
        FROM probes p
          JOIN assign a ON a.cid = p.cid
          JOIN embeddings q ON q.vec_id = p.qid
          JOIN embeddings e ON e.vec_id = a.nid
        WHERE a.nid <> p.qid
    ),
    cd AS (
        SELECT qid, nid,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos_sim
        FROM cp GROUP BY qid, nid
    )
    SELECT qid, nid, rk, cos_sim FROM (
        SELECT qid, nid, cos_sim,
               row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
        FROM cd
    ) WHERE rk <= 3
    """,
)
def embeddings_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search (centroids = vec_id<8, queries = vec_id<5,
    n_probe=2, k=3): the bucketed scale path — a query touches only
    its probed buckets, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    return ivf_search(emb, cents, emb.filter(F.col("vec_id") < 5), k=3, n_probe=2)


@register(
    "embeddings_kmeans",
    """
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    init AS (SELECT vec_id, v FROM iv ORDER BY vec_id LIMIT 4),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c FROM init),
    p0 AS (SELECT iv.vec_id, c0.cid, unnest(iv.v) AS a, unnest(c0.c) AS b FROM iv, c0),
    d0 AS (SELECT vec_id, cid, sum((a - b) * (a - b)) AS dist_sq FROM p0 GROUP BY vec_id, cid),
    a0 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq, cid) AS rn
            FROM d0
        ) WHERE rn = 1
    ),
    m0 AS (
        SELECT cid, i AS pos, CAST(floor(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
        FROM (SELECT a0.cid, iv.v, unnest(generate_series(1, len(iv.v))) AS i
              FROM a0 JOIN iv USING (vec_id))
        GROUP BY cid, i
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM m0 GROUP BY cid),
    p1 AS (SELECT iv.vec_id, c1.cid, unnest(iv.v) AS a, unnest(c1.c) AS b FROM iv, c1),
    d1 AS (SELECT vec_id, cid, sum((a - b) * (a - b)) AS dist_sq FROM p1 GROUP BY vec_id, cid)
    SELECT vec_id, cid AS cluster, CAST(dist_sq AS BIGINT) AS dist_sq
    FROM (
        SELECT vec_id, cid, dist_sq,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq, cid) AS rn
        FROM d1
    ) WHERE rn = 1
    """,
)
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 assignment rounds) — the iterative-
    algorithm representative. Exact-integer arithmetic (scaled
    components, floor-mean centroids) makes the whole trajectory
    deterministic, so even the iteration is value-hash oracled
    (the unrolled recursive SQL above)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=4, iters=2)


def _ivf_recall_sql() -> str:
    """Compose the two already-registered oracles as subqueries —
    recall@3 of IVF(n_probe=2) against exact brute force."""
    bf, ivf = ORACLE["embeddings_knn_bruteforce"], ORACLE["embeddings_ivf_search"]
    return f"""
    SELECT b.qid,
           CAST(count(i.nid) AS BIGINT) AS n_hit,
           CAST(floor(100.0 * count(i.nid) / 3) AS BIGINT) AS recall_x100
    FROM ({bf}) b
    LEFT JOIN ({ivf}) i ON i.qid = b.qid AND i.nid = b.nid
    GROUP BY b.qid
    """


@register("embeddings_ivf_recall", None)
def embeddings_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF scale path against the exact baseline —
    the quality metric that decides n_probe/n_centroids at deploy
    time, computed as a plain join of the two search results."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < 5)
    bf = knn_bruteforce(emb, queries_df, k=3).select("qid", "nid")
    iv = ivf_search(emb, cents, queries_df, k=3, n_probe=2).select(
        F.col("qid").alias("iqid"), F.col("nid").alias("inid")
    )
    hit = bf.join(iv, (F.col("iqid") == F.col("qid")) & (F.col("inid") == F.col("nid")), "left")
    return hit.groupBy("qid").agg(
        F.count("inid").alias("n_hit"),
        F.floor(F.lit(100.0) * F.count("inid") / 3).cast("long").alias("recall_x100"),
    )


ORACLE["embeddings_ivf_recall"] = _ivf_recall_sql()


def _neardup_blocked_sql(n_probe: int = 1, n_cents: int = 8) -> str:
    """Blocked near-dup pair SQL, parameterized by probe width and
    centroid count: each vector joins its ``n_probe`` nearest IVF
    buckets of ``n_cents``; candidate pairs are DISTINCT (id1, id2)
    BEFORE scoring so a pair sharing several probed buckets is scored
    once (identical cosine either way, but dedup-first keeps the float
    summation identical across engines)."""
    return f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {n_cents}),
    ap AS (
        SELECT e.vec_id, cid,
               unnest(e.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings e, c
    ),
    ad AS (
        SELECT vec_id, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq
        FROM ap GROUP BY vec_id, cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq ASC, cid) AS rn
            FROM ad
        ) WHERE rn <= {n_probe}
    ),
    prs AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM assign a JOIN assign b ON a.vec_id < b.vec_id AND a.cid = b.cid
    ),
    p AS (
        SELECT id1, id2,
               unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
        FROM prs
          JOIN embeddings ea ON ea.vec_id = id1
          JOIN embeddings eb ON eb.vec_id = id2
    ),
    d AS (
        SELECT id1, id2,
               CAST(floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1000000.0) AS BIGINT)
                   AS cos_x1e6
        FROM p GROUP BY id1, id2
    )
    SELECT id1, id2, cos_x1e6 FROM d WHERE cos_x1e6 >= 350000
    """


@register("embeddings_neardup_pairs", _neardup_blocked_sql(1))
def embeddings_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35 on this
    near-random fixture; production thresholds sit at 0.9+), BLOCKED
    on the vector's IVF bucket (nearest centroid, same rule as
    ``embeddings_ivf_assign``): pairs only meet inside a bucket, so
    the pair space is Σ_b n_b² over bucket sizes — never the corpus
    n². This is the 100 TB shape: the join is a hash join on
    centroid_id, not an all-pairs nested loop. Recall trade-off: a
    near-dup pair split across two buckets is missed; union the
    n_probe nearest buckets per vector (as ``ivf_search`` does for
    queries) when that matters."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    assigned = ivf_assign(emb, cents).select("vec_id", "centroid_id")
    blocked = emb.join(assigned, "vec_id")
    return neardup_pairs(blocked, block_col="centroid_id", min_cos_x1e6=350_000)


def _neardup_recall_probe_sql(n_probe: int) -> str:
    return f"""
        SELECT {n_probe} AS n_probe,
               (SELECT count(*) FROM t) AS n_true,
               (SELECT count(*) FROM bl{n_probe}) AS n_blocked,
               (SELECT count(*) FROM t JOIN bl{n_probe} b ON t.id1 = b.id1 AND t.id2 = b.id2) AS n_hit,
               CAST(floor(100.0 * (SELECT count(*) FROM t JOIN bl{n_probe} b ON t.id1 = b.id1 AND t.id2 = b.id2)
                          / greatest((SELECT count(*) FROM t), 1)) AS BIGINT) AS recall_x100
    """


@register(
    "embeddings_neardup_recall",
    f"""
    WITH bl1 AS (SELECT id1, id2 FROM ({_neardup_blocked_sql(1)})),
    bl2 AS (SELECT id1, id2 FROM ({_neardup_blocked_sql(2)})),
    tp AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    t AS (
        SELECT id1, id2 FROM (
            SELECT id1, id2,
                   CAST(floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1000000.0) AS BIGINT)
                       AS cos_x1e6
            FROM tp GROUP BY id1, id2
        ) WHERE cos_x1e6 >= 350000
    )
    {_neardup_recall_probe_sql(1)}
    UNION ALL
    {_neardup_recall_probe_sql(2)}
    """,
)
def embeddings_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the IVF-blocked near-dup pair space against the
    exhaustive ground truth, at probe widths 1 and 2 — the measured
    answer to "how many buckets must each vector join before blocked
    dedup stops missing pairs", mirroring ``embeddings_ivf_recall``
    for search. On this near-random fixture 1-probe recall is low
    (pairs scatter across buckets); widening to 2 probes shows the
    recall/cost curve — real embedding corpora cluster, so production
    recall at the same probe width is far higher.

    The TRUTH side is the unblocked all-pairs scoring: O(n²) BY
    DESIGN, run only at evaluation sample scale (at 100 TB you
    evaluate recall on a sampled slice; the production pair-generation
    path is the blocked query above). Output: one row per probe
    width — n_probe / n_true / n_blocked / n_hit / recall_x100."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = neardup_pairs(emb, min_cos_x1e6=350_000, allow_quadratic=True).select("id1", "id2")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    rows = []
    for n_probe in (1, 2):
        assigned = ivf_assign(emb, cents, n_probe=n_probe).select("vec_id", "centroid_id")
        blocked = (
            neardup_pairs(emb.join(assigned, "vec_id"), block_col="centroid_id", min_cos_x1e6=350_000)
            .select("id1", "id2")
            .distinct()  # a pair sharing several probed buckets scores identically in each
        )
        # r14 (guide §2.4): n_true/n_blocked/n_hit used to be three
        # separate aggregates (+ a semi-join), referencing the O(n²)
        # truth subtree twice per probe and blocked twice — one
        # full-outer join with presence flags yields all three counts
        # from ONE reference each (both sets are distinct, so counts
        # are set sizes either way). ABBA 47.1 → 25.6 s sf0.1;
        # exceptAll 0 (tools/bench_neardup_recall_ab.py).
        t = truth.withColumn("t", F.lit(1))
        b = blocked.withColumn("b", F.lit(1))
        j = t.join(b, ["id1", "id2"], "full_outer")
        rows.append(
            j.agg(
                F.count("t").alias("n_true"),
                F.count("b").alias("n_blocked"),
                F.count(F.when((F.col("t") == 1) & (F.col("b") == 1), 1)).alias("n_hit"),
            ).select(
                F.lit(n_probe).cast("int").alias("n_probe"),
                "n_true",
                "n_blocked",
                "n_hit",
                F.floor(100.0 * F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)))
                .cast("long")
                .alias("recall_x100"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "embeddings_srp_signature",
    """
    WITH x AS (
        SELECT vec_id, s.i,
               CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xi
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) s
        WHERE s.i < len(embedding)
    ),
    a AS (
        SELECT i.i, j.j,
               CASE WHEN ((i.i * 2654435761 + j.j * 40503) % 97) % 2 = 0 THEN 1 ELSE -1 END AS aij
        FROM (SELECT unnest(generate_series(0, 63)) AS i) i,
             (SELECT unnest(generate_series(0, 15)) AS j) j
    ),
    pr AS (
        SELECT vec_id, j, sum(xi * aij) AS proj
        FROM x JOIN a ON x.i = a.i
        GROUP BY vec_id, j
    )
    SELECT vec_id,
           string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS srp_sig
    FROM pr GROUP BY vec_id
    """,
)
def embeddings_srp_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH signature (cosine LSH): bit j is
    the side of vector x w.r.t. the j-th random hyperplane — the
    embedding-space analogue of SimHash, and the third near-dup
    family next to MinHash-LSH (Jaccard) and SimHash (token cosine).
    Collision probability per bit is 1 − θ/π, so Hamming distance on
    the signature estimates the cosine angle; banded bucketing (as in
    ``docs_simhash_neardup_pairs``) turns it into candidate
    generation.

    Exactness: components quantize to integer ×1e6 and hyperplane
    entries are ±1 from an integer congruence, so every projection is
    an exact int64 sum — sign decisions match across engines and
    summation orders (a double dot product near zero would not).

    Scale shape: matmul-by-join — posexplode the vector, broadcast the
    64×16 ±1 coefficient table, partial-sum per (vec_id, bit). One
    shuffle on vec_id; no per-row Python, no HOF fold (interpreted
    outside codegen)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xi = F.floor(F.element_at("embedding", F.col("i") + 1).cast("double") * 1_000_000).cast("long")
    x = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.array_size("embedding") - 1)).alias("i"),
        F.col("embedding"),
    ).select("vec_id", "i", xi.alias("xi"))
    spark_range = spark.range(64).select(F.col("id").cast("int").alias("i"))
    bits = spark.range(16).select(F.col("id").cast("int").alias("j"))
    aij = F.when(((F.col("i") * 2654435761 + F.col("j") * 40503) % 97) % 2 == 0, 1).otherwise(-1)
    coeff = spark_range.crossJoin(bits).select("i", "j", aij.alias("aij"))
    proj = (
        x.join(F.broadcast(coeff), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("xi") * F.col("aij")).alias("proj"))
    )
    return proj.groupBy("vec_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "proj"))),
                lambda s: F.when(s["proj"] >= 0, "1").otherwise("0"),
            ),
        ).alias("srp_sig")
    )


@register(
    "docs_word_rarity",
    """
    WITH dw AS (
        SELECT DISTINCT doc_id, w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    df AS (SELECT w, count(*) AS doc_freq FROM dw GROUP BY w)
    SELECT dw.doc_id,
           count(*) AS n_distinct_words,
           CAST(floor(1000.0 * sum(df.doc_freq) / count(*)) AS BIGINT) AS mean_df_x1000,
           CAST(min(df.doc_freq) AS BIGINT) AS rarest_df
    FROM dw JOIN df ON dw.w = df.w
    GROUP BY dw.doc_id
    """,
)
def docs_word_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal: per document, the mean and
    minimum document-frequency of its distinct words — the
    integer-exact cousin of a unigram log-probability score (low mean
    DF = rare vocabulary; DF=1 words are candidate noise/garble). The
    same corpus-join shape CCNet-style LM filters use, with counts
    instead of log-probs so the DuckDB oracle hash-matches exactly
    (libm log rounding differs across engines; integer DF does not).

    Scale shape (r13, guide §2.4 — same rework as docs_tfidf_top_terms):
    the document-frequency table is a WINDOW COUNT over the distinct
    (doc, word) stream, not a separate aggregate joined back. In the
    join form the optimizer did reuse the distinct exchange
    (ReusedExchange), but the vocabulary-sized count table had to be
    BROADCAST back onto the stream — a shape that breaks when the
    vocabulary outgrows the broadcast cap and degrades to a sort-merge
    join re-shuffling BOTH sides by word. `count(*) over (partition by
    w)` attaches DF in the one word-keyed pass the join form would pay
    anyway at that point, with no join and no broadcast build: 1 BHJ +
    vocab broadcast → 0 joins (3 exchanges either way); no n², no
    Python. Measured (ABBA median-of-8, noop sink): 0.368 → 0.333 s at
    sf0.1; at x10 the join form still wins 0.670 vs 0.719 s (its vocab
    still fits the broadcast there) — kept anyway, same call as
    docs_novelty_scores: the window shape is the one that survives
    corpus growth (tools/bench_behavioral_ab.py)."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("doc_id", F.explode(words(F.col("text"))).alias("w")).distinct()
    doc_freq = F.count(F.lit(1)).over(Window.partitionBy("w"))
    return (
        dw.withColumn("doc_freq", doc_freq)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.floor(1000.0 * F.sum("doc_freq") / F.count(F.lit(1))).cast("long").alias("mean_df_x1000"),
            F.min("doc_freq").cast("long").alias("rarest_df"),
        )
    )


@register(
    "docs_dsir_weights",
    """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    g AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(array_to_string(ws[i:i+1], ' ')), 1, 8))::BIGINT % 256 AS f
        FROM (SELECT doc_id, lang, ws,
                     unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i
              FROM t)
    ),
    r AS (SELECT f, count(*) AS rc FROM g GROUP BY f),
    tt AS (SELECT f, count(*) AS tc FROM g WHERE lang = 'en' GROUP BY f),
    sc AS (SELECT r.f, (1000 * (coalesce(tt.tc, 0) + 1)) // (r.rc + 1) AS s
           FROM r LEFT JOIN tt ON r.f = tt.f)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(sc.s) AS BIGINT) AS dsir_weight
    FROM g JOIN sc ON g.f = sc.f
    GROUP BY g.doc_id
    """,
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): featurize every
    document as hashed word-bigrams folded into 256 buckets, estimate a
    target distribution (here: the ``lang='en'`` slice stands in for
    the high-quality target corpus) and the raw distribution over the
    same buckets, and score each document by the importance of its
    features under target-vs-raw. Integer-exact cousin of the paper's
    log-likelihood ratio: per-bucket score is the Laplace-smoothed
    scaled ratio ``(1000·(t+1)) div (r+1)`` and the document weight is
    the SUM of its grams' scores (linearized rather than log-product,
    so the DuckDB oracle hash-matches bit-for-bit — same reasoning as
    docs_word_rarity). Downstream selection is top-k / threshold on
    ``dsir_weight`` exactly as in the paper's resampling step.

    Scale shape — the model is TINY, so the corpus never shuffles
    against it: pass 1 explodes the (integer) bucket stream into a
    256-key hash aggregate (map-side-combined to ≤256 rows per task)
    whose 256 Laplace scores fold into a one-row broadcast array —
    bounded at 256 entries regardless of corpus size, the same
    bounded-scalar pattern as the BPE merge loop. Pass 2 scores by
    exploding gram indices (whole-stage codegen) and probing the
    broadcast array per gram — no join, no gram shuffle: the per-doc
    groupBy partial-aggregates map-side (explode is row-local), so
    the only exchanges are 256 partial counts per task and one
    (doc_id, count, sum) row per document. An exchange-free variant
    folding the gram sequence through F.aggregate was measured SLOWER
    (0.72 vs 0.58 s sf0.1, 0.99 vs 0.61 s x10): higher-order
    functions evaluate interpreted (CodegenFallback), and that tax
    scales with grams while the partial-agg exchange does not."""
    docs = load_table(spark, sf_dir, "documents").withColumn("__ws", words(F.col("text")))

    def bucket(g):
        return (
            F.conv(F.substring(F.md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % 256
        )

    cnt = F.greatest(F.array_size("__ws") - F.lit(1), F.lit(1))
    # pass 1: explode gram INDICES and build/hash each gram as a plain
    # row projection — slice/array_join/md5 all stay inside
    # whole-stage codegen. (Exploding a transform()-built shingle
    # array instead pays interpreted HOF evaluation per gram: measured
    # 0.95 s vs 0.63 s at x10, tools/bench_dsir_ab.py.) Both
    # distributions come out of one 256-key hash aggregate,
    # map-side-combined to ≤256 rows per task.
    dist = (
        docs.select("lang", "__ws", F.explode(F.sequence(F.lit(1), cnt)).alias("i"))
        .select(
            "lang",
            bucket(F.array_join(F.slice("__ws", F.col("i"), 2), " ")).alias("f"),
        )
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.count_if(F.col("lang") == "en").alias("tc"),
        )
    )
    # fold the ≤256 scores into ONE row holding a bucket→score map and
    # broadcast it under every document row (cross join with a 1-row
    # build side). This keeps the whole query LAZY — no driver-side
    # model collect at plan-build time — and the gram stream never
    # shuffles against it: one 256-entry broadcast.
    # dense ARRAY, not a map: Spark's GetMapValue is a LINEAR scan of
    # the entries (no hash index), so a 256-entry map lookup per gram
    # costs ~128 comparisons; element_at on an array is O(1)
    model = F.broadcast(
        dist.select(
            "f", F.expr("(1000 * (tc + 1)) div (rc + 1)").alias("s")
        )
        .agg(F.map_from_entries(F.collect_list(F.struct("f", "s"))).alias("m0"))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(255)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m0"), i.cast("bigint")), F.lit(0).cast("long")
                ),
            ).alias("m")
        )
    )
    # pass 2 (r13): score by exploding gram INDICES again — the same
    # whole-stage-codegen slice/array_join/md5 projection as pass 1 —
    # probing the broadcast model array per gram, then re-aggregate
    # per doc. The previous form folded the gram sequence through
    # F.aggregate to keep pass 2 exchange-free, but higher-order
    # functions evaluate INTERPRETED (CodegenFallback): the fold cost
    # grams × (slice+join+md5) in interpreted mode, while the groupBy
    # here partial-aggregates map-side (explode is row-local, so each
    # task emits exactly one partial row per doc — the exchange
    # carries (doc_id, count, sum), never gram rows). Measured
    # interleaved ABBA, noop sink: 0.721 → 0.583 s at sf0.1,
    # 0.985 → 0.613 s at x10; rows identical (exceptAll 0 both ways).
    # Every bucket a document hashes to exists in the map (same corpus
    # built it).
    return (
        docs.crossJoin(model)
        .select("doc_id", "m", "__ws", F.explode(F.sequence(F.lit(1), cnt)).alias("i"))
        .select(
            "doc_id",
            F.element_at(
                F.col("m"),
                (bucket(F.array_join(F.slice("__ws", F.col("i"), 2), " ")) + 1).cast("int"),
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("s").cast("long").alias("dsir_weight"),
        )
    )


@register(
    "docs_pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id, doc_id % 32 AS shard,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST((cum - n_tokens) // 4096 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 4096 AS BIGINT) AS seq_offset
    FROM c
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): documents are
    concatenated in deterministic order and chunked into 4096-token
    sequences; each doc gets its (seq_id, seq_offset) within its
    shard. This is the packing step of an LLM data pipeline — the
    running token offset decides which sequence a document starts in.

    Scale shape: a GLOBAL running sum would serialize into one
    partition, so packing is SHARDED (doc_id % 32; at cluster scale a
    few thousand shards): each shard packs independently inside one
    window partition, shards pack in parallel, and sequence identity
    is (shard, seq_id). Cross-shard waste is bounded by one partial
    sequence per shard — the standard distributed-packing tradeoff."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 32).alias("shard"),
        n_tokens(F.col("text")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / 4096).cast("long").alias("seq_id"),
        (start % 4096).cast("long").alias("seq_offset"),
    )


@register(
    "docs_split_assign",
    """
    WITH b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                   AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM b GROUP BY lang, split
    """,
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by hashing the
    STABLE document key — the split survives reshuffles, re-partitions
    and re-runs, unlike randomSplit, and needs no coordination: any
    executor computes any document's split locally. md5 is bit-identical
    across engines, so the oracle checks the exact assignment."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


@register(
    "docs_length_deciles",
    """
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
        FROM documents
    )
    SELECT lang, CAST(decile AS BIGINT) AS decile,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM d GROUP BY lang, decile
    """,
)
def docs_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length deciles (ntile) — the ranked-bucket shape
    behind curriculum sampling and quality-threshold selection. The
    tie-break on doc_id makes ntile deterministic under distribution;
    one shuffle on lang, one window pass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


@register(
    "docs_tfidf_top_terms",
    """
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn,
               CAST(floor(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) * 1000) AS BIGINT)
                   AS score_x1000
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(rn AS BIGINT) AS rank, score_x1000
    FROM scored WHERE rn <= 3
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the keyword-extraction /
    relevance-weighting primitive of corpus pipelines. Ranking uses the
    integer tuple (tf DESC, df ASC, term) so order is bit-stable across
    engines; the smoothed log-idf score is emitted (floored at 1e-3)
    rather than ranked on, keeping float math out of the decision path.
    Shape (r13): tf is one row per (doc, term), so the document
    frequency is a plain WINDOW COUNT over the term partitioning of
    the tf table — the previous groupBy(term) + join-back form
    re-executed the whole explode for each consumer and re-shuffled
    both join sides by term (3 scans / 5 exchanges; now 2 scans /
    3 exchanges / no term join, measured 0.440 → 0.331 s sf0.1; x10
    is a wash, 0.801 vs 0.806 s — the window's term sort ≈ the join
    form's second explode there, and the window form still wins on
    scans moved. Rows identical, exceptAll 0 both ways at both
    scales). The 1-row corpus count rides a broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "score_x1000",
            F.floor(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) * 1000
            ).cast("long"),
        )
    )
    return scored.filter(F.col("rank") <= 3).select(
        "doc_id", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "rank", "score_x1000",
    )


@register(
    "parts_fuzzy_pairs",
    """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    """,
)
def parts_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: edit-distance pairs computed only
    WITHIN (brand, size) blocks — the blocking key turns an O(n²)
    all-pairs comparison into a hash self-join with bounded block
    sizes, the same candidate-pruning idea as LSH banding but for
    structured attributes. Native ``levenshtein`` stays JVM-side."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"),
    )
    return (
        a.join(b, ["brand", "size"])
        .filter(F.col("a_key") < F.col("b_key"))
        .withColumn("edit_dist", F.levenshtein("a_name", "b_name").cast("long"))
        .filter(F.col("edit_dist") <= 6)
        .select("a_key", "b_key", "edit_dist")
    )


@register(
    "docs_repetition_stats",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
        SELECT doc_id, ws,
               list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
                              i -> array_to_string(ws[i:i+1], ' ')) AS g2,
               list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                              i -> array_to_string(ws[i:i+2], ' ')) AS g3
        FROM w)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
           CAST(floor(1000.0 * (len(ws) - len(list_distinct(ws))) / len(ws)) AS BIGINT)
               AS dup_word_x1000,
           CAST(floor(1000.0 * list_max(list_transform(list_distinct(ws),
                    x -> len(list_filter(ws, y -> y = x)))) / len(ws)) AS BIGINT)
               AS top_word_x1000,
           CAST(floor(1000.0 * (len(g2) - len(list_distinct(g2))) / len(g2)) AS BIGINT)
               AS dup_2gram_x1000,
           CAST(floor(1000.0 * (len(g3) - len(list_distinct(g3))) / len(g3)) AS BIGINT)
               AS dup_3gram_x1000
    FROM g
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 rule family):
    per document, the duplicate-word ratio, the most-common-word mass,
    and the duplicate 2-/3-gram ratios — the standard "is this doc
    degenerate boilerplate/spam" filters of an LLM training pipeline.

    Scale shape: a PURE PROJECTION — every statistic is an array
    expression over the per-row words array (distinct, filter,
    n-gram construction), so the query is one scan with ZERO
    exchanges: 1000 executors score 1000 partitions with no shuffle
    at all. The O(distinct·words) top-word fold is bounded by document
    length, not corpus size (and the HOF lambdas run interpreted —
    acceptable here because the whole query is map-side; see the
    CodegenFallback note in BASELINE.md). All ratios are ×1000-floored
    integers so the DuckDB oracle hash-matches exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("__ws", words(F.col("text")))
    ws = F.col("__ws")
    nw = F.array_size(ws)

    def ngrams(n: int) -> F.Column:
        cnt = F.greatest(nw - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.array_join(F.slice(ws, i, n), " ")
        )

    def dup_ratio(arr: F.Column) -> F.Column:
        return F.floor(
            1000.0 * (F.array_size(arr) - F.array_size(F.array_distinct(arr))) / F.array_size(arr)
        ).cast("long")

    # Top-word frequency as the longest equal-run of the SORTED words
    # array (r13, guide §1.2 per-task work): the previous
    # distinct×filter form compared every distinct word against the
    # whole array — O(distinct·words) interpreted comparisons per doc
    # (~150k for a 500-word doc). Sorting groups equal words
    # contiguously, so one linear fold tracking (prev, run, best)
    # computes the SAME maximum count in O(words·log words). Measured
    # 1.036 → 0.60 s at sf0.1; values identical (exceptAll = 0, oracle
    # parity exact).
    sorted_ws = F.array_sort(ws)
    top_freq = F.aggregate(
        sorted_ws,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    # Materialize the distinct-word count once: three consumers
    # (n_distinct_words, dup_word, and previously top_freq) each
    # re-evaluated array_distinct inside this interpreted projection
    # (CollapseProject only inlines cheap expressions, so a separate
    # withColumn survives as its own Project).
    d = (
        d.withColumn("__nd", F.array_size(F.array_distinct(ws)))
        .withColumn("__g2", ngrams(2))
        .withColumn("__g3", ngrams(3))
    )
    nd = F.col("__nd")
    return d.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        nd.cast("long").alias("n_distinct_words"),
        F.floor(1000.0 * (nw - nd) / nw).cast("long").alias("dup_word_x1000"),
        F.floor(1000.0 * top_freq / nw).cast("long").alias("top_word_x1000"),
        dup_ratio(F.col("__g2")).alias("dup_2gram_x1000"),
        dup_ratio(F.col("__g3")).alias("dup_3gram_x1000"),
    )


@register(
    "docs_contamination_flags",
    """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pos AS (SELECT doc_id, ws,
                   unnest(generate_series(1, greatest(len(ws) - 3, 1))) AS i
            FROM ws),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS shingle FROM pos),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
    SELECT sh.doc_id, count(*) AS n_shared_4grams
    FROM sh JOIN ev USING (shingle)
    WHERE sh.doc_id % 50 <> 0
    GROUP BY sh.doc_id
    """,
)
def docs_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination check: flag every training document
    sharing at least one word-4-gram with the held-out evaluation set
    (here: every 50th doc_id — a deterministic stand-in for the real
    benchmark corpus), with the count of distinct shared 4-grams.
    This is the standard "did the test set leak into training" sweep
    an LLM data pipeline runs before every corpus release.

    Scale shape: the eval side is SMALL by construction (benchmarks
    are thousands of docs, the corpus is billions), so its distinct
    shingle set broadcasts; the corpus side is one explode-project
    scan (shared with the dedup family) whose 4-grams hash-join the
    broadcast — no shuffle of the corpus, no self-join, and the
    per-doc distinct + count rides one aggregation keyed by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    # filters written BELOW the shingling on both branches. Catalyst
    # pushes a non-generated-column predicate through the explode
    # anyway (verified: same plan, same wall time either way) — the
    # explicit form just makes the intended scan shape readable
    ev = (
        exploded_shingles(docs.filter(F.col("doc_id") % 50 == 0), "doc_id", "text", n=4)
        .select("shingle")
        .distinct()
    )
    # Probe the broadcast BEFORE any shuffle (r13, guide §2.3): the
    # previous form ran `.distinct()` over the full corpus shingle
    # stream — a corpus-wide shuffle of the widest intermediate — and
    # only then probed the eval set. The broadcast hash probe is
    # map-side and drops every unshared shingle (~99%+ of the corpus;
    # at 100 TB essentially everything), so dedup afterwards via
    # count_distinct touches only the shared survivors. Same result:
    # count(distinct shingle) per doc over the join == the count of
    # distinct shared 4-grams.
    corpus = exploded_shingles(docs.filter(F.col("doc_id") % 50 != 0), "doc_id", "text", n=4)
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_shared_4grams"))
    )


@register(
    "embeddings_int8_quantize",
    """
    WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
                                   / list_max(list_transform(embedding,
                                              y -> abs(CAST(y AS DOUBLE))))) AS BIGINT)) AS qv
        FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(amax * 1000000.0) AS BIGINT) AS amax_x1e6,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS sum_q2,
           CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat
    FROM q
    """,
)
def embeddings_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the storage
    path that makes a 100 TB vector corpus 4× smaller before indexing
    (every production ANN system quantizes; IVF+int8 is the classic
    pairing with ``embeddings_ivf_*``). Per vector: the max-abs scale
    and the quantized codes' order-insensitive integer summaries
    (Σq, Σq², saturation count) — integer sums so the DuckDB oracle
    is exact regardless of array traversal order.

    Scale shape: a pure projection (array HOFs per row, zero
    exchanges) — quantization is embarrassingly parallel, and at
    cluster scale the codes array would be written back as the
    compact index payload. Floor (not round) quantization keeps every
    code decision a single IEEE double op, bit-identical across
    engines; ``amax = 0`` cannot occur in the fixture (verified) and
    would yield NULL codes rather than a divide crash.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    d = emb.select("vec_id", v.alias("embedding")).withColumn("__amax", amax)
    qv = F.transform(
        v, lambda x: F.floor(x.cast("double") * 127.0 / F.col("__amax")).cast("long")
    )
    d = d.withColumn("__qv", qv)
    acc = lambda arr, f: F.aggregate(arr, F.lit(0).cast("long"), f)  # noqa: E731
    return d.select(
        "vec_id",
        F.floor(F.col("__amax") * 1_000_000.0).cast("long").alias("amax_x1e6"),
        acc(F.col("__qv"), lambda a, x: a + x).alias("sum_q"),
        acc(F.col("__qv"), lambda a, x: a + x * x).alias("sum_q2"),
        F.size(F.filter(F.col("__qv"), lambda x: F.abs(x) == 127)).cast("long").alias("n_sat"),
    )


@register(
    "docs_source_mixing",
    """
    WITH per AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
                   AS total_words
        FROM documents GROUP BY source
    ),
    w AS (SELECT *, CAST(floor(sqrt(total_words)) AS BIGINT) AS weight_isqrt FROM per),
    t AS (SELECT CAST(sum(weight_isqrt) AS BIGINT) AS total_w FROM w)
    SELECT source, n_docs, total_words, weight_isqrt,
           CAST(floor(100000.0 * weight_isqrt / total_w) AS BIGINT) AS target_docs
    FROM w, t
    """,
)
def docs_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing weights (the α=0.5 sampling
    rule used to flatten source-size imbalance when composing a
    training mix): per source, the document/word mass, its √mass
    sampling weight, and the per-source document budget out of a
    100 k draw. Integer-exact: the weight is floor(√words) as a
    BIGINT, the budget a floored integer ratio — no float summation
    order anywhere (the only float op is one IEEE sqrt per source,
    correctly rounded in both engines).

    Scale shape: one partial-agg'd shuffle on the (low-cardinality)
    source key, then a 1-row total broadcast back onto the per-source
    rows — the same group-vs-global decorrelation as
    ``q11_important_nation_balance``; nothing scans the corpus twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.withColumn("__nw", F.array_size(words(F.col("text"))).cast("long"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nw").alias("total_words"),
        )
        .withColumn("weight_isqrt", F.floor(F.sqrt(F.col("total_words"))).cast("long"))
    )
    total = per.agg(F.sum("weight_isqrt").alias("__total_w"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_words",
            "weight_isqrt",
            F.floor(100000.0 * F.col("weight_isqrt") / F.col("__total_w"))
            .cast("long")
            .alias("target_docs"),
        )
    )


def _bloom_probe_sql() -> str:
    from iotdatapipeline_spark.operators.bloom import bloom_sql

    bitset = bloom_sql("SELECT DISTINCT p_name FROM part", "p_name")
    pos = lambda i, key: f"(('0x' || substr(md5('{i}|' || {key}), 1, 8))::BIGINT % 1024)"  # noqa: E731
    arr = ", ".join(pos(i, "probe_key") for i in range(3))
    return f"""
    WITH bloom AS ({bitset}),
    ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
    probe AS (
        SELECT DISTINCT array_to_string(ws[i:i+1], ' ') AS probe_key
        FROM (SELECT ws, unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i FROM ws)
        UNION
        SELECT DISTINCT p_name FROM part WHERE p_partkey % 10 = 0
    ),
    pm AS (
        SELECT probe_key, p // 32 AS word_idx,
               1::BIGINT << CAST(p % 32 AS INT) AS mask
        FROM (SELECT probe_key, unnest([{arr}]) AS p FROM probe)
    ),
    hits AS (
        SELECT pm.probe_key,
               bool_and((COALESCE(bloom.word, 0) & pm.mask) = pm.mask) AS bloom_hit
        FROM pm LEFT JOIN bloom USING (word_idx)
        GROUP BY pm.probe_key
    )
    SELECT h.probe_key, h.bloom_hit,
           (p.p_name IS NOT NULL) AS actual_in,
           (h.bloom_hit AND p.p_name IS NULL) AS false_positive
    FROM hits h LEFT JOIN (SELECT DISTINCT p_name FROM part) p
      ON h.probe_key = p.p_name
    """


@register("parts_bloom_probe", _bloom_probe_sql())
def parts_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe with its false-positive audit:
    build a 1024-bit / 3-hash bitset over the part-name set
    (operators/bloom.py), probe every distinct event_type against it,
    and report bloom_hit next to the exact answer — the runtime-filter
    primitive (Spark's own AQE `bloom_filter_agg` shape) made explicit
    and auditable.

    Scale shape: the build side aggregates to ≤ 32 BIGINT words (one
    partial-agg'd shuffle, broadcastable forever after); the probe
    side never shuffles its data — k positions explode map-side, the
    word lookup is a broadcast hash join, and the verdict reduces on
    the probe's own key. Probing 100 TB of events costs one scan.
    Every bit decision is exact integer md5 arithmetic, so the DuckDB
    oracle reproduces the filter word-for-word (no engine-hash
    dependence — Spark's own bloom_filter_agg would not be
    cross-engine checkable)."""
    from iotdatapipeline_spark.operators.bloom import bloom_build, bloom_probe

    part_tbl = load_table(spark, sf_dir, "part")
    parts = part_tbl.select("p_name").distinct()
    bitset = bloom_build(parts, "p_name")
    # probe set: every distinct word-2-gram of the corpus (negatives +
    # FP candidates) plus a slice of true member names (positives)
    docs = load_table(spark, sf_dir, "documents")
    bigrams = (
        exploded_shingles(docs, "doc_id", "text", n=2)
        .select(F.col("shingle").alias("probe_key"))
        .distinct()
    )
    members = (
        part_tbl.filter(F.col("p_partkey") % 10 == 0)
        .select(F.col("p_name").alias("probe_key"))
        .distinct()
    )
    probe = bigrams.union(members).distinct()
    probed = bloom_probe(probe, bitset, "probe_key")
    exact = parts.withColumnRenamed("p_name", "probe_key").withColumn("__in", F.lit(True))
    return (
        probed.join(F.broadcast(exact), "probe_key", "left")
        .select(
            "probe_key",
            "bloom_hit",
            F.coalesce(F.col("__in"), F.lit(False)).alias("actual_in"),
            (F.col("bloom_hit") & F.col("__in").isNull()).alias("false_positive"),
        )
    )


@register(
    "docs_cdc_chunk_dedup",
    """
    WITH w AS (
        SELECT doc_id, i AS pos, ws[i] AS word,
               CASE WHEN ('0x' || substr(md5(ws[i]), 1, 8))::BIGINT % 8 = 0
                    THEN 1 ELSE 0 END AS bnd
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             unnest(generate_series(1, len(ws))) AS t(i)
    ),
    c AS (
        SELECT doc_id, pos, word,
               COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        FROM w
    ),
    chunks AS (
        SELECT doc_id, chunk_id, string_agg(word, ' ' ORDER BY pos) AS chunk
        FROM c GROUP BY doc_id, chunk_id
    )
    SELECT md5(chunk) AS chunk_hash,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_copies,
           CAST(min(len(string_split(chunk, ' '))) AS BIGINT) AS chunk_words
    FROM chunks
    GROUP BY md5(chunk)
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def docs_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: split every document at
    content-determined boundaries (after any word whose hash ≡ 0
    mod 8 — the word-level Rabin/Karp gear rule, average chunk ≈ 8
    words) and report each chunk shared by MORE THAN ONE document.
    This is sub-document dedup — the pass that catches boilerplate
    headers, licence blocks, and templated passages that whole-doc
    hashing (docs_exact_dedup) and near-dup pairing both miss, because
    boundaries re-synchronize after any insertion (the CDC property:
    an edit shifts at most the chunks it touches).

    Scale shape: posexplode fans each doc into words (map-side), the
    boundary flag is per-word arithmetic, the chunk id is one running
    sum over the per-doc window — a single doc-keyed exchange; chunk
    reassembly refines that key to (doc, chunk) so AQE keeps it
    local; the final hash-groupBy is the same one-shuffle shape as
    exact dedup, over ~docs×len/8 chunk rows."""
    # Row-local chunking (r13, guide §2.4 remove shuffles outright):
    # the previous form posexploded every WORD, shuffled the full word
    # stream by doc_id for a running-sum window, and reassembled each
    # chunk with collect_list + array_sort — two corpus-wide exchanges
    # whose payload was every word of every document. Chunk boundaries
    # are a pure function of the words array, so compute them per row:
    # boundary positions via one filtered index sequence (one md5 per
    # word, same as before), [start, end] spans from the boundary list,
    # chunks as slice+join projections, then explode CHUNKS (≈ words/8
    # rows) into the single hash-groupBy shuffle that was always
    # needed. Word count per chunk rides the span arithmetic instead
    # of re-splitting the chunk string.
    docs = load_table(spark, sf_dir, "documents")
    ws = F.col("__ws")
    n = F.array_size(ws)
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("__ws")).withColumn(
        "__bpos",
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.conv(F.substring(F.md5(F.element_at(ws, i)), 1, 8), 16, 10).cast("long")
            % 8
            == 0,
        ),
    )
    bpos = F.col("__bpos")
    d = d.withColumn(
        "__s",
        F.concat(
            F.array(F.lit(1)), F.transform(F.filter(bpos, lambda p: p < n), lambda p: p + 1)
        ),
    ).withColumn(
        "__e",
        F.when(F.array_contains(bpos, n), bpos).otherwise(F.concat(bpos, F.array(n))),
    )
    spans = F.arrays_zip(F.col("__s"), F.col("__e"))
    chunk_structs = F.transform(
        spans,
        lambda z: F.struct(
            F.array_join(F.slice(ws, z["__s"], z["__e"] - z["__s"] + F.lit(1)), " ").alias("chunk"),
            (z["__e"] - z["__s"] + F.lit(1)).cast("long").alias("nw"),
        ),
    )
    chunks = d.select("doc_id", F.explode(chunk_structs).alias("c")).select(
        "doc_id", F.col("c.chunk").alias("chunk"), F.col("c.nw").alias("nw")
    )
    return (
        # coalesce never fires (chunks are joins of non-null words) —
        # it restores the non-nullable chunk_hash the collect_list
        # formulation declared, keeping the published schema identical
        chunks.groupBy(F.md5(F.coalesce(F.col("chunk"), F.lit(""))).alias("chunk_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("nw").alias("chunk_words"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "docs_bpe_pair_counts",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    ch AS (SELECT string_split(word, '') AS cs FROM w WHERE len(word) >= 2),
    p AS (
        SELECT array_to_string(cs[i:i+1], '') AS pair
        FROM ch, unnest(generate_series(1, len(cs) - 1)) AS t(i)
    ),
    cnt AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
    SELECT pair, n_occurrences, rank FROM (
        SELECT pair, CAST(n AS BIGINT) AS n_occurrences,
               row_number() OVER (ORDER BY n DESC, pair) AS rank
        FROM cnt
    ) WHERE rank <= 20
    """,
)
def docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide
    adjacent-character-pair frequencies, top 20 merge candidates
    (deterministic count-then-lexicographic ranking). Iterating this
    — merge the top pair, recount — IS byte-pair-encoding vocabulary
    induction; one exact distributed iteration is the building block
    a tokenizer-training pipeline repeats.

    Scale shape: words fan out map-side (explode), char pairs are
    array arithmetic on each word (no per-char rows — the pair
    explode is bounded by word length), the count is one
    partial-agg'd shuffle on the pair key (alphabet², small), and the
    global top-20 is a TakeOrdered over the tiny count table. The
    corpus is scanned once; nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    wds = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    chars = wds.select(F.split(F.col("word"), "").alias("__cs"))
    pairs = chars.select(
        F.explode(F.sequence(F.lit(1), F.array_size("__cs") - 1)).alias("__i"), "__cs"
    ).select(F.array_join(F.slice(F.col("__cs"), F.col("__i"), 2), "").alias("pair"))
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("pair", "n_occurrences", "rank")
    )


_BPE_ROUNDS = 5


def _bpe_ctes(k: int = _BPE_ROUNDS) -> list[str]:
    """The shared unrolled k-round BPE CTE chain (training state
    ``cur{r}`` per round) — see :func:`_bpe_train_sql` for the greedy-
    merge closed form. ``cur{k}`` is every distinct word's FINAL
    symbolization, which is what encoding joins against."""
    ctes = [
        """cur0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq, string_split(word, '') AS syms
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word
    )"""
    ]
    for r in range(1, k + 1):
        p = r - 1
        ctes.append(
            f"""p{r} AS (
        SELECT syms[i] AS l, syms[i+1] AS r2, CAST(sum(freq) AS BIGINT) AS n
        FROM cur{p}, unnest(generate_series(1, len(syms)-1)) AS t(i)
        WHERE len(syms) >= 2 GROUP BY l, r2
    ),
    b{r} AS (SELECT l, r2, n FROM p{r} ORDER BY n DESC, l, r2 LIMIT 1),
    u{r} AS (
        SELECT word, freq, i, syms[i] AS sym, b{r}.l AS L, b{r}.r2 AS R
        FROM cur{p}, b{r}, unnest(generate_series(1, len(syms))) AS t(i)
    ),
    m{r} AS (
        SELECT *, (sym = L AND lead(sym) OVER (PARTITION BY word ORDER BY i) = R) AS is_match,
               i - row_number() OVER (PARTITION BY word, sym ORDER BY i) AS isl
        FROM u{r}
    ),
    g{r} AS (
        SELECT *, coalesce(is_match AND (L <> R OR
                   (i - min(i) OVER (PARTITION BY word, sym, isl)) % 2 = 0), false) AS merge_start
        FROM m{r}
    ),
    c{r} AS (
        SELECT *, coalesce(lag(merge_start) OVER (PARTITION BY word ORDER BY i), false) AS consumed
        FROM g{r}
    ),
    cur{r} AS (
        SELECT word, freq,
               list(CASE WHEN merge_start THEN L || R ELSE sym END ORDER BY i)
                   FILTER (WHERE NOT consumed) AS syms
        FROM c{r} GROUP BY word, freq
    )"""
        )
    return ctes


def _bpe_train_sql(k: int = _BPE_ROUNDS) -> str:
    """Unrolled k-round BPE training oracle. Each round: weighted
    adjacent-pair count over the current symbol arrays, argmax with
    (count DESC, left, right) tie-break, then the GREEDY left-to-right
    non-overlapping merge. Greedy is expressed closed-form: when
    left<>right, adjacent matches can never overlap, so every match
    merges; when left=right, matches inside a run of equal symbols
    overlap and greedy takes the even offsets (islands via the
    i - row_number() trick, offset parity within each island)."""
    ctes = _bpe_ctes(k)
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, l AS left_sym, r2 AS right_sym, l || r2 AS merged, n AS n_occurrences FROM b{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {unions}"


def _bpe_encode_sql(k: int = _BPE_ROUNDS, top: int = 30) -> str:
    """Oracle for corpus encoding under the k trained merges: replay
    training to ``cur{k}`` (final per-word symbolizations), then the
    corpus token-frequency table is one weighted unnest + aggregate."""
    ctes = _bpe_ctes(k)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    tok AS (SELECT unnest(syms) AS token, freq FROM cur{k}),
    tcnt AS (SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
             FROM tok GROUP BY token)
    SELECT token, n_occurrences, rank FROM (
        SELECT token, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
        FROM tcnt
    ) WHERE rank <= {top}"""
    )


@register("docs_bpe_train_merges", _bpe_train_sql())
def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING: the full iterative merge loop, not just
    the first pair count (`docs_bpe_pair_counts` is round 1 of this).
    Five rounds of: count adjacent symbol pairs corpus-wide (weighted
    by word frequency), pick the most frequent pair (count DESC, then
    lexicographic — fully deterministic), merge it greedily
    left-to-right in every word, recount. Output: one row per learned
    merge with its pre-merge occurrence count — the merges table a
    BPE tokenizer ships.

    Scale shape (the Sennrich trick, distributed): the fact is scanned
    ONCE to build the distinct-word frequency table; every training
    round then runs on |vocab| rows, not corpus rows — at 100 TB the
    vocabulary is millions of rows against billions of documents, so
    the loop is k tiny shuffles after one big one. Per-round
    ``localCheckpoint`` keeps the plan flat across iterations (same
    pattern as operators/graph.py components); the per-round argmax is
    a 1-row driver decision gating the next round — the same
    role as graph.py's convergence fingerprint, not a data collect.
    The merge itself is a pure array fold per word (greedy
    left-to-right, provably equal to the oracle's run-parity form):
    map-side only, no exchange."""
    merges, _ = _bpe_train_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, merged string, n_occurrences long"
    )


def _bpe_train_loop(spark: SparkSession, sf_dir: str):
    """Run the k-round distributed BPE training loop; returns
    ``(merges, cur)`` — the learned merge rows and the distinct-word
    frequency table holding every word's FINAL symbolization (the
    structure encoding joins against). Shared by the train and encode
    gates."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    cur = freq.withColumn("syms", F.split(F.col("word"), "")).localCheckpoint(eager=True)

    def pair_counts(df: DataFrame) -> DataFrame:
        two = df.filter(F.array_size("syms") >= 2)
        prs = two.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.array_size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r2"),
                    ),
                )
            ).alias("__p"),
        )
        return prs.groupBy(F.col("__p.l").alias("l"), F.col("__p.r2").alias("r2")).agg(
            F.sum("freq").cast("long").alias("n")
        )

    from iotdatapipeline_spark.analytics.text import bpe_merge_greedy

    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        top = pair_counts(cur).orderBy(F.desc("n"), F.asc("l"), F.asc("r2")).limit(1).collect()
        if not top:  # vocabulary fully merged — stop early
            break
        t = top[0]
        merges.append((r, t["l"], t["r2"], t["l"] + t["r2"], t["n"]))
        cur = cur.withColumn(
            "syms", bpe_merge_greedy(F.col("syms"), t["l"], t["r2"])
        ).localCheckpoint(eager=True)
    return merges, cur


def _bpe_fertility_sql(k: int = _BPE_ROUNDS) -> str:
    """Oracle for per-document tokenizer fertility: replay training to
    ``cur{k}``, then each document's token count is the sum of its
    words' symbolization lengths (a join on the word, never a
    re-tokenization)."""
    ctes = _bpe_ctes(k)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    dw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    per_doc AS (
        SELECT dw.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(cur{k}.syms)) AS BIGINT) AS n_tokens
        FROM dw JOIN cur{k} ON cur{k}.word = dw.word
        WHERE dw.word <> ''
        GROUP BY dw.doc_id
    )
    SELECT doc_id, n_words, n_tokens,
           CAST(floor(1000.0 * n_tokens / n_words) AS BIGINT) AS fertility_x1000
    FROM per_doc"""
    )


@register("docs_bpe_fertility", _bpe_fertility_sql())
def docs_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenizer FERTILITY (tokens per word ×1000) under
    the 5 trained merges — the metric that prices a tokenizer against
    a corpus (fertility drift per language/source decides whether the
    vocab fits the data; token-budget estimates come straight off it).
    Like ``docs_bpe_encode``, documents are never re-tokenized: the
    vocab table already holds every distinct word's final
    symbolization, so per-doc counts are one word-explode joined
    against |vocab| rows (broadcast at real vocab sizes) and one
    per-doc aggregate. Integer floor keeps the ratio value-hashable.

    100 TB: the word explode is the only corpus-sized pass; the join
    key is the word itself against a bounded vocab — map-side with a
    broadcast, then a per-doc hash aggregate."""
    _, cur = _bpe_train_loop(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    vocab = cur.select("word", F.array_size("syms").alias("__ntok"))
    per_doc = dw.join(F.broadcast(vocab), "word").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("__ntok").cast("long").alias("n_tokens"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.floor(1000.0 * F.col("n_tokens") / F.col("n_words"))
        .cast("long")
        .alias("fertility_x1000"),
    )


@register("docs_bpe_encode", _bpe_encode_sql())
def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer ENCODING — the other half of the tokenizer story
    (r11): apply the 5 trained merges to the corpus and produce the
    token-frequency table (top 30 by count, deterministic count-then-
    lexicographic rank) — the vocabulary statistics a training-data
    pipeline ships next to the merges table (token budget estimates,
    vocab coverage checks, fertility audits). The oracle replays the
    FULL train-then-encode pipeline in SQL, so the row hash-verifies
    that encoding agrees with training end-to-end.

    Scale shape (the Sennrich trick carries over): training already
    left every DISTINCT WORD's final symbolization in the vocab table,
    so encoding the corpus never re-tokenizes documents — the token
    count table is one weighted explode of |vocab| rows (count(token
    in word) × word frequency), and encoding a NEW document stream is
    a broadcast join against the same table, map-side. At 100 TB the
    corpus is scanned exactly once (by training's word count); every
    encode pass after that is O(|vocab|) or O(new docs)."""
    _, cur = _bpe_train_loop(spark, sf_dir)
    toks = cur.select(F.explode("syms").alias("token"), "freq")
    cnt = toks.groupBy("token").agg(F.sum("freq").cast("long").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 30)
        .select("token", "n_occurrences", "rank")
    )


_FUZZY_PAIRS_SQL = """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 6
"""


@register(
    "parts_fuzzy_components",
    f"""
    WITH RECURSIVE pairs AS ({_FUZZY_PAIRS_SQL}),
    nodes AS (SELECT a_key AS k FROM pairs UNION SELECT b_key FROM pairs),
    edges AS (SELECT a_key AS s, b_key AS d FROM pairs
              UNION SELECT b_key, a_key FROM pairs),
    reach(node, x) AS (
        SELECT k, k FROM nodes
        UNION
        SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.x
    ),
    comp AS (SELECT node, min(x) AS component_id FROM reach GROUP BY node)
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(component_id AS BIGINT) AS component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size
    FROM comp
    """,
)
def parts_fuzzy_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the blocked fuzzy-match pairs
    (``parts_fuzzy_pairs``) are EDGES of an undirected similarity
    graph, and the entities are its connected components — edit
    distance is not transitive, so A~B and B~C chain into one entity
    even when A and C differ by more than the threshold. Resolved
    with ``operators.graph.connected_components`` (alternating
    large-star/small-star contraction, O(log n) shuffle rounds
    independent of chain length — the scale-safe alternative to
    diameter-bound label propagation), then sized per cluster.

    The oracle recomputes exact min-reachable-id per node via a
    recursive transitive-closure CTE — exponentially more expensive
    at scale (it materializes reachability, not components) but
    exact at gate SF, making this a strong cross-check of the star
    contraction's fixpoint."""
    from iotdatapipeline_spark.operators.graph import connected_components

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("size"),
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"),
    )
    pairs = (
        a.join(b, ["brand", "size"])
        .filter(F.col("a_key") < F.col("b_key"))
        .filter(F.levenshtein("a_name", "b_name") <= 6)
        .select("a_key", "b_key")
    )
    comp = connected_components(pairs, src="a_key", dst="b_key")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        comp.join(sizes, "component_id")
        .select(
            F.col("node").cast("long").alias("part_key"),
            F.col("component_id").cast("long").alias("component_id"),
            F.col("component_size").cast("long").alias("component_size"),
        )
    )


@register(
    "docs_global_shuffle",
    """
    WITH h AS (
        SELECT doc_id, source,
               md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(hx, 1, 8))::BIGINT % 16 AS BIGINT) AS shard,
           CAST(row_number() OVER (
                    PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 16
                    ORDER BY hx, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every document
    gets a seed-keyed md5 hash; the hash's top 32 bits assign one of
    16 shards and ORDER the documents within each shard. Iterating
    shards by number and rows by position is a uniformly shuffled,
    exactly reproducible pass over the corpus — the write layout of a
    shuffled training dataset.

    Why hash-shuffle instead of ``orderBy(rand())``: (a) reproducible
    across runs/engines (seed in the hash, no RNG state), (b) NO
    GLOBAL SORT — one hash-partition exchange on the shard key plus a
    per-shard local sort, vs a rangepartition+sort over 100 TB, and
    (c) statistically uniform shard sizes regardless of input order
    or key skew. Same one-exchange profile as docs_pack_sequences,
    which consumes exactly this ordering."""
    docs = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % 16
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        docs.select("doc_id", hx.alias("hx"))
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", F.col("shard").cast("long").alias("shard"), "pos")
    )


@register(
    "docs_incremental_neardup",
    f"""
    WITH {_SHINGLES_SQL},
    ab AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2038074743 AS x
        FROM sh
    ),
    m AS (
        SELECT doc_id,
               {", ".join(f"min(({a} * x + {b}) % 2038074743) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
        FROM ab GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)) AS b{b}" for b in range(4))}
        FROM m
    ),
    e AS (
        SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
               unnest([b0, b1, b2, b3]) AS band_hash
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT p.doc_id AS new_id, c.doc_id AS corpus_id
        FROM e p JOIN e c
          ON p.band_id = c.band_id AND p.band_hash = c.band_hash
        WHERE p.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    iv AS (
        SELECT cand.new_id, cand.corpus_id, count(*) AS inter
        FROM cand
          JOIN sh a ON a.doc_id = cand.new_id
          JOIN sh b ON b.doc_id = cand.corpus_id AND b.shingle = a.shingle
        GROUP BY cand.new_id, cand.corpus_id
    )
    SELECT new_id, corpus_id, CAST(inter AS BIGINT) AS inter,
           CAST(floor(1000.0 * inter / (s1.n + s2.n - inter)) AS BIGINT) AS jaccard_x1000
    FROM iv JOIN sizes s1 ON new_id = s1.doc_id JOIN sizes s2 ON corpus_id = s2.doc_id
    WHERE CAST(floor(1000.0 * inter / (s1.n + s2.n - inter)) AS BIGINT) >= 500
    """,
)
def docs_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the shape a production pipeline
    actually runs daily: a new-arrivals batch (here the deterministic
    20% slice doc_id % 5 = 0) is checked against the already-indexed
    corpus (the other 80%) WITHOUT ever re-enumerating corpus×corpus.
    The corpus side is exactly the persisted LSH index
    (``lsh_band_long``: one row per (id, band_id, band_hash));
    ``lsh_probe_candidates`` hash-joins the batch's band keys against
    it, and only the surviving candidates pay the exact-Jaccard
    verification. At 100 TB the index is bucketed on
    (band_id, band_hash) so the probe join shuffles ONLY the batch
    side; cost scales with |batch|·bands + candidate volume,
    independent of corpus size.

    Formulation note: everything derives from ONE materialized
    distinct-shingle set (``localCheckpoint``, the in-session stand-in
    for the persisted index) — MinHash over the shingle SET equals
    MinHash over the multiset (min is multiplicity-insensitive), so
    signatures, band keys, sizes, and the Jaccard verify all reuse the
    same checkpointed frame instead of re-running the shingle pipeline
    three times (measured 2.6× → 2.0× of the columnar baseline at
    sf4; the remaining cost is the candidate-bounded Jaccard verify
    join itself). Values are bit-identical either way; the oracle is
    unchanged."""
    from iotdatapipeline_spark.analytics.dedup import lsh_band_long, lsh_probe_candidates

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_set(docs, "doc_id", "text", 3, distinct=True).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh, "doc_id")
    bands = lsh_band_long(sigs, "doc_id")
    cands = lsh_probe_candidates(
        bands.filter(F.col("doc_id") % 5 != 0), bands.filter(F.col("doc_id") % 5 == 0), "doc_id"
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cands.join(sh.alias("a"), F.col("a.doc_id") == F.col("probe_id"))
        .join(sh.alias("b"), (F.col("b.doc_id") == F.col("index_id")) & (F.col("b.shingle") == F.col("a.shingle")))
        .groupBy("probe_id", "index_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("probe_id"), F.col("n").alias("n1")), "probe_id")
        .join(sizes.select(F.col("doc_id").alias("index_id"), F.col("n").alias("n2")), "index_id")
        .withColumn(
            "jaccard_x1000",
            F.floor(F.lit(1000.0) * F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))).cast("long"),
        )
        .filter(F.col("jaccard_x1000") >= 500)
    )
    return out.select(
        F.col("probe_id").alias("new_id"),
        F.col("index_id").alias("corpus_id"),
        F.col("inter").cast("long").alias("inter"),
        "jaccard_x1000",
    )


@register(
    "embeddings_pq_topk",
    """
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, s, v[(s*16+1):((s+1)*16)] AS sv
        FROM iv, unnest([0, 1, 2, 3]) AS t(s)
    ),
    c0 AS (
        SELECT s, rn - 1 AS cid, sv AS c
        FROM (SELECT s, sv, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn FROM sub)
        WHERE rn <= 8
    ),
    p0 AS (SELECT sub.vec_id, sub.s, c0.cid, unnest(sub.sv) AS a, unnest(c0.c) AS b
           FROM sub JOIN c0 ON c0.s = sub.s),
    d0 AS (SELECT vec_id, s, cid, sum((a - b) * (a - b)) AS dist_sq FROM p0 GROUP BY 1, 2, 3),
    a0 AS (
        SELECT vec_id, s, cid FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist_sq, cid) AS rn
            FROM d0
        ) WHERE rn = 1
    ),
    m0 AS (
        SELECT s, cid, i AS pos,
               CAST(floor(CAST(sum(sv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
        FROM (SELECT a0.s, a0.cid, sub.sv, unnest(generate_series(1, len(sub.sv))) AS i
              FROM a0 JOIN sub ON sub.vec_id = a0.vec_id AND sub.s = a0.s)
        GROUP BY 1, 2, 3
    ),
    c1 AS (SELECT s, cid, list(m ORDER BY pos) AS c FROM m0 GROUP BY s, cid),
    p1 AS (SELECT sub.vec_id, sub.s, c1.cid, unnest(sub.sv) AS a, unnest(c1.c) AS b
           FROM sub JOIN c1 ON c1.s = sub.s),
    d1 AS (SELECT vec_id, s, cid, sum((a - b) * (a - b)) AS dist_sq FROM p1 GROUP BY 1, 2, 3),
    codes AS (
        SELECT vec_id AS nid, s, cid AS code FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist_sq, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    lutp AS (SELECT qs.vec_id AS qid, qs.s, c1.cid, unnest(qs.sv) AS a, unnest(c1.c) AS b
             FROM sub qs JOIN c1 ON c1.s = qs.s WHERE qs.vec_id < 5),
    lut AS (SELECT qid, s, cid, sum((a - b) * (a - b)) AS dpart FROM lutp GROUP BY 1, 2, 3),
    est AS (
        SELECT lut.qid, codes.nid, sum(lut.dpart) AS dist_est
        FROM codes JOIN lut ON lut.s = codes.s AND lut.cid = codes.code
        WHERE lut.qid <> codes.nid
        GROUP BY 1, 2
    )
    SELECT qid, nid, rk, CAST(dist_est AS BIGINT) AS dist_est
    FROM (
        SELECT qid, nid, dist_est,
               row_number() OVER (PARTITION BY qid ORDER BY dist_est, nid) AS rk
        FROM est
    ) WHERE rk <= 3
    """,
)
def embeddings_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end: per-subspace codebook
    training (m=4 subspaces × ksub=8 centroids, the exact-integer
    Lloyd's of the k-means gate run per subspace), corpus encoding to
    4 codes/vector, and asymmetric-distance (ADC) top-3 for the five
    probe queries. The oracle unrolls the ENTIRE pipeline — training
    iterations, encoding argmins, lookup-table sums, final ranking —
    in SQL, so the hash checks every stage, not just the search.

    This is the memory-side companion to IVF (embeddings_ivf_*): IVF
    prunes WHICH vectors a query scores, PQ compresses WHAT is stored
    per vector (4 small codes ≈ 2 B vs 256 B of floats) — production
    billion-scale indexes (IVF-PQ) compose the two, which here is
    passing this query's codes as the ivf bucket's payload. Fixture
    dim 64 → 16-dim subvectors (oracle hardcodes the slice)."""
    from iotdatapipeline_spark.analytics.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, m=4, ksub=8, iters=2)


@register("embeddings_pq_index_topk", None)
def embeddings_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with a MATERIALIZED index — the production shape of
    ``embeddings_pq_topk``. That gate (kept, secondary) re-trains
    codebooks and re-encodes the corpus inside every query: 11
    exchanges / 9 scans, ~1.0-1.7 s at sf0.1 with ±35% session swing
    (BASELINE.md r8) — a real user never retrains PQ per search. Here
    the ingest pays training+encoding ONCE into a VersionedTable
    (codebooks first, then codes — deterministic, so concurrent
    builders commute; the ``events_props_shredded`` pattern), and the
    registered query is the steady state: slice the 5 probe vectors,
    broadcast-join the 32 stored codebooks for the LUT, one broadcast
    ADC join over the stored codes, one aggregate, one top-k.

    The oracle is the FULL training pipeline SQL (identical to
    embeddings_pq_topk's): DuckDB retrains from scratch and the
    results must match bit-for-bit, so the gate hash-verifies the
    ingest round-trip end-to-end — stored codebooks and codes are
    exactly what training produces.

    100 TB: codes are m·log2(ksub) bits/vector (a 25 B row for a
    256 B embedding); the ADC scan reads ONLY the code table, the
    codebooks broadcast, and re-ingest is triggered by the dataset
    fingerprint — the Faiss IVFPQ build/search split expressed as two
    lakehouse tables."""
    from iotdatapipeline_spark.analytics.similarity import pq_adc_search_packed

    _, cbs_t, codes_t = _pq_index_tables(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_search_packed(
        codes_t.snapshot().select("nid", "codes"),
        cbs_t.snapshot().select("cbs"),
        emb.filter(F.col("vec_id") < 5),
        k=3,
        m=4,
        ksub=8,
    )


ORACLE["embeddings_pq_index_topk"] = ORACLE["embeddings_pq_topk"]


def _pq_index_tables(spark: SparkSession, sf_dir: str):
    """Materialize (once, fingerprint-keyed, race-safe) and return the
    packed PQ index tables: ``(root, cbs_t, codes_t)``. Long-format
    codebooks land first (reusable by any consumer), then the two
    packed search tables derived from STORED inputs — training never
    re-runs once the cents table exists, and builders commute. Shared
    by embeddings_pq_index_topk and embeddings_ivfpq_index_topk."""
    from iotdatapipeline_spark.analytics.similarity import (
        pq_codebooks,
        pq_encode,
        pq_pack_codebooks,
        pq_pack_codes,
        pq_subvectors,
    )
    from iotdatapipeline_spark.plans.materialize import dataset_fingerprint, materialize_once

    digest = dataset_fingerprint(sf_dir, "embeddings")
    root = f"/tmp/sparkgraft_pqindex/{digest}"

    def build_cents() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        _, cents = pq_codebooks(emb, m=4, ksub=8, iters=2)
        return cents

    cents_t = materialize_once(spark, f"{root}/cents", build_cents)
    cents = cents_t.snapshot().select("s", "cid", "c")
    cbs_t = materialize_once(spark, f"{root}/cbs", lambda: pq_pack_codebooks(cents))

    def build_codes() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return pq_pack_codes(pq_encode(pq_subvectors(emb, m=4), cents))

    codes_t = materialize_once(spark, f"{root}/codes", build_codes)
    return root, cbs_t, codes_t


@register("embeddings_ivfpq_index_topk", None)
def embeddings_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized IVF-PQ — the full production index shape (what a
    Faiss IVFPQ build/search split does), composed from TWO stored
    structures under one fingerprint root: the packed PQ tables (shared
    with ``embeddings_pq_index_topk``) and the INVERTED FILE (nid →
    coarse bucket, clustered by bucket so a probe's scan prunes to its
    buckets' files). ``embeddings_ivfpq_topk`` (kept) recomputes BOTH
    per query — coarse assignment of the whole corpus AND codebook
    training+encoding; here the steady state is: assign the 5 probe
    vectors to their 2 nearest coarse buckets (8-row broadcast),
    semi-join the stored inverted file for the candidate set, and
    ADC-score ONLY the candidates row-locally against the stored
    packed codes. Same full-pipeline DuckDB oracle as the live gate —
    bit-identical results verify both stored structures end-to-end.

    100 TB: the query never scans the corpus — candidates are
    O(probed-bucket sizes), scoring reads only those rows of the code
    table (clustered inverted file ⇒ file-pruned), and the LUT/codebook
    folds broadcast. This is the composition that keeps billion-vector
    search interactive."""
    from iotdatapipeline_spark.analytics.similarity import ivf_assign, pq_adc_search_packed
    from iotdatapipeline_spark.plans.materialize import materialize_once

    root, cbs_t, codes_t = _pq_index_tables(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents8 = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    ivf_t = materialize_once(
        spark,
        f"{root}/ivf",
        lambda: ivf_assign(emb, cents8).select(F.col("vec_id").alias("nid"), "centroid_id"),
        cluster_by=["centroid_id"],
    )
    queries = emb.filter(F.col("vec_id") < 5)
    probes = ivf_assign(queries, cents8, n_probe=2).select(
        F.col("vec_id").alias("qid"), "centroid_id"
    )
    cand = (
        probes.join(ivf_t.snapshot(), "centroid_id")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    return pq_adc_search_packed(
        codes_t.snapshot().select("nid", "codes"),
        cbs_t.snapshot().select("cbs"),
        queries,
        k=3,
        m=4,
        ksub=8,
        candidates=cand,
    )


# oracle assigned after embeddings_ivfpq_topk's registration below
# (same full-pipeline SQL — the stored structures must reproduce the
# live composition bit-for-bit)


def _pq_recall_sql() -> str:
    """Compose the PQ oracle with an exact integer-L2 top-3 — recall of
    the compressed (4-code ADC) search against the uncompressed scan."""
    pq = ORACLE["embeddings_pq_topk"]
    return f"""
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    pr AS (SELECT q.vec_id AS qid, n.vec_id AS nid, unnest(q.v) AS a, unnest(n.v) AS b
           FROM iv q JOIN iv n ON q.vec_id < 5 AND n.vec_id <> q.vec_id),
    dd AS (SELECT qid, nid, sum((a - b) * (a - b)) AS dist FROM pr GROUP BY 1, 2),
    ex AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk
            FROM dd
        ) WHERE rk <= 3
    )
    SELECT ex.qid,
           CAST(count(pq.nid) AS BIGINT) AS n_hit,
           CAST(floor(100.0 * count(pq.nid) / 3) AS BIGINT) AS recall_x100
    FROM ex LEFT JOIN ({pq}) pq ON pq.qid = ex.qid AND pq.nid = ex.nid
    GROUP BY ex.qid
    """


def _recall_vs_exact_int_top3(emb: DataFrame, pq_pairs: DataFrame) -> DataFrame:
    """Recall@3 of an ANN result set (columns qid, nid) against the
    exact scaled-integer-L2 top-3 over ``emb`` for query ids < 5 —
    the shared audit tail of embeddings_pq_recall and
    embeddings_pq_index_recall. Both sides and the overlap join are
    integer-deterministic, so the composition value-hashes."""
    ints = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000)).alias("__v"),
    )
    q = ints.select(F.col("vec_id").alias("qid"), F.col("__v").alias("qv")).filter(F.col("qid") < 5)
    d = F.aggregate(
        F.zip_with(F.col("__v"), F.col("qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = ints.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    dd = pairs.select("qid", F.col("vec_id").alias("nid"), d.alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nid"))
    exact = dd.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).select("qid", "nid")
    pq = pq_pairs.select(F.col("qid").alias("pqid"), F.col("nid").alias("pnid"))
    hit = exact.join(pq, (F.col("pqid") == F.col("qid")) & (F.col("pnid") == F.col("nid")), "left")
    return hit.groupBy("qid").agg(
        F.count("pnid").cast("long").alias("n_hit"),
        F.floor(100.0 * F.count("pnid") / 3).cast("long").alias("recall_x100"),
    )


@register("embeddings_pq_recall", None)
def embeddings_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of PQ-ADC search against the exact (scaled-integer L2)
    scan — the compression-quality metric that sizes m/ksub at deploy
    time, exactly as embeddings_ivf_recall sizes n_probe. Both sides
    and the overlap join are integer-deterministic, so this composes
    the two oracles into a full value-hash check.

    Expect LOW absolute recall on this fixture: the synthetic
    embeddings are near-isotropic random vectors — the provable worst
    case for vector quantization (distances concentrate, codebooks
    explain little variance; measured 3-5/15 across m/ksub sweeps).
    Real text embeddings lie near low-dimensional manifolds where PQ
    recall is high at the same code budget; the gate checks the
    MEASUREMENT machinery, not a quality bar."""
    from iotdatapipeline_spark.analytics.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return _recall_vs_exact_int_top3(
        emb, pq_adc_topk(emb, queries_df, k=3, m=4, ksub=8, iters=2)
    )


ORACLE["embeddings_pq_recall"] = _pq_recall_sql()


@register("embeddings_pq_index_recall", None)
def embeddings_pq_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the MATERIALIZED PQ index (the stored codebooks +
    packed codes that ``embeddings_pq_index_topk`` searches) against
    the exact scaled-integer-L2 scan — the at-scale quality audit for
    the headline ANN slot (verdict r9 item 6). The live-pipeline twin
    ``embeddings_pq_recall`` audits what training produces; this one
    audits what a user actually queries in steady state: the ADC fold
    over STORED integer codes. The oracle retrains the full pipeline
    in SQL, so a hash match proves the stored index is bit-identical
    to a fresh train — recall cannot silently rot as the index table
    ages or the dataset is re-ingested at another scale (run at x10
    via tools/bench_scale_spot.py for the BASELINE.md row)."""
    from iotdatapipeline_spark.analytics.similarity import pq_adc_search_packed

    _, cbs_t, codes_t = _pq_index_tables(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    stored = pq_adc_search_packed(
        codes_t.snapshot().select("nid", "codes"),
        cbs_t.snapshot().select("cbs"),
        emb.filter(F.col("vec_id") < 5),
        k=3,
        m=4,
        ksub=8,
    )
    return _recall_vs_exact_int_top3(emb, stored)


ORACLE["embeddings_pq_index_recall"] = _pq_recall_sql()


@register(
    "embeddings_ivfpq_topk",
    """
    WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
    ap AS (
        SELECT e.vec_id AS nid, cid,
               unnest(e.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings e, c
    ),
    ad AS (SELECT nid, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq FROM ap GROUP BY nid, cid),
    assign AS (
        SELECT nid, cid FROM (
            SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY dist_sq ASC, cid) AS rn
            FROM ad
        ) WHERE rn = 1
    ),
    qp AS (
        SELECT q.vec_id AS qid, cid,
               unnest(q.embedding)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
        FROM embeddings q, c WHERE q.vec_id < 5
    ),
    qdist AS (SELECT qid, cid, round(sum((x - y) * (x - y)), 6) AS dist_sq FROM qp GROUP BY qid, cid),
    probes AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist_sq ASC, cid) AS rn
            FROM qdist
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT p.qid, a.nid
        FROM probes p JOIN assign a ON a.cid = p.cid
        WHERE a.nid <> p.qid
    ),
    iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, s, v[(s*16+1):((s+1)*16)] AS sv
        FROM iv, unnest([0, 1, 2, 3]) AS t(s)
    ),
    c0 AS (
        SELECT s, rn - 1 AS cid, sv AS pc
        FROM (SELECT s, sv, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn FROM sub)
        WHERE rn <= 8
    ),
    p0 AS (SELECT sub.vec_id, sub.s, c0.cid, unnest(sub.sv) AS a, unnest(c0.pc) AS b
           FROM sub JOIN c0 ON c0.s = sub.s),
    d0 AS (SELECT vec_id, s, cid, sum((a - b) * (a - b)) AS dist_sq FROM p0 GROUP BY 1, 2, 3),
    a0 AS (
        SELECT vec_id, s, cid FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist_sq, cid) AS rn
            FROM d0
        ) WHERE rn = 1
    ),
    m0 AS (
        SELECT s, cid, i AS pos,
               CAST(floor(CAST(sum(sv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
        FROM (SELECT a0.s, a0.cid, sub.sv, unnest(generate_series(1, len(sub.sv))) AS i
              FROM a0 JOIN sub ON sub.vec_id = a0.vec_id AND sub.s = a0.s)
        GROUP BY 1, 2, 3
    ),
    c1 AS (SELECT s, cid, list(m ORDER BY pos) AS pc FROM m0 GROUP BY s, cid),
    p1 AS (SELECT sub.vec_id, sub.s, c1.cid, unnest(sub.sv) AS a, unnest(c1.pc) AS b
           FROM sub JOIN c1 ON c1.s = sub.s),
    d1 AS (SELECT vec_id, s, cid, sum((a - b) * (a - b)) AS dist_sq FROM p1 GROUP BY 1, 2, 3),
    codes AS (
        SELECT vec_id AS nid, s, cid AS code FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist_sq, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    lutp AS (SELECT qs.vec_id AS qid, qs.s, c1.cid, unnest(qs.sv) AS a, unnest(c1.pc) AS b
             FROM sub qs JOIN c1 ON c1.s = qs.s WHERE qs.vec_id < 5),
    lut AS (SELECT qid, s, cid, sum((a - b) * (a - b)) AS dpart FROM lutp GROUP BY 1, 2, 3),
    est AS (
        SELECT cand.qid, cand.nid, sum(lut.dpart) AS dist_est
        FROM cand
          JOIN codes ON codes.nid = cand.nid
          JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s AND lut.cid = codes.code
        GROUP BY 1, 2
    )
    SELECT qid, nid, rk, CAST(dist_est AS BIGINT) AS dist_est
    FROM (
        SELECT qid, nid, dist_est,
               row_number() OVER (PARTITION BY qid ORDER BY dist_est, nid) AS rk
        FROM est
    ) WHERE rk <= 3
    """,
)
def embeddings_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition production billion-scale ANN indexes
    run: IVF decides WHICH vectors a query scores (probe the 2 nearest
    of 8 coarse buckets), PQ decides HOW each candidate is scored
    (ADC over 4 codes instead of 64 floats). The candidate set comes
    from the same coarse assignment as embeddings_ivf_search; scoring
    touches only codes + the per-query lookup table. The oracle
    composes both verified pipelines and the gate hash-checks the
    whole thing — coarse quantizer, subspace training, encoding,
    candidate pruning, ADC ranking."""
    from iotdatapipeline_spark.analytics.similarity import (
        pq_codebooks,
        pq_encode,
        pq_query_lut,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < 5)

    index = ivf_assign(emb, cents).select(F.col("vec_id").alias("nid"), "centroid_id")
    probes = ivf_assign(queries_df, cents, n_probe=2).select(
        F.col("vec_id").alias("qid"), "centroid_id"
    )
    cand = (
        probes.join(index, "centroid_id")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
        .distinct()
    )

    sub, pcents = pq_codebooks(emb, m=4, ksub=8, iters=2)
    codes = pq_encode(sub, pcents)
    lut = pq_query_lut(sub, pcents, queries_df)
    est = (
        cand.join(codes, "nid")
        .join(F.broadcast(lut), ["qid", "s"])
        .filter(F.col("code") == F.col("cid"))
        .groupBy("qid", "nid")
        .agg(F.sum("dpart").alias("dist_est"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("dist_est"), F.asc("nid"))
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", "nid", "rk", F.col("dist_est").cast("long").alias("dist_est"))
    )


ORACLE["embeddings_ivfpq_index_topk"] = ORACLE["embeddings_ivfpq_topk"]


def _semantic_neardup_sql(n_cents: int = 8) -> str:
    """SemDeDup oracle, parameterized by IVF bucket count: blocked
    cosine candidates cross-verified by exact 3-gram Jaccard."""
    return f"""
    WITH {_SHINGLES_SQL},
    sem AS (SELECT * FROM ({_neardup_blocked_sql(1, n_cents)}) s0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    iv AS (
        SELECT s.id1, s.id2, count(*) AS inter
        FROM sem s
          JOIN sh a ON a.doc_id = s.id1
          JOIN sh b ON b.doc_id = s.id2 AND b.shingle = a.shingle
        GROUP BY s.id1, s.id2
    )
    SELECT s.id1, s.id2, s.cos_x1e6,
           CAST(coalesce(floor(1000.0 * iv.inter / (z1.n + z2.n - iv.inter)), 0) AS BIGINT)
               AS jaccard_x1000,
           CAST(coalesce(floor(1000.0 * iv.inter / (z1.n + z2.n - iv.inter)), 0) >= 500 AS BOOLEAN)
               AS lexical_confirmed
    FROM sem s
      LEFT JOIN iv ON iv.id1 = s.id1 AND iv.id2 = s.id2
      JOIN sizes z1 ON z1.doc_id = s.id1
      JOIN sizes z2 ON z2.doc_id = s.id2
    """


def _semantic_neardup_plan(spark: SparkSession, sf_dir: str, n_cents: int) -> DataFrame:
    """Shared Spark plan for the SemDeDup gates (see
    docs_semantic_neardup's docstring for semantics).

    Shape (r14, guide §2.4): the lexical verify used to derive `inter`
    from an inner pairs⋈shingles⋈shingles aggregate and then LEFT-join
    it BACK onto `pairs` plus two sizes joins — the IVF+cosine pair
    subtree appeared twice and the shingle set four times (20
    exchanges / 16 scans analyzed). Now the b shingle side LEFT-joins so
    every pair row survives the single aggregate (`inter` = matched
    b-rows, `n1` = the group's own a-side row count — sh is distinct
    per doc, so that IS |sh(id1)|), leaving one sizes join for n2:
    pairs referenced once, 4 joins → 3, 19 → 13 bench-profile
    exchanges. The a-side join is INNER like the sizes join, so a pair
    drops when either id has no shingle rows (no documents row), as in
    the oracle's two sizes joins; a NULL text keeps its one NULL
    shingle row, so its pairs survive with jaccard 0. Measured (tools/bench_semantic_ab.py, ABBA, exceptAll 0
    both gates at both scales): sf0.1 2.638→2.244 s (8-cent) /
    2.352→2.241 s (64); x10 23.45→21.76 s for the at-scale 64-bucket
    gate; the 8-bucket gate's x10 medians (181.9 vs 195.8 s) overlap
    rep-for-rep (168–216 both arms) — that gate's declared operating
    envelope is small-N (its own docstring: quadratic at fixed bucket
    count; `_scaled` is the at-scale knob), where the one-pass form
    wins."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = emb.filter(F.col("vec_id") < n_cents).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    assigned = ivf_assign(emb, cents).select("vec_id", "centroid_id")
    pairs = neardup_pairs(
        emb.join(assigned, "vec_id"), block_col="centroid_id", min_cos_x1e6=350_000
    )

    sh = shingle_set(docs, "doc_id", "text", 3, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id2b"), F.col("shingle").alias("sh_b"))
    g = (
        pairs.join(a, "id1")
        .join(b, (F.col("id2") == F.col("id2b")) & (F.col("sh_b") == F.col("sh_a")), "left")
        .drop("id2b")
        .groupBy("id1", "id2")
        .agg(
            F.max("cos_x1e6").alias("cos_x1e6"),
            F.count("sh_b").alias("inter"),
            F.count("sh_a").alias("n1"),
        )
    )
    jx = F.coalesce(
        F.floor(F.lit(1000.0) * F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))),
        F.lit(0),
    ).cast("long")
    return (
        g.join(sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2")), "id2")
        .select(
            "id1",
            "id2",
            "cos_x1e6",
            jx.alias("jaccard_x1000"),
            (jx >= 500).alias("lexical_confirmed"),
        )
    )


@register("docs_semantic_neardup_scaled", _semantic_neardup_sql(64))
def docs_semantic_neardup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale SemDeDup shape (r9, verdict r8 item 5): identical
    pipeline to ``docs_semantic_neardup`` with the IVF bucket count
    raised 8 → 64. The 8-bucket gate's within-bucket pair scan is
    Σ_b n_b² with n_b = N/8 — quadratic in N at FIXED bucket count,
    which is why its sf4 spot blew the budget on BOTH engines (r2).
    Real IVF sizes k ∝ N (bounded bucket size ⇒ linear total pair
    work); this gate IS that knob, and its x10 row is the at-scale
    evidence the 8-bucket gate could never record (BASELINE.md r9).
    The 8-bucket twin stays registered: same code path, denser buckets
    — more candidate recall at small N."""
    return _semantic_neardup_plan(spark, sf_dir, 64)


@register("docs_semantic_neardup", _semantic_neardup_sql(8))
def docs_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication with lexical cross-verification (the
    SemDeDup pattern, Abbas et al. 2023): candidate duplicate pairs
    come from EMBEDDING similarity (IVF-bucket-blocked cosine — finds
    paraphrases exact n-grams miss), and each candidate is then
    checked against exact word-3-gram Jaccard, labeling pairs as
    lexically confirmed duplicates vs semantic-only neighbors. The
    documents and embeddings fixtures share one id space, so the two
    modalities join directly; at scale the Jaccard verify runs only on
    the (tiny) semantic candidate set, never on the corpus. For the
    at-scale bucket sizing see ``docs_semantic_neardup_scaled``."""
    return _semantic_neardup_plan(spark, sf_dir, 8)


@register(
    "docs_collocations",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
        SELECT ws[i] AS w1, ws[i+1] AS w2
        FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ),
    nab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
    na AS (SELECT w1, count(*) AS n_a FROM bg GROUP BY 1),
    nb AS (SELECT w2, count(*) AS n_b FROM bg GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM bg),
    scored AS (
        SELECT nab.w1, nab.w2, nab.n_ab,
               CAST((1000 * nab.n_ab * tot.n) // (na.n_a * nb.n_b) AS BIGINT) AS lift_x1000
        FROM nab JOIN na USING (w1) JOIN nb USING (w2) CROSS JOIN tot
        WHERE nab.n_ab >= 5
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, lift_x1000, rank FROM (
        SELECT *, row_number() OVER (ORDER BY lift_x1000 DESC, w1, w2) AS rank
        FROM scored
    ) WHERE rank <= 50
    """,
)
def docs_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction (phrase mining): the top adjacent word
    pairs by LIFT — n_ab·N / (n_a·n_b), the integer-exact core of PMI
    without the logarithm (log is monotone, so the ranking is
    identical and no libm rounding can split the engines). The
    corpus-analysis pass behind multi-word-token selection in
    tokenizer design and boilerplate-phrase detection.

    Scale shape: one explode fans out bigrams map-side; three
    hash aggregations (pair, first-word, second-word — the unigram
    margins are tiny and broadcast back); the 1-row total is a
    broadcast scalar; the global top-50 is a TakeOrdered on the
    filtered (n_ab ≥ 5) pair table. The fact is scanned once."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.col("__ws")
    bg = (
        docs.select(F.split(F.col("text"), " ").alias("__ws"))
        .select(F.explode(F.sequence(F.lit(1), F.array_size(ws) - 1)).alias("__i"), "__ws")
        .select(
            F.element_at(ws, F.col("__i")).alias("w1"),
            F.element_at(ws, F.col("__i") + 1).alias("w2"),
        )
    )
    nab = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab")).filter(F.col("n_ab") >= 5)
    na = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n_a"))
    nb = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n_b"))
    tot = bg.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        nab.join(na, "w1")
        .join(nb, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("long").alias("n_ab"),
            # integer `div`, not float `/`+cast: the oracle floor-divides
            # in int64, and a double quotient landing ~1ulp under an
            # integer boundary would floor differently
            F.expr("1000 * n_ab * n div (n_a * n_b)").cast("long").alias("lift_x1000"),
        )
    )
    w = Window.orderBy(F.desc("lift_x1000"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("w1", "w2", "n_ab", "lift_x1000", "rank")
    )


@register(
    "docs_quality_rank_corr",
    """
    WITH m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS x,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY x, doc_id) AS rx,
               row_number() OVER (ORDER BY y, doc_id) AS ry
        FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
    FROM r
    """,
)
def docs_quality_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation components between two quality
    signals (document length vs distinct-vocabulary size) — the
    metric-agreement check run before trusting one signal as a proxy
    for another. Emits the EXACT integer sufficient statistics
    (n, Σd² over deterministically tie-broken ranks); ρ = 1 −
    6Σd²/(n(n²−1)) follows in the consumer — the final division is
    deliberately left out because n³ scaling overflows int64 by sf1
    and a float quotient could floor differently across engines,
    while (n, Σd²) stay exact at any scale.

    Scale note: ranking is a global sort (range partition + local
    sort) per signal — two sort passes over (id, value) pairs, the
    textbook distributed-ranking cost, independent of text size once
    the metrics are projected."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("x"),
        F.array_size(F.array_distinct(F.split(F.col("text"), " "))).cast("long").alias("y"),
    )
    wx = Window.orderBy("x", "doc_id")
    wy = Window.orderBy("y", "doc_id")
    r = m.select(
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    d = F.col("rx") - F.col("ry")
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(d * d).cast("long").alias("sum_d2"),
    )


@register(
    "docs_novelty_scores",
    f"""
    WITH {_SHINGLES_SQL},
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST((1000 * sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novelty_x1000
    FROM sh JOIN firsts f ON f.shingle = sh.shingle
    GROUP BY sh.doc_id
    """,
)
def docs_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty score per document: the fraction of its
    word-3-gram shingles whose FIRST appearance (by doc_id — ingestion
    order) is this document. The dataset-curation signal behind
    contribution-weighted sampling and redundancy pruning: a document
    whose shingles all appeared earlier adds nothing a dedup pass
    didn't already keep; high-novelty documents carry the corpus's
    marginal information.

    Scale shape (r13): one distinct-shingle fan-out, then the 'first
    writer' per shingle as an UNORDERED WINDOW MIN over the shingle
    partitioning — the previous groupBy + self-join form re-executed
    the whole explode+distinct subtree for each join side (2 scans /
    5 exchanges in the executed plan; now 1 scan / 3 exchanges, no
    join), and a per-doc aggregate (map-side partials — explode is
    row-local). Measured 0.396 → 0.298 s at sf0.1; at x10 the OLD
    form is still faster (0.98 vs 1.13 s) because its firsts index
    still fits a broadcast there — but the index grows with the
    corpus, so past the broadcast cap the join degrades to a
    sort-merge over BOTH re-exploded sides, strictly worse than this
    form's single sort (tools/bench_novelty_ab.py records both
    scales). Incremental pipelines maintain the first-writer index
    exactly like the LSH band index. Integer division for the score —
    no float boundary."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_set(docs, "doc_id", "text", 3, distinct=True)
    j = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("1000 * n_novel div n_shingles").cast("long").alias("novelty_x1000"),
        )
    )


@register(
    "docs_boundary_overlap_pairs",
    """
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(w[greatest(len(w) - 2, 1):len(w)], ' ') AS suf,
               array_to_string(w[1:3], ' ') AS pre,
               len(w) AS nw
        FROM ws
    )
    SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc,
           md5(a.suf) AS boundary_hash
    FROM sp a JOIN sp b ON a.suf = b.pre AND a.doc_id <> b.doc_id
    WHERE a.nw >= 6 AND b.nw >= 6
    """,
)
def docs_boundary_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document detection: pairs where one document's trailing
    3 words equal another's leading 3 words — the signature of a
    single source document sharded across two records by an upstream
    chunker. Reconstruction pipelines stitch these pairs back
    together before dedup so the joined text isn't double-counted.

    Scale shape: each side contributes ONE (key, doc_id) row — the
    join is suffix-key = prefix-key on a 3-word string, an ordinary
    hash join whose build side is |corpus|, never an all-pairs
    product. Short docs (< 6 words) are excluded so a 3-word document
    can't match itself end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    sp = docs.select(
        "doc_id",
        F.array_join(
            F.slice(w, F.greatest(F.size(w) - F.lit(2), F.lit(1)), 3), " "
        ).alias("suf"),
        F.array_join(F.slice(w, 1, 3), " ").alias("pre"),
        F.size(w).alias("nw"),
    ).filter(F.col("nw") >= 6)
    a = sp.select(F.col("doc_id").alias("tail_doc"), "suf")
    b = sp.select(F.col("doc_id").alias("head_doc"), F.col("pre").alias("suf"))
    return (
        a.join(b, "suf")
        .filter(F.col("tail_doc") != F.col("head_doc"))
        .select("tail_doc", "head_doc", F.md5(F.col("suf").cast("binary")).alias("boundary_hash"))
    )


def _langid_confusion_sql() -> str:
    inner = _langid_sql()
    return f"""
    WITH pred AS ({inner})
    SELECT d.lang AS declared_lang, pred.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred ON d.doc_id = pred.doc_id
    GROUP BY d.lang, pred.pred_lang
    """


@register("docs_langid_confusion", _langid_confusion_sql())
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared metadata language vs
    the stopword-argmax detector, counted per (declared, predicted)
    cell. The audit run before trusting EITHER signal to route
    documents into per-language training mixes — off-diagonal mass
    localizes whether metadata or detector is lying.

    Scale shape: the detector is a pure projection (no joins), so the
    matrix is one partial-aggregated groupBy on a ≤ (langs+1)² key
    space — map-side combine collapses it to a handful of rows per
    task regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("declared_lang"),
            langid_pred(F.col("text")).alias("pred_lang"),
        )
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@register(
    "embeddings_gram_matrix",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cells AS (
        SELECT i.range AS i, j.range AS j, qv[i.range + 1] * qv[j.range + 1] AS p
        FROM q, range(0, 64) i, range(0, 64) j
        WHERE j.range >= i.range
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(p) AS BIGINT) AS sum_pq
    FROM cells GROUP BY i, j
    """,
)
def embeddings_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix of the corpus embeddings — the
    Σxᵀx sufficient statistic behind PCA / whitening / covariance
    drift checks on a vector store. Coordinates are quantized to
    integer milli-units (floor(x·1000), the same double-promotion cut
    as `embeddings_int8_quantize`) so the 2 080 accumulated cells are
    exact integers with no float summation-order boundary.

    Scale shape: one scan; each row expands to its d(d+1)/2 products
    via nested array transforms and ONE explode — no self-join, no
    shuffle of the vectors themselves; the single aggregate reduces
    (i, j) cells map-side, so the shuffle carries at most 2 080 rows
    per task regardless of corpus size. At d where d² per-row blowup
    dominates (d ≳ 10³), the same statistic would be blocked into
    column-range tiles — shape unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
        ).alias("qv")
    )
    cells = q.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, 63), i ->"
                " transform(sequence(i, 63), j ->"
                " struct(i AS i, j AS j, qv[i] * qv[j] AS p))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    return cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("p").cast("long").alias("sum_pq"),
    ).select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n_vecs",
        "sum_pq",
    )


@register(
    "docs_inverted_index",
    """
    WITH td AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id
        FROM documents
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM td GROUP BY term),
    top20 AS (
        SELECT term,
               array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings_head
        FROM td GROUP BY term
    )
    SELECT df.term, df.doc_freq, top20.postings_head
    FROM df JOIN top20 ON df.term = top20.term
    WHERE df.doc_freq >= 10
    """,
)
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (term → document-frequency + the first 20
    postings in doc_id order): the search-index construction pass of
    a corpus pipeline, and the same (term, doc) distinct fan-out that
    feeds TF-IDF. The posting SAMPLE is emitted — not the full list —
    because a stopword's postings are O(corpus) and a row that size
    is exactly the skew a 100 TB build must not materialize; real
    builds shard each term's postings into fixed-size blocks, and the
    head block is what this plan produces.

    Scale shape: doc_freq is a groupBy(term) aggregate (map-side
    partials carry only (term, count)) broadcast-joined onto the
    head-20 frame (row_number window over the (term) sort). r13 moved
    doc_freq into a window count riding the head sort (one exchange
    fewer, survives the broadcast cap); r14 re-measured the flip point
    the VERDICT asked for (tools/bench_inverted_ab.py, ABBA
    median-of-6, noop): the JOIN form wins at sf0.1 (0.428 vs
    0.337 window... r13 numbers), x10 (0.774 vs 0.838) AND x40
    (1.369 vs 1.593) — the map-combined tiny aggregate beats the
    full-fact window count at every testable scale, so r14 reverts to
    it per the measured-regression rule. Config note for past the
    broadcast cap (vocabulary ≫ autoBroadcastJoinThreshold): the join
    degrades to a term-keyed SMJ of two frames that already share the
    term sort — still bounded; the window form remains in git history
    (r13) if a real corpus ever flips it. Never an unbounded collect:
    collect_list over the rn≤20 filter sees ≤20 elements per term."""
    docs = load_table(spark, sf_dir, "documents")
    td = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"), "doc_id")
        .distinct()
    )
    dfreq = td.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    w_ord = Window.partitionBy("term").orderBy("doc_id")
    head = (
        td.withColumn("rn", F.row_number().over(w_ord))
        .filter(F.col("rn") <= 20)
        .groupBy("term")
        .agg(F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings_head"))
    )
    return (
        dfreq.filter(F.col("doc_freq") >= 10)
        .join(head, "term")
        .select("term", "doc_freq", "postings_head")
    )


@register(
    "docs_weighted_sample",
    """
    WITH pri AS (
        SELECT doc_id, CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   // CAST(greatest(n_chars, 1) AS BIGINT) AS priority
        FROM documents
    )
    SELECT doc_id, weight, priority
    FROM pri
    ORDER BY priority, doc_id
    LIMIT 50
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (priority-sampling family,
    Duffield et al.): each document draws a fixed pseudo-random key
    (the first 60 bits of md5(doc_id)) divided by its weight
    (n_chars), and the bottom-50 priorities win — heavier documents
    get proportionally smaller priorities, so inclusion probability
    scales with weight, yet the draw is a pure function of the key:
    reproducible across runs, partitionings, and engines (integer
    division, no float u^(1/w)).

    Scale shape: a projection plus one global bottom-k — Spark's
    TakeOrderedAndProject keeps k rows per partition then merges k·p
    at the driver; no sort of the corpus. The same priority column
    with a per-stratum window gives weighted sampling per group."""
    docs = load_table(spark, sf_dir, "documents")
    weight = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    pri = docs.select(
        "doc_id",
        weight.alias("weight"),
        F.expr(
            "cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint)"
            " div cast(greatest(n_chars, 1) as bigint)"
        ).alias("priority"),
    )
    return pri.orderBy("priority", "doc_id").limit(50)


@register(
    "docs_prefix_filter_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    sized AS (
        SELECT sh.doc_id, sh.shingle, f.df,
               count(*) OVER (PARTITION BY sh.doc_id) AS m,
               row_number() OVER (PARTITION BY sh.doc_id
                                  ORDER BY f.df, sh.shingle) AS rn
        FROM sh JOIN freq f ON f.shingle = sh.shingle
    ),
    pref AS (SELECT doc_id, shingle, m FROM sized WHERE rn <= m - (m + 1) // 2 + 1),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, a.m AS m1, b.doc_id AS id2, b.m AS m2
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.id1, c.id2, c.m1, c.m2, CAST(count(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.id1
        JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
        GROUP BY c.id1, c.id2, c.m1, c.m2
    )
    SELECT id1, id2, CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2, i,
           CAST(1000 * i // (m1 + m2 - i) AS BIGINT) AS jaccard_x1000
    FROM inter
    WHERE 1000 * i >= 500 * (m1 + m2 - i)
    """,
)
def docs_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the PPJoin family,
    Chaudhuri/Xiao): order each document's shingle set rarest-first
    by corpus document frequency, keep only the first
    m − ⌈m/2⌉ + 1 shingles as the candidate prefix, and pair
    documents that share ANY prefix shingle — the classical theorem
    guarantees no Jaccard-≥0.5 pair is missed, while common shingles
    (the ones that would explode a naive token join) never generate
    candidates because they sort out of every prefix. Survivors are
    verified with EXACT Jaccard (integer cross-multiplied threshold).
    The algorithmic alternative to MinHash-LSH: deterministic, no
    false negatives, candidate volume governed by token rarity
    instead of band count.

    Scale shape: one df-aggregate on the shingle key, one window pass
    per doc (rarest-first rank), a candidate join that only meets on
    PREFIX shingles, then a candidate-bounded intersection count.
    Nothing enumerates n²."""
    docs = load_table(spark, sf_dir, "documents")
    # The distinct shingle set feeds FOUR legs (df counts, prefix
    # ranking, both intersection sides): checkpoint it once so the
    # explode+md5 fan-out runs once (operators/graph.py:107 idiom).
    sh = (
        shingle_set(docs, "doc_id", "text", 3, distinct=True)
        .select("doc_id", "shingle")
        .localCheckpoint(eager=True)
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    j = sh.join(freq, "shingle")
    w_m = Window.partitionBy("doc_id")
    w_rn = Window.partitionBy("doc_id").orderBy("df", "shingle")
    sized = j.select(
        "doc_id",
        "shingle",
        F.count(F.lit(1)).over(w_m).alias("m"),
        F.row_number().over(w_rn).alias("rn"),
    )
    pref = sized.filter(F.col("rn") <= F.col("m") - F.expr("(m + 1) div 2") + 1).select(
        "doc_id", "shingle", "m"
    )
    a = pref.select(F.col("doc_id").alias("id1"), F.col("m").alias("m1"), "shingle")
    b = pref.select(F.col("doc_id").alias("id2"), F.col("m").alias("m2"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "m1", "id2", "m2")
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("id1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        cand.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2", "m1", "m2")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    union = F.col("m1") + F.col("m2") - F.col("i")
    return inter.filter(1000 * F.col("i") >= 500 * union).select(
        "id1",
        "id2",
        F.col("m1").cast("long").alias("m1"),
        F.col("m2").cast("long").alias("m2"),
        "i",
        F.expr("cast(1000 * i div (m1 + m2 - i) as bigint)").alias("jaccard_x1000"),
    )


# ── Exact-substring span dedup (ExactSubstr) ────────────────────────────────


@register(
    "docs_duplicate_ngram_spans",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
        SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS gh
        FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING min(doc_id) <> max(doc_id)),
    h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
    b AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 1
                    THEN 0 ELSE 1 END AS brk
        FROM h
    ),
    s AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM b
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS n_tokens,
           count(*) AS n_grams
    FROM s GROUP BY doc_id, span_id
    """,
)
def docs_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate SPANS: for every document, the maximal
    token ranges whose every 8-token window also occurs verbatim in at
    least one OTHER document — the span-level dedup pass (ExactSubstr,
    Lee et al. 2021) that catches verbatim boilerplate and quoted
    passages inside otherwise-unique documents, which whole-doc hashing
    (docs_exact_dedup) and near-dup pairing (MinHash/SimHash) both
    miss. Emitting spans rather than pairs is what makes the pass
    actionable at corpus scale: the downstream cut removes the span,
    not the document.

    Scale shape: one explode fans docs into positioned 8-gram hashes
    (map-side, single codegen stage — same explode-first formulation as
    `exploded_shingles`); cross-doc duplication is decided with a
    min!=max groupBy on the gram hash (partial-aggregatable — no
    count-distinct, no self-join); surviving positions re-join the gram
    table on the hash (shuffle hash join, both sides pre-shrunk); span
    assembly is the gaps-and-islands running sum over the per-doc
    window — one doc-keyed exchange. No stage is quadratic in corpus
    size; the widest intermediate is the positioned gram table, linear
    in total tokens, never materialized as a per-doc array."""
    n = 8
    docs = load_table(spark, sf_dir, "documents")
    ws = F.col("__ws")
    g = (
        docs.withColumn("__ws", F.split(F.col("text"), " "))
        .filter(F.array_size(ws) >= n)
        .select(
            "doc_id",
            "__ws",
            F.explode(F.sequence(F.lit(1), F.array_size(ws) - (n - 1))).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.array_join(F.slice(ws, F.col("pos"), n), " ")).alias("gh"),
        )
    )
    dup = (
        g.groupBy("gh")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("gh")
    )
    hits = g.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos").over(w) <= 1, F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn("span_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("n_tokens"),
        "n_grams",
    )


# ── Corpus-level source overlap via MinHash sketch union ───────────────────

_SRC_MINHASH_SQL = f"""
    ws AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
    pos AS (SELECT source, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
            FROM ws),
    sh AS (SELECT DISTINCT source, array_to_string(ws[i:i+2], ' ') AS shingle
           FROM pos),
    ab AS (SELECT source,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2038074743 AS x
           FROM sh),
    m AS (SELECT source,
                 {", ".join(f"min(({a} * x + {b}) % 2038074743) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
          FROM ab GROUP BY source)
"""


@register(
    "sources_minhash_overlap",
    f"""
    WITH {_SRC_MINHASH_SQL},
    pairs AS (
        SELECT m1.source AS source1, m2.source AS source2,
               ({" + ".join(f"(m1.h{i} = m2.h{i})::INT" for i in range(8))}) AS matches
        FROM m m1 JOIN m m2 ON m1.source < m2.source
    )
    SELECT source1, source2, CAST(matches AS BIGINT) AS matches,
           CAST((1000 * matches) // 8 AS BIGINT) AS jaccard_est_x1000
    FROM pairs
    """,
)
def sources_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level overlap matrix: estimated shingle-set Jaccard
    between every pair of SOURCES from one k=8 MinHash signature per
    source — the contamination/provenance question ("how much does
    crawl A repeat crawl B?") answered without ever joining the two
    corpora.  Per-source signatures are mergeable summaries: each is
    k mins over the source's shingle set, so at 100 TB they are
    maintained incrementally per ingest batch (min is a monoid) and
    the pairwise matrix costs |sources|² integer comparisons on the
    driver-side-tiny signature table, independent of corpus size.
    The oracle recomputes the identical estimator in SQL — the gate
    pins the sketch's determinism; its accuracy as a Jaccard
    estimator is the standard 1/sqrt(k) MinHash bound.

    Scale shape: shingle explode + per-source distinct + one groupBy
    (same fan-out as docs_minhash_lsh_pairs); the pair join runs on
    |sources| rows — broadcast, never a shuffle of the fact."""
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "source", "text", 3).distinct()
    sig = minhash_signatures(sh, "source", k=8)
    a = sig.select(
        F.col("source").alias("source1"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)]
    )
    b = sig.select(
        F.col("source").alias("source2"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    ).cast("long")
    return (
        a.join(F.broadcast(b), F.col("source1") < F.col("source2"))
        .select("source1", "source2", matches.alias("matches"))
        .select(
            "source1",
            "source2",
            "matches",
            F.expr("cast(1000 * matches div 8 as bigint)").alias("jaccard_est_x1000"),
        )
    )


@register(
    "docs_bigram_lm_score",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM w WHERE len(ws) >= 2
    ),
    sp AS (SELECT doc_id, split_part(bg, ' ', 1) AS prev, split_part(bg, ' ', 2) AS wd FROM bi),
    c2 AS (SELECT prev, wd, count(*) AS c2 FROM sp GROUP BY 1, 2),
    c1 AS (SELECT prev, count(*) AS c1 FROM sp GROUP BY 1),
    v AS (SELECT count(DISTINCT x) AS v FROM (SELECT unnest(ws) AS x FROM w)),
    s AS (
        SELECT sp.doc_id, floor(1000000.0 * (c2.c2 + 1) / (c1.c1 + v.v)) AS p
        FROM sp JOIN c2 USING (prev, wd) JOIN c1 USING (prev), v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(floor(sum(p) / count(*)) AS BIGINT) AS fluency_avg_x1e6
    FROM s GROUP BY doc_id
    """,
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring (the CCNet-style quality filter): a
    bigram model with add-1 smoothing is trained ON THE CORPUS (two
    count aggregates — no external model), then every document is
    scored by its average scaled conditional probability
    floor(1e6·(c(prev,w)+1)/(c(prev)+V)). Kept integer end-to-end
    (each per-bigram score is an exact double→floor; the per-doc
    reduction is an integer SUM, order-free), so the whole
    train-and-score pipeline value-hashes against the DuckDB replay —
    the determinism trick that makes an LM-scoring gate possible at
    all (a log-space perplexity would drift with partition order).

    100 TB: the model IS two hash aggregates (bigram + prefix counts);
    scoring is one shuffle join of the bigram stream against them,
    V broadcasts as a 1-row frame, and per-doc reduction is the final
    hash aggregate. Real deployments swap the corpus counts for a
    frozen reference-corpus table — same plan, one fewer aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    bi = (
        ws.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS prev, ws[i + 1] AS wd))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.prev").alias("prev"), F.col("b.wd").alias("wd"))
    )
    c2 = bi.groupBy("prev", "wd").agg(F.count(F.lit(1)).alias("c2"))
    # the prefix counts are the bigram counts re-aggregated — derive
    # them from c2 (|distinct bigrams| rows) instead of a second full
    # pass over the bigram stream
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v = ws.select(F.explode("ws").alias("x")).agg(F.countDistinct("x").alias("v"))
    p = F.floor(1_000_000.0 * (F.col("c2") + 1) / (F.col("c1") + F.col("v")))
    # score once per DISTINCT bigram, then one join carries it to the
    # stream — the bigram explode is evaluated twice (c2 + this join)
    # instead of three times, and the model-side joins run on the
    # model's cardinality, not the corpus's
    per_bigram = (
        c2.join(c1, ["prev"]).crossJoin(F.broadcast(v)).select("prev", "wd", p.alias("p"))
    )
    # BROADCAST the scored model: |distinct bigrams| rows, which the
    # add-1 smoothing already bounds to what fits a useful LM (and real
    # deployments freeze a bounded reference model — see above). AQE
    # cannot see this through the upstream crossJoin, so the explicit
    # hint is what removes the full shuffle of the corpus bigram stream
    # for the scoring join (x160 decomposition: 12.0 -> 9.5 s; the
    # pre-agg-per-doc alternative measured WORSE, 18.3 s, because the
    # (doc, bigram) key barely compresses). At an unbounded-model
    # scale, drop the hint and this becomes the plain shuffle join.
    scored = bi.join(F.broadcast(per_bigram), ["prev", "wd"]).select("doc_id", "p")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.floor(F.sum("p") / F.count(F.lit(1))).cast("long").alias("fluency_avg_x1e6"),
    )


_BQ_SQL = """
    bqw AS (
        SELECT vec_id,
               list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INT) - 1),
                   j -> list_reduce(
                            list_transform(generate_series(0, 31),
                                b -> CASE WHEN j * 32 + b + 1 <= len(embedding)
                                           AND embedding[j * 32 + b + 1] >= 0
                                          THEN (1::BIGINT << b) ELSE 0::BIGINT END),
                            (x, y) -> x | y)) AS w
        FROM embeddings
    ),
    bqp AS (
        SELECT q.vec_id AS qid, n.vec_id AS nid,
               list_sum(list_transform(generate_series(1, len(q.w)),
                                       i -> bit_count(xor(q.w[i], n.w[i])))) AS hamming
        FROM bqw q JOIN bqw n ON q.vec_id < 5 AND n.vec_id <> q.vec_id
    ),
    bqtop AS (
        SELECT qid, nid, rk, CAST(hamming AS BIGINT) AS hamming FROM (
            SELECT qid, nid, hamming,
                   row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rk
            FROM bqp
        ) WHERE rk <= 3
    )
"""


@register(
    "embeddings_bq_topk",
    f"WITH {_BQ_SQL} SELECT qid, nid, rk, hamming FROM bqtop",
)
def embeddings_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization ANN: sign-bit packing (64 float dims -> two
    32-bit words, 32× smaller) + Hamming top-3 — the cheapest tier of
    the modern vector-search quantization menu, next to PQ/IVFPQ
    (embeddings_pq_*). The oracle replays packing and scoring
    bit-for-bit (32-bit words keep every shift below the sign bit, so
    both engines materialize identical longs; bit_count(xor) folds are
    integer-exact). Scoring reads d/64 machine words per pair instead
    of d floats — the first-stage rescore a billion-vector deployment
    runs before exact reranking."""
    from iotdatapipeline_spark.analytics.similarity import binary_quantize, hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    bq = binary_quantize(emb)
    return hamming_topk(bq, bq.filter(F.col("vec_id") < 5), k=3)


_EXACT_TOP3_SQL = """
    iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    expr_ AS (SELECT q.vec_id AS qid, n.vec_id AS nid, unnest(q.v) AS a, unnest(n.v) AS b
              FROM iv q JOIN iv n ON q.vec_id < 5 AND n.vec_id <> q.vec_id),
    exd AS (SELECT qid, nid, sum((a - b) * (a - b)) AS dist FROM expr_ GROUP BY 1, 2),
    extop AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk
            FROM exd
        ) WHERE rk <= 3
    )
"""


@register(
    "embeddings_bq_recall",
    f"""
    WITH {_BQ_SQL}, {_EXACT_TOP3_SQL}
    SELECT extop.qid,
           CAST(count(bqtop.nid) AS BIGINT) AS n_hit,
           CAST(floor(100.0 * count(bqtop.nid) / 3) AS BIGINT) AS recall_x100
    FROM extop LEFT JOIN bqtop ON bqtop.qid = extop.qid AND bqtop.nid = extop.nid
    GROUP BY extop.qid
    """,
)
def embeddings_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of sign-bit Hamming search against the exact
    scaled-integer-L2 scan — the quality number that prices the 32×
    compression, mirroring embeddings_pq_recall for PQ. Both the BQ
    ranking and the exact ranking are integer-deterministic, so the
    composition value-hashes. Near-isotropic fixture caveat as for PQ:
    absolute recall here is the VQ worst case; the gate pins the
    measurement machinery."""
    from iotdatapipeline_spark.analytics.similarity import binary_quantize, hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    bq = binary_quantize(emb)
    top = hamming_topk(bq, bq.filter(F.col("vec_id") < 5), k=3)
    return _recall_vs_exact_int_top3(emb, top)


@register(
    "embeddings_bq_index_topk",
    f"WITH {_BQ_SQL} SELECT qid, nid, rk, hamming FROM bqtop",
)
def embeddings_bq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization with a STORED index — the amortized form of
    ``embeddings_bq_topk`` (r11, verdict r10 item 5), completing the
    quantization menu's indexed column next to the PQ/IVFPQ index
    gates. Sign-bit packing is paid ONCE into a fingerprint-keyed
    VersionedTable (the plans/materialize.py pattern: deterministic
    build, race-safe create); the registered query is the steady
    state — quantize the 5 probe vectors and run ``bit_count(xor)``
    Hamming top-3 over the STORED packed words. The oracle re-packs
    from scratch in DuckDB and must match bit-for-bit, so the row
    hash-verifies the stored index against a fresh quantization every
    round — index rot is gate-visible (the pq_index_recall precedent).

    100 TB: the scoring scan reads d/32 stored ints per vector (no
    float column touched), the 5-row query side broadcasts, and
    re-ingest triggers only on a dataset-fingerprint change — the
    cheapest rescoring tier with build and search split like a real
    vector store."""
    from iotdatapipeline_spark.analytics.similarity import binary_quantize, hamming_topk
    from iotdatapipeline_spark.plans.materialize import (
        dataset_fingerprint,
        materialize_once,
    )

    digest = dataset_fingerprint(sf_dir, "embeddings")
    root = f"/tmp/sparkgraft_bqindex/{digest}"
    bq_t = materialize_once(
        spark,
        f"{root}/bq",
        lambda: binary_quantize(load_table(spark, sf_dir, "embeddings")),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qbq = binary_quantize(emb.filter(F.col("vec_id") < 5))
    return hamming_topk(bq_t.snapshot().select("vec_id", "bq"), qbq, k=3)


@register(
    "embeddings_matryoshka_recall",
    f"""
    WITH {_EXACT_TOP3_SQL},
    pv AS (SELECT vec_id, v[1:16] AS p FROM iv),
    mp AS (SELECT q.vec_id AS qid, n.vec_id AS nid, unnest(q.p) AS a, unnest(n.p) AS b
           FROM pv q JOIN pv n ON q.vec_id < 5 AND n.vec_id <> q.vec_id),
    md AS (SELECT qid, nid, sum((a - b) * (a - b)) AS dist FROM mp GROUP BY 1, 2),
    mtop AS (
        SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk
            FROM md
        ) WHERE rk <= 3
    )
    SELECT extop.qid,
           CAST(count(mtop.nid) AS BIGINT) AS n_hit,
           CAST(floor(100.0 * count(mtop.nid) / 3) AS BIGINT) AS recall_x100
    FROM extop LEFT JOIN mtop ON mtop.qid = extop.qid AND mtop.nid = extop.nid
    GROUP BY extop.qid
    """,
)
def embeddings_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL-style) prefix search audit: rank on the FIRST 16
    of 64 dims (the 4× cheaper truncated-embedding tier) and measure
    recall@3 against the full-dim exact scan. Same integer-exact
    protocol as the PQ/BQ recalls — scaled-int L2 on the prefix, ties
    on nid — so the whole truncate-rank-audit pipeline value-hashes.
    At 100 TB the prefix scan reads a quarter of the vector bytes
    (column-pruned if prefixes are stored as their own column) and the
    recall row is the number that decides which tier serves first-stage
    retrieval."""
    emb = load_table(spark, sf_dir, "embeddings")
    ints = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000)).alias("__v"),
    )
    pv = ints.select("vec_id", F.slice("__v", 1, 16).alias("__p"))
    q = pv.select(F.col("vec_id").alias("qid"), F.col("__p").alias("qp")).filter(F.col("qid") < 5)
    d = F.aggregate(
        F.zip_with(F.col("__p"), F.col("qp"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = pv.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    dd = pairs.select("qid", F.col("vec_id").alias("nid"), d.alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nid"))
    mtop = dd.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).select("qid", "nid")
    return _recall_vs_exact_int_top3(emb, mtop)


@register(
    "embeddings_bq_index_maintain",
    """
    WITH f AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings WHERE vec_id % 9 <> 0
    ),
    w AS (
        SELECT vec_id,
               list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INT) - 1),
                   j -> list_reduce(
                            list_transform(generate_series(0, 31),
                                b -> CASE WHEN j * 32 + b + 1 <= len(embedding)
                                           AND embedding[j * 32 + b + 1] >= 0
                                          THEN (1::BIGINT << b) ELSE 0::BIGINT END),
                            (x, y) -> x | y)) AS w
        FROM f
    ),
    e AS (
        SELECT vec_id,
               unnest(list_transform(generate_series(1, len(w)),
                                     i -> {'wi': i - 1, 'word': w[i]})) AS s
        FROM w
    )
    SELECT vec_id, CAST(s.wi AS BIGINT) AS wi, CAST(s.word AS BIGINT) AS word FROM e
    """,
)
def embeddings_bq_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED vector index as a hard driver gate (r12): the stored
    sign-bit tier (``embeddings_bq_index_topk``'s table) is kept in
    sync with a mutating embeddings VersionedTable from its change
    feed — ``BqVectorIndex.create`` seeds at v1, the source then takes
    a vector-flipping merge (negate every dim of mod-7 ids — every
    sign bit of those rows changes) and a delete (mod-9 ids), and ONE
    ``refresh()`` absorbs both commits: changed ids repacked
    row-locally from the O(changed rows) feed, deleted ids dropped,
    exactly-once via the index table's txn map (a second refresh must
    be a metadata no-op). The gate explodes the stored words to
    (vec_id, wi, word) scalars; the oracle packs the source's FINAL
    state from scratch — a stale word (missed update), a surviving
    deleted id, or a double-applied batch all hash-fail.

    100 TB: index maintenance is the operation vector stores are
    judged on — here a 1-row embedding correction repacks one row and
    merges into the files holding that id, never touching the other
    10^9 index rows, because the BQ tier has no trained state to
    invalidate (iotdatapipeline_spark/matview.py BqVectorIndex;
    PQ/IVF retrains stay a modeling decision, documented there)."""
    import os

    from iotdatapipeline_spark.matview import BqVectorIndex
    from iotdatapipeline_spark.sources.versioned import VersionedTable

    stem = scratch("iotdp_bqmaint_")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(emb, cluster_by=["vec_id"])
    idx = BqVectorIndex.create(
        spark, os.path.join(stem, "idx"), os.path.join(stem, "src")
    )
    upd = (
        src.snapshot()
        .filter(F.col("vec_id") % 7 == 0)
        .withColumn("embedding", F.transform("embedding", lambda x: -x))
    )
    src.merge_into(upd, ["vec_id"])  # v2
    src.delete_where("vec_id % 9 = 0")  # v3
    if idx.refresh() != 3:
        raise RuntimeError("index refresh did not reach the source head")
    v_after = idx.table().version()
    if idx.refresh() != 3 or idx.table().version() != v_after:
        raise RuntimeError("no-change refresh was not a metadata no-op")
    return (
        idx.table()
        .snapshot()
        .select("vec_id", F.posexplode("bq").alias("wi", "word"))
        .select("vec_id", F.col("wi").cast("long").alias("wi"), "word")
    )
