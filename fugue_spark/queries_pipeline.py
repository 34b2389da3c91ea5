"""Pipeline headline queries: dedup / similarity / text analysis /
multimodal over the documents + embeddings tables.

Oracle discipline: counts and integer-scaled ratios only (see
queries_relational._money_sum rationale); cosine is a double left-fold in
BOTH engines (DuckDB's native list_cosine_similarity is float32 and cannot
match Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fugue_spark.benchmarks import load_table, register
from fugue_spark.pipeline import (
    as_media,
    assign_pack_bins,
    corpus_stats,
    cosine_topk_bruteforce,
    dedup_exact,
    dedup_near,
    extract_features,
    minhash_lsh_pairs,
    minhash_lsh_pairs_against,
    near_duplicates_lsh,
    semantic_dedup,
    ngram_jaccard_pairs,
    ngram_overlap,
    ngram_topk,
    simhash_pairs,
    simhash_verified_pairs,
    with_lang_id,
    with_quality_score,
    with_repetition_stats,
    with_token_stats,
)

# DuckDB fragments mirroring the Spark ops exactly
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_DOT = (
    "list_reduce(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
    " x -> x[1] * x[2]), (p, q) -> p + q)"
)
_NORMV = (
    "sqrt(list_reduce(list_transform({a}::DOUBLE[], x -> x * x), (p, q) -> p + q))"
)


def _cos_e6(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR(({_DOT.format(a=a, b=b)}) / "
        f"(({_NORMV.format(a=a)}) * ({_NORMV.format(a=b)})) * 1000000) AS BIGINT)"
    )


@register(
    "p1_token_stats",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
    tags=("text", "tokenize"),
    bench=True,
)
def p1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) — pure JVM expressions,
    runs at scan speed on any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return with_token_stats(docs).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


@register(
    "p2_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
             len(regexp_extract_all(text, '[A-Za-z]')) AS word_chars,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(lower(text),
               '\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|as|with|was|at|by|be|this)\\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words > 0 THEN (word_chars * 100) / n_words ELSE 0.0 END AS mean_word_len_e2,
           CASE WHEN n_words > 0 THEN (n_stop * 10000) / n_words ELSE 0.0 END AS stop_ratio_e4,
           CASE WHEN n_chars > 0 THEN (n_punct * 10000) / n_chars ELSE 0.0 END AS punct_ratio_e4,
           (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
            + CASE WHEN n_stop * 100 >= n_words * 2 THEN 1 ELSE 0 END
            + CASE WHEN n_punct * 100 <= n_chars * 20 THEN 1 ELSE 0 END
            + CASE WHEN word_chars * 2 >= n_chars THEN 1 ELSE 0 END) AS quality_score
    FROM f
    """,
    tags=("text", "quality"),
    bench=True,
)
def p2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_score(docs).select(
        "doc_id", "n_words", "mean_word_len_e2", "stop_ratio_e4", "punct_ratio_e4", "quality_score"
    )


@register(
    "p3_lang_id",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est)\\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\\b(el|los|las|una|es)\\b')) AS s_es,
             len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_cjk
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_cjk > 0 THEN 'zh'
                WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM s
    """,
    tags=("text", "langid"),
)
def p3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID next to the table's labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang", "lang_pred")


@register(
    "p4_dedup_exact",
    oracle=f"""
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(substr({_NORM}, 1, 40))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tags=("dedup",),
    bench=True,
)
def p4_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy keep-first) keyed on the normalized
    40-char prefix — the corpus has prefix-duplicates but no full dups, so
    this exercises survivor selection for real."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "prefix40",
        F.substring(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 40),
    )
    out = dedup_exact(docs, text_col="prefix40", id_col="doc_id")
    return out.select("doc_id", "n_chars")


# exact 3-gram Jaccard pairs at threshold 0.5 — the oracle for BOTH p5
# (which computes it exactly) and p6 (MinHash+LSH with exact verify: the
# output is provably ⊆ exact pairs, and band capture at the corpus's
# pair-similarity floor (j ≥ 0.80 ⇒ capture ≥ 99.98%/pair) plus
# DETERMINISTIC seeded hashes make it value-identical to exact on the
# fixed test corpora — confirmed at sf0.001/0.01/0.1, same posture as
# p8's full-recall LSH oracle)
def _jaccard_pairs_oracle(thr_e4: int) -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id AS id, n_sh, g FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(w) - 2, 0)),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2])
               )) AS grams
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
      ), LATERAL (SELECT len(grams) AS n_sh), UNNEST(grams) AS t(g)
      WHERE len(grams) > 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(FLOOR((COUNT(*) * 10000) / (MAX(a.n_sh) + MAX(b.n_sh) - COUNT(*))) AS BIGINT) AS jaccard_e4
    FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING CAST(FLOOR((COUNT(*) * 10000) / (MAX(a.n_sh) + MAX(b.n_sh) - COUNT(*))) AS BIGINT) >= {thr_e4}
    """


_JACCARD_PAIRS_ORACLE = _jaccard_pairs_oracle(5000)


@register(
    "p5_ngram_jaccard_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "jaccard"),
    bench=True,
)
def p5_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard duplicate pairs (inverted-index self-join)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, n=3)


@register(
    "p6_minhash_lsh_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def p6_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact verify.

    Value-checked against the EXACT-Jaccard oracle: the exact-verify stage
    makes the output ⊆ exact pairs, and on the test corpora (pair floor
    j ≥ 0.80, 16 bands × r=4 ⇒ per-pair capture ≥ 99.98%, deterministic
    seeded hashes) LSH captures every exact pair — confirmed equal at
    sf0.001/0.01/0.1; tests also keep the ⊆ + recall assertions."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=16, n=3)


@register(
    "p7_simhash_pairs",
    oracle=_jaccard_pairs_oracle(8000),
    tags=("dedup", "simhash"),
)
def p7_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate generation + exact-Jaccard verify over the organic
    corpus — the production recall/precision split, now VALUE-CHECKED: the
    verify stage makes the output ⊆ exact j ≥ 0.8 pairs, and 4-bit-chunk
    banding (pigeonhole capture to hamming 15; j ≥ 0.8 pairs sit at
    E[hamming] ≈ 9.7) captures every exact pair on the fixed seeded corpora
    — confirmed equal at sf0.001/0.01/0.1, same posture as p6. The raw
    hamming-threshold operator stays value-checked on the planted corpus
    (p14) and in pytest."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_verified_pairs(
        docs, threshold=0.8, n=3, max_hamming=20, n_chunks=16,
        max_bucket_size=None,
    )


@register(
    "p14_simhash_planted_pairs",
    oracle="""
    SELECT doc_id AS id_a, doc_id + 100000 AS id_b
    FROM documents WHERE doc_id < 200
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "simhash", "planted"),
)
def p14_simhash_planted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash value-check on a PLANTED corpus (the oracle for the
    operator p7 runs organically).

    Every token of each base doc is prefixed with its doc_id, so distinct
    docs share NO tokens and their simhashes are independent 64-bit draws
    (pairwise hamming ~32±4, nowhere near the threshold); each planted
    near-copy appends two fresh tokens to one base doc (jaccard ≈ 0.96 ⇒
    hamming ≤ 11 observed). n_chunks=16 makes candidate capture GUARANTEED
    to hamming 15 (pigeonhole), so at max_hamming=13 the output is
    EXACTLY the (base, planted) pairs — deterministic (fixed-key
    siphash; unrelated floor is hamming 15), and the oracle is a pure id
    projection. Checks both recall (every planted pair found) and
    precision (no unrelated pair sneaks under the bar) with
    value-checked rows."""
    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id").cast("string")
    pref = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
                lambda w: F.concat(F.lit("d"), did, F.lit("_"), w),
            ),
            " ",
        ).alias("text"),
    )
    planted = pref.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" d"), did, F.lit("_x1 d"), did, F.lit("_x2")
        ).alias("text"),
    )
    corpus = pref.unionByName(planted)
    return (
        simhash_pairs(corpus, max_hamming=13, n_chunks=16)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@register(
    "p15_near_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    ),
    losers AS (
      SELECT id FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
      WHERE id != cluster
    )
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)
    ORDER BY doc_id
    """,
    tags=("dedup", "cluster", "cc"),
)
def p15_near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: pair generation (exact Jaccard ≥ 0.5) →
    connected components (iterative min-label propagation, pure DataFrame
    rounds) → keep the min-id survivor per component. The standard final
    stage of a corpus dedup pipeline; the oracle recomputes the components
    with a recursive CTE, so transitive chains (a~b~c with a≁c) are
    value-checked, not just direct pairs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    return (
        dedup_near(docs, pairs, id_col="doc_id")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "p16_sequence_packing",
    oracle="""
    SELECT doc_id, lang, n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / 2048) AS BIGINT) AS pack_bin
    FROM (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '\\S+')) AS n_tok
      FROM documents
    )
    ORDER BY lang, doc_id
    """,
    tags=("text", "packing"),
)
def p16_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-language running token total
    over a deterministic order assigns each doc the 2048-token training
    sequence its first token lands in (assign_pack_bins). Per-group
    windows pack shards in parallel — the 100 TB posture (a global order
    would be a single-partition sort)."""
    docs = with_token_stats(load_table(spark, sf_dir, "documents"))
    packed = assign_pack_bins(
        docs.select("doc_id", "lang", F.col("n_ws_tokens").alias("n_tok")),
        budget=2048,
        token_col="n_tok",
        order_by="doc_id",
        by=["lang"],
    )
    return packed.select("doc_id", "lang", "n_tok", "pack_bin").orderBy("lang", "doc_id")


@register(
    "p19_sequence_packing_global",
    oracle="""
    SELECT doc_id, n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / 2048) AS BIGINT) AS pack_bin
    FROM (
      SELECT doc_id,
             len(regexp_extract_all(text, '\\S+')) AS n_tok
      FROM documents
    )
    ORDER BY doc_id
    """,
    tags=("text", "packing"),
)
def p19_sequence_packing_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL-order sequence packing via the hierarchical two-pass path:
    range-partition on the order key (each shard = an unbroken slice of
    the global order) → per-shard token totals → driver exclusive shard
    offsets → per-shard window + offset. Every shard sorts and scans in
    parallel; no single-partition sort anywhere — the value-checked proof
    that global concat-and-chunk packing scales."""
    docs = with_token_stats(load_table(spark, sf_dir, "documents"))
    packed = assign_pack_bins(
        docs.select("doc_id", F.col("n_ws_tokens").alias("n_tok")),
        budget=2048,
        token_col="n_tok",
        order_by="doc_id",
    )
    return packed.select("doc_id", "n_tok", "pack_bin").orderBy("doc_id")


@register(
    "p20_repetition_stats",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS word
      FROM documents
    ),
    topw AS (
      SELECT doc_id, MAX(c) AS top_count FROM (
        SELECT doc_id, COUNT(*) AS c FROM w GROUP BY doc_id, word
      ) GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_distinct(string_split(text, chr(10)))) AS n_dis,
             len(regexp_extract_all(lower(text), '\S+')) AS n_words,
             len(list_filter(regexp_extract_all(lower(text), '\S+'),
                             x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha
      FROM documents
    )
    SELECT b.doc_id,
           b.n_lines,
           CAST(FLOOR(((b.n_lines - b.n_dis) * 10000.0) / b.n_lines) AS BIGINT) AS dup_line_frac_e4,
           CAST(FLOOR((t.top_count * 10000.0) / b.n_words) AS BIGINT) AS top_word_frac_e4,
           CAST(FLOOR((b.n_alpha * 10000.0) / b.n_words) AS BIGINT) AS frac_alpha_words_e4
    FROM base b JOIN topw t USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("text", "quality", "repetition"),
)
def p20_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals, map-only: duplicate-line
    fraction (array_distinct on split lines), top-word fraction (the mode
    count via one array_sort + an O(w) run-length fold — never the O(w²)
    count-per-distinct form), alphabetic-word fraction. The DuckDB oracle
    computes the same mode via unnest+GROUP BY — a genuinely different
    algorithm agreeing value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        with_repetition_stats(docs)
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac_e4",
            "top_word_frac_e4",
            "frac_alpha_words_e4",
        )
        .orderBy("doc_id")
    )


@register(
    "p21_ngram_topk",
    oracle="""
    WITH w AS (
      SELECT regexp_extract_all(lower(text), '\\S+') AS ws FROM documents
    ),
    ng AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS ngram
      FROM w WHERE len(ws) >= 2
    )
    SELECT ngram, COUNT(*) AS cnt FROM ng
    GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50
    """,
    tags=("text", "vocab"),
)
def p21_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram census over the corpus (ngram_topk): in-row n-gram
    arrays (no python), one shuffle of (ngram, partial count) thanks to
    map-side combine, global top-k as TakeOrderedAndProject — the
    vocabulary/boilerplate-phrase tool. Deterministic total order
    (count desc, ngram asc) makes the k-cut engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_topk(docs, n=2, k=50)


# 30% probe split of the 128-bit md5 space (Fraction(0.3) of 2^128, the
# hash_sample threshold contract) — identical string compare in DuckDB
_PROBE_THR = format(((1 << 128) * 3) // 10, "032x")

# per-language mixing rates for p23, as exact 128-bit thresholds (the
# hash_sample Fraction contract, mirrored into the oracle's CASE)
from fugue_spark.operators.sampling import _md5_threshold

_MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
_MIX_THRS = {s: _md5_threshold(r) for s, r in _MIX_RATES.items()}
_MIX_CASE = "CASE " + " ".join(
    f"WHEN lang = '{s}' THEN '{t}'" for s, t in sorted(_MIX_THRS.items())
) + " ELSE '0' END"


@register(
    "p23_stratified_mix",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < {_MIX_CASE}
    GROUP BY lang ORDER BY lang
    """,
    tags=("sample", "mixing"),
)
def p23_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing (hash_sample_stratified): a different deterministic
    sampling rate per language (en 50%, de 25%, fr 10%, everything else
    dropped) — the corpus-reweighting move when composing a training mix.
    Map-only CASE over the md5 threshold, engine-reproducible, summarized
    per stratum so the gate value-checks the exact surviving subset."""
    import fugue_spark.api as fa

    docs = load_table(spark, sf_dir, "documents")
    mixed = fa.hash_sample_stratified(docs, _MIX_RATES, ["doc_id"], "lang")
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "p22_ngram_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ws,
             md5(CAST(doc_id AS VARCHAR)) >= '{_PROBE_THR}' AS is_corpus
      FROM documents
    ),
    ngr AS (
      SELECT doc_id, is_corpus,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS ngram
      FROM base WHERE len(ws) >= 3
    ),
    corpus AS (SELECT DISTINCT ngram FROM ngr WHERE is_corpus),
    probe AS (SELECT doc_id, ngram FROM ngr WHERE NOT is_corpus)
    SELECT p.doc_id, COUNT(*) AS n_ngrams, COUNT(c.ngram) AS n_hit,
           CAST(FLOOR(COUNT(c.ngram) * 10000.0 / COUNT(*)) AS BIGINT) AS overlap_e4
    FROM probe p LEFT JOIN corpus c USING (ngram)
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
    tags=("text", "contamination"),
)
def p22_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check (ngram_overlap): per probe document,
    the fraction of its distinct trigrams found anywhere in the corpus
    split — the decontamination signal of large-LM training reports. The
    corpus/probe split is the md5 hash_sample contract (engine-portable),
    so Spark and DuckDB compute the same split, the same distinct-ngram
    sets, and the same per-doc overlap."""
    docs = load_table(spark, sf_dir, "documents")
    is_corpus = F.md5(F.col("doc_id").cast("string")) >= F.lit(_PROBE_THR)
    return ngram_overlap(
        docs.filter(is_corpus), docs.filter(~is_corpus), n=3
    ).orderBy("doc_id")


@register(
    "p25_scrub_text",
    oracle=r"""
    WITH s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_url,
             len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
      FROM s1
    )
    SELECT doc_id, n_url, n_email,
           len(regexp_extract_all(t2, '[0-9]{7,}')) AS n_num,
           md5(regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g')) AS scrub_md5
    FROM s2 ORDER BY doc_id
    """,
    tags=("text", "scrub", "pii"),
)
def p25_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/identifier scrubbing (scrub_text): URLs, emails, long digit
    runs masked with typed tokens, per-category counts — map-only JVM
    regex at scan speed. The gate md5s the scrubbed text so the ENTIRE
    masked corpus is value-checked byte-for-byte against DuckDB applying
    the same RE2/Java-portable patterns in the same order."""
    from fugue_spark.pipeline import scrub_text

    docs = load_table(spark, sf_dir, "documents")
    return (
        scrub_text(docs)
        .select(
            "doc_id",
            "n_url",
            "n_email",
            "n_num",
            F.md5(F.col("scrubbed")).alias("scrub_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "p28_word_entropy",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS word
      FROM documents
    ),
    c AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word),
    n AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id)
    SELECT c.doc_id, MAX(n.n) AS n_words,
           CAST(SUM(CAST(FLOOR(c.c * ln(n.n / c.c) / n.n * 1000000) AS BIGINT)) AS BIGINT) AS entropy_e6
    FROM c JOIN n USING (doc_id)
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    tags=("text", "quality", "entropy"),
)
def p28_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-distribution Shannon entropy (with_word_entropy): the
    degenerate-text detector, computed in-row via one array_sort + an
    O(w) run-closing fold with per-term integer scaling (sum is an exact
    integer in any engine/order). The oracle computes the same entropy a
    genuinely different way — unnest + GROUP BY counts — and must agree
    term for term."""
    from fugue_spark.pipeline import with_word_entropy

    docs = load_table(spark, sf_dir, "documents")
    return (
        with_word_entropy(docs)
        .filter(F.col("n_words") > 0)
        .select("doc_id", "n_words", "entropy_e6")
        .orderBy("doc_id")
    )


@register(
    "p27_duplicate_spans",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(range(len(ws) - 7)) AS pos,
             unnest(list_transform(range(1, len(ws) - 6),
               i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS gram
      FROM w WHERE len(ws) >= 8
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
    h AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    lagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                      -1000000000) + 8 THEN 1 ELSE 0 END AS new_island
      FROM h
    ),
    m AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM lagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
           COUNT(*) AS n_windows
    FROM m GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
    tags=("text", "dedup", "spans"),
)
def p27_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication spans (duplicate_spans): maximal token
    ranges covered by 8-gram windows that also occur in another document —
    the exact-substring dedup signal (mask/cut spans instead of dropping
    documents). posexplode → distinct-doc census on the gram → one hash
    join back → gaps-and-islands merge per doc; value-checked against the
    identical windowed-SQL construction."""
    from fugue_spark.pipeline import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, n=8).orderBy("doc_id", "span_start")


@register(
    "p26_chunk_documents",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS ws,
             len(regexp_extract_all(text, '\S+')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, ws, n,
             CASE WHEN n > 64 THEN CAST(CEIL((n - 16) / 48.0) AS INT)
                  WHEN n > 0 THEN 1 ELSE 0 END AS n_chunks
      FROM w
    ),
    e AS (
      SELECT doc_id,
             unnest(range(n_chunks)) AS chunk_id,
             unnest(list_transform(range(n_chunks),
               i -> list_slice(ws, i * 48 + 1, least(i * 48 + 64, n)))) AS toks
      FROM c WHERE n_chunks > 0
    )
    SELECT doc_id, chunk_id, len(toks) AS n_chunk_tokens,
           array_to_string(toks, ' ') AS chunk_text
    FROM e ORDER BY doc_id, chunk_id
    """,
    tags=("text", "chunking"),
)
def p26_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (chunk_documents): 64-token windows with a
    16-token overlap — the RAG/pretraining splitting step. All in-row
    array ops (split → slice → posexplode), map-only and shuffle-free;
    the whole chunked corpus value-checks against DuckDB's list-slice
    construction."""
    from fugue_spark.pipeline import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_id"
    )


@register(
    "p24_tfidf_scores",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
    dl AS (SELECT doc_id, COUNT(*) AS n_words FROM w GROUP BY doc_id),
    dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    idf AS (
      SELECT word, CAST(FLOOR(ln(n_docs / df) * 1000000) AS BIGINT) AS idf_e6
      FROM dfq, nd
    ),
    per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_terms, SUM(t.tf * i.idf_e6) AS num_e6
      FROM tf t JOIN idf i USING (word) GROUP BY t.doc_id
    )
    SELECT p.doc_id, d.n_words, p.n_terms,
           CAST(FLOOR(p.num_e6 / d.n_words) AS BIGINT) AS tfidf_e6
    FROM per_doc p JOIN dl d USING (doc_id)
    ORDER BY p.doc_id
    """,
    tags=("text", "tfidf"),
)
def p24_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF distinctiveness score (tfidf_doc_scores):
    explode → (doc,word) and (word) aggregations → one word-keyed join,
    corpus size N on a 1-row broadcast. Integer-scaled idf (FLOOR of
    ln·1e6 per distinct word) keeps the cross-engine path to one ln and
    one division — value-checked against the same construction in DuckDB."""
    from fugue_spark.pipeline import tfidf_doc_scores

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_doc_scores(docs).orderBy("doc_id")


@register(
    "p17_corpus_length_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total,
           CAST(FLOOR(quantile_cont(n_chars, 0.5) * 100) AS BIGINT) AS p50_e2,
           CAST(FLOOR(quantile_cont(n_chars, 0.9) * 100) AS BIGINT) AS p90_e2,
           CAST(FLOOR(quantile_cont(n_chars, 0.99) * 100) AS BIGINT) AS p99_e2
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "stats", "quantile"),
)
def p17_corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length distribution (corpus_stats): count, total, and
    exact linear-interpolated quantiles — Spark ``percentile`` and DuckDB
    ``quantile_cont`` interpolate identically, so the gate is value-exact.
    ``approx=True`` (t-digest, mergeable one-pass sketch) is the 100 TB
    path, recall-tested in pytest instead."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats(docs, "n_chars", by=["lang"]).orderBy("lang")


@register(
    "p18_hash_sample",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '19999999999999999999999999999999'
    ORDER BY doc_id
    """,
    tags=("sample", "deterministic"),
)
def p18_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample keyed on doc_id (hash_sample): md5 is
    identical in every engine, so the SAME subset falls out of Spark and
    DuckDB — reproducible corpus subsets and leak-free keyed splits,
    value-checked (unlike q19's per-engine RNG sample)."""
    import fugue_spark.api as fa

    docs = load_table(spark, sf_dir, "documents")
    return fa.hash_sample(docs, 0.1, ["doc_id"]).select(
        "doc_id", "lang", "n_chars"
    ).orderBy("doc_id")


@register(
    "p8_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_e6('a.embedding', 'b.embedding')} AS cosine_e6
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_e6('a.embedding', 'b.embedding')} >= 400000
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "embedding"),
)
def p8_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.40 — the corpus has no
    true dups; this captures its closest-pair tail).

    Scale path: LSH candidate equi-join + exact cosine verify — no cross
    join in the plan. (p=5, T=64) is empirically full-recall at this
    threshold on sf0.001/0.01/0.1, so it matches the exact all-pairs
    oracle value-for-value; the driver compares against DuckDB all-pairs.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return near_duplicates_lsh(
        emb, threshold=0.4, n_planes=5, n_tables=64
    ).orderBy("id_a", "id_b")


@register(
    "p45_semantic_dedup",
    oracle=f"""
    WITH cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_e6('e.embedding', 'c.cvec')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    )
    SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cluster FROM assign a
    WHERE NOT EXISTS (
      SELECT 1 FROM assign b
      WHERE b.cid = a.cid AND b.vec_id < a.vec_id
        AND {_cos_e6('a.embedding', 'b.embedding')} >= 350000
    )
    ORDER BY vec_id
    """,
    tags=("dedup", "embedding", "semdedup"),
)
def p45_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic_dedup, first-k centroid mode): cluster the corpus
    with a deterministic coarse quantizer, drop every row shadowed by a
    lower-id same-cluster row at cosine ≥ 0.35 (the corpus has no true
    dups; the low threshold exercises the drop path on its similarity
    tail). The oracle replays the exact assignment + greedy prefix filter
    in SQL, so survivors AND their cluster ids are value-checked. Scale
    path: the pair probe is a self-equi-join on the cluster id — the
    quadratic is bounded by cluster size, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        semantic_dedup(emb, threshold=0.35, n_clusters=8)
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


@register(
    "p46_compact_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("io", "compaction"),
)
def p46_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (compact_dataset): documents is first
    scattered into 16 tiny files (the ingest pathology), compacted back
    into size-bounded files via the Hadoop-FS-sized rewrite, reloaded and
    aggregated. The oracle aggregates the ORIGINAL table — equality
    proves the compaction is lossless end-to-end."""
    import os
    import tempfile

    from fugue_spark.sources import load_df
    from fugue_spark.sources.compact import compact_dataset

    # pid in the scratch names: two processes gating the same sf must not
    # clobber each other's lazily-read output mid-scan
    tag = f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    src = os.path.join(tempfile.gettempdir(), f"fugue_spark_p46_{tag}_small.parquet")
    out = os.path.join(tempfile.gettempdir(), f"fugue_spark_p46_{tag}_compact.parquet")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(16).write.mode("overwrite").parquet(src)
    compact_dataset(spark, src, out, target_file_bytes=1 << 20)
    return (
        load_df(spark, out)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


@register(
    "p9_cosine_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine_e6, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos_e6('q.embedding', 'c.embedding')} AS cosine_e6,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_e6('q.embedding', 'c.embedding')} DESC, c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    ) WHERE rank <= 5
    """,
    tags=("similarity", "ann"),
    bench=True,
)
def p9_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 query vectors (the exact ANN
    baseline; the LSH variant is tested for recall against this)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk_bruteforce(emb, queries, k=5)


@register(
    "p10_media_meta",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
    FROM documents
    """,
    tags=("multimodal",),
)
def p10_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: pack text as a binary blob + typed metadata
    (JVM-side; the same path an image/audio column takes)."""
    docs = load_table(spark, sf_dir, "documents")
    media = as_media(docs, "text", mime="text/plain")
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
    )


@register(
    "p11_media_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, encode(text) AS blob, octet_length(encode(text)) AS n
      FROM documents
    ),
    s AS (  -- 8-bit PCM samples = blob bytes centered at 128 (WAV spec)
      SELECT doc_id, n,
             list_transform(range(1, n + 1),
               i -> (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) - 128) AS sm
      FROM (SELECT doc_id, n, lower(hex(blob)) AS h FROM b)
    )
    SELECT doc_id AS id, n + 44 AS n_bytes, n AS n_frames,
           8000 AS sample_rate, 1 AS n_channels,
           (n * 1000) // 8000 AS duration_ms,
           list_max(list_transform(sm, x -> abs(x))) AS peak,
           CAST(FLOOR(sqrt(
             list_reduce(list_transform(sm, x -> CAST(x * x AS BIGINT)), (p, q) -> p + q)
             / CAST(n AS DOUBLE)) * 100) AS BIGINT) AS rms_e2
    FROM s WHERE n > 0
    """,
    tags=("multimodal",),
)
def p11_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, value-checked: each document's bytes are packed
    as a spec-conformant 8-bit-PCM WAV (JVM-side RIFF assembly, pack_wav),
    then extract_features dispatches to the pure-python WAV decoder
    (codecs.decode_wav — chunk walk, fmt parse, PCM decode) on the map
    engine (transform._map_stream). The oracle re-derives every reported
    feature independently in DuckDB from the same source bytes
    (hex-parsed sample values for peak/RMS), so a decoder that misparses
    the header or payload fails the gate. PNG takes the same path
    (codecs.decode_png) — value-checked in pytest with all five scanline
    filters."""
    from fugue_spark.pipeline import pack_wav

    docs = load_table(spark, sf_dir, "documents")
    media = pack_wav(docs, "text", sample_rate=8000)
    feats = extract_features(media, id_col="doc_id", blob_col="blob", mime="audio/wav")
    return feats.filter(F.col("n_frames") > 0).select(
        "id", "n_bytes", "n_frames", "sample_rate", "n_channels",
        "duration_ms", "peak", "rms_e2",
    )


@register(
    "s1_streaming_windowed_agg",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "window"),
)
def s1_streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: Structured Streaming windowed aggregation driven
    to completion over the events table; the oracle is the equivalent
    BATCH query — stream/batch agreement is the correctness contract."""
    from fugue_spark import streaming as fs

    stream = fs.load_stream(spark, f"{sf_dir}/events.parquet", ts_nanos_col="ts")
    agg = fs.windowed_agg(
        stream,
        "ts",
        "1 hour",
        by=["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "value_cents": F.sum(F.round(F.col("value") * 100, 0).cast("long")),
        },
        watermark="1 minute",
    )
    out = fs.run_to_memory(agg, "s1_win")
    # window_start as a canonical string + total-order sort: the driver's
    # value hash is row-order- and rendering-sensitive across engines
    return out.select(
        F.date_format(
            F.col("window_start").cast("timestamp_ntz"), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "event_type",
        "n",
        "value_cents",
    ).orderBy("window_start", "event_type")


@register(
    "p12_embedding_norm_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(({_NORMV.format(a='embedding')}) * 10000) AS BIGINT)) AS BIGINT) AS norm_e4_sum
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    tags=("embedding", "array"),
)
def p12_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column math kept JVM-side (F.aggregate left fold over
    array<float>) — per-label L2-norm statistics."""
    from fugue_spark.pipeline.similarity import _norm

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("norm_e4", F.floor(_norm(F.col("embedding")) * 10000).cast("long"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("norm_e4").alias("norm_e4_sum"),
        )
        .orderBy("label")
    )


@register(
    "p13_training_data_pipeline",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, text, lang,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words
      FROM documents
      WHERE n_chars >= 100
    ),
    kept AS (
      SELECT doc_id, lang, n_words FROM (
        SELECT doc_id, lang, n_words,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(substr({_NORM}, 1, 40)) ORDER BY doc_id
               ) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "dedup", "text"),
    bench=True,
)
def p13_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline composition: length filter →
    prefix dedup (keep-first) → per-language token budget. One Catalyst
    plan: pushdown filter → window dedup (one shuffle on the fingerprint)
    → partial+final agg (one tiny shuffle on lang)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(F.col("n_chars") >= 100).withColumn(
        "n_words", F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+"), 0))
    )
    with_prefix = quality.withColumn(
        "prefix40",
        F.substring(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 40),
    )
    kept = dedup_exact(with_prefix, text_col="prefix40", id_col="doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
        )
        .orderBy("lang")
    )


@register(
    "p29_sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS nw
      FROM o
    ),
    s AS (
      SELECT user_id, ts, us,
             CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
      FROM f
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(us) AS start_us, MAX(us) AS end_us,
           CAST(FLOOR((MAX(us) - MIN(us)) / 1000000.0) AS BIGINT) AS duration_sec
    FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx
    """,
    tags=("events", "sessionize"),
)
def p29_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (session_stats): per-user sessions split at 30
    minutes of silence — gaps-and-islands over event time, one keyed
    window exchange, O(1) state per row. The batch twin of the streaming
    session windows; value-checked against DuckDB's windowed-SQL
    construction (deterministic (ts, event_id) order)."""
    from fugue_spark.pipeline import session_stats

    ev = load_table(spark, sf_dir, "events")
    out = session_stats(ev, ts_col="ts", gap_seconds=1800, by="user_id")
    us_start = F.unix_micros(F.col("session_start").cast("timestamp"))
    us_end = F.unix_micros(F.col("session_end").cast("timestamp"))
    return out.select(
        "user_id",
        "session_idx",
        "n_events",
        us_start.alias("start_us"),
        us_end.alias("end_us"),
        "duration_sec",
    ).orderBy("user_id", "session_idx")


@register(
    "s2_streaming_text_pipeline",
    oracle=r"""
    WITH s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_url,
             regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g') AS t2
      FROM s1
    )
    SELECT doc_id, n_url,
           len(regexp_extract_all(t2, '\S+')) AS n_ws_tokens,
           md5(regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g')) AS scrub_md5
    FROM s2 ORDER BY doc_id
    """,
    tags=("streaming", "text", "scrub"),
)
def s2_streaming_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: the text-curation operators applied to a FILE
    STREAM (scrub → token count over the scrubbed text), driven to
    completion — the oracle is the equivalent batch SQL, so stream/batch
    agreement is value-checked including the md5 of every scrubbed
    document. The same pure-column operators run unchanged on bounded and
    unbounded inputs; at scale this is the continuous-ingest curation
    path (file source → map-only transforms → sink, no state)."""
    from fugue_spark import streaming as fs
    from fugue_spark.pipeline import scrub_text, with_token_stats

    stream = fs.load_stream(
        spark, f"{sf_dir}/documents.parquet", format_hint="parquet"
    )
    enriched = with_token_stats(
        scrub_text(stream).withColumn("text", F.col("scrubbed"))
    ).select(
        "doc_id",
        "n_url",
        "n_ws_tokens",
        F.md5(F.col("scrubbed")).alias("scrub_md5"),
    )
    out = fs.run_to_memory(enriched, "s2_text", output_mode="append")
    return out.orderBy("doc_id")


@register(
    "p30_asof_join",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
         vv AS (SELECT event_id AS v_event_id, ts AS v_ts, value AS v_value,
                       user_id FROM events WHERE event_type = 'view')
    SELECT c.event_id, c.user_id,
           vv.v_event_id AS r_event_id,
           CAST(CASE WHEN vv.v_ts IS NULL THEN NULL
                ELSE epoch_us(c.ts) - epoch_us(vv.v_ts) END AS BIGINT) AS delta_us,
           CAST(FLOOR(COALESCE(vv.v_value, -1) * 100) AS BIGINT) AS r_value_e2
    FROM c ASOF LEFT JOIN vv
      ON c.user_id = vv.user_id AND c.ts >= vv.v_ts
    ORDER BY c.event_id
    """,
    tags=("events", "asof"),
)
def p30_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event picks up the most
    recent preceding 'view' by the same user — pandas merge_asof / DuckDB
    ASOF JOIN semantics, value-checked against DuckDB's NATIVE ASOF LEFT
    JOIN. Plan: tagged union + ONE exchange keyed on user_id + a running
    last(ignorenulls) window — no range join, so per-key event volume
    never goes quadratic (SCALE.md)."""
    from fugue_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(clicks, views, on="ts", by="user_id", direction="backward")
    return j.select(
        "event_id",
        "user_id",
        F.col("r_event_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp"))
        ).cast("long").alias("delta_us"),
        F.floor(F.coalesce(F.col("r_value"), F.lit(-1.0)) * 100).cast("long").alias("r_value_e2"),
    ).orderBy("event_id")


@register(
    "p31_range_join",
    oracle="""
    SELECT c.event_id, e.event_id AS err_id,
           CAST(epoch_us(c.ts) - epoch_us(e.ts) AS BIGINT) AS offset_us
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 10 MINUTE
    ORDER BY c.event_id, err_id
    """,
    tags=("events", "rangejoin"),
)
def p31_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): clicks landing inside any
    10-minute post-error window of the same user. Value-checked against
    DuckDB's plain BETWEEN join. Plan: bin timestamps (600 s bins), explode
    each interval over its ~2 covered bins, equi-join on (user_id, bin),
    exact re-check — co-binned pairs only, where Spark's own plan for a
    keyless/low-key range predicate is a nested-loop over all pairs
    (SCALE.md)."""
    from fugue_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    j = range_join(
        clicks, errors, point_col="ts", lo_col="lo", hi_col="hi",
        by="user_id", bin_width=600.0,
    )
    return j.select(
        "event_id",
        "err_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("lo").cast("timestamp"))
        ).cast("long").alias("offset_us"),
    ).orderBy("event_id", "err_id")


@register(
    "p32_time_rollup",
    oracle="""
    WITH lv AS (
      SELECT 'hour' AS granularity,
             strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents,
             CAST(MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_max_cents
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 'day',
             strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S'),
             event_type, COUNT(*),
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT),
             CAST(MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
      FROM events GROUP BY 2, 3
    )
    SELECT * FROM lv ORDER BY granularity, bucket_start, event_type
    """,
    tags=("events", "rollup"),
)
def p32_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup (pipeline/rollup.py): hour + day continuous
    aggregates per event_type, with the day level RE-AGGREGATED from the
    hour level (from_finest=True — raw events scanned once, the
    continuous-aggregate maintenance trade). Value-checked against DuckDB
    computing every level directly from the raw events, which proves the
    re-aggregation is lossless."""
    from fugue_spark.pipeline import time_rollup

    ev = load_table(spark, sf_dir, "events")
    out = time_rollup(
        ev, "ts", ["hour", "day"], by="event_type", value_col="value",
        from_finest=True,
    )
    return out.orderBy("granularity", "bucket_start", "event_type")


@register(
    "p33_audio_resample",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    s AS (  -- every 4th byte of the original = the decimated PCM, centered
      SELECT doc_id, n,
             list_transform(range(0, (n + 3) // 4),
               j -> (strpos('0123456789abcdef', substr(h, 8*j + 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 8*j + 2, 1)) - 1) - 128) AS sm
      FROM b
    )
    SELECT doc_id AS id, (n + 3) // 4 AS n_frames, 2000 AS sample_rate,
           list_max(list_transform(sm, x -> abs(x))) AS peak,
           CAST(FLOOR(sqrt(
             list_reduce(list_transform(sm, x -> CAST(x * x AS BIGINT)), (p, q) -> p + q)
             / CAST((n + 3) // 4 AS DOUBLE)) * 100) AS BIGINT) AS rms_e2
    FROM s
    """,
    tags=("multimodal", "audio"),
)
def p33_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling for audio, fully value-checked: pack bytes as WAV →
    resample_audio(factor=4) decodes the PCM, keeps every 4th frame, and
    re-encodes at 2 kHz → extract_features re-decodes the NEW blob. The
    oracle re-derives n_frames/peak/RMS of the decimated signal directly
    from every 4th source byte in DuckDB — a resampler that mangled the
    header, offset, or stride fails the gate."""
    from fugue_spark.pipeline import pack_wav, resample_audio

    docs = load_table(spark, sf_dir, "documents")
    media = pack_wav(docs, "text", sample_rate=8000)
    res = resample_audio(media, factor=4, id_col="doc_id")
    feats = extract_features(res, id_col="id", blob_col="blob", mime="audio/wav")
    return feats.filter(F.col("n_frames") > 0).select(
        "id", "n_frames", "sample_rate", "peak", "rms_e2"
    )


@register(
    "p34_winnowing_pairs",
    oracle=r"""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) AS hs
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w FROM documents)
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(hs) - 3),
                      i -> list_min(list_slice(hs, i, i + 3))))
                  WHEN len(hs) >= 1 THEN [list_min(hs)]
                  ELSE [] END AS fps
      FROM g
    ),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM sel)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY id_a, id_b
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def p34_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash fingerprint selection): 3-gram md5
    hashes, 4-hash sliding windows, keep each window's minimum, pair docs
    sharing >= 2 selected fingerprints — position-robust local-similarity
    detection (plagiarism / shared-boilerplate), value-checked against
    DuckDB computing the identical selection. In-row HOFs for selection
    (map-only) + the p5 inverted-index join shape for pairing (no
    all-pairs). The production entry point keeps a hot-fingerprint df cap;
    the gate disables it to mirror the oracle exactly."""
    from fugue_spark.pipeline import winnowing_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_pairs(
        docs, min_shared=2, k=3, w=4, max_fp_df=None
    ).orderBy("id_a", "id_b")


@register(
    "p35_jpeg_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    t AS (  -- the 16 tile values = source bytes cycled over a 4x4 grid
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> (strpos('0123456789abcdef', substr(h, 2*(i % n) + 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 2*(i % n) + 2, 1)) - 1)) AS tiles
      FROM b
    )
    SELECT doc_id AS id, 32 AS width, 32 AS height, 1 AS n_channels,
           1 AS n_frames,
           (list_reduce(tiles, (p, q) -> p + q) * 100) // 16 AS mean_e2
    FROM t
    """,
    tags=("multimodal", "image", "jpeg"),
)
def p35_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode, value-checked: each document's bytes are rendered
    as a baseline-JFIF grayscale image (pack_jpeg_tiles — 8x8 constant
    tiles, quality 100, so the lossy format round-trips EXACTLY: constant
    tiles are DC-only blocks and the DC quant step is 1), then
    extract_features dispatches to the pure-python JPEG decoder
    (codecs.decode_jpeg — marker walk, DQT/DHT build, per-MCU Huffman
    entropy decode, dequantize + IDCT). The oracle re-derives the decoded
    mean independently in DuckDB from the same source bytes, so a decoder
    that misparses tables, mispredicts DC, or misplaces blocks fails the
    gate. No reference counterpart (fugue has no media ops) — brief-driven
    training-data-pipeline surface."""
    from fugue_spark.pipeline import pack_jpeg_tiles

    docs = load_table(spark, sf_dir, "documents")
    media = pack_jpeg_tiles(docs, "text", grid=(4, 4), id_col="doc_id")
    feats = extract_features(media, id_col="id", blob_col="blob", mime="image/jpeg")
    return feats.select(
        "id", "width", "height", "n_channels", "n_frames", "mean_e2"
    )


@register(
    "p36_video_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    f AS (SELECT unnest([0, 2]) AS frame_idx),
    t AS (  -- frame f's 4 tile values = source bytes cycled from offset 4*f
      SELECT doc_id, frame_idx,
             list_transform(range(0, 4),
               i -> (strpos('0123456789abcdef', substr(h, 2*((4*frame_idx + i) % n) + 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 2*((4*frame_idx + i) % n) + 2, 1)) - 1)) AS tiles
      FROM b CROSS JOIN f
    )
    SELECT doc_id AS id, frame_idx, 16 AS width, 16 AS height,
           (list_reduce(tiles, (p, q) -> p + q) * 100) // 4 AS mean_e2
    FROM t
    """,
    tags=("multimodal", "video"),
)
def p36_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, value-checked: each document's bytes become a
    3-frame MJPEG-in-AVI (pack_avi_tiles — every frame a constant-tile
    grayscale JPEG, exact at quality 100), then video_frame_features walks
    the RIFF container, keeps every 2nd frame (indices 0 and 2), and fully
    decodes each kept frame (per-MCU Huffman + IDCT). The oracle re-derives
    every kept frame's decoded mean independently in DuckDB from the same
    source bytes — a decoder that misparses the container, drops/reorders
    frames, or misdecodes JPEG fails the gate. No reference counterpart
    (fugue has no media ops) — brief-driven training-data-pipeline
    surface."""
    from fugue_spark.pipeline import pack_avi_tiles, video_frame_features

    docs = load_table(spark, sf_dir, "documents")
    media = pack_avi_tiles(docs, "text", n_frames=3, grid=(2, 2), id_col="doc_id")
    return video_frame_features(media, every_n=2, id_col="id", blob_col="blob")


@register(
    "s3_stream_static_join",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY window_start, segment
    """,
    tags=("streaming", "join", "window"),
)
def s3_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: STREAM-STATIC JOIN — the continuous-enrichment
    pattern (event stream joined to a broadcast reference dim, then
    windowed aggregation with a watermark), driven to completion; the
    oracle is the equivalent batch join+agg, so stream/batch agreement is
    the correctness contract. At scale the dim is broadcast once per
    micro-batch — the stream side never shuffles for the join."""
    from fugue_spark import streaming as fs

    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = fs.load_stream(spark, f"{sf_dir}/events.parquet", ts_nanos_col="ts")
    joined = stream.join(dim, on="user_id", how="inner")
    agg = fs.windowed_agg(
        joined,
        "ts",
        "1 hour",
        by=["segment"],
        aggs={
            "n": F.count(F.lit(1)),
            "value_cents": F.sum(F.round(F.col("value") * 100, 0).cast("long")),
        },
        watermark="1 minute",
    )
    out = fs.run_to_memory(agg, "s3_join")
    return out.select(
        F.date_format(
            F.col("window_start").cast("timestamp_ntz"), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "segment",
        "n",
        "value_cents",
    ).orderBy("window_start", "segment")


@register(
    "p37_sample_per_key",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(concat_ws(chr(31), 's1', CAST(doc_id AS VARCHAR))), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
    tags=("sampling", "per-key"),
)
def p37_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key deterministic uniform sampling (the reservoir-sample
    replacement): exactly 20 documents per language, chosen by ranking on
    md5(seed + doc_id) — a pure function of row content, so the SAME rows
    fall out of Spark and DuckDB (the oracle computes the identical
    ranking) and of any partitioning or rerun. One keyed window exchange;
    at 100 TB this is the per-domain corpus down-sampling primitive."""
    from fugue_spark.operators.sampling import sample_per_key

    docs = load_table(spark, sf_dir, "documents")
    out = sample_per_key(docs, 20, by="lang", id_cols=["doc_id"], seed="s1")
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


@register(
    "p38_cross_corpus_neardup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, n_sh, g FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(w) - 2, 0)),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2])
               )) AS grams
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
      ), LATERAL (SELECT len(grams) AS n_sh), UNNEST(grams) AS t(g)
      WHERE len(grams) > 0
    )
    SELECT a.id AS probe_id, b.id AS corpus_id,
           CAST(FLOOR((COUNT(*) * 10000) / (MAX(a.n_sh) + MAX(b.n_sh) - COUNT(*))) AS BIGINT) AS jaccard_e4
    FROM sh a JOIN sh b ON a.g = b.g AND a.id % 10 = 0 AND b.id % 10 <> 0
    GROUP BY a.id, b.id
    HAVING CAST(FLOOR((COUNT(*) * 10000) / (MAX(a.n_sh) + MAX(b.n_sh) - COUNT(*))) AS BIGINT) >= 5000
    ORDER BY probe_id, corpus_id
    """,
    tags=("dedup", "minhash", "lsh", "decontamination"),
)
def p38_cross_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus fuzzy decontamination: MinHash+LSH pairs between a probe
    split (doc_id % 10 == 0, standing in for an eval benchmark) and the rest
    of the corpus (training data). Same capture argument as p6: the
    exact-verify stage makes the output ⊆ exact cross pairs, and the test
    corpora's cross pairs sit at j ≥ 0.95 (16 bands × r=4 ⇒ capture ≈ 1), so
    the LSH output EQUALS the exact all-cross-pairs oracle."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_pairs_against(
        probe, corpus, threshold=0.5, num_hashes=64, bands=16, n=3
    ).orderBy("probe_id", "corpus_id")


@register(
    "p39_gopher_filters",
    oracle="""
    WITH d0 AS (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
    ), f AS (
      SELECT doc_id,
             CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(string_split(regexp_replace(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g'), ' ')) END AS n_words,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_wchars,
             len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_filter(string_split(text, chr(10)),
                 x -> regexp_matches(x, '^\\s*[-*•]'))) AS n_bullet,
             len(list_filter(string_split(text, chr(10)),
                 x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS n_ell,
             CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(list_filter(string_split(regexp_replace(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g'), ' '),
                           x -> regexp_matches(x, '[A-Za-z]'))) END AS n_alpha,
             (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bhave\\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END) AS n_stop
      FROM d0
    ), g AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS f_word_count,
             CASE WHEN n_words > 0 AND n_wchars >= 3 * n_words AND n_wchars <= 10 * n_words THEN 1 ELSE 0 END AS f_mean_word_len,
             CASE WHEN n_sym * 10 <= n_words THEN 1 ELSE 0 END AS f_symbol_ratio,
             CASE WHEN n_bullet * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS f_bullet_lines,
             CASE WHEN n_ell * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS f_ellipsis_lines,
             CASE WHEN n_words > 0 AND n_alpha * 5 >= n_words * 4 THEN 1 ELSE 0 END AS f_alpha_words,
             CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS f_stopwords
      FROM f
    )
    SELECT doc_id, n_words, f_word_count, f_mean_word_len, f_symbol_ratio,
           f_bullet_lines, f_ellipsis_lines, f_alpha_words, f_stopwords,
           f_word_count * f_mean_word_len * f_symbol_ratio * f_bullet_lines
             * f_ellipsis_lines * f_alpha_words * f_stopwords AS gopher_pass
    FROM g ORDER BY doc_id
    """,
    tags=("text", "quality", "gopher"),
)
def p39_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher rule-based quality filters as integer 0/1 flags
    (word count, mean word length, symbol ratio, bullet/ellipsis lines,
    alpha-word fraction, stop-word presence) — map-only native expressions,
    value-checked flag-for-flag against the DuckDB mirror."""
    from fugue_spark.pipeline import with_gopher_flags

    docs = load_table(spark, sf_dir, "documents")
    # min_stopwords=1: the synthetic corpus vocabulary contains at most one
    # of the 8 Gopher stop words, so the published threshold of 2 would zero
    # the whole pass column and hide regressions in every other flag
    out = with_gopher_flags(docs, min_stopwords=1)
    return out.select(
        "doc_id", "n_words", "f_word_count", "f_mean_word_len", "f_symbol_ratio",
        "f_bullet_lines", "f_ellipsis_lines", "f_alpha_words", "f_stopwords",
        "gopher_pass",
    ).orderBy("doc_id")


@register(
    "s4_stream_dedup",
    oracle="""
    SELECT DISTINCT lang, source FROM documents
    ORDER BY lang, source
    """,
    tags=("streaming", "dedup", "stateful"),
)
def s4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via applyInPandasWithState, driven to
    completion and value-checked against batch DISTINCT: first row per
    (lang, source) key — a coarse key with many duplicates per group, so
    the emit-once state logic does real dropping (500 rows -> ~a dozen at
    sf0.01). The output projects ONLY the state key columns, so the result
    is deterministic regardless of which duplicate arrives first within a
    microbatch — the stateful-op plumbing (state store, per-key flags,
    emit-once) is what the gate pins down."""
    from fugue_spark import streaming as fs

    stream = fs.load_stream(
        spark, f"{sf_dir}/documents.parquet", format_hint="parquet"
    )
    keyed = stream.select("lang", "source")
    deduped = fs.stream_dedup_exact(keyed, keys=["lang", "source"])
    out = fs.run_to_memory(deduped, "s4_dedup", output_mode="append")
    return out.orderBy("lang", "source")


@register(
    "s5_stream_session_agg",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS nw
      FROM o
    ),
    s AS (
      SELECT user_id, us,
             SUM(nw) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           MIN(us) AS start_us,
           MAX(us) + 1800000000 AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid ORDER BY user_id, start_us
    """,
    tags=("streaming", "sessions", "stateful"),
)
def s5_stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION WINDOWS (dynamic-length, gap-closed) driven to
    completion and value-checked against the batch gaps-and-islands
    construction (p29's oracle shape): Spark's session_window(ts, 30 min)
    must produce exactly the sessions that LAG+running-sum SQL derives —
    start = first event, end = last event + gap, count = events. The
    stream≡batch equivalence contract for the stateful session operator."""
    from fugue_spark import streaming as fs

    stream = fs.load_stream(spark, f"{sf_dir}/events.parquet", ts_nanos_col="ts")
    agg = fs.session_agg(
        stream,
        "ts",
        "30 minutes",
        by=["user_id"],
        aggs={"n_events": F.count(F.lit(1))},
        watermark="1 minute",
    )
    out = fs.run_to_memory(agg, "s5_sess")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        "n_events",
    ).orderBy("user_id", "start_us")


@register(
    "p40_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             least(greatest(CAST(n_chars AS DOUBLE) / 500.0, 0.0), 1.0) AS wt
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM w
    WHERE wt >= 1.0
       OR substr(md5(concat_ws(chr(31), 'w1', CAST(doc_id AS VARCHAR))), 1, 15)
          < printf('%015x', CAST(FLOOR(wt * 1152921504606846976.0) AS BIGINT))
    ORDER BY doc_id
    """,
    tags=("sampling", "weighted", "curation"),
)
def p40_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: each document kept with
    probability proportional to its length score (clamped to 1), decided
    by md5 — not an RNG — so the oracle reproduces the EXACT same subset
    (hex-threshold compare, engine-portable). The quality-proportional
    corpus selection primitive."""
    from fugue_spark.operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents").withColumns(
        {
            "__seed__": F.lit("w1"),
            "wt": F.least(
                F.greatest(F.col("n_chars").cast("double") / 500.0, F.lit(0.0)),
                F.lit(1.0),
            ),
        }
    )
    out = weighted_hash_sample(docs, "wt", key_cols=["__seed__", "doc_id"])
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@register(
    "p41_budget_selection",
    oracle="""
    WITH o AS (
      SELECT doc_id, lang, n_chars,
             (100000 - n_chars) * 1000000 + doc_id AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING) AS cum
      FROM o
    )
    SELECT doc_id, lang, n_chars FROM c WHERE cum <= 50000 ORDER BY doc_id
    """,
    tags=("curation", "budget", "mixing"),
)
def p41_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: walk documents best-first (longest
    doc first, id tiebreak — a deterministic total order) and keep rows
    while the INCLUSIVE running size fits a 50k-char budget. The global
    running sum is the hierarchical two-pass (range shards + driver
    offsets) — no single-partition sort at any corpus size; value-checked
    against DuckDB's global-window construction."""
    from fugue_spark.pipeline import select_until_budget

    # project BEFORE the hierarchical pass: its range shuffle + checkpoint
    # materialize whatever columns they are handed (the checkpoint severs
    # lineage, so Catalyst cannot prune later) — shipping the document
    # bodies through it would be ~100x the bytes for a 3-column answer
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.lit(100000) - F.col("n_chars")) * 1000000 + F.col("doc_id")).alias(
            "__ord__"
        ),
    )
    out = select_until_budget(
        docs, budget=50_000, size_col="n_chars", order_by="__ord__"
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@register(
    "p42_temperature_mix",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT MIN(n) AS n_min FROM c),
         r AS (SELECT lang,
                      FLOOR(POWER(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE), 0.5)
                            * 1000000000) / 1000000000 AS w
               FROM c, m)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
    WHERE w >= 1.0
       OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
          < printf('%015x', CAST(FLOOR(w * 1152921504606846976.0) AS BIGINT))
    ORDER BY doc_id
    """,
    tags=("curation", "mixing", "sampling"),
)
def p42_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language rebalancing (alpha=0.5): downsample
    each language so kept sizes follow n**0.5, anchored at the smallest
    language (kept whole). Rates use only min/divide/pow — no cross-
    stratum float sum — and selection is the md5 construction, so the
    oracle derives the identical subset from the identical counts. The
    per-stratum count collect is bounded by the number of languages;
    the data pass itself is map-only (one CASE + md5 filter)."""
    from fugue_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_mix(docs, "lang", alpha=0.5, key_cols=["doc_id"])
    return out.select("doc_id", "lang").orderBy("doc_id")


@register(
    "p43_mixture_budgets",
    oracle="""
    WITH c AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY lang
               ORDER BY (100000 - n_chars) * 1000000 + doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM c
    WHERE cum <= CASE lang
        WHEN 'en' THEN 12000 WHEN 'de' THEN 4500 WHEN 'es' THEN 4500
        WHEN 'fr' THEN 4500 WHEN 'zh' THEN 4500 ELSE 0 END
    ORDER BY doc_id
    """,
    tags=("curation", "budget", "mixing"),
)
def p43_mixture_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-weights mixture under per-language char budgets (en 40%,
    others 15% of a 30k-char target), best-doc-first within each language
    (longest first, id tiebreak — deterministic total order). ONE keyed
    window exchange; budgets are a CASE of literals. Integer running
    sums — exact in any engine, any partitioning."""
    from fugue_spark.pipeline import select_until_budgets

    total = 30_000
    weights = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
    budgets = {lang: int(total * w) for lang, w in weights.items()}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.lit(100000) - F.col("n_chars")) * 1000000 + F.col("doc_id")).alias(
            "__ord__"
        ),
    )
    out = select_until_budgets(
        docs, budgets, strata_col="lang", size_col="n_chars", order_by="__ord__"
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@register(
    "p44_mixture_report",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT MIN(n) AS n_min FROM c),
         r AS (SELECT lang,
                      FLOOR(POWER(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE), 0.5)
                            * 1000000000) / 1000000000 AS w
               FROM c, m),
         kept AS (
           SELECT d.doc_id, d.lang, d.n_chars
           FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
           WHERE w >= 1.0
              OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                 < printf('%015x', CAST(FLOOR(w * 1152921504606846976.0) AS BIGINT))
         ),
         b AS (
           SELECT lang AS stratum, COUNT(*) AS n_before,
                  CAST(SUM(n_chars) AS BIGINT) AS sz_before
           FROM documents GROUP BY lang
         ),
         a AS (
           SELECT lang AS stratum, COUNT(*) AS n_after,
                  CAST(SUM(n_chars) AS BIGINT) AS sz_after
           FROM kept GROUP BY lang
         )
    SELECT b.stratum, b.n_before, b.sz_before,
           CAST((b.n_before * 1000000) // (SUM(b.n_before) OVER ()) AS BIGINT) AS share_before_e6,
           COALESCE(a.n_after, 0) AS n_after,
           COALESCE(a.sz_after, 0) AS sz_after,
           CAST(COALESCE((a.n_after * 1000000) // (SUM(a.n_after) OVER ()), 0) AS BIGINT) AS share_after_e6,
           CAST(COALESCE(a.n_after, 0) * 1000000 // b.n_before AS BIGINT) AS keep_rate_e6
    FROM b LEFT JOIN a ON b.stratum IS NOT DISTINCT FROM a.stratum
    ORDER BY b.stratum NULLS FIRST
    """,
    tags=("curation", "mixing", "report"),
)
def p44_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before/after mixing report over the p42 temperature rebalance:
    per-language doc counts, char totals, corpus shares and keep rates —
    ALL integer-scaled (x*1e6 div total on longs), so the report is exact
    in any engine at any partitioning. Aggregations are map-side combined;
    the window total runs over the #languages-row agg frames."""
    from fugue_spark.operators.sampling import temperature_mix
    from fugue_spark.pipeline import mixture_report

    docs = load_table(spark, sf_dir, "documents")
    after = temperature_mix(docs, "lang", alpha=0.5, key_cols=["doc_id"])
    return mixture_report(docs, after, strata_col="lang", size_col="n_chars")
