"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference capability (BASELINE.json north star): language-ID,
quality scoring, token counting, document fingerprinting — every operator
is pure ``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd, zero
Python in the hot path), so it runs at scan speed on any data volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fugue_spark.session import plan_fits

__all__ = [
    "with_token_stats",
    "with_quality_score",
    "with_gopher_flags",
    "with_lang_id",
    "with_fingerprint",
    "ngram_topk",
    "ngram_overlap",
    "tfidf_doc_scores",
    "scrub_text",
    "chunk_documents",
    "duplicate_spans",
    "with_word_entropy",
    "winnowing_fingerprints",
    "winnowing_pairs",
    "mixture_report",
    "select_until_budget",
    "select_until_budgets",
    "LANG_MARKERS",
]

# PII / boilerplate scrub patterns — deliberately engine-portable regex
# (no lookaround, no \b): Java regex (Spark) and RE2 (DuckDB and most
# scale-out engines) both accept these verbatim, so a scrubbed corpus is
# reproducible across stacks.
SCRUB_PATTERNS: "list[tuple[str, str, str]]" = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("num", r"[0-9]{7,}", "<NUM>"),
]

# A BPE-ish pre-tokenization: word pieces, numbers, or single non-space
# symbols (the GPT-2 pre-tokenizer shape, simplified to an engine-portable
# character-class regex).
_BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_WORD_RE = r"[A-Za-z]+"
_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,it,that,for,on,as,with,was,at,by,be,this"
).split(",")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_ws_tokens`` (whitespace tokenization) and ``n_bpe_tokens``
    (regex pre-tokenization à la BPE pre-tokenizers).

    The BPE count is computed in split form — #alpha runs + #digit runs
    (two single-class regexes) + #other non-space chars (translate length
    arithmetic) — which equals the 3-way alternation count exactly: the
    alternation matches maximal runs of each class and every remaining
    non-space char alone. The alternation regex was the whole cost of this
    operator (8.0 s -> 2.1 s at sf10, scripts/expr_variants.py p1);
    equality re-proved corpus-wide at sf0.1/sf1/sf10 (0 mismatching rows)
    plus the oracle gates."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(ws)
    n = F.length(t)
    c_alpha = n - F.length(F.translate(t, _ASCII_LETTERS, ""))
    c_digit = n - F.length(F.translate(t, "0123456789", ""))
    c_ws = n - F.length(F.translate(t, " \t\n\x0b\f\r", ""))
    bpe = (
        F.regexp_count(t, F.lit(r"[A-Za-z]+"))
        + F.regexp_count(t, F.lit(r"[0-9]+"))
        + (n - c_alpha - c_digit - c_ws)
    )
    return df.withColumns({"n_ws_tokens": ws, "n_bpe_tokens": bpe})


def _stopword_count(t: Column) -> Column:
    pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(pat), 0))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + a 0..1 composite score.

    Features follow the common pretraining-filter recipe (C4/Gopher-style
    length, symbol-ratio and stopword signals), each computed as an exact
    integer count so the score is engine-reproducible: word count, mean
    word length (×100, int), punctuation count, stopword count.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.regexp_extract_all(t, F.lit(_WORD_RE), 0)
    n_words = F.size(words)
    # single-char-class counts via translate (delete the class, diff the
    # lengths): no regex engine and no match-array allocation on the two
    # hottest counts — measured 2.15 s -> 1.92 s for the feature block at
    # sf10 (scripts/expr_variants.py p2); exact for literal char sets
    word_chars = n_chars - F.length(F.translate(t, _ASCII_LETTERS, ""))
    n_punct = n_chars - F.length(F.translate(t, ".,;:!?", ""))
    n_stop = _stopword_count(t)
    # integer-scaled ratios (see queries: cross-engine float discipline)
    mean_word_len_e2 = F.when(n_words > 0, (word_chars * 100) / n_words).otherwise(F.lit(0.0))
    stop_ratio_e4 = F.when(n_words > 0, (n_stop * 10000) / n_words).otherwise(F.lit(0.0))
    punct_ratio_e4 = F.when(n_chars > 0, (n_punct * 10000) / n_chars).otherwise(F.lit(0.0))
    quality = (
        F.when((n_words >= 10) & (n_words <= 100000), F.lit(1)).otherwise(F.lit(0))
        + F.when(n_stop * 100 >= n_words * 2, F.lit(1)).otherwise(F.lit(0))  # ≥2% stopwords
        + F.when(n_punct * 100 <= n_chars * 20, F.lit(1)).otherwise(F.lit(0))  # ≤20% punct
        + F.when((word_chars >= n_chars * 1 / 2), F.lit(1)).otherwise(F.lit(0))  # mostly letters
    )
    return df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len_e2": mean_word_len_e2,
            "stop_ratio_e4": stop_ratio_e4,
            "punct_ratio_e4": punct_ratio_e4,
            "quality_score": quality,
        }
    )


# The 8 high-frequency words of the published Gopher rule ("contains at
# least 2 of ..."; Rae et al. 2021, §A1.1 quality-filter heuristics)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def with_gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_stopwords: int = 2,
) -> DataFrame:
    """The published Gopher rule-based quality filters (Rae et al. 2021,
    §A1.1), each as an integer-arithmetic 0/1 flag so the result is exactly
    reproducible across engines (counts and cross-multiplications only —
    no float ratios):

    * ``f_word_count``     — word count in [min_words, max_words]
    * ``f_mean_word_len``  — mean word length in [min, max] chars
    * ``f_symbol_ratio``   — (# of '#' + '…'/'...') ≤ 0.1 × words
    * ``f_bullet_lines``   — ≤ 90% of lines start with a bullet
    * ``f_ellipsis_lines`` — ≤ 30% of lines end with an ellipsis
    * ``f_alpha_words``    — ≥ 80% of words contain a letter
    * ``f_stopwords``      — ≥ min_stopwords distinct words of the 8-word
      list present (Gopher's published threshold is 2)
    * ``gopher_pass``      — AND of the seven flags

    Map-only native column expressions — scan speed at any corpus size; the
    word split matches :func:`corpus_stats` (whitespace tokens of trimmed
    text).
    """
    # NULL text counts as empty (flags 0, never NULL — a NULL row must not
    # silently pass or poison the AND-composed gopher_pass)
    t = F.coalesce(F.col(text_col), F.lit(""))
    # strip ALL leading/trailing whitespace before splitting: F.trim strips
    # spaces only, so a leading tab/newline would otherwise produce a
    # phantom empty first token that skews n_words and f_alpha_words
    stripped = F.regexp_replace(t, r"^\s+|\s+$", "")
    words = F.split(stripped, r"\s+")
    n_words = F.when(F.length(stripped) == 0, F.lit(0)).otherwise(F.size(words))
    # sum of word lengths == non-whitespace chars
    n_wchars = F.length(F.regexp_replace(t, r"\s+", ""))
    n_sym = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\.|…"), 0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
    n_ell = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha = F.size(F.filter(words, lambda x: x.rlike(r"[A-Za-z]")))
    n_stop = sum(
        F.when(F.lower(t).rlike(rf"\b{w}\b"), F.lit(1)).otherwise(F.lit(0))
        for w in _GOPHER_STOPWORDS
    )
    b = lambda c: c.cast("int")  # noqa: E731
    f_wc = b((n_words >= min_words) & (n_words <= max_words))
    f_mwl = b(
        (n_words > 0)
        & (n_wchars >= min_mean_word_len * n_words)
        & (n_wchars <= max_mean_word_len * n_words)
    )
    f_sym = b(n_sym * 10 <= n_words)
    f_bul = b(n_bullet * 10 <= n_lines * 9)
    f_ell = b(n_ell * 10 <= n_lines * 3)
    f_alpha = b((n_words > 0) & (n_alpha * 5 >= n_words * 4))
    f_stop = b(n_stop >= min_stopwords)
    return df.withColumns(
        {
            "n_words": n_words,
            "f_word_count": f_wc,
            "f_mean_word_len": f_mwl,
            "f_symbol_ratio": f_sym,
            "f_bullet_lines": f_bul,
            "f_ellipsis_lines": f_ell,
            "f_alpha_words": f_alpha,
            "f_stopwords": f_stop,
            "gopher_pass": f_wc * f_mwl * f_sym * f_bul * f_ell * f_alpha * f_stop,
        }
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, map-only JVM expressions:

    * ``n_lines`` / ``dup_line_frac_e4`` — fraction of lines that are
      duplicates of an earlier line (boilerplate/navigation detector);
    * ``top_word_frac_e4`` — share of the most frequent word among all
      words (degenerate keyword-stuffing detector);
    * ``frac_alpha_words_e4`` — fraction of words containing a letter.

    Ratios are integer-scaled (×10⁴) for cross-engine reproducibility.
    At 100 TB this is scan-speed: no shuffle, no Python; the per-word work
    uses array HOFs on already-split arrays (bounded by document length).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_dis_lines = F.size(F.array_distinct(lines))
    dup_line_frac_e4 = F.when(
        n_lines > 0, F.floor(((n_lines - n_dis_lines) * 10000) / n_lines).cast("long")
    ).otherwise(F.lit(0).cast("long"))

    words = F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0)
    n_words = F.size(words)
    # mode count = longest equal-run of the SORTED word array: one C++
    # array_sort then a single O(w) interpreted fold — never the O(w²)
    # count-per-distinct-word form (higher-order lambdas are interpreted
    # per element; see _shingles for the same lesson). Stays entirely
    # inside the row: no explode, no shuffle.
    sorted_words = F.array_sort(words)
    run_acc = F.aggregate(
        sorted_words,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_word_frac_e4 = F.when(
        n_words > 0, F.floor((run_acc * 10000) / n_words).cast("long")
    ).otherwise(F.lit(0).cast("long"))

    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    frac_alpha_words_e4 = F.when(
        n_words > 0, F.floor((alpha_words * 10000) / n_words).cast("long")
    ).otherwise(F.lit(0).cast("long"))

    return df.withColumns(
        {
            "n_lines": n_lines,
            "dup_line_frac_e4": dup_line_frac_e4,
            "top_word_frac_e4": top_word_frac_e4,
            "frac_alpha_words_e4": frac_alpha_words_e4,
        }
    )


# marker stopwords per language — deterministic argmax with fixed precedence
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "es": ["el", "los", "las", "una", "es"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/marker-word language ID: count per-language marker words,
    take the argmax (precedence en>de>fr>es on ties, 'und' = undetermined
    when no marker hits); any CJK character short-circuits to 'zh'."""
    t = F.lower(F.col(text_col))
    scores = {
        lang: F.size(
            F.regexp_extract_all(t, F.lit(r"\b(" + "|".join(ws) + r")\b"), 0)
        )
        for lang, ws in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(_LANG_ORDER):  # earlier langs win ties (>=)
        best = F.when(scores[lang] >= best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, scores[lang])
    # presence test, not a count: rlike short-circuits at the first CJK
    # char instead of materializing every match
    has_cjk = t.rlike(r"[一-鿿]")
    pred = F.when(has_cjk, F.lit("zh")).otherwise(
        F.when(best_score > 0, best).otherwise(F.lit("und"))
    )
    return df.withColumn("lang_pred", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic 128-bit content fingerprint of the *normalized* text
    (lowercase, collapsed whitespace) — the exact-dedup key. md5 is
    engine-portable; xxhash64 is the cheaper Spark-only alternative."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm))


def _word_ngrams(t: Column, n: int) -> Column:
    """Array of word ``n``-grams of the lowercased text: whitespace
    tokenization (the ``\\S+`` convention shared with with_token_stats),
    adjacent words joined by a single space. Rows shorter than ``n`` words
    yield an empty array (the WHEN guard also keeps ``sequence`` from
    generating a descending range). Entirely in-row array HOFs — no
    explode, no shuffle, scan speed."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0)
    if n == 1:
        return w
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_topk(
    df: DataFrame,
    n: int = 2,
    k: int = 50,
    text_col: str = "text",
    by: "list[str] | None" = None,
) -> DataFrame:
    """Top-``k`` word n-grams by corpus frequency — the vocabulary /
    boilerplate-phrase census every curation pass wants.

    Output: ``(by...,) ngram, cnt`` — deterministic total order
    (count desc, ngram asc) so the cut at ``k`` is engine-reproducible.

    At 100 TB: explode → ``groupBy(ngram).count`` is one shuffle carrying
    (ngram, partial count) — map-side partial aggregation collapses
    repeated n-grams before the exchange. The global top-k compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort); the
    per-group variant is a bounded window over the already-aggregated
    counts."""
    grams = _word_ngrams(F.col(text_col), n)
    keys = list(by or [])
    ex = df.select(*keys, F.explode(grams).alias("ngram"))
    counts = ex.groupBy(*keys, "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    if keys:
        w = Window.partitionBy(*keys).orderBy(
            F.col("cnt").desc(), F.col("ngram").asc()
        )
        return (
            counts.withColumn("__rank__", F.row_number().over(w))
            .filter(F.col("__rank__") <= k)
            .drop("__rank__")
        )
    return counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(k)


def ngram_overlap(
    corpus: DataFrame,
    probe: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    join_on_hash: bool = False,
) -> DataFrame:
    """Contamination check: for every probe document, the fraction of its
    DISTINCT word n-grams that occur anywhere in the corpus — the standard
    train/test decontamination signal (n-gram overlap against the training
    set, à la the 13-gram checks of large-LM training reports).

    Output per probe doc: ``id_col, n_ngrams, n_hit, overlap_e4``
    (integer-scaled ratio). Probe docs with fewer than ``n`` words have no
    n-grams and are absent from the output (no 0/0 row).

    At 100 TB: the corpus side reduces to DISTINCT n-grams (map-side
    partial dedup before the exchange), the probe side to per-doc distinct
    n-grams; one equi-join on the n-gram keyed by hash partitioning — no
    broadcast needed on either side, both sides prunable to a single
    column. ``join_on_hash=True`` joins on ``xxhash64(ngram)`` instead of
    the string — ~8 bytes/key on the wire instead of the n-gram text
    (collision odds 2^-64 per pair; not engine-portable, so the
    differential gate uses the string form)."""
    key = F.xxhash64(F.col("ngram")).alias("__k__") if join_on_hash else F.col("ngram").alias("__k__")
    cg = (
        corpus.select(
            F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("ngram")
        )
        .select(key)
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    pg = probe.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("ngram"),
    ).select(id_col, key)
    joined = pg.join(cg, "__k__", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("__hit__").alias("n_hit"),
        )
        .withColumn(
            "overlap_e4",
            F.floor(F.col("n_hit") * 10000 / F.col("n_ngrams")).cast("long"),
        )
    )


def scrub_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII / identifier scrubbing: mask URLs, email addresses and long
    digit runs (phone numbers, account ids) with typed placeholder tokens,
    and count each category — the standard pre-training redaction pass.

    Adds ``scrubbed`` plus ``n_url``/``n_email``/``n_num`` count columns.
    Order matters and is fixed (URL before email — an address inside a URL
    is already masked; digits last). Pure JVM regexp_replace /
    regexp_extract_all — map-only, scan speed at any corpus size, and the
    patterns are Java-regex/RE2 portable so the scrub is reproducible on
    any engine.
    """
    t = F.col(text_col)
    out = df
    scrubbed = t
    for name, pat, token in SCRUB_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return out.withColumn("scrubbed", scrubbed)


def with_word_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon entropy of the document's word distribution — the
    degenerate-text detector (keyword stuffing and template spam score
    near 0; diverse prose scores high). Adds ``n_words`` and
    ``entropy_e6`` (Σ (c/N)·ln(N/c), integer-scaled).

    Entirely in-row: one ``array_sort`` then a single O(w) fold that
    closes a run whenever the word changes, adding that word's entropy
    term — the same sorted-run pattern as with_repetition_stats, never
    the O(w²) count-per-distinct form. Each term is FLOOR-scaled to e6
    BEFORE summation, so the sum is an exact integer in any engine and
    any evaluation order (float Σ would be order-dependent). Map-only,
    scan speed; docs with no words get entropy 0.
    """
    t = F.col(text_col)
    words = F.array_sort(F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0))
    n = F.size(words)

    def term(run):
        # FLOOR(c * ln(N/c) / N * 1e6) — association mirrored verbatim in
        # the differential oracle; ln is the only inexact op (≤1 ulp)
        return F.floor(run * F.log(n / run) / n * 1000000).cast("long")

    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )
    folded = F.aggregate(
        words,
        acc0,
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(
                (w != acc["prev"]) & (acc["run"] > 0), acc["acc"] + term(acc["run"])
            ).otherwise(acc["acc"]).alias("acc"),
        ),
        lambda acc: F.when(acc["run"] > 0, acc["acc"] + term(acc["run"])).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return df.withColumns({"n_words": n, "entropy_e6": folded})


def duplicate_spans(
    df: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication spans: for every document, the maximal
    token ranges covered by ``n``-gram windows that ALSO occur in at least
    one other document — the signal behind exact-substring train-set
    dedup (mask or cut the spans instead of dropping whole documents).

    Output: ``id_col, span_start, span_end, n_windows`` — token positions
    [span_start, span_end) of each merged duplicated run, 0-based, plus
    how many duplicated windows the span merges.

    At 100 TB, in order: (1) in-row n-gram window array + posexplode —
    map-only; (2) window occurrence counting keyed on the n-gram text —
    one shuffle carrying (gram, partial distinct-doc state); (3) the
    positions of cross-doc grams come back via one hash equi-join; (4)
    gaps-and-islands merge per doc — one shuffle on the doc id, windowed
    prefix scan, no per-group sort larger than a document's own flagged
    positions. Nothing is quadratic; every stage is keyed and combines
    map-side.
    """
    grams = _word_ngrams(F.col(text_col), n)
    pos = df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )
    # grams seen in >1 distinct document (cross-doc duplication only;
    # in-doc repetition is with_repetition_stats' job)
    dup = (
        pos.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    hits = pos.join(dup, "gram").select(id_col, "pos")
    win = Window.partitionBy(id_col).orderBy("pos")
    # island id in two steps (window exprs don't nest): a new island
    # starts when this n-gram window does not overlap the previous one
    # ([p, p+n) vs [prev, prev+n) merge iff p <= prev + n)
    flagged = hits.withColumn(
        "new_island",
        F.when(
            F.col("pos") > F.coalesce(F.lag("pos").over(win), F.lit(-(10**9))) + n,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    marked = flagged.withColumn(
        "island",
        F.sum("new_island").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("island")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token windows with optional
    overlap — the context-window chunking step of embedding/RAG and
    fixed-length pretraining pipelines.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the last chunk may be short, and
    a document shorter than one chunk yields exactly one chunk (empty
    docs yield none). Tokens are whitespace-split (the engine's ``\\S+``
    convention); chunks re-join with single spaces.

    Output: ``id_col, chunk_id, n_chunk_tokens, chunk_text``.

    At 100 TB: all in-row array ops (split, slice, posexplode) — map-only,
    no shuffle; output parallelism = input parallelism and each row's
    work is bounded by its own document length.
    """
    chunk_tokens = int(chunk_tokens)
    overlap = int(overlap)
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"overlap must be in [0, chunk_tokens), got {overlap}")
    stride = chunk_tokens - overlap
    # tokenize the ORIGINAL-case text: chunk_text is emitted content, not a
    # counting/fingerprinting signal, so no case folding (the \S+ split does
    # not need it)
    w = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    n = F.size(w)
    # number of stride-starts covering [0, n): ceil((n - overlap)/stride),
    # min 1 chunk for any non-empty doc
    n_chunks = F.when(
        n > chunk_tokens, F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    ).otherwise(F.when(n > 0, F.lit(1)).otherwise(F.lit(0)))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(w, i * stride + 1, chunk_tokens),
    )
    chunks = F.when(n_chunks > 0, chunks).otherwise(
        F.array().cast("array<array<string>>")
    )
    ex = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__toks__")
    )
    return ex.select(
        id_col,
        "chunk_id",
        F.size(F.col("__toks__")).alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("__toks__")).alias("chunk_text"),
    )


def tfidf_doc_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document TF-IDF score — the classic distinctiveness signal for
    corpus curation (low score ≈ boilerplate made of corpus-common words).

    Output per doc: ``id_col, n_words, n_terms`` (distinct words) and
    ``tfidf_e6`` = FLOOR( Σ_terms tf(w)·idf_e6(w) / n_words ), where
    ``idf_e6(w) = FLOOR(ln(N/df(w))·1e6)``. The idf is integer-scaled at
    the WORD level and summed as exact integers, so the only float ops on
    the cross-engine path are one ln per distinct word and one final
    division — the established cosine_e6 discipline.

    At 100 TB: explode → two keyed aggregations ((doc,word) then (word)),
    one equi-join back on the word (hash-partitioned; map-side combine
    collapses repeats before every exchange), and the corpus size N rides
    a 1-row broadcast — no driver collect anywhere.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
        ).alias("word"),
    )
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    doc_len = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_words"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.floor(F.log(F.col("n_docs") / F.col("df")) * 1000000).alias("idf_e6"),
    )
    scored = tf.join(idf, "word")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("tf") * F.col("idf_e6")).alias("num_e6"),
    )
    return per_doc.join(doc_len, id_col).select(
        id_col,
        "n_words",
        "n_terms",
        F.floor(F.col("num_e6") / F.col("n_words")).cast("long").alias("tfidf_e6"),
    )


# One partition's sort budget: a global running sum over an input whose
# optimizer estimate fits it runs as one single-partition window, because
# the hierarchical plan's 3 extra jobs never amortize below this size.
_SINGLE_PARTITION_SORT_BYTES = 128 << 20

# select_until_budget keeps at most budget // min(size) + 1 rows; up to this
# bound the candidates come from a per-partition top-K whose merge runs in
# ONE partition, so the bound caps that partition at 5M rows. Above it the
# selection falls back to the global running sum.
_BUDGET_TOPK_MAX_ROWS = 5_000_000


def assign_pack_bins(
    df: DataFrame,
    budget: int,
    token_col: str,
    order_by: str,
    by: "list[str] | None" = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document the index of
    the fixed-token-budget training sequence its first token lands in.

    ``bin = floor(exclusive_running_sum(tokens) / budget)`` over a
    DETERMINISTIC order — exactly the document→sequence mapping of the
    standard "concatenate the corpus, split every ``budget`` tokens"
    pretraining packer (documents may straddle a boundary; their START
    position defines the bin). With ``by`` (e.g. language or shard) the
    running sum restarts per group and each group packs in parallel.

    Without ``by`` the GLOBAL order is computed hierarchically instead of
    as one single-partition window sort (the 100 TB killer): the data is
    range-partitioned on ``order_by`` so each shard holds an unbroken
    slice of the global order, per-shard token totals (one tiny agg row
    per shard) become exclusive shard offsets on the driver, and each
    shard then runs its own window prefix-sum plus its offset — all
    shards sort and scan in parallel, and the only serial state is one
    long per shard. An input whose optimizer estimate fits
    ``_SINGLE_PARTITION_SORT_BYTES`` (128 MiB, below which the two-pass
    constant never amortizes) uses the plain single-partition window
    instead. ``order_by`` should be unique (ties at a range-shard
    boundary have engine-arbitrary relative order, as in any engine).

    Output: input columns + ``pack_bin`` (long).
    """
    budget = int(budget)
    prefixed, start, cols = _exclusive_prefix(df, token_col, order_by, by)
    if prefixed is None:
        return df.withColumn("pack_bin", F.lit(None).cast("long"))
    out = prefixed.withColumn(
        "pack_bin", F.floor(start / F.lit(budget)).cast("long")
    )
    return out.select(*cols, "pack_bin")


def _exclusive_prefix(
    df: DataFrame,
    size_col: str,
    order_by: str,
    by: "list[str] | None" = None,
):
    """(frame, exclusive-running-sum column, original columns) over a
    deterministic order. With ``by`` this is one keyed window; without it
    the GLOBAL order is computed hierarchically instead of as one
    single-partition window sort (the 100 TB killer): range-partition on
    ``order_by`` so each shard holds an unbroken slice of the global
    order, per-shard totals (one tiny agg row per shard) become exclusive
    shard offsets on the driver, and each shard runs its own window
    prefix-sum plus its offset — parallel sort + scan, one long of serial
    state per shard. Returns ``(None, None, cols)`` for an empty input.

    ADAPTIVE small-input path: when Catalyst's size estimate for the
    (already column-pruned) input fits one partition's sort budget
    (``_SINGLE_PARTITION_SORT_BYTES``, 128 MiB), the hierarchical
    machinery is skipped for the plain single-partition global window
    DuckDB would use — the two-pass constant (range-sample + checkpoint
    + offsets collect, 3 extra jobs) never amortizes below that size,
    and a 128 MiB in-partition sort is cheap. Above the
    threshold — including any genuinely large corpus, where the estimate
    is the parquet scan size — the hierarchical plan is unchanged.
    """
    cols = df.columns
    if by:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(order_by))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df, F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0)), cols

    if plan_fits(df, _SINGLE_PARTITION_SORT_BYTES):
        w = (
            Window.orderBy(F.col(order_by))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df, F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0)), cols

    shards = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    # unbroken global ranges; shard id pinned by the checkpoint so the
    # totals pass and the window pass see identical shard boundaries
    rdf = (
        df.repartitionByRange(shards, F.col(order_by))
        .withColumn("__shard__", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = {
        r["__shard__"]: r["t"]
        for r in rdf.groupBy("__shard__").agg(F.sum(F.col(size_col)).alias("t")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for s in sorted(totals):
        offsets[s] = acc
        acc += int(totals[s] or 0)
    if not offsets:
        return None, None, cols
    w = (
        Window.partitionBy("__shard__")
        .orderBy(F.col(order_by))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0))
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return rdf, local + F.element_at(off_map, F.col("__shard__")), cols


def select_until_budget(
    df: DataFrame,
    budget: int,
    size_col: str,
    order_by: str,
    by: "list[str] | None" = None,
) -> DataFrame:
    """Budgeted corpus selection: walk the documents in a DETERMINISTIC
    order (typically best-quality-first) and keep each row whose INCLUSIVE
    running ``size_col`` total still fits ``budget`` — the standard
    "take the best N tokens" data-mixing move when composing a training
    set under a token budget.

    A row is kept iff ``running_sum_inclusive <= budget``; the first row
    that would overflow (and everything after it) is dropped, so the kept
    total never exceeds ``budget``. With ``by`` the budget applies per
    group (e.g. per language); without it the kept set is first BOUNDED:
    every kept row contributes at least ``min(size_col)``, so at most
    ``budget // min + 1`` rows can ever be kept — when that bound is
    modest (``_BUDGET_TOPK_MAX_ROWS``, 5M rows, which caps the one
    partition that merges the top-K candidates) the plan
    is a per-partition top-K merge (``TakeOrderedAndProject`` — no global
    sort, NO shuffle of the data) followed by a window over just the K
    candidate rows. This is the right 100 TB plan whenever the budget
    selects a bounded prefix (the common case for token budgets); when
    sizes can be <= 0 or the bound explodes, the global running sum falls
    back to the same hierarchical two-pass as :func:`assign_pack_bins` —
    no single-partition sort at any size. ``order_by`` should be unique
    (ties at a range-shard boundary have engine-arbitrary relative order).
    """
    budget = int(budget)
    if not by:
        # bounded control-plane read: one aggregated row
        m = df.agg(F.min(F.col(size_col))).collect()[0][0]
        if m is not None and m > 0 and budget // int(m) + 1 <= _BUDGET_TOPK_MAX_ROWS:
            k = budget // int(m) + 1
            cols = df.columns
            top = df.orderBy(F.col(order_by)).limit(k)
            w = (
                Window.orderBy(F.col(order_by))
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            keep = top.withColumn(
                "__cum__",
                F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0))
                + F.col(size_col),
            )
            return keep.filter(F.col("__cum__") <= F.lit(budget)).select(*cols)
    prefixed, start, cols = _exclusive_prefix(df, size_col, order_by, by)
    if prefixed is None:
        return df
    # window expressions cannot live in WHERE: materialize the running sum
    # as a column first, then filter
    keep = prefixed.withColumn("__cum__", start + F.col(size_col))
    return keep.filter(F.col("__cum__") <= F.lit(budget)).select(*cols)


def select_until_budgets(
    df: DataFrame,
    budgets: "dict[str, int]",
    strata_col: str,
    size_col: str,
    order_by: str,
    default_budget: int = 0,
) -> DataFrame:
    """Per-stratum budgeted selection — the explicit-weights mixture spec:
    ``budgets`` maps each stratum (language, source, domain) to its own
    ``size_col`` budget (e.g. ``{lang: int(total_tokens * weight)}``), and
    within each stratum the documents are walked in ``order_by`` order
    (typically best-quality-first), keeping rows while the INCLUSIVE
    running total fits that stratum's budget. Strata absent from
    ``budgets`` get ``default_budget`` (0 = drop).

    The companion of :func:`select_until_budget` (one global budget) and
    ``temperature_mix`` (rate-based rebalance): this is the form used when
    the target mixture is given as explicit weights. ONE keyed window
    exchange on ``strata_col`` — per-stratum running sums are independent,
    so no hierarchical pass and no cross-stratum serial state; the budget
    lookup is a broadcast join of a #budgets-row frame (flat Catalyst cost
    at ANY budgets cardinality — a CASE-of-literals chain would build an
    unboundedly deep expression tree for e.g. per-domain budgets; same
    rationale as ``temperature_mix``'s rate table). A NULL-keyed budgets
    entry matches NULL strata (null-safe join). ``order_by`` should be
    unique within a stratum (same contract as select_until_budget).
    """
    for reserved in ("__cum__", "__budget_stratum__", "__budget__"):
        if reserved in df.columns:
            raise ValueError(
                f"select_until_budgets reserves column name {reserved!r}; "
                "rename it before calling"
            )
    prefixed, start, cols = _exclusive_prefix(df, size_col, order_by, [strata_col])
    if prefixed is None:
        return df
    keep = prefixed.withColumn("__cum__", start + F.col(size_col))
    default_lit = F.lit(int(default_budget))
    if budgets:
        from pyspark.sql import types as T

        bdf = df.sparkSession.createDataFrame(
            [(s, int(b)) for s, b in sorted(budgets.items(), key=lambda kv: (kv[0] is None, kv[0]))],
            T.StructType(
                [
                    T.StructField(
                        "__budget_stratum__", df.schema[strata_col].dataType, True
                    ),
                    T.StructField("__budget__", T.LongType(), False),
                ]
            ),
        )
        keep = keep.join(
            F.broadcast(bdf),
            F.col(strata_col).eqNullSafe(F.col("__budget_stratum__")),
            "left",
        )
        bexpr = F.coalesce(F.col("__budget__"), default_lit)
    else:
        bexpr = default_lit
    return keep.filter(F.col("__cum__") <= bexpr).select(*cols)


def corpus_stats(
    df: DataFrame,
    value_col: str,
    by: "list[str] | None" = None,
    quantiles: "tuple[float, ...]" = (0.5, 0.9, 0.99),
    approx: bool = False,
    n_distinct: bool = False,
) -> DataFrame:
    """Per-group distribution stats of a numeric column: count, sum, and
    quantiles — the length/token histogram every corpus-curation pass
    starts from.

    ``approx=False`` uses Spark's exact ``percentile`` (per-group sort —
    fine up to millions of rows per group, and linearly interpolated
    identically to DuckDB's ``quantile_cont``, so it is differential-gate
    exact). ``approx=True`` switches to ``approx_percentile`` (t-digest
    sketch, one pass, mergeable map-side) — the 100 TB path where a
    per-group sort of raw values is the wrong plan.

    ``n_distinct=True`` adds a distinct-value count with the same split:
    exact ``count_distinct`` (a second shuffle keyed on the value) when
    ``approx=False``, HyperLogLog++ ``approx_count_distinct`` (one pass,
    constant-size mergeable sketch, default ~2% rsd) when ``approx=True``.
    """
    fn = "approx_percentile" if approx else "percentile"
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col)).alias("total"),
    ] + [
        F.expr(
            f"CAST(FLOOR({fn}({value_col}, {q}) * 100) AS BIGINT)"
        ).alias(f"p{int(q * 100)}_e2")
        for q in quantiles
    ]
    if n_distinct:
        nd = (
            F.approx_count_distinct(F.col(value_col))
            if approx
            else F.count_distinct(F.col(value_col))
        )
        aggs.append(nd.alias("n_distinct"))
    g = df.groupBy(*by) if by else df.groupBy()
    return g.agg(*aggs)


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash selection): hash every word ``k``-gram, slide a
    window of ``w`` consecutive hashes over the document, keep the MINIMUM
    hash of each window, emit the distinct selected hashes. Guarantees at
    least one fingerprint per ``w`` consecutive grams, so any shared run
    of ≥ ``w+k-1`` words between two documents shares a fingerprint —
    position-robust local similarity, unlike whole-document hashing.

    Hashes are md5 STRINGS (engine-portable: lexicographic min is
    identical everywhere); selection is in-row array HOFs (transform +
    slice + array_min + array_distinct) — map-only, scan speed, no
    shuffle. Output: ``id_col, fp`` (one row per selected fingerprint).

    At 100 TB: fingerprints/doc ≈ 2·words/w (window minima repeat), so
    the output is a small multiple of the corpus row count; downstream
    joins key on the 32-char fp (or re-hash to a long for the wire).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    grams = _word_ngrams(F.col(text_col), k)
    hashes = F.transform(grams, lambda g: F.md5(g))
    n_win = F.size(hashes) - (w - 1)
    sel = F.when(
        n_win >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.array_min(F.slice(hashes, i, w)),
            )
        ),
    ).otherwise(
        # shorter than one window: whole doc is the window (standard edge)
        F.when(F.size(hashes) >= 1, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return df.select(F.col(id_col).alias("id"), F.explode(sel).alias("fp"))


def winnowing_pairs(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int = 1000,
) -> DataFrame:
    """Local-similarity candidate pairs via shared winnowing fingerprints —
    the plagiarism/boilerplate detector: documents sharing ``min_shared``+
    selected fingerprints share that many (near-)distinct ≥ w+k-1-word
    runs. Inverted-index self-join on the fingerprint (the p5 shape):
    only co-fingerprinted pairs materialize; fingerprints appearing in
    more than ``max_fp_df`` docs are dropped first (boilerplate grams =
    the quadratic hot keys). Output: id_a, id_b (a<b), n_shared.
    """
    fps = winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    fps = fps.repartition("fp").localCheckpoint(eager=False)
    if max_fp_df is not None:
        small = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") <= int(max_fp_df))
            .select("fp")
        )
        fps = fps.join(small, on="fp")
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def mixture_report(
    before: DataFrame,
    after: DataFrame,
    strata_col: str,
    size_col: "str | None" = None,
) -> DataFrame:
    """Per-stratum before/after mixing report — the sanity artifact every
    curation run ships with: doc counts (and optional ``size_col`` totals),
    corpus shares, and keep rates, one row per stratum.

    Shares and rates are integer-scaled (``x * 1e6 div total`` on longs) so
    the report is exact and engine/partitioning-reproducible — no float
    division anywhere. Cost: one map-side-combined agg per frame (the
    grouped frames are #strata rows), a window total over those tiny
    frames, one tiny join. The corpora themselves are scanned once each and
    never shuffled.
    """
    def summarize(df: DataFrame, suffix: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"n_{suffix}")]
        if size_col is not None:
            aggs.append(F.sum(F.col(size_col).cast("long")).alias(f"sz_{suffix}"))
        g = df.groupBy(F.col(strata_col).alias("stratum")).agg(*aggs)
        return g.withColumn(
            f"share_{suffix}_e6",
            F.expr(f"n_{suffix} * 1000000L div sum(n_{suffix}) over ()"),
        )

    b = summarize(before, "before")
    # null-safe join: a NULL stratum is a stratum (a plain equi-join would
    # report it as entirely dropped even when every row was kept)
    a = summarize(after, "after").withColumnRenamed("stratum", "__stratum__")
    out = b.join(
        F.broadcast(a), b["stratum"].eqNullSafe(a["__stratum__"]), how="left"
    ).drop("__stratum__")
    fill = {"n_after": 0, "share_after_e6": 0}
    if size_col is not None:
        fill["sz_after"] = 0
    out = out.fillna(fill)
    return out.withColumn(
        "keep_rate_e6", F.expr("n_after * 1000000L div n_before")
    ).orderBy("stratum")
