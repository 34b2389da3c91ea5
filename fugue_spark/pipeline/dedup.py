"""Deduplication operators for 100 TB-scale corpora.

Five strategies, each expressed as a shuffle-conscious DataFrame plan:

* exact            — fingerprint hash → groupBy keep-first. One shuffle on
                     a 128-bit key; at scale the shuffle carries (id, hash)
                     only, never the text.
* ngram_jaccard    — word n-gram shingles → explode → inverted-index
                     self-join on shingle → per-pair intersection count →
                     Jaccard. Exact but quadratic in worst case; the
                     shingle join is the classic "small candidate set"
                     trick: only pairs sharing ≥1 shingle are generated.
* minhash_lsh      — shingle → ONE groupBy(id) computing m minhashes AND
                     the per-doc set size (all fixed-width buffers) → b
                     band keys → bucket count(*) census + bucket self-join
                     for the candidate pairs → count-based exact-Jaccard
                     verify over the materialized index. Near-linear; no
                     all-pairs join and no shingle arrays anywhere.
* simhash          — 64-bit simhash per doc (vectorized pandas UDF, no
                     shuffle) → 16-bit chunk banding (pigeonhole: hamming
                     ≤3 ⇒ ≥1 of 4 chunks equal) → the same bucket census +
                     bucket self-join → popcount verify.

Both banding families pair buckets through one helper (``_bucket_pairs``):
its census and join keep every aggregation buffer fixed-width (no member
arrays, no interpreted lambdas), and capped and uncapped callers share the
one plan.
* embedding cosine — see similarity.py (near_duplicates_by_embedding).

All emit candidate/confirmed duplicate PAIRS (id_a < id_b) so downstream
can pick survivors; ``dedup_exact`` also offers keep-first directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fugue_spark.session import plan_fits


def _materialize_index(df: DataFrame) -> DataFrame:
    """Lazily materialize a corpus-sized index that several plan branches
    read (lazy local checkpoint at MEMORY_AND_DISK; swap for a reliable
    checkpoint on a cluster where executor loss must be survivable). Every
    index in this module is materialized here and nowhere else. DISK_ONLY
    was measured and lost: p6@sf10 min 38.6 s vs 18.4 s (OPTIMIZATION_r10
    §1) — the GC relief does not pay for the write."""
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)


__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_against",
    "decontaminate",
    "simhash_pairs",
    "simhash_verified_pairs",
    "near_dup_clusters",
    "dedup_near",
]


def _normalized(text_col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct normalized text. The shuffle key
    is the md5 fingerprint, not the document — at 100 TB the exchange moves
    ~48 bytes/row.

    Kept as a row_number window rather than a ``min_by(struct(*cols))``
    aggregation (tried r10): Catalyst prunes columns THROUGH a window, so a
    consumer that projects two columns after dedup shuffles only those plus
    the fingerprint — while min_by's struct pins every column into the
    exchange (measured: p4 0.43 s → 0.65 s at sf1 because the full text
    rode the shuffle). Partial-agg dedup only wins when consumers keep all
    columns AND the duplicate rate is high."""
    fp = F.md5(_normalized(text_col))
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp__", fp)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


def _shingles(text_col: str, n: int) -> F.Column:
    """Distinct 64-bit word n-gram shingle fingerprints of the normalized
    text, as array<long>.

    The gram strings are never materialized: each word is xxhash64'd once,
    then each n-gram fingerprint is an xxhash64 over the n word hashes —
    pure long arithmetic instead of per-gram string building (the dominant
    cost of the naive concat_ws form). Collision odds per doc are
    ~grams²/2⁶⁴ — vanishing.

    Words come from ONE regex pass — ``split(lower(trim(x)), '\\s+')`` —
    instead of collapse-whitespace-then-split-on-space: token boundaries
    are identical for any separator class (maximal runs of non-separator
    chars), and dropping the regexp_replace pass measured ~0.4 s of the
    sf10 corpus scan (OPTIMIZATION_r10.md §6)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hw = F.transform(words, lambda w: F.xxhash64(w))
    k = F.size(words) - (n - 1)
    # n shifted slices zipped elementwise: position i's struct holds
    # (hw[i], ..., hw[i+n-1]), one xxhash64 per gram. Same hash values as
    # indexing hw[i+j] per element, but ~14x faster: higher-order lambdas
    # are interpreted per element, and sequential struct-field access beats
    # per-element array random access + index arithmetic by that margin
    # (measured 5.7s -> 0.39s on the sf1 corpus).
    zipped = F.arrays_zip(*[F.slice(hw, j + 1, k) for j in range(n)])
    grams = F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                zipped,
                lambda s: F.xxhash64(*[s[str(j)] for j in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return grams


def _shingle_index(
    df: DataFrame, n: int, text_col: str, id_col: str, with_size: bool = False
) -> DataFrame:
    """(id, g) inverted index over 64-bit shingle fingerprints — 16 bytes/row
    through the exchange instead of full n-grams. Callers repartition this on
    the reuse key ONCE so every downstream branch (hot-set agg, join sides,
    per-doc counts) reads a single materialized exchange instead of
    recomputing the shingling scan per branch (ReuseExchange matches the
    identical subtree).

    ``with_size=True`` adds ``n_sh`` (the doc's distinct-shingle count, an
    int — computed for free from the pre-explode array) to every row: +4
    bytes/row through the exchange buys consumers the per-doc set size
    WITHOUT a separate groupBy(id) aggregation + join-back.

    The gram ARRAYS are materialized (lazy local checkpoint) before the
    explode: the shingling chain is a higher-order-function expression
    (CodegenFallback — interpreted), and Catalyst re-evaluates it for
    every consumer of the array — ``size()`` + the generator input cost
    2× the chain, and an explode whose generator input is the raw chain
    (no other reference) re-evaluates it per OUTPUT row. Measured at sf10
    (OPTIMIZATION_r10.md §6): chain once 2.6 s; size+explode of the
    inline chain 7.1 s; explode-only inline 21 s; struct-carrying explode
    111 s; size+explode over the materialized arrays **0.09 s**. The
    arrays are the same bytes as the exploded index (~8 B/gram), so the
    extra copy is metadata-sized next to the corpus text."""
    base = _materialize_index(
        df.select(F.col(id_col).alias("id"), _shingles(text_col, n).alias("__gr__"))
    )
    if with_size:
        return base.select(
            "id", F.size("__gr__").alias("n_sh"), F.explode("__gr__").alias("g")
        )
    return base.select("id", F.explode("__gr__").alias("g"))


# driver-side bound for the hot-set probe in ngram_jaccard_pairs: above
# this many hot shingles the plan keeps the lazy broadcast aggregation
_HOT_PROBE_MAX = 65536


def _hot_shingles(ex: DataFrame, ndocs_df: DataFrame, max_shingle_df, min_cap: int) -> "DataFrame | None":
    """The (small) set of shingles whose document frequency exceeds the cap —
    the standard corpus-scale guard: one stop-gram shared by 10% of docs
    otherwise turns the inverted-index self-join quadratic. A fractional cap
    is resolved INSIDE the plan (1-row count subquery cross-joined in); the
    caller decides whether to evaluate this lazily (broadcast side) or probe
    it eagerly to specialize the plan (see ngram_jaccard_pairs)."""
    if max_shingle_df is None:
        return None
    counts = ex.groupBy("g").agg(F.count(F.lit(1)).alias("__df__"))
    if isinstance(max_shingle_df, float):
        nd = ndocs_df.select(F.count(F.lit(1)).alias("__nd__"))
        cap_expr = F.greatest(
            F.floor(F.lit(max_shingle_df) * F.col("__nd__")), F.lit(min_cap)
        )
        return counts.crossJoin(F.broadcast(nd)).filter(F.col("__df__") > cap_expr).select("g")
    return counts.filter(F.col("__df__") > int(max_shingle_df)).select("g")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: "float | int | None" = 0.01,
    min_shingle_df_cap: int = 20,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via inverted-index self-join.

    Plan: explode shingles → drop hot shingles (document frequency above
    ``max_shingle_df``·N, floored at ``min_shingle_df_cap`` — bounds the
    worst-case candidate blowup from stop-grams) → join on shingle (only
    co-shingled pairs materialize) → exact verify on the candidates with
    the FULL shingle sets, so the reported Jaccard is exact regardless of
    the cap. A qualifying pair is missed only if every shingle it shares is
    hot — near-dups share mostly doc-specific shingles, so recall loss is
    nil in practice (and ``max_shingle_df=None`` disables the cap).
    Output: id_a, id_b (a<b), jaccard_e4 (int, ×10⁴ — exact cross-engine).

    Verify plan (the scale-critical part): the intersection size is a
    COUNT(*) AGGREGATION on the inverted-index self-join itself — the
    exchange never carries a shingle array, only (id_a, id_b) plus longs.
    With the hot-shingle cap on, the capped count undercounts the true
    intersection by at most min(hot_a, hot_b) (a doc's shingles removed as
    hot); pairs where neither side lost a shingle are exact as-is, and ONLY
    pairs inside the resulting uncertainty band around the threshold fetch
    their full shingle sets for an exact array intersection — a vanishing
    fraction of candidates, so the array shuffle is metadata-sized.
    """
    thr = int(threshold * 10000)
    # ONE shingling pass: the index is repartitioned on the join key and
    # materialized (lazy local checkpoint) so the hot-set agg, both join
    # sides, and the near-branch arrays all read the stored partitions
    # instead of re-running the shingling scan — Catalyst can't share the
    # subtree itself because per-branch column pruning makes the copies
    # non-identical. Every row carries n_sh (with_size=True), so no branch
    # ever needs a per-doc count aggregation + join-back. (At cluster
    # scale, swap for persist(MEMORY_AND_DISK) or a reliable checkpoint if
    # executor loss must be survivable; the structure — index materialized
    # once — is the scale-critical part.)
    #
    # PPJoin prefix filtering was tried and REVERTED (2d67509; measurements
    # in OPTIMIZATION_r11.md §1): generating candidates from sorted-prefix
    # rows and exact-verifying them over the full index loses to this
    # one-aggregation plan on corpora whose co-shingled pairs come from
    # RARE shingles — prefixes (hash order OR df-ascending order) still
    # produced 3.1-4.3M candidates at sf1 vs 2,560 true pairs, blowing the
    # verify-prefilter bound and turning the verify joins into the
    # dominant cost (hung at sf10). The single aggregation computes the
    # exact intersection counts DURING candidate generation, so no verify
    # pass exists to save.
    exr = _materialize_index(
        _shingle_index(df, n, text_col, id_col, with_size=True).repartition("g")
    )
    hot = _hot_shingles(exr, df, max_shingle_df, min_shingle_df_cap)

    if hot is None:
        return _pair_jaccard(exr, thr)

    # AQE-style runtime specialization: probe the hot set ONCE (a bounded
    # aggregation job over the just-materialized index — the checkpoint it
    # forces is reused by every later branch) and prune the plan with the
    # result. Real corpora at bench scales have NO shingle above the df cap,
    # and carrying the 5-branch cap machinery (left join + per-doc hot
    # counts + near-band array resolve) for an empty hot set costs ~2x the
    # whole query. A driver probe of an aggregate this small is the same
    # trade AQE makes: one stats job to pick a structurally better plan.
    # The probe is one job: an Arrow collect runs the limit as one shuffle
    # to a single partition, where collect() runs Spark's incremental take,
    # one job per widening partition scan (sf0.01 and sf0.1 documents, AQE
    # off: p5 build jobs 4 -> 2). The values are used only when the whole
    # hot set fits the bound, so which rows the limit keeps past the bound
    # does not matter.
    hot_g = hot.limit(_HOT_PROBE_MAX + 1).toArrow().column("g").to_pylist()
    if len(hot_g) == 0:
        # nothing is hot: the capped index IS the full index — emit the
        # exact single-aggregation plan (sizes ride on the index rows)
        return _pair_jaccard(exr, thr)
    if len(hot_g) <= _HOT_PROBE_MAX:
        # small hot set: inline it as a literal relation (no recompute of
        # the counts aggregation when the broadcast is built)
        hot = df.sparkSession.createDataFrame([(g,) for g in hot_g], "g bigint")
    # else: hot set larger than the probe bound — keep the lazy aggregation
    # as the broadcast side (unbounded collect on the driver is never OK)

    # mark-and-filter against the broadcast hot set: the SAME left join
    # feeds the capped index and the per-doc hot counts — all readers of
    # the one materialized exchange (total sizes ride on the index rows)
    j = exr.join(F.broadcast(hot.withColumn("__hot__", F.lit(True))), on="g", how="left")
    ex = j.filter(F.col("__hot__").isNull()).select("id", "n_sh", "g")
    info = j.groupBy("id").agg(F.count("__hot__").alias("n_hot"))
    p = (
        _pair_counts(ex, thr)
        .join(info.select(F.col("id").alias("id_a"), F.col("n_hot").alias("ha")), on="id_a")
        .join(info.select(F.col("id").alias("id_b"), F.col("n_hot").alias("hb")), on="id_b")
        .withColumn("min_hot", F.least("ha", "hb"))
    )
    # min_hot = 0 ⇒ no shared shingle could have been dropped ⇒ count exact
    exact = (
        p.filter(F.col("min_hot") == 0)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )
    # true shared ∈ [shared_c, shared_c + min_hot]; only pairs whose UPPER
    # bound reaches the threshold need the exact set intersection
    ub = F.col("shared_c") + F.col("min_hot")
    near = (
        p.filter(F.col("min_hot") > 0)
        .filter(F.floor((ub * 10000) / (F.col("na") + F.col("nb") - ub)).cast("long") >= thr)
        .select("id_a", "id_b", "na", "nb")
    )
    # FULL (uncapped) per-doc shingle sets, rebuilt from the same exchange —
    # only the near-threshold pairs ever join against these arrays
    arr = exr.groupBy("id").agg(F.collect_list("g").alias("sh"))
    resolved = (
        near.join(arr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), on="id_a")
        .join(arr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard_e4", _jaccard_e4("shared", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )
    return exact.unionByName(resolved)


def _pair_counts(ex: DataFrame, thr: int) -> DataFrame:
    """Candidate generation and intersection count in ONE aggregation over
    the inverted-index self-join: pairs sharing >=1 indexed shingle, with
    shared_c = the number they share and (na, nb) the per-doc set sizes
    riding along from the index rows. The exchanges carry only ids + ints.

    The size filter before the aggregation is the classic length bound:
    jaccard ≤ min(na,nb)/max(na,nb) regardless of overlap, so a pair whose
    size ratio can't reach ``thr`` is dropped BEFORE its rows enter the
    pair aggregation — exact (never drops a qualifying pair), and it
    shrinks the aggregation's input by every co-shingled-but-incompatible
    pair."""
    a = ex.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "g")
    b = ex.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "g")
    return (
        a.join(b, on="g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("na", "nb").cast("long") * 10000
                >= F.lit(int(thr)) * F.greatest("na", "nb").cast("long")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared_c"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )


# verify-side candidate-id prefilter bound: the broadcast id set is built
# only when the materialized candidate-pair count is at or below this, so
# the broadcast is bounded at ~2x this many longs (default ≈ 64 MB framed).
# Above it (enormous dup rate at corpus scale) the verify joins run against
# the full index exactly as before.
_VERIFY_PREFILTER_MAX_PAIRS = 4_000_000

# ...and the prefilter only engages at all when the INPUT's optimizer size
# estimate exceeds this: below it the whole index fits a handful of tasks
# and the probe's fixed cost (checkpoint + count job + broadcast build)
# exceeds what the joins save (measured: p6@sf0.1 — est 1.6 MiB — pays
# +0.15 s for the probe; p6@sf10 — est ≈ 230 MiB — saves 1.5-2 s, p38@sf10
# 6+ s). plan_fits reads an unknown estimate as large, so such inputs
# prefilter — fail-safe at scale, same rule as the save_df clustering bound.
_VERIFY_PREFILTER_MIN_INPUT_BYTES = 64 << 20


def _verified_pair_counts(
    cands: DataFrame,
    ex_a: DataFrame,
    ex_b: DataFrame,
    corpus: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
) -> DataFrame:
    """COUNT(*)-based exact verify shared by the LSH/simhash families:
    restrict the inverted index(es) to candidate pairs and count the
    co-occurring shingles — fixed-width aggregation buffers, long-sized
    exchanges, never shingle arrays.

    Runtime specialization (the AQE trade, same as p5's hot probe): when
    the optimizer estimate of the ``corpus`` input does not fit
    ``_VERIFY_PREFILTER_MIN_INPUT_BYTES``, the candidate frame is
    materialized (its lazy checkpoint is read again by the first verify
    join) and probed with ONE driver job — a ``limit(bound+1).count()``.
    The count it returns is bounded, the work is not: the job runs the
    limit on every partition, and the lazy checkpoint stores each partition
    it computes whole, so above the bound (the pathological dup-rate
    regime) the probe still materializes every candidate pair in executor
    block storage. When bounded by
    ``_VERIFY_PREFILTER_MAX_PAIRS``, each index side is semi-filtered to the
    candidate ids through a broadcast BEFORE the verify joins. The indexes
    are corpus-sized (every doc × every shingle) while candidates are
    usually metadata-sized, so this turns the (right, g) exchange of the
    full index into an exchange of only candidate docs' rows — measured at
    sf10 (OPTIMIZATION_r10.md §8): verify 2.8-3.3 s → 2.2 s with
    25k candidate pairs against an 80M-row index. A semi-join on the join
    key never changes inner-join results, so the output is exact either
    way; above the bound the broadcast is skipped (never an unbounded
    driver-side set).
    """
    if not plan_fits(corpus, _VERIFY_PREFILTER_MIN_INPUT_BYTES):
        bound = _VERIFY_PREFILTER_MAX_PAIRS
        cands = cands.localCheckpoint(eager=False)
        if cands.limit(bound + 1).count() <= bound:
            ids_a = cands.select(F.col(left).alias("id"))
            ids_b = cands.select(F.col(right).alias("id"))
            if ex_a is ex_b:
                ids = ids_a.unionByName(ids_b).distinct()
                ex_a = ex_b = ex_a.join(F.broadcast(ids), on="id", how="left_semi")
            else:
                ex_a = ex_a.join(F.broadcast(ids_a.distinct()), on="id", how="left_semi")
                ex_b = ex_b.join(F.broadcast(ids_b.distinct()), on="id", how="left_semi")
    return (
        cands.join(ex_a.select(F.col("id").alias(left), "g"), on=left)
        .join(ex_b.select(F.col("id").alias(right), "g"), on=[right, "g"])
        .groupBy(left, right)
        .agg(F.count(F.lit(1)).alias("shared_c"))
    )


def _jaccard_e4(shared: str, na: str, nb: str) -> F.Column:
    s, a, b = (F.col(c).cast("long") for c in (shared, na, nb))
    return F.floor((s * 10000) / (a + b - s)).cast("long")


def _pair_jaccard(ex: DataFrame, thr: int) -> DataFrame:
    """Exact Jaccard pairs from a size-carrying inverted index (id, n_sh, g):
    one self-join + one aggregation, no per-doc size frame to join back."""
    return (
        _pair_counts(ex, thr)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig: array<long>) — m independent minhashes per document.

    One explode + one groupBy(id) with m min() aggregates: a single
    shuffle keyed on id, carrying only (id, m×8 bytes)."""
    doc = _minhash_doc(_shingle_index(df, n, text_col, id_col), num_hashes)
    slots = ", ".join(f"h{i}" for i in range(num_hashes))
    return doc.selectExpr("id", f"array({slots}) AS sig")


def _minhash_doc(ex: DataFrame, num_hashes: int) -> DataFrame:
    """(id, h0..h{m-1}, n_sh) from a shingle index (id, g): the m minhashes
    and the per-doc set size in ONE HashAggregate — min() and count() are
    fixed-width buffers, so fusing n_sh in is free. (Fusing collect_list(g)
    of the shingle SET instead — tried r10 — turned the aggregation into
    ObjectHashAggregate, whose hash map falls back to SORT-based aggregation
    past 128 keys, and checkpointed KB-sized array rows: p6@sf10 min 16.3 s
    → 56.5 s. Count-based verify keeps every buffer fixed-width.)

    Hash family: one 64-bit fingerprint per shingle (already in the index),
    then m cheap (seed, g) long hashes — never m string hashes. Each
    aggregate is parsed from SQL text, one py4j call instead of the five
    that assembling it from Columns takes."""
    aggs = [F.expr(f"min(xxhash64({i}, g)) AS h{i}") for i in range(num_hashes)]
    return ex.groupBy("id").agg(*aggs, F.expr("count(1) AS n_sh"))


def _minhash_side(
    df: DataFrame, num_hashes: int, n: int, text_col: str, id_col: str
) -> "tuple[DataFrame, DataFrame]":
    """One corpus side of the LSH plans: the shingle index (id, g), 16
    bytes/row, partitioned on id and materialized ONCE — the signature
    aggregation reads it exchange-free and the verify joins read it again
    instead of re-running the shingling scan — plus its materialized
    signatures (id, h0..h{m-1}, n_sh), read by the banding AND the size
    join."""
    ex = _materialize_index(_shingle_index(df, n, text_col, id_col).repartition("id"))
    return ex, _materialize_index(_minhash_doc(ex, num_hashes))


def _band_keys(doc: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, bh) LSH bucket keys: one 64-bit hash per band over that band's r
    signature slots h{i·r}..h{i·r+r-1} (band index folded into the hash as a
    seed — docs collide only when the same band's slots are equal, so
    capture is unchanged vs. a (band, hash) composite key; cross-band hash
    collisions merely add candidates the exact verify discards). Hashing
    the slot longs directly (no string concat) keeps the banding projection
    allocation-free; it is parsed from one SQL string."""
    keys = ", ".join(
        "xxhash64({}, {})".format(i, ", ".join(f"h{i * r + j}" for j in range(r)))
        for i in range(bands)
    )
    return doc.selectExpr("id", f"explode(array({keys})) AS bh")


def _bucket_pairs(
    banded: DataFrame,
    max_bucket_size: "int | None",
    left: str = "id_a",
    right: str = "id_b",
    key: str = "bh",
    other: "DataFrame | None" = None,
) -> DataFrame:
    """Distinct candidate pairs from LSH buckets — the one pairing path of
    every banding consumer. ``banded`` holds (id, key, *carry) rows; each
    carried column comes out once per side, as ``<col>_a`` and ``<col>_b``.

    Plan: a per-bucket count(*) census keeps the buckets with
    2 ≤ k ≤ ``max_bucket_size`` members, a semi-join brings their rows
    back, and a self-join on the bucket key emits each pair once with
    left < right. A k-member bucket emits k(k-1)/2 pairs, so the census is
    the quadratic guard: a degenerate bucket is dropped before any of its
    pairs exists. Every aggregation buffer is fixed-width (a count, a
    distinct over longs), so the plan stays HashAggregate with no member
    arrays and no interpreted lambdas, and capped and uncapped callers run
    the same plan: ``max_bucket_size=None`` only skips the census.

    With ``other``, pairs run across two frames — left ids from
    ``banded``, right ids from ``other`` — each side's census keeps
    k ≤ ``max_bucket_size`` on that side (a 1×1 bucket is a match), and
    every bucket-key match is a pair."""

    def members(side: DataFrame, lo: int) -> DataFrame:
        if max_bucket_size is None:
            return side
        k = F.col("__k__")
        keep = (
            side.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__k__"))
            .filter((k >= lo) & (k <= int(max_bucket_size)))
            .select(key)
        )
        return side.join(keep, on=key, how="left_semi")

    carry = [c for c in banded.columns if c not in ("id", key)]
    if other is None:
        a = b = members(banded, 2)
    else:
        a, b = members(banded, 1), members(other, 1)
    la = a.select(F.col("id").alias(left), key, *[F.col(c).alias(f"{c}_a") for c in carry])
    rb = b.select(F.col("id").alias(right), key, *[F.col(c).alias(f"{c}_b") for c in carry])
    pairs = la.join(rb, on=key)
    if other is None:
        pairs = pairs.filter(F.col(left) < F.col(right))
    out = [left, right] + [f"{c}_a" for c in carry] + [f"{c}_b" for c in carry]
    return pairs.select(*out).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    banding: b=16 bands × r=4 rows ⇒ candidate-capture probability
    1-(1-j^r)^b (≈0.98 at j=0.7). Candidates come from the (band,
    band-hash) buckets — a count(*) census plus a self-join on the bucket
    key (:func:`_bucket_pairs`), never an all-pairs join — then are
    verified exactly (shingle-set Jaccard) so the output has no false
    positives. The census drops buckets larger than ``max_bucket_size``
    before the self-join (a k-doc bucket emits k²/2 candidates; at corpus
    scale a degenerate bucket is a quadratic blowup). Run
    :func:`dedup_exact` first — clusters of byte-identical documents land
    every band in the same bucket and are exact-dedup's job, not LSH's.
    Output: id_a, id_b, jaccard_e4.
    """
    assert num_hashes % bands == 0
    ex, doc = _minhash_side(df, num_hashes, n, text_col, id_col)
    cands = _bucket_pairs(_band_keys(doc, bands, num_hashes // bands), max_bucket_size)
    # exact verify on the candidate set only (the minhash index has no
    # hot-cap, so the count IS the exact intersection size); the shared
    # helper also semi-filters the index to candidate ids when the probed
    # candidate count is bounded — see _verified_pair_counts
    pairs = _verified_pair_counts(cands, ex, ex, df)
    return _jaccard_from_counts(pairs, doc.select("id", "n_sh"), int(threshold * 10000))


def _jaccard_from_counts(
    pairs: DataFrame,
    sizes: DataFrame,
    thr: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    sizes_right: "DataFrame | None" = None,
) -> DataFrame:
    """Attach per-doc set sizes (id, n_sh) to (left_id, right_id, shared_c)
    pair counts and emit exact Jaccard — the exchanges carry three longs per
    row, never shingle arrays. ``sizes_right`` serves the cross-corpus case
    where the two pair sides come from different frames."""
    sr = sizes_right if sizes_right is not None else sizes
    return (
        pairs.join(sizes.select(F.col("id").alias(left_id), F.col("n_sh").alias("na")), on=left_id)
        .join(sr.select(F.col("id").alias(right_id), F.col("n_sh").alias("nb")), on=right_id)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select(left_id, right_id, "jaccard_e4")
    )


def minhash_lsh_pairs_against(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-duplicate pairs (fuzzy decontamination).

    The two-frame variant of :func:`minhash_lsh_pairs`: every output pair has
    its left id drawn from ``probe`` and its right id from ``corpus`` — the
    standard train/eval decontamination shape (probe = benchmark/eval set,
    corpus = training data), one fuzziness level up from the exact n-gram
    overlap of :func:`fugue_spark.pipeline.text.ngram_overlap`.

    Each side is shingled and signed independently (same hash family, so
    bucket keys are comparable), then candidates come from an equi-join of
    the two sides' (band, band-hash) buckets — never a cross join. A
    per-side bucket census (:func:`_bucket_pairs`) drops buckets above
    ``max_bucket_size`` on either side, bounding the join fan-out at
    ``max_bucket_size²`` rows per degenerate bucket. Candidates are verified
    with exact shingle-set Jaccard, so the output has no false positives;
    like the self-join variant, banding can miss pairs only marginally above
    ``threshold`` (capture probability 1-(1-j^r)^b).

    The probe side is typically tiny (an eval suite) next to a 100-TB
    corpus: the probe's banded keys and shingle index are both
    metadata-sized, the corpus is touched by exactly one shingling scan,
    and every exchange carries longs, never text.

    Output: probe_id, corpus_id, jaccard_e4 (exact, floor-scaled).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    # each side: index + signatures from the one builder (same hash family
    # on both sides, so bucket keys are comparable)
    exp, docp = _minhash_side(probe, num_hashes, n, text_col, id_col)
    exc, docc = _minhash_side(corpus, num_hashes, n, text_col, id_col)
    cands = _bucket_pairs(
        _band_keys(docp, bands, r),
        max_bucket_size,
        left="probe_id",
        right="corpus_id",
        other=_band_keys(docc, bands, r),
    )
    # exact verify on candidates only: count co-occurring shingles across the
    # two materialized indexes — exchanges carry (probe_id, corpus_id, g)
    # longs; each side is semi-filtered to its candidate ids when the probed
    # candidate count is bounded (see _verified_pair_counts — the corpus
    # index is the 100-TB side, the matched ids are metadata-sized)
    pairs = _verified_pair_counts(
        cands, exp, exc, corpus, left="probe_id", right="corpus_id"
    )
    return _jaccard_from_counts(
        pairs,
        docp.select("id", "n_sh"),
        int(threshold * 10000),
        left_id="probe_id",
        right_id="corpus_id",
        sizes_right=docc.select("id", "n_sh"),
    )


def decontaminate(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Drop every ``probe`` row that near-duplicates something in ``corpus``
    (same parameters as :func:`minhash_lsh_pairs_against`). Schema-preserving:
    returns ``probe`` rows as-is, filtered by a left-anti join on the matched
    probe ids (metadata-sized right side)."""
    hits = minhash_lsh_pairs_against(
        probe,
        corpus,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
    ).select(F.col("probe_id").alias(id_col)).distinct()
    return probe.join(hits, on=id_col, how="left_anti")


_SIMHASH_BITS = 64
_SIMHASH_CHUNKS = 4


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Fully-vectorized 64-bit simhash over word tokens, per Arrow batch.

    No per-word Python: ONE ``pd.util.hash_array`` call hashes every word
    in the batch (cython siphash with a fixed key — deterministic across
    runs, processes, and machines), ``np.unpackbits`` expands the bit
    planes, and ``np.add.reduceat`` at per-doc offsets produces the
    per-bit majority sums. ~2.3× the per-word-blake2b loop this replaced,
    with identical map-only plan shape.
    """
    word_lists = [str(t).lower().split() for t in texts]
    lens = np.array([len(w) for w in word_lists], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.uint64)
    nz = lens > 0
    if nz.any():
        all_words = np.array([w for wl in word_lists for w in wl], dtype=object)
        hs = pd.util.hash_array(all_words)  # uint64, deterministic fixed key
        bits = np.unpackbits(hs[:, None].view(np.uint8), axis=1, bitorder="little")
        if lens.max() > 254:  # reduceat in uint8 would wrap at 256 words
            bits = bits.astype(np.int16)
        offsets = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        sums = np.add.reduceat(bits, offsets[nz])
        v = (sums.astype(np.int64) * 2 >= lens[nz][:, None]).astype(np.uint64)
        out[nz] = (v << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return pd.Series(out.astype(np.int64))


def _simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket_size: "int | None",
    n_chunks: int,
    max_hamming: int,
) -> DataFrame:
    """Banded simhash candidate pairs within ``max_hamming``:
    (id_a, id_b, hamming), id_a<id_b. Shared by :func:`simhash_pairs`
    (popcount verify) and :func:`simhash_verified_pairs` (exact-Jaccard
    verify)."""
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    chunk_bits = 64 // n_chunks
    chunk_mask = (1 << chunk_bits) - 1
    sim_udf = F.pandas_udf(_simhash_batch, "long")
    # one python stage computes the signatures, materialized so the census
    # and both self-join sides read it instead of re-running the UDF; the
    # chunk index is folded into the bucket key exactly (key = chunk·2^bits
    # | ch — no hash, so no cross-chunk collisions)
    s = _materialize_index(
        df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("sh"))
    )
    keys = ", ".join(
        f"(shiftrightunsigned(sh, {c * chunk_bits}) & {chunk_mask}) | {c << chunk_bits}"
        for c in range(n_chunks)
    )
    banded = s.selectExpr("id", "sh", f"explode(array({keys})) AS bk")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return (
        _bucket_pairs(banded, max_bucket_size, key="bk")
        .select("id_a", "id_b", hamming)
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
    n_chunks: int = _SIMHASH_CHUNKS,
) -> DataFrame:
    """SimHash near-dup pairs: per-row simhash (map-only vectorized pandas
    UDF), chunk banding, popcount verify.

    ``n_chunks`` (divisor of 64) is the recall/bucket-size knob: by
    pigeonhole, a pair with hamming < n_chunks ALWAYS shares a chunk, so
    candidate capture is guaranteed up to n_chunks-1 and probabilistic
    beyond. More chunks ⇒ fewer bits per bucket key ⇒ denser buckets —
    at corpus scale keep n_chunks small (default 4 × 16-bit) and let
    ``max_bucket_size`` drop degenerate buckets before the self-join
    (byte-identical clusters belong to :func:`dedup_exact`).
    Output: id_a, id_b, hamming.
    """
    return _simhash_candidates(
        df, text_col, id_col, max_bucket_size, n_chunks, max_hamming
    )


def simhash_verified_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_hamming: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
    n_chunks: int = 8,
) -> DataFrame:
    """SimHash as the candidate generator, exact n-gram Jaccard as the
    verify — the production near-dedup shape (cheap recall stage + exact
    precision stage), and a value-checkable output: every emitted pair has
    exact jaccard ≥ ``threshold``, so the result is ⊆ the exact-Jaccard
    pairs regardless of the hash.

    Recall/bucket-space trade (the simhash banding invariant): pigeonhole
    guarantees candidate capture to hamming ``n_chunks - 1``, but the key
    space is only ``n_chunks · 2^(64/n_chunks)`` buckets — n_chunks=16
    (4-bit chunks) has 256 buckets TOTAL, so beyond ~10⁴ docs every bucket
    exceeds any sane ``max_bucket_size`` and the cap silently voids the
    guarantee. Defaults are therefore the corpus-scale setting (n_chunks=8:
    capture to hamming 7, 2048 buckets of 8-bit keys — pairs at j ≥ 0.9
    land under that); small fixed corpora that need deep-hamming capture
    (the p7 gate) pass ``n_chunks=16, max_bucket_size=None`` explicitly.
    Pairs at jaccard ≥ 0.8 have cosine ≥ ~0.89 ⇒ expected hamming ≈ 9.7
    (64·acos(0.89)/π). ``max_hamming`` (default 20 ≈ +3.6σ) prunes the
    exact-verify fan-in; the verify itself is the count-based
    inverted-index join — exchanges carry ids + longs, never arrays.
    Output: id_a, id_b (a<b), jaccard_e4.
    """
    thr = int(threshold * 10000)
    cand_ids = _simhash_candidates(
        df, text_col, id_col, max_bucket_size, n_chunks, max_hamming
    ).select("id_a", "id_b")
    # exact verify on the candidate set only (same shape as minhash_lsh,
    # via the shared helper — no hot-cap, so the count is exact; the index
    # is semi-filtered to candidate ids when the probed candidate count is
    # bounded)
    ex = _materialize_index(_shingle_index(df, n, text_col, id_col).repartition("id"))
    pairs = _verified_pair_counts(cand_ids, ex, ex, df)
    # sizes come from the UNFILTERED index: n_sh is each doc's full
    # shingle-set size, independent of the candidate prefilter
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return _jaccard_from_counts(pairs, sizes, thr)


def near_dup_clusters(
    pairs: DataFrame, max_iters: int = 20, stats: "dict | None" = None
) -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    (id, cluster) where cluster = the MIN id in the component.

    Each round does TWO label moves, both pure DataFrame ops (one
    equi-join + groupBy, then one self-join), no driver-side graph:

    1. neighbor-min: every node takes the smallest label among itself and
       its neighbors (handles dense near-dup blobs in one round);
    2. pointer jump (path doubling): every node then takes its LABEL's
       label — the hash-to-min contraction that makes adversarially long
       chains converge in O(log n) rounds instead of O(diameter): after
       round r every node points within distance 2^-r of its component
       min. A 1000-link chain converges in ~10 rounds (tested).

    Labels only decrease and every label is a node id, so the jump join is
    always resolvable; converged when no label changes. Lineage is cut per
    round (localCheckpoint) so the plan stays flat. ``stats["rounds"]``
    reports the rounds used when a dict is passed.
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).unionByName(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("cluster").alias("nc")),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nc").alias("nbc"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["a"], "left").select(
            F.col("id"),
            F.col("cluster").alias("__old__"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nbc"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jump: cluster <- label(cluster); monotone because the
        # parent's label is <= the parent id (labels never exceed ids)
        parent = stepped.select(
            F.col("id").alias("__pid__"), F.col("cluster").alias("__pc__")
        )
        # the convergence flag rides INSIDE the checkpointed round result
        # (one materializing action per round); the probe below only has to
        # find a single flagged row in the cached blocks (limit-1
        # short-circuit), not re-join old vs new labels as a second full job
        new = (
            stepped.join(parent, stepped["cluster"] == parent["__pid__"], "left")
            .select(
                F.col("id"),
                F.coalesce(F.col("__pc__"), F.col("cluster")).alias("cluster"),
                (
                    F.coalesce(F.col("__pc__"), F.col("cluster")) != F.col("__old__")
                ).alias("__chg__"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("__chg__")).limit(1).count()
        labels = new.drop("__chg__")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """Drop near-duplicates: keep one survivor per connected component of
    the pair graph, plus every row in no pair. The standard final stage of
    a MinHash/SimHash dedup pipeline: ``dedup_near(docs,
    minhash_lsh_pairs(docs))``.

    Survivor rule: the MIN id (deterministic across engines and runs), or
    with ``score_col`` the HIGHEST-scoring member of each cluster (ties →
    min id) — the curation-quality variant: dedup against a quality score
    so the best document wins, not the earliest. Either way the joins ship
    only (id, cluster[, score]) — never the documents."""
    clusters = near_dup_clusters(pairs)
    if score_col is None:
        losers = clusters.filter(F.col("cluster") != F.col("id")).select("id")
    else:
        scored = clusters.join(
            df.select(
                F.col(id_col).alias("id"), F.col(score_col).alias("__score__")
            ),
            on="id",
        )
        best = scored.groupBy("cluster").agg(
            # max score, tie-broken by min id: max_by over (score, -id)
            F.max_by("id", F.struct(F.col("__score__"), (-F.col("id")).alias("__nid__"))).alias(
                "__keep__"
            )
        )
        losers = (
            scored.join(best, on="cluster")
            .filter(F.col("id") != F.col("__keep__"))
            .select("id")
        )
    return df.join(
        losers.withColumnRenamed("id", id_col), on=id_col, how="left_anti"
    )
