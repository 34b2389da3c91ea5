"""Distributed Bloom filter: incremental dedup against a corpus too big to
join.

The operational problem at 100 TB: every ingest batch must be deduped
against ALL history. An exact anti-join re-shuffles history's fingerprints
every batch; a Bloom filter summarizes them ONCE into n_bits/8 bytes
(1 GiB covers ~860 M fingerprints at 1% FP) and each batch then pays a
map-side probe. No reference counterpart (beyond-reference operator, the
persistence-friendly sibling of ``dedup_exact``).

Spark shape — the filter IS a DataFrame, never a driver-side bitmap:

* build: each fingerprint sets k = ``n_hashes`` bit positions
  (xxhash64 with distinct seeds — JVM, deterministic); positions fold to
  ``(word_idx, or-of-bit-masks)`` rows via ``bit_or`` aggregation. The
  result has at most n_bits/64 rows regardless of corpus size, and both
  build and probe are map-side-combined aggregations/joins — nothing
  corpus-sized ever reaches the driver.
* probe: the batch explodes to its k (word_idx, mask) probes, one
  equi-join against the filter on word_idx (Spark broadcasts it while it
  fits, shuffles when it doesn't), and a row is a MAYBE-duplicate iff all
  k probed bits are set.
* persistence: save/load the (word, bits) frame as parquet — the
  signature store for incremental pipelines. Filters over the same
  ``n_bits``/``n_hashes`` merge by unioning and re-aggregating
  (``bloom_merge``) — Bloom OR-composition.

Semantics: ``maybe_dup = false`` is EXACT (no false negatives — every
history fingerprint's bits are all set); ``maybe_dup = true`` is
probabilistic with FP rate ≈ (1 - e^(-k·n/m))^k. ``dedup_incremental``
keeps only definitely-new rows; exactness-critical flows verify the
flagged remainder against history with an equi-join on the fingerprint —
bounded by the flagged count, not the batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fugue_spark.pipeline.dedup import _normalized

__all__ = ["bloom_build", "bloom_flag", "bloom_merge", "dedup_incremental"]

_WORD_BITS = 64


def _fingerprint(text_col: str) -> F.Column:
    # same normalization contract as dedup_exact: whitespace-collapsed,
    # lowercased, trimmed — so bloom history and exact dedup agree on what
    # "the same document" means
    return F.xxhash64(_normalized(text_col))


def _positions(fp: F.Column, n_bits: int, n_hashes: int) -> "list[F.Column]":
    # k independent positions from xxhash64 re-hashes of the fingerprint
    # under distinct literal seeds; pmod keeps them non-negative
    return [
        F.pmod(F.xxhash64(fp, F.lit(i)), F.lit(n_bits)) for i in range(n_hashes)
    ]


def _bit_mask() -> F.Column:
    # 1L << (pos % 64) — pyspark's shiftleft() binding takes only a Python
    # int for the shift amount, so the column-shift goes through expr()
    return F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))")


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Fold a corpus into a Bloom frame ``(word: long, bits: long)`` with at
    most ``n_bits/64`` rows. Size ``n_bits`` ≈ 10× the expected distinct
    fingerprints for ~1% FP at the default k=5."""
    if n_bits % _WORD_BITS:
        raise ValueError(f"n_bits must be a multiple of {_WORD_BITS}")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    fp = _fingerprint(text_col)
    pos = F.explode(F.array(*_positions(fp, n_bits, n_hashes))).alias("pos")
    out = (
        df.select(pos)
        .select(
            (F.col("pos") / _WORD_BITS).cast("long").alias("word"),
            _bit_mask().alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return _stamp(out, n_bits, n_hashes)


def _stamp(bloom: DataFrame, n_bits: int, n_hashes: int) -> DataFrame:
    # the filter is self-describing: its geometry rides as column metadata
    # on `bits` (survives Spark parquet round trips), so a probe can never
    # silently use the wrong n_bits/n_hashes
    return bloom.withColumn(
        "bits",
        F.col("bits").alias("bits", metadata={"n_bits": n_bits, "n_hashes": n_hashes}),
    )


def _geometry(bloom: DataFrame) -> "tuple[int, int]":
    md = next(
        (f.metadata for f in bloom.schema.fields if f.name == "bits"), None
    )
    if not md or "n_bits" not in md or "n_hashes" not in md:
        raise ValueError(
            "not a bloom frame (missing n_bits/n_hashes metadata on `bits`); "
            "build it with bloom_build or re-stamp after manual surgery"
        )
    return int(md["n_bits"]), int(md["n_hashes"])


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR-compose filters built with the SAME n_bits/n_hashes (Bloom union:
    the merged filter answers for the union of the corpora)."""
    if not blooms:
        raise ValueError("bloom_merge needs at least one filter")
    geoms = {_geometry(b) for b in blooms}
    if len(geoms) > 1:
        raise ValueError(f"cannot merge filters of different geometry: {sorted(geoms)}")
    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    merged = u.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    return _stamp(merged, *geoms.pop())


_BROADCAST_MAX_BITS = 1 << 31  # 256 MB bitmap — above this, use mode="join"


def bloom_flag(
    df: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    mode: str = "join",
) -> DataFrame:
    """Add ``maybe_dup`` (boolean): true iff all k probed bits are set in
    ``bloom``. The probe geometry (n_bits/n_hashes) is read from the
    filter's own metadata — a mismatched probe cannot be expressed.

    ``mode="join"`` (default): one equi-join on the word index carries the
    probes; the left join treats an absent word row as all-zero bits
    (definitely new). Works at ANY filter size.

    ``mode="broadcast"``: the filter materializes into one dense bitmap
    (n_bits/8 bytes — refused above 256 MB) shipped via a Spark broadcast;
    membership is a single vectorized Arrow pass with NO join, NO shuffle
    and NO checkpoint — the streaming-safe and small-filter-fast path
    (an ingest stream can probe history inline)."""
    if mode == "broadcast":
        return _bloom_flag_broadcast(df, bloom, text_col)
    if mode != "join":
        raise ValueError(f"unknown bloom_flag mode {mode!r}")
    n_bits, n_hashes = _geometry(bloom)
    id_tag = "__bloom_row__"
    probes = F.array(*_positions(_fingerprint(text_col), n_bits, n_hashes))
    # monotonically_increasing_id is non-deterministic per evaluation, and
    # the tag is referenced on BOTH sides of the probe join — pin it with a
    # lazy localCheckpoint so the two branches see the same ids (same fix
    # as the multi-branch indexes of dedup.py and similarity.py)
    tagged = (
        df.withColumn(id_tag, F.monotonically_increasing_id())
        .withColumn("__probes__", probes)
        .localCheckpoint(eager=False)
    )
    exploded = tagged.select(
        id_tag, F.explode(F.array_distinct("__probes__")).alias("pos")
    ).select(
        id_tag,
        (F.col("pos") / _WORD_BITS).cast("long").alias("word"),
        _bit_mask().alias("mask"),
    )
    hits = (
        exploded.join(bloom, on="word", how="left")
        .withColumn(
            "__hit__",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) == F.col("mask")),
        )
        .groupBy(id_tag)
        .agg(F.min("__hit__").alias("maybe_dup"))
    )
    return (
        tagged.join(hits, on=id_tag, how="left")
        .withColumn("maybe_dup", F.coalesce(F.col("maybe_dup"), F.lit(False)))
        .drop(id_tag, "__probes__")
    )


def dedup_incremental(
    new_df: DataFrame,
    bloom: DataFrame,
    history: "DataFrame | None" = None,
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``new_df`` not present in the corpus ``bloom`` summarizes.

    Without ``history``: drops every maybe-dup (exact no-false-negative
    guarantee keeps all truly-new rows except Bloom's ~FP-rate collateral).
    With ``history``: the flagged remainder is re-checked against
    history's 128-bit md5 fingerprints (anti-join bounded by the flagged
    count — the classic bloom-then-verify split). The verify key is md5
    of the normalized text, NOT the bloom's 64-bit xxhash64: at
    billion-document histories a 64-bit birthday collision is likely and
    would silently drop a novel document, while 128 bits is the same
    "same document" contract ``dedup_exact`` stakes its own results on.

    Scope: this dedups against HISTORY only — two copies of the same new
    document within one batch both survive; run ``dedup_exact`` on the
    batch first (or after) for within-batch uniqueness."""
    flagged = bloom_flag(new_df, bloom, text_col)
    clean = flagged.filter(~F.col("maybe_dup")).drop("maybe_dup")
    if history is None:
        return clean
    suspects = flagged.filter(F.col("maybe_dup")).drop("maybe_dup")
    verify_fp = F.md5(_normalized(text_col))
    hist_fp = history.select(verify_fp.alias("__fp__")).distinct()
    rescued = suspects.withColumn("__fp__", verify_fp).join(
        hist_fp, on="__fp__", how="left_anti"
    ).drop("__fp__")
    return clean.unionByName(rescued)


def _bloom_flag_broadcast(df: DataFrame, bloom: DataFrame, text_col: str) -> DataFrame:
    n_bits, n_hashes = _geometry(bloom)
    if n_bits > _BROADCAST_MAX_BITS:
        raise ValueError(
            f"n_bits={n_bits} exceeds the broadcast-bitmap bound "
            f"({_BROADCAST_MAX_BITS}); use mode='join'"
        )
    # bounded materialization: <= n_bits/64 (word, bits) rows by
    # construction — Arrow transfer + one vectorized scatter, never a
    # Python loop over Row objects (33.5M rows at the 256 MB bound)
    arr = np.zeros(n_bits // _WORD_BITS, dtype=np.uint64)
    pdf = bloom.select("word", "bits").toPandas()
    if len(pdf):
        arr[pdf["word"].to_numpy(dtype=np.int64)] = (
            pdf["bits"].to_numpy(dtype=np.int64).view(np.uint64)
        )
    bc = df.sparkSession.sparkContext.broadcast(arr)

    @F.pandas_udf("boolean")
    def member_udf(probe_lists: pd.Series) -> pd.Series:
        bitmap = bc.value
        if not len(probe_lists):
            return pd.Series([], dtype=bool)
        pos = np.stack([np.asarray(p, dtype=np.int64) for p in probe_lists])
        word = pos // _WORD_BITS
        mask = np.uint64(1) << (pos % _WORD_BITS).astype(np.uint64)
        hit = (bitmap[word] & mask) == mask
        return pd.Series(hit.all(axis=1))

    probes = F.array(*_positions(_fingerprint(text_col), n_bits, n_hashes))
    return df.withColumn("maybe_dup", member_udf(probes))
