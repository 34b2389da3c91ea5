"""Headline query registry: Spark implementation + DuckDB oracle SQL.

Each entry is one operator family from SURVEY.md §2 (or a beyond-reference
pipeline operator) expressed as:
  * a Spark callable ``(spark, sf_dir) -> DataFrame`` built on this engine,
  * an equivalent ANSI-SQL string DuckDB can run over the same parquet
    tables (views: region nation customer supplier part orders lineitem
    events documents embeddings), or ``None`` for non-SQL-expressible ops.

Column-name contract: every computed column is aliased identically in both
forms — the driver sorts columns by name before value-hashing.

Float contract: aggregates over doubles are rounded (ROUND(x, k)) in BOTH
engines so independent summation orders still hash identically.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

__all__ = ["QUERIES", "QuerySpec", "load_table", "register"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Optional input cache (bench harness): the driver-generated parquet files
# have a single row group each, which caps any scan at ONE task (a parquet
# row group is Spark's splitting unit). warm_cache() re-partitions each
# such table across the cores and persists it, so benchmarks measure query
# execution rather than a single-threaded decode of a test-file artifact.
#
# MULTI-row-group scan-bound tables (the sf1/sf10 inputs: 13-489 row
# groups) are deliberately NOT cached (r10): the native parquet scan
# already parallelizes, and the measured comparison
# (OPTIMIZATION_r10.md, methodology notes; clean window, sf10) showed the
# InMemoryColumnar posture is BIMODAL under heap pressure — q1 cached
# sampled 2.4s best / 27-68s under GC, while the native multi-split scan
# held a tight 1.90-2.26s and BEAT the best cached sample. Skipping the
# cache is also the honest 100 TB posture: nobody persists 100 TB of
# input before querying it.
#
# On a running JVM the cache build is nearly all of a bench set-up's CPU,
# so each cache is built in one pass with no work the queries do not use.
# Build CPU-s of sf0.1 lineitem (600k rows, local[4], 4-core box, median
# [min-max] of 6 builds on a warm JVM) for each step:
# * several partitions: rows are spread by a content hash (xxhash64 of
#   every hashable column). A round-robin repartition sorts every row
#   first so that a retried task gets the same rows (SPARK-23207); a
#   content hash is retry-deterministic without the sort.
#   Round-robin 2.05 [1.94-2.37] -> hash 1.61 [1.44-1.94].
# * one partition: coalesce(1), so the build has no exchange at all.
# * uncompressed column batches: hash 1.61 -> 1.07 [0.94-1.32]. Compression
#   saves a few MiB (lineitem 21.0 -> 17.9 MiB, orders 3.4 -> 2.9,
#   documents 0.8 -> 0.8: text does not compress), and the query plans
#   above the cache are the same for both layouts.
# * one job for all tables: every frame is persisted first, then one count
#   over the union of one literal column per frame builds them all (a
#   count per table was a job per table). With AQE on, each shuffled
#   cache still adds a job for its exchange. sf0.01, every table cached,
#   AQE off: 10 count jobs -> 1. Traced perfbench runs (one per side):
#   benchmarks.warm_cache_s 0.34 -> 0.20 s relational-sf0.5 (3 dims, with
#   the schema memo of sources.load_df), 0.77 -> 0.56 s small-sf0.1.
_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}
_COMPRESSED = "spark.sql.inMemoryColumnarStorage.compressed"


def warm_cache(spark: SparkSession, sf_dir: str, tables: "tuple[str, ...]" = TABLES) -> None:
    from pyspark import StorageLevel

    from fugue_spark.session import _SMALL_PARTITION_BYTES, _path_bytes

    n = spark.sparkContext.defaultParallelism
    # parquet BYTES track compute for scan/join/agg tables, but badly
    # under-represent it for the text/embedding/event pipelines (shingling,
    # vector math — row-proportional with heavy per-row constants), so
    # those always fan out to all cores AND stay cached at every scale
    # (they are small — the compute, not the scan, is the workload).
    # Measured on sf1 documents (50k rows, 3.5 MB; local[4], 4-core box,
    # warm median of 3 fresh processes x 3 passes): p5 2.94 s cached vs
    # 4.55 s native, p6 2.83 vs 4.68 — the native scan of a file this
    # small is one split whatever its row groups.
    compute_dense = {"documents", "embeddings", "events"}
    names: list[str] = []
    frames: list[DataFrame] = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path) or _cached(spark, sf_dir, t) is not None:
            continue
        if t not in compute_dense and _splittable_row_groups(path) > 1:
            continue  # native scan parallelizes; see module note above
        # size the cache's partition count to the TABLE, not the core count:
        # a 0.3 MB dim cached as 32 partitions makes every downstream stage
        # pay 32 task dispatches for microseconds of work (measured: the
        # dominant sf0.1 constant). Same granule tune_for_input uses for
        # shuffle partitions; large tables still fan out to all cores.
        if t in compute_dense:
            parts = n
        else:
            parts = max(1, min(n, _path_bytes(path) // _SMALL_PARTITION_BYTES + 1))
        names.append(t)
        frames.append(_spread(load_table(spark, sf_dir, t), parts))
    if not frames:
        return
    from pyspark.sql import functions as F

    prev = spark.conf.get(_COMPRESSED)
    spark.conf.set(_COMPRESSED, "false")
    try:
        for df in frames:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        # one action builds every cache; see the module note
        reduce(DataFrame.union, [df.select(F.lit(1)) for df in frames]).count()
    except BaseException:
        for df in frames:
            df.unpersist()
        raise
    finally:
        spark.conf.set(_COMPRESSED, prev)
    for t, df in zip(names, frames):
        _TABLE_CACHE[(sf_dir, t)] = df


def _spread(df: DataFrame, parts: int) -> DataFrame:
    """``df`` in ``parts`` partitions without a sort; see the module note."""
    if parts == 1:
        return df.coalesce(1)
    from pyspark.sql import functions as F

    from fugue_spark.sources import hashable

    cols = [df[f.name] for f in df.schema.fields if hashable(f.dataType)]
    if not cols:
        return df.repartition(parts)
    return df.repartition(parts, F.xxhash64(*cols))


def _cached(spark: SparkSession, sf_dir: str, name: str) -> "DataFrame | None":
    """The cached frame of ``name`` if it belongs to ``spark``. An entry
    made in another session is dropped: once that session stops, reading
    it fails."""
    df = _TABLE_CACHE.get((sf_dir, name))
    if df is None or df.sparkSession is spark:
        return df
    if df.sparkSession._jsparkSession.equals(spark._jsparkSession):
        return df
    try:
        _TABLE_CACHE.pop((sf_dir, name)).unpersist()
    except Exception:  # noqa: BLE001 - the old session may be stopped
        pass
    return None


def _splittable_row_groups(path: str) -> int:
    """Row groups a Spark scan of ``path`` can split into (a directory of
    files splits at least per file). Unreadable metadata counts as 1 —
    the caller then falls back to caching, the safe legacy posture."""
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).num_row_groups
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if len(parts) > 1:
                return len(parts)
            if parts:
                return pq.ParquetFile(os.path.join(path, parts[0])).num_row_groups
    except Exception:  # noqa: BLE001 - metadata read is best-effort
        pass
    return 1


def release_cache(sf_dir: "str | None" = None) -> None:
    """Unpersist cached inputs (one sf dir, or all). The bench calls this
    between scale phases so a finished phase's cached tables don't sit in
    the executor heap inflating GC pressure during the next phase."""
    for key in [k for k in _TABLE_CACHE if sf_dir is None or k[0] == sf_dir]:
        try:
            _TABLE_CACHE.pop(key).unpersist()
        except Exception:  # pragma: no cover - session already gone
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cached = _cached(spark, sf_dir, name)
    if cached is not None:
        return cached
    if name == "events":
        # the driver may hand us a session without our defaults; nano
        # timestamps are an analysis error unless read as longs
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from fugue_spark.sources import load_df

    df = load_df(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): read as nano-long (see
        # session defaults), truncate to micros, expose as timestamp_ntz —
        # matching DuckDB's CAST(ts AS TIMESTAMP) truncation.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
    return df


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # TIMING-only DuckDB SQL (correctness still checks ``oracle``): used when
    # the oracle deliberately skips work the Spark side performs — e.g. q9's
    # oracle aggregates the ORIGINAL table (equality proves the round trip
    # lossless) while the Spark side does a real write+reload, so timing the
    # oracle would compare an IO benchmark against a no-IO query. Statements
    # are ';'-separated; the last one's result is fetched.
    duck_bench: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    duck_bench: str | None = None,
):
    """Decorator: add a (spark_fn, oracle) pair to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, fn, oracle, tags, bench, duck_bench)
        return fn

    return deco


# Import modules that populate the registry (order = display order).
from fugue_spark import queries_relational  # noqa: E402,F401
from fugue_spark import queries_pipeline  # noqa: E402,F401

# Gate-order priority: the driver's correctness checker walks ``queries()``
# in dict order under a budget (historically truncating at ~50 rows), so
# gates ROTATE — the 29 families whose latest driver-artifact row is oldest
# (r09: everything outside r08's 50-query window, attested only by
# GATE_FULL_r08.json) run FIRST, so every operator family re-earns a
# driver row at least every other round. Everything else keeps its
# registration order.
# r10 rotation (VERDICT r09 task #8): the driver truncates at 50, so the
# front holds (a) gates NEW or CHANGED this round, (b) every gate whose
# last driver-artifact row is two rounds old (the r09 pass*-only set:
# q25-q28, p1-p7, p14-p28, p42-p44), then (c) the relational core. The
# r09-green remainder (q21-q24, p8-p13, p29-p41, s1-s5) rotates back in
# next round — no gate goes more than two rounds without a driver row.
_GATE_FIRST = (
    # new/changed this round
    "p45_semantic_dedup",
    "p46_compact_roundtrip",
    "q19_sample_deterministic",
    "q31_dropna_fillna_persist",
    # driver-stale since r08 (pass* in r09)
    "q25_transform_filter_compiled",
    "q26_transform_condagg_compiled",
    "q27_transform_topk_compiled",
    "q28_transform_dedup_compiled",
    "p1_token_stats",
    "p2_quality_score",
    "p3_lang_id",
    "p4_dedup_exact",
    "p5_ngram_jaccard_pairs",
    "p6_minhash_lsh_pairs",
    "p7_simhash_pairs",
    "p14_simhash_planted_pairs",
    "p15_near_dedup_corpus",
    "p16_sequence_packing",
    "p17_corpus_length_stats",
    "p18_hash_sample",
    "p19_sequence_packing_global",
    "p20_repetition_stats",
    "p21_ngram_topk",
    "p22_ngram_overlap",
    "p23_stratified_mix",
    "p24_tfidf_scores",
    "p25_scrub_text",
    "p26_chunk_documents",
    "p27_duplicate_spans",
    "p28_word_entropy",
    "p42_temperature_mix",
    "p43_mixture_budgets",
    "p44_mixture_report",
    # relational core fills the remaining window slots
    "q1_pricing_summary",
    "q2_filter_project",
    "q3_join_revenue_by_nation",
    "q4_semi_join",
    "q5_anti_join",
    "q6_topk_per_customer",
    "q7_setops_brands",
    "q8_assign_fillna_agg",
    "q9_io_roundtrip",
    "q10_sql_passthrough_window",
    "q11_transform_per_order",
    "q12_cotransform_order_lines",
    "q13_fuguesql_script",
    "q14_alter_columns_cast",
    "q15_cube_rollup",
    "q16_pivot",
    "q17_left_join_fillna",
    "q18_distinct",
    "q20_transform_arrow_per_order",
)


def _reorder() -> None:
    front = {n: QUERIES.pop(n) for n in _GATE_FIRST if n in QUERIES}
    rest = dict(QUERIES)
    QUERIES.clear()
    QUERIES.update(front)
    QUERIES.update(rest)


_reorder()
