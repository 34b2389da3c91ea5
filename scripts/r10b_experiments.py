"""r10 resumed-session experiments on the LSH dedup family (sf10).

Each experiment is an EXACT-equivalence candidate measured in isolation,
interleaved arms in one session so both see the same box weather:

  E1  p5 pair agg over a SORTED index checkpoint (sortWithinPartitions("g")
      before the localCheckpoint) vs the current unsorted checkpoint — the
      self-join is an SMJ whose two sides are the same frame, so an
      unsorted checkpoint pays TWO 80M-row sorts per run; a sorted one pays
      one sort at build, zero at join (outputOrdering survives checkpoint).
  E2  E1 + df>=2 prefilter: drop df==1 shingles (they cannot produce a
      pair: the only equal-g partner is the row itself, killed by
      id_a<id_b) via broadcast semi-join of the duplicated-shingle keys.
  E3  p6 verify with a broadcast candidate-id semi filter on the index
      before the two verify joins (25k candidate pairs vs an 80M-row
      index shuffle today).
  E4  p6 doc agg with a multiply-add hash family (h_i = A_i*g + B_i over
      the 64-bit shingle fingerprint) vs 64 xxhash64(lit(i), g) calls.
  E5  p6 bucket-pairs: count-prefilter buckets (HashAggregate) before the
      collect_list ObjectHashAggregate vs direct ObjectHashAggregate.

Usage: python scripts/r10b_experiments.py [--sf DIR] [--passes N] [--only E1,E2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, label, passes):
    fn()  # warm
    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    print(f"{label:55s} min {min(samples):7.3f}  all {[round(s, 2) for s in samples]}",
          flush=True)
    return min(samples)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.data/sf10")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--only", default="E1,E2,E3,E4,E5")
    ap.add_argument(
        "--e6", action="store_true",
        help="run E6 (full p5 sorted-vs-unsorted checkpoint A/B) instead",
    )
    args = ap.parse_args()
    if args.e6:
        e6_full_p5(args.sf, args.passes)
        return
    only = set(args.only.split(","))

    from fugue_spark.benchmarks import load_table, warm_cache
    from fugue_spark.pipeline.dedup import (
        _band_keys,
        _bucket_pairs,
        _jaccard_from_counts,
        _materialize_index,
        _minhash_doc,
        _pair_counts,
        _shingle_index,
    )
    from fugue_spark.session import get_spark, tune_for_input

    spark = get_spark(
        app_name="r10b_experiments", master="local[32]", shuffle_partitions=32,
        spark__ui__enabled="false", spark__driver__memory="48g",
        spark__ui__showConsoleProgress="false",
    )
    tune_for_input(spark, args.sf)
    warm_cache(spark, args.sf)
    docs = load_table(spark, args.sf, "documents")

    if {"E1", "E2"} & only:
        raw = _shingle_index(docs, 3, "text", "doc_id", with_size=True)
        ex_cur = _materialize_index(raw.repartition("g"))
        _noop(ex_cur)
        ex_sorted = _materialize_index(raw.repartition("g").sortWithinPartitions("g"))
        _noop(ex_sorted)
        print("# sorted-join plan (expect no Sort below SMJ):", flush=True)
        p = _pair_counts(ex_sorted, 5000)._sc is None  # noqa: B018 - placeholder
        plan = _pair_counts(ex_sorted, 5000)._jdf.queryExecution().executedPlan().toString()
        print("\n".join(l for l in plan.splitlines() if "Sort" in l or "Join" in l or "Exchange" in l), flush=True)

    if "E1" in only:
        # interleaved arms
        for rnd in range(2):
            _time(lambda: _noop(_pair_counts(ex_cur, 5000)),
                  f"E1.r{rnd} pair agg, UNSORTED ckpt (current)", args.passes)
            _time(lambda: _noop(_pair_counts(ex_sorted, 5000)),
                  f"E1.r{rnd} pair agg, SORTED ckpt", args.passes)

    if "E2" in only:
        dup = ex_sorted.groupBy("g").count().filter(F.col("count") >= 2).select("g")
        nd = dup.count()
        print(f"# duplicated shingles: {nd}", flush=True)

        def e2():
            exd = ex_sorted.join(F.broadcast(dup), on="g", how="left_semi")
            _noop(_pair_counts(exd, 5000))

        for rnd in range(2):
            _time(lambda: _noop(_pair_counts(ex_sorted, 5000)),
                  f"E2.r{rnd} pair agg, sorted (no prefilter)", args.passes)
            _time(e2, f"E2.r{rnd} pair agg, sorted + df>=2 bcast semi", args.passes)

    if {"E3", "E4", "E5"} & only:
        ex6 = _materialize_index(
            _shingle_index(docs, 3, "text", "doc_id").repartition("id"))
        _noop(ex6)
        num_hashes, bands = 64, 16
        r = num_hashes // bands
        doc = _materialize_index(_minhash_doc(ex6, num_hashes))
        _noop(doc)
        banded = _band_keys(doc, bands, r)
        cands = _bucket_pairs(banded, 1000).localCheckpoint(eager=False)
        _noop(cands)

    # E4 (multiply-add hash family for the doc agg) was DROPPED before
    # running: the session runs ANSI mode (Spark 4 default), where 64-bit
    # multiply wraparound raises ArithmeticException, and emulating modular
    # multiply via 32-bit halves costs more Catalyst ops than the
    # xxhash64(lit(i), g) call it would replace.

    if "E3" in only:
        def verify_cur():
            pairs = (
                cands.join(ex6.select(F.col("id").alias("id_a"), "g"), on="id_a")
                .join(ex6.select(F.col("id").alias("id_b"), "g"), on=["id_b", "g"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("shared_c"))
            )
            _noop(_jaccard_from_counts(pairs, doc.select("id", "n_sh"), 5000))

        def verify_pref():
            ids = (cands.select(F.col("id_a").alias("id"))
                   .unionByName(cands.select(F.col("id_b").alias("id"))).distinct())
            exc = ex6.join(F.broadcast(ids), on="id", how="left_semi")
            pairs = (
                cands.join(exc.select(F.col("id").alias("id_a"), "g"), on="id_a")
                .join(exc.select(F.col("id").alias("id_b"), "g"), on=["id_b", "g"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("shared_c"))
            )
            _noop(_jaccard_from_counts(pairs, doc.select("id", "n_sh"), 5000))

        for rnd in range(2):
            _time(verify_cur, f"E3.r{rnd} verify (current)", args.passes)
            _time(verify_pref, f"E3.r{rnd} verify + bcast id semi prefilter", args.passes)

    if "E5" in only:
        def bp_cur():
            _noop(_bucket_pairs(banded, 1000))

        def bp_census():
            sizes = banded.groupBy("bh").agg(F.count(F.lit(1)).alias("k"))
            keep = sizes.filter((F.col("k") >= 2) & (F.col("k") <= 1000)).select("bh")
            kept = banded.join(F.broadcast(keep), on="bh", how="left_semi")
            buckets = kept.groupBy("bh").agg(F.array_sort(F.collect_list("id")).alias("ids"))
            pairs = F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
            out = (buckets.select(F.explode(pairs).alias("p"))
                   .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
                   .distinct())
            _noop(out)

        for rnd in range(2):
            _time(bp_cur, f"E5.r{rnd} bucket pairs (current: census + bucket self-join)", args.passes)
            _time(bp_census, f"E5.r{rnd} bucket pairs census + in-row enumeration", args.passes)




def e6_full_p5(sf: str, passes: int) -> None:
    """Full p5 end-to-end A/B: sorted vs unsorted index checkpoint (the E1
    candidate including its build-side sort cost). Run via:
    python scripts/r10b_experiments.py --e6 [--sf DIR] [--passes N]"""
    from fugue_spark.benchmarks import load_table, warm_cache
    from fugue_spark.pipeline import dedup as D
    from fugue_spark.session import get_spark, tune_for_input

    spark = get_spark(
        app_name="r10b_e6", master="local[32]", shuffle_partitions=32,
        spark__ui__enabled="false", spark__driver__memory="48g",
        spark__ui__showConsoleProgress="false",
    )
    tune_for_input(spark, sf)
    warm_cache(spark, sf)
    docs = load_table(spark, sf, "documents")

    def run(sort: bool):
        raw = D._shingle_index(docs, 3, "text", "doc_id", with_size=True)
        shaped = raw.repartition("g")
        if sort:
            shaped = shaped.sortWithinPartitions("g")
        exr = D._materialize_index(shaped)
        hot = D._hot_shingles(exr, docs, 0.01, 20)
        hot_rows = hot.limit(D._HOT_PROBE_MAX + 1).collect()
        assert len(hot_rows) == 0, "bench corpus should have no hot shingles"
        _noop(D._pair_jaccard(exr, 5000))

    for rnd in range(3):
        _time(lambda: run(False), f"E6.r{rnd} full p5, UNSORTED (current)", passes)
        _time(lambda: run(True), f"E6.r{rnd} full p5, SORTED ckpt", passes)

if __name__ == "__main__":
    main()
