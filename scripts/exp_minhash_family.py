"""r11 E7: cheaper minhash families for the p6 doc aggregation.

Arms (interleaved in one session, same index checkpoint):
  xx   — current: 64 x min(xxhash64(lit(i), g))
  xor  — 64 x min(g XOR C_i), C_i fixed blake2b-derived constants
  lin  — min(m1 + i*m2) with m1 = b1&(2^61-1), m2 = b2&(2^56-1) (overflow-free)

For each arm: (1) doc-agg wall (noop sink), (2) LSH candidate count and
(3) recall vs the exact j>=0.5 pair set (computed once via p5's plan).

Usage: python scripts/exp_minhash_family.py [--sf DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, label, passes):
    fn()
    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    print(f"{label:48s} min {min(samples):7.3f}  all {[round(s, 2) for s in samples]}",
          flush=True)
    return min(samples)


def _const(i: int) -> int:
    return int.from_bytes(
        hashlib.blake2b(f"minhash-{i}".encode(), digest_size=8).digest(),
        "big", signed=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.data/sf1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--skip-recall", action="store_true")
    args = ap.parse_args()

    from fugue_spark.benchmarks import load_table, warm_cache
    from fugue_spark.pipeline import dedup as D
    from fugue_spark.session import get_spark, tune_for_input

    spark = get_spark(
        app_name="exp_minhash_family", master="local[32]", shuffle_partitions=32,
        spark__ui__enabled="false", spark__driver__memory="48g",
        spark__ui__showConsoleProgress="false",
    )
    tune_for_input(spark, args.sf)
    warm_cache(spark, args.sf)
    docs = load_table(spark, args.sf, "documents")
    nh, bands = 64, 16
    r = nh // bands

    ex = D._materialize_index(
        D._shingle_index(docs, 3, "text", "doc_id").repartition("id")
    )
    _noop(ex)

    def aggs_xx():
        return [F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}") for i in range(nh)]

    def aggs_xor():
        return [F.min(F.col("g").bitwiseXOR(F.lit(_const(i)))).alias(f"h{i}")
                for i in range(nh)]

    M61 = (1 << 61) - 1
    M56 = (1 << 56) - 1

    def aggs_lin():
        m1 = F.xxhash64(F.col("g")).bitwiseAND(F.lit(M61))
        m2 = F.xxhash64(F.lit(-1), F.col("g")).bitwiseAND(F.lit(M56))
        return [F.min(m1 + F.lit(i) * m2).alias(f"h{i}") for i in range(nh)]

    arms = {"xx": aggs_xx, "xor": aggs_xor, "lin": aggs_lin}

    # 1) doc-agg cost, interleaved
    for rnd in range(2):
        for name, mk in arms.items():
            _time(
                lambda mk=mk: _noop(
                    ex.groupBy("id").agg(*mk(), F.count(F.lit(1)).alias("n_sh"))
                ),
                f"E7.r{rnd} doc agg [{name}]", args.passes,
            )

    if args.skip_recall:
        return

    # 2) exact pair set once (ground truth)
    exact = {
        (row.id_a, row.id_b)
        for row in D.ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    }
    print(f"# exact pairs: {len(exact)}", flush=True)

    for name, mk in arms.items():
        doc = ex.groupBy("id").agg(*mk(), F.count(F.lit(1)).alias("n_sh"))
        doc = doc.localCheckpoint(eager=False)
        banded = D._band_keys(doc, bands, r)
        cands = D._bucket_pairs(banded, 1000)
        n_cand = cands.count()
        pairs = D._verified_pair_counts(cands, ex, ex, docs)
        out = {
            (row.id_a, row.id_b)
            for row in D._jaccard_from_counts(
                pairs, doc.select("id", "n_sh"), 5000
            ).collect()
        }
        missed = exact - out
        print(
            f"[{name}] candidates={n_cand} verified={len(out)} "
            f"missed={len(missed)} extras={len(out - exact)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
