"""Phase decomposition for the LSH dedup family (r10 second slice).

Times each phase of p5 (ngram_jaccard_pairs) and p6 (minhash_lsh_pairs) in
isolation at a given sf dir, so optimization targets the measured phase:

  p5: [shingle+index ckpt] [hot probe] [self-join + pair agg]
  p6: [shingle+index ckpt] [doc agg (64 minhashes)] [banding + bucket pairs]
      [verify joins + count agg]

Each phase is forced with the noop sink where it is a dataframe, or timed
around the driver action where it is one. min-of-N reported.

Usage: python scripts/dedup_phases.py {p5,p6} [--sf DIR] [--passes N]
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
    print(f"{label:50s} min {min(samples):7.3f}  all {[round(s, 2) for s in samples]}",
          flush=True)
    return min(samples)


def p5_phases(spark, sf_dir, passes):
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline.dedup import (
        _hot_shingles,
        _materialize_index,
        _pair_counts,
        _pair_jaccard,
        _shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents")

    # phase 1: shingle index (no checkpoint, no repartition) — the scan+explode
    _time(lambda: _noop(_shingle_index(docs, 3, "text", "doc_id", with_size=True)),
          "p5.1 shingle index scan (no ckpt)", passes)

    # phase 1b: + repartition(g) (the exchange)
    _time(lambda: _noop(
        _shingle_index(docs, 3, "text", "doc_id", with_size=True).repartition("g")),
        "p5.1b + repartition(g)", passes)

    # build the checkpoint once for the remaining phases (not timed here)
    exr = _materialize_index(
        _shingle_index(docs, 3, "text", "doc_id", with_size=True).repartition("g")
    )
    _noop(exr)  # force materialization

    # phase 2: hot probe aggregation over the materialized index
    _time(lambda: _hot_shingles(exr, docs, 0.01, 20).limit(65537).collect(),
          "p5.2 hot probe (groupBy g + count)", passes)

    # phase 3: self-join + pair aggregation over the materialized index
    _time(lambda: _noop(_pair_jaccard(exr, 5000)),
          "p5.3 self-join + pair agg (from ckpt)", passes)

    # variant: pair counts only (no jaccard filter — same plan minus project)
    _time(lambda: _noop(_pair_counts(exr, 5000)),
          "p5.3v pair counts only", passes)


def p6_phases(spark, sf_dir, passes):
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline.dedup import (
        _band_keys,
        _bucket_pairs,
        _jaccard_from_counts,
        _materialize_index,
        _minhash_doc,
        _shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents")

    _time(lambda: _noop(_shingle_index(docs, 3, "text", "doc_id")),
          "p6.1 shingle index scan (no ckpt)", passes)

    ex = _materialize_index(
        _shingle_index(docs, 3, "text", "doc_id").repartition("id")
    )
    _noop(ex)

    num_hashes, bands = 64, 16
    r = num_hashes // bands

    _time(lambda: _noop(_minhash_doc(ex, num_hashes)),
          "p6.2 doc agg (64 minhash + n_sh) from ckpt", passes)

    doc = _materialize_index(_minhash_doc(ex, num_hashes))
    _noop(doc)

    banded = _band_keys(doc, bands, r)
    _time(lambda: _noop(banded), "p6.3 banding projection", passes)
    _time(lambda: _noop(_bucket_pairs(banded, 1000)),
          "p6.3b + bucket pairs agg", passes)

    cands = _bucket_pairs(banded, 1000).localCheckpoint(eager=False)
    _noop(cands)
    print(f"# candidate pairs: {cands.count()}", flush=True)

    def verify():
        pairs = (
            cands.join(ex.select(F.col("id").alias("id_a"), "g"), on="id_a")
            .join(ex.select(F.col("id").alias("id_b"), "g"), on=["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_c"))
        )
        _noop(_jaccard_from_counts(pairs, doc.select("id", "n_sh"), 5000))

    _time(verify, "p6.4 verify joins + count agg (from ckpts)", passes)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("which", choices=["p5", "p6"])
    ap.add_argument("--sf", default="/root/repo/.data/sf10")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from fugue_spark.benchmarks import warm_cache
    from fugue_spark.session import get_spark, tune_for_input

    conf = {}
    for kv in args.conf:
        k, v = kv.split("=", 1)
        conf[k.replace(".", "__")] = v
    spark = get_spark(
        app_name="dedup_phases",
        master="local[32]",
        shuffle_partitions=32,
        spark__ui__enabled="false",
        spark__driver__memory="48g",
        **conf,
    )
    tune_for_input(spark, args.sf)
    warm_cache(spark, args.sf)  # bench posture: documents cached across cores
    print(f"# load_avg {os.getloadavg()}", flush=True)
    if args.which == "p5":
        p5_phases(spark, args.sf, args.passes)
    else:
        p6_phases(spark, args.sf, args.passes)


if __name__ == "__main__":
    main()
