"""Pipeline-operator tests: dedup family cross-checks (LSH ⊆ exact,
recall), ANN recall vs brute force, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fugue_spark.pipeline import (
    as_media,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    dedup_exact,
    extract_features,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    pack_wav,
    simhash_pairs,
    with_fingerprint,
    with_lang_id,
    with_token_stats,
)
from fugue_spark.schema import parse_schema

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from fugue_spark.benchmarks import load_table

    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from fugue_spark.benchmarks import load_table

    return load_table(spark, SF, "embeddings").cache()


def test_dedup_exact_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [[1, "Hello  World"], [2, "hello world"], [3, "other"]],
        parse_schema("doc_id:long,text:str"),
    )
    out = dedup_exact(df)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3]  # normalization folds case+whitespace; keep-first


def test_token_stats_small(spark):
    df = spark.createDataFrame(
        [[1, "Hello, world! 42"], [2, ""]], parse_schema("doc_id:long,text:str")
    )
    r = {x.doc_id: x for x in with_token_stats(df).collect()}
    assert r[1].n_ws_tokens == 3
    # Hello , world ! 42 → 5 BPE-ish tokens
    assert r[1].n_bpe_tokens == 5
    assert r[2].n_ws_tokens == 0 and r[2].n_bpe_tokens == 0


def test_token_stats_split_form_equals_alternation(spark):
    """The split-form BPE count (r10: per-class run regexes + translate
    arithmetic) must equal counting matches of the reference alternation
    [A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s] on adversarial inputs: class
    transitions without separators, every Java \\s char, non-ASCII
    whitespace (NBSP counts as a token), CJK, punctuation runs."""
    import re

    cases = [
        "abc123def",  # letter/digit transitions, no separators
        "a1b2c3!!??..",  # alternating + punctuation run
        " \t\n\x0b\f\r",  # exactly the Java \s set
        "café touché",  # non-ASCII letters are NOT [A-Za-z]
        " nbsp ",  # NBSP is not \s → counts as a token
        "漢字テスト abc 123",
        "", "   ", "a", "1", ".",
        "e=mc^2; x_1+x_2=10 (approx.)",
    ]
    # reference spelled with Java's \\s set explicitly (Python \\s is
    # Unicode-wide and would wrongly swallow NBSP)
    ref = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]")
    df = spark.createDataFrame(
        [[i, t] for i, t in enumerate(cases)], parse_schema("doc_id:long,text:str")
    )
    got = {x.doc_id: x.n_bpe_tokens for x in with_token_stats(df).collect()}
    for i, t in enumerate(cases):
        assert got[i] == len(ref.findall(t)), (i, t, got[i], len(ref.findall(t)))


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            [1, "the cat and the dog of the house"],
            [2, "der hund und die katze ist das"],
            [3, "xyzzy qwerty"],
            [4, "这是 中文 文本"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    r = {x.doc_id: x.lang_pred for x in with_lang_id(df).collect()}
    assert r == {1: "en", 2: "de", 3: "und", 4: "zh"}


def test_fingerprint_stable(spark):
    df = spark.createDataFrame(
        [[1, "A  b"], [2, "a b"]], parse_schema("doc_id:long,text:str")
    )
    fps = [r.fingerprint for r in with_fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1]  # normalization-equal texts collide on purpose


def test_minhash_subset_of_exact_with_recall(spark, docs):
    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=16).collect()
    }
    assert lsh <= exact  # verify step removes all false positives
    assert len(exact) > 0
    assert len(lsh) >= 0.8 * len(exact)  # banding recall at j≥0.5


def test_simhash_finds_neardups(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=12).collect()
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    got = {(r.id_a, r.id_b) for r in pairs}
    # strong near-dups (j≥0.8) share most vocabulary → low hamming
    assert len(exact) == 0 or len(exact & got) >= 0.5 * len(exact)


@pytest.mark.parametrize("dim", [32, 64])
def test_ann_lsh_recall_on_planted_neighbors(spark, dim):
    """LSH must recall TRUE near neighbors (cos≈0.99 planted copies);
    mid-similarity recall is low by design — that's the hash trade-off."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, dim))
    rows = []
    vid = 0
    for i in range(20):
        rows.append([vid, [float(x) for x in base[i]]])
        vid += 1
    base_n = len(rows)
    for i in range(20):
        for _ in range(3):
            noisy = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append([vid, [float(x) for x in noisy]])
            vid += 1
    df = spark.createDataFrame(rows, parse_schema("vec_id:long,embedding:[float]"))
    queries = df.filter(F.col("vec_id") < base_n)
    brute = cosine_topk_bruteforce(df, queries, k=3)
    approx = cosine_topk_lsh(df, queries, k=3, n_planes=8, n_tables=8)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(b) == 60  # 3 planted copies per query dominate
    assert len(a & b) >= 0.9 * len(b)


def test_ann_lsh_buckets_any_dimension(spark):
    """The sketch reads the dimension from the data: 32-dim vectors spread
    over the buckets, so unrelated random vectors are mostly never
    candidates and LSH returns fewer rows than brute force (a sketch whose
    planes did not match the data would put every vector in one bucket and
    return exactly the brute-force rows)."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [[i, [float(x) for x in v]] for i, v in enumerate(rng.standard_normal((300, 32)))]
    df = spark.createDataFrame(rows, parse_schema("vec_id:long,embedding:[float]"))
    queries = df.filter(F.col("vec_id") < 10)
    assert cosine_topk_bruteforce(df, queries, k=3).count() == 30
    assert cosine_topk_lsh(df, queries, k=3).count() < 30


def test_lsh_keys_match_reference_sketch(spark):
    """The vectorized sketch equals a row-at-a-time reference: key
    ``t·2^p + bucket``, bit i set iff the left-fold double dot with plane i
    of table t (seed 1000 + t) is ≥ 0."""
    import numpy as np

    from fugue_spark.pipeline.similarity import _lsh_keys

    p, t_n, d = 6, 3, 16
    vecs = np.random.default_rng(5).standard_normal((20, d)).astype(np.float32)
    df = spark.createDataFrame(
        [[i, [float(x) for x in v]] for i, v in enumerate(vecs)],
        parse_schema("vec_id:long,embedding:[float]"),
    )
    got = {
        r.vec_id: list(r.k)
        for r in df.select("vec_id", _lsh_keys(F.col("embedding"), p, t_n).alias("k")).collect()
    }
    planes = [np.random.default_rng(1000 + t).standard_normal((p, d)) for t in range(t_n)]
    want = {}
    for i, v in enumerate(vecs):
        keys = []
        for t in range(t_n):
            bucket = 0
            for b, plane in enumerate(planes[t]):
                dot = 0.0
                for x, y in zip(v.tolist(), plane.tolist()):
                    dot += x * y
                bucket += (dot >= 0) << b
            keys.append(t * 2**p + bucket)
        want[i] = keys
    assert got == want


def test_embedding_family_empty_corpus(spark):
    """An empty corpus yields empty results from every embedding operator
    (the learned quantizers train on an empty sample); pq_train alone
    refuses, with its named error."""
    from fugue_spark.pipeline import (
        cosine_topk_ivf,
        near_duplicates_lsh,
        pq_train,
        semantic_dedup,
    )

    schema = parse_schema("vec_id:long,embedding:[float]")
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([[1, [1.0, 0.0]]], schema)
    results = {
        "bruteforce": cosine_topk_bruteforce(empty, empty, k=3),
        "lsh": cosine_topk_lsh(empty, empty, k=3),
        "ivf": cosine_topk_ivf(empty, empty, k=3),
        "ivf_with_queries": cosine_topk_ivf(empty, one, k=3),
        "near_duplicates_lsh": near_duplicates_lsh(empty),
        "semantic_dedup_first_k": semantic_dedup(empty),
        "semantic_dedup_kmeans": semantic_dedup(empty, centroids="kmeans"),
    }
    assert {name: df.count() for name, df in results.items()} == dict.fromkeys(results, 0)
    assert results["ivf"].columns == ["query_id", "neighbor_id", "cosine_e6", "rank"]
    with pytest.raises(ValueError, match="non-empty corpus"):
        pq_train(empty)


def test_media_features_deterministic(spark, docs, monkeypatch):
    import zlib

    from fugue_spark.pipeline import multimodal

    media = as_media(docs.limit(20), "text", mime="text/plain")
    assert media.schema["meta"].dataType.fieldNames() == ["mime", "n_bytes", "sha1"]
    # unregistered mime: loud failure
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no decoder registered"):
        extract_features(media)

    def crc_stub(raw: bytes) -> dict:
        crc = zlib.crc32(raw) & 0xFFFFFFFF
        return {"width": 1 + crc % 1024, "height": 1 + (crc >> 10) % 1024}

    monkeypatch.setitem(multimodal._DECODERS, "text/plain", crc_stub)
    f1 = sorted(map(tuple, extract_features(media, mime="text/plain").collect()))
    f2 = sorted(map(tuple, extract_features(media, mime="text/plain").collect()))
    assert f1 == f2
    assert all(t[1] > 0 and t[2] >= 1 for t in f1)  # n_bytes, width


def test_media_binary_passthrough(spark):
    df = spark.createDataFrame(
        [[1, bytearray(b"\x89PNG1234")]], parse_schema("doc_id:long,raw:bytes")
    )
    media = as_media(df, "raw", mime="image/png")
    row = media.collect()[0]
    assert bytes(row.blob) == b"\x89PNG1234"
    assert row.meta.n_bytes == 8 and row.meta.mime == "image/png"


def test_wav_codec_real_decode(spark):
    """pack_wav assembles a spec-conformant RIFF blob JVM-side — proven by
    decoding it with Python's stdlib `wave` module (external reference
    implementation) — and extract_features reports REAL decoded values."""
    import io
    import wave

    import numpy as np

    df = spark.createDataFrame(
        [[1, "hello world"], [2, "x" * 300], [3, ""]],
        parse_schema("doc_id:long,text:str"),
    )
    media = pack_wav(df, "text", sample_rate=8000)
    blobs = {r.doc_id: bytes(r.blob) for r in media.collect()}
    with wave.open(io.BytesIO(blobs[1])) as w:  # stdlib conformance check
        assert w.getnchannels() == 1
        assert w.getframerate() == 8000
        assert w.getsampwidth() == 1
        assert w.getnframes() == len(b"hello world")
        assert w.readframes(w.getnframes()) == b"hello world"

    feats = {
        r.id: r
        for r in extract_features(
            media, id_col="doc_id", blob_col="blob", mime="audio/wav"
        ).collect()
    }
    s = np.frombuffer(b"hello world", dtype=np.uint8).astype(np.int64) - 128
    assert feats[1].n_frames == 11 and feats[1].sample_rate == 8000
    assert feats[1].peak == int(np.abs(s).max())
    assert feats[1].rms_e2 == int(np.floor(np.sqrt((s**2).sum() / len(s)) * 100))
    assert feats[1].width is None  # audio: no image fields
    assert feats[3].n_frames == 0 and feats[3].peak == 0


def test_png_codec_real_decode(spark):
    """decode_png fully reconstructs pixels (zlib inflate + unfilter) —
    round-trips encode_png and decodes an independently-built PNG that
    uses ALL five scanline filters; extract_features dispatches by mime."""
    import struct
    import zlib

    import numpy as np

    from fugue_spark.pipeline import decode_png, encode_png

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (12, 7, 3), dtype=np.uint8)
    blob = encode_png(px)
    df = spark.createDataFrame(
        [[1, bytearray(blob)]], parse_schema("doc_id:long,raw:bytes")
    )
    media = as_media(df, "raw", mime="image/png")
    row = extract_features(
        media, id_col="doc_id", blob_col="blob", mime="image/png"
    ).collect()[0]
    assert (row.width, row.height, row.n_channels, row.n_frames) == (7, 12, 3, 1)
    assert row.mean_e2 == int(np.floor(px.astype(float).mean() * 100))
    assert row.sample_rate is None  # image: no audio fields

    # independently-constructed PNG exercising filters 0..4 (typical real
    # encoders mix filters per row; ours always emits 0)
    gray = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    raw, prev = b"", np.zeros(8, dtype=np.int64)
    for y in range(6):
        f, r = y % 5, gray[y].astype(np.int64)
        filt = r.copy()
        for i in range(8):
            a = int(r[i - 1]) if i else 0
            b, c = int(prev[i]), (int(prev[i - 1]) if i else 0)
            pred = {
                0: 0,
                1: a,
                2: b,
                3: (a + b) // 2,
                4: (
                    a
                    if abs(b - c) <= abs(a - c)
                    and abs(b - c) <= abs(a + b - 2 * c)
                    else (b if abs(a - c) <= abs(a + b - 2 * c) else c)
                ),
            }[f]
            filt[i] = (r[i] - pred) % 256
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = r

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body))
            + cid
            + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 6, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = decode_png(png)
    assert (d["width"], d["height"]) == (8, 6)
    assert d["mean_e2"] == int(np.floor(gray.astype(float).mean() * 100))

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_ann_ivf_recall_on_planted_neighbors(spark):
    """IVF with generous probing recalls planted near-dup neighbors."""
    import numpy as np
    from fugue_spark.pipeline import cosine_topk_ivf

    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 64))
    rows_, vid = [], 0
    for i in range(20):
        rows_.append([vid, [float(x) for x in base[i]]]); vid += 1
    for i in range(20):
        for _ in range(3):
            noisy = base[i] + 0.05 * rng.standard_normal(64)
            rows_.append([vid, [float(x) for x in noisy]]); vid += 1
    df = spark.createDataFrame(rows_, parse_schema("vec_id:long,embedding:[float]"))
    queries = df.filter(F.col("vec_id") < 20)
    brute = cosine_topk_bruteforce(df, queries, k=3)
    ivf = cosine_topk_ivf(df, queries, k=3, n_clusters=8, n_probe=2, sample_size=100)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    assert len(a & b) >= 0.9 * len(b)  # planted copies land in the query's cell


def test_neardup_lsh_matches_exact_no_cartesian(spark, emb):
    """The p8 scale path: LSH candidates + exact verify must (a) equal the
    all-pairs baseline exactly at full recall and (b) plan with no
    cartesian/nested-loop join anywhere."""
    from fugue_spark.pipeline import near_duplicates_by_embedding, near_duplicates_lsh

    exact = {
        (r.id_a, r.id_b, r.cosine_e6)
        for r in near_duplicates_by_embedding(emb, threshold=0.4).collect()
    }
    lsh_df = near_duplicates_lsh(emb, threshold=0.4, n_planes=5, n_tables=64)
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b, r.cosine_e6) for r in lsh_df.collect()}
    assert got == exact and len(exact) > 0


def test_hot_shingle_cap_bounds_candidates(spark):
    """A stop-gram shared by every doc must not generate O(k²) candidates:
    with the df cap on, pairs that share ONLY the hot shingle never reach
    the verify join; real near-dups (rare shared shingles) still come out."""
    rows = [[i, f"the common gram w{i}a w{i}b w{i}c w{i}d"] for i in range(30)]
    rows.append([100, "alpha beta gamma delta epsilon zeta eta theta"])
    rows.append([101, "alpha beta gamma delta epsilon zeta eta iota"])
    df = spark.createDataFrame(rows, parse_schema("doc_id:long,text:str"))
    capped = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=3)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}  # 435 hot-only pairs suppressed
    uncapped = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=None)
    assert uncapped.count() == 30 * 29 // 2 + 1  # the quadratic blowup, on demand


def test_hot_set_above_probe_bound_stays_lazy(spark, monkeypatch):
    """A hot set larger than the probe bound is kept as the lazy broadcast
    aggregation; the pairs are the same as with the set inlined."""
    from fugue_spark.pipeline import dedup

    rows = [[i, f"the common gram w{i}a w{i}b w{i}c w{i}d"] for i in range(30)]
    rows.append([100, "alpha beta gamma delta epsilon zeta eta theta"])
    rows.append([101, "alpha beta gamma delta epsilon zeta eta iota"])
    df = spark.createDataFrame(rows, parse_schema("doc_id:long,text:str"))
    plan = lambda d: d._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    inlined = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=3)
    assert "__df__" not in plan(inlined)
    monkeypatch.setattr(dedup, "_HOT_PROBE_MAX", 0)
    lazy = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=3)
    assert "__df__" in plan(lazy)  # the hot-set aggregation
    expected = {tuple(r) for r in inlined.collect()}
    assert {tuple(r) for r in lazy.collect()} == expected
    assert {r[:2] for r in expected} == {(100, 101)}


def test_p5_build_runs_one_hot_set_probe(spark, sf_correctness_dir):
    """p5's build runs two jobs: the document-count broadcast of the hot-set
    cap and one bounded probe of the hot set (a collect of the limit would
    run one job per widening partition scan)."""
    from conftest import count_jobs

    from fugue_spark.benchmarks import QUERIES, load_table

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    # off, as tune_for_input sets it for an input this small
    spark.conf.set(key, "false")
    try:
        load_table(spark, sf_correctness_dir, "documents")  # schema read
        spark_fn = QUERIES["p5_ngram_jaccard_pairs"].spark_fn
        df, n = count_jobs(spark, lambda: spark_fn(spark, sf_correctness_dir))
        assert n == 2
        assert df.count() == 25
    finally:
        spark.conf.set(key, prev)


def test_minhash_bucket_cap(spark):
    """Band buckets above max_bucket_size are dropped before the self-join,
    and the cap is inclusive for minhash and simhash alike."""
    base = "alpha beta gamma delta epsilon zeta eta theta kappa"
    rows = [[i, base + f" tail{i}"] for i in range(6)]
    df = spark.createDataFrame(rows, parse_schema("doc_id:long,text:str"))
    full = minhash_lsh_pairs(df, threshold=0.3, max_bucket_size=None)
    assert full.count() > 0
    capped = minhash_lsh_pairs(df, threshold=0.3, max_bucket_size=1)
    assert capped.count() == 0  # the whole cluster sits in >1-doc buckets

    # boundary: identical texts put a 4-doc cluster in 4-member buckets and
    # a 2-doc cluster in 2-member buckets (every band/chunk of identical
    # texts matches). A cap equal to the largest bucket keeps its pairs,
    # one less drops them, and a cap at or above the largest bucket equals
    # max_bucket_size=None
    other = "spark shuffles partitions across executors while the driver plans"
    rows = [[i, base] for i in range(4)] + [[10, other], [11, other]]
    df = spark.createDataFrame(rows, parse_schema("doc_id:long,text:str"))
    big = {(i, j) for i in range(4) for j in range(i + 1, 4)}

    def mh(cap):
        out = minhash_lsh_pairs(df, threshold=0.3, max_bucket_size=cap)
        return {(r.id_a, r.id_b) for r in out.collect()}

    def sh(cap):
        out = simhash_pairs(df, max_hamming=0, max_bucket_size=cap)
        return {(r.id_a, r.id_b) for r in out.collect()}

    for pairs in (mh, sh):
        assert pairs(None) == big | {(10, 11)}
        assert pairs(4) == pairs(5) == pairs(None)
        assert pairs(3) == pairs(2) == {(10, 11)}
        assert pairs(1) == set()


def test_verify_prefilter_exactness_and_bound(spark, docs):
    """The verify-side candidate-id prefilter (r10) must be a pure plan
    optimization: a small input (estimate far below 64 MiB) skips it, an
    input of unknown size (an RDD-backed plan) takes it, and both yield
    identical pairs."""

    def run(frame):
        out = minhash_lsh_pairs(frame, threshold=0.5, num_hashes=64, bands=16)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return {(r.id_a, r.id_b, r.jaccard_e4) for r in out.collect()}, plan

    want, small_plan = run(docs)  # sf0.001
    assert len(want) > 0
    # the prefilter is the only broadcast-hinted join in the plan
    assert "strategy=broadcast" not in small_plan
    got, unknown_plan = run(spark.createDataFrame(docs.rdd, docs.schema))
    assert "strategy=broadcast" in unknown_plan
    assert got == want


def test_simhash_batch_deterministic_and_vectorized(spark):
    import pandas as pd
    from fugue_spark.pipeline.dedup import _simhash_batch

    texts = pd.Series(["hello world foo bar", "", "hello world foo baz", "x"])
    a, b = _simhash_batch(texts), _simhash_batch(texts)
    assert list(a) == list(b)  # fixed-key hash: stable across calls/processes
    assert a[1] == 0  # empty doc
    # near-identical docs land within small hamming distance
    assert bin(int(a[0]) ^ int(a[2])).count("1") <= 16


def test_neardup_quadratic_guard(spark, emb):
    """The all-pairs baseline refuses silently quadratic runs at scale."""
    from fugue_spark.pipeline import near_duplicates_by_embedding
    from fugue_spark.pipeline import similarity as sim

    big = emb
    orig = sim._QUADRATIC_GUARD_ROWS
    sim._QUADRATIC_GUARD_ROWS = 10  # corpus is 500 rows > 10
    try:
        with pytest.raises(ValueError, match="quadratic"):
            near_duplicates_by_embedding(big, threshold=0.4)
        # explicit opt-in still works
        near_duplicates_by_embedding(big.limit(20), threshold=0.4, allow_quadratic=True)
    finally:
        sim._QUADRATIC_GUARD_ROWS = orig


def test_bruteforce_query_guard(spark, emb):
    """Brute-force top-k refuses a query side above the guard; a known
    query count (``n_queries=``) or ``allow_quadratic=True`` bypasses it."""
    from fugue_spark.pipeline import similarity as sim

    queries = emb.limit(20)  # 20 queries > 10
    orig = sim._BRUTEFORCE_GUARD_QUERIES
    sim._BRUTEFORCE_GUARD_QUERIES = 10
    try:
        with pytest.raises(ValueError, match="all-pairs"):
            cosine_topk_bruteforce(emb, queries, k=2)
        assert cosine_topk_bruteforce(emb, queries, k=2, n_queries=5).count() == 40
        assert cosine_topk_bruteforce(emb, queries, k=2, allow_quadratic=True).count() == 40
    finally:
        sim._BRUTEFORCE_GUARD_QUERIES = orig


def test_near_dup_clusters_and_dedup_near(spark):
    from fugue_spark.pipeline import dedup_near, near_dup_clusters
    from fugue_spark.schema import parse_schema

    # graph: 1-2, 2-3 (chain -> one component {1,2,3}), 5-6, singleton 9
    pairs = spark.createDataFrame(
        [[1, 2], [2, 3], [5, 6]], parse_schema("id_a:long,id_b:long")
    )
    cl = {r.id: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert cl == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    docs = spark.createDataFrame(
        [[i, f"t{i}"] for i in [1, 2, 3, 5, 6, 9]], parse_schema("doc_id:long,text:str")
    )
    kept = sorted(r.doc_id for r in dedup_near(docs, pairs).collect())
    assert kept == [1, 5, 9]  # component minima + untouched singleton


def test_assign_pack_bins(spark):
    from fugue_spark.pipeline import assign_pack_bins
    from fugue_spark.schema import parse_schema

    # budget 10, one group: tokens 4,4,4 -> starts 0,4,8 -> bins 0,0,0;
    # then 5 -> start 12 -> bin 1; second group restarts at 0
    rows = [["a", 1, 4], ["a", 2, 4], ["a", 3, 4], ["a", 4, 5], ["b", 1, 25]]
    df = spark.createDataFrame(rows, parse_schema("g:str,i:long,tok:long"))
    out = assign_pack_bins(df, budget=10, token_col="tok", order_by="i", by=["g"])
    got = {(r.g, r.i): r.pack_bin for r in out.collect()}
    assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 0, ("a", 4): 1, ("b", 1): 0}
    # ungrouped: single global order
    out2 = assign_pack_bins(df.filter("g = 'a'"), budget=8, token_col="tok", order_by="i")
    got2 = {r.i: r.pack_bin for r in out2.collect()}
    assert got2 == {1: 0, 2: 0, 3: 1, 4: 1}


def test_corpus_stats_exact_and_approx(spark):
    from fugue_spark.pipeline import corpus_stats
    from fugue_spark.schema import parse_schema

    rows = [["a", float(i)] for i in range(1, 101)] + [["b", 5.0], ["b", 15.0]]
    df = spark.createDataFrame(rows, parse_schema("g:str,v:double"))
    out = {r.g: r for r in corpus_stats(df, "v", by=["g"], quantiles=(0.5,)).collect()}
    assert out["a"].n == 100 and out["a"].total == 5050.0
    assert out["a"].p50_e2 == 5050  # linear interpolation between 50 and 51
    assert out["b"].p50_e2 == 1000
    # approx path: same schema, near-exact on small groups
    ap = {r.g: r for r in corpus_stats(df, "v", by=["g"], quantiles=(0.5,), approx=True).collect()}
    assert abs(ap["a"].p50_e2 - 5050) <= 100
    # distinct counts: exact vs HLL sketch (near-exact at this size)
    ex = {
        r.g: r
        for r in corpus_stats(df, "v", by=["g"], quantiles=(0.5,), n_distinct=True).collect()
    }
    assert ex["a"].n_distinct == 100 and ex["b"].n_distinct == 2
    hll = {
        r.g: r
        for r in corpus_stats(
            df, "v", by=["g"], quantiles=(0.5,), approx=True, n_distinct=True
        ).collect()
    }
    assert abs(hll["a"].n_distinct - 100) <= 5 and hll["b"].n_distinct == 2


def test_near_dup_clusters_chain_converges_logarithmically(spark):
    """Pointer jumping must collapse a 1000-link chain in O(log n) rounds
    (min-label propagation alone needs ~1000)."""
    from fugue_spark.pipeline import near_dup_clusters

    n = 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = near_dup_clusters(chain, max_iters=15, stats=stats)
    rows = labels.collect()
    assert len(rows) == n + 1
    assert all(r.cluster == 0 for r in rows)
    assert stats["rounds"] <= 12  # ~log2(1000) + slack, far below diameter


def test_assign_pack_bins_global_hierarchical(spark):
    """The global (no-by) path must value-match a single-window prefix sum
    while executing as parallel per-shard windows over a range partition."""
    import pandas as pd

    from fugue_spark.pipeline import assign_pack_bins

    pdf = pd.DataFrame({"i": range(200), "tok": [(7 * i) % 13 + 1 for i in range(200)]})
    df = spark.createDataFrame(pdf)
    out = assign_pack_bins(df, budget=16, token_col="tok", order_by="i").toPandas()
    out = out.sort_values("i").reset_index(drop=True)
    run = 0
    expect = []
    for t in pdf.tok:
        expect.append(run // 16)
        run += t
    assert out.pack_bin.tolist() == expect
    # at this size the adaptive path uses the plain single global window
    plan = assign_pack_bins(df, budget=16, token_col="tok", order_by="i")
    explained = plan._jdf.queryExecution().executedPlan().toString()
    assert "__shard__" not in explained
    # an RDD-backed frame has no size estimate, so it takes the hierarchical
    # plan — multi-shard: the window runs per __shard__ partition (the range
    # exchange itself sits behind the pinned checkpoint), never over a
    # single global partition
    unknown = spark.createDataFrame(df.rdd, df.schema)
    plan = assign_pack_bins(unknown, budget=16, token_col="tok", order_by="i")
    explained = plan._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__shard__" in explained
    assert "SinglePartition" not in explained
    hier = plan.toPandas().sort_values("i").reset_index(drop=True)
    assert hier.pack_bin.tolist() == expect


def test_dedup_near_score_survivor(spark):
    """score_col keeps the highest-quality member per cluster (ties -> min
    id) instead of the min id."""
    from fugue_spark.pipeline import dedup_near
    from fugue_spark.schema import parse_schema

    docs = spark.createDataFrame(
        [[1, 0.2], [2, 0.9], [3, 0.9], [4, 0.5], [5, 0.1]],
        parse_schema("doc_id:long,score:double"),
    )
    # cluster {1,2,3} and {5}; 4 unpaired
    pairs = spark.createDataFrame(
        [[1, 2], [2, 3]], parse_schema("id_a:long,id_b:long")
    )
    out = sorted(r.doc_id for r in dedup_near(docs, pairs, score_col="score").collect())
    assert out == [2, 4, 5]  # 2 beats 3 on the id tiebreak, 0.9 beats 0.2
    out_min = sorted(r.doc_id for r in dedup_near(docs, pairs).collect())
    assert out_min == [1, 4, 5]


def test_repetition_stats_values(spark):
    from fugue_spark.pipeline import with_repetition_stats

    df = spark.createDataFrame(
        [
            [1, "a b a b a"],           # top word 'a' x3 of 5
            [2, "x\ny\nx\nz"],          # 4 lines, 1 dup
            [3, "12 34 abc !!"],        # 1 alpha word of 4
            [4, ""],                    # empty text
        ],
        parse_schema("doc_id:long,text:str"),
    )
    r = {x.doc_id: x for x in with_repetition_stats(df).collect()}
    assert r[1].top_word_frac_e4 == 6000
    assert r[2].n_lines == 4 and r[2].dup_line_frac_e4 == 2500
    assert r[3].frac_alpha_words_e4 == 2500
    assert r[4].top_word_frac_e4 == 0 and r[4].dup_line_frac_e4 == 0


def test_ngram_topk_values(spark):
    from fugue_spark.pipeline import ngram_topk

    df = spark.createDataFrame(
        [
            [1, "the cat sat"],       # bigrams: "the cat", "cat sat"
            [2, "the cat ran"],       # bigrams: "the cat", "cat ran"
            [3, "x"],                 # too short: no bigrams
            [4, ""],                  # empty
        ],
        parse_schema("doc_id:long,text:str"),
    )
    rows = ngram_topk(df, n=2, k=2).collect()
    assert [(r.ngram, r.cnt) for r in rows] == [("the cat", 2), ("cat ran", 1)]
    # per-group variant keeps k per group with the same deterministic order
    df2 = df.withColumn("g", F.col("doc_id") % 2)
    rows2 = ngram_topk(df2, n=2, k=1, by=["g"]).collect()
    got = {r.g: (r.ngram, r.cnt) for r in rows2}
    assert got[0] == ("cat ran", 1) and got[1] == ("cat sat", 1)


def test_ngram_topk_unigram_and_short_rows(spark):
    from fugue_spark.pipeline import ngram_topk

    df = spark.createDataFrame(
        [[1, "a b a"], [2, "b"]], parse_schema("doc_id:long,text:str")
    )
    rows = ngram_topk(df, n=1, k=10).collect()
    assert [(r.ngram, r.cnt) for r in rows] == [("a", 2), ("b", 2)]


def test_ngram_overlap_values(spark):
    from fugue_spark.pipeline import ngram_overlap

    corpus = spark.createDataFrame(
        [[10, "alpha beta gamma delta"]], parse_schema("doc_id:long,text:str")
    )
    probe = spark.createDataFrame(
        [
            [1, "alpha beta gamma"],    # both trigram windows? only 1: hit
            [2, "beta gamma delta x"],  # "beta gamma delta" hit, "gamma delta x" miss
            [3, "zeta eta theta"],      # no hits
            [4, "too short"],           # <3 words: absent from output
        ],
        parse_schema("doc_id:long,text:str"),
    )
    out = {r.doc_id: r for r in ngram_overlap(corpus, probe, n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_ngrams, out[1].n_hit, out[1].overlap_e4) == (1, 1, 10000)
    assert (out[2].n_ngrams, out[2].n_hit, out[2].overlap_e4) == (2, 1, 5000)
    assert (out[3].n_ngrams, out[3].n_hit, out[3].overlap_e4) == (1, 0, 0)
    # the hash-join variant computes the identical fractions
    out_h = {
        r.doc_id: r
        for r in ngram_overlap(corpus, probe, n=3, join_on_hash=True).collect()
    }
    assert {k: (v.n_ngrams, v.n_hit) for k, v in out.items()} == {
        k: (v.n_ngrams, v.n_hit) for k, v in out_h.items()
    }


def test_tfidf_doc_scores_values(spark):
    import math

    from fugue_spark.pipeline import tfidf_doc_scores

    df = spark.createDataFrame(
        [
            [1, "apple banana apple"],   # apple tf=2 df=2, banana tf=1 df=1
            [2, "apple cherry"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    out = {r.doc_id: r for r in tfidf_doc_scores(df).collect()}
    idf_apple = math.floor(math.log(2 / 2) * 1e6)   # 0
    idf_banana = math.floor(math.log(2 / 1) * 1e6)  # 693147
    assert (out[1].n_words, out[1].n_terms) == (3, 2)
    assert out[1].tfidf_e6 == math.floor((2 * idf_apple + 1 * idf_banana) / 3)
    assert (out[2].n_words, out[2].n_terms) == (2, 2)
    assert out[2].tfidf_e6 == math.floor((idf_apple + idf_banana) / 2)


def test_scrub_text_masks_and_counts(spark):
    from fugue_spark.pipeline import scrub_text

    df = spark.createDataFrame(
        [
            [1, "contact me at bob@example.com or https://x.io/a?b=1 now"],
            [2, "call 12345678 twice: 99887766 end"],
            [3, "u@e.org inside https://h.com/u@e.org stays one URL"],
            [4, "clean text"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    r = {x.doc_id: x for x in scrub_text(df).collect()}
    assert (r[1].n_url, r[1].n_email, r[1].n_num) == (1, 1, 0)
    assert r[1].scrubbed == "contact me at <EMAIL> or <URL> now"
    assert (r[2].n_num, r[2].scrubbed) == (2, "call <NUM> twice: <NUM> end")
    # URL masked FIRST: the address inside the URL never double-masks
    assert r[3].n_url == 1 and r[3].n_email == 1
    assert r[3].scrubbed == "<EMAIL> inside <URL> stays one URL"
    assert r[4].scrubbed == "clean text"


def test_chunk_documents_windows(spark):
    from fugue_spark.pipeline import chunk_documents

    df = spark.createDataFrame(
        [
            [1, "a b c d e f g"],  # 7 tokens
            [2, "x y"],            # shorter than one chunk
            [3, ""],               # empty: no chunks
        ],
        parse_schema("doc_id:long,text:str"),
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1)
    r = {(x.doc_id, x.chunk_id): x for x in out.collect()}
    # doc 1: stride 3, ceil((7-1)/3) = 2 chunks covering every token
    assert r[(1, 0)].chunk_text == "a b c d"
    assert r[(1, 1)].chunk_text == "d e f g"
    assert max(k[1] for k in r if k[0] == 1) == 1
    assert r[(2, 0)].chunk_text == "x y"
    assert all(k[0] != 3 for k in r)
    # every token position is covered; overlap tokens duplicated
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_duplicate_spans_detects_shared_runs(spark):
    from fugue_spark.pipeline import duplicate_spans

    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            [1, f"start {shared} middle unique words here {shared} tail"],
            [2, f"prefix {shared} suffix"],
            [3, "completely different content with no duplicated run at all"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    out = duplicate_spans(df, n=6).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # doc 1: shared run appears at tokens 1-6 and again later; two islands
    assert 1 in by_doc and 2 in by_doc and 3 not in by_doc
    assert (1, 7) in by_doc[1]  # 6-gram at pos 1 covers [1, 7)
    assert (1, 7) in by_doc[2]
    # doc 1's second occurrence starts at token 11
    assert any(s == 11 for s, _ in by_doc[1])


def test_word_entropy_values(spark):
    import math

    from fugue_spark.pipeline import with_word_entropy

    df = spark.createDataFrame(
        [
            [1, "a a a a"],        # degenerate: entropy 0
            [2, "a b c d"],        # uniform over 4: ln(4)
            [3, "a a b"],          # 2/3 ln(3/2) + 1/3 ln(3)
            [4, ""],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    r = {x.doc_id: x for x in with_word_entropy(df).collect()}
    assert r[1].entropy_e6 == math.floor(4 * math.log(4 / 4) / 4 * 1e6)  # 0
    assert r[2].entropy_e6 == 4 * math.floor(1 * math.log(4 / 1) / 4 * 1e6)
    expect3 = math.floor(2 * math.log(3 / 2) / 3 * 1e6) + math.floor(
        1 * math.log(3 / 1) / 3 * 1e6
    )
    assert r[3].entropy_e6 == expect3
    assert r[4].entropy_e6 == 0 and r[4].n_words == 0


def test_sessionize_gaps_and_islands(spark):
    import datetime as dt

    from fugue_spark.pipeline import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1: two sessions split by a 2-hour gap
        [1, 1, t0],
        [2, 1, t0 + dt.timedelta(minutes=10)],
        [3, 1, t0 + dt.timedelta(hours=3)],
        # user 2: one session, events 1 min apart
        [4, 2, t0],
        [5, 2, t0 + dt.timedelta(minutes=1)],
    ]
    df = spark.createDataFrame(rows, parse_schema("event_id:long,user_id:long,ts:datetime"))
    s = {r.event_id: r.session_idx for r in sessionize(df, gap_seconds=1800).collect()}
    assert s == {1: 0, 2: 0, 3: 1, 4: 0, 5: 0}
    st = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_sec)
        for r in session_stats(df, gap_seconds=1800).collect()
    }
    assert st[(1, 0)] == (2, 600)
    assert st[(1, 1)] == (1, 0)
    assert st[(2, 0)] == (2, 60)


def test_resize_images_real_pixels(spark):
    """resize_images: nearest-neighbor resample of decoded PNG pixels,
    verified against the same index arithmetic applied to the source
    array; output PNGs re-decode to the expected size and content."""
    import numpy as np

    from fugue_spark.pipeline import decode_png, encode_png, resize_images

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (20, 14, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [[1, bytearray(encode_png(px))]], parse_schema("doc_id:long,raw:bytes")
    )
    out = resize_images(df.withColumnRenamed("raw", "blob"), width=7, height=5)
    row = out.collect()[0]
    assert (row.width, row.height, row.n_channels) == (7, 5, 3)
    d = decode_png(bytes(row.blob))
    assert (d["width"], d["height"]) == (7, 5)
    ys = np.minimum(((np.arange(5) + 0.5) * 20 / 5).astype(int), 19)
    xs = np.minimum(((np.arange(7) + 0.5) * 14 / 7).astype(int), 13)
    want = px[ys][:, xs]
    assert d["mean_e2"] == int(np.floor(want.astype(float).mean() * 100))

    # upscale round-trips too
    up = resize_images(df.withColumnRenamed("raw", "blob"), width=28, height=40)
    r2 = up.collect()[0]
    d2 = decode_png(bytes(r2.blob))
    assert (d2["width"], d2["height"]) == (28, 40)


def test_resample_audio_decimation(spark):
    """resample_audio: every-kth-frame decimation of decoded PCM,
    re-encoded at rate/k; stdlib wave reads the output."""
    import io
    import wave

    import numpy as np

    from fugue_spark.pipeline import pack_wav, resample_audio

    text = "abcdefghijklmnopqrstuvwxyz" * 10
    df = spark.createDataFrame([[1, text]], parse_schema("doc_id:long,text:str"))
    media = pack_wav(df, "text", sample_rate=8000)
    out = resample_audio(media, factor=4)
    row = out.collect()[0]
    want = np.frombuffer(text.encode(), dtype=np.uint8)[::4].tobytes()
    assert row.n_frames == len(want)
    assert row.sample_rate == 2000
    with wave.open(io.BytesIO(bytes(row.blob))) as w:
        assert w.getframerate() == 2000
        assert w.readframes(w.getnframes()) == want


def test_sample_frames_plumbing(spark):
    """sample_frames: real fan-out plumbing with an injected decoder; the
    default decoder refuses honestly (no ffmpeg here)."""
    from fugue_spark.pipeline import sample_frames

    df = spark.createDataFrame(
        [[1, bytearray(b"0123456789")]], parse_schema("doc_id:long,blob:bytes")
    )
    # injected decoder: each byte is a "frame"
    out = sample_frames(
        df, every_n=3, decoder=lambda raw: [bytes([b]) for b in raw]
    )
    rows = sorted((r.frame_idx, bytes(r.frame)) for r in out.collect())
    assert rows == [(0, b"0"), (3, b"3"), (6, b"6"), (9, b"9")]

    with pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        sample_frames(df, every_n=2).collect()


def test_winnowing_guarantee_and_pairs(spark):
    """Winnowing: any shared run of >= w+k-1 words yields a shared
    fingerprint (the algorithm's coverage guarantee); unrelated docs
    share none; the hot-fp cap drops boilerplate keys."""
    from fugue_spark.pipeline import winnowing_fingerprints, winnowing_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words >= w+k-1 = 6
    df = spark.createDataFrame(
        [
            [1, f"intro words here {shared} tail one"],
            [2, f"{shared} completely different ending text"],
            [3, "nothing in common with the others at all"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    fps = winnowing_fingerprints(df, k=3, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]  # guarantee: shared 6-word run -> shared fp
    assert not (by_doc[1] & by_doc[3] or by_doc[2] & by_doc[3])

    pairs = {(r.id_a, r.id_b): r.n_shared for r in winnowing_pairs(df, min_shared=1).collect()}
    assert set(pairs) == {(1, 2)}

    # short doc edge: fewer grams than one window still fingerprints
    tiny = spark.createDataFrame(
        [[9, "just three words"]], parse_schema("doc_id:long,text:str")
    )
    assert winnowing_fingerprints(tiny, k=3, w=4).count() == 1
    empty = spark.createDataFrame([[8, "ab"]], parse_schema("doc_id:long,text:str"))
    assert winnowing_fingerprints(empty, k=3, w=4).count() == 0


def test_media_ops_refuse_unsupported_shapes(spark):
    """Review regressions: resample_audio refuses 16-bit PCM (byte-wise
    decimation would split samples); resize_images refuses palette and
    gray+alpha PNGs instead of silently corrupting pixels."""
    import struct
    import zlib

    import numpy as np

    from fugue_spark.pipeline import resample_audio, resize_images
    from fugue_spark.pipeline.codecs import encode_wav

    w16 = encode_wav(np.arange(100, dtype="<i2").tobytes(), 8000, 1, 16)
    df16 = spark.createDataFrame([(1, bytearray(w16))], "doc_id long, blob binary")
    with pytest.raises(Exception, match="8-bit"):
        resample_audio(df16, factor=2).collect()

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body)) + cid + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    ga = np.zeros((4, 4, 2), dtype=np.uint8)
    scan = b"".join(b"\x00" + ga[y].tobytes() for y in range(4))
    png_ga = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 4, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    dfga = spark.createDataFrame([(1, bytearray(png_ga))], "doc_id long, blob binary")
    with pytest.raises(Exception, match="gray\\+alpha"):
        resize_images(dfga, 2, 2).collect()

    pal = np.zeros((4, 4), dtype=np.uint8)
    scan_p = b"".join(b"\x00" + pal[y].tobytes() for y in range(4))
    png_pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes(range(3)))
        + chunk(b"IDAT", zlib.compress(scan_p))
        + chunk(b"IEND", b"")
    )
    dfp = spark.createDataFrame([(1, bytearray(png_pal))], "doc_id long, blob binary")
    with pytest.raises(Exception, match="palette"):
        resize_images(dfp, 2, 2).collect()


def test_jpeg_codec_real_decode(spark):
    """Pure-python baseline JFIF: exact round-trip on constant 8x8 tiles
    at quality 100 (DC-only blocks, unit DC quant), near-lossless on
    smooth gradients, correct across subsampling modes and restart
    markers, loud failure on progressive/truncated streams."""
    import numpy as np

    from fugue_spark.pipeline import decode_jpeg, decode_jpeg_pixels, encode_jpeg

    rng = np.random.default_rng(11)
    # exact: constant tiles, quality 100
    tiles = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)  # 24x40
    blob = encode_jpeg(img, quality=100)
    meta, px = decode_jpeg_pixels(blob)
    assert (meta["width"], meta["height"], meta["n_channels"]) == (40, 24, 1)
    assert np.array_equal(px[:, :, 0], img)
    stats = decode_jpeg(blob)
    assert stats["mean_e2"] == int(np.floor(img.mean() * 100))

    # near-lossless smooth gradient (non-multiple-of-8 size → edge padding)
    x = np.linspace(0, 255, 37)
    smooth = np.clip(np.add.outer(np.linspace(0, 255, 21), x) / 2, 0, 255).astype(np.uint8)
    _, p2 = decode_jpeg_pixels(encode_jpeg(smooth, quality=95))
    assert np.abs(p2[:, :, 0].astype(int) - smooth.astype(int)).max() <= 3

    # RGB, every subsampling mode, restart markers
    g = np.clip(np.add.outer(np.linspace(0, 255, 40), np.linspace(0, 255, 40)) / 2, 0, 255)
    rgb = np.stack([g, g[::-1], g.T], axis=2).astype(np.uint8)
    for sub, rst, tol in (("4:4:4", 0, 4), ("4:2:2", 3, 6), ("4:2:0", 2, 8)):
        m, p = decode_jpeg_pixels(
            encode_jpeg(rgb, quality=92, subsampling=sub, restart_interval=rst)
        )
        assert (m["width"], m["height"], m["n_channels"]) == (40, 40, 3)
        assert np.abs(p.astype(int) - rgb.astype(int)).max() <= tol, sub

    import pytest as _pytest

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    with _pytest.raises(ValueError, match="coding process"):
        decode_jpeg(b"\xff\xd8\xff\xc2\x00\x0b" + bytes(9) + b"\xff\xd9")
    with _pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) // 2])  # truncated entropy stream


def test_jpeg_extract_and_resize(spark):
    """image/jpeg dispatches to the REAL decoder in extract_features, and
    resize_images sniffs JPEG magic bytes, resizes, and re-encodes PNG."""
    import numpy as np

    from fugue_spark.pipeline import (
        decode_png_pixels,
        encode_jpeg,
        extract_features,
        resize_images,
    )
    from fugue_spark.schema import parse_schema

    tiles = np.arange(16, dtype=np.uint8).reshape(4, 4) * 16
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)  # 32x32
    blob = encode_jpeg(img, quality=100)
    df = spark.createDataFrame(
        [[7, bytearray(blob)]], parse_schema("doc_id:long,raw:bytes")
    )
    media = as_media(df, "raw", mime="image/jpeg")
    row = extract_features(
        media, id_col="doc_id", blob_col="blob", mime="image/jpeg"
    ).collect()[0]
    assert (row.width, row.height, row.n_channels, row.n_frames) == (32, 32, 1, 1)
    assert row.mean_e2 == int(np.floor(img.mean() * 100))

    out = resize_images(media, 16, 16, id_col="doc_id").collect()[0]
    assert (out.width, out.height, out.n_channels) == (16, 16, 1)
    _, small = decode_png_pixels(bytes(out.blob))
    # nearest-neighbor of a 2x-tiled constant grid = the 4x4 tiles at 4x4 px
    want = np.repeat(np.repeat(tiles, 4, axis=0), 4, axis=1)
    assert np.array_equal(small[:, :, 0], want)


def test_pack_jpeg_tiles_round_trip(spark):
    """pack_jpeg_tiles renders bytes as constant 8x8 tiles (cycled) whose
    decode is EXACT at quality 100 — the p35 gate contract."""
    import numpy as np

    from fugue_spark.pipeline import decode_jpeg_pixels, pack_jpeg_tiles
    from fugue_spark.schema import parse_schema

    df = spark.createDataFrame(
        [[1, "abc"], [2, ""], [3, "0123456789abcdef!"]],
        parse_schema("doc_id:long,text:str"),
    )
    media = pack_jpeg_tiles(df, "text", grid=(4, 4))
    got = {r.id: (bytes(r.blob), r.meta) for r in media.collect()}
    assert set(got) == {1, 3}  # empty source dropped
    for i, src in ((1, b"abc"), (3, b"0123456789abcdef!")):
        blob, meta = got[i]
        assert meta.mime == "image/jpeg" and meta.n_bytes == len(blob)
        m, px = decode_jpeg_pixels(blob)
        assert (m["width"], m["height"]) == (32, 32)
        want = np.frombuffer(src, dtype=np.uint8)[np.arange(16) % len(src)].reshape(4, 4)
        tiles = px[::8, ::8, 0]
        assert np.array_equal(tiles, want)
        # every tile constant (exact round-trip, not just the corners)
        assert np.array_equal(px[:, :, 0], np.repeat(np.repeat(want, 8, 0), 8, 1))


def test_avi_mjpeg_codec_and_video_ops(spark):
    """REAL video path: MJPEG-in-AVI round-trips (RIFF walk, frame chunks
    byte-identical), sample_frames' DEFAULT decoder handles AVI, and
    video_frame_features decodes kept frames exactly (constant tiles at
    quality 100)."""
    import numpy as np

    from fugue_spark.pipeline import (
        decode_avi,
        decode_avi_stats,
        encode_avi_mjpeg,
        encode_jpeg,
        extract_features,
        pack_avi_tiles,
        sample_frames,
        video_frame_features,
    )
    from fugue_spark.schema import parse_schema

    rng = np.random.default_rng(21)
    tiles = [rng.integers(0, 256, (2, 2), dtype=np.uint8) for _ in range(5)]
    jpegs = [
        encode_jpeg(np.repeat(np.repeat(t, 8, 0), 8, 1), quality=100) for t in tiles
    ]
    avi = encode_avi_mjpeg(jpegs, 16, 16, fps=5)
    meta, frames = decode_avi(avi)
    assert (meta["n_frames"], meta["width"], meta["height"]) == (5, 16, 16)
    assert meta["duration_ms"] == 1000
    assert frames == jpegs  # container round-trip is byte-exact
    stats = decode_avi_stats(avi)
    assert stats["mean_e2"] == int(np.floor(tiles[0].mean() * 100 * 64 * 4 / 256))

    df = spark.createDataFrame(
        [[1, bytearray(avi)]], parse_schema("doc_id:long,raw:bytes")
    )
    media = as_media(df, "raw", mime="video/x-msvideo")
    # extract_features dispatches to the real AVI stats decoder
    row = extract_features(
        media, id_col="doc_id", blob_col="blob", mime="video/x-msvideo"
    ).collect()[0]
    assert (row.n_frames, row.width, row.height, row.duration_ms) == (5, 16, 16, 1000)

    # sample_frames: default (real) decoder, every 2nd frame
    out = sorted(
        (r.frame_idx, bytes(r.frame)) for r in sample_frames(media, 2, id_col="doc_id").collect()
    )
    assert [i for i, _ in out] == [0, 2, 4]
    assert all(b == jpegs[i] for i, b in out)

    # fused sample+featurize: exact per-frame means
    feats = {
        r.frame_idx: r.mean_e2
        for r in video_frame_features(media, every_n=2, id_col="doc_id").collect()
    }
    want = {i: int(np.floor(tiles[i].mean() * 100)) for i in (0, 2, 4)}
    # constant 8x8 tiles: frame mean == tile mean (integer-scaled floor)
    assert feats == {i: int(np.floor(tiles[i].astype(float).mean() * 100)) for i in (0, 2, 4)}
    assert feats == want

    # non-AVI container: honest failure from the default decoder
    bad = spark.createDataFrame(
        [[2, bytearray(b"\x00\x00\x00\x18ftypmp42" + bytes(32))]],
        parse_schema("doc_id:long,raw:bytes"),
    )
    bad_media = as_media(bad, "raw", mime="video/mp4")
    with pytest.raises(Exception, match="MJPEG-in-AVI|ffmpeg"):
        sample_frames(bad_media, 1, id_col="doc_id").collect()


@pytest.mark.parametrize("id_type", ["string", "int"])
@pytest.mark.parametrize("op", ["pack_jpeg_tiles", "extract_features", "video_frame_features"])
def test_media_ops_keep_id_type(spark, op, id_type):
    """A media op's ``id`` keeps the input id column's type and values (a
    string id used to fail in the worker converting to long)."""
    import numpy as np

    from fugue_spark.pipeline import (
        encode_avi_mjpeg,
        encode_jpeg,
        pack_jpeg_tiles,
        video_frame_features,
    )

    avi = encode_avi_mjpeg([encode_jpeg(np.full((8, 8), 9, np.uint8))], 8, 8)
    df = spark.createDataFrame(
        [("7", "abcdefgh", bytearray(avi)), ("9", "0123456789", bytearray(avi))],
        "doc_id string, text string, blob binary",
    ).withColumn("doc_id", F.col("doc_id").cast(id_type))
    out = {
        "pack_jpeg_tiles": lambda: pack_jpeg_tiles(df, "text", grid=(2, 2)),
        "extract_features": lambda: extract_features(
            pack_wav(df.drop("blob"), "text"), mime="audio/wav"
        ),
        "video_frame_features": lambda: video_frame_features(df),
    }[op]()
    assert out.schema["id"].dataType == df.schema["doc_id"].dataType
    assert sorted(r.id for r in out.collect()) == sorted(r.doc_id for r in df.collect())


def test_media_ops_batch_size_invariant(spark):
    """Every Python media op gives identical rows whether each input
    partition arrives as one Arrow batch or as batches of 2 rows, on a
    5-row frame and on an empty one."""
    from fugue_spark.pipeline import (
        pack_avi_tiles,
        pack_jpeg_tiles,
        resample_audio,
        resize_images,
        sample_frames,
        video_frame_features,
    )

    def ops(df):
        avi = pack_avi_tiles(df, "text", n_frames=3, grid=(2, 2))
        jpeg = pack_jpeg_tiles(df, "text", grid=(2, 2))
        wav = pack_wav(df, "text")
        return {
            "pack_jpeg_tiles": jpeg,
            "pack_avi_tiles": avi,
            "video_frame_features": video_frame_features(avi, every_n=2, id_col="id"),
            "sample_frames": sample_frames(avi, 2, id_col="id"),
            "extract_features": extract_features(wav, mime="audio/wav"),
            "resize_images": resize_images(jpeg, 8, 8, id_col="id"),
            "resample_audio": resample_audio(wav, factor=2),
        }

    df = spark.createDataFrame(
        [(i, "x" * i + "media") for i in range(5)], "doc_id long, text string"
    ).coalesce(1)

    def collect_all():
        return {
            (name, n): sorted(op.collect())
            for n, frame in ((5, df), (0, df.limit(0)))
            for name, op in ops(frame).items()
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = collect_all()
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        small = collect_all()
    finally:
        spark.conf.set(key, old)
    assert small == default
    assert all(len(v) >= 5 if n else not v for (_, n), v in default.items())


def test_pack_avi_tiles_round_trip(spark):
    """pack_avi_tiles renders bytes as 3 constant-tile frames whose decode
    is exact — the p36 gate contract."""
    import numpy as np

    from fugue_spark.pipeline import decode_avi, decode_jpeg_pixels, pack_avi_tiles
    from fugue_spark.schema import parse_schema

    df = spark.createDataFrame(
        [[1, "abcdefgh"], [2, ""]], parse_schema("doc_id:long,text:str")
    )
    media = pack_avi_tiles(df, "text", n_frames=3, grid=(2, 2))
    rows = media.collect()
    assert [r.id for r in rows] == [1]  # empty dropped
    blob = bytes(rows[0].blob)
    assert rows[0].meta.mime == "video/x-msvideo"
    meta, frames = decode_avi(blob)
    assert meta["n_frames"] == 3 and len(frames) == 3
    src = np.frombuffer(b"abcdefgh", dtype=np.uint8)
    for f, fr in enumerate(frames):
        _m, px = decode_jpeg_pixels(fr)
        want = src[(4 * f + np.arange(4)) % 8].reshape(2, 2)
        assert np.array_equal(px[::8, ::8, 0], want)
        assert np.array_equal(px[:, :, 0], np.repeat(np.repeat(want, 8, 0), 8, 1))


def test_jpeg_fill_bytes_and_avi_stream_filter(spark):
    """r07 review fixes: JPEG markers preceded by 0xFF fill bytes (T.81
    B.1.1.2) decode; multi-stream AVIs only yield stream-0 frames."""
    import struct

    import numpy as np

    from fugue_spark.pipeline import decode_avi, decode_jpeg, encode_jpeg

    img = np.full((8, 8), 99, dtype=np.uint8)
    blob = encode_jpeg(img, quality=100)
    # inject fill bytes before the APP0 marker (after SOI)
    assert blob[2:4] == b"\xff\xe0"
    padded = blob[:2] + b"\xff\xff" + blob[2:]
    assert decode_jpeg(padded)["mean_e2"] == 9900

    # hand-build an AVI with a foreign '01dc' chunk interleaved
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(t, body):
        return b"LIST" + struct.pack("<I", len(body) + 4) + t + body

    avih = struct.pack("<14I", 250000, 0, 0, 0x10, 2, 0, 2, 0, 8, 8, 0, 0, 0, 0)
    movi = lst(b"movi", chunk(b"00dc", blob) + chunk(b"01dc", b"NOTJPEG") + chunk(b"00dc", blob))
    avi = b"RIFF" + struct.pack("<I", 4) + b"AVI " + lst(b"hdrl", chunk(b"avih", avih)) + movi
    meta, frames = decode_avi(avi)
    assert len(frames) == 2 and all(f == blob for f in frames)


def test_save_partitioned_with_map_column(spark, tmp_path):
    """r07 review fix: the write-clustering salt skips hash-unsupported
    (map-typed) columns instead of failing the whole save."""
    import fugue_spark.api as fa

    df = spark.createDataFrame(
        [("a", {"x": "1"}), ("b", {"y": "2"}), ("a", {"z": "3"})],
        "day string, attrs map<string,string>",
    )
    out = str(tmp_path / "mapped.parquet")
    fa.save(df, out, mode="overwrite", partition_by=["day"])
    back = fa.load(spark, out)
    assert back.count() == 3
    assert sorted(r.day for r in back.select("day").collect()) == ["a", "a", "b"]


def test_avi_video_stream_identified_by_strh(spark):
    """r07 second-review fix: the video stream is identified from the strh
    headers (first 'vids'), not hard-coded to id 0 — audio-first files
    decode their '01dc' chunks; headerless files fall back to stream 0."""
    import struct

    import numpy as np

    from fugue_spark.pipeline import decode_avi, encode_jpeg

    jpeg = encode_jpeg(np.full((8, 8), 50, dtype=np.uint8), quality=100)

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(t, body):
        return b"LIST" + struct.pack("<I", len(body) + 4) + t + body

    avih = struct.pack("<14I", 250000, 0, 0, 0x10, 1, 0, 2, 0, 8, 8, 0, 0, 0, 0)
    strh_audio = struct.pack("<4s4sIHH8I4H", b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 1, 0, 0, 0, 0, 0, 0, 0)
    strh_video = struct.pack("<4s4sIHH8I4H", b"vids", b"MJPG", 0, 0, 0, 0, 1, 4, 0, 1, 0, 0, 0, 0, 0, 8, 8)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh_audio))
               + lst(b"strl", chunk(b"strh", strh_video)))
    movi = lst(b"movi", chunk(b"00wb", b"AUDIOPCM") + chunk(b"01dc", jpeg))
    avi = b"RIFF" + struct.pack("<I", 4) + b"AVI " + hdrl + movi
    meta, frames = decode_avi(avi)
    assert frames == [jpeg]  # stream 1 is the video

    # headers present but no video stream: honest failure
    hdrl2 = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh_audio)))
    avi2 = b"RIFF" + struct.pack("<I", 4) + b"AVI " + hdrl2 + lst(b"movi", chunk(b"00wb", b"PCM1"))
    with pytest.raises(ValueError, match="no video"):
        decode_avi(avi2)


def test_cross_corpus_neardup_planted(spark):
    """minhash_lsh_pairs_against finds planted probe↔corpus near-dups,
    emits no within-side pairs, and decontaminate drops exactly the
    contaminated probe rows."""
    from fugue_spark.pipeline import decontaminate, minhash_lsh_pairs_against

    base = "the quick brown fox jumps over the lazy dog again and again today"
    probe = spark.createDataFrame(
        [
            [1, base + " probe tail"],            # near-dup of corpus id 101
            [2, "completely different text about spark partitioning and shuffles ok"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    corpus = spark.createDataFrame(
        [
            [101, base + " corpus tail"],
            [102, base + " corpus tail two"],      # also near id 101 — but same side
            [103, "unrelated corpus document mentioning airplanes and oceans widely"],
        ],
        parse_schema("doc_id:long,text:str"),
    )
    pairs = minhash_lsh_pairs_against(probe, corpus, threshold=0.5, n=3).collect()
    got = {(r.probe_id, r.corpus_id) for r in pairs}
    assert (1, 101) in got and (1, 102) in got
    # no within-side pairs: every left id is a probe id, every right a corpus id
    assert all(p in (1, 2) and c > 100 for p, c in got)
    assert all(0 < r.jaccard_e4 <= 10000 for r in pairs)

    clean = decontaminate(probe, corpus, threshold=0.5, n=3)
    assert {r.doc_id for r in clean.collect()} == {2}
    assert clean.schema == probe.schema


def test_cross_corpus_neardup_bucket_cap(spark):
    from fugue_spark.pipeline import minhash_lsh_pairs_against

    # identical texts per side: every band bucket holds all 3 docs of each
    # side, so a per-side cap of 1 drops every bucket (a 1-probe × 1-corpus
    # bucket is a legitimate match and must survive the cap — hence
    # identical texts, not merely similar ones)
    base = "alpha beta gamma delta epsilon zeta eta theta kappa"
    probe = spark.createDataFrame(
        [[i, base] for i in range(3)], parse_schema("doc_id:long,text:str")
    )
    corpus = spark.createDataFrame(
        [[100 + i, base] for i in range(3)],
        parse_schema("doc_id:long,text:str"),
    )
    assert minhash_lsh_pairs_against(probe, corpus, threshold=0.3).count() == 9
    assert (
        minhash_lsh_pairs_against(probe, corpus, threshold=0.3, max_bucket_size=1).count()
        == 0
    )

    # cap boundary, per side: 2 probe × 3 corpus copies of one text plus a
    # 1 × 1 match of another. A cap equal to the larger side's bucket (3)
    # keeps all pairs, like max_bucket_size=None; one less drops the 2 × 3
    # bucket, and the 1 × 1 bucket survives every cap ≥ 1
    other = "spark shuffles partitions across executors while the driver plans"
    probe = spark.createDataFrame(
        [[0, base], [1, base], [2, other]], parse_schema("doc_id:long,text:str")
    )
    corpus = spark.createDataFrame(
        [[100, base], [101, base], [102, base], [103, other]],
        parse_schema("doc_id:long,text:str"),
    )

    def pairs(cap):
        got = minhash_lsh_pairs_against(probe, corpus, threshold=0.3, max_bucket_size=cap)
        return {(r.probe_id, r.corpus_id) for r in got.collect()}

    full = {(p, c) for p in (0, 1) for c in (100, 101, 102)} | {(2, 103)}
    assert pairs(None) == full
    assert pairs(3) == pairs(4) == full
    assert pairs(2) == pairs(1) == {(2, 103)}


def test_lsh_families_plan_fixed_width(spark, docs):
    """The three LSH/simhash families pair buckets with a count(*) census
    and a bucket join: their executed plans hold no collect_list-style
    aggregation (ObjectHashAggregate, SortAggregate) and no interpreted
    lambda."""
    from fugue_spark.pipeline import minhash_lsh_pairs_against

    probe = docs.filter(F.col("doc_id") % 5 == 0)
    for out in (
        minhash_lsh_pairs(docs, threshold=0.5),
        simhash_pairs(docs, max_hamming=12),
        minhash_lsh_pairs_against(probe, docs, threshold=0.5),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        for op in ("ObjectHashAggregate", "SortAggregate", "lambdafunction"):
            assert op not in plan, (op, plan)


def test_gopher_flags_planted(spark):
    """Each Gopher rule fires on a planted violation and passes on the
    clean doc; line-based rules exercised with real multi-line text."""
    from fugue_spark.pipeline import with_gopher_flags

    clean = "the quick brown fox jumps over a lazy dog and then it sat " * 5
    docs = [
        [1, clean],                                        # passes everything
        [2, "the of and " + "x " * 5],                     # too few words
        [3, "the of " + "supercalifragilistic " * 60],     # mean word len > 10
        [4, "the of " + "go " * 60 + "# " * 30],           # symbol ratio > 0.1
        [5, "the of\n" + "\n".join("- item %d ok" % i for i in range(10))],  # >90% bullets
        [6, "the of go on\n" + "\n".join("trailing words here..." for _ in range(5))],  # >30% ellipsis lines
        [7, "the of " + "123 456 " * 30],                  # alpha words < 80%
        [8, "zebra " * 60],                                # no stop words
    ]
    df = spark.createDataFrame(docs, parse_schema("doc_id:long,text:str"))
    out = {r.doc_id: r for r in with_gopher_flags(df).collect()}
    assert out[1].gopher_pass == 1
    assert out[2].f_word_count == 0
    assert out[3].f_mean_word_len == 0
    assert out[4].f_symbol_ratio == 0
    assert out[5].f_bullet_lines == 0
    assert out[6].f_ellipsis_lines == 0
    assert out[7].f_alpha_words == 0
    assert out[8].f_stopwords == 0
    for d in range(2, 9):
        assert out[d].gopher_pass == 0
    # empty text: no division blowups, everything fails cleanly
    empty = spark.createDataFrame([[9, ""]], parse_schema("doc_id:long,text:str"))
    r = with_gopher_flags(empty).collect()[0]
    assert r.n_words == 0 and r.gopher_pass == 0
    # leading newline/tab: no phantom empty first word (F.trim strips only
    # spaces; the op must strip ALL whitespace before splitting)
    lead = spark.createDataFrame(
        [[10, "\n\tthe of and go ok"]], parse_schema("doc_id:long,text:str")
    )
    r = with_gopher_flags(lead).collect()[0]
    assert r.n_words == 5
    assert r.f_alpha_words == 1


def test_new_ops_plan_shapes(spark, docs):
    """Plan-level scale assertions for the r07 operators: cross-corpus LSH
    never forms a cartesian product, and the Gopher flags are map-only
    (zero exchanges — scan-speed at any corpus size)."""
    from fugue_spark.pipeline import minhash_lsh_pairs_against, with_gopher_flags
    from fugue_spark.plans import plan_summary

    probe = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    s = plan_summary(minhash_lsh_pairs_against(probe, corpus, threshold=0.5))
    assert not s["cartesian"]
    assert s["n_python_stages"] == 0  # all-native pipeline

    s2 = plan_summary(with_gopher_flags(docs))
    assert s2["n_exchanges"] == 0 and not s2["cartesian"]
    assert s2["n_python_stages"] == 0


def test_weighted_hash_sample_deterministic_and_proportional(spark):
    from fugue_spark.operators import weighted_hash_sample

    rows = [[i, 0.0 if i % 3 == 0 else (1.0 if i % 3 == 1 else 0.5)]
            for i in range(600)]
    df = spark.createDataFrame(rows, parse_schema("id:long,w:double"))
    kept = weighted_hash_sample(df, "w", key_cols=["id"]).collect()
    ids = {r.id for r in kept}
    # weight 0 -> never; weight 1 -> always
    assert all(i % 3 != 0 for i in ids)
    assert all(i in ids for i in range(600) if i % 3 == 1)
    # weight 0.5 -> roughly half (md5-uniform; 200 candidates)
    half = sum(1 for i in ids if i % 3 == 2)
    assert 60 <= half <= 140
    # deterministic across reruns
    again = {r.id for r in weighted_hash_sample(df, "w", key_cols=["id"]).collect()}
    assert again == ids
    # out-of-range weights clamp instead of exploding
    wdf = spark.createDataFrame([[1, -2.0], [2, 9.0]], parse_schema("id:long,w:double"))
    got = {r.id for r in weighted_hash_sample(wdf, "w", key_cols=["id"]).collect()}
    assert got == {2}


def test_select_until_budget_global_and_grouped(spark):
    from fugue_spark.pipeline import select_until_budget

    rows = [[i, "a" if i % 2 == 0 else "b", 10] for i in range(20)]
    df = spark.createDataFrame(rows, parse_schema("id:long,g:str,sz:long"))
    # global: ordered by id, 45 budget -> ids 0..3 (4*10=40; adding a 5th
    # would reach 50 > 45)
    out = select_until_budget(df, budget=45, size_col="sz", order_by="id")
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3]
    # per-group budget: 25 per group -> first 2 of each group
    out = select_until_budget(df, budget=25, size_col="sz", order_by="id", by=["g"])
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3]
    # zero budget -> nothing; empty frame -> empty
    assert select_until_budget(df, 0, "sz", "id").count() == 0
    empty = spark.createDataFrame([], parse_schema("id:long,g:str,sz:long"))
    assert select_until_budget(empty, 100, "sz", "id").count() == 0


def test_gopher_flags_null_text(spark):
    """NULL text behaves as empty: integer 0 flags, never NULL."""
    from fugue_spark.pipeline import with_gopher_flags

    df = spark.createDataFrame([[1, None]], parse_schema("doc_id:long,text:str"))
    r = with_gopher_flags(df).collect()[0]
    assert r.n_words == 0
    assert r.gopher_pass == 0 and r.f_word_count == 0 and r.f_stopwords == 0


# ---------------- temperature_mix ----------------


def test_temperature_mix_matches_independent_reference(spark, sf_dir):
    """Kept set equals a row-by-row pandas recomputation of the contract
    (rates anchored at the smallest stratum, md5 60-bit threshold)."""
    import hashlib
    import math

    from fugue_spark.benchmarks import load_table
    from fugue_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    alpha = 0.3
    got = sorted(
        r.doc_id
        for r in temperature_mix(docs, "lang", alpha=alpha, key_cols=["doc_id"]).collect()
    )

    pdf = docs.select("doc_id", "lang").toPandas()
    counts = pdf.lang.value_counts().to_dict()
    n_min = min(counts.values())
    expect = []
    for doc_id, lang in zip(pdf.doc_id, pdf.lang):
        w = math.floor((n_min / counts[lang]) ** (1 - alpha) * 1e9) / 1e9
        u = hashlib.md5(str(doc_id).encode()).hexdigest()[:15]
        if w >= 1.0 or u < format(math.floor(w * float(1 << 60)), "015x"):
            expect.append(doc_id)
    assert got == sorted(expect)


def test_temperature_mix_flattens_toward_alpha(spark, sf_dir):
    """alpha=1 is the identity; alpha=0 levels every language to ~n_min;
    kept sizes at alpha=0.5 sit between and follow n**0.5 ordering."""
    from fugue_spark.benchmarks import load_table
    from fugue_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    base = {
        r.lang: r["count"] for r in docs.groupBy("lang").count().collect()
    }
    n_min = min(base.values())

    assert temperature_mix(docs, "lang", 1.0, ["doc_id"]).count() == sum(base.values())

    flat = {
        r.lang: r["count"]
        for r in temperature_mix(docs, "lang", 0.0, ["doc_id"])
        .groupBy("lang").count().collect()
    }
    for lang, kept in flat.items():
        # binomial(n_l, n_min/n_l): mean n_min, sd < sqrt(n_min)
        assert abs(kept - n_min) <= 4 * n_min**0.5 + 2, (lang, kept, n_min)

    mid = {
        r.lang: r["count"]
        for r in temperature_mix(docs, "lang", 0.5, ["doc_id"])
        .groupBy("lang").count().collect()
    }
    biggest = max(base, key=base.get)
    assert n_min - 2 <= mid[biggest] <= base[biggest]
    # expected kept for the head: n_min**0.5 * n_head**0.5
    exp_head = (n_min * base[biggest]) ** 0.5
    assert abs(mid[biggest] - exp_head) <= 4 * exp_head**0.5 + 2


def test_temperature_mix_validation(spark, sf_dir):
    import pytest as _pytest

    from fugue_spark.benchmarks import load_table
    from fugue_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix(docs, "lang", 1.5, ["doc_id"])
    with _pytest.raises(ValueError, match="key column"):
        temperature_mix(docs, "lang", 0.5, [])


# ---------------- select_until_budgets (per-stratum) ----------------


def test_select_until_budgets_matches_pandas(spark, sf_dir):
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline import select_until_budgets

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    budgets = {"en": 5000, "de": 2000}
    got = sorted(
        r.doc_id
        for r in select_until_budgets(
            docs, budgets, strata_col="lang", size_col="n_chars", order_by="doc_id"
        ).collect()
    )

    pdf = docs.toPandas().sort_values("doc_id")
    expect = []
    for lang, b in budgets.items():
        g = pdf[pdf.lang == lang]
        cum = g.n_chars.cumsum()
        expect += list(g.doc_id[cum <= b])
    assert got == sorted(expect)
    # default_budget=0 drops strata not listed
    langs = {r.lang for r in select_until_budgets(
        docs, budgets, strata_col="lang", size_col="n_chars", order_by="doc_id"
    ).select("lang").distinct().collect()}
    assert langs <= set(budgets)


def test_select_until_budgets_default_budget(spark, sf_dir):
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline import select_until_budgets

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = select_until_budgets(
        docs, {}, strata_col="lang", size_col="n_chars",
        order_by="doc_id", default_budget=10**12,
    )
    assert out.count() == docs.count()


def test_mixture_report_semantics(spark, sf_dir):
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline import mixture_report

    docs = load_table(spark, sf_dir, "documents")
    # 'after' drops one language entirely: the report must keep its row
    # with zeros rather than losing it
    after = docs.filter("lang <> 'en'")
    rep = {r.stratum: r.asDict() for r in mixture_report(
        docs, after, strata_col="lang", size_col="n_chars"
    ).collect()}
    assert rep["en"]["n_after"] == 0 and rep["en"]["sz_after"] == 0
    assert rep["en"]["keep_rate_e6"] == 0 and rep["en"]["share_after_e6"] == 0
    for lang, row in rep.items():
        if lang != "en":
            assert row["n_after"] == row["n_before"]
            assert row["keep_rate_e6"] == 1_000_000
    # integer-floored shares sum to <= 1e6 and within #strata of it
    for suffix in ("before", "after"):
        tot = sum(r[f"share_{suffix}_e6"] for r in rep.values())
        assert 1_000_000 - len(rep) <= tot <= 1_000_000

    # without size_col the size columns are absent
    slim = mixture_report(docs, after, strata_col="lang")
    assert "sz_before" not in slim.columns and "sz_after" not in slim.columns


def test_temperature_mix_null_stratum_is_a_stratum(spark):
    """NULL strata are counted, rated, and kept at their own rate — never
    silently dropped (review r08: a plain CASE on equality would drop
    them and let a tiny NULL group wrongly anchor every real rate)."""
    from fugue_spark.operators.sampling import temperature_mix
    from fugue_spark.schema import parse_schema

    rows = [[i, "en"] for i in range(200)] + [[200 + i, None] for i in range(40)]
    df = spark.createDataFrame(rows, parse_schema("id:long,lang:str"))
    # alpha=1: identity — every row, including the NULL stratum, survives
    assert temperature_mix(df, "lang", 1.0, ["id"]).count() == 240
    # alpha=0: every stratum levels to ~n_min=40; NULL rows all kept
    out = temperature_mix(df, "lang", 0.0, ["id"]).toPandas()
    nulls = out[out.lang.isna()]
    assert len(nulls) == 40  # the anchor stratum is kept in full
    kept_en = len(out) - len(nulls)
    assert abs(kept_en - 40) <= 4 * 40**0.5 + 2


def test_mixture_report_null_stratum_join(spark):
    """A NULL stratum kept in full must report keep_rate_e6=1e6, not 0
    (equi-join on the stratum would drop the NULL match)."""
    from fugue_spark.pipeline import mixture_report
    from fugue_spark.schema import parse_schema

    rows = [[i, "en"] for i in range(10)] + [[10 + i, None] for i in range(5)]
    df = spark.createDataFrame(rows, parse_schema("id:long,lang:str"))
    rep = {
        r.stratum: r.asDict()
        for r in mixture_report(df, df, strata_col="lang").collect()
    }
    assert rep[None]["n_after"] == 5 and rep[None]["keep_rate_e6"] == 1_000_000
    assert rep["en"]["keep_rate_e6"] == 1_000_000


# -------- round 9: mixing operators at high stratum cardinality --------


def test_select_until_budgets_many_strata_bounded(spark):
    """5k-entry budgets dict must plan in bounded time: the budget lookup is
    a broadcast-joined #budgets-row frame, NOT a CASE-of-literals chain
    (which grows Catalyst analysis linearly in the dict size)."""
    import time

    import pandas as pd

    from fugue_spark.pipeline import select_until_budgets

    n_strata = 5000
    n_rows = 4 * n_strata
    pdf = pd.DataFrame(
        {
            "lang": [f"s{i % n_strata}" for i in range(n_rows)],
            "doc_id": list(range(n_rows)),
            "n_tok": [30] * n_rows,
        }
    )
    df = spark.createDataFrame(pdf)
    budgets = {f"s{i}": 100 for i in range(n_strata)}
    t0 = time.time()
    out = select_until_budgets(df, budgets, "lang", "n_tok", "doc_id")
    cnt = out.count()
    elapsed = time.time() - t0
    # 4 rows of 30 per stratum; budget 100 keeps the first 3 (90 <= 100)
    assert cnt == 3 * n_strata
    assert elapsed < 120, f"5k-strata plan took {elapsed:.1f}s — CASE-chain regression?"
    # absent stratum honors default_budget via coalesce
    few = select_until_budgets(
        df, {"s0": 100}, "lang", "n_tok", "doc_id", default_budget=30
    )
    got = few.groupBy("lang").count().toPandas()
    assert got[got.lang == "s0"]["count"].iloc[0] == 3
    assert (got[got.lang != "s0"]["count"] == 1).all()


def test_select_until_budgets_reserved_names(spark):
    import pandas as pd

    from fugue_spark.pipeline import select_until_budgets

    df = spark.createDataFrame(
        pd.DataFrame({"lang": ["a"], "doc_id": [1], "n_tok": [5], "__budget__": [1]})
    )
    with pytest.raises(ValueError, match="__budget__"):
        select_until_budgets(df, {"a": 10}, "lang", "n_tok", "doc_id")


def test_temperature_mix_many_strata_in_plan(spark):
    """10k strata: rates are derived fully in-plan (no driver collect of the
    stratum counts) and every equal-size stratum keeps all rows at any
    alpha (n_min == n_s => rate 1.0)."""
    import time

    import pandas as pd

    from fugue_spark.operators.sampling import temperature_mix

    n_strata = 10000
    pdf = pd.DataFrame(
        {
            "lang": [f"s{i % n_strata}" for i in range(2 * n_strata)],
            "doc_id": list(range(2 * n_strata)),
        }
    )
    df = spark.createDataFrame(pdf)
    t0 = time.time()
    assert temperature_mix(df, "lang", 0.5, ["doc_id"]).count() == 2 * n_strata
    assert time.time() - t0 < 120


def test_temperature_mix_reserved_names(spark):
    import pandas as pd

    from fugue_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(pd.DataFrame({"lang": ["a"], "__w__": [1.0]}))
    with pytest.raises(ValueError, match="__w__"):
        temperature_mix(df, "lang", 0.5, ["lang"])


def test_select_until_budget_topk_and_fallback_agree(spark):
    """The bounded top-K plan (budget // min_size + 1 candidates, no global
    shuffle), the adaptive single-window path (small input estimate) and
    the hierarchical two-pass (unknown estimate) must each select the
    pandas reference set."""
    import pandas as pd

    from fugue_spark.pipeline import select_until_budget

    rng_rows = [(i, (i * 37) % 90 + 10, (i * 17) % 1000000) for i in range(3000)]
    pdf = pd.DataFrame(rng_rows, columns=["doc_id", "n_tok", "ord"])

    def ref(p):
        p = p.sort_values("ord")
        return sorted(p[p.n_tok.cumsum() <= 5000].doc_id.tolist())

    def run(frame):
        out = select_until_budget(frame, 5000, "n_tok", "ord")
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(r.doc_id for r in out.collect()), plan

    # positive sizes bound the kept rows: the top-K plan
    got, plan = run(spark.createDataFrame(pdf))
    assert "TakeOrderedAndProject" in plan
    assert len(got) > 0
    assert got == ref(pdf)
    # a non-positive size refuses the top-K bound; the small input then
    # takes the single global window...
    pdf2 = pdf.copy()
    pdf2.loc[0, "n_tok"] = 0
    df2 = spark.createDataFrame(pdf2)
    got, plan = run(df2)
    assert "TakeOrderedAndProject" not in plan
    assert "__shard__" not in plan
    assert got == ref(pdf2)
    # ...and an RDD-backed frame (unknown estimate) the hierarchical two-pass
    got, plan = run(spark.createDataFrame(df2.rdd, df2.schema))
    assert "__shard__" in plan
    assert got == ref(pdf2)


def test_select_until_budget_topk_plan_has_no_exchange(spark):
    """The top-K path must compile to TakeOrderedAndProject (per-partition
    top-K merge) — not a full-sort exchange of the data."""
    import pandas as pd

    from fugue_spark.pipeline import select_until_budget

    pdf = pd.DataFrame(
        {"doc_id": range(1000), "n_tok": [50] * 1000, "ord": range(1000)}
    )
    df = spark.createDataFrame(pdf)
    out = select_until_budget(df, 500, "n_tok", "ord")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_semantic_dedup_drops_planted_copies(spark):
    """SemDeDup semantics on planted near-copies: for each base vector with
    3 noisy copies, exactly the lowest-id member of the copy group must
    survive (the copies land in the base's cluster and are shadowed by
    it); well-separated bases all survive."""
    import numpy as np

    from fugue_spark.pipeline import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((12, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [[i, [float(x) for x in base[i]]] for i in range(12)]
    vid = 12
    for i in range(12):
        for _ in range(3):
            noisy = base[i] + 0.02 * rng.standard_normal(64)
            rows.append([vid, [float(x) for x in noisy]])
            vid += 1
    df = spark.createDataFrame(rows, parse_schema("vec_id:long,embedding:[float]"))
    kept = semantic_dedup(df, threshold=0.9, n_clusters=12).collect()
    kept_ids = {r.vec_id for r in kept}
    # random 64-dim unit vectors: pairwise |cos| ~ 0.12, far below 0.9, so
    # every base survives; each noisy copy (cos ≈ 0.998 to its base) is
    # shadowed by the base or an earlier copy
    assert kept_ids == set(range(12))
    # survivors keep all original columns + cluster
    assert set(kept[0].asDict()) == {"vec_id", "embedding", "cluster"}


def test_semantic_dedup_kmeans_mode_valid(spark, emb):
    """kmeans centroid mode: every dropped row must have a lower-id
    same-cluster row at cosine >= threshold (verified independently in
    numpy), and survivors must be a subset of the input."""
    import numpy as np

    from fugue_spark.pipeline import semantic_dedup

    thr = 0.35
    kept_df = semantic_dedup(
        emb, threshold=thr, n_clusters=6, centroids="kmeans", sample_size=500
    )
    kept = {r.vec_id: r.cluster for r in kept_df.select("vec_id", "cluster").collect()}
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    assert set(kept) <= set(vecs) and 0 < len(kept) <= len(vecs)
    # reconstruct each row's cluster from the survivors' labels is not
    # possible for dropped rows, so check the weaker (but sufficient)
    # direction: no two SURVIVORS in the same cluster are near-dups where
    # the later one should have been shadowed
    by_cluster: dict = {}
    for vid, cl in kept.items():
        by_cluster.setdefault(cl, []).append(vid)
    for members in by_cluster.values():
        members.sort()
        for i, b in enumerate(members):
            for a in members[:i]:
                va, vb = vecs[a], vecs[b]
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                assert int(np.floor(cos * 1e6)) < int(thr * 1e6)


def test_semantic_dedup_plan_no_cartesian(spark, emb):
    """The pair probe must be a cluster equi-join — no cartesian or
    nested-loop join anywhere in the physical plan."""
    from fugue_spark.pipeline import semantic_dedup

    plan = (
        semantic_dedup(emb, threshold=0.35, n_clusters=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_bad_mode_raises(spark, emb):
    from fugue_spark.pipeline import semantic_dedup

    with pytest.raises(ValueError, match="centroids"):
        semantic_dedup(emb, centroids="median")


# --- distributed Bloom filter (incremental dedup) ---


def test_bloom_no_false_negatives_and_low_fp(spark, docs):
    """Every history document must be flagged when re-probed (exact
    no-false-negative guarantee); fresh documents should almost all pass
    (FP rate ~1% at 10 bits/fingerprint, k=5)."""
    from fugue_spark.pipeline import bloom_build, bloom_flag

    bloom = bloom_build(docs, n_bits=1 << 16, n_hashes=5)
    assert bloom.count() <= (1 << 16) // 64
    # re-probe history: all maybe_dup
    re = bloom_flag(docs, bloom)
    assert re.filter(~F.col("maybe_dup")).count() == 0
    # fresh docs: text guaranteed disjoint from the corpus vocabulary mix
    fresh = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('fresh document ', id, ' zzqx') AS text"
    )
    fl = bloom_flag(fresh, bloom)
    n_fp = fl.filter(F.col("maybe_dup")).count()
    assert n_fp <= 15  # ~1% expected; generous bound keeps the test stable


def test_bloom_dedup_incremental_exact_with_history(spark, docs):
    """bloom-then-verify: with history attached the result equals the exact
    anti-join — FPs are rescued by the bounded verify step."""
    from fugue_spark.pipeline import bloom_build, dedup_incremental

    history = docs.filter(F.col("doc_id") % 2 == 0)
    # new batch: half true dups (even ids re-sent), half genuinely new
    dups = history.limit(50)
    fresh = spark.range(10_000, 10_200).selectExpr(
        "id AS doc_id", "concat('novel text ', id) AS text"
    )
    new = dups.select("doc_id", "text").unionByName(fresh)
    bloom = bloom_build(history, n_bits=1 << 16)
    out = dedup_incremental(new, bloom, history=history)
    got = sorted(r.doc_id for r in out.collect())
    assert got == sorted(r.doc_id for r in fresh.collect())
    # without history: still drops ALL true dups (no false negatives),
    # may additionally drop ~FP-rate of the fresh rows
    approx = dedup_incremental(new, bloom)
    ids = {r.doc_id for r in approx.collect()}
    assert ids <= set(got) and len(ids) >= 0.95 * len(got)


def test_bloom_merge_is_union(spark, docs):
    from fugue_spark.pipeline import bloom_build, bloom_flag, bloom_merge

    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = bloom_merge(
        bloom_build(a, n_bits=1 << 16), bloom_build(b, n_bits=1 << 16)
    )
    whole = bloom_build(docs, n_bits=1 << 16)
    # OR-composition: identical (word, bits) rows
    m = {(r.word, r.bits) for r in merged.collect()}
    w = {(r.word, r.bits) for r in whole.collect()}
    assert m == w
    assert bloom_flag(docs, merged).filter(~F.col("maybe_dup")).count() == 0


def test_bloom_validation_errors(spark, docs):
    from fugue_spark.pipeline import bloom_build, bloom_merge

    with pytest.raises(ValueError, match="multiple"):
        bloom_build(docs, n_bits=100)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_build(docs, n_hashes=0)
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge()


def test_bloom_roundtrips_through_parquet(spark, docs, tmp_path):
    """The filter is a plain DataFrame — the parquet save/load IS the
    signature store for incremental pipelines."""
    from fugue_spark.pipeline import bloom_build, bloom_flag

    path = str(tmp_path / "bloom.parquet")
    bloom_build(docs, n_bits=1 << 16).write.parquet(path)
    back = spark.read.parquet(path)
    assert bloom_flag(docs, back).filter(~F.col("maybe_dup")).count() == 0


def test_bloom_geometry_mismatch_and_missing_metadata(spark, docs):
    from fugue_spark.pipeline import bloom_build, bloom_flag, bloom_merge

    a = bloom_build(docs, n_bits=1 << 16)
    b = bloom_build(docs, n_bits=1 << 17)
    with pytest.raises(ValueError, match="geometry"):
        bloom_merge(a, b)
    # a frame without the stamp is rejected, not probed wrong
    bare = a.select("word", F.col("bits").cast("long").alias("bits"))
    with pytest.raises(ValueError, match="not a bloom frame"):
        bloom_flag(docs, bare)


# --- product quantization (compressed ANN) ---


def _planted_corpus(spark, n_base=20, copies=3, dim=64, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    rows = [[i, [float(x) for x in base[i]]] for i in range(n_base)]
    vid = n_base
    for i in range(n_base):
        for _ in range(copies):
            noisy = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append([vid, [float(x) for x in noisy]])
            vid += 1
    return spark.createDataFrame(rows, parse_schema("vec_id:long,embedding:[float]"))


def test_pq_recall_on_planted_neighbors(spark):
    """PQ/ADC must recall planted near-copies: 8-byte codes (32x smaller
    than the float32 vectors) still rank the cos~0.99 copies first."""
    from fugue_spark.pipeline import pq_encode, pq_topk, pq_train

    df = _planted_corpus(spark)
    queries = df.filter(F.col("vec_id") < 20)
    cb = pq_train(df, m=8, n_centroids=32, sample_size=200)
    codes = pq_encode(df, cb)
    row = codes.first()
    assert len(bytes(row.pq_code)) == 8  # m bytes per vector
    brute = cosine_topk_bruteforce(df, queries, k=3)
    approx = pq_topk(codes, queries, cb, k=3)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(b) == 60
    assert len(a & b) >= 0.85 * len(b)


def test_pq_codebook_roundtrip_and_determinism(spark):
    from fugue_spark.pipeline import PQCodebook, pq_encode, pq_train

    df = _planted_corpus(spark, n_base=10, copies=1)
    cb = pq_train(df, m=4, n_centroids=8, sample_size=100)
    # store roundtrip: flat pandas frame (parquet-persistable)
    back = PQCodebook.from_pandas(cb.to_pandas(), dim=cb.dim)
    assert back.centroids.shape == cb.centroids.shape
    assert float(abs(back.centroids - cb.centroids).max()) == 0.0
    # deterministic: same seed, same codes
    c1 = {r.vec_id: bytes(r.pq_code) for r in pq_encode(df, cb).collect()}
    c2 = {r.vec_id: bytes(r.pq_code) for r in pq_encode(df, back).collect()}
    assert c1 == c2


def test_pq_validation_errors(spark):
    from fugue_spark.pipeline import pq_topk, pq_train

    df = _planted_corpus(spark, n_base=5, copies=0)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=7)
    with pytest.raises(ValueError, match="byte codes"):
        pq_train(df, m=8, n_centroids=512)
    cb = pq_train(df, m=8, n_centroids=4, sample_size=10)
    from fugue_spark.pipeline import pq_encode

    codes = pq_encode(df, cb)
    with pytest.raises(ValueError, match="batching"):
        pq_topk(codes, df, cb, k=2, n_queries_guard=3)


def test_bloom_broadcast_mode_matches_join_mode(spark, docs):
    from fugue_spark.pipeline import bloom_build, bloom_flag

    bloom = bloom_build(docs, n_bits=1 << 16)
    fresh = spark.range(0, 200).selectExpr(
        "id AS doc_id", "concat('bcast probe ', id) AS text"
    )
    for probe in (docs.select("doc_id", "text"), fresh):
        j = {(r.doc_id, r.maybe_dup) for r in bloom_flag(probe, bloom).collect()}
        b = {
            (r.doc_id, r.maybe_dup)
            for r in bloom_flag(probe, bloom, mode="broadcast").collect()
        }
        assert j == b
    with pytest.raises(ValueError, match="mode"):
        bloom_flag(docs, bloom, mode="bitmap")


def test_bloom_broadcast_refuses_oversize_bitmap(spark, docs):
    from fugue_spark.pipeline import bloom_build, bloom_flag
    from fugue_spark.pipeline.bloom import _stamp

    bloom = bloom_build(docs.limit(5), n_bits=1 << 16)
    huge = _stamp(bloom, 1 << 34, 5)  # forged geometry: 2 GiB bitmap
    with pytest.raises(ValueError, match="broadcast-bitmap bound"):
        bloom_flag(docs, huge, mode="broadcast")


def test_pq_empty_queries_and_string_ids(spark):
    """Edge cases from review: zero query rows must return an empty frame
    (not crash in the LUT build), and non-long id columns must carry
    through with their own types."""
    from fugue_spark.pipeline import pq_encode, pq_topk, pq_train

    df = _planted_corpus(spark, n_base=8, copies=1)
    cb = pq_train(df, m=8, n_centroids=8, sample_size=50)
    sdf = df.selectExpr("concat('v', vec_id) AS vec_id", "embedding")
    codes = pq_encode(sdf, cb)
    empty = pq_topk(codes, sdf.limit(0), cb, k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "neighbor_id", "dist_e6", "rank",
    ]
    got = pq_topk(codes, sdf.filter("vec_id = 'v0'"), cb, k=3).collect()
    assert len(got) == 3 and all(isinstance(r.neighbor_id, str) for r in got)


def test_pq_codebook_parquet_roundtrip_preserves_flags(spark, tmp_path):
    """to_pandas/from_pandas must carry dim and normalized THROUGH parquet
    (pandas .attrs would silently drop them)."""
    import pandas as pd

    from fugue_spark.pipeline import PQCodebook, pq_train

    df = _planted_corpus(spark, n_base=8, copies=0)
    cb = pq_train(df, m=4, n_centroids=4, sample_size=20)
    cb.normalized = False  # non-default must survive the store
    path = str(tmp_path / "cb.parquet")
    cb.to_pandas().to_parquet(path)
    back = PQCodebook.from_pandas(pd.read_parquet(path))
    assert back.dim == cb.dim and back.normalized is False
    assert float(abs(back.centroids - cb.centroids).max()) == 0.0


def test_bloom_build_partition_invariant(spark, docs):
    """bit_or is commutative/associative: the filter must be identical for
    any input partitioning (the local form of the 1000-executor claim)."""
    from fugue_spark.pipeline import bloom_build

    one = {(r.word, r.bits) for r in bloom_build(docs.coalesce(1), n_bits=1 << 16).collect()}
    many = {(r.word, r.bits) for r in bloom_build(docs.repartition(7), n_bits=1 << 16).collect()}
    assert one == many and len(one) > 0
