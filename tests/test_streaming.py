"""Streaming tests: batch/stream agreement on windowed aggregation,
stateful transform, RPC callbacks."""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fugue_spark import streaming as fs
from fugue_spark.schema import parse_schema

SF = "/root/testdata/sf0.001"
EVENTS = f"{SF}/events.parquet"


def test_stream_windowed_agg_matches_batch(spark):
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")
    agg = fs.windowed_agg(
        stream,
        "ts",
        "1 hour",
        by=["event_type"],
        aggs={"n": F.count(F.lit(1))},
        watermark="1 minute",
    )
    got = fs.run_to_memory(agg, "win_test").toPandas()

    from fugue_spark.benchmarks import load_table

    batch = (
        load_table(spark, SF, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    a = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_stream_session_agg_runs(spark):
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")
    agg = fs.session_agg(
        stream,
        "ts",
        "2 hours",
        by=["user_id"],
        aggs={"n": F.count(F.lit(1))},
        watermark="1 minute",
    )
    out = fs.run_to_memory(agg, "sess_test")
    assert out.count() > 0
    row = out.first()
    assert row.session_end >= row.session_start


def test_transform_stream(spark):
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")

    def enrich(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(v2=pdf.value * 2)[["event_id", "v2"]]

    out = fs.transform_stream(stream, enrich, schema="event_id:long,v2:double")
    res = fs.run_to_memory(out, "tx_test", output_mode="append")
    n = res.count()
    from fugue_spark.benchmarks import load_table

    assert n == load_table(spark, SF, "events").count()


def test_transform_stream_python_map_engine(spark, monkeypatch):
    """With auto-compile off, both map shapes run on a stream: a whole
    micro-batch partition (no sort, which streams reject) and the lazy
    batch stream."""
    from collections.abc import Iterable

    from fugue_spark.benchmarks import load_table
    from fugue_spark.plans import physical_plan

    monkeypatch.setenv("FUGUE_SPARK_AUTO_COMPILE", "0")
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")

    def enrich(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(v2=pdf.value * 2)[["event_id", "v2"]]

    def enrich_batches(pdfs: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in pdfs:
            yield enrich(pdf)

    want = load_table(spark, SF, "events").count()
    for i, fn in enumerate((enrich, enrich_batches)):
        out = fs.transform_stream(stream, fn, schema="event_id:long,v2:double")
        assert "MapInArrow" in physical_plan(out, "simple")
        res = fs.run_to_memory(out, f"tx_python_{i}", output_mode="append")
        assert res.count() == want


def test_stateful_transform_counts(spark):
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")

    def count_per_key(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"event_type": [key[0]], "n": [total]})

    out = fs.stateful_transform(
        stream.select("event_type", "event_id"),
        keys=["event_type"],
        fn=count_per_key,
        output_schema="event_type:str,n:long",
        state_schema="n:long",
        output_mode="update",
    )
    res = fs.run_to_memory(out, "state_test", output_mode="update").toPandas()
    from fugue_spark.benchmarks import load_table

    batch = (
        load_table(spark, SF, "events").groupBy("event_type").count().toPandas()
    )
    got = res.groupby("event_type").n.max().sort_index()
    want = batch.set_index("event_type")["count"].sort_index()
    assert (got == want).all()


def test_rpc_callback_from_workers(spark):
    import fugue_spark.api as fa

    seen = []

    def handler(x):
        seen.append(x)
        return len(seen)

    df = spark.createDataFrame([[i] for i in range(4)], parse_schema("a:int"))

    def fn(pdf: pd.DataFrame, callback) -> pd.DataFrame:
        callback(int(pdf.a.sum()))
        return pdf

    res = fa.transform(
        df, fn, schema="*", partition={"by": ["a"]}, callback=handler
    )
    assert len(res.collect()) == 4
    assert sorted(seen) == [0, 1, 2, 3]


def test_rpc_rejects_unauthenticated_frames():
    """A frame without a valid HMAC must never reach pickle.loads or a
    handler; a stub with the right key round-trips."""
    import pickle
    import socket
    import struct

    from fugue_spark.rpc import RPCServer

    calls = []
    srv = RPCServer().register("cb", lambda x: calls.append(x) or x + 1).start()
    try:
        host, port = "127.0.0.1", srv.address[1]
        ok = srv.client("cb")
        assert ok(41) == 42 and calls == [41]

        forged = pickle.dumps(("cb", (99,), {}))
        with socket.create_connection((host, port), timeout=5) as s:
            s.sendall(struct.pack(">I", len(forged)) + forged)
            assert s.recv(4096) == b""  # server drops the connection
        # short/garbage frame likewise
        with socket.create_connection((host, port), timeout=5) as s:
            s.sendall(struct.pack(">I", 4) + b"\x00" * 4)
            assert s.recv(4096) == b""
        assert calls == [41]  # forged frames never executed

        # wrong-key client fails cleanly
        from fugue_spark.rpc import RPCClient

        bad = RPCClient(host, port, "cb", b"\x00" * 32)
        try:
            bad(1)
            raise AssertionError("expected auth failure")
        except (ConnectionError, RuntimeError):
            pass
        assert calls == [41]
    finally:
        srv.stop()


def test_stream_dedup_exact(spark):
    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")
    deduped = fs.stream_dedup_exact(
        stream.select("user_id", "event_type", "event_id"),
        keys=["user_id", "event_type"],
    )
    out = fs.run_to_memory(deduped, "dedup_test", output_mode="append")
    from fugue_spark.benchmarks import load_table

    n_pairs = (
        load_table(spark, SF, "events").select("user_id", "event_type").distinct().count()
    )
    assert out.count() == n_pairs
    assert out.select("user_id", "event_type").distinct().count() == n_pairs


def test_stream_dedup_ttl_expires_state(spark, tmp_path):
    # state for a key is dropped once the watermark passes last-seen + ttl;
    # the key re-emits when it reappears after expiry
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "in"
    d.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write(fname, rows, mtime):
        tbl = pa.table(
            {
                "k": pa.array([r[0] for r in rows], pa.string()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        )
        p = str(d / fname)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    h = datetime.timedelta(hours=1)
    # b1: first sighting of a and b
    write("001.parquet", [("a", t0), ("b", t0)], 1_000)
    # b2: filler advances the watermark far past a/b's ttl deadline,
    # so their state times out (no data for them this batch)
    write("002.parquet", [("c", t0 + 10 * h)], 2_000)
    # b3: filler-only batch — expiry fires for keys with no data in the
    # batch, so a/b's timed-out state is removed here
    write("003.parquet", [("d", t0 + 11 * h)], 3_000)
    # b4: a reappears after expiry -> re-emitted; c suppressed (still live)
    write("004.parquet", [("a", t0 + 12 * h), ("c", t0 + 12 * h)], 4_000)

    stream = fs.load_stream(
        spark,
        str(d),
        format_hint="parquet",
        schema="k:str,ts:datetime",
        maxFilesPerTrigger="1",
    )
    deduped = fs.stream_dedup_exact(
        stream,
        keys=["k"],
        event_time="ts",
        watermark="1 minute",
        state_ttl="1 hour",
    )
    out = fs.run_to_memory(deduped, "dedup_ttl_test", output_mode="append").toPandas()
    got = sorted(zip(out["k"], out["ts"]))
    assert [k for k, _ in got] == ["a", "a", "b", "c", "d"]
    # the second 'a' is the post-expiry re-emission
    a_times = [t for k, t in got if k == "a"]
    assert min(a_times) == t0 and max(a_times) == t0 + 12 * h


def test_load_stream_explicit_schema(spark):
    stream = fs.load_stream(
        spark,
        EVENTS,
        schema="event_id:long,ts:long,user_id:long,event_type:str,value:double,props:str",
        ts_nanos_col="ts",
    )
    out = fs.run_to_memory(
        stream.groupBy("event_type").count(), "schema_test"
    )
    assert out.count() == 5


def test_load_stream_timestamp_passthrough(spark, tmp_path):
    """ts_nanos_col that is ALREADY a timestamp passes through (as NTZ,
    unchanged wall-clock under the fixed UTC session tz); resolution is
    case-insensitive; non-timestamp non-integral columns raise."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "tsin"
    d.mkdir()
    t0 = datetime.datetime(2024, 6, 1, 12, 30, 0)
    pq.write_table(
        pa.table(
            {
                "k": pa.array(["x", "y"], pa.string()),
                "TS": pa.array([t0, t0 + datetime.timedelta(hours=1)], pa.timestamp("us")),
            }
        ),
        str(d / "part.parquet"),
    )
    # case-mismatched name resolves to the actual field
    stream = fs.load_stream(spark, str(d), format_hint="parquet", ts_nanos_col="ts")
    import pyspark.sql.types as T

    assert isinstance(stream.schema["TS"].dataType, T.TimestampNTZType)
    out = fs.run_to_memory(stream, "ts_passthrough_test", output_mode="append").toPandas()
    assert sorted(out["TS"]) == [t0, t0 + datetime.timedelta(hours=1)]

    with pytest.raises(ValueError, match="timestamp or integral"):
        fs.load_stream(spark, str(d), format_hint="parquet", ts_nanos_col="k")
    with pytest.raises(ValueError, match="not found"):
        fs.load_stream(spark, str(d), format_hint="parquet", ts_nanos_col="nope")


def test_stream_dedup_file_sink_end_to_end(spark, tmp_path):
    """availableNow file-sink run: load_stream -> TTL'd dedup ->
    write_stream parquet, output exactly-once-equal to the batch oracle."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = fs.load_stream(spark, EVENTS, ts_nanos_col="ts")
    deduped = fs.stream_dedup_exact(
        stream.select("user_id", "event_type", "ts"),
        keys=["user_id", "event_type"],
        event_time="ts",
        watermark="1 minute",
        state_ttl="365 days",  # nothing expires inside the bounded replay
    )
    q = fs.write_stream(deduped, out_dir, checkpoint=ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    from fugue_spark.benchmarks import load_table

    batch = load_table(spark, SF, "events").select("user_id", "event_type").distinct()
    assert got.count() == batch.count()  # exactly one row per key, no dupes
    assert (
        got.select("user_id", "event_type").distinct().count() == batch.count()
    )
    assert (
        got.select("user_id", "event_type")
        .exceptAll(batch)
        .count()
        == 0
    )


def test_pipeline_text_ops_work_on_streams(spark, tmp_path):
    """The text-pipeline operators are pure column expressions, so they
    apply to a streaming frame unchanged — stream output must equal the
    batch result on the same files (scrub + token stats + quality here)."""
    import fugue_spark.streaming as fs
    from fugue_spark.pipeline import scrub_text, with_token_stats

    src = str(tmp_path / "docs")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "mail me bob@x.io at https://a.b/c now",
                "just words here",
                "num 123456789 tail",
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)

    def enrich(df):
        return with_token_stats(scrub_text(df)).select(
            "doc_id", "n_url", "n_email", "n_num", "n_ws_tokens", "scrubbed"
        )

    stream = fs.load_stream(spark, src, format_hint="parquet")
    got = fs.run_to_memory(enrich(stream), "text_ops_stream", output_mode="append").toPandas()
    want = enrich(spark.read.parquet(src)).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_http_rpc_transport(spark):
    """HTTP/JSON RPC transport (reference fugue/rpc/flask.py semantics,
    stdlib-only + HMAC-gated): driver handler invoked from real Spark
    workers; forged MACs are rejected before dispatch."""
    import urllib.error
    import urllib.request

    from fugue_spark.rpc import HTTPRPCClient, HTTPRPCServer

    seen = []
    srv = HTTPRPCServer(host="127.0.0.1").register(
        "progress", lambda n, label="": (seen.append((n, label)), n * 2)[1]
    ).start()
    try:
        client = srv.client("progress")
        assert client(21, label="direct") == 42

        # from real worker processes (the stub pickles into the closure)
        df = spark.range(4).toDF("x")

        def report(pdf):
            pdf = pdf.assign(doubled=[client(int(v)) for v in pdf["x"]])
            return pdf

        import fugue_spark.api as fa

        out = fa.transform(df, report, schema="x:long,doubled:long")
        assert sorted(tuple(r) for r in out.collect()) == [
            (0, 0), (1, 2), (2, 4), (3, 6),
        ]
        assert (21, "direct") in seen and len(seen) >= 5

        # forged mac -> rejected before the handler runs
        bad = HTTPRPCClient(*srv.address, "progress", b"wrong-key")
        n_seen = len(seen)
        with pytest.raises((RuntimeError, urllib.error.HTTPError)):
            bad(1)
        assert len(seen) == n_seen

        # unknown handler name
        with pytest.raises((RuntimeError, urllib.error.HTTPError)):
            srv.client("nope")(1)
    finally:
        srv.stop()


def test_stream_static_join_matches_batch(spark):
    """Stream-static join (broadcast dim) + windowed agg ≡ the batch
    join+agg on the same data — the continuous-enrichment pattern."""
    tmp = tempfile.mkdtemp(prefix="fs_s3_")
    ev = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:40", "2024-01-01 01:10", "2024-01-01 00:20"]
            ),
            "uid": [1, 1, 2, 3],
            "v": [1.0, 2.0, 4.0, 8.0],
        }
    )
    spark.createDataFrame(ev).write.mode("overwrite").parquet(f"{tmp}/ev.parquet")
    dim = F.broadcast(
        spark.createDataFrame([[1, "A"], [2, "B"]], "uid long, seg string")
    )
    stream = fs.load_stream(spark, f"{tmp}/ev.parquet", format_hint="parquet")
    joined = stream.join(dim, on="uid", how="inner")  # uid=3 has no dim row
    agg = fs.windowed_agg(
        joined, "ts", "1 hour", by=["seg"],
        aggs={"n": F.count(F.lit(1)), "cents": F.sum(F.round(F.col("v") * 100, 0).cast("long"))},
        watermark="1 minute",
    )
    out = fs.run_to_memory(agg, "t_s3")
    got = {
        (str(r.window_start), r.seg): (r.n, r.cents)
        for r in out.collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "A"): (2, 300),
        ("2024-01-01 01:00:00", "B"): (1, 400),
    }


def test_stream_bloom_dedup_matches_batch(spark, tmp_path):
    """Ingest-time incremental dedup: a STREAM of new documents probed
    against a static history Bloom filter (broadcast bitmap — map-only,
    no stateful operator, append-safe). The surviving set must equal the
    batch run of the same probe."""
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline import bloom_build, bloom_flag

    docs = load_table(spark, SF, "documents")
    history = docs.filter("doc_id % 2 = 0")
    bloom = bloom_build(history, n_bits=1 << 16)

    # new batch: 30 re-sent history docs + 100 fresh ones, as stream files
    dups = history.select("doc_id", "text").limit(30)
    fresh = spark.range(50_000, 50_100).selectExpr(
        "id AS doc_id", "concat('stream novel ', id) AS text"
    )
    new = dups.unionByName(fresh)
    src = str(tmp_path / "incoming")
    new.coalesce(2).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    flagged = bloom_flag(stream, bloom, mode="broadcast")
    assert flagged.isStreaming
    clean = flagged.filter("NOT maybe_dup").drop("maybe_dup")
    out = fs.run_to_memory(clean, "bloom_stream_test", output_mode="append")
    got = sorted(r.doc_id for r in out.collect())
    want = sorted(
        r.doc_id
        for r in bloom_flag(new, bloom, mode="broadcast")
        .filter("NOT maybe_dup")
        .collect()
    )
    assert got == want
    # every fresh doc that bloom passes is present; every dup is gone
    assert set(got) <= set(range(50_000, 50_100))
    assert len(got) >= 95
