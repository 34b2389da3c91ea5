from __future__ import annotations

import os
import re

import pytest
from conftest import count_jobs

import fugue_spark.api as fa
from fugue_spark.schema import parse_schema


def rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def test_load_glob_and_folder(spark, tmp_path):
    a = spark.createDataFrame([[1, "x"]], parse_schema("a:long,b:str"))
    b = spark.createDataFrame([[2, "y"]], parse_schema("a:long,b:str"))
    d1 = os.path.join(str(tmp_path), "part1.parquet")
    d2 = os.path.join(str(tmp_path), "part2.parquet")
    fa.save(a, d1)
    fa.save(b, d2)
    # glob over both datasets
    got = fa.load(spark, os.path.join(str(tmp_path), "part*.parquet"), format_hint="parquet")
    assert rows(got) == [(1, "x"), (2, "y")]
    # list of paths
    got = fa.load(spark, [d1, d2], format_hint="parquet")
    assert rows(got) == [(1, "x"), (2, "y")]


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([[1, "x"], [2, "y"]], parse_schema("a:long,b:str"))
    p = os.path.join(str(tmp_path), "t.orc")
    fa.save(df, p)
    assert rows(fa.load(spark, p)) == [(1, "x"), (2, "y")]


def test_csv_no_header_with_schema(spark, tmp_path):
    df = spark.createDataFrame([[1, "x"]], parse_schema("a:long,b:str"))
    p = os.path.join(str(tmp_path), "t.csv")
    fa.save(df, p, header=False)
    back = fa.load(spark, p, header=False, schema="a:long,b:str")
    assert rows(back) == [(1, "x")]
    with pytest.raises(ValueError):
        fa.load(spark, p, schema="a:long,b:str", infer_schema=True)


def test_json_single_file(spark, tmp_path):
    df = spark.createDataFrame([[1, "x"], [2, "y"]], parse_schema("a:long,b:str"))
    p = os.path.join(str(tmp_path), "single.json")
    fa.save(df, p, force_single=True)
    assert os.path.isfile(p)
    back = fa.load(spark, p, columns="a:long,b:str")
    assert rows(back) == [(1, "x"), (2, "y")]


# --- compact_dataset (small-files compaction) ---


def _mk_small_files(spark, path, n_parts=16):
    df = spark.range(0, 2000).selectExpr("id", "id % 3 AS lang", "repeat('x', 50) AS pad")
    df.repartition(n_parts).write.mode("overwrite").parquet(path)
    return df


def test_compact_reduces_file_count_losslessly(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset, dataset_file_stats

    src = str(tmp_path / "many.parquet")
    out = str(tmp_path / "compacted.parquet")
    _mk_small_files(spark, src, n_parts=16)
    assert dataset_file_stats(spark, src)["n_files"] == 16
    stats = compact_dataset(spark, src, out, target_file_bytes=1 << 30)
    assert stats["in_files"] == 16 and stats["out_files"] == 1
    assert stats["requested_files"] == 1
    a = sorted(r.id for r in spark.read.parquet(src).collect())
    b = sorted(r.id for r in spark.read.parquet(out).collect())
    assert a == b


def test_compact_target_splits_into_multiple_files(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "many2.parquet")
    out = str(tmp_path / "split.parquet")
    _mk_small_files(spark, src, n_parts=16)
    total = compact_dataset(spark, src, out, target_file_bytes=1 << 30)["in_bytes"]
    stats = compact_dataset(
        spark, src, out, target_file_bytes=max(1, total // 4 + 1), mode="overwrite"
    )
    assert stats["out_files"] == stats["requested_files"] == 4


def test_compact_coalesce_path_no_shuffle(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "many3.parquet")
    out = str(tmp_path / "coal.parquet")
    _mk_small_files(spark, src, n_parts=8)
    stats = compact_dataset(spark, src, out, target_file_bytes=1 << 30, shuffle=False)
    assert stats["out_files"] == 1
    assert spark.read.parquet(out).count() == 2000


def test_compact_partitioned_layout_bounded(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset, dataset_file_stats

    src = str(tmp_path / "many4.parquet")
    out = str(tmp_path / "bylang.parquet")
    _mk_small_files(spark, src, n_parts=16)
    stats = compact_dataset(
        spark, src, out, target_file_bytes=1 << 30, partition_by=["lang"]
    )
    # 3 partition values, global request of 1 file -> 1 file per value
    assert stats["out_files"] == 3
    assert dataset_file_stats(spark, out)["n_files"] == 3
    visible = sorted(e for e in os.listdir(out) if not e.startswith("."))
    assert visible == ["_SUCCESS", "lang=0", "lang=1", "lang=2"]
    back = spark.read.parquet(out)
    assert back.count() == 2000 and back.select("lang").distinct().count() == 3


def test_compact_refuses_in_place_and_bad_target(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "many5.parquet")
    _mk_small_files(spark, src, n_parts=2)
    with pytest.raises(ValueError, match="must not be the input"):
        compact_dataset(spark, src, src)
    with pytest.raises(ValueError, match="positive"):
        compact_dataset(spark, src, str(tmp_path / "o.parquet"), target_file_bytes=0)


def test_compact_format_conversion(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "many6.parquet")
    out = str(tmp_path / "conv.orc")
    _mk_small_files(spark, src, n_parts=4)
    stats = compact_dataset(spark, src, out, target_file_bytes=1 << 30)
    assert stats["out_files"] == 1
    assert spark.read.orc(out).count() == 2000


def test_compact_refuses_nested_output(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "nested.parquet")
    _mk_small_files(spark, src, n_parts=2)
    with pytest.raises(ValueError, match="nested"):
        compact_dataset(spark, src, src + "/compact.parquet")
    with pytest.raises(ValueError, match="nested"):
        compact_dataset(spark, src, str(tmp_path))  # output contains input


def test_compact_unknown_out_extension_falls_back_to_input_format(spark, tmp_path):
    from fugue_spark.sources.compact import compact_dataset

    src = str(tmp_path / "dated.parquet")
    out = str(tmp_path / "out.2024_01")
    _mk_small_files(spark, src, n_parts=4)
    stats = compact_dataset(spark, src, out, target_file_bytes=1 << 30)
    assert stats["out_files"] == 1
    assert spark.read.parquet(out).count() == 2000


# --- parquet schema memo (load_df) ---


def _plan_and_size(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    return re.sub(r"#\d+L?", "#", plan.toString()), plan.stats().sizeInBytes()


def _save_file(spark, path, data, schema):
    fa.save(spark.createDataFrame(data, parse_schema(schema)), path, force_single=True)


def test_parquet_file_schema_is_inferred_once(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _save_file(spark, p, [[1, "x"]], "a:long,b:str")
    first, n_first = count_jobs(spark, lambda: fa.load(spark, p))
    again, n_again = count_jobs(spark, lambda: fa.load(spark, p))
    assert n_first == 1 and n_again == 0
    assert again.schema == first.schema
    assert _plan_and_size(again) == _plan_and_size(first)
    assert rows(again) == [(1, "x")]


def test_rewritten_parquet_file_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _save_file(spark, p, [[1, "x"]], "a:long,b:str")
    assert fa.load(spark, p).columns == ["a", "b"]
    _save_file(spark, p, [[2.5]], "c:double")
    back, n = count_jobs(spark, lambda: fa.load(spark, p))
    assert n == 1
    assert back.schema == parse_schema("c:double")
    assert rows(back) == [(2.5,)]


def test_schema_conf_change_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    # a parquet TIMESTAMP(NANOS) column is a long under nanosAsLong and an
    # analysis error without it
    p = str(tmp_path / "events.parquet")
    ts = pa.array([1_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), p)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        fa.load(spark, p)
        df, n = count_jobs(spark, lambda: fa.load(spark, p))
        assert n == 0 and isinstance(df.schema["ts"].dataType, T.LongType)
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="NANOS"):
            fa.load(spark, p)
    finally:
        spark.conf.set(key, prev)


def test_directories_globs_lists_and_options_keep_spark_inference(spark, tmp_path):
    d = str(tmp_path / "dir.parquet")
    spark.range(3).write.parquet(d)
    f1, f2 = str(tmp_path / "f1.parquet"), str(tmp_path / "f2.parquet")
    _save_file(spark, f1, [[1]], "a:long")
    _save_file(spark, f2, [[2]], "a:long")
    reads = [
        lambda: fa.load(spark, d),
        lambda: fa.load(spark, str(tmp_path / "f*.parquet"), format_hint="parquet"),
        lambda: fa.load(spark, [f1, f2]),
        lambda: fa.load(spark, f1, mergeSchema="false"),
    ]
    for read in reads:
        read()
        _, n = count_jobs(spark, read)
        assert n == 1


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    import fugue_spark.sources as S

    monkeypatch.setattr(S, "_SCHEMA_MEMO_MAX", 2)
    monkeypatch.setattr(S, "_SCHEMA_MEMO", {})
    paths = [str(tmp_path / f"m{i}.parquet") for i in range(3)]
    for i, p in enumerate(paths):
        _save_file(spark, p, [[i]], "a:long")
        fa.load(spark, p)
        assert len(S._SCHEMA_MEMO) == min(i + 1, 2)
    # the oldest entry went first
    assert count_jobs(spark, lambda: fa.load(spark, paths[2]))[1] == 0
    assert count_jobs(spark, lambda: fa.load(spark, paths[1]))[1] == 0
    assert count_jobs(spark, lambda: fa.load(spark, paths[0]))[1] == 1
