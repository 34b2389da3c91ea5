"""The bench input cache (``benchmarks.warm_cache``): layout, content,
conf hygiene and session ownership."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from conftest import SF_CORRECTNESS as SF
from conftest import SF_SMOKE, count_jobs

from fugue_spark import benchmarks as B

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def cached(spark):
    """Every table of SF cached, plus an uncached read of each to compare
    with; the cache is released afterwards so other tests read parquet."""
    refs = {t: B.load_table(spark, SF, t) for t in B.TABLES}
    B.warm_cache(spark, SF)
    yield {t: B._TABLE_CACHE[(SF, t)] for t in B.TABLES}, refs
    B.release_cache(SF)


def test_cache_is_built_without_round_robin(cached):
    frames, _ = cached
    # every sf0.01 file is one row group, so every table is cached
    assert set(frames) == set(B.TABLES)
    for t, df in frames.items():
        assert "RoundRobinPartitioning" not in _plan(df), t


def test_compute_dense_table_is_hash_spread(cached, spark):
    df = cached[0]["documents"]
    assert "hashpartitioning(xxhash64(" in _plan(df)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_one_partition_table_has_no_exchange(cached):
    for t in ("region", "nation", "customer"):
        df = cached[0][t]
        assert df.rdd.getNumPartitions() == 1, t
        assert "Exchange" not in _plan(df), t


def test_cache_is_shared_by_wrappers_of_one_session(cached, spark):
    # pyspark may hand out a second Python wrapper of the same JVM session
    # (``SparkSession.getActiveSession``); its reads still hit the cache
    from pyspark.sql import SparkSession

    wrapper = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert wrapper is not spark
    assert B.load_table(wrapper, SF, "region") is cached[0]["region"]


def test_cached_rows_equal_parquet(cached):
    frames, refs = cached
    for t, df in frames.items():
        ref = refs[t]
        assert df.count() == ref.count(), t
        assert df.exceptAll(ref).count() == 0, t
        assert ref.exceptAll(df).count() == 0, t


def test_spread_falls_back_to_round_robin_without_hashable_column(spark):
    df = spark.createDataFrame([({"a": 1}, 1)], "m map<string,int>, k int")
    mixed = _plan(B._spread(df, 2))
    assert "hashpartitioning(xxhash64(k" in mixed and "RoundRobin" not in mixed
    assert "RoundRobinPartitioning(2)" in _plan(B._spread(df.select("m"), 2))
    assert B._spread(df, 1).rdd.getNumPartitions() == 1


def test_compression_conf_is_restored(spark, monkeypatch):
    key = "spark.sql.inMemoryColumnarStorage.compressed"
    sf = SF_SMOKE
    prev = spark.conf.get(key)
    try:
        B.warm_cache(spark, sf, ("region",))
        assert (sf, "region") in B._TABLE_CACHE
        assert spark.conf.get(key) == prev
    finally:
        B.release_cache(sf)

    def fail(self):
        raise RuntimeError("count failed")

    monkeypatch.setattr(type(spark.range(1)), "count", fail)
    with pytest.raises(RuntimeError, match="count failed"):
        B.warm_cache(spark, sf, ("nation",))
    assert spark.conf.get(key) == prev
    assert (sf, "nation") not in B._TABLE_CACHE


def _copy_tables(tmp_path, tables) -> str:
    """A private copy of SF's ``tables``, so the cache built over it is
    this test's own."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in tables:
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    return d


def test_cache_is_built_in_one_job(spark, tmp_path):
    d = _copy_tables(tmp_path, B.TABLES)
    sc = spark.sparkContext
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    # off, as tune_for_input sets it for an input this small: under AQE
    # every shuffled cache adds a job of its own for its exchange
    spark.conf.set(key, "false")
    try:
        for t in B.TABLES:  # every file's schema is read
            B.load_table(spark, d, t)
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        _, n = count_jobs(spark, lambda: B.warm_cache(spark, d))
        assert n == 1
        built = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before]
        parts = sorted(B._TABLE_CACHE[(d, t)].rdd.getNumPartitions() for t in B.TABLES)
        assert sorted(i.numPartitions() for i in built) == parts
        for info in built:
            assert info.numCachedPartitions() == info.numPartitions()
    finally:
        B.release_cache(d)
        spark.conf.set(key, prev)


def test_failed_cache_build_unpersists_every_frame(spark, tmp_path, monkeypatch):
    tables = ("region", "nation", "customer")
    d = _copy_tables(tmp_path, tables)
    key = "spark.sql.inMemoryColumnarStorage.compressed"
    prev = spark.conf.get(key)
    cls = type(spark.range(1))
    persisted = []
    persist = cls.persist

    def record(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    def fail(self):
        raise RuntimeError("count failed")

    monkeypatch.setattr(cls, "persist", record)
    monkeypatch.setattr(cls, "count", fail)
    with pytest.raises(RuntimeError, match="count failed"):
        B.warm_cache(spark, d, tables)
    assert len(persisted) == len(tables)
    for df in persisted:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk)
    assert spark.conf.get(key) == prev
    assert not [k for k in B._TABLE_CACHE if k[0] == d]


def test_cache_of_a_stopped_session_is_rebuilt():
    # needs its own JVM: stopping the shared test session would break
    # every later test
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from fugue_spark.benchmarks import load_table, warm_cache
        from fugue_spark.session import get_spark

        def start():
            return get_spark(
                app_name="stale_cache", master="local[1]", shuffle_partitions=1,
                spark__ui__enabled="false", spark__driver__memory="512m",
            )

        spark = start()
        warm_cache(spark, {SF!r}, ("region",))
        spark.stop()
        spark = start()
        assert load_table(spark, {SF!r}, "region").count() == 5
        warm_cache(spark, {SF!r}, ("region",))
        assert load_table(spark, {SF!r}, "region").count() == 5
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_driver_jvm_gets_c2_directives_before_caller_flags(tmp_path):
    # needs its own JVM: JVM flags only apply to a JVM this process launches.
    # The package is imported from a copy whose path holds a space, a
    # backslash and a double quote, all of which Spark's launcher would
    # split or unescape if the flag did not quote and escape the path.
    home = tmp_path / 'pkg dir\\with "quote"'
    shutil.copytree(
        os.path.join(REPO, "fugue_spark"),
        home / "fugue_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    directives = str(home / "fugue_spark" / "c2_directives.json")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(home)!r})
        from fugue_spark.session import get_spark

        spark = get_spark(
            app_name="jvm_flags", master="local[1]", shuffle_partitions=1,
            spark__ui__enabled="false", spark__driver__memory="512m",
            spark__driver__extraJavaOptions="-Dfugue.marker=1",
        )
        jvm = spark.sparkContext._jvm
        for arg in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments():
            print("ARG", arg)
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    args = [line[4:] for line in proc.stdout.splitlines() if line.startswith("ARG ")]
    flag = "-XX:CompilerDirectivesFile="
    files = [a[len(flag) :] for a in args if a.startswith(flag)]
    assert files == [directives], args
    # the caller's flags come last, so they win over ours
    assert args.index(flag + files[0]) < args.index("-Dfugue.marker=1"), args


def test_shipped_c2_directives_load():
    # a missing or malformed directives file stops every JVM from starting
    from fugue_spark.session import _C2_DIRECTIVES

    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    flags = ["-XX:+UnlockDiagnosticVMOptions", f"-XX:CompilerDirectivesFile={_C2_DIRECTIVES}"]
    proc = subprocess.run([java, *flags, "-version"], capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_path_bytes_sizes_files_and_directories(tmp_path):
    from fugue_spark.session import _path_bytes

    (tmp_path / "sub").mkdir()
    (tmp_path / "a.parquet").write_bytes(b"x" * 10)
    (tmp_path / "sub" / "b.parquet").write_bytes(b"y" * 5)
    assert _path_bytes(str(tmp_path / "a.parquet")) == 10
    assert _path_bytes(str(tmp_path)) == 15
    assert _path_bytes(str(tmp_path / "missing")) == 0
