"""Engine-primitive conformance tests, modeled on the reference's
execution_suite fixtures (FIXTURES.md §1)."""

from __future__ import annotations

import os

import pytest

import fugue_spark.api as fa
from fugue_spark import functions as ff
from fugue_spark.partition import PartitionSpec
from fugue_spark.schema import parse_schema


def make_df(spark, data, schema):
    return spark.createDataFrame(data, parse_schema(schema))


def rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


# ---------------- joins ----------------


def test_join_inner_key_inference(spark):
    a = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")
    b = make_df(spark, [[1, 200], [20, 2]], "a:int,c:int")
    res = fa.inner_join(a, b)
    assert res.columns == ["a", "b", "c"]
    assert rows(res) == [(1, 2, 200)]


def test_join_types(spark):
    a = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")
    b = make_df(spark, [[1, 200], [20, 2]], "a:int,c:int")
    assert rows(fa.semi_join(a, b)) == [(1, 2)]
    assert fa.semi_join(a, b).columns == ["a", "b"]
    assert rows(fa.anti_join(a, b)) == [(3, 4)]
    lo = fa.left_outer_join(a, b)
    assert rows(lo) == [(1, 2, 200), (3, 4, None)]
    ro = fa.right_outer_join(a, b)
    assert rows(ro) == [(1, 2, 200), (20, None, 2)]
    fo = fa.full_outer_join(a, b)
    assert len(rows(fo)) == 3


def test_cross_join(spark):
    a = make_df(spark, [[1], [2]], "a:int")
    b = make_df(spark, [[10], [20]], "c:int")
    assert len(rows(fa.cross_join(a, b))) == 4
    with pytest.raises(ValueError):
        fa.cross_join(a, make_df(spark, [[1]], "a:int"))


def test_join_null_keys(spark):
    a = make_df(spark, [[None, 2], [1, 3]], "a:int,b:int")
    b = make_df(spark, [[None, 20], [1, 30]], "a:int,c:int")
    assert rows(fa.inner_join(a, b)) == [(1, 3, 30)]  # SQL semantics: NULL != NULL


def test_join_validation(spark):
    a = make_df(spark, [[1, 2]], "a:int,b:int")
    b = make_df(spark, [[1, 2]], "a:int,c:int")
    with pytest.raises(ValueError):
        fa.join(a, b, "inner", on=["b"])
    with pytest.raises(ValueError):
        fa.join(a, make_df(spark, [[1]], "x:int"), "inner")
    with pytest.raises(ValueError):
        fa.join(a, b, "bogus_join")


def test_multi_key_join(spark):
    a = make_df(spark, [[1, 2, "x"], [3, 4, "y"]], "a:int,b:int,d:str")
    b = make_df(spark, [[1, 2, 9.0], [3, 5, 8.0]], "a:int,b:int,e:double")
    res = fa.inner_join(a, b)
    assert res.columns == ["a", "b", "d", "e"]
    assert rows(res) == [(1, 2, "x", 9.0)]


# ---------------- set ops ----------------


def test_setops(spark):
    a = make_df(spark, [[1.0, "x"], [1.0, "x"], [2.0, "y"]], "a:double,b:str")
    b = make_df(spark, [[1.0, "x"], [3.0, "z"]], "a:double,b:str")
    assert len(rows(fa.union(a, b))) == 3
    assert len(rows(fa.union(a, b, distinct=False))) == 5
    assert rows(fa.subtract(a, b)) == [(2.0, "y")]
    assert rows(fa.subtract(a, b, distinct=False)) == [(1.0, "x"), (2.0, "y")]
    assert rows(fa.intersect(a, b)) == [(1.0, "x")]
    assert len(rows(fa.distinct(a))) == 2
    with pytest.raises(ValueError):
        fa.union(a, make_df(spark, [[1.0]], "a:double"))


# ---------------- na ----------------


def test_dropna(spark):
    df = make_df(
        spark,
        [[1.0, 2.0, 3.0], [None, 2.0, None], [None, None, None]],
        "a:double,b:double,c:double",
    )
    assert len(rows(fa.dropna(df))) == 1
    assert len(rows(fa.dropna(df, how="all"))) == 2
    assert len(rows(fa.dropna(df, thresh=2))) == 1
    assert len(rows(fa.dropna(df, how="any", subset=["b"]))) == 2
    with pytest.raises(ValueError):
        fa.dropna(df, how="bogus")


def test_fillna(spark):
    df = make_df(spark, [[1.0, None], [None, "x"]], "a:double,b:str")
    assert rows(fa.fillna(df, {"a": 0.0, "b": "?"})) == [(0.0, "x"), (1.0, "?")]
    assert rows(fa.fillna(df, 9.0))[1] == (9.0, "x")
    with pytest.raises(ValueError):
        fa.fillna(df, None)
    with pytest.raises(ValueError):
        fa.fillna(df, {"a": None})


# ---------------- sample / take ----------------


def test_sample(spark):
    df = make_df(spark, [[i] for i in range(100)], "a:int")
    assert len(rows(fa.sample(df, n=7))) == 7
    s = rows(fa.sample(df, n=7, seed=42))
    assert s == rows(fa.sample(df, n=7, seed=42))  # deterministic
    f = rows(fa.sample(df, frac=0.3, seed=1))
    assert 10 <= len(f) <= 60
    with pytest.raises(ValueError):
        fa.sample(df)
    with pytest.raises(ValueError):
        fa.sample(df, n=5, frac=0.5)


def test_sample_hash_method(spark):
    """sample(method='hash'): deterministic engine-reproducible fraction
    sample — partitioning-invariant (unlike the RNG default), seed-salted,
    and exactly the md5-threshold contract of hash_sample."""
    df = make_df(spark, [[i, f"d{i}"] for i in range(500)], "a:int,s:str")
    r1 = rows(fa.sample(df, frac=0.2, seed=7, method="hash", key_cols=["a"]))
    # same rows on any partitioning
    r2 = rows(
        fa.sample(df.repartition(13), frac=0.2, seed=7, method="hash", key_cols=["a"])
    )
    assert r1 == r2 and 40 <= len(r1) <= 160
    # different seed → different subset; no seed is also legal
    r3 = rows(fa.sample(df, frac=0.2, seed=8, method="hash", key_cols=["a"]))
    assert r1 != r3
    assert rows(fa.sample(df, frac=1.0, method="hash", key_cols=["a"])) == rows(df)
    with pytest.raises(ValueError):
        fa.sample(df, n=5, method="hash", key_cols=["a"])  # needs frac
    with pytest.raises(ValueError):
        fa.sample(df, frac=0.2, method="hash")  # needs key_cols
    with pytest.raises(ValueError):
        fa.sample(df, frac=0.2, method="bogus")


def test_sample_n_with_replacement(spark):
    df = make_df(spark, [[i] for i in range(100)], "a:int")
    r = rows(fa.sample(df, n=90, replace=True, seed=3))
    assert len(r) == 90
    assert len(set(r)) < 90  # replacement ⇒ duplicates at this density
    assert r == rows(fa.sample(df, n=90, replace=True, seed=3))  # deterministic
    # n larger than the corpus is legal with replacement
    big = rows(fa.sample(df, n=250, replace=True, seed=3))
    assert len(big) == 250
    assert len(rows(fa.sample(df.limit(0), n=5, replace=True))) == 0


def test_take_global(spark):
    df = make_df(
        spark,
        [["a", 2, 3], ["a", 3, 4], ["b", 1, 2], ["b", 2, 2], [None, 4, 2], [None, 2, 1]],
        "a:str,b:int,c:long",
    )
    r = [tuple(x) for x in fa.take(df, 2, presort="b DESC").collect()]
    assert r == [(None, 4, 2), ("a", 3, 4)]
    r = [tuple(x) for x in fa.take(df, 1, presort="a ASC", na_position="first").collect()]
    assert r == [(None, 4, 2) ] or r == [(None, 2, 1)]
    r = [tuple(x) for x in fa.take(df, 1, presort="a ASC", na_position="last").collect()]
    assert r[0][0] == "a"
    assert len(fa.take(df, 3).collect()) == 3


def test_take_per_partition(spark):
    df = make_df(
        spark,
        [["a", 2, 3], ["a", 3, 4], ["b", 1, 2], ["b", 2, 2], [None, 4, 2], [None, 2, 1]],
        "a:str,b:int,c:long",
    )
    res = rows(fa.take(df, 1, presort="b DESC", partition={"by": ["a"]}))
    assert res == [(None, 4, 2), ("a", 3, 4), ("b", 2, 2)]
    res = fa.take(df, 1, partition={"by": ["a"]})
    assert len(res.collect()) == 3  # arbitrary row per group via dropDuplicates


# ---------------- select / assign / aggregate ----------------


def test_select_simple_and_where(spark):
    df = make_df(spark, [[1.0, 2], [None, 2], [None, 1], [3.0, 4], [None, 4]], "a:double,b:int")
    res = fa.select(df, ff.col("b"), (ff.col("b") + 1).alias("c"), where=ff.col("a").not_null())
    assert rows(res) == [(2, 3), (4, 5)]


def test_select_groupby_inference(spark):
    df = make_df(spark, [[1.0, 2], [None, 2], [None, 1], [3.0, 4], [None, 4]], "a:double,b:int")
    res = fa.select(df, ff.col("b"), ff.sum(ff.col("a")).alias("s"))
    assert rows(res) == [(1, None), (2, 1.0), (4, 3.0)]
    # HAVING
    res = fa.select(
        df,
        ff.col("b"),
        ff.sum(ff.col("a")).alias("s"),
        having=ff.col("s") > 2.0,
    )
    assert rows(res) == [(4, 3.0)]
    # global agg + literal
    res = fa.select(df, ff.lit(1, "one"), ff.count(ff.all_cols()).alias("n"))
    assert rows(res) == [(1, 5)]


def test_assign_and_filter(spark):
    df = make_df(spark, [[1, 2]], "a:int,b:int")
    res = fa.assign(df, c=ff.col("a") + ff.col("b"), b=ff.lit(9))
    assert rows(res) == [(1, 9, 3)]
    assert rows(fa.filter(df, ff.col("a") == 1)) == [(1, 2)]
    with pytest.raises(ValueError):
        fa.assign(df, c=ff.sum(ff.col("a")))


def test_aggregate(spark):
    df = make_df(spark, [[1.0, 2], [2.0, 2], [3.0, 4]], "a:double,b:int")
    res = fa.aggregate(df, "b", s=ff.sum(ff.col("a")), m=ff.max(ff.col("a")))
    assert res.columns == ["b", "s", "m"]
    assert rows(res) == [(2, 3.0, 2.0), (4, 3.0, 3.0)]
    res = fa.aggregate(df, None, n=ff.count_distinct(ff.col("b")))
    assert rows(res) == [(2,)]
    # COUNT(DISTINCT *): whole-row distinct (reference functions.py:146)
    dup = make_df(spark, [[1.0, 2], [1.0, 2], [3.0, 4]], "a:double,b:int")
    res = fa.aggregate(dup, None, n=ff.count_distinct(ff.all_cols()))
    assert rows(res) == [(2,)]
    with pytest.raises(ValueError):
        fa.aggregate(df, "b", s=ff.col("a"))


# ---------------- frame ops ----------------


def test_frame_ops(spark):
    df = make_df(spark, [[1, "x", 1.5]], "a:int,b:str,c:double")
    assert fa.rename(df, {"a": "aa"}).columns == ["aa", "b", "c"]
    with pytest.raises(ValueError):
        fa.rename(df, {"zz": "q"})
    assert fa.drop_columns(df, ["b"]).columns == ["a", "c"]
    with pytest.raises(ValueError):
        fa.drop_columns(df, ["a", "b", "c"])
    assert fa.select_columns(df, ["c", "a"]).columns == ["c", "a"]
    assert fa.peek_row(df) == (1, "x", 1.5)
    assert fa.peek_dict(df)["b"] == "x"
    assert fa.as_array(df) == [[1, "x", 1.5]]
    assert fa.as_dicts(df)[0]["c"] == 1.5
    assert fa.head(df, 1, ["b"]).columns == ["b"]


def test_alter_columns_nan_guard(spark):
    df = make_df(spark, [[1.5, 1.0], [float("nan"), 2.0]], "a:double,b:double")
    res = fa.alter_columns(df, "a:str")
    vals = rows(res)
    assert vals == [("1.5", 1.0), (None, 2.0)]
    res2 = fa.alter_columns(df, "b:int")
    assert res2.schema["b"].dataType.simpleString() == "int"


# ---------------- partition spec ----------------


def test_partition_spec_basics():
    s = PartitionSpec({"by": ["a"], "presort": "b DESC", "num": 4, "algo": "hash"})
    assert s.by == ["a"] and s.presort == [("b", False)] and s.num == 4
    assert PartitionSpec(4).num == 4
    pr = PartitionSpec("per_row")
    assert pr.algo == "even" and pr.num == "ROWCOUNT"
    assert PartitionSpec().empty
    with pytest.raises(ValueError):
        PartitionSpec({"by": ["a"], "presort": "a ASC"})
    with pytest.raises(ValueError):
        PartitionSpec(algo="bogus")


def test_partition_apply(spark):
    df = make_df(spark, [[i % 3, i] for i in range(30)], "k:int,v:int")
    out = fa.repartition(df, PartitionSpec({"by": ["k"], "num": 3}))
    assert out.rdd.getNumPartitions() == 3
    # even round-robin: exact balance
    out = fa.repartition(df, PartitionSpec({"num": 5, "algo": "even"}))
    sizes = out.rdd.glom().map(len).collect()
    assert sorted(sizes) == [6, 6, 6, 6, 6]
    # keyed even: one group per partition
    out = fa.repartition(df, PartitionSpec({"by": ["k"], "algo": "even"}))
    sizes = [s for s in out.rdd.glom().map(len).collect() if s > 0]
    assert sorted(sizes) == [10, 10, 10]
    # presort within partitions
    out = fa.repartition(df, PartitionSpec({"by": ["k"], "num": 3, "presort": "v DESC"}))
    for part in out.rdd.glom().collect():
        vs = [r["v"] for r in part]
        assert vs == sorted(vs, reverse=True)


def test_partition_num_expr(spark):
    df = make_df(spark, [[i] for i in range(10)], "a:int")
    assert PartitionSpec(num="ROWCOUNT/2").resolve_num(df) == 5
    assert PartitionSpec(num="CONCURRENCY").resolve_num(df) >= 1
    with pytest.raises(ValueError):
        PartitionSpec(num="__import__('os')").resolve_num(df)


# ---------------- io ----------------


def test_io_roundtrip(spark, tmp_path):
    df = make_df(spark, [[1, "x"], [2, "y"]], "a:long,b:str")
    p = os.path.join(str(tmp_path), "t.parquet")
    fa.save(df, p)
    assert rows(fa.load(spark, p)) == [(1, "x"), (2, "y")]
    # csv with header round trip
    c = os.path.join(str(tmp_path), "t.csv")
    fa.save(df, c, header=True)
    back = fa.load(spark, c, header=True, infer_schema=True)
    assert rows(back) == [(1, "x"), (2, "y")]
    # csv with explicit schema + projection
    back = fa.load(spark, c, header=True, columns="b:str")
    assert back.columns == ["b"]
    # json
    j = os.path.join(str(tmp_path), "t.json")
    fa.save(df, j)
    back = fa.load(spark, j, columns="a:long,b:str")
    assert rows(back) == [(1, "x"), (2, "y")]
    # partitioned write
    pp = os.path.join(str(tmp_path), "part.parquet")
    fa.save(df, pp, partition_by=["b"])
    assert len(rows(fa.load(spark, pp))) == 2
    # single file
    sp = os.path.join(str(tmp_path), "single.parquet")
    fa.save(df, sp, force_single=True)
    assert os.path.isfile(sp)
    assert rows(fa.load(spark, sp)) == [(1, "x"), (2, "y")]
    with pytest.raises(ValueError):
        fa.load(spark, os.path.join(str(tmp_path), "t.unknown"))


def test_save_modes(spark, tmp_path):
    df = make_df(spark, [[1, "x"]], "a:long,b:str")
    p = os.path.join(str(tmp_path), "m.parquet")
    fa.save(df, p)
    fa.save(df, p, mode="append")
    assert len(rows(fa.load(spark, p))) == 2
    with pytest.raises(Exception):
        fa.save(df, p, mode="error")


def test_partitioned_save_clusters_only_above_size_threshold(
    spark, tmp_path, monkeypatch
):
    # a parquet-BACKED frame: scans carry a real size estimate; an
    # RDD-backed copy of it reports unknown and fails safe into the
    # clustered path
    base = os.path.join(str(tmp_path), "base.parquet")
    make_df(spark, [[i, i % 3] for i in range(60)], "a:long,b:int").write.parquet(base)
    df = fa.load(spark, base)
    unknown = spark.createDataFrame(df.rdd, df.schema)
    expected = [(i, i % 3) for i in range(60)]

    calls = []
    cls = type(df)  # the concrete (classic) DataFrame class, not the ABC
    real_repartition = cls.repartition

    def spying(self, *args, **kw):
        calls.append(args)
        return real_repartition(self, *args, **kw)

    monkeypatch.setattr(cls, "repartition", spying)

    def saved(name):
        return sorted(rows(fa.load(spark, os.path.join(str(tmp_path), name))))

    # tiny estimate: the clustering shuffle is skipped
    fa.save(df, os.path.join(str(tmp_path), "direct.parquet"), partition_by=["b"])
    assert calls == []
    assert saved("direct.parquet") == expected

    # unknown estimate = the cluster-scale posture: salted repartition
    fa.save(unknown, os.path.join(str(tmp_path), "unknown.parquet"), partition_by=["b"])
    assert len(calls) == 1
    assert saved("unknown.parquet") == expected

    # an EXPLICIT files_per_partition is a layout request and always clusters
    fa.save(
        df, os.path.join(str(tmp_path), "explicit.parquet"), partition_by=["b"],
        files_per_partition=2,
    )
    assert len(calls) == 2


def test_salted_join_matches_plain_join(spark):
    from fugue_spark.operators.joins import salted_join

    left = make_df(spark, [[i % 3, i] for i in range(60)], "k:int,v:int")
    right = make_df(spark, [[0, "hot"], [1, "warm"], [5, "unused"]], "k:int,label:str")
    plain = rows(fa.join(left, right, "inner"))
    salted = rows(salted_join(left, right, "k", salt=4))
    assert salted == plain
    lo_plain = rows(fa.join(left, right, "left_outer"))
    lo_salted = rows(salted_join(left, right, "k", how="left_outer", salt=4))
    assert lo_salted == lo_plain
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full_outer")
    # shared non-key column would be ambiguous after the join — reject
    right2 = make_df(spark, [[0, 99]], "k:int,v:int")
    with pytest.raises(ValueError, match="non-key"):
        salted_join(left, right2, "k")


def test_even_repartition_keeps_null_keys(spark):
    df = make_df(
        spark, [[None, 1], [None, 2], [1, 3], [2, 4]], "k:int,v:int"
    )
    out = fa.repartition(df, PartitionSpec({"by": ["k"], "algo": "even"}))
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(None, 1), (None, 2), (1, 3), (2, 4)}  # NULL group survives
    sizes = [s for s in out.rdd.glom().map(len).collect() if s > 0]
    assert sorted(sizes) == [1, 1, 2]  # NULL keys form their own group


def test_frame_metadata_sidecar(spark):
    # reference Dataset.metadata (fugue/dataset/dataset.py:27-43): a dict
    # attached to the frame; our frame ops propagate it to their output
    df = make_df(spark, [[1, "x"], [2, "y"]], "a:int,b:str")
    assert fa.get_metadata(df) == {}
    fa.with_metadata(df, source="unit", version=3)
    assert fa.get_metadata(df) == {"source": "unit", "version": 3}

    renamed = fa.rename(df, {"a": "aa"})
    assert fa.get_metadata(renamed) == {"source": "unit", "version": 3}
    selected = fa.select_columns(renamed, ["aa"])
    assert fa.get_metadata(selected)["source"] == "unit"
    altered = fa.alter_columns(selected, "aa:long")
    assert fa.get_metadata(altered)["version"] == 3
    limited = fa.head(altered, 1)
    assert fa.get_metadata(limited)["source"] == "unit"

    # reset replaces; an unrelated frame stays empty
    fa.set_metadata(df, {"fresh": True})
    assert fa.get_metadata(df) == {"fresh": True}
    other = make_df(spark, [[9]], "z:int")
    assert fa.get_metadata(other) == {}


def test_hash_sample_deterministic_and_keyed(spark):
    df = make_df(spark, [[i, i % 7] for i in range(1000)], "id:long,grp:long")
    a = sorted(r.id for r in fa.hash_sample(df, 0.2, ["id"]).collect())
    b = sorted(r.id for r in fa.hash_sample(df, 0.2, ["id"]).collect())
    assert a == b and 100 < len(a) < 320  # deterministic, ~20%
    # nested rates: lower-rate sample is a subset of higher-rate sample
    c = sorted(r.id for r in fa.hash_sample(df, 0.05, ["id"]).collect())
    assert set(c) <= set(a)
    # group-keyed: every group wholly in or wholly out
    g = fa.hash_sample(df, 0.5, ["grp"]).groupBy("grp").count().collect()
    kept = {r.grp: r["count"] for r in g}
    full = {r.grp: r["count"] for r in df.groupBy("grp").count().collect()}
    for grp, n in kept.items():
        assert n == full[grp]
    with pytest.raises(ValueError):
        fa.hash_sample(df, 1.5, ["id"])
    assert fa.hash_sample(df, 1.0, ["id"]).count() == 1000
    assert fa.hash_sample(df, 0.0, ["id"]).count() == 0


def test_hash_sample_stratified(spark):
    import fugue_spark.api as fa
    from fugue_spark.schema import parse_schema

    df = spark.createDataFrame(
        [[i, ["a", "b", "c"][i % 3]] for i in range(300)],
        parse_schema("id:long,src:str"),
    )
    out = fa.hash_sample_stratified(df, {"a": 1.0, "b": 0.5}, ["id"], "src")
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.src, set()).add(r.id)
    assert len(by.get("a", ())) == 100          # rate 1.0 keeps everything
    assert 20 <= len(by.get("b", ())) <= 80     # ~50%
    assert "c" not in by                        # default_rate=0 drops
    # deterministic: the b-subset is exactly hash_sample(b_rows, 0.5)
    b_only = fa.hash_sample(df.filter(df.src == "b"), 0.5, ["id"])
    assert by["b"] == {r.id for r in b_only.collect()}
    # keyed on the stratum itself: whole groups kept or dropped together
    grp = fa.hash_sample_stratified(df, {"a": 0.5, "b": 0.5}, ["src"], "src")
    kept = {r.src for r in grp.collect()}
    for s in kept:
        assert len([r for r in grp.collect() if r.src == s]) == 100


def test_plan_summary_scale_audit(spark):
    """plan_summary reports the scale checklist: exchanges, python stages,
    join strategies, cartesian flag, pushdown."""
    from fugue_spark.plans import plan_summary
    from fugue_spark.schema import parse_schema

    a = spark.createDataFrame([[1, "x"], [2, "y"]], parse_schema("k:long,s:str"))
    b = spark.createDataFrame([[1, 10.0], [3, 30.0]], parse_schema("k:long,v:double"))

    s = plan_summary(a.filter(a.k > 1))
    assert s["n_exchanges"] == 0 and s["n_python_stages"] == 0 and not s["cartesian"]

    import fugue_spark.api as fa

    j = plan_summary(fa.join(a, fa.broadcast(b), "inner"))
    assert j["n_broadcast_joins"] == 1 and not j["cartesian"]

    x = plan_summary(a.crossJoin(b))
    assert x["cartesian"]

    from fugue_spark.transform import transform

    t = transform(
        a, lambda pdf: pdf, schema="k:long,s:str", partition={"by": ["k"]},
        compile=False,
    )
    ts = plan_summary(t)
    assert ts["n_exchanges"] == 1 and ts["n_python_stages"] == 1
    # auto-compile sees through the identity: row-local map shape, declared
    # partitioning elided — no exchange, no python stage
    t2 = transform(a, lambda pdf: pdf, schema="k:long,s:str", partition={"by": ["k"]})
    ts2 = plan_summary(t2)
    assert ts2["n_exchanges"] == 0 and ts2["n_python_stages"] == 0


def test_normalize_column_names_and_as_fugue_df(spark):
    """normalize_column_names (reference fugue/dataframe/api.py:301):
    exotic names -> safe identifiers + an undo map; as_fugue_df ingests
    arbitrary data with an optional schema."""
    import pandas as pd

    import fugue_spark.api as fa

    pdf = pd.DataFrame({"*a": [1], "-a": [2], "1c": [3], "ok": [4]})
    df = spark.createDataFrame(pdf)
    out, undo = fa.normalize_column_names(df)
    assert set(out.columns) == {"_a", "_a_1", "_1c", "ok"}
    assert undo == {"_a": "*a", "_a_1": "-a", "_1c": "1c"}
    back = fa.rename(out, undo)
    assert set(back.columns) == {"*a", "-a", "1c", "ok"}
    # values follow their columns through the round trip
    assert back.select("`-a`").collect()[0][0] == 2

    clean, undo2 = fa.normalize_column_names(spark.createDataFrame([[1]], "x long"))
    assert undo2 == {} and clean.columns == ["x"]

    got = fa.as_fugue_df([[1, "a"]], schema="i:long,s:str", spark=spark)
    assert got.schema.simpleString() == "struct<i:bigint,s:string>"
    assert [tuple(r) for r in got.collect()] == [(1, "a")]


def test_asof_join_backward_forward_tolerance(spark):
    """asof_join: pandas merge_asof semantics via the union-window plan —
    backward/forward, inclusive equal-ts bound, tolerance, inner/left,
    validated against pandas.merge_asof on the same data."""
    import pandas as pd

    import fugue_spark.api as fa

    left = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b", "c"],
            "t": [10, 20, 30, 5, 50, 7],
            "lv": [1, 2, 3, 4, 5, 6],
        }
    )
    right = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b", "d"],
            "t": [8, 20, 40, 60, 1],
            "rv": [100, 200, 300, 400, 500],
        }
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)

    got = {
        (r.k, r.t): (r.r_rv, r.r_t)
        for r in fa.asof_join(ldf, rdf, on="t", by="k").collect()
    }
    # pandas oracle (merge_asof needs global sort by time)
    want = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k"
    )
    for _, row in want.iterrows():
        rv = None if pd.isna(row.rv) else int(row.rv)
        assert got[(row.k, row.t)][0] == rv, (row.k, row.t, got[(row.k, row.t)], rv)
    # equal ts matches (inclusive): left (a, 20) -> right (a, 20)
    assert got[("a", 20)] == (200, 20)
    # no right rows for key c
    assert got[("c", 7)] == (None, None)

    fwd = {
        (r.k, r.t): r.r_rv
        for r in fa.asof_join(ldf, rdf, on="t", by="k", direction="forward").collect()
    }
    wantf = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k",
        direction="forward",
    )
    for _, row in wantf.iterrows():
        rv = None if pd.isna(row.rv) else int(row.rv)
        assert fwd[(row.k, row.t)] == rv

    tol = {
        (r.k, r.t): r.r_rv
        for r in fa.asof_join(ldf, rdf, on="t", by="k", tolerance_s=5).collect()
    }
    wantt = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k",
        tolerance=5,
    )
    for _, row in wantt.iterrows():
        rv = None if pd.isna(row.rv) else int(row.rv)
        assert tol[(row.k, row.t)] == rv

    inner = fa.asof_join(ldf, rdf, on="t", by="k", how="inner")
    assert inner.count() == 4  # c and b@5 drop

    with pytest.raises(ValueError, match="direction"):
        fa.asof_join(ldf, rdf, on="t", by="k", direction="nearest")
    with pytest.raises(ValueError, match="must exist"):
        fa.asof_join(ldf, rdf, on="nope", by="k")


def test_range_join_modes_and_guard(spark):
    """range_join: bucketed interval containment — inner/left, key groups,
    auto bin-width probe, degenerate-interval guard."""
    import fugue_spark.api as fa

    pts = spark.createDataFrame(
        [[1, "a", 5.0], [2, "a", 15.0], [3, "a", 50.0], [4, "b", 5.0]],
        parse_schema("pid:long,k:str,x:double"),
    )
    iv = spark.createDataFrame(
        [[10, "a", 0.0, 10.0], [11, "a", 12.0, 20.0], [12, "a", 14.0, 30.0], [13, "b", 100.0, 110.0]],
        parse_schema("iid:long,k:str,lo:double,hi:double"),
    )
    got = sorted(
        (r.pid, r.iid)
        for r in fa.range_join(pts, iv, point_col="x", lo_col="lo", hi_col="hi", by="k").collect()
    )
    assert got == [(1, 10), (2, 11), (2, 12)]  # point 2 matches BOTH intervals

    # auto bin width (median-span probe) gives the same result
    got2 = sorted(
        (r.pid, r.iid)
        for r in fa.range_join(
            pts, iv, point_col="x", lo_col="lo", hi_col="hi", by="k", bin_width=3.0
        ).collect()
    )
    assert got2 == got

    left = fa.range_join(
        pts, iv, point_col="x", lo_col="lo", hi_col="hi", by="k", how="left"
    )
    rows = {(r.pid): r.iid for r in left.collect() if r.iid is None}
    assert set(rows) == {3, 4}  # unmatched points kept, null-extended

    # degenerate interval (covers > max bins) fails loudly inside the plan
    import pyspark.errors

    wide = spark.createDataFrame(
        [[99, "a", 0.0, 1e9]], parse_schema("iid:long,k:str,lo:double,hi:double")
    )
    with pytest.raises(Exception, match="bins|raise_error|USER_RAISED"):
        fa.range_join(
            pts, wide, point_col="x", lo_col="lo", hi_col="hi", by="k",
            bin_width=1.0, max_bins_per_interval=100,
        ).collect()

    with pytest.raises(ValueError, match="collision"):
        fa.range_join(pts, pts, point_col="x", lo_col="x", hi_col="x")


def test_time_rollup_from_finest_lossless(spark):
    """time_rollup: from_finest=True (day re-aggregated from hour) equals
    computing each level directly from the raw events."""
    from fugue_spark.benchmarks import load_table
    from fugue_spark.pipeline import time_rollup

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    direct = time_rollup(ev, "ts", ["hour", "day"], by="event_type", value_col="value")
    derived = time_rollup(
        ev, "ts", ["hour", "day"], by="event_type", value_col="value", from_finest=True
    )
    key = lambda r: (r.granularity, r.bucket_start, r.event_type)  # noqa: E731
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, derived.collect()))
    assert a == b and len(a) > 0

    with pytest.raises(ValueError, match="granularities"):
        time_rollup(ev, "ts", ["fortnight"])


def test_asof_join_null_payload_keeps_row_integrity(spark):
    """Review regression: a NULL in a right payload column must not splice
    values from different right rows — the match is one actual row."""
    import pandas as pd

    import fugue_spark.api as fa

    left = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [3], "lv": [0]}))
    right = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, None)], "k string, t long, rv double"
    )
    r = fa.asof_join(left, right, on="t", by="k").collect()[0]
    assert r.r_t == 2 and r.r_rv is None  # the ts=2 row, NOT rv from ts=1

    # pandas agrees
    want = pd.merge_asof(
        left.toPandas().sort_values("t"),
        right.toPandas().sort_values("t"),
        on="t", by="k",
    )
    assert pd.isna(want.rv.iloc[0])


def test_range_join_null_handling(spark):
    """Review regressions: NULL point columns don't duplicate left-join
    rows; NULL interval bounds match nothing (no in-plan error)."""
    import fugue_spark.api as fa

    pts = spark.createDataFrame(
        [(1, "a", 5.0, None)], "pid long, k string, x double, note string"
    )
    iv = spark.createDataFrame(
        [(10, "a", 0.0, 10.0)], "iid long, k string, lo double, hi double"
    )
    rows = fa.range_join(
        pts, iv, point_col="x", lo_col="lo", hi_col="hi", by="k",
        how="left", bin_width=5.0,
    ).collect()
    assert len(rows) == 1 and rows[0].iid == 10

    iv2 = spark.createDataFrame(
        [(10, "a", 0.0, None), (11, "a", 0.0, 10.0)],
        "iid long, k string, lo double, hi double",
    )
    rows2 = fa.range_join(
        pts.select("pid", "k", "x"), iv2, point_col="x",
        lo_col="lo", hi_col="hi", by="k", bin_width=5.0,
    ).collect()
    assert [r.iid for r in rows2] == [11]


def test_asof_join_null_timestamps(spark):
    """ADVICE r06: right rows with NULL `on` must not become phantom
    matches (asc nulls-first would sort them before every real event);
    left rows with NULL `on` never match and survive how='left'."""
    left = make_df(
        spark, [[1, 5, 10], [1, None, 11]], "k:int,t:int,lv:int"
    )
    right = make_df(
        spark, [[1, None, 100], [1, 3, 101]], "k:int,t:int,rv:int"
    )
    got = {r.lv: (r.r_rv, r.r_t) for r in fa.asof_join(left, right, on="t", by="k").collect()}
    assert got[10] == (101, 3)  # real event matches; NULL right row ignored
    assert got[11] == (None, None)  # NULL left ts: no match, row kept
    gotf = {
        r.lv: (r.r_rv, r.r_t)
        for r in fa.asof_join(left, right, on="t", by="k", direction="forward").collect()
    }
    assert gotf[11] == (None, None)  # forward would otherwise grab first event
    inner = fa.asof_join(left, right, on="t", by="k", how="inner").collect()
    assert [r.lv for r in inner] == [10]


def test_asof_join_tiebreak_deterministic(spark):
    """Duplicate right (key, ts): tiebreak_col makes the pick
    deterministic with pandas merge_asof semantics — backward keeps the
    LAST row <= ts (max tiebreak), forward the FIRST row >= ts (min)."""
    left = make_df(spark, [[1, 5, 0], [1, 2, 1]], "k:int,t:int,lv:int")
    right = make_df(
        spark,
        [[1, 3, 7], [1, 3, 9], [1, 3, 8], [1, 6, 1], [1, 6, 2]],
        "k:int,t:int,rv:int",
    )
    got = {
        r.lv: r.r_rv
        for r in fa.asof_join(left, right, on="t", by="k", tiebreak_col="rv").collect()
    }
    assert got[0] == 9  # max tiebreak among the t=3 ties
    assert got[1] is None
    gotf = {
        r.lv: r.r_rv
        for r in fa.asof_join(
            left, right, on="t", by="k", direction="forward", tiebreak_col="rv"
        ).collect()
    }
    assert gotf[1] == 7 and gotf[0] == 1  # min tiebreak among the ties
    with pytest.raises(ValueError, match="tiebreak_col"):
        fa.asof_join(left, right, on="t", by="k", tiebreak_col="nope")


def test_asof_range_join_reserved_names_raise(spark):
    """ADVICE r06: internal helper columns must not silently eat user
    columns of the same name."""
    bad = make_df(spark, [[1, 2, 3]], "k:int,t:int,__r__:int")
    ok = make_df(spark, [[1, 2, 4]], "k:int,t:int,rv:int")
    with pytest.raises(ValueError, match="reserved"):
        fa.asof_join(bad, ok, on="t", by="k")
    with pytest.raises(ValueError, match="reserved"):
        fa.asof_join(ok, bad.withColumnRenamed("__r__", "__side__"), on="t", by="k")
    pts = make_df(spark, [[1, 5, 9]], "k:int,x:int,__bin__:int")
    iv = make_df(spark, [[1, 0, 10]], "k:int,lo:int,hi:int")
    with pytest.raises(ValueError, match="reserved"):
        fa.range_join(pts, iv, point_col="x", lo_col="lo", hi_col="hi", by="k")
    with pytest.raises(ValueError, match="reserved"):
        fa.range_join(
            pts.withColumnRenamed("__bin__", "p"),
            iv.withColumnRenamed("lo", "__nb__"),
            point_col="x", lo_col="__nb__", hi_col="hi", by="k",
        )


def test_time_rollup_week_non_nesting(spark):
    """ADVICE r06 (medium): ISO weeks straddle month boundaries, so
    month/year must NOT be re-aggregated from a 'week' finest level —
    from_finest falls back to a raw scan for non-nesting levels and the
    result equals the direct computation."""
    from fugue_spark.pipeline import time_rollup

    ev = spark.createDataFrame(
        # 2024-01-29 (Mon) .. 2024-02-02 (Fri): one ISO week spanning the
        # Jan/Feb boundary — the misattribution trap
        [
            ("2024-01-29 10:00:00", "a", 1.0),
            ("2024-01-31 11:00:00", "a", 2.0),
            ("2024-02-01 09:00:00", "a", 4.0),
            ("2024-02-02 12:00:00", "a", 8.0),
        ],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    direct = time_rollup(ev, "ts", ["week", "month"], by="event_type", value_col="value")
    derived = time_rollup(
        ev, "ts", ["week", "month"], by="event_type", value_col="value",
        from_finest=True,
    )
    key = lambda r: (r["granularity"], r["bucket_start"], r["event_type"])  # noqa: E731
    d = sorted(map(lambda r: r.asDict(), direct.collect()), key=key)
    f = sorted(map(lambda r: r.asDict(), derived.collect()), key=key)
    assert d == f
    months = {r["bucket_start"]: r["value_cents"] for r in d if r["granularity"] == "month"}
    assert months["2024-01-01 00:00:00"] == 300  # 1.0 + 2.0 — NOT the whole week
    assert months["2024-02-01 00:00:00"] == 1200
    # nesting levels still take the single-scan path and stay lossless
    direct2 = time_rollup(ev, "ts", ["day", "week"], by="event_type", value_col="value")
    derived2 = time_rollup(
        ev, "ts", ["day", "week"], by="event_type", value_col="value", from_finest=True
    )
    assert sorted(map(tuple, direct2.collect())) == sorted(map(tuple, derived2.collect()))


def test_sample_per_key_deterministic_uniform(spark):
    """sample_per_key: exact-n per group, reproducible across
    partitionings (pure function of row content), short groups whole,
    roughly uniform over reruns with different seeds."""
    import fugue_spark.api as fa

    rows = [[g, i] for g in ("a", "b") for i in range(50)] + [["c", 0], ["c", 1]]
    df = make_df(spark, rows, "g:str,id:int")
    s1 = fa.sample_per_key(df, 5, by="g", id_cols=["id"], seed="x")
    got = sorted((r.g, r.id) for r in s1.collect())
    assert len([t for t in got if t[0] == "a"]) == 5
    assert len([t for t in got if t[0] == "b"]) == 5
    assert len([t for t in got if t[0] == "c"]) == 2  # short group kept whole
    # identical rows regardless of physical partitioning
    s2 = fa.sample_per_key(df.repartition(7), 5, by="g", id_cols=["id"], seed="x")
    assert sorted((r.g, r.id) for r in s2.collect()) == got
    # a different seed re-draws (overwhelmingly likely different rows)
    s3 = sorted(
        (r.g, r.id)
        for r in fa.sample_per_key(df, 5, by="g", id_cols=["id"], seed="y").collect()
    )
    assert s3 != got
    # union of many seeds covers most ids — uniformity sanity, not a proof
    seen = set()
    for s in "abcdefgh":
        for r in fa.sample_per_key(df, 5, by="g", id_cols=["id"], seed=s).collect():
            if r.g == "a":
                seen.add(r.id)
    assert len(seen) >= 25
    with pytest.raises(ValueError):
        fa.sample_per_key(df, 0, by="g", id_cols=["id"])
    with pytest.raises(ValueError):
        fa.sample_per_key(df, 1, by="g", id_cols=[])


def test_sample_per_key_reserved_name_raises(spark):
    df = make_df(spark, [[1, 2, 3]], "g:int,id:int,__rn__:int")
    with pytest.raises(ValueError, match="reserved"):
        fa.sample_per_key(df, 1, by="g", id_cols=["id"])


def test_get_current_conf_reflects_runtime_changes(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        conf = fa.get_current_conf(spark)
        assert conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_tune_for_input_small_and_large(spark, tmp_path):
    from fugue_spark.session import SMALL_INPUT_BYTES, tune_for_input

    baseline = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # small input: AQE off, partitions sized by bytes (floor of 4)
        small = tmp_path / "small"
        small.mkdir()
        (small / "t.parquet").write_bytes(b"x" * (3 * 1024 * 1024))
        tune_for_input(spark, str(small))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4

        # large input: cluster posture restored — AQE on, the session's
        # ORIGINAL partition count (not the previous tune's shrunken value)
        big = tmp_path / "big"
        big.mkdir()
        with open(big / "t.parquet", "wb") as f:
            f.truncate(SMALL_INPUT_BYTES + 1)
        tune_for_input(spark, str(big))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == baseline

        # a user's explicit conf.set between tune calls becomes the new
        # baseline (the tuner must not revert deliberate overrides)
        tune_for_input(spark, str(small))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        tune_for_input(spark, str(big))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", baseline)


def test_plan_fits_reads_estimate_unknown_is_large(spark):
    from fugue_spark.session import plan_fits

    df = spark.range(1000)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert plan_fits(df, est)
    assert not plan_fits(df, est - 1)
    # an RDD-backed plan has no statistics: unknown counts as large
    assert not plan_fits(spark.createDataFrame(df.rdd, df.schema), 1 << 62)


def test_select_duplicate_output_names_rejected(spark):
    """Reference parity (SelectColumns.assert_all_with_names,
    fugue/column/sql.py + tests/fugue/column/test_sql.py:36-38):
    duplicate OUTPUT names in a select are an error, not a silently
    ambiguous duplicate column."""
    import pytest

    df = make_df(spark, [[1, 2]], "a:int,b:int")
    with pytest.raises(ValueError, match="duplicate output"):
        fa.select(df, ff.col("a").alias("x"), ff.col("b").alias("x"))
    with pytest.raises(ValueError, match="duplicate output"):
        fa.select(df, ff.col("a"), ff.sum(ff.col("b")).alias("a"))
    # non-duplicates still fine, including computed group keys
    res = fa.select(df, ff.col("a").alias("x"), ff.col("b").alias("y"))
    assert res.columns == ["x", "y"]


def test_partition_spec_reference_corpus():
    """PartitionSpec construction forms from the reference's corpus
    (tests/fugue/collections/test_partition.py:61-120)."""
    import json

    import pytest

    from fugue_spark.partition import ROWCOUNT, parse_presort

    assert PartitionSpec().empty
    assert PartitionSpec(None).empty
    assert PartitionSpec(PartitionSpec()).empty

    p = PartitionSpec(json.dumps(dict(partition_by=["a", "b", "c"], num_partitions=1)))
    assert p.by == ["a", "b", "c"] and int(p.num) == 1

    p = PartitionSpec(dict(by=["a", "b", "c"], presort="d asc,e desc"))
    assert p.by == ["a", "b", "c"]
    assert p.presort == [("d", True), ("e", False)]

    assert PartitionSpec("per_row") == PartitionSpec(num=ROWCOUNT, algo="even")
    assert PartitionSpec(by="abc") == PartitionSpec(by=["abc"])
    assert PartitionSpec("abc") == PartitionSpec(by=["abc"])
    assert PartitionSpec(["abc"]) == PartitionSpec(by=["abc"])
    assert PartitionSpec(["abc", "def"]) == PartitionSpec(by=["abc", "def"])
    assert PartitionSpec(("abc", "def")) == PartitionSpec(by=["abc", "def"])
    assert PartitionSpec(4) == PartitionSpec(num=4)

    # partition-by overlapping presort is an error
    with pytest.raises(ValueError, match="overlap"):
        PartitionSpec(by=["a"], presort="a desc")

    # presort corpus (ref test_parse_presort_exp)
    assert parse_presort(None) == []
    assert parse_presort("c") == [("c", True)]
    assert parse_presort("         c") == [("c", True)]
    assert parse_presort("c           desc") == [("c", False)]
    assert parse_presort("b desc, c asc") == [("b", False), ("c", True)]
    assert parse_presort("DESC DESC, ASC ASC") == [("DESC", False), ("ASC", True)]
    assert parse_presort([("b", False), ("c", True)]) == [("b", False), ("c", True)]
    assert parse_presort("B DESC, C ASC") == [("B", False), ("C", True)]
    assert parse_presort("`` desc, `a b` asc, ````, `中国`") == [
        ("", False),
        ("a b", True),
        ("`", True),
        ("中国", True),
    ]
    assert parse_presort([("", False), ("a b", True), "中国"]) == [
        ("", False),
        ("a b", True),
        ("中国", True),
    ]
    with pytest.raises(ValueError):
        parse_presort("b dsc, c asc")  # misspelled desc
    with pytest.raises(ValueError):
        parse_presort("c true")
    with pytest.raises(ValueError):
        parse_presort("c desc, c desc")  # duplicates
    with pytest.raises(ValueError):
        parse_presort("a b dsc, c asc")  # unquoted name with space
    with pytest.raises(ValueError):
        parse_presort([("b", "desc")])  # direction must be bool
