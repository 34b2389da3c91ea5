"""Aggregation trace-compiler: compile=True must produce byte-identical
results to the pandas path and a pure Catalyst plan (no Python workers)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import fugue_spark.api as fa
from fugue_spark.compile import TraceError
from fugue_spark.transform import transform


def make_df(spark, data, schema):
    from fugue_spark.ingest import to_df

    return to_df(spark, data, schema)


def sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _li(spark):
    rng = np.random.default_rng(7)
    n = 500
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 60, n).astype("int64"),
            "price": np.round(rng.uniform(1, 1000, n), 2),
            "disc": np.round(rng.uniform(0, 0.1, n), 2),
            "line": rng.integers(1, 8, n).astype("int32"),
            "qty": rng.integers(1, 50, n).astype("int64"),
        }
    )
    return spark.createDataFrame(pdf)


SCHEMA11 = "k:long,revenue:double,n_lines:long,top_line:int"
PART11 = {"by": ["k"], "presort": "qty DESC, line ASC"}


def test_compiled_matches_pandas_path_q11_shape(spark):
    df = _li(spark)

    def q11_shape(pdf):
        rev_e4 = (pdf.price * (1 - pdf.disc) * 10000).round().astype("int64").sum()
        return {
            "k": pdf.k.iloc[0],
            "revenue": rev_e4.astype("float64") / 10000,
            "n_lines": len(pdf),
            "top_line": pdf.line.iloc[0],
        }
    plain = transform(df, q11_shape, schema=SCHEMA11, partition=PART11)
    compiled = transform(df, q11_shape, schema=SCHEMA11, partition=PART11, compile="strict")
    assert sorted_rows(plain) == sorted_rows(compiled)
    assert plain.schema == compiled.schema
    # the compiled plan is pure Catalyst: hash aggregation, no python UDFs
    explained = compiled._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in explained  # Hash or Sort aggregate, pure Catalyst
    assert "MapInArrow" not in explained and "MapInPandas" not in explained


def test_compiled_matches_pandas_path_q13_shape(spark):
    df = _li(spark)

    def q13_shape(pdf):
        return {
            "k": pdf.k.iloc[0],
            "n": len(pdf),
            "qty": pdf.qty.sum(),
        }
    plain = transform(df, q13_shape, schema="k:long,n:long,qty:long", partition={"by": ["k"]})
    compiled = transform(
        df, q13_shape, schema="k:long,n:long,qty:long", partition={"by": ["k"]}, compile="strict"
    )
    assert sorted_rows(plain) == sorted_rows(compiled)


def test_compiled_cursor_form_and_multi_reductions(spark):
    df = _li(spark)

    def stats(cursor, pdf):
        return {
            "k": cursor["k"],
            "mean_qty": pdf.qty.mean(),
            "span": pdf.price.max() - pdf.price.min(),
            "n_lines": pdf.shape[0],
            "uniq": pdf.line.nunique(),
        }

    schema = "k:long,mean_qty:double,span:double,n_lines:long,uniq:long"
    plain = transform(df, stats, schema=schema, partition={"by": ["k"]})
    compiled = transform(df, stats, schema=schema, partition={"by": ["k"]}, compile="strict")
    a, b = sorted_rows(plain), sorted_rows(compiled)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0] and ra[3] == rb[3] and ra[4] == rb[4]
        assert abs(ra[1] - rb[1]) < 1e-9 and abs(ra[2] - rb[2]) < 1e-9


def test_compiled_global_aggregation(spark):
    df = _li(spark)

    def total(pdf):
        return {"n": len(pdf), "qty": pdf.qty.sum()}

    compiled = transform(df, total, schema="n:long,qty:long", compile="strict")
    [row] = compiled.collect()
    pd_all = df.toPandas()
    assert row.n == len(pd_all) and row.qty == pd_all.qty.sum()


def test_untraceable_falls_back_and_strict_raises(spark):
    from fugue_spark.compile import TraceError

    df = _li(spark)

    def forces_eval(pdf):
        # .tolist() materializes — no Catalyst equivalent
        return {"k": pdf.k.iloc[0], "v": sum(pdf.qty.tolist())}

    # non-strict: silently falls back to the pandas path, same results
    res = transform(df, forces_eval, schema="k:long,v:long", partition={"by": ["k"]}, compile=True)
    want = transform(
        df, forces_eval, schema="k:long,v:long", partition={"by": ["k"]}, compile=False
    )
    assert sorted_rows(res) == sorted_rows(want)
    with pytest.raises(TraceError):
        transform(
            df, forces_eval, schema="k:long,v:long", partition={"by": ["k"]}, compile="strict"
        )

    def branches(pdf):
        if (pdf.qty > 10).sum() > 2:  # bool() on traced expr
            return {"k": pdf.k.iloc[0], "v": 1}
        return {"k": pdf.k.iloc[0], "v": 0}

    with pytest.raises(TraceError):
        transform(df, branches, schema="k:long,v:long", partition={"by": ["k"]}, compile="strict")

    def first_without_presort(pdf):
        return {"k": pdf.k.iloc[0], "v": pdf.qty.iloc[0]}

    with pytest.raises(TraceError, match="presort"):
        transform(
            df,
            first_without_presort,
            schema="k:long,v:long",
            partition={"by": ["k"]},
            compile="strict",
        )


def test_compiled_presort_first_row_asc_and_desc(spark):
    df = make_df(
        spark,
        [[1, 5.0, "b"], [1, 9.0, "a"], [1, 1.0, "c"], [2, 4.0, "z"], [2, 6.0, "y"]],
        "k:int,v:double,s:str",
    )

    def top(pdf):
        return {"k": pdf.k.iloc[0], "best": pdf.s.iloc[0]}

    res = transform(
        df,
        top,
        schema="k:int,best:str",
        partition={"by": ["k"], "presort": "v DESC"},
        compile="strict",
    )
    assert sorted_rows(res) == [(1, "a"), (2, "y")]
    res2 = transform(
        df,
        top,
        schema="k:int,best:str",
        partition={"by": ["k"], "presort": "v ASC"},
        compile="strict",
    )
    assert sorted_rows(res2) == [(1, "c"), (2, "z")]


def test_compiled_arrow_annotated_reducer(spark):
    import pyarrow as pa

    df = _li(spark)

    def arrow_fn(t: pa.Table):
        qty = t.column("qty")
        return {"k": t.column("k")[0].as_py(), "n": t.num_rows, "qty": qty.sum()}

    compiled = transform(
        df, arrow_fn, schema="k:long,n:long,qty:long", partition={"by": ["k"]}, compile="strict"
    )
    want = (
        df.groupBy("k").count().join(df.groupBy("k").sum("qty"), "k").select("k", "count", "sum(qty)")
    )
    assert sorted_rows(compiled) == sorted_rows(want)


def test_compiled_fillna_and_np_funcs(spark):
    df = make_df(
        spark,
        [[1, 4.0], [1, None], [2, 16.0], [2, 25.0]],
        "k:int,v:double",
    )

    def f(pdf):
        vals = np.sqrt(pdf.v.fillna(0.0).values)
        return {"k": pdf.k.iloc[0], "s": vals.sum()}

    plain = transform(df, f, schema="k:int,s:double", partition={"by": ["k"]})
    compiled = transform(df, f, schema="k:int,s:double", partition={"by": ["k"]}, compile="strict")
    a, b = sorted_rows(plain), sorted_rows(compiled)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0] and abs(ra[1] - rb[1]) < 1e-9


# ---------------- cotransform compilation ----------------


def _two_sides(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    n = 400
    o = pd.DataFrame(
        {"k": np.arange(100, dtype="int64"), "total": np.round(rng.uniform(10, 500, 100), 2)}
    )
    l = pd.DataFrame(
        {
            "k": rng.integers(0, 120, n).astype("int64"),  # some keys missing from o
            "price": np.round(rng.uniform(1, 100, n), 2),
            "disc": np.round(rng.uniform(0, 0.1, n), 2),
        }
    )
    return spark.createDataFrame(o), spark.createDataFrame(l)


def test_cotransform_compiled_matches_zip_engine(spark):
    from fugue_spark.cotransform import cotransform

    o, l = _two_sides(spark)

    def gap(cursor, left, right):
        rev = (right.price * (1 - right.disc) * 10000).round().astype("int64").sum()
        tot = (left.total.max() * 10000).round().astype("int64")
        return {"k": cursor["k"], "n": len(right), "gap": tot - rev}

    schema = "k:long,n:long,gap:long"
    plain = cotransform([o, l], gap, schema=schema, how="inner")
    compiled = cotransform([o, l], gap, schema=schema, how="inner", compile="strict")
    assert sorted_rows(plain) == sorted_rows(compiled)
    assert plain.schema == compiled.schema
    explained = compiled._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in explained and "MapInPandas" not in explained


def test_cotransform_compiled_mean_and_counts_both_sides(spark):
    from fugue_spark.cotransform import cotransform

    o, l = _two_sides(spark)

    def f(left, right):
        return {
            "k": left.k.iloc[0],
            "n_left": len(left),
            "n_right": right.price.count(),
            "avg_price": right.price.mean(),
        }

    schema = "k:long,n_left:long,n_right:long,avg_price:double"
    plain = cotransform([o, l], f, schema=schema, how="inner")
    compiled = cotransform([o, l], f, schema=schema, how="inner", compile="strict")
    a, b = sorted_rows(plain), sorted_rows(compiled)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[:3] == rb[:3] and abs(ra[3] - rb[3]) < 1e-9


def test_cotransform_compiled_restrictions(spark):
    from fugue_spark.compile import TraceError
    from fugue_spark.cotransform import cotransform

    o, l = _two_sides(spark)

    def f(left, right):
        return {"k": left.k.iloc[0], "n": len(right)}

    # outer hows stay on the python path (empty-side pandas semantics)
    with pytest.raises(TraceError, match="inner"):
        cotransform(
            [o, l], f, schema="k:long,n:long", how="left_outer", compile="strict"
        )

    def mixes_sides(left, right):
        return {"k": left.k.iloc[0], "bad": (left.total * right.price).sum()}

    with pytest.raises(TraceError, match="zip sides"):
        cotransform(
            [o, l], mixes_sides, schema="k:long,bad:double", how="inner", compile="strict"
        )


def test_compiled_boolean_reductions_and_extended_surface(spark):
    df = make_df(
        spark,
        [
            [1, 5.0, None],
            [1, -3.0, 2.0],
            [1, 9.0, 4.0],
            [2, 2.0, 6.0],
            [2, 8.0, None],
            [2, 100.0, 1.0],
        ],
        "k:int,v:double,w:double",
    )

    def f(pdf):
        return {
            "k": pdf.k.iloc[0],
            "n_big": (pdf.v > 4).sum(),
            "frac_neg": (pdf.v < 0).mean(),
            "n_null_w": pdf.w.isna().sum(),
            "n_in": pdf.k.isin([1, 7]).sum(),
            "n_band": pdf.v.between(0, 10).sum(),
            "sum_clip": pdf.v.clip(0, 10).sum(),
            "sum_abs": pdf.v.abs().sum(),
            "sd": pdf.v.std(),
            "vr": pdf.v.var(ddof=0),
            "med": pdf.v.median(),
        }

    schema = (
        "k:int,n_big:long,frac_neg:double,n_null_w:long,n_in:long,"
        "n_band:long,sum_clip:double,sum_abs:double,sd:double,vr:double,med:double"
    )
    plain = transform(df, f, schema=schema, partition={"by": ["k"]})
    compiled = transform(df, f, schema=schema, partition={"by": ["k"]}, compile="strict")
    a, b = sorted_rows(plain), sorted_rows(compiled)
    assert len(a) == len(b) == 2
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float):
                assert abs(x - y) < 1e-9, (ra, rb)
            else:
                assert x == y, (ra, rb)


def test_compiled_randomized_differential(spark):
    """Kitchen-sink reducer over random grouped data (with NULLs): the
    compiled plan must match the pandas path value-for-value across
    seeds. Boolean reductions only touch non-null columns (pandas counts
    a NaN comparison as False in the mean denominator; SQL avg skips
    NULL rows — a real semantic difference, not a bug)."""

    def kitchen(pdf):
        return {
            "k": pdf.k.iloc[0],
            "n": len(pdf),
            "s_v": pdf.v.sum(),
            "mn": pdf.v.min(),
            "mx": pdf.v.max(),
            "avg_w": pdf.w.mean(),
            "n_pos": (pdf.w > 0).sum(),
            "n_null_v": pdf.v.isna().sum(),
            "filled": pdf.v.fillna(0.0).sum(),
            "sd_w": pdf.w.std(),
            "med_w": pdf.w.median(),
            "uniq_i": pdf.i.nunique(),
            "clipped": pdf.w.clip(-1.0, 1.0).sum(),
            "rooted": np.sqrt(pdf.w.abs()).sum(),
        }

    schema = (
        "k:long,n:long,s_v:double,mn:double,mx:double,avg_w:double,"
        "n_pos:long,n_null_v:long,filled:double,sd_w:double,med_w:double,"
        "uniq_i:long,clipped:double,rooted:double"
    )

    def close(x, y):
        if x is None and y is None:
            return True
        if x is None or y is None:
            return False
        if isinstance(x, float):
            if x != x and y != y:
                return True
            return abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))
        return x == y

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = 300
        pdf = pd.DataFrame(
            {
                "k": rng.integers(0, 25, n).astype("int64"),
                "v": rng.uniform(-50, 50, n),
                "w": rng.uniform(-5, 5, n),
                "i": rng.integers(0, 9, n).astype("int64"),
            }
        )
        pdf.loc[rng.random(n) < 0.2, "v"] = None
        df = spark.createDataFrame(pdf)
        plain = transform(df, kitchen, schema=schema, partition={"by": ["k"]})
        compiled = transform(
            df, kitchen, schema=schema, partition={"by": ["k"]}, compile="strict"
        )
        a, b = sorted_rows(plain), sorted_rows(compiled)
        assert len(a) == len(b)
        for ra, rb in zip(a, b):
            for x, y in zip(ra, rb):
                assert close(x, y), (seed, ra, rb)


def test_compiled_with_exotic_input_names(spark):
    """Input columns that need engine-internal safe renaming (dots/spaces)
    must still trace: the proxy exposes user-visible names and resolves
    them through the safe-name map."""
    pdf = pd.DataFrame({"the key": [1, 1, 2], "v.alue": [10.0, 20.0, 30.0]})
    df = spark.createDataFrame(pdf)

    def f(frame):
        return {"k": frame["the key"].iloc[0], "s": frame["v.alue"].sum()}

    out = transform(
        df, f, schema="k:long,s:double", partition={"by": ["the key"]}, compile="strict"
    )
    assert sorted_rows(out) == [(1, 30.0), (2, 30.0)]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_map_shape_filter_compiles_without_python(spark):
    """A transformer returning pdf[mask] compiles to a native filter: no
    MapInArrow, no exchange (row-local ops make partitioning a no-op)."""
    pdf = pd.DataFrame({"id": range(100), "qty": [float(i % 50) for i in range(100)]})
    df = spark.createDataFrame(pdf)

    def keep(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[(pdf.qty > 30) & (pdf.id % 2 == 0)]

    out = transform(df, keep, schema="id:long,qty:double", compile="strict")
    plan = _plan(out)
    assert "MapInArrow" not in plan and "Exchange" not in plan
    want = transform(df, keep, schema="id:long,qty:double")
    assert sorted_rows(out) == sorted_rows(want)


def test_map_shape_assign_filter_projection(spark):
    pdf = pd.DataFrame(
        {"id": [1, 2, 3, 4], "qty": [10.0, 35.0, 50.0, 5.0], "tag": list("abca")}
    )
    df = spark.createDataFrame(pdf)

    def enrich(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf2 = pdf.assign(dq=pdf.qty * 2, flag=1)
        return pdf2[pdf2.dq >= 70][["id", "dq", "flag"]]

    out = transform(df, enrich, schema="id:long,dq:double,flag:int", compile="strict")
    assert sorted_rows(out) == [(2, 70.0, 1), (3, 100.0, 1)]
    want = transform(df, enrich, schema="id:long,dq:double,flag:int")
    assert sorted_rows(out) == sorted_rows(want)
    # identity and drop shapes
    out_id = transform(df, lambda p: p, schema="id:long,qty:double,tag:str", compile="strict")
    assert out_id.count() == 4
    out_drop = transform(
        df, lambda p: p.drop(columns=["tag"]), schema="id:long,qty:double", compile="strict"
    )
    assert out_drop.columns == ["id", "qty"]


def test_map_shape_refusals(spark):
    from fugue_spark.compile import TraceError

    pdf = pd.DataFrame({"id": [1, 2], "qty": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)

    def mixes_reduction(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf.qty > pdf.qty.mean()]

    with pytest.raises(TraceError):
        transform(df, mixes_reduction, schema="id:long,qty:double", compile="strict")

    def len_dependent(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(n=len(pdf))

    with pytest.raises(TraceError):
        transform(df, len_dependent, schema="id:long,qty:double,n:long", compile="strict")

    def non_bool_mask(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf.qty * 2]

    with pytest.raises(TraceError):
        transform(df, non_bool_mask, schema="id:long,qty:double", compile="strict")

    # non-strict: an untraceable-but-row-local function falls back to the
    # pandas path and still answers
    def untraceable(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf.qty.apply(lambda v: v > 1.5)]

    out = transform(df, untraceable, schema="id:long,qty:double", compile=True)
    assert sorted_rows(out) == [(2, 2.0)]


def test_map_shape_randomized_differential(spark):
    """Random row-local filter/assign/projection compositions over random
    data (with NULLs): the compiled filter/select plan must match the
    pandas path row-for-row across seeds."""
    import random

    for seed in range(6):
        rng = np.random.default_rng(seed)
        n = 200
        pdf = pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64),
                "v": rng.normal(0, 10, n),
                "w": rng.uniform(-1, 1, n),
                "i": rng.integers(0, 5, n).astype(np.int64),
            }
        )
        pdf.loc[rng.choice(n, 20, replace=False), "v"] = np.nan
        df = spark.createDataFrame(pdf)
        r = random.Random(seed)
        thr = round(r.uniform(-5, 5), 2)
        mode = r.randrange(4)

        if mode == 0:

            def fn(pdf, thr=thr):
                return pdf[pdf.v.fillna(0.0) > thr]

            schema = "id:long,v:double,w:double,i:long"
        elif mode == 1:

            def fn(pdf, thr=thr):
                big = pdf[(pdf.w > thr / 10) | (pdf.i == 2)]
                return big.assign(score=big.w * 2 + 1)

            schema = "id:long,v:double,w:double,i:long,score:double"
        elif mode == 2:

            def fn(pdf, thr=thr):
                return pdf[pdf.v.notna()][["id", "i"]]

            schema = "id:long,i:long"
        else:

            def fn(pdf, thr=thr):
                keep = pdf[pdf.i.isin([0, 2, 4]) & pdf.w.between(-0.5, 0.5)]
                return keep.drop(columns=["v"]).assign(half_w=keep.w / 2)

            schema = "id:long,w:double,i:long,half_w:double"

        got = transform(df, fn, schema=schema, compile="strict")
        want = transform(df, fn, schema=schema)
        assert sorted_rows(got) == sorted_rows(want), (seed, mode)


def test_conditional_aggregation_compiles(spark):
    """Reducers over FILTERED subsets (pdf[mask].col.sum()) compile to
    conditional aggregates — including pandas' empty-subset contract
    (sum->0, mean->NaN, count->0)."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 20, 300).astype("int64"),
            "v": rng.normal(0, 10, 300),
            "q": rng.integers(0, 50, 300).astype("int64"),
        }
    )
    df = spark.createDataFrame(pdf)

    def cond_agg(pdf):
        big = pdf[pdf.q >= 45]  # often empty per group
        return {
            "k": pdf.k.iloc[0],
            "n_big": big.q.count(),
            "sum_big_v": big.v.sum(),
            "mean_big_v": big.v.mean(),
            "n_all": len(pdf),
        }

    schema = "k:long,n_big:long,sum_big_v:double,mean_big_v:double,n_all:long"
    got = transform(df, cond_agg, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, cond_agg, schema=schema, partition={"by": ["k"]})
    g, w = sorted_rows(got), sorted_rows(want)
    assert len(g) == len(w)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            assert (x == y) or (x != x and y != y) or abs(x - y) < 1e-9, (a, b)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan

    # refusal: mixing columns read through DIFFERENT filters
    from fugue_spark.compile import TraceError

    def mixes_filters(pdf):
        a = pdf[pdf.q > 40]
        b = pdf[pdf.q < 10]
        return {"k": pdf.k.iloc[0], "bad": (a.v + b.v).sum()}

    with pytest.raises(TraceError):
        transform(
            df, mixes_filters, schema="k:long,bad:double",
            partition={"by": ["k"]}, compile="strict",
        )

    # chained masks AND together; key access through a filter stays the key
    def chained(pdf):
        sub = pdf[pdf.q > 10][pdf.v > 0]
        return {"k": sub.k.iloc[0], "n": sub.q.count()}

    got2 = transform(df, chained, schema="k:long,n:long", partition={"by": ["k"]}, compile="strict")
    want2 = transform(
        df,
        lambda p: {"k": p.k.iloc[0], "n": int(((p.q > 10) & (p.v > 0)).sum())},
        schema="k:long,n:long",
        partition={"by": ["k"]},
    )
    assert sorted_rows(got2) == sorted_rows(want2)


def test_cotransform_conditional_aggregation_compiles(spark):
    """Filtered-subset reductions work through the zip compiler too — the
    conditional leaf lands on the right side's aggregation."""
    rng = np.random.default_rng(5)
    o = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(50, dtype="int64"), "total": rng.uniform(10, 500, 50)})
    )
    l = spark.createDataFrame(
        pd.DataFrame({"k": rng.integers(0, 50, 300).astype("int64"), "v": rng.normal(5, 3, 300)})
    )

    def fn(cursor, o, l):
        big = l[l.v > 5]
        return {
            "k": cursor["k"],
            "n_big": big.v.count(),
            "sum_big": big.v.sum(),
            "tot": o.total.max(),
        }

    from fugue_spark.cotransform import cotransform

    schema = "k:long,n_big:long,sum_big:double,tot:double"
    got = cotransform([o, l], fn, schema=schema, compile="strict")
    want = cotransform([o, l], fn, schema=schema)
    g, w = sorted_rows(got), sorted_rows(want)
    assert len(g) == len(w)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            assert (x == y) or abs(x - y) < 1e-9, (a, b)


def test_str_accessor_compiles(spark):
    """.str predicates/transforms compile to native string expressions —
    both in map-shaped filters and in reducers."""
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "tag": ["alpha", "beta", "ALPHA bravo", "gamma"],
        }
    )
    df = spark.createDataFrame(pdf)

    def keep_alpha(pdf: pd.DataFrame) -> pd.DataFrame:
        kept = pdf[pdf.tag.str.contains("alpha", case=False, regex=False)]
        return kept.assign(up=kept.tag.str.upper(), n=kept.tag.str.len())

    schema = "id:long,tag:str,up:str,n:int"
    got = transform(df, keep_alpha, schema=schema, compile="strict")
    want = transform(df, keep_alpha, schema=schema)
    assert sorted_rows(got) == sorted_rows(want) == [
        (1, "alpha", "ALPHA", 5),
        (3, "ALPHA bravo", "ALPHA BRAVO", 11),
    ]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan

    def count_prefixed(pdf: pd.DataFrame):
        return {"n_b": pdf.tag.str.startswith("b").sum(), "n_all": len(pdf)}

    got2 = transform(df, count_prefixed, schema="n_b:long,n_all:long", compile="strict")
    want2 = transform(df, count_prefixed, schema="n_b:long,n_all:long", partition=1)
    assert sorted_rows(got2) == sorted_rows(want2) == [(1, 4)]

    def regex_filter(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf.tag.str.contains("^(a|g)")][["id"]]

    got3 = transform(df, regex_filter, schema="id:long", compile="strict")
    want3 = transform(df, regex_filter, schema="id:long")
    assert sorted_rows(got3) == sorted_rows(want3) == [(1,), (4,)]


def test_np_where_compiles(spark):
    """np.where(cond, a, b) traces to CASE WHEN via the NEP-18 protocol —
    in assigns, reducers, and nested forms."""
    pdf = pd.DataFrame({"k": [1, 1, 2, 2], "v": [1.0, -2.0, 3.0, -4.0]})
    df = spark.createDataFrame(pdf)

    def f(pdf):
        pos = np.where(pdf.v > 0, pdf.v, 0.0)
        return {"k": pdf.k.iloc[0], "s_pos": pos.sum(),
                "n_neg": np.where(pdf.v < 0, 1, 0).sum()}

    schema = "k:long,s_pos:double,n_neg:long"
    got = transform(df, f, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, f, schema=schema, partition={"by": ["k"]})
    assert sorted_rows(got) == sorted_rows(want) == [(1, 1.0, 1), (2, 3.0, 1)]

    def g(pdf):
        return pdf.assign(sign=np.where(pdf.v > 0, 1, -1))

    got2 = transform(df, g, schema="k:long,v:double,sign:int", compile="strict")
    want2 = transform(df, g, schema="k:long,v:double,sign:int")
    assert sorted_rows(got2) == sorted_rows(want2)


def test_topk_shape_compiles_to_window(spark):
    """sort_values(...).head(k) — per-group top-k — compiles to a native
    row_number window; filter/projection compose; head() without
    sort_values falls back to the declared presort; ungrouped head
    refuses (physical-partition order dependence)."""
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 20, 200).astype("int64"),
            "v": rng.uniform(0, 100, 200).round(3),
            "id": np.arange(200, dtype="int64"),
        }
    )
    df = spark.createDataFrame(pdf)
    schema = "k:long,v:double,id:long"

    def top2(pdf):
        return pdf.sort_values("v", ascending=False).head(2)

    got = transform(df, top2, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, top2, schema=schema, partition={"by": ["k"]})
    assert sorted_rows(got) == sorted_rows(want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Window" in plan

    def ftop(pdf):
        big = pdf[pdf.v > 20]
        return big.sort_values("v").head(3)[["k", "id"]]

    got2 = transform(df, ftop, schema="k:long,id:long", partition={"by": ["k"]}, compile="strict")
    want2 = transform(df, ftop, schema="k:long,id:long", partition={"by": ["k"]})
    assert sorted_rows(got2) == sorted_rows(want2)

    def first2(pdf):
        return pdf.head(2)

    part = {"by": ["k"], "presort": "v ASC"}
    got3 = transform(df, first2, schema=schema, partition=part, compile="strict")
    want3 = transform(df, first2, schema=schema, partition=part)
    assert sorted_rows(got3) == sorted_rows(want3)

    from fugue_spark.compile import TraceError

    with pytest.raises(TraceError):
        transform(df, first2, schema=schema, compile="strict")


def test_np_round_dispatch_still_traces(spark):
    """Regression: defining __array_function__ makes numpy route np.round/
    np.clip/np.sum through it instead of the .round method — they must
    stay traceable."""
    pdf = pd.DataFrame({"k": [1, 1, 2], "v": [1.234, 5.678, 9.012]})
    df = spark.createDataFrame(pdf)

    def f(pdf):
        vals = np.round(pdf.v.values * 10, 1)
        return {
            "k": pdf.k.iloc[0],
            "s": np.sum(vals),
            "c": np.sum(np.clip(pdf.v.values, 2.0, 8.0)),
            "mx": np.max(pdf.v.values),
        }

    schema = "k:long,s:double,c:double,mx:double"
    got = transform(df, f, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, f, schema=schema, partition={"by": ["k"]})
    for a, b in zip(sorted_rows(got), sorted_rows(want)):
        for x, y in zip(a, b):
            assert abs(x - y) < 1e-9, (a, b)


def test_round_astype_int_exact_half_up(spark):
    """r10: .round().astype('int64') lowers to the allocation-free binary
    HALF_UP form (floor + exact-fraction test) instead of Spark's
    BigDecimal round. Must agree with the pandas path on every value whose
    rounding is direction-unambiguous — including the 1-ulp-below-.5
    doubles a naive floor(x+0.5) misrounds, exact NEGATIVE halves (which
    now follow pandas), and |x| > 2^51 (guarded round fallback). Positive
    exact .5 keeps the documented half-even-vs-half-up divergence and is
    excluded."""
    vals = [
        0.49999999999999994,  # largest double < 0.5: naive +0.5 gives 1.0
        1.4999999999999998,
        -2.5,  # exact negative half: pandas half-even -2 (old compiled: -3)
        -3.5,  # pandas rounds to -4 (even); half-up-toward-+inf gives -3 → excluded
        123.456, -987.654, 0.0, -0.0,
        2.0**51 + 0.75,  # above the exactness envelope → round fallback
        -(2.0**52) + 0.25,
        7.0, -7.0,
    ]
    pdf = pd.DataFrame({"k": [i % 3 for i in range(len(vals))], "x": vals})
    df = spark.createDataFrame(pdf)

    def f(pdf):
        r = pdf.x.round().astype("int64")
        return {"k": pdf.k.iloc[0], "s": r.sum(), "mn": r.min(), "mx": r.max()}

    schema = "k:long,s:long,mn:long,mx:long"
    # -3.5 is the one direction-ambiguous value in the set: pandas half-even
    # gives -4, the compiled half-up-toward-+inf gives -3. Compare per-value
    # instead of per-group for it.
    import math

    got = {r.k: r for r in transform(
        df, f, schema=schema, partition={"by": ["k"]}, compile="strict"
    ).collect()}
    # reference: python-level HALF_UP toward +inf with round fallback
    def half_up(x):
        if math.isnan(x) or math.isinf(x) or abs(x) > 2.0**51:
            return int(float(pd.Series([x]).round().iloc[0]))
        fl = math.floor(x)
        return int(fl + (1 if (x - fl) >= 0.5 else 0))

    ref = pd.DataFrame({"k": pdf.k, "r": [half_up(v) for v in vals]})
    want = ref.groupby("k").r.agg(["sum", "min", "max"])
    for k, row in want.iterrows():
        assert got[k].s == row["sum"], (k, got[k], row)
        assert got[k].mn == row["min"]
        assert got[k].mx == row["max"]


def test_drop_duplicates_shape_compiles(spark):
    """sort_values(...).drop_duplicates(subset) — best-row-per-subkey —
    compiles to row_number()==1 over (keys + subset); keep='last' flips
    the order; unordered dedup refuses (input-order-dependent)."""
    rng = np.random.default_rng(2)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 10, 100).astype("int64"),
            "cat": rng.choice(["x", "y", "z"], 100),
            "v": rng.uniform(0, 100, 100).round(3),
        }
    )
    df = spark.createDataFrame(pdf)
    schema = "k:long,cat:str,v:double"

    def best_per_cat(pdf):
        return pdf.sort_values("v", ascending=False).drop_duplicates("cat")

    got = transform(df, best_per_cat, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, best_per_cat, schema=schema, partition={"by": ["k"]})
    assert sorted_rows(got) == sorted_rows(want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Window" in plan

    def worst_per_cat(pdf):
        return pdf.sort_values("v").drop_duplicates("cat", keep="last")

    got2 = transform(df, worst_per_cat, schema=schema, partition={"by": ["k"]}, compile="strict")
    want2 = transform(df, worst_per_cat, schema=schema, partition={"by": ["k"]})
    assert sorted_rows(got2) == sorted_rows(want2)

    from fugue_spark.compile import TraceError

    with pytest.raises(TraceError):
        transform(
            df, lambda p: p.drop_duplicates("cat"), schema=schema,
            partition={"by": ["k"]}, compile="strict",
        )
    with pytest.raises(TraceError):  # ungrouped: physical-partition-dependent
        transform(df, best_per_cat, schema=schema, compile="strict")

def test_str_accessor_pandas2_semantics(spark):
    """ADVICE round-5 repros: .str.replace defaults to LITERAL (pandas>=2),
    contains(case=False, regex=True) must not corrupt escape/char classes,
    and .str.strip() strips tabs/newlines — compiled ≡ pandas path."""
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "tag": ["a.b", "A-Z!", "\thi\n", r"x\S! end"],
        }
    )
    df = spark.createDataFrame(pdf)

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(
            lit_rep=pdf.tag.str.replace(".", "-"),          # literal by default
            re_rep=pdf.tag.str.replace("[a-z]", "_", regex=True),
            stripped=pdf.tag.str.strip(),
        )

    schema = "id:long,tag:str,lit_rep:str,re_rep:str,stripped:str"
    got = transform(df, f, schema=schema, compile="strict")
    want = transform(df, f, schema=schema)
    assert sorted_rows(got) == sorted_rows(want)
    row = {r[0]: r for r in got.collect()}
    assert row[1][2] == "a-b"          # NOT '---'
    assert row[3][4] == "hi"           # tabs/newlines stripped

    def g(pdf: pd.DataFrame) -> pd.DataFrame:
        # case=False with a regex containing \S and [A-Z] — lowercasing the
        # pattern would flip \S to \s and kill the match
        return pdf[pdf.tag.str.contains(r"\S!", case=False)][["id"]]

    got2 = transform(df, g, schema="id:long", compile="strict")
    want2 = transform(df, g, schema="id:long")
    assert sorted_rows(got2) == sorted_rows(want2) == [(2,), (4,)]

    def h(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf.tag.str.contains("[A-Z]", case=False)][["id"]]

    got3 = transform(df, h, schema="id:long", compile="strict")
    want3 = transform(df, h, schema="id:long")
    assert sorted_rows(got3) == sorted_rows(want3)


def test_drop_duplicates_keep_last_nan_sort(spark):
    """keep='last' with NaN in the sort column: the compiled reversal must
    flip null placement too, so the NaN row is kept exactly as pandas
    (na_position='last' + keep='last') keeps it."""
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2],
            "cat": ["x", "x", "x", "y", "y"],
            "v": [1.0, 2.0, np.nan, np.nan, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)
    schema = "k:long,cat:str,v:double"

    def worst(pdf):
        return pdf.sort_values("v").drop_duplicates("cat", keep="last")

    got = transform(df, worst, schema=schema, partition={"by": ["k"]}, compile="strict")
    want = transform(df, worst, schema=schema, partition={"by": ["k"]})

    def norm(rows):
        # NaN arrives as SQL NULL on collect — fold both to a marker
        return sorted(
            (k, c, "NA" if (v is None or v != v) else v) for k, c, v in rows
        )

    assert norm(got.collect()) == norm(want.collect())
    # pandas keeps the NaN row (it sorts last) — assert the actual value
    assert norm(got.collect()) == [(1, "x", "NA"), (2, "y", "NA")]


# ---------------- window-shape compile (dict-of-arrays, r07) ----------------


def _win_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 2, 2, 3],
                "x": [10.0, 30.0, 60.0, 5.0, 15.0, 7.0],
                "i": [1, 2, 3, 4, 5, 6],
            }
        )
    )


def _sorted_pdf(df):
    return df.toPandas().sort_values(["k", "i"]).reset_index(drop=True)


def test_window_shape_dict_of_arrays(spark):
    """A dict mixing per-row vectors with reductions compiles to a window
    plan (agg OVER partition) with NO python stage, and matches the
    pandas path value-for-value."""
    df = _win_df(spark)

    def share(pdf):
        tot = pdf.x.values.sum()
        return {
            "k": pdf.k.values[0],
            "i": pdf.i.values,
            "share_e4": ((pdf.x.values / tot) * 10000).astype("int64"),
            "n": len(pdf),
        }

    schema = "k:long,i:long,share_e4:long,n:long"
    part = {"by": ["k"]}
    compiled = transform(df, share, schema=schema, partition=part, compile="strict")
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # native window, no python workers
    a = _sorted_pdf(transform(df, share, schema=schema, partition=part))
    b = _sorted_pdf(compiled)
    assert a.equals(b)
    assert b.loc[b.k == 1, "share_e4"].tolist() == [1000, 3000, 6000]
    assert b.n.tolist() == [3, 3, 3, 2, 2, 1]


def test_window_shape_running_cumsum_shift(spark):
    """cumsum/shift/diff over the declared presort compile to ordered
    window functions; parity with the pandas path."""
    df = _win_df(spark)

    def running(pdf):
        return {
            "k": pdf.k.values[0],
            "i": pdf.i.values,
            "run": pdf.x.cumsum().values,
            "prev": pdf.x.shift(1, fill_value=0.0).values,
            "delta": pdf.x.diff().fillna(0.0).values,
        }

    schema = "k:long,i:long,run:double,prev:double,delta:double"
    part = {"by": ["k"], "presort": "i ASC"}
    a = _sorted_pdf(transform(df, running, schema=schema, partition=part))
    b = _sorted_pdf(transform(df, running, schema=schema, partition=part, compile="strict"))
    assert a.equals(b)
    assert b.loc[b.k == 1, "run"].tolist() == [10.0, 40.0, 100.0]
    assert b.loc[b.k == 1, "prev"].tolist() == [0.0, 10.0, 30.0]
    assert b.loc[b.k == 2, "delta"].tolist() == [0.0, 10.0]


def test_assign_from_reduction_compiles(spark):
    """pdf.assign(z=(x - mean)/std) — a row-shaped output embedding
    reductions — compiles to window aggregates; a later filter on the
    assigned column works and sees the WHOLE-group reduction."""
    df = _win_df(spark)

    def zscore(pdf):
        m = pdf.x.mean()
        return pdf.assign(dev=pdf.x - m)[["k", "i", "dev"]]

    schema = "k:long,i:long,dev:double"
    a = _sorted_pdf(transform(df, zscore, schema=schema, partition={"by": ["k"]}))
    b = _sorted_pdf(
        transform(df, zscore, schema=schema, partition={"by": ["k"]}, compile="strict")
    )
    assert np.allclose(a.dev, b.dev) and a[["k", "i"]].equals(b[["k", "i"]])

    def top_share(pdf):
        out = pdf.assign(share=pdf.x / pdf.x.sum())
        return out[out.share > 0.3][["k", "i", "share"]]

    schema2 = "k:long,i:long,share:double"
    a2 = _sorted_pdf(transform(df, top_share, schema=schema2, partition={"by": ["k"]}))
    b2 = _sorted_pdf(
        transform(df, top_share, schema=schema2, partition={"by": ["k"]}, compile="strict")
    )
    assert a2.shape == b2.shape and np.allclose(a2.share, b2.share)


def test_window_shape_refusals_and_fallback(spark):
    """Honest refusals: running ops need keys AND presort; filtered vector
    outputs refuse (length mismatch); nunique-over-window is unsupported
    by Spark and falls back to the pandas path under compile=True."""
    df = _win_df(spark)

    def run_no_presort(pdf):
        return {"k": pdf.k.values[0], "i": pdf.i.values, "run": pdf.x.cumsum().values}

    with pytest.raises(TraceError, match="presort"):
        transform(
            df, run_no_presort, schema="k:long,i:long,run:double",
            partition={"by": ["k"]}, compile="strict",
        )

    def filtered_vec(pdf):
        sub = pdf[pdf.x > 8.0]
        return {"k": pdf.k.values[0], "i": sub.i.values, "n": len(pdf)}

    with pytest.raises(TraceError, match="row filter"):
        transform(
            df, filtered_vec, schema="k:long,i:long,n:long",
            partition={"by": ["k"]}, compile="strict",
        )

    def nun(pdf):
        return {"k": pdf.k.values[0], "i": pdf.i.values, "u": pdf.x.nunique()}

    with pytest.raises(TraceError, match="window function"):
        transform(
            df, nun, schema="k:long,i:long,u:long",
            partition={"by": ["k"]}, compile="strict",
        )
    # non-strict: graceful fallback to the pandas path, same values
    fb = _sorted_pdf(
        transform(df, nun, schema="k:long,i:long,u:long",
                  partition={"by": ["k"]}, compile=True)
    )
    assert fb.u.tolist() == [3, 3, 3, 2, 2, 1]


def test_window_shape_cotransform_refuses(spark):
    """Per-row outputs from a zip cotransform do not compile (ambiguous
    row alignment across sides) — TraceError in strict mode."""
    from fugue_spark.cotransform import cotransform

    df = _win_df(spark)

    def vec_out(a, b):
        return {"k": a.k.values[0], "i": a.i.values, "n": len(b)}

    with pytest.raises(TraceError):
        cotransform(
            [df, df], vec_out, schema="k:long,i:long,n:long",
            partition={"by": ["k"]}, compile="strict",
        )


def test_running_null_parity_and_shift_boundary_fill(spark):
    """r07 review fixes: cum* emit NULL at NULL positions (pandas NaN
    parity, not the running value), and shift(fill_value=) fills ONLY the
    shifted-in boundary — lagged data NULLs stay NULL."""
    pdf = pd.DataFrame(
        {"k": [1, 1, 1], "i": [1, 2, 3], "x": [1.0, np.nan, 2.0]}
    )
    df = spark.createDataFrame(pdf)
    part = {"by": ["k"], "presort": "i ASC"}

    def running(g):
        return {
            "k": g.k.values[0],
            "i": g.i.values,
            "run": g.x.cumsum().values,
            "prev": g.x.shift(1, fill_value=-1.0).values,
        }

    schema = "k:long,i:long,run:double,prev:double"
    a = transform(df, running, schema=schema, partition=part).toPandas()
    b = transform(df, running, schema=schema, partition=part, compile="strict").toPandas()
    a = a.sort_values("i").reset_index(drop=True)
    b = b.sort_values("i").reset_index(drop=True)

    def norm(s):
        return ["NA" if (v is None or v != v) else v for v in s]

    assert norm(a.run) == norm(b.run) == [1.0, "NA", 3.0]
    # boundary (i=1) filled with -1; the lagged data NULL (i=3) stays NULL
    assert norm(a.prev) == norm(b.prev) == [-1.0, 1.0, "NA"]


def test_dict_of_arrays_respects_array_typed_schema(spark):
    """r07 review fix: a dict value aimed at an ARRAY-typed output column
    is a single cell, not a multi-row expansion — on the pandas path and
    with scalar siblings."""
    from fugue_spark.schema import parse_schema

    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "x": [1.0, 2.0, 5.0]})
    )

    def emb(g):
        return {"k": int(g.k.iloc[0]), "emb": [float(v) for v in sorted(g.x)]}

    out = transform(
        df, emb, schema="k:long,emb:[double]", partition={"by": ["k"]}
    )
    got = {r.k: list(r.emb) for r in out.collect()}
    assert got == {1: [1.0, 2.0], 2: [5.0]}  # ONE row per group, array cell


def test_auto_compile_matches_pandas_on_gate_queries(spark, monkeypatch):
    """End-to-end auto-compile equivalence: every transform/cotransform gate
    query produces the SAME result with auto-compile on (default) and off
    (FUGUE_SPARK_AUTO_COMPILE=0 forces the pandas/arrow execution path).
    This is the fallback-correctness contract for making the trace compiler
    the default: the compiled plan may only engage when provably equal."""
    from fugue_spark.benchmarks import QUERIES

    sf = "/root/testdata/sf0.001"
    names = [
        n
        for n in QUERIES
        if n.startswith(("q11", "q12", "q13", "q20", "q21", "q25", "q26", "q27", "q28", "q29", "q30"))
    ]
    assert len(names) >= 10
    for n in names:
        monkeypatch.delenv("FUGUE_SPARK_AUTO_COMPILE", raising=False)
        auto = QUERIES[n].spark_fn(spark, sf).toPandas()
        monkeypatch.setenv("FUGUE_SPARK_AUTO_COMPILE", "0")
        pandas_path = QUERIES[n].spark_fn(spark, sf).toPandas()
        monkeypatch.delenv("FUGUE_SPARK_AUTO_COMPILE", raising=False)
        a = auto.sort_values(list(auto.columns)).reset_index(drop=True)
        b = pandas_path.sort_values(list(pandas_path.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=True), n


def test_auto_compile_fallback_engages_on_value_dependent_branch(spark):
    """A value-dependent branch is untraceable; the DEFAULT path must fall
    back to pandas execution silently and produce pandas-exact results."""
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2, 2, 2], "v": [1.0, 2.0, 30.0, 4.0, 5.0]})
    )

    def branchy(g):
        s = float(g.v.sum())
        if s > 10:  # value-dependent: forces TraceError at trace time
            return {"k": int(g.k.iloc[0]), "out": s * 2}
        return {"k": int(g.k.iloc[0]), "out": s}

    res = transform(df, branchy, schema="k:long,out:double", partition={"by": ["k"]})
    from fugue_spark.plans import physical_plan

    plan = physical_plan(res, "simple")
    assert "MapInArrow" in plan or "FlatMapGroupsInPandas" in plan, plan
    got = {r.k: r.out for r in res.collect()}
    assert got == {1: 3.0, 2: 78.0}


# ---------------- auto-compile purity guard (round 9) ----------------


def _py_stage(df) -> bool:
    from fugue_spark.plans import physical_plan

    plan = physical_plan(df, "simple")
    return any(
        t in plan
        for t in (
            "MapInArrow",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "ArrowEvalPython",
            "BatchEvalPython",
        )
    )


def test_assert_statically_pure_unit():
    """The static gate accepts whitelisted-module/builtin-only functions and
    refuses global writes, side-effectful builtins, non-whitelisted imports,
    and mutable closures."""
    from fugue_spark.compile import TraceError, assert_statically_pure

    def pure(pdf):
        import numpy as np

        return {"k": int(pdf.k.iloc[0]), "n": len(pdf), "s": float(np.round(1.5))}

    assert_statically_pure(pure)  # no raise

    def writes_global(pdf):
        global _SOME_COUNTER
        _SOME_COUNTER = 1
        return {"n": len(pdf)}

    with pytest.raises(TraceError, match="writes global"):
        assert_statically_pure(writes_global)

    def uses_print(pdf):
        print(len(pdf))
        return {"n": len(pdf)}

    with pytest.raises(TraceError, match="side-effectful builtin"):
        assert_statically_pure(uses_print)

    def bad_import(pdf):
        import os

        return {"n": os.getpid()}

    with pytest.raises(TraceError, match="imports"):
        assert_statically_pure(bad_import)

    sink = []

    def mutable_closure(pdf):
        sink.append(len(pdf))
        return {"n": len(pdf)}

    with pytest.raises(TraceError, match="closure"):
        assert_statically_pure(mutable_closure)

    threshold = 5  # immutable closure captures stay traceable

    def scalar_closure(pdf):
        return {"n": len(pdf) + threshold}

    assert_statically_pure(scalar_closure)


def test_auto_compile_purity_guard_end_to_end(spark):
    """A side-effectful-but-traceable reducer must NOT be auto-compiled (its
    per-group effects would silently vanish); it runs on the pandas path.
    Explicit compile=True opts into trace semantics and still compiles."""
    df = _li(spark)
    sink = []

    def impure(pdf):
        sink.append(len(pdf))  # external accumulation per group
        return {"k": pdf.k.iloc[0], "n": len(pdf)}

    out = transform(df, impure, schema="k:long,n:long", partition={"by": ["k"]})
    assert _py_stage(out), "auto-compile must refuse the impure reducer"
    expected = df.groupBy("k").count().count()
    assert out.count() == expected

    def pure(pdf):
        return {"k": pdf.k.iloc[0], "n": len(pdf)}

    assert not _py_stage(
        transform(df, pure, schema="k:long,n:long", partition={"by": ["k"]})
    ), "the pure twin must still auto-compile"

    # explicit opt-in bypasses the purity gate (documented trace semantics)
    forced = transform(
        df, impure, schema="k:long,n:long", partition={"by": ["k"]}, compile=True
    )
    assert not _py_stage(forced)
    assert sorted_rows(forced) == sorted_rows(out)


def test_unexpected_compile_failure_warns_auto_raises_explicit(spark, monkeypatch):
    """A non-TraceError out of the compiler is a defect: 'auto' must warn
    (not silently hide it) and fall back; compile=True must surface it."""
    import warnings

    import fugue_spark.compile as C

    def boom(*a, **k):
        raise RuntimeError("synthetic tracer defect")

    monkeypatch.setattr(C, "try_compile_aggregation", boom)
    df = _li(spark)

    def pure(pdf):
        return {"k": pdf.k.iloc[0], "n": len(pdf)}

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = transform(df, pure, schema="k:long,n:long", partition={"by": ["k"]})
        assert out.count() == df.select("k").distinct().count()
    assert any("auto-compile failed unexpectedly" in str(w.message) for w in rec)

    with pytest.raises(RuntimeError, match="synthetic tracer defect"):
        transform(
            df, pure, schema="k:long,n:long", partition={"by": ["k"]}, compile=True
        )


# ---------------- len() as a count leaf, one trace ----------------


def _groups_of_2_and_3(spark):
    return spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2, 2, 2], "q": [1.0, 2.0, 3.0, 4.0, 5.0]})
    )


@pytest.mark.parametrize("case", ["parity", "capped"])
def test_len_arithmetic_auto_matches_python_path(spark, case):
    """len(pdf) inside arithmetic or a builtin must give each group's own
    count: a constant standing in for it would give every group the same
    answer."""
    df = _groups_of_2_and_3(spark)

    def parity(pdf):
        return {"k": pdf.k.iloc[0], "p": len(pdf) % 2}

    def capped(pdf):
        return {"k": pdf.k.iloc[0], "c": min(len(pdf), 3)}

    fn, schema, want, compiles = {
        "parity": (parity, "k:long,p:long", [(1, 0), (2, 1)], True),
        # min() compares, so it branches on the count: Python path
        "capped": (capped, "k:long,c:long", [(1, 2), (2, 3)], False),
    }[case]
    auto = transform(df, fn, schema=schema, partition={"by": ["k"]})
    py = transform(df, fn, schema=schema, partition={"by": ["k"]}, compile=False)
    assert sorted_rows(py) == want
    assert sorted_rows(auto) == want
    assert _py_stage(auto) is not compiles


@pytest.mark.parametrize("case", ["equal", "difference"])
def test_cotransform_len_arithmetic_auto_matches_python_path(spark, case):
    from fugue_spark.cotransform import cotransform

    a = _groups_of_2_and_3(spark)
    b = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "r": [1.0, 2.0, 3.0]}))

    def equal(left, right):
        return {"k": left.k.iloc[0], "eq": len(left) == len(right)}

    def difference(left, right):
        return {"k": left.k.iloc[0], "d": len(left) - len(right)}

    fn, schema, want = {
        "equal": (equal, "k:long,eq:bool", [(1, True), (2, False)]),
        "difference": (difference, "k:long,d:long", [(1, 0), (2, 2)]),
    }[case]
    auto = cotransform([a, b], fn, schema=schema, how="inner")
    py = cotransform([a, b], fn, schema=schema, how="inner", compile=False)
    assert sorted_rows(py) == want
    assert sorted_rows(auto) == want
    assert not _py_stage(auto)


def test_len_composes_like_a_reduction_under_strict(spark):
    import pyarrow as pa

    df = _groups_of_2_and_3(spark)

    def mean_q(pdf):
        return {"k": pdf.k.iloc[0], "m": pdf.q.sum() / len(pdf)}

    def plus_one(pdf):
        return {"k": pdf.k.iloc[0], "n": len(pdf) + 1}

    def arrow_rows(t: pa.Table):
        return {"k": t.column("k")[0].as_py(), "n": t.num_rows * 2 - 1}

    for fn, schema in (
        (mean_q, "k:long,m:double"),
        (plus_one, "k:long,n:long"),
        (arrow_rows, "k:long,n:long"),
    ):
        part = {"by": ["k"]}
        strict = transform(df, fn, schema=schema, partition=part, compile="strict")
        py = transform(df, fn, schema=schema, partition=part, compile=False)
        assert not _py_stage(strict), fn.__name__
        assert sorted_rows(strict) == sorted_rows(py), fn.__name__


def test_strict_compile_traces_the_function_once(spark):
    from fugue_spark.cotransform import cotransform

    df = _groups_of_2_and_3(spark)
    calls = []

    def counted(pdf):
        calls.append("transform")
        return {"k": pdf.k.iloc[0], "n": len(pdf)}

    def counted_zip(left, right):
        calls.append("cotransform")
        return {"k": left.k.iloc[0], "n": len(left) + len(right)}

    transform(df, counted, schema="k:long,n:long", partition={"by": ["k"]}, compile="strict")
    cotransform([df, df], counted_zip, schema="k:long,n:long", how="inner", compile="strict")
    assert calls == ["transform", "cotransform"]


def test_len_out_of_the_rewriters_sight_falls_back(spark):
    """len() reached through a helper or a lambda cannot be rewritten: auto
    runs the Python path, strict names the limit."""
    df = _groups_of_2_and_3(spark)

    def _group_rows(pdf):
        return len(pdf)

    def via_helper(pdf):
        return {"k": pdf.k.iloc[0], "n": _group_rows(pdf)}

    via_lambda = lambda pdf: {"k": pdf.k.iloc[0], "n": len(pdf)}  # noqa: E731

    part = {"by": ["k"]}
    for fn in (via_helper, via_lambda):
        auto = transform(df, fn, schema="k:long,n:long", partition=part)
        py = transform(df, fn, schema="k:long,n:long", partition=part, compile=False)
        assert _py_stage(auto)
        assert sorted_rows(auto) == sorted_rows(py) == [(1, 2), (2, 3)]
        with pytest.raises(TraceError, match="direct call"):
            transform(df, fn, schema="k:long,n:long", partition=part, compile="strict")
