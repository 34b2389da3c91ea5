"""The trace compiler renders proxies as SQL text: constants, names and
operators must reach Catalyst exactly as ``F.lit`` / ``F.col`` / Column
operators would, and a trace sends no py4j command. Each rendering case
compares ``compile="strict"`` with the Python path (``compile=False``)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from fugue_spark.compile import TraceError
from fugue_spark.cotransform import cotransform
from fugue_spark.transform import transform


def _norm(v):
    # floats by repr, so NaN equals NaN and -0.0 differs from 0.0
    return repr(v) if isinstance(v, float) else v


def _rows(df):
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)


def _both(df, fn, schema, **kw):
    """Rows of the compiled plan (checked free of Python stages) and of
    the Python path."""
    compiled = transform(df, fn, schema=schema, compile="strict", **kw)
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
    return _rows(compiled), _rows(transform(df, fn, schema=schema, compile=False, **kw))


_STRINGS = ["it's", "back\\slash", "$1", "${spark.app.name}", "--", "\n", "naïve ☃"]


@pytest.mark.parametrize("c", _STRINGS)
def test_string_constants_render_exactly(spark, c):
    pdf = pd.DataFrame(
        {
            "id": range(8),
            "s": _STRINGS + ["cost $1 -- it's\n"],
            "t": [None, "x", None, "y", None, "z", None, "w"],
        }
    )
    df = spark.createDataFrame(pdf)

    def f(pdf):
        return pdf.assign(
            eq=pdf.s == c,
            has=pdf.s.str.contains(c, regex=False),
            rep=pdf.s.str.replace(c, "<" + c + ">"),
            filled=pdf.t.fillna(c),
        )

    got, want = _both(df, f, "id:long,eq:bool,has:bool,rep:str,filled:str")
    assert got == want
    assert sum(r[1] for r in got) == 1  # each constant equals one row


_FLOATS = [math.nan, math.inf, -math.inf, -0.0, 5e-324, 1e308]


@pytest.mark.parametrize("c", _FLOATS, ids=repr)
def test_float_constants_render_as_doubles(spark, c):
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "x": [1.5, None, -2.0]})
    )

    # per row, NaN stays out: x < NaN is true in SQL (NaN sorts last) and
    # false in pandas, and the Python path emits a NaN cell as NULL
    finite = c if c == c else 0.0

    def per_row(pdf):
        return pdf.assign(filled=pdf.x.fillna(finite), lt=pdf.x.fillna(0.0) < finite)

    got, want = _both(df, per_row, "k:long,filled:double,lt:bool")
    assert got == want

    def per_group(pdf):
        return {"k": pdf.k.iloc[0], "c": c, "m": pdf.x.max() * 0.5 + c}

    got, want = _both(df, per_group, "k:long,c:double,m:double", partition={"by": ["k"]})
    assert got == want
    assert {r[1] for r in got} == {repr(c)}


_INTS = [2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 2**63 - 1, -(2**63 - 1)]


@pytest.mark.parametrize("c", _INTS)
def test_int_constants_keep_int_and_bigint_typing(spark, c):
    df = spark.createDataFrame(pd.DataFrame({"n": [0] + _INTS}).astype("int64"))

    def f(pdf):
        return pdf.assign(eq=pdf.n == c, lt=pdf.n < c, cst=c)

    got, want = _both(df, f, "n:long,eq:bool,lt:bool,cst:long")
    assert got == want
    assert sum(r[1] for r in got) == 1


def test_negative_operand_and_empty_isin(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "x": [1, 2, 3]}))

    def per_row(pdf):
        return pdf.assign(d=pdf.x - -5, none=pdf.x.isin([]), some=pdf.x.isin([2, -5]))

    got, want = _both(df, per_row, "x:long,d:long,none:bool,some:bool")
    assert got == want == [(1, 6, False, False), (2, 7, False, True), (3, 8, False, False)]

    def per_group(pdf):
        return {"k": pdf.k.iloc[0], "s": (pdf.x - -5).sum(), "n": pdf.x.isin([]).sum()}

    got, want = _both(df, per_group, "k:long,s:long,n:long", partition={"by": ["k"]})
    assert got == want == [(1, 13, 0), (2, 8, 0)]


def test_odd_column_names_in_a_transform(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"the key": [1, 1, 2], "select": [1.0, 2.0, 4.0], "a`b": [5.0, 3.0, 7.0]})
    )

    def f(pdf):
        return {
            "k": pdf["the key"].iloc[0],
            "s": pdf["select"].sum(),
            "m": pdf["a`b"].max(),
        }

    got, want = _both(df, f, "k:long,s:double,m:double", partition={"by": ["the key"]})
    assert got == want == [(1, "3.0", "5.0"), (2, "4.0", "7.0")]


def test_variable_reference_in_a_column_name(spark):
    # the SQL parser substitutes ${...} even between backticks: an input
    # column runs under a safe alias, an output name cannot be rendered
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "${x}": [1.0, 2.0, 4.0]}))

    def f(pdf):
        return {"k": pdf.k.iloc[0], "s": pdf["${x}"].sum()}

    def g(pdf):
        return {"k": pdf.k.iloc[0], "${y}": pdf["${x}"].sum()}

    part = {"by": ["k"]}
    got, want = _both(df, f, "k:long,s:double", partition=part)
    assert got == want == [(1, "3.0"), (2, "4.0")]
    schema = "k:long,`${y}`:double"
    with pytest.raises(TraceError, match="holds"):
        transform(df, g, schema=schema, partition=part, compile="strict")
    out = transform(df, g, schema=schema, partition=part)
    assert out.columns == ["k", "${y}"] and _rows(out) == [(1, "3.0"), (2, "4.0")]


def test_reserved_column_names_in_cotransform_sides(spark):
    # zip sides keep their real names (identifiers only): reserved words
    left = spark.createDataFrame(pd.DataFrame({"order": [1, 1, 2], "select": [1.0, 2.0, 4.0]}))
    right = spark.createDataFrame(pd.DataFrame({"order": [1, 2, 2], "from": [5.0, 3.0, 7.0]}))

    def f(cursor, a, b):
        return {
            "k": cursor["order"],
            "s": a["select"].sum(),
            "m": b["from"].max() + a["select"].min(),
        }

    schema = "k:long,s:double,m:double"
    compiled = cotransform([left, right], f, schema=schema, how="inner", compile="strict")
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
    plain = cotransform([left, right], f, schema=schema, how="inner", compile=False)
    assert _rows(compiled) == _rows(plain) == [(1, "3.0", "6.0"), (2, "4.0", "11.0")]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_regex_patterns_under_escaped_string_literals(spark, escaped):
    pdf = pd.DataFrame(
        {
            "id": range(5),
            "s": ["a1b22", "x.y", "it's", "back\\slash", "  pad\t"],
        }
    )
    df = spark.createDataFrame(pdf)

    def f(pdf):
        return pdf.assign(
            digits=pdf.s.str.contains(r"\d+"),
            dot=pdf.s.str.contains(r"x\.y"),
            quote=pdf.s.str.contains("'s$"),
            slash=pdf.s.str.contains(r"\\"),
            hashed=pdf.s.str.replace(r"\d", "#", regex=True),
            stripped=pdf.s.str.strip(),
        )

    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        got, want = _both(
            df, f, "id:long,digits:bool,dot:bool,quote:bool,slash:bool,hashed:str,stripped:str"
        )
    finally:
        spark.conf.set(key, prev)
    assert got == want
    assert [r[1:5] for r in got] == [
        (True, False, False, False),
        (False, True, False, False),
        (False, False, True, False),
        (False, False, False, True),
        (False, False, False, False),
    ]
    assert got[0][5] == "a#b##" and got[4][6] == "pad"


# ---------------- py4j budget ----------------


@pytest.fixture
def py4j_scopes(monkeypatch, py4j_sent):
    """py4j commands sent inside the compiler's entry points and inside
    the trace itself."""
    import fugue_spark.compile as C

    scopes: dict[str, int] = {}
    for name, scope in (
        ("try_compile_aggregation", "compiler"),
        ("try_compile_cotransform", "compiler"),
        ("_trace", "trace"),
    ):

        def wrapped(*a, _fn=getattr(C, name), _scope=scope, **k):
            n0 = len(py4j_sent)
            try:
                return _fn(*a, **k)
            finally:
                scopes[_scope] = scopes.get(_scope, 0) + len(py4j_sent) - n0

        monkeypatch.setattr(C, name, wrapped)
    return scopes


# measured: q22 45 and q23 71 compiler commands (the Column-built proxies
# took 645 and 831); the bound leaves about half again as much headroom
@pytest.mark.parametrize(
    "query,budget", [("q22_transform_compiled", 68), ("q23_cotransform_compiled", 107)]
)
def test_compiler_py4j_budget(spark, sf_dir, py4j_scopes, query, budget):
    from fugue_spark.benchmarks import QUERIES

    fn = QUERIES[query].spark_fn
    fn(spark, sf_dir)  # warm: per-file schema inference is cached after this
    py4j_scopes.clear()
    fn(spark, sf_dir)
    assert py4j_scopes["trace"] == 0
    assert 0 < py4j_scopes["compiler"] <= budget, py4j_scopes
