"""Extension decorators / class forms / DataFrames container
(reference surface: fugue/extensions/*/convert.py decorators,
fugue/dataframe/dataframes.py, top-level fugue/__init__.py exports)."""

from __future__ import annotations

import pandas as pd
import pytest

import fugue_spark.api as fa
from fugue_spark.schema import parse_schema
from fugue_spark.sql import fsql


def rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def test_top_level_exports():
    import fugue_spark as fs

    for name in (
        "transformer", "cotransformer", "output_transformer", "creator",
        "processor", "outputter", "module", "DataFrames", "Transformer",
        "CoTransformer", "OutputTransformer", "Creator", "Processor",
        "Outputter", "DataFrame", "Schema", "make_execution_engine",
        "AnyDataFrame",
    ):
        assert getattr(fs, name) is not None, name
    # Schema("a:int") builds a real StructType
    st = fs.Schema("a:int,b:str")
    assert [f.name for f in st.fields] == ["a", "b"]


def test_dataframes_container(spark):
    from fugue_spark import DataFrames

    d1 = spark.createDataFrame([[1]], "a long")
    d2 = spark.createDataFrame([[2]], "a long")
    dfs = DataFrames(df1=d1, df2=d2)
    assert dfs[0] is d1 and dfs["df2"] is d2
    dfs2 = DataFrames([d1, d2])
    assert dfs2[1] is d2
    dfs3 = DataFrames(d1, d2)
    assert dfs3[0] is d1


def test_transformer_decorator(spark):
    from fugue_spark import transformer

    @transformer("a:int,doubled:int")
    def tf(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(doubled=pdf.a * 2)

    df = spark.createDataFrame([[1], [2]], parse_schema("a:int"))
    out = fa.transform(df, tf)  # no schema= needed: decorator attached it
    assert rows(out) == [(1, 2), (2, 4)]

    # validation rules attach and fire
    from fugue_spark import transformer as tr

    @tr("a:int", partitionby_has=["a"])
    def tf2(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["a"]]

    with pytest.raises(ValueError, match="partition keys"):
        fa.transform(df, tf2)
    assert rows(fa.transform(df, tf2, partition={"by": ["a"]})) == [(1,), (2,)]


def test_cotransformer_decorator(spark):
    from fugue_spark import cotransformer

    @cotransformer("k:long,n:long")
    def merge(cursor, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [cursor["k"]], "n": [len(a) + len(b)]})

    l = spark.createDataFrame([[1, 10], [2, 20]], parse_schema("k:long,x:long"))
    r = spark.createDataFrame([[1, 30]], parse_schema("k:long,y:long"))
    out = fa.cotransform([l, r], merge, partition={"by": ["k"]})
    assert rows(out) == [(1, 2)]


def test_output_transformer_class_and_decorator(spark, tmp_path):
    import os

    from fugue_spark import OutputTransformer, output_transformer

    marker = str(tmp_path)

    class OT(OutputTransformer):
        def process(self, df, n=0):
            import uuid

            with open(os.path.join(marker, f"c_{uuid.uuid4().hex}"), "w") as f:
                f.write(str(len(df) + n))

    fa.out_transform(
        spark.createDataFrame([[1], [2]], parse_schema("a:int")), OT, params={"n": 2}
    )
    assert len(os.listdir(marker)) >= 1

    @output_transformer()
    def ot_fn(pdf: pd.DataFrame) -> None:
        import uuid

        with open(os.path.join(marker, f"f_{uuid.uuid4().hex}"), "w") as f:
            f.write(str(len(pdf)))

    fa.out_transform(spark.createDataFrame([[1]], parse_schema("a:int")), ot_fn)
    assert any(f.startswith("f_") for f in os.listdir(marker))


def test_creator_processor_outputter_in_fsql(spark):
    from fugue_spark import DataFrames, creator, outputter, processor

    @creator("a:int")
    def make(spark_, n=2):
        # returns long; the attached creator schema coerces to int
        return spark_.createDataFrame([[n]], parse_schema("a:long"))

    @processor()
    def combine(dfs: DataFrames, n=0):
        tot = None
        for d in dfs.values():
            tot = d if tot is None else tot.unionAll(d)
        return tot

    seen = []

    @outputter()
    def sink(dfs: DataFrames):
        seen.append(sum(d.count() for d in dfs.values()))

    res = fsql(
        """
        a = create using make(n=1)
        b = create using make(n=2)
        both = process a, b using combine
        output both using sink
        yield dataframe as both
        """,
        spark=spark,
        functions={"make": make, "combine": combine, "sink": sink},
        fsql_ignore_case=True,
    )
    assert rows(res["both"]) == [(1,), (2,)]
    assert res["both"].schema["a"].dataType.simpleString() == "int"
    assert seen == [2]


def test_class_form_processor_outputter(spark):
    from fugue_spark import DataFrames, Outputter, Processor

    class Comb(Processor):
        def process(self, dfs: DataFrames):
            out = None
            for d in dfs.values():
                out = d if out is None else out.unionAll(d)
            return out

    counts = []

    class Sink(Outputter):
        def process(self, dfs: DataFrames) -> None:
            counts.append(sum(d.count() for d in dfs.values()))

    d1 = spark.createDataFrame([[1]], "a long")
    d2 = spark.createDataFrame([[2]], "a long")
    out = Comb()(d1, d2)
    assert rows(out) == [(1,), (2,)]
    Sink()(d1, d2)
    assert counts == [2]


def test_module_decorator(spark):
    from fugue_spark import module

    @module
    def pipeline(spark_, df):
        return df.selectExpr("a + 1 as a")

    assert getattr(pipeline, "__fugue_module__", False)
    res = fsql(
        """
        src = create [[1]] schema a:long
        out = sub src using pipeline
        yield dataframe as out
        """,
        spark=spark,
        functions={"pipeline": pipeline},
        fsql_ignore_case=True,
    )
    assert rows(res["out"]) == [(2,)]


def test_rpc_handler_surface():
    from fugue_spark import EmptyRPCHandler, RPCHandler, make_rpc_server, to_rpc_handler

    h = to_rpc_handler(lambda x: x + 1)
    assert isinstance(h, RPCHandler)
    with h as hh:
        assert hh(1) == 2
    assert isinstance(to_rpc_handler(None), EmptyRPCHandler)
    with pytest.raises(ValueError):
        to_rpc_handler(None)(1)
    assert to_rpc_handler(h) is h
    with pytest.raises(ValueError):
        to_rpc_handler(123)

    srv = make_rpc_server({})
    srv.register("f", lambda v: v * 2).start()
    try:
        assert srv.client("f")(21) == 42
    finally:
        srv.stop()


def test_register_extension_aliases(spark):
    from fugue_spark import register_transformer

    @register_transformer("reg_tf_r09")
    def tf(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(b=pdf.a + 1)

    res = fsql(
        """
        create [[1]] schema a:long
        transform using reg_tf_r09 schema a:long,b:long
        yield dataframe as out
        """,
        spark=spark,
        fsql_ignore_case=True,
    )
    assert rows(res["out"]) == [(1, 2)]


def test_fugue_sql_workflow(spark):
    """FugueSQLWorkflow (reference fugue/sql/workflow.py): calling the
    dag with a script defers it; frames/functions pass as variables;
    YIELDs land in the run result."""
    from fugue_spark import DataFrames, FugueSQLWorkflow, WorkflowDataFrames

    dag = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True})
    src = dag.df([[1], [2]], "a:long")

    def double(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(a=pdf.a * 2)

    dag(
        """
        out = transform src using double schema a:long
        yield dataframe as out
        """,
        src=src,
        double=double,
    )
    res = dag.run(spark)
    assert rows(res["out"]) == [(2,), (4,)]

    # WorkflowDataFrames resolve to a member-accessible collection
    dag2 = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True})
    pair = WorkflowDataFrames(lo=dag2.df([[1]], "a:long"), hi=dag2.df([[9]], "a:long"))
    assert isinstance(pair, DataFrames) and pair[0] is pair["lo"]
    dag2(
        """
        out = select * from pair[lo] union all select * from pair[hi]
        yield dataframe as out
        """,
        pair=pair,
    )
    res2 = dag2.run(spark)
    assert rows(res2["out"]) == [(1,), (9,)]


def test_fugue_sql_workflow_shared_scope(spark):
    """Multiple dag(...) blocks share frame scope, caller variables are
    visible by name, dict-positional variables allow dotted names
    (reference tests/fugue/sql/test_workflow.py:124-260)."""
    from fugue_spark import FugueSQLWorkflow

    with FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True}) as dag:
        a = dag.df([[0], [1]], "a:int")  # noqa: F841 - visible by capture
        dag("b = create [[0],[1]] schema a:int")
        dag(
            """
            u = select * from b union all select * from a
            yield dataframe as u
            """
        )
    res = dag.run(spark)
    assert sorted(rows(res["u"])) == [(0,), (0,), (1,), (1,)]

    # caller pandas variable + jinja param mix (ref test_use_param)
    df1 = pd.DataFrame([[7]], columns=["a"])  # noqa: F841
    x = 5  # noqa: F841
    dag2 = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True})
    dag2(
        """
        b = create [[{{x}}], [{{y}}]] schema a:long
        u2 = select * from b union all select a from df1
        yield dataframe as u2
        """,
        y=6,
    )
    res2 = dag2.run(spark)
    assert sorted(rows(res2["u2"])) == [(5,), (6,), (7,)]


def test_fugue_sql_workflow_lazy_capture(spark):
    """Capture is lazy by name: a caller local the script never references
    is neither retained by the deferred dag (weakref dies at scope exit)
    nor converted/loaded at run time, and cannot shadow a passed variable."""
    import gc
    import weakref

    from fugue_spark import FugueSQLWorkflow

    class _Big:
        pass

    def build():
        big = _Big()  # unreferenced by the script — must not be retained
        # a pandas frame Spark can't ingest: if capture were blanket, the
        # run-time to_df conversion would blow up
        bad_pdf = pd.DataFrame({"z": [object()]})  # noqa: F841
        dag = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True})
        dag("out = create [[1]] schema a:long\nyield dataframe as out")
        return dag, weakref.ref(big)

    dag, ref = build()
    gc.collect()
    assert ref() is None, "unreferenced caller local retained by deferred dag"
    assert rows(dag.run(spark)["out"]) == [(1,)]

    # explicit variables beat captured caller scope for the same name
    src = pd.DataFrame({"a": [111]})  # noqa: F841 - shadowed by kwarg below
    dag2 = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True})
    dag2(
        "out = select * from src\nyield dataframe as out",
        src=pd.DataFrame({"a": [7]}),
    )
    assert rows(dag2.run(spark)["out"]) == [(7,)]


def test_fugue_sql_workflow_strict_default(spark):
    """Reference parity (tests/fugue/sql/test_workflow.py:23-38): a bare
    FugueSQLWorkflow is strict — lowercase statements raise; the
    ignore_case compile conf opts in, in either bool or string form."""
    from fugue_spark import FugueSQLWorkflow
    from fugue_spark.sql import FugueSQLError

    dag = FugueSQLWorkflow()
    dag("create [[0]] schema a:int")
    with pytest.raises(FugueSQLError, match="UPPERCASE"):
        dag.run(spark)

    dag2 = FugueSQLWorkflow({"fugue.sql.compile.ignore_case": "true"})
    dag2("out = create [[0]] schema a:int\nyield dataframe as out")
    assert rows(dag2.run(spark)["out"]) == [(0,)]

    dag3 = FugueSQLWorkflow()
    dag3("out = CREATE [[1]] SCHEMA a:int\nYIELD DATAFRAME AS out")
    assert rows(dag3.run(spark)["out"]) == [(1,)]


def test_fsql_dotted_variable_names(spark):
    """fsql(sql, {"a.x": df}) — dotted names resolve in table position
    (reference tests/fugue/sql/test_workflow.py:184-199)."""
    arr = spark.createDataFrame([[0], [1]], parse_schema("a:int"))
    res = fsql(
        """
        b = create [[0], [1]] schema a:int
        q1 = select * from a.x
        yield dataframe as q1
        q2 = select x.* from a.x AS x
        yield dataframe as q2
        q3 = select x.*, y.a AS b from a.x x INNER JOIN a.x y ON x.a = y.a
        yield dataframe as q3
        """,
        {"a.x": arr},
        spark=spark,
        fsql_ignore_case=True,
    )
    assert rows(res["q1"]) == [(0,), (1,)]
    assert rows(res["q2"]) == [(0,), (1,)]
    assert rows(res["q3"]) == [(0, 0), (1, 1)]


def test_local_instance_as_extension(spark):
    """USING obj.method / self.method — instance attributes resolve
    through the captured caller object (reference
    tests/fugue/sql/test_workflow.py:311-338)."""
    from fugue_spark import FugueSQLWorkflow

    class _Mock:
        # schema: *
        def t(self, df: pd.DataFrame) -> pd.DataFrame:
            return df

        def run_inner(self, spark_):
            with FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True}) as dag:
                dag(
                    """
                a = create [[0],[1]] schema a:int
                b = transform using self.t
                yield dataframe as b
                """
                )
            return dag.run(spark_)

    m = _Mock()
    assert rows(m.run_inner(spark)["b"]) == [(0,), (1,)]

    with FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True}) as dag:
        dag(
            """
        a = create [[0],[1]] schema a:int
        b = transform using m.t
        yield dataframe as b
        """
        )
    assert rows(dag.run(spark)["b"]) == [(0,), (1,)]


def test_callback_instance_method(spark):
    """CALLBACK obj.method (reference test_workflow.py:341-368): worker
    callbacks route to the driver-side instance method; PERSIST postfix
    keeps the transform from recomputing."""
    from fugue_spark import FugueSQLWorkflow

    class CB:
        def __init__(self):
            self.n = 0

        def incr(self, n):
            self.n += n
            return self.n

    cb = CB()

    # schema: *
    def t(df: pd.DataFrame, callback=None) -> pd.DataFrame:
        callback(1.0)
        return df

    with FugueSQLWorkflow({"fugue.sql.compile.ignore_case": True}) as dag:
        dag(
            """
        a = create [[0],[1],[1]] schema a:int
        transform prepartition by a using t callback cb.incr persist
        """
        )
    dag.run(spark)
    assert cb.n == 2  # two a-groups, one callback each
