"""FugueSQL-layer tests — one per statement family, modeled on the
reference's tests/fugue/sql/test_workflow_parse.py coverage list."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from fugue_spark.schema import parse_schema
from fugue_spark.sql import FugueSQLError, fsql
from fugue_spark.sql.tokenizer import split_statements


def rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def test_split_statements_boundaries():
    s = """
    a = LOAD PARQUET "x.parquet"
    b = SELECT col1, col2
    FROM a
    WHERE col1 > 2
    PRINT 3 ROWS
    """
    stmts = split_statements(s)
    assert len(stmts) == 3
    assert stmts[1][0].value == "b"
    assert [t.value for t in stmts[2][:2]] == ["PRINT", "3"]


def test_union_not_split():
    s = "SELECT a FROM t\nUNION\nSELECT a FROM u"
    assert len(split_statements(s)) == 1


def test_assignment_after_raw_sql_is_boundary():
    """``x = SELECT …`` followed by ``y = DROP ROWS …`` is two statements
    (reference grammar: any statement can be assigned); a keyword-RHS
    assignment at a line start terminates the raw SQL. Plain ``a = 5``
    lines inside SQL still continue it."""
    s = "p = SELECT a, b FROM t\nWHERE a = 5\nclean = DROP ROWS IF ANY NULLS ON b FROM p"
    stmts = split_statements(s)
    assert len(stmts) == 2
    assert stmts[1][0].value == "clean"
    # lowercase RHS keyword is NOT a boundary in strict mode
    s2 = "p = SELECT a FROM t\nclean = drop ROWS IF ANY NULLS ON b FROM p"
    assert len(split_statements(s2, ignore_case=False)) == 1


def test_create_and_select(spark):
    res = fsql(
        """
        src = CREATE [[1, "a"], [2, "b"], [3, "c"]] SCHEMA x:long,s:str
        big = SELECT x, s FROM src WHERE x >= 2
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    assert rows(res["out"]) == [(2, "b"), (3, "c")]


def test_fromless_select(spark):
    res = fsql(
        """
        CREATE [[1], [2], [3]] SCHEMA x:long
        SELECT x WHERE x > 1
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    assert rows(res["out"]) == [(2,), (3,)]


def test_load_save_roundtrip(spark, tmp_path):
    p = os.path.join(str(tmp_path), "t.parquet")
    res = fsql(
        f"""
        CREATE [[1, "x"], [2, "y"]] SCHEMA a:long,b:str
        SAVE OVERWRITE "{p}"
        back = LOAD PARQUET "{p}" COLUMNS a
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    assert rows(res["out"]) == [(1,), (2,)]


def test_transform_with_schema_and_prepartition(spark):
    def head1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.head(1)

    res = fsql(
        """
        CREATE [["a", 3], ["a", 1], ["b", 9], ["b", 7]] SCHEMA k:str,v:long
        TRANSFORM PREPARTITION BY k PRESORT v DESC USING head1 SCHEMA *
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"head1": head1},
    )
    assert rows(res["out"]) == [("a", 3), ("b", 9)]


def test_transform_zipped(spark):
    def merge(cursor, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [cursor["k"]], "n": [len(a) + len(b)]})

    res = fsql(
        """
        l = CREATE [[1, 10], [2, 20]] SCHEMA k:long,x:long
        r = CREATE [[1, 30], [1, 40]] SCHEMA k:long,y:long
        ZIP l, r BY k
        TRANSFORM USING merge SCHEMA k:long,n:long
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"merge": merge},
    )
    assert rows(res["out"]) == [(1, 3)]


def test_df_member_access(spark):
    """df[idx] / df[key] on collection variables (reference
    fugue/sql/_visitors.py:363-389): module outputs and passed-in dicts."""
    import fugue_spark.api as fa

    def splitter(spark_, df):
        return {"low": df.filter("x < 15"), "high": df.filter("x >= 15")}

    res = fsql(
        """
        src = CREATE [[10], [20], [30]] SCHEMA x:long
        parts = MODULE src USING splitter
        low2 = SELECT x + 1 AS x FROM parts['low']
        YIELD DATAFRAME AS lo
        TRANSFORM parts[1] USING shift SCHEMA x:long
        YIELD DATAFRAME AS hi
        """,
        spark=spark,
        functions={
            "splitter": splitter,
            "shift": lambda pdf: pdf.assign(x=pdf.x * 10),
        },
    )
    assert sorted(rows(res["lo"])) == [(11,)]
    assert sorted(rows(res["hi"])) == [(200,), (300,)]


def test_df_member_access_from_python(spark):
    d1 = spark.createDataFrame([[1]], "a long")
    d2 = spark.createDataFrame([[2]], "a long")
    res = fsql(
        """
        out = SELECT * FROM pair[0] UNION ALL SELECT * FROM pair[1]
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        pair=[d1, d2],
    )
    assert sorted(rows(res["out"])) == [(1,), (2,)]


def test_df_member_access_errors(spark):
    d1 = spark.createDataFrame([[1]], "a long")
    with pytest.raises(FugueSQLError, match="index or key"):
        fsql("PRINT FROM pair", spark=spark, pair=[d1, d1])
    with pytest.raises(FugueSQLError, match="index or key"):
        fsql("x = CREATE [[1]] SCHEMA a:long\nPRINT FROM x[0]", spark=spark)


def test_transform_zipped_cross(spark):
    def combine(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"na": [len(a)], "nb": [len(b)]})

    res = fsql(
        """
        l = CREATE [[1, 10], [2, 20], [3, 30]] SCHEMA k:long,x:long
        r = CREATE [[1.5], [2.5]] SCHEMA z:double
        ZIP l, r CROSS
        TRANSFORM USING combine SCHEMA na:long,nb:long
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"combine": combine},
    )
    assert rows(res["out"]) == [(3, 2)]


def test_process_and_output(spark):
    seen = []

    def double(df):
        return df.selectExpr("x * 2 AS x")

    def capture(df):
        seen.append(df.count())

    res = fsql(
        """
        CREATE [[1], [2]] SCHEMA x:long
        PROCESS USING double
        OUTPUT USING capture
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"double": double, "capture": capture},
    )
    assert rows(res["out"]) == [(2,), (4,)]
    assert seen == [2]


def test_schema_clause_aligns_by_name(spark):
    """A declared SCHEMA whose names all exist in the extension output must
    align BY NAME (reference pandas_dataframe._apply_schema selects
    pdf[schema.names]) — an out-of-order return must not be relabeled."""

    def reordered(spark_):
        return spark_.createDataFrame([(10, "a")], "v long, k string")

    res = fsql(
        """
        CREATE USING reordered SCHEMA k:str,v:long
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"reordered": reordered},
    )
    out = res["out"]
    assert out.columns == ["k", "v"]
    assert rows(out) == [("a", 10)]

    # disjoint names -> positional rename+cast (the rename form) still works
    def fresh(spark_):
        return spark_.createDataFrame([(1, 2)], "a long, b long")

    res2 = fsql(
        "CREATE USING fresh SCHEMA x:long,y:long\nYIELD DATAFRAME AS out",
        spark=spark,
        functions={"fresh": fresh},
    )
    assert res2["out"].columns == ["x", "y"]
    assert rows(res2["out"]) == [(1, 2)]


def test_frame_statements(spark):
    res = fsql(
        """
        src = CREATE [[1, 2.0, "x"], [2, NULL, "y"], [3, 4.0, NULL]] SCHEMA a:long,b:double,c:str
        full = DROP ROWS IF ANY NULLS FROM src
        filled = FILL NULLS PARAMS b:0.0, c:"?" FROM src
        renamed = RENAME COLUMNS a:id FROM filled
        altered = ALTER COLUMNS id:str FROM renamed
        dropped = DROP COLUMNS b FROM altered
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    out = res["out"]
    assert out.columns == ["id", "c"]
    assert rows(out) == [("1", "x"), ("2", "y"), ("3", "?")]


def test_sample_take(spark):
    res = fsql(
        """
        src = CREATE [["a", 1], ["a", 2], ["b", 5], ["b", 3]] SCHEMA k:str,v:long
        t = TAKE 1 ROW FROM src PREPARTITION BY k PRESORT v DESC
        YIELD DATAFRAME AS top
        s = SAMPLE 50 PERCENT SEED 0 FROM src
        YIELD DATAFRAME AS sampled
        """,
        spark=spark,
    )
    assert rows(res["top"]) == [("a", 2), ("b", 5)]
    assert len(res["sampled"].collect()) <= 4


def test_broadcast_persist_checkpoint(spark):
    res = fsql(
        """
        CREATE [[1]] SCHEMA x:long
        PERSIST
        CHECKPOINT
        BROADCAST
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    assert rows(res["out"]) == [(1,)]


def test_yield_file(spark, tmp_path):
    res = fsql(
        """
        CREATE [[7]] SCHEMA x:long
        YIELD FILE AS f
        """,
        spark=spark,
        yield_dir=str(tmp_path),
    )
    assert os.path.exists(res["f"])
    assert rows(spark.read.parquet(res["f"])) == [(7,)]


def test_yield_file_reuse_and_string_source_rules(spark, tmp_path):
    """YieldedFile results load as sources in a later script; an arbitrary
    string that names an existing dir is NOT loaded; a not-yet-existing
    .parquet string stays a string (it may be a SAVE destination); an
    existing data-file string used only as a {{template}} is never loaded; a
    tagged YieldedFile that fails to load raises instead of passing."""
    from fugue_spark.sql import YieldedFile

    res = fsql(
        "CREATE [[7]] SCHEMA x:long\nYIELD FILE AS f",
        spark=spark,
        yield_dir=str(tmp_path),
    )
    assert isinstance(res["f"], YieldedFile)
    res2 = fsql(
        "SELECT x FROM f WHERE x > 1\nYIELD DATAFRAME AS out",
        spark=spark,
        f=res["f"],
    )
    assert rows(res2["out"]) == [(7,)]

    # existing-dir string: never loaded, script runs untouched by it
    res3 = fsql(
        "CREATE [[1]] SCHEMA x:long\nYIELD DATAFRAME AS out",
        spark=spark,
        note=str(tmp_path),
    )
    assert rows(res3["out"]) == [(1,)]

    # save-destination pattern: nonexistent .parquet stays a plain string
    dest = os.path.join(str(tmp_path), "dest_out.parquet")
    res4 = fsql(
        'CREATE [[3]] SCHEMA x:long\nSAVE OVERWRITE "{{dest}}"',
        spark=spark,
        dest=dest,
    )
    assert rows(spark.read.parquet(dest)) == [(3,)]

    # template-only path: an existing but unreadable .parquet file that the
    # script names only as {{src}} is substituted, never loaded as a source
    bad = tmp_path / "not_parquet.parquet"
    bad.write_text("not a parquet file")
    res5 = fsql(
        "a = CREATE [[5]] SCHEMA x:long\n"
        "SELECT x, '{{src}}' AS p FROM a\nYIELD DATAFRAME AS out",
        spark=spark,
        src=str(bad),
    )
    assert rows(res5["out"]) == [(5, str(bad))]

    # a broken tagged path is a real error, not a silent pass
    with pytest.raises(Exception):
        fsql(
            "SELECT x FROM g\nYIELD DATAFRAME AS out",
            spark=spark,
            g=YieldedFile(os.path.join(str(tmp_path), "missing.parquet")),
        )


def test_dialect_transpile_hook(spark, monkeypatch):
    """dialect= transpiles raw-SQL bodies to Spark SQL before Catalyst
    (reference fugue/collections/sql.py:33-56): wiring is tested with a
    stub sqlglot (the real one is an optional dependency); absence of
    sqlglot raises a clean error naming it; CONNECT <dialect>: scopes the
    dialect to one statement while other engine names stay ignored."""
    import sys
    import types

    from fugue_spark.sql import transpile_sql

    df = spark.createDataFrame(pd.DataFrame({"k": ["a", "a", "b"], "v": [1, 3, 5]}))
    duck_sql = "SELECT k, v FROM df QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) = 1"

    calls = []

    def fake_transpile(sql, read=None, write=None):
        calls.append((sql, read, write))
        # what real sqlglot emits for QUALIFY when writing spark SQL
        return [
            "SELECT k, v FROM (SELECT k, v, ROW_NUMBER() OVER "
            "(PARTITION BY k ORDER BY v DESC) AS _w FROM df) WHERE _w = 1"
        ]

    stub = types.ModuleType("sqlglot")
    stub.transpile = fake_transpile
    monkeypatch.setitem(sys.modules, "sqlglot", stub)

    res = fsql(
        duck_sql + "\nYIELD DATAFRAME AS out",
        spark, df=df, dialect="duckdb",
    )
    assert rows(res["out"]) == [("a", 3), ("b", 5)]
    assert calls and calls[0][1:] == ("duckdb", "spark")

    # CONNECT with a dialect spec scopes it to that statement
    calls.clear()
    res2 = fsql(
        "CONNECT duckdb " + duck_sql + "\nYIELD DATAFRAME AS out\n"
        "SELECT k, v FROM df WHERE v = 1\nYIELD DATAFRAME AS plain",
        spark, df=df,
    )
    assert rows(res2["out"]) == [("a", 3), ("b", 5)]
    assert rows(res2["plain"]) == [("a", 1)]
    assert len(calls) == 1  # only the CONNECT'd statement transpiled

    # spark/None dialects are no-ops without importing anything
    assert transpile_sql("SELECT 1", None) == "SELECT 1"
    assert transpile_sql("SELECT 1", "spark") == "SELECT 1"

    # raw_sql dialect= goes through the same hook
    import fugue_spark.api as fa

    calls.clear()
    out3 = fa.raw_sql(
        "SELECT k, v FROM", df,
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) = 1",
        spark=spark, dialect="duckdb",
    )
    # the stub rewrites to the fixed 'df' query; only the invocation matters
    assert calls and calls[0][1:] == ("duckdb", "spark")
    assert out3.columns == ["k", "v"]

    # absent sqlglot -> clean, actionable error
    monkeypatch.setitem(sys.modules, "sqlglot", None)
    with pytest.raises(FugueSQLError, match="sqlglot"):
        fsql(duck_sql + "\nYIELD DATAFRAME AS out", spark, df=df, dialect="duckdb")


def test_jinja_and_df_variables(spark):
    src = spark.createDataFrame([[1], [5]], parse_schema("x:long"))
    res = fsql(
        """
        SELECT x FROM mydf WHERE x > {{threshold}}
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        mydf=src,
        threshold=2,
    )
    assert rows(res["out"]) == [(5,)]


def test_errors(spark):
    with pytest.raises(FugueSQLError):
        fsql("TRANSFORM USING nope.nope", spark=spark)
    with pytest.raises(FugueSQLError):
        fsql("SELECT x WHERE x > 1", spark=spark)  # FROM-less without prev
    with pytest.raises(FugueSQLError):
        fsql("CREATE [[1]] SCHEMA x:long\nTRANSFORM USING missing_fn SCHEMA *", spark=spark)


def test_deterministic_checkpoint_statement(spark, tmp_path):
    from fugue_spark.workflow import set_checkpoint_dir

    set_checkpoint_dir(str(tmp_path))
    res = fsql(
        """
        CREATE [[1], [2]] SCHEMA x:long
        DETERMINISTIC CHECKPOINT
        YIELD DATAFRAME AS out
        """,
        spark=spark,
    )
    assert rows(res["out"]) == [(1,), (2,)]
    # raw driver data has no plan-derivable determinism key (the reference
    # needs an explicit data_determiner for df() creations) — it degrades
    # to a per-run strong checkpoint, never a cross-run ckpt_ file
    assert [f for f in os.listdir(str(tmp_path)) if f.startswith("ckpt_")] == []
    assert [f for f in os.listdir(str(tmp_path)) if f.startswith("run_")]


def test_checkpoint_kinds_semantics(spark, tmp_path):
    # the three checkpoint kinds (reference workflow.py:889/908 +
    # _checkpoint.py): weak = persist (lineage intact, nothing on disk);
    # strong = run-scoped file (lineage broken, NOT reused across calls);
    # deterministic = plan-keyed file (reused for the same plan)
    import contextlib
    import io

    from fugue_spark.workflow import (
        deterministic_checkpoint,
        set_checkpoint_dir,
        strong_checkpoint,
        weak_checkpoint,
    )

    set_checkpoint_dir(str(tmp_path))
    df = spark.createDataFrame([[1], [2]], parse_schema("x:long"))

    def plan_of(d):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("extended")
        return buf.getvalue()

    # weak: no files written, lineage (original LocalRelation/scan) intact
    w = weak_checkpoint(df)
    assert os.listdir(str(tmp_path)) == []
    assert "InMemoryRelation" in plan_of(w) or "InMemoryTableScan" in plan_of(w)

    # strong: breaks lineage to a run-scoped parquet; a second call on the
    # SAME plan writes a NEW file (no cross-call reuse)
    s1 = strong_checkpoint(df)
    s2 = strong_checkpoint(df)
    assert rows(s1) == [(1,), (2,)] and rows(s2) == [(1,), (2,)]
    run_dirs = [f for f in os.listdir(str(tmp_path)) if f.startswith("run_")]
    assert len(run_dirs) == 1
    strongs = os.listdir(os.path.join(str(tmp_path), run_dirs[0]))
    assert len(strongs) == 2
    assert "parquet" in plan_of(s1).lower() and "InMemoryRelation" not in plan_of(s1)

    # deterministic on raw driver data: no plan-derivable key (reference
    # df() needs a data_determiner) -> degrades to per-run strong; two
    # LOCAL frames with different data must never share a cache entry
    d1 = deterministic_checkpoint(df)
    other = spark.createDataFrame([[7], [8]], parse_schema("x:long"))
    d2 = deterministic_checkpoint(other)
    assert rows(d1) == [(1,), (2,)] and rows(d2) == [(7,), (8,)]
    assert [f for f in os.listdir(str(tmp_path)) if f.startswith("ckpt_")] == []

    # deterministic on a file-backed plan: same plan -> ONE ckpt_ file,
    # second call reloads it instead of recomputing
    src = os.path.join(str(tmp_path), "src.parquet")
    df.write.parquet(src)
    f1 = deterministic_checkpoint(spark.read.parquet(src).filter("x > 1"))
    f2 = deterministic_checkpoint(spark.read.parquet(src).filter("x > 1"))
    assert rows(f1) == [(2,)] and rows(f2) == [(2,)]
    ckpts = [f for f in os.listdir(str(tmp_path)) if f.startswith("ckpt_")]
    assert len(ckpts) == 1


def test_plan_signature_collision_classes(spark, tmp_path):
    """plan_signature must distinguish plans a naive exprId-strip conflates:
    string literals that LOOK like exprIds, which side of a self-join a
    column came from, and two same-schema files at different paths (the
    canonicalized plan text omits relation locations entirely)."""
    import pyspark.sql.functions as F

    from fugue_spark.workflow import plan_signature

    src = os.path.join(str(tmp_path), "sig_src.parquet")
    spark.createDataFrame(
        [["#1", 1], ["#2", 2]], parse_schema("s:str,v:long")
    ).write.parquet(src)
    df = spark.read.parquet(src)

    # literal '#1' vs '#2' (plan text prints string literals bare)
    assert plan_signature(df.filter(F.col("s") == "#1")) != plan_signature(
        df.filter(F.col("s") == "#2")
    )

    # self-join: selecting left.v vs right.v are different plans
    j = df.alias("l").join(df.alias("r"), F.col("l.s") == F.col("r.s"))
    assert plan_signature(j.select(F.col("l.v"))) != plan_signature(
        j.select(F.col("r.v"))
    )

    # same schema, different file -> different signature
    src2 = os.path.join(str(tmp_path), "sig_src2.parquet")
    spark.createDataFrame(
        [["a", 9]], parse_schema("s:str,v:long")
    ).write.parquet(src2)
    assert plan_signature(spark.read.parquet(src)) != plan_signature(
        spark.read.parquet(src2)
    )

    # different output names (canonicalization erases Alias names; the
    # schema is hashed back in so a reloaded checkpoint keeps right names)
    assert plan_signature(df.select(F.col("v").alias("x"))) != plan_signature(
        df.select(F.col("v").alias("y"))
    )

    # stability: rebuilding the identical plan (fresh exprIds) hashes equal
    assert plan_signature(spark.read.parquet(src).filter("v > 1")) == plan_signature(
        spark.read.parquet(src).filter("v > 1")
    )

    # raw driver data still has no key
    local = spark.createDataFrame([[1]], parse_schema("x:long"))
    assert plan_signature(local) is None


def test_module_statement(spark):
    def double_and_filter(spark_, df, min_x=0):
        return df.selectExpr("x * 2 AS x").where(f"x >= {min_x}")

    res = fsql(
        """
        CREATE [[1], [2], [3]] SCHEMA x:long
        MODULE USING dbl (min_x=4)
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"dbl": double_and_filter},
    )
    assert rows(res["out"]) == [(4,), (6,)]


def test_plan_utilities(spark):
    from fugue_spark.plans import (
        broadcast_join_count,
        has_exchange,
        pushed_filters,
        read_schema_columns,
        wholestage_codegen_spans,
    )
    from fugue_spark.benchmarks import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    q = li.filter("l_quantity < 10").select("l_orderkey", "l_quantity")
    assert any("l_quantity" in f for f in pushed_filters(q))
    assert set(read_schema_columns(q)) == {"l_orderkey", "l_quantity"}
    assert not has_exchange(q)
    assert wholestage_codegen_spans(q) >= 1
    import fugue_spark.api as fa

    small = load_table(spark, "/root/testdata/sf0.001", "nation")
    j = li.withColumnRenamed("l_suppkey", "n_nationkey").join(
        fa.broadcast(small), "n_nationkey"
    )
    assert broadcast_join_count(j) == 1


def test_transform_compiled_keyword(spark):
    """TRANSFORM COMPILED runs the statement through the aggregation
    trace-compiler (strict): reducer functions execute as native
    groupBy().agg; untraceable ones are a script error."""

    def summarize(pdf: pd.DataFrame):
        return {"k": pdf.k.iloc[0], "n": len(pdf), "s": pdf.v.sum()}

    res = fsql(
        """
        CREATE [["a", 3], ["a", 1], ["b", 9]] SCHEMA k:str,v:long
        TRANSFORM COMPILED PREPARTITION BY k USING summarize SCHEMA k:str,n:long,s:long
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"summarize": summarize},
    )
    assert rows(res["out"]) == [("a", 2, 4), ("b", 1, 9)]

    def untraceable(pdf: pd.DataFrame):
        # .tolist() materializes — no Catalyst equivalent
        return {"k": pdf.k.iloc[0], "n": sum(pdf.v.tolist())}

    from fugue_spark.compile import TraceError

    with pytest.raises(TraceError):
        fsql(
            """
            CREATE [["a", 3]] SCHEMA k:str,v:long
            TRANSFORM COMPILED PREPARTITION BY k USING untraceable SCHEMA k:str,n:long
            YIELD DATAFRAME AS out
            """,
            spark=spark,
            functions={"untraceable": untraceable},
        )


def test_transform_compiled_zipped(spark):
    def merge(cursor, a: pd.DataFrame, b: pd.DataFrame):
        return {"k": cursor["k"], "n": len(a) + len(b)}

    res = fsql(
        """
        l = CREATE [[1, 10], [2, 20]] SCHEMA k:long,x:long
        r = CREATE [[1, 30], [1, 40]] SCHEMA k:long,y:long
        ZIP l, r BY k
        TRANSFORM COMPILED USING merge SCHEMA k:long,n:long
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        functions={"merge": merge},
    )
    assert rows(res["out"]) == [(1, 3)]


def test_transform_compiled_map_shape_in_sql(spark):
    """TRANSFORM COMPILED with a filter/assign-shaped function compiles to
    a native filter/select inside a FugueSQL script."""
    import pandas as pd

    from fugue_spark.sql import fsql

    def keep_pos(pdf: pd.DataFrame) -> pd.DataFrame:
        kept = pdf[pdf.v > 0]
        return kept.assign(double_v=kept.v * 2)

    src = spark.createDataFrame(
        [[1, -1.0], [2, 2.0], [3, 3.0]], parse_schema("id:long,v:double")
    )
    res = fsql(
        """
        out = TRANSFORM src USING keep_pos SCHEMA id:long,v:double,double_v:double
        YIELD DATAFRAME AS out
        """.replace("TRANSFORM", "TRANSFORM COMPILED"),
        spark=spark,
        src=src,
        functions={"keep_pos": keep_pos},
    )["out"]
    assert sorted(tuple(r) for r in res.collect()) == [(2, 2.0, 4.0), (3, 3.0, 6.0)]
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Exchange" not in plan


def test_select_nested_statements(spark):
    """Nested fugue statements as table sources (reference
    tests/fugue/sql/test_workflow_parse.py:337-357 test_select_nested):
    (CREATE …) after FROM/JOIN, aliased, and inside a plain subquery."""

    def mk(spark_, n=0):
        return spark_.createDataFrame([[n]], "a long")

    res = fsql(
        """
        out1 = SELECT * FROM (CREATE USING mk(n=7))
        YIELD DATAFRAME AS o1
        out2 = SELECT bb.a FROM (CREATE USING mk(n=8)) AS bb
        YIELD DATAFRAME AS o2
        out3 = SELECT * FROM (SELECT * FROM (CREATE USING mk(n=9)))
        YIELD DATAFRAME AS o3
        out4 = SELECT x.a, y.a AS b FROM (CREATE USING mk(n=1)) AS x
               JOIN (CREATE USING mk(n=1)) AS y ON x.a = y.a
        YIELD DATAFRAME AS o4
        out5 = SELECT * FROM (CREATE [[1],[2],[3]] SCHEMA a:long) WHERE a > 1
        YIELD DATAFRAME AS o5
        """,
        spark=spark,
        functions={"mk": mk},
    )
    assert rows(res["o1"]) == [(7,)]
    assert rows(res["o2"]) == [(8,)]
    assert rows(res["o3"]) == [(9,)]
    assert rows(res["o4"]) == [(1, 1)]
    assert rows(res["o5"]) == [(2,), (3,)]


def test_select_nested_does_not_touch_last_or_sql_words(spark):
    """A nested task is an expression: `last` (the FROM-less source) is the
    statement's own result chain, not the nested create; and parens NOT in
    table-source position never trigger nested parsing even when the first
    word is a statement keyword (WHERE (sample > 0) is plain SQL)."""
    res = fsql(
        """
        base = SELECT 1 AS x, 2 AS sample FROM (CREATE [[1]] SCHEMA seed:long);
        a = SELECT * FROM (CREATE [[5]] SCHEMA v:long);
        b = SELECT v + 1 AS v
        YIELD DATAFRAME AS b
        c = SELECT x FROM base WHERE (sample > 0)
        YIELD DATAFRAME AS c
        """,
        spark=spark,
    )
    assert rows(res["b"]) == [(6,)]  # FROM-less reads a, not the nested frame
    assert rows(res["c"]) == [(1,)]


def test_select_nested_errors(spark):
    # PRINT produces no frame — a nested occurrence must be rejected
    with pytest.raises(FugueSQLError, match="nested|dataframe"):
        fsql(
            """
            base = CREATE [[1]] SCHEMA x:long
            SELECT * FROM (PRINT base)
            """,
            spark=spark,
        )


def test_process_with_timeseries_operators(spark):
    """The engine's time-series operators plug into FugueSQL as PROCESS
    extensions — asof_join straight from a script."""
    from fugue_spark.operators import asof_join

    res = fsql(
        """
        trades = CREATE [[1, 10, 100.0], [1, 25, 101.0]] SCHEMA k:long,t:long,px:double
        quotes = CREATE [[1, 8, 99.5], [1, 20, 100.5], [1, 30, 102.0]] SCHEMA k:long,t:long,bid:double
        j = PROCESS trades, quotes USING asof(on="t", by="k")
        YIELD DATAFRAME AS j
        """,
        spark=spark,
        functions={"asof": lambda a, b, **kw: asof_join(a, b, **kw)},
    )
    rows = {(r.k, r.t): (r.r_bid, r.r_t) for r in res["j"].collect()}
    assert rows == {(1, 10): (99.5, 8), (1, 25): (100.5, 20)}


def test_select_nested_two_level_with_member_access(spark):
    """r06-VERDICT grammar-corner closure: TWO-level nested sub-statements
    (a nested TRANSFORM whose own source is a nested CREATE) combined with
    df[key] member access as a join side (reference
    fugue/sql/_visitors.py:363,397 composition forms)."""

    def splitter(spark_, df):
        return {"low": df.filter("x < 15"), "high": df.filter("x >= 15")}

    res = fsql(
        """
        src = CREATE [[10], [20], [30]] SCHEMA x:long
        parts = MODULE src USING splitter
        two = SELECT * FROM (TRANSFORM (CREATE [[1],[2]] SCHEMA x:long) USING shift SCHEMA x:long) WHERE x > 10
        YIELD DATAFRAME AS two
        j = SELECT a.x, b.x AS y FROM parts['high'] AS a
            JOIN (SELECT * FROM (CREATE [[20],[99]] SCHEMA x:long)) AS b ON a.x = b.x
        YIELD DATAFRAME AS j
        """,
        spark=spark,
        functions={
            "splitter": splitter,
            "shift": lambda pdf: pdf.assign(x=pdf.x * 10),
        },
    )
    assert sorted(rows(res["two"])) == [(20,)]
    assert sorted(rows(res["j"])) == [(20, 20)]


def test_nested_df_ref_names_do_not_leak(spark):
    """r07 review fix: internal __fugue_nested_ref_N__ bindings are purged
    after their statement — later statements cannot resolve them."""
    # the internal name is unresolvable afterwards (falls through to the
    # catalog, which doesn't have it → Spark analysis error)
    with pytest.raises(Exception, match="__fugue_nested_ref_1__"):
        fsql(
            """
            a = TRANSFORM (CREATE [[1]] SCHEMA x:long) USING bump SCHEMA x:long
            b = SELECT * FROM __fugue_nested_ref_1__
            YIELD DATAFRAME AS b
            """,
            spark=spark,
            functions={"bump": lambda pdf: pdf.assign(x=pdf.x + 1)},
        )
    res = fsql(
        """
        a = TRANSFORM (CREATE [[1]] SCHEMA x:long) USING bump SCHEMA x:long
        YIELD DATAFRAME AS a
        """,
        spark=spark,
        functions={"bump": lambda pdf: pdf.assign(x=pdf.x + 1)},
    )
    assert rows(res["a"]) == [(2,)]


def test_nested_statements_multi_level(spark):
    """Grammar corners the reference ANTLR grammar allows (ref
    fugue/sql/_visitors.py:363,397): nested tasks in ANY dataframe
    position, composed beyond one level — PROCESS of a nested CREATE,
    three-level nesting, and SUB over a nested statement."""

    def mk(spark_, n=0):
        return spark_.createDataFrame([[n]], "a long")

    def double(df):
        from pyspark.sql import functions as F

        return df.select((F.col("a") * 2).alias("a"))

    def double_m(spark_, df):
        from pyspark.sql import functions as F

        return df.select((F.col("a") * 2).alias("a"))

    fns = {"mk": mk, "double": double, "double_m": double_m}
    res = fsql(
        """
        out1 = SELECT * FROM (PROCESS (CREATE USING mk(n=5)) USING double)
        YIELD DATAFRAME AS o1
        out2 = SELECT * FROM
               (PROCESS (PROCESS (CREATE USING mk(n=3)) USING double) USING double)
        YIELD DATAFRAME AS o2
        out3 = SELECT * FROM (SUB (CREATE USING mk(n=2)) USING double_m)
        YIELD DATAFRAME AS o3
        out4 = PROCESS (CREATE USING mk(n=4)), (CREATE USING mk(n=6)) USING unite
        YIELD DATAFRAME AS o4
        """,
        spark=spark,
        functions=dict(fns, unite=lambda a, b: a.unionByName(b)),
    )
    assert rows(res["o1"]) == [(10,)]
    assert rows(res["o2"]) == [(12,)]  # 3 × 2 × 2
    assert rows(res["o3"]) == [(4,)]
    assert sorted(rows(res["o4"])) == [(4,), (6,)]


def test_fsql_ignore_case_lowercase_scripts(spark):
    """Reference parity: fsql_ignore_case (fugue/sql/api.py:18-108) — a
    lowercase script parses identically to its uppercase twin under the
    permissive OPT-IN (the default is the reference's strict mode)."""
    df = spark.createDataFrame(pd.DataFrame({"k": ["a", "a", "b"], "v": [1, 2, 5]}))

    def double(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(v=pdf.v * 2)

    upper = fsql(
        "TRANSFORM df USING double SCHEMA k:str,v:long\nYIELD DATAFRAME AS out",
        spark, functions={"double": double}, df=df,
    )
    lower = fsql(
        "transform df using double schema k:str,v:long\nyield dataframe as out",
        spark, functions={"double": double}, df=df, fsql_ignore_case=True,
    )
    assert rows(upper["out"]) == rows(lower["out"]) == [("a", 2), ("a", 4), ("b", 10)]
    # without the opt-in, lowercase statements are errors (strict default)
    with pytest.raises(FugueSQLError, match="UPPERCASE"):
        fsql(
            "transform df using double schema k:str,v:long",
            spark, functions={"double": double}, df=df,
        )


def test_fsql_ignore_case_lowercase_save_load(spark, tmp_path):
    p = os.path.join(str(tmp_path), "t.parquet")
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2]}))
    fsql(f'save df overwrite parquet "{p}"', spark, df=df, fsql_ignore_case=True)
    res = fsql(f'load parquet "{p}"\nyield dataframe as out', spark,
               fsql_ignore_case=True)
    assert rows(res["out"]) == [(1,), (2,)]


def test_fsql_ignore_case_false_is_reference_strict(spark):
    """fsql_ignore_case=False (the reference DEFAULT): only exact-UPPERCASE
    words are keywords — lowercase statements are errors, and lowercase
    identifiers at line starts inside raw SQL are NOT statement boundaries."""
    df = spark.createDataFrame(pd.DataFrame({"take": [1, 2], "b": ["x", "y"]}))
    with pytest.raises(FugueSQLError, match="UPPERCASE"):
        fsql("take 1 row from df", spark, df=df, fsql_ignore_case=False)
    # a column literally named `take` starting a line stays inside the SELECT
    res = fsql(
        'SELECT\ntake\n, b FROM df WHERE take = 1\nYIELD DATAFRAME AS out',
        spark, df=df, fsql_ignore_case=False,
    )
    assert rows(res["out"]) == [(1, "x")]
    # strict is the DEFAULT (reference fugue/sql/api.py): no conf, no flag
    with pytest.raises(FugueSQLError, match="UPPERCASE"):
        fsql("take 1 row from df", spark, df=df)
    # conf-driven opt-in (reference conf key fugue.sql.compile.ignore_case)
    spark.conf.set("fugue.sql.compile.ignore_case", "true")
    try:
        res2 = fsql("take 1 row from df\nyield dataframe as out", spark, df=df)
        assert len(rows(res2["out"])) == 1
    finally:
        spark.conf.unset("fugue.sql.compile.ignore_case")


def test_strict_mode_postfix_and_setops(spark):
    """fsql_ignore_case=False with the r09 grammar additions: UPPERCASE
    postfix chains and general set ops parse; lowercase chain keywords
    are NOT modifiers in strict mode (they'd be trailing garbage)."""
    res = fsql(
        """
        A = CREATE [[1]] SCHEMA x:long PERSIST BROADCAST
        CREATE [[2]] SCHEMA x:long UNION SELECT * FROM A
        YIELD DATAFRAME AS out
        """,
        spark=spark,
        fsql_ignore_case=False,
    )
    assert rows(res["out"]) == [(1,), (2,)]
    # lowercase 'persist' under strict mode is not a chain keyword
    with pytest.raises(FugueSQLError):
        fsql(
            "A = CREATE [[1]] SCHEMA x:long persist",
            spark=spark,
            fsql_ignore_case=False,
        )
