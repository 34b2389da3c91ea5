"""Deferred workflow DAG — the reference's ``FugueWorkflow`` programming
model (ref fugue/workflow/workflow.py) re-expressed over the lazy engine.

The reference builds an adagio DAG and runs it against an execution
engine; here every node is a memoized thunk over Spark's already-lazy
plan, so "build" records closures and ``run`` resolves them once against
a session. The build/run split is real (nothing touches Spark until
``run``/``compute``), matching the reference semantics a switching user
expects:

    with FugueWorkflow() as dag:
        a = dag.df([[0]], "a:int")
        b = a.transform(f, schema="*")
        b.assert_eq(a)
        b.yield_dataframe_as("out")
    res = dag.run(spark)          # res["out"] is a Spark DataFrame

Effects (show / assert_eq / output / out_transform / save / yields) run
in recording order; pure frames compute on demand and are memoized per
run, so a frame referenced twice computes once.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from fugue_spark.extensions import DataFrames

__all__ = ["FugueWorkflow", "WorkflowDataFrame", "FugueWorkflowError"]


class FugueWorkflowError(Exception):
    pass


class _Run:
    """One execution of the dag: session + per-node memo table."""

    def __init__(self, spark):
        self.spark = spark
        self.memo: dict[int, DataFrame] = {}


class WorkflowDataFrame:
    """A deferred frame in the dag; every method records another thunk."""

    def __init__(self, wf: "FugueWorkflow", thunk: Callable[[_Run], DataFrame]):
        self._wf = wf
        self._thunk = thunk

    def _compute(self, run: _Run) -> DataFrame:
        key = id(self)
        if key not in run.memo:
            run.memo[key] = self._thunk(run)
        return run.memo[key]

    def _derive(self, fn: Callable[[DataFrame, _Run], DataFrame]) -> "WorkflowDataFrame":
        return WorkflowDataFrame(self._wf, lambda run: fn(self._compute(run), run))

    # ---- relational / frame ops -------------------------------------
    def transform(self, using, schema=None, params=None, partition=None,
                  ignore_errors=(), callback=None) -> "WorkflowDataFrame":
        from fugue_spark.transform import transform

        return self._derive(lambda df, run: transform(
            df, using, schema=schema, params=params, partition=partition,
            ignore_errors=ignore_errors, callback=callback))

    def process(self, using, params=None) -> "WorkflowDataFrame":
        return self._derive(lambda df, run: using(df, **(params or {})))

    def partition(self, by=None, presort=None, num=None, algo=None) -> "_Partitioned":
        spec = {k: v for k, v in
                dict(by=by, presort=presort, num=num, algo=algo).items()
                if v is not None}
        return _Partitioned(self, spec)

    def partition_by(self, *keys, presort=None, num=None) -> "_Partitioned":
        return self.partition(by=list(keys), presort=presort, num=num)

    def zip(self, *others, how: str = "inner", partition=None) -> "_Zipped":
        return self._wf.zip(self, *others, how=how, partition=partition)

    def __getitem__(self, columns) -> "WorkflowDataFrame":
        cols = list(columns)
        return self._derive(lambda df, run: df.select(*cols))

    def distinct(self) -> "WorkflowDataFrame":
        return self._derive(lambda df, run: df.distinct())

    def join(self, other, how: str = "inner", on=None) -> "WorkflowDataFrame":
        from fugue_spark.operators.joins import join as _join

        return WorkflowDataFrame(self._wf, lambda run: _join(
            self._compute(run), self._wf._resolve(other, run), how, on))

    def inner_join(self, other, on=None) -> "WorkflowDataFrame":
        return self.join(other, "inner", on)

    def left_outer_join(self, other, on=None) -> "WorkflowDataFrame":
        return self.join(other, "left_outer", on)

    def union(self, other, distinct: bool = True) -> "WorkflowDataFrame":
        from fugue_spark.operators.setops import union as _union

        return WorkflowDataFrame(self._wf, lambda run: _union(
            self._compute(run), self._wf._resolve(other, run), distinct))

    def subtract(self, other, distinct: bool = True) -> "WorkflowDataFrame":
        from fugue_spark.operators.setops import subtract as _subtract

        return WorkflowDataFrame(self._wf, lambda run: _subtract(
            self._compute(run), self._wf._resolve(other, run), distinct))

    def intersect(self, other, distinct: bool = True) -> "WorkflowDataFrame":
        from fugue_spark.operators.setops import intersect as _intersect

        return WorkflowDataFrame(self._wf, lambda run: _intersect(
            self._compute(run), self._wf._resolve(other, run), distinct))

    def filter(self, condition) -> "WorkflowDataFrame":
        from fugue_spark.operators.select import filter as _filter

        return self._derive(lambda df, run: _filter(df, condition))

    def select(self, *columns, where=None, having=None) -> "WorkflowDataFrame":
        from fugue_spark.operators.select import select as _select

        return self._derive(lambda df, run: _select(
            df, *columns, where=where, having=having))

    def assign(self, **columns) -> "WorkflowDataFrame":
        from fugue_spark.operators.select import assign as _assign

        return self._derive(lambda df, run: _assign(df, **columns))

    def aggregate(self, partition_by=None, **aggs) -> "WorkflowDataFrame":
        from fugue_spark.operators.select import aggregate as _aggregate

        return self._derive(lambda df, run: _aggregate(
            df, partition_by=partition_by, **aggs))

    def sample(self, frac=None, n=None, replace: bool = False, seed=None) -> "WorkflowDataFrame":
        from fugue_spark.operators.sampling import sample as _sample

        return self._derive(lambda df, run: _sample(
            df, n=n, frac=frac, replace=replace, seed=seed))

    def take(self, n: int, presort: "str | None" = None,
             na_position: str = "last") -> "WorkflowDataFrame":
        from fugue_spark.operators.sampling import take as _take

        return self._derive(lambda df, run: _take(
            df, n, presort=presort, na_position=na_position))

    def alter_columns(self, schema) -> "WorkflowDataFrame":
        from fugue_spark.frame import alter_columns

        return self._derive(lambda df, run: alter_columns(df, schema))

    def dropna(self, how: str = "any", thresh=None, subset=None) -> "WorkflowDataFrame":
        from fugue_spark.operators.na import dropna

        return self._derive(lambda df, run: dropna(
            df, how=how, thresh=thresh, subset=subset))

    def fillna(self, value, subset=None) -> "WorkflowDataFrame":
        from fugue_spark.operators.na import fillna

        return self._derive(lambda df, run: fillna(df, value, subset=subset))

    def rename(self, mapping: dict) -> "WorkflowDataFrame":
        from fugue_spark.frame import rename

        return self._derive(lambda df, run: rename(df, mapping))

    def drop(self, columns: list) -> "WorkflowDataFrame":
        from fugue_spark.frame import drop_columns

        return self._derive(lambda df, run: drop_columns(df, columns))

    def persist(self) -> "WorkflowDataFrame":
        return self._derive(lambda df, run: df.persist())

    def broadcast(self) -> "WorkflowDataFrame":
        from fugue_spark.operators.joins import broadcast

        return self._derive(lambda df, run: broadcast(df))

    def checkpoint(self) -> "WorkflowDataFrame":
        from fugue_spark import workflow as _w

        def ck(df, run):
            if _w._CHECKPOINT_DIR is None:
                raise FugueWorkflowError(
                    "checkpoint requires set_checkpoint_dir(...) "
                    "(reference conf fugue.workflow.checkpoint.path)"
                )
            return _w.strong_checkpoint(df)

        return self._derive(ck)

    def deterministic_checkpoint(self, namespace: str = "") -> "WorkflowDataFrame":
        from fugue_spark.workflow import deterministic_checkpoint

        return self._derive(lambda df, run: deterministic_checkpoint(df, namespace))

    def weak_checkpoint(self, lazy: bool = False) -> "WorkflowDataFrame":
        from fugue_spark.workflow import weak_checkpoint

        return self._derive(lambda df, run: weak_checkpoint(df, lazy=lazy))

    # ---- effects (recorded in order, run by dag.run) ----------------
    def show(self, n: int = 10, title: "str | None" = None) -> "WorkflowDataFrame":
        def eff(run: _Run):
            if title:
                print(title)
            self._compute(run).show(n)

        self._wf._effects.append(eff)
        return self

    def output(self, using, params=None) -> None:
        self._wf._effects.append(
            lambda run: using(self._compute(run), **(params or {})))

    def out_transform(self, using, params=None, partition=None) -> None:
        from fugue_spark.transform import out_transform

        self._wf._effects.append(lambda run: out_transform(
            self._compute(run), using, partition=partition, params=params))

    def save(self, path: str, **kwargs) -> None:
        from fugue_spark.sources import save_df

        self._wf._effects.append(
            lambda run: save_df(self._compute(run), path, **kwargs))

    def assert_eq(self, other, **kwargs) -> None:
        from fugue_spark.workflow import assert_eq

        self._wf._effects.append(lambda run: assert_eq(
            self._compute(run), self._wf._resolve(other, run), **kwargs))

    def assert_not_eq(self, other, **kwargs) -> None:
        from fugue_spark.workflow import assert_not_eq

        self._wf._effects.append(lambda run: assert_not_eq(
            self._compute(run), self._wf._resolve(other, run), **kwargs))

    def yield_dataframe_as(self, name: str) -> None:
        self._wf._effects.append(
            lambda run: self._wf._yields.__setitem__(name, self._compute(run)))

    # ---- eager convenience ------------------------------------------
    def compute(self, spark=None) -> DataFrame:
        """Run the dag far enough to materialize THIS frame (reference
        WorkflowDataFrame.compute)."""
        run = self._wf._start_run(spark)
        return self._compute(run)


class _Partitioned:
    """Partition-spec'd view: the next transform/take/out_transform uses it."""

    def __init__(self, wdf: WorkflowDataFrame, spec: dict):
        self._wdf = wdf
        self._spec = spec

    def transform(self, using, schema=None, params=None, **kw) -> WorkflowDataFrame:
        return self._wdf.transform(
            using, schema=schema, params=params, partition=self._spec, **kw)

    def out_transform(self, using, params=None) -> None:
        self._wdf.out_transform(using, params=params, partition=self._spec)

    def output(self, using, params=None) -> None:
        self._wdf.output(using, params=params)

    def take(self, n: int, presort: "str | None" = None, na_position: str = "last") -> WorkflowDataFrame:
        from fugue_spark.operators.sampling import take

        spec = self._spec
        return self._wdf._derive(lambda df, run: take(
            df, n, presort=presort, na_position=na_position, partition=spec))

    def show(self, n: int = 10, title: "str | None" = None) -> WorkflowDataFrame:
        return self._wdf.show(n, title)


class _Zipped:
    """Deferred zip: `.transform(fn)` becomes a cotransform over the sides."""

    def __init__(self, wf: "FugueWorkflow", sides: list[WorkflowDataFrame],
                 how: str, partition):
        self._wf = wf
        self._sides = sides
        self._how = how
        self._partition = partition

    def transform(self, using, schema=None, params=None) -> WorkflowDataFrame:
        from fugue_spark.cotransform import cotransform

        def thunk(run: _Run) -> DataFrame:
            dfs = [s._compute(run) for s in self._sides]
            return cotransform(dfs, using, schema=schema,
                               partition=self._partition, how=self._how,
                               params=params)

        return WorkflowDataFrame(self._wf, thunk)

    def __getitem__(self, columns) -> WorkflowDataFrame:
        """Columns of the zip's JOINED view (ref dag.zip(a,b)[["a"]])."""
        cols = list(columns)

        def thunk(run: _Run) -> DataFrame:
            from fugue_spark.operators.joins import join

            dfs = [s._compute(run) for s in self._sides]
            how = "inner" if self._how == "inner" else self._how
            out = dfs[0]
            for d in dfs[1:]:
                out = join(out, d, how)
            return out.select(*cols)

        return WorkflowDataFrame(self._wf, thunk)


class _Result(dict):
    last: "DataFrame | None" = None


class FugueWorkflow:
    def __init__(self):
        self._effects: list[Callable[[_Run], None]] = []
        self._yields: dict[str, DataFrame] = {}
        self._last_run: "_Run | None" = None

    # ---- context manager: build only, run explicitly ----------------
    def __enter__(self) -> "FugueWorkflow":
        return self

    def __exit__(self, *exc) -> None:
        return None

    # ---- sources ----------------------------------------------------
    def df(self, data: Any, schema: Any = None) -> WorkflowDataFrame:
        if isinstance(data, WorkflowDataFrame):
            return data

        def thunk(run: _Run) -> DataFrame:
            from fugue_spark.ingest import to_df

            if isinstance(data, DataFrame):
                return data
            return to_df(run.spark, data, schema)

        return WorkflowDataFrame(self, thunk)

    def create(self, using: Any, params: "dict | None" = None,
               schema: Any = None) -> WorkflowDataFrame:
        if not callable(using):
            return self.df(using, schema)

        def thunk(run: _Run) -> DataFrame:
            out = using(run.spark, **(params or {}))
            if schema is not None:
                from fugue_spark.ingest import to_df

                out = to_df(run.spark, out, schema)
            return out

        return WorkflowDataFrame(self, thunk)

    def load(self, path: str, **kwargs) -> WorkflowDataFrame:
        def thunk(run: _Run) -> DataFrame:
            from fugue_spark.sources import load_df

            return load_df(run.spark, path, **kwargs)

        return WorkflowDataFrame(self, thunk)

    # ---- multi-input nodes ------------------------------------------
    def _resolve(self, obj, run: _Run) -> DataFrame:
        if isinstance(obj, WorkflowDataFrame):
            return obj._compute(run)
        if isinstance(obj, DataFrame):
            return obj
        from fugue_spark.ingest import to_df

        return to_df(run.spark, obj)

    def process(self, *inputs, using: "Callable | None" = None,
                params: "dict | None" = None) -> WorkflowDataFrame:
        if using is None:
            raise FugueWorkflowError("process requires using=")
        flat = self._flatten(inputs)

        def thunk(run: _Run) -> DataFrame:
            dfs = [self._resolve(x, run) for x in flat]
            return using(*dfs, **(params or {}))

        return WorkflowDataFrame(self, thunk)

    def output(self, *inputs, using: "Callable | None" = None,
               params: "dict | None" = None) -> None:
        if using is None:
            raise FugueWorkflowError("output requires using=")
        flat = self._flatten(inputs)
        self._effects.append(lambda run: using(
            *[self._resolve(x, run) for x in flat], **(params or {})))

    def zip(self, *inputs, how: str = "inner", partition=None) -> _Zipped:
        flat = self._flatten(inputs)
        sides = [x if isinstance(x, WorkflowDataFrame) else self.df(x)
                 for x in flat]
        return _Zipped(self, sides, how, partition)

    @staticmethod
    def _flatten(inputs) -> list:
        if len(inputs) == 1 and isinstance(inputs[0], dict):
            return list(inputs[0].values())
        return list(inputs)

    # ---- execution ---------------------------------------------------
    def _start_run(self, spark=None) -> _Run:
        if spark is None:
            from fugue_spark.context import current_spark

            spark = current_spark()
        run = _Run(spark)
        self._last_run = run
        return run

    def run(self, spark=None) -> _Result:
        run = self._start_run(spark)
        self._yields.clear()
        for eff in self._effects:
            eff(run)
        res = _Result(self._yields)
        res.last = None
        return res

    def yields(self) -> dict:
        return dict(self._yields)


class WorkflowDataFrames(DataFrames):
    """Named collection of deferred frames (reference fugue/workflow/
    workflow.py ``WorkflowDataFrames``): dict or positional init,
    ``[i]`` by index or name."""


class FugueSQLWorkflow(FugueWorkflow):
    """Deferred-DAG workflow whose instances are ALSO FugueSQL hosts
    (reference: fugue/sql/workflow.py ``FugueSQLWorkflow`` — ``dag(...)``
    appends a SQL block). Calling the workflow with a script defers it;
    at :meth:`run` the script executes with the given variables —
    ``WorkflowDataFrame``/``WorkflowDataFrames`` arguments resolve to
    live frames, callables become USING-resolvable functions — and the
    script's YIELDs merge into the run result.

    ``conf`` mirrors the reference's compile-conf dict
    (tests/fugue/sql/test_workflow.py:23-38): pass
    ``{"fugue.sql.compile.ignore_case": True}`` for case-insensitive
    keywords; the default is the reference's strict mode (exact-UPPERCASE
    keywords only)."""

    def __init__(self, conf: "dict | None" = None):
        super().__init__()
        self.conf = dict(conf or {})
        v = self.conf.get("fugue.sql.compile.ignore_case")
        self._ignore_case: "bool | None" = (
            None if v is None else str(v).lower() in ("1", "true", "yes")
        )

    def __call__(self, script: str, *variable_dicts: dict, **variables: Any) -> None:
        # caller-scope capture (reference get_caller_global_local_vars:
        # python variables are visible to the SQL by name without being
        # passed explicitly — tests/fugue/sql/test_workflow.py:124-248).
        # Capture is LAZY by name: only identifiers the script's token
        # stream actually references are snapshotted, so an unrelated
        # (possibly huge) caller local is never retained by the deferred
        # dag and cannot shadow anything the script doesn't mention.
        # Resolution order for a referenced name: caller globals < caller
        # locals < *variable_dicts (in order) < **variables.
        import inspect

        referenced = self._script_identifiers(script)
        captured: dict = {}
        frame = inspect.currentframe()
        caller = frame.f_back if frame is not None else None
        if caller is not None:
            for scope in (caller.f_globals, caller.f_locals):
                for k in referenced:
                    if k.startswith("_") or k not in scope:
                        continue
                    v = scope[k]
                    if v is None or inspect.ismodule(v) or inspect.isclass(v):
                        continue
                    captured[k] = v
        merged = dict(captured)
        for d in variable_dicts:
            merged.update(d)
        merged.update(variables)

        def eff(run: _Run) -> None:
            import pandas as _pd

            from fugue_spark.sql import fsql

            # per-run shared scope: frames a previous dag(...) block
            # defined are visible to this one by name
            state = getattr(run, "_fsql_state", None)
            if state is None:
                state = {}
                run._fsql_state = state  # type: ignore[attr-defined]
            functions = {}
            resolved = {}
            for k, v in merged.items():
                if isinstance(v, WorkflowDataFrame):
                    resolved[k] = v._compute(run)
                elif isinstance(v, WorkflowDataFrames):
                    resolved[k] = {
                        kk: (vv._compute(run) if isinstance(vv, WorkflowDataFrame) else vv)
                        for kk, vv in v.items()
                    }
                elif isinstance(v, _pd.DataFrame):
                    from fugue_spark.ingest import to_df

                    resolved[k] = to_df(run.spark, v)
                elif isinstance(v, (int, float, str, bool)) or v is None:
                    resolved[k] = v
                elif callable(v) or not isinstance(v, (list, tuple, dict, set)):
                    # callables AND plain objects: USING/CALLBACK namespace
                    functions[k] = v
                else:
                    resolved[k] = v
            res = fsql(
                script,
                resolved,
                spark=run.spark,
                functions=functions,
                state=state,
                fsql_ignore_case=self._ignore_case,
            )
            self._yields.update(res)

        self._effects.append(eff)

    @staticmethod
    def _script_identifiers(script: str) -> "set[str]":
        """The identifier names a FugueSQL script can resolve from caller
        scope: every word token outside comments/strings (table refs,
        USING/CALLBACK names and the leading part of dotted forms, Jinja
        targets — keywords are included but never collide with locals
        meaningfully). Falls back to a bare word-regex over-approximation
        if the script doesn't tokenize (the error surfaces later, at run)."""
        import re as _re

        # Jinja refs can live inside string literals ("{{path}}") where the
        # tokenizer can't see them — collect them from the raw text
        names = set(_re.findall(r"{{\s*([A-Za-z_][A-Za-z0-9_]*)\s*}}", script))
        try:
            from fugue_spark.sql.tokenizer import tokenize

            return names | {t.value for t in tokenize(script) if t.kind == "word"}
        except Exception:
            return names | set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", script))
