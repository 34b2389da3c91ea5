"""Extension decorators, class bases, and the ``DataFrames`` container.

Reference surface: the decorator family in
``fugue/extensions/{transformer,creator,processor,outputter}/convert.py``
(``@transformer("a:int")`` attaches the output schema + validation rules
to a plain function) and the class bases in
``fugue/extensions/*/{transformer,creator,processor,outputter}.py``.
Here the decorators attach metadata the engine's ``transform`` /
``cotransform`` / FugueSQL executor already consume — no wrapper object,
the function stays a plain callable (annotation dispatch unchanged).

``DataFrames`` mirrors ``fugue/dataframe/dataframes.py``: an ordered
name→DataFrame dict with positional access, used as the one-argument
form for processors/outputters that take a variable number of inputs.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

__all__ = [
    "DataFrames",
    "register_transformer",
    "register_output_transformer",
    "register_creator",
    "register_processor",
    "register_outputter",
    "CoTransformer",
    "OutputTransformer",
    "OutputCoTransformer",
    "Creator",
    "Processor",
    "Outputter",
    "transformer",
    "cotransformer",
    "output_transformer",
    "output_cotransformer",
    "creator",
    "processor",
    "outputter",
    "module",
]


class DataFrames(dict):
    """Ordered name→DataFrame map with positional access (reference:
    fugue/dataframe/dataframes.py — dict init, positional init, ``[i]``
    by index or name)."""

    def __init__(self, *args: Any, **kwargs: Any):
        super().__init__()
        serial = 0
        for a in args:
            if isinstance(a, dict):
                for k, v in a.items():
                    self[k] = v
            elif isinstance(a, (list, tuple)):
                for v in a:
                    self[f"_{serial}"] = v
                    serial += 1
            else:
                self[f"_{serial}"] = a
                serial += 1
        for k, v in kwargs.items():
            self[k] = v

    def __getitem__(self, key: Any):  # type: ignore[override]
        if isinstance(key, int):
            return list(self.values())[key]
        return super().__getitem__(key)


def _attach(fn: Callable, schema: Any, rules: dict, discard: bool = False) -> Callable:
    fn.__fugue_schema__ = schema
    if rules:
        # transform() reads `.validations` (fugue_spark/transform.py:949)
        fn.validations = rules
    if discard:
        fn.__fugue_discard__ = True
    return fn


def transformer(schema: Any, **validation_rules: Any) -> Callable:
    """``@transformer("a:int,b:str", partitionby_has=["k"])`` — attach the
    output schema (+ validation rules) to a plain function (reference:
    fugue/extensions/transformer/convert.py:242)."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, schema, validation_rules)

    return deco


def cotransformer(schema: Any, **validation_rules: Any) -> Callable:
    """``@cotransformer("a:int")`` (reference: transformer/convert.py:284)."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, schema, validation_rules)

    return deco


def output_transformer(**validation_rules: Any) -> Callable:
    """``@output_transformer()`` — side-effect-only transformer
    (reference: transformer/convert.py:262)."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, None, validation_rules, discard=True)

    return deco


output_cotransformer = output_transformer


def creator(schema: Any = None) -> Callable:
    """``@creator("a:int")`` (reference: creator/convert.py:129). The
    schema, when given, positionally coerces the creator's output —
    same semantics as FugueSQL ``CREATE USING f SCHEMA s``."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, schema, {})

    return deco


def processor(schema: Any = None, **validation_rules: Any) -> Callable:
    """``@processor("a:int")`` (reference: processor/convert.py:131)."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, schema, validation_rules)

    return deco


def outputter(**validation_rules: Any) -> Callable:
    """``@outputter()`` (reference: outputter/convert.py:127)."""

    def deco(fn: Callable) -> Callable:
        return _attach(fn, None, validation_rules, discard=True)

    return deco


def _make_register(kind: str) -> Callable:
    def register(alias: str, obj: "Callable | None" = None) -> Any:
        """Register an extension under a name resolvable from FugueSQL
        ``USING <alias>`` (reference: register_{kind} in
        fugue/extensions/{kind}/convert.py — same named-registry shape as
        this engine's ``register_extension``)."""
        from fugue_spark.sql import register_extension

        return register_extension(alias, obj)

    register.__name__ = f"register_{kind}"
    return register


register_transformer = _make_register("transformer")
register_output_transformer = _make_register("output_transformer")
register_creator = _make_register("creator")
register_processor = _make_register("processor")
register_outputter = _make_register("outputter")


def module(func: "Callable | None" = None, as_method: bool = False) -> Any:
    """``@module()`` / ``@module`` — mark a function as a reusable
    sub-workflow (reference: fugue/workflow/module.py:19). The engine's
    SUB/MODULE statement and direct calls work on plain functions; the
    mark is metadata only."""

    def deco(fn: Callable) -> Callable:
        fn.__fugue_module__ = True
        return fn

    if func is not None:
        return deco(func)
    return deco


# ---------------------------------------------------------------------------
# class bases (reference: fugue/extensions/*/: subclass + override)
# ---------------------------------------------------------------------------

# re-exported here for a single import surface; the canonical definition
# (and the runner integration) lives in transform.py
from fugue_spark.transform import Transformer  # noqa: E402,F401


class CoTransformer:
    """Class-form cotransformer (reference: fugue/extensions/transformer/
    transformer.py CoTransformer): override ``transform(self, df1, df2,
    ...)``; optional ``get_output_schema``."""

    def get_output_schema(self, *input_schemas: Any) -> Any:
        raise NotImplementedError

    def transform(self, *dfs: Any) -> Any:
        raise NotImplementedError


class OutputTransformer:
    """Class-form output transformer (reference: transformer.py
    OutputTransformer): override ``process(self, df)``; runs for side
    effects, output is discarded."""

    def on_init(self, input_schema: Any) -> None:
        pass

    def process(self, df: Any) -> None:
        raise NotImplementedError


class OutputCoTransformer(OutputTransformer):
    def process(self, *dfs: Any) -> None:  # type: ignore[override]
        raise NotImplementedError


class Creator:
    """Class-form creator (reference: fugue/extensions/creator/creator.py):
    override ``create(self, spark)``."""

    def create(self, spark: Any) -> DataFrame:
        raise NotImplementedError

    def __call__(self, spark: Any, **params: Any) -> DataFrame:
        return self.create(spark, **params) if params else self.create(spark)


class Processor:
    """Class-form processor (reference: fugue/extensions/processor/
    processor.py): override ``process(self, dfs)`` where ``dfs`` is a
    :class:`DataFrames`."""

    def process(self, dfs: DataFrames) -> DataFrame:
        raise NotImplementedError

    def __call__(self, *dfs: Any, **params: Any) -> DataFrame:
        return self.process(DataFrames(list(dfs)), **params)


class Outputter:
    """Class-form outputter (reference: fugue/extensions/outputter/
    outputter.py): override ``process(self, dfs)`` for side effects."""

    def process(self, dfs: DataFrames) -> None:
        raise NotImplementedError

    def __call__(self, *dfs: Any, **params: Any) -> None:
        self.process(DataFrames(list(dfs)), **params)
