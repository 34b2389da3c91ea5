"""zip/comap → ``cotransform``: apply a function to aligned key groups of
several dataframes.

The reference implements zip by pickling each group into blobs and unioning
(fugue/execution/execution_engine.py:962-1241); that design exists because
Fugue must stay backend-agnostic. The Spark-native execution here is a
tagged union: every input is projected onto the superset schema (payload
columns prefixed per input, NULL elsewhere), unioned, hash-exchanged ONCE
on the keys, and inside mapInArrow each key group is split back into
per-input frames by the grouped map engine that ``transform`` with
``partition.by`` also runs (``transform._map_groups``). Versus
cogroup().applyInPandas this saves a JVM↔Python round trip per group — an
order of magnitude on small groups — and it generalizes to N inputs with
the same single shuffle.

``how`` ∈ inner|left_outer|right_outer|full_outer|cross controls which key
groups are emitted (reference zip semantics, execution_engine.py:1007-1029);
``cross`` takes no keys and calls the function once with every input whole.
"""

from __future__ import annotations

import inspect
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fugue_spark.partition import PartitionSpec, _nan_safe_key_exprs
from fugue_spark.schema import parse_schema
from fugue_spark.transform import PartitionCursor, _map_groups

__all__ = ["cotransform"]

_HOWS = ("inner", "left_outer", "right_outer", "full_outer", "cross")


def _union_cotransform(dfs, keys, run, out_schema, wants_cursor, side_forms, presort, how):
    """Zip N dataframes as a tagged union: every input is projected onto the
    superset schema (its payload columns prefixed, others NULL), unioned,
    and hash-exchanged ONCE on the keys; the grouped map engine
    (transform._map_groups) then splits each key group by tag back into
    per-input frames. One shuffle, one Arrow stream per partition — beats
    cogroup().applyInPandas by an order of magnitude when groups are small
    (no JVM↔Python round trip per group).

    ``side_forms[i]`` ∈ {'pd','pa'}: a ``pa.Table``-annotated side skips the
    pandas conversion entirely — its groups are zero-copy ``Table.slice``
    views of the partition's Arrow stream (q21 vs q12). ``presort`` is
    applied JVM-side inside the engine's single partition sort (per-side
    column resolution via a CASE over the tag), so no python-side sort runs
    per group."""
    cross = len(keys) == 0
    payloads = [[c for c in d.columns if c not in keys] for d in dfs]
    if cross:
        # whole-frame zip: a constant surrogate key makes every row one
        # group; the reference's cross zip likewise serializes each input
        # to a single-partition blob (execution_engine.py:1026-1029)
        keys = ["__xkey__"]
    parts = []
    for i, (d, cols) in enumerate(zip(dfs, payloads)):
        proj = (
            [F.lit(0).alias("__xkey__")]
            if cross
            else [F.col(k) for k in keys]
        ) + [F.lit(i).alias("__tag__")]
        for j, (dj, colsj) in enumerate(zip(dfs, payloads)):
            for c in colsj:
                if i == j:
                    proj.append(F.col(c).alias(f"__in{j}__{c}"))
                else:
                    proj.append(
                        F.lit(None).cast(dj.schema[c].dataType).alias(f"__in{j}__{c}")
                    )
        parts.append(d.select(*proj))
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    # explicit count: keep AQE from byte-size-coalescing a python-heavy stage;
    # core-bound floor for the same reason (python stages are CPU-bound, so a
    # byte-sized shuffle conf must not throttle the python workers)
    num = max(
        int(combined.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        combined.sparkSession.sparkContext.defaultParallelism,
    )
    # NaN-safe key exprs: float NULL and NaN must co-partition and sort
    # adjacent — pandas treats them as one key (see _nan_safe_key_exprs)
    combined = (
        combined.repartition(1)
        if cross
        else combined.repartition(num, *_nan_safe_key_exprs(combined, keys))
    )
    # Presort rides the engine's partition sort: each side's column c lives
    # at __in{i}__{c}, so a CASE over the tag resolves "sort by c" per side
    # — within a key group the CASE is one side's column for that side's
    # rows, sorting them by their own values (NULL constant for sides
    # lacking c). nulls-last on data columns = the reference's pandas
    # na_position contract. __tag__ is deliberately NOT a sort key: each
    # side is tag-filtered before use, so within a key group a side's rows
    # are adjacent in its own filtered frame regardless of tag
    # interleaving — one fewer comparison column in the partition sort.
    n_inputs = len(dfs)
    in_columns = [list(d.columns) for d in dfs]
    keyset = set(keys)
    presort_exprs = []
    for name, asc in presort:
        branches = None
        for i in range(n_inputs):
            if name in in_columns[i] and name not in keyset:
                c = F.col(f"__in{i}__{name}")
                branches = (
                    F.when(F.col("__tag__") == i, c)
                    if branches is None
                    else branches.when(F.col("__tag__") == i, c)
                )
        if branches is None:
            if name in keyset:
                continue  # key columns are constant within a group
            raise ValueError(f"presort column {name!r} not found in any input")
        presort_exprs.append(
            branches.asc_nulls_last() if asc else branches.desc_nulls_last()
        )
    sides = [
        (
            [(c if c in keyset else f"__in{i}__{c}") for c in in_columns[i]],
            in_columns[i],
            side_forms[i],
        )
        for i in range(n_inputs)
    ]
    # which sides must be non-empty for a key group to be emitted
    required = {
        "inner": range(n_inputs),
        "left_outer": (0,),
        "right_outer": (n_inputs - 1,),
    }.get(how, ())
    return _map_groups(
        combined,
        keys,
        presort_exprs,
        sides,
        run,
        out_schema,
        # the cross zip's surrogate key is not reported on the cursor
        keys if wants_cursor and not cross else [],
        required=required,
        name="cotransform",
    )


def _infer_keys(dfs: list[DataFrame], spec: PartitionSpec) -> list[str]:
    if spec.by:
        return list(spec.by)
    keys = set(dfs[0].columns)
    for d in dfs[1:]:
        keys &= set(d.columns)
    if not keys:
        raise ValueError("cotransform: no common key columns and no partition.by")
    return [c for c in dfs[0].columns if c in keys]


def cotransform(
    dfs: "list[DataFrame]",
    using: Callable,
    schema: Any = None,
    partition: "PartitionSpec | dict | None" = None,
    how: str = "inner",
    params: "dict | None" = None,
    compile: "bool | str | None" = None,
) -> DataFrame:
    """Zip ``dfs`` on their common (or declared) keys and apply ``using``
    to each aligned key group.

    ``compile`` selects the aggregation trace-compiler: a reducer-shaped
    function compiles to per-side ``groupBy().agg`` joined on the keys —
    no tagged union, no Python workers, each side shuffles only partial
    agg states (see fugue_spark/compile.py). The DEFAULT (``None`` = auto)
    attempts the trace on every inner zip and silently falls back to the
    zip engine when the function is untraceable or the how is non-inner;
    ``compile=False`` opts out (also via env ``FUGUE_SPARK_AUTO_COMPILE=0``);
    ``compile="strict"`` raises instead of falling back.
    """
    if how not in _HOWS:
        raise ValueError(f"how must be one of {_HOWS}, got {how!r}")
    if len(dfs) < 2:
        raise ValueError("cotransform needs at least two dataframes")
    # the tagged union embeds column names in generated identifiers; the
    # reference's schema model (triad) only permits identifier names, so
    # fail fast with a clear message instead of a Catalyst analysis error
    from fugue_spark.transform import _SAFE_NAME_RE

    for d in dfs:
        bad = [c for c in d.columns if not _SAFE_NAME_RE.fullmatch(c)]
        if bad:
            raise ValueError(
                f"cotransform requires identifier column names, got {bad}; "
                "rename() them first"
            )
    spec = partition if isinstance(partition, PartitionSpec) else PartitionSpec(partition)
    if how == "cross":
        # reference zip: cross takes no partition keys; the function is
        # called once with every input in full (execution_engine.py:1020-1029)
        if spec.by:
            raise ValueError("can't specify partition keys for cross zip")
        keys: list = []
    else:
        keys = _infer_keys(dfs, spec)
    if schema is None:
        # decorator-attached schema (@cotransformer("a:int")) or the
        # reference's `# schema:` comment hint
        # (fugue/extensions/cotransformer/convert.py)
        from fugue_spark.transform import _schema_from_comment

        schema = getattr(using, "__fugue_schema__", None)
        if schema is None:
            schema = _schema_from_comment(using)
        if schema is None:
            raise ValueError(
                "cotransform requires an output schema (schema=, "
                "@cotransformer, or '# schema:' hint)"
            )
    out_schema = parse_schema(schema)
    kwargs = dict(params or {})

    sig_params = list(inspect.signature(using).parameters.values())
    wants_cursor = bool(sig_params) and sig_params[0].name == "cursor"
    data_params = sig_params[1:] if wants_cursor else sig_params
    # extra config parameters are not dataframe slots: anything supplied
    # via params, plus trailing defaulted params beyond the zip width
    # (reference cotransformer convert: only positional df params count)
    data_params = [p for p in data_params if p.name not in kwargs]
    while (
        len(data_params) > len(dfs)
        and data_params
        and data_params[-1].default is not inspect.Parameter.empty
    ):
        data_params.pop()
    n_data = len(data_params)
    if n_data != len(dfs):
        raise ValueError(
            f"function takes {n_data} dataframes but {len(dfs)} were zipped"
        )

    # per-side input form from annotations: a ``pa.Table`` side gets
    # zero-copy Arrow slices, a pandas (or unannotated) side gets pandas
    # frames — sides are independent, so mixed signatures work
    import typing as _typing

    from fugue_spark.transform import _IN_ARROW, _IN_PANDAS, _classify

    try:
        hints = _typing.get_type_hints(using)
    except Exception:
        hints = {}
    side_forms = []
    for p in data_params:
        form = _classify(hints.get(p.name, p.annotation), _IN_PANDAS)
        if form not in (_IN_PANDAS, _IN_ARROW):
            raise ValueError(
                f"cotransform sides must be pd.DataFrame or pa.Table, got {form!r}"
            )
        side_forms.append("pa" if form == _IN_ARROW else "pd")

    from fugue_spark.compile import compile_or_fallback, try_compile_cotransform

    compiled = compile_or_fallback(
        compile,
        lambda mode: try_compile_cotransform(
            dfs,
            using,
            keys,
            spec.presort,
            out_schema,
            kwargs,
            wants_cursor,
            how,
            purity_check=(mode == "auto"),
        ),
        "zip",
    )
    if compiled is not None:
        return compiled

    def run(frames: "list[Any]", cursor: PartitionCursor) -> Any:
        # returns the RAW user result (dict / DataFrame / iterable) — the
        # _ArrowResultBatcher conforms and batches it; None skips the group.
        # how-based group skipping happens in the engine on the prefix
        # sums, BEFORE frames are built — no len() checks needed here.
        if wants_cursor:
            return using(cursor, *frames, **kwargs)
        return using(*frames, **kwargs)

    return _union_cotransform(
        dfs, keys, run, out_schema, wants_cursor, side_forms, spec.presort, how
    )
