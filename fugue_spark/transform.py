"""The map engine: ``transform`` / ``out_transform`` — apply a plain Python
function to every logical partition, Spark-natively.

This is the reference's #1 user-facing capability (fugue transform(),
README "the simplest way to use Fugue"; abstract op map_dataframe,
fugue/execution/execution_engine.py:283-315). The "interfaceless" design is
kept: a bare function declares its input/output shape via type annotations
(fugue/dataframe/function_wrapper.py:322-553 registers the same forms) and
its output schema via ``schema=`` or a ``# schema:`` comment hint.

Execution maps onto the Arrow-vectorized pandas-UDF family:

* grouped (``partition.by``)      → the algo's exchange on the keys, one JVM
                                    ``sortWithinPartitions`` (keys, then
                                    presort) and ``df.mapInArrow``: the
                                    grouped map engine ``_map_groups``, which
                                    ``cotransform`` shares, finds each group
                                    as one run of rows
* ungrouped / coarse              → ``df.mapInPandas`` (streaming iterator,
                                    so ``Iterable[pd.DataFrame]`` functions
                                    never materialize a whole partition)
* arrow-annotated functions       → zero-copy ``Table.slice`` per group when
                                    grouped; ``mapInArrow`` when streaming

Grouped presort runs in the JVM sort, nulls last, with Spark's ordering
(NaN above every number); ungrouped presort runs in pandas
(na_position='last'). ``on_init`` fires once per physical partition;
``ignore_errors`` turns listed exceptions into empty output for that
logical partition (reference: processors.py:330-338).
"""

from __future__ import annotations

import inspect
import itertools
import re
import types as _types
import typing
from collections.abc import Iterable
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fugue_spark.partition import (
    PartitionSpec,
    _nan_safe_key_exprs,
    apply_partition_spec,
)
from fugue_spark.schema import apply_schema_hint, is_schema_hint, parse_schema

__all__ = [
    "transform",
    "out_transform",
    "PartitionCursor",
    "Transformer",
    "EmptyAwareIterable",
    "make_empty_aware",
]


class EmptyAwareIterable:
    """Single-pass iterable that can answer emptiness — and show the first
    element — WITHOUT consuming it (semantics of the reference's
    triad ``EmptyAwareIterable``; dispatch form at ref
    fugue/dataframe/function_wrapper.py:354). Annotate a transformer input
    as ``EmptyAwareIterable[List[Any]]`` (or ``[Dict[str, Any]]``) to get
    rows lazily while still being able to branch on ``.empty`` / ``peek()``
    up front."""

    def __init__(self, it: Iterable):
        self._it = iter(it)
        self._head: Any = None
        self._has_head = False
        self._advance()

    def _advance(self) -> None:
        try:
            self._head = next(self._it)
            self._has_head = True
        except StopIteration:
            self._head, self._has_head = None, False

    @property
    def empty(self) -> bool:
        return not self._has_head

    def peek(self) -> Any:
        if not self._has_head:
            raise StopIteration("the iterable is empty")
        return self._head

    def __iter__(self):
        while self._has_head:
            v = self._head
            self._advance()
            yield v

    # EmptyAwareIterable[List[Any]] in annotations -> GenericAlias whose
    # get_origin() is this class (what _classify dispatches on)
    __class_getitem__ = classmethod(_types.GenericAlias)  # type: ignore[assignment]


def make_empty_aware(it: Iterable) -> EmptyAwareIterable:
    return it if isinstance(it, EmptyAwareIterable) else EmptyAwareIterable(it)


class PartitionCursor:
    """Visible state of the logical partition a function is processing
    (reference: fugue/collections/partition.py:404-469)."""

    def __init__(self, keys: list[str], key_values: list[Any], partition_no: int):
        self.keys = list(keys)
        self.key_values = list(key_values)
        self.partition_no = partition_no

    @property
    def key_value_dict(self) -> dict[str, Any]:
        return dict(zip(self.keys, self.key_values))

    def __getitem__(self, name: str) -> Any:
        # index lookup, not dict construction: cursor[key] runs once per
        # group in keyed transformers — ~0.3µs vs ~1.5µs for dict(zip(...))
        try:
            return self.key_values[self.keys.index(name)]
        except ValueError:
            raise KeyError(name) from None


class Transformer:
    """Class-form transformer (reference: fugue/extensions/transformer/
    transformer.py:8-98). Subclass and override ``transform``; optional
    ``get_output_schema`` / ``on_init``."""

    def get_output_schema(self, input_schema: T.StructType) -> "str | T.StructType":
        raise NotImplementedError

    def on_init(self, input_schema: T.StructType) -> None:
        pass

    def transform(self, df: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError

    cursor: PartitionCursor  # set by the runner before each call


_SCHEMA_HINT_RE = re.compile(r"^\s*#\s*schema:\s*(.+)$", re.MULTILINE)
_SAFE_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _schema_from_comment(fn: Callable) -> "str | None":
    """The reference's comment hint: a ``# schema: ...`` line directly above
    the function definition (or inside it)."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return None
    m = _SCHEMA_HINT_RE.search(src)
    if m:
        return m.group(1).strip()
    try:
        lines, lineno = inspect.findsource(fn)
    except (OSError, TypeError):
        return None
    i = lineno - 1  # line above 'def' (findsource lineno is 0-based at def)
    while i >= 0:
        stripped = lines[i].strip()
        if stripped.startswith("#"):
            m = _SCHEMA_HINT_RE.match(lines[i])
            if m:
                return m.group(1).strip()
            i -= 1
        elif stripped == "" or stripped.startswith("@"):
            i -= 1
        else:
            break
    return None


# ---------------------------------------------------------------------------
# annotation classification

_IN_PANDAS, _IN_ITER_PANDAS, _IN_ARROW, _IN_ITER_ARROW = "pd", "ipd", "pa", "ipa"
_IN_LISTS, _IN_ITER_LISTS, _IN_DICTS, _IN_ITER_DICTS = "ll", "ill", "ld", "ild"
_IN_EA_LISTS, _IN_EA_DICTS = "ell", "eld"


_STR_ANN = {
    "pd.DataFrame": _IN_PANDAS,
    "pandas.DataFrame": _IN_PANDAS,
    "DataFrame": _IN_PANDAS,
    "pa.Table": _IN_ARROW,
    "pyarrow.Table": _IN_ARROW,
    "Table": _IN_ARROW,
    "List[List[Any]]": _IN_LISTS,
    "List[Dict[str,Any]]": _IN_DICTS,
    "List[Dict[str, Any]]": _IN_DICTS,
}


def _classify(ann: Any, default: str) -> str:
    if ann is inspect.Parameter.empty or ann is None or ann is Any:
        return default
    if isinstance(ann, str):
        # unresolvable string annotations (PEP 563 with function-local
        # imports): dispatch on the literal text, as the reference's
        # annotation registry does for its common forms
        ann = ann.strip()
        # under PEP 563 a doubly-quoted annotation ("'X[Y]'") keeps its
        # inner quotes in the source text — unwrap matched outer quotes
        while len(ann) >= 2 and ann[0] in "\"'" and ann[-1] == ann[0]:
            ann = ann[1:-1].strip()
        if ann in _STR_ANN:
            return _STR_ANN[ann]
        m = re.fullmatch(r"(?:\w+\.)?EmptyAwareIterable\[(.+)\]", ann)
        if m is not None:
            inner = m.group(1).strip()
            return _IN_EA_DICTS if inner.startswith(("Dict", "dict")) else _IN_EA_LISTS
        m = re.fullmatch(r"(?:typing\.)?(Iterable|Iterator|Generator)\[(.+)\]", ann)
        if m is not None:
            inner = m.group(2).strip()
            if inner in ("pd.DataFrame", "pandas.DataFrame", "DataFrame"):
                return _IN_ITER_PANDAS
            if inner in ("pa.Table", "pyarrow.Table", "Table"):
                return _IN_ITER_ARROW
            if inner.startswith(("Dict", "dict")):
                return _IN_ITER_DICTS
            return _IN_ITER_LISTS
        m = re.fullmatch(r"(?:typing\.)?(?:List|list)\[(.+)\]", ann)
        if m is not None:
            inner = m.group(1).strip()
            return _IN_DICTS if inner.startswith(("Dict", "dict")) else _IN_LISTS
        raise ValueError(f"unsupported transform annotation {ann!r}")
    origin = typing.get_origin(ann)
    args = typing.get_args(ann)
    if ann is pd.DataFrame:
        return _IN_PANDAS
    if ann is pa.Table:
        return _IN_ARROW
    if origin is EmptyAwareIterable or ann is EmptyAwareIterable:
        inner = args[0] if args else None
        if typing.get_origin(inner) in (dict, typing.Dict) or inner is dict:
            return _IN_EA_DICTS
        return _IN_EA_LISTS
    if origin in (list, typing.List):
        if args and typing.get_origin(args[0]) in (list, typing.List):
            return _IN_LISTS
        if args and typing.get_origin(args[0]) in (dict, typing.Dict):
            return _IN_DICTS
        if args and args[0] in (list, dict):
            return _IN_LISTS if args[0] is list else _IN_DICTS
        return _IN_LISTS
    if origin in (Iterable, typing.Iterable, typing.Iterator) or (
        origin is not None and origin.__name__ in ("Iterable", "Iterator", "Generator")
    ):
        inner = args[0] if args else None
        if inner is pd.DataFrame:
            return _IN_ITER_PANDAS
        if inner is pa.Table:
            return _IN_ITER_ARROW
        inner_origin = typing.get_origin(inner)
        if inner_origin in (dict, typing.Dict) or inner is dict:
            return _IN_ITER_DICTS
        return _IN_ITER_LISTS
    raise ValueError(f"unsupported transform annotation {ann!r}")


def _to_input(pdf: "pd.DataFrame | pa.Table", form: str) -> Any:
    """Hand one logical partition to the function in its annotated form;
    the arrow forms also take a ``pa.Table`` (the grouped engine's zero-copy
    group slices) as is."""
    if form == _IN_PANDAS:
        return pdf
    if form == _IN_ITER_PANDAS:
        return iter([pdf])
    if form == _IN_ARROW:
        if isinstance(pdf, pa.Table):
            return pdf
        return pa.Table.from_pandas(pdf, preserve_index=False)
    if form == _IN_ITER_ARROW:
        return iter([_to_input(pdf, _IN_ARROW)])
    if form == _IN_LISTS:
        return pdf.values.tolist()
    if form == _IN_ITER_LISTS:
        return iter(pdf.values.tolist())
    if form == _IN_DICTS:
        return pdf.to_dict("records")
    if form == _IN_ITER_DICTS:
        return iter(pdf.to_dict("records"))
    if form == _IN_EA_LISTS:
        return make_empty_aware(iter(pdf.values.tolist()))
    if form == _IN_EA_DICTS:
        return make_empty_aware(iter(pdf.to_dict("records")))
    raise AssertionError(form)


def _nested_out_cols(out_schema: "T.StructType") -> "set[str]":
    """Output columns whose declared type is itself array/map/struct: a
    list-valued dict entry for one of these is a single CELL, not a
    multi-row expansion."""
    return {
        f.name
        for f in out_schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    }


def _expand_dict_result(res: dict, nested_cols: "set[str] | None") -> "dict | pd.DataFrame":
    """dict results are ONE row — unless a value is array-like AND its
    declared output column is scalar-typed, which is the dict-of-arrays
    multi-row form (one row per element, scalar values broadcast; the
    pandas twin of the compiled window shape). Values aimed at
    array/struct/map columns never trigger expansion; in a multi-row
    result they are CELLS, repeated onto every row."""
    skip = nested_cols if nested_cols is not None else set()
    listy = (list, tuple, np.ndarray, pd.Series)
    arrays = [k for k, v in res.items() if isinstance(v, listy) and k not in skip]
    if not arrays:
        return res
    n = len(res[arrays[0]])
    out = {}
    for k, v in res.items():
        if k in skip and isinstance(v, listy):
            # nested-typed column in a multi-row result: a sequence OF
            # sequences matching the row count is per-row cells; anything
            # else (a flat array) is ONE cell repeated onto every row
            if len(v) == n and all(isinstance(x, listy) for x in v):
                out[k] = pd.Series([list(x) for x in v], dtype=object)
            else:
                out[k] = pd.Series([list(v)] * n, dtype=object)
        else:
            out[k] = v  # expanding array, or scalar broadcast by pandas
    return pd.DataFrame(out)


def _result_to_pandas(
    res: Any, out_cols: list[str], nested_cols: "set[str] | None" = None
) -> pd.DataFrame:
    if res is None:
        return pd.DataFrame(columns=out_cols)
    if isinstance(res, pd.DataFrame):
        return res
    if isinstance(res, pa.Table):
        return res.to_pandas()
    if isinstance(res, dict):
        res = _expand_dict_result(res, nested_cols)
        if isinstance(res, pd.DataFrame):
            return res
        return pd.DataFrame([res], columns=out_cols)
    if isinstance(res, Iterable):
        items = list(res)
        if not items:
            return pd.DataFrame(columns=out_cols)
        if isinstance(items[0], pd.DataFrame):
            return pd.concat(items, ignore_index=True)
        if isinstance(items[0], pa.Table):
            return pa.concat_tables(items).to_pandas()
        if isinstance(items[0], dict):
            return pd.DataFrame(items, columns=out_cols)
        return pd.DataFrame(items, columns=out_cols)
    raise ValueError(f"unsupported transform output {type(res)}")


def _conform(pdf: pd.DataFrame, out_cols: list[str], name: str) -> pd.DataFrame:
    if list(pdf.columns) == out_cols:
        return pdf
    if all(isinstance(c, str) for c in pdf.columns) and set(out_cols) <= set(pdf.columns):
        return pdf[out_cols]
    if len(pdf.columns) == len(out_cols):
        pdf = pdf.copy()
        pdf.columns = out_cols
        return pdf
    raise ValueError(
        f"{name}: output columns {list(pdf.columns)} do not match schema {out_cols}"
    )


def _resolve_fn(using: Any) -> tuple[Any, "str | None", bool]:
    """→ (callable-or-instance, attached-or-comment schema, is_class)."""
    if isinstance(using, type) and issubclass(using, Transformer):
        return using(), None, True
    if isinstance(using, Transformer):
        return using, None, True
    # OutputTransformer class forms (reference: transformer.py
    # OutputTransformer — override process(); output is discarded)
    from fugue_spark.extensions import OutputTransformer as _OT

    if isinstance(using, type) and issubclass(using, _OT):
        using = using()
    if isinstance(using, _OT):
        return using.process, None, False
    if callable(using):
        attached = getattr(using, "__fugue_schema__", None)
        return (
            using,
            attached if attached is not None else _schema_from_comment(using),
            False,
        )
    raise ValueError(f"cannot use {using!r} as a transformer")


def _output_schema(
    using: Any, schema: Any, comment: "str | None", input_schema: T.StructType
) -> T.StructType:
    s = schema if schema is not None else comment
    if s is None and isinstance(using, Transformer):
        s = using.get_output_schema(input_schema)
    if s is None:
        raise ValueError("transform requires an output schema (schema= or '# schema:' hint)")
    if isinstance(s, T.StructType):
        return s
    s = str(s)
    if is_schema_hint(s):
        return apply_schema_hint(s, input_schema)
    return parse_schema(s)


def _check_validations(rules: "dict | None", df: DataFrame, spec: PartitionSpec) -> None:
    """Extension validation rules (reference: fugue/extensions/_utils.py,
    exercised at builtin_suite.py:1403-1534): declare what partitioning /
    input schema a transformer requires; violations fail fast on the
    driver before any job is launched."""
    if not rules:
        return
    presort_names = [n for n, _ in spec.presort]
    presort_full = [f"{n} {'asc' if a else 'desc'}" for n, a in spec.presort]
    for rule, want in rules.items():
        want_list = [want] if isinstance(want, str) else list(want)
        if rule == "partitionby_has":
            missing = [w for w in want_list if w not in spec.by]
            if missing:
                raise ValueError(f"partition keys must include {missing}, got {spec.by}")
        elif rule == "partitionby_is":
            if sorted(spec.by) != sorted(want_list):
                raise ValueError(f"partition keys must be {want_list}, got {spec.by}")
        elif rule == "presort_has":
            norm = [w.strip().lower() if " " in w else f"{w} asc" for w in want_list]
            missing = [w for w in norm if w not in presort_full and w.split()[0] not in presort_names]
            if missing:
                raise ValueError(f"presort must include {missing}, got {presort_full}")
        elif rule == "presort_is":
            norm = [w.strip().lower() if " " in w.strip() else f"{w.strip()} asc" for w in want_list]
            if norm != presort_full:
                raise ValueError(f"presort must be {norm}, got {presort_full}")
        elif rule == "input_has":
            missing = [w for w in want_list if w.split(":")[0] not in df.columns]
            if missing:
                raise ValueError(f"input must contain columns {missing}")
        elif rule == "input_is":
            from fugue_spark.schema import parse_schema, schema_to_string

            want_schema = schema_to_string(parse_schema(",".join(want_list)))
            got = schema_to_string(df.schema)
            if want_schema != got:
                raise ValueError(f"input schema must be {want_schema}, got {got}")
        else:
            raise ValueError(f"unknown validation rule {rule!r}")


def _sort_pandas(pdf: pd.DataFrame, presort: list[tuple[str, bool]]) -> pd.DataFrame:
    if not presort:
        return pdf
    return pdf.sort_values(
        [n for n, _ in presort],
        ascending=[a for _, a in presort],
        na_position="last",
        kind="mergesort",
    )




def _needs_pandas_conv(dt: T.DataType) -> bool:
    """Fields whose ``pyarrow.Table.to_pandas`` output differs from pyspark's
    mapInPandas conversion semantics (tz localization, map→dict, struct
    field handling) and need the pyspark converter applied."""
    return isinstance(dt, (T.TimestampType, T.StructType, T.MapType)) or (
        isinstance(dt, T.ArrayType) and _needs_pandas_conv(dt.elementType)
    )


def _table_to_pandas(tbl: pa.Table, fields: list, tz: str) -> pd.DataFrame:
    """One whole-partition Arrow→pandas conversion with pyspark's
    mapInPandas semantics (serializers.py arrow_to_pandas): date_as_object,
    nanosecond coercion, and — only for the fields that need it — the
    pyspark per-column converter (maps become dicts, tz-aware timestamps
    localize). Converting once per partition instead of once per Arrow
    batch removes the per-batch conversion + pd.concat the pandas
    serializer pays, and yields a consolidated frame (fast block slicing).
    """
    pdf = tbl.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    for i, f in enumerate(fields):
        if _needs_pandas_conv(f.dataType):
            from pyspark.sql.pandas.types import _create_converter_to_pandas

            conv = _create_converter_to_pandas(
                f.dataType,
                nullable=True,
                timezone=tz,
                struct_in_pandas="dict",
                error_on_duplicated_field_names=True,
                ndarray_as_list=False,
            )
            pdf.isetitem(i, conv(pdf.iloc[:, i]))
    return pdf


class _LazyColCache(dict):
    """Drop-in ``DataFrame._item_cache`` that builds column Series lazily as
    zero-copy slices of the PARENT partition frame's column arrays.

    pandas' own column access (``pdf.x`` / ``pdf['x']``) goes
    ``__getattr__ → __getitem__ → _get_item_cache → _ixs → _box_col_values``
    — ~50µs per cold access, which dominates small-group transformer
    workloads (75% of worker CPU on the q11 profile). ``_get_item_cache``
    consults ``self._item_cache.get(item)`` first, so a cache whose ``get``
    *constructs* the Series on demand short-circuits the whole chain —
    and ``_FastGroupFrame`` consults it even earlier, straight from
    ``__getattr__``. The Series is hand-assembled (block + bare
    SingleBlockManager) rather than via ``mgr.get_slice`` — ~3.8µs vs
    ~5.6µs per cold access, measured — and only for columns the user
    function touches.

    Mutation safety: every pandas mutation path invalidates the item cache
    through ``clear`` / ``pop`` / ``del`` (frame.py:4624, 4576;
    generic.py:4511 in pandas 2.2) — each flips ``dead`` here, after which
    ``get`` behaves like a plain dict and pandas rebuilds Series from the
    group frame's own (current) blocks. Under copy-on-write pandas bypasses
    the item cache entirely, so this class is inert-but-harmless there.
    """

    __slots__ = ("data", "a", "b", "ridx", "bp", "dead")

    def __init__(self, data: dict, a: int, b: int, ridx, bp):
        super().__init__()
        self.data = data  # {col: (parent values array, block type, SBM type)}
        self.a = a
        self.b = b
        self.ridx = ridx
        self.bp = bp  # BlockPlacement(0..len) shared per group length
        self.dead = False

    def get(self, key, default=None):
        res = dict.get(self, key, None)
        if res is not None or self.dead:
            return res if res is not None else default
        cd = self.data.get(key)
        if cd is None:
            return default
        arr, blk_type, sbm_type = cd
        block = blk_type(arr[self.a : self.b], placement=self.bp, ndim=1)
        sm = sbm_type.__new__(sbm_type)
        sm.axes = [self.ridx]
        sm.blocks = (block,)
        s = pd.Series._from_mgr(sm, axes=sm.axes)
        object.__setattr__(s, "_name", key)
        dict.__setitem__(self, key, s)
        return s

    def clear(self):
        self.dead = True
        dict.clear(self)

    def pop(self, key, *default):
        self.dead = True
        return dict.pop(self, key, *default)

    def __delitem__(self, key):
        self.dead = True
        dict.__delitem__(self, key)


class _FastGroupFrame(pd.DataFrame):
    """Group-frame subclass that serves column access straight from the
    lazy column cache, skipping pandas' ``__getattr__ → __getitem__ →
    _get_item_cache`` ceremony (~2.5µs of pure dispatch per cold access on
    top of Series construction; 4 accesses/group on the q11 profile).

    Any operation that *derives* a new object returns a plain
    ``pd.DataFrame``/``pd.Series`` (``_constructor``), so the fast path
    lives exactly as long as the group frame itself. Falls back to stock
    pandas behavior whenever the cache is dead (mutation) or the name is
    not a column."""

    @property
    def _constructor(self):
        return pd.DataFrame

    @property
    def _constructor_sliced(self):
        return pd.Series

    def __getattr__(self, name):
        c = self._item_cache
        if type(c) is _LazyColCache:
            s = c.get(name)
            if s is not None:
                return s
        return super().__getattr__(name)

    def __getitem__(self, key):
        if type(key) is str:
            c = self._item_cache
            if type(c) is _LazyColCache:
                s = c.get(key)
                if s is not None:
                    return s
        return super().__getitem__(key)


def _group_frame_maker(pdf: pd.DataFrame):
    """Per-group frame factory: direct block row-slices — the same zero-copy
    views ``iloc`` produces, minus the indexing machinery — plus a lazy
    column cache (see _LazyColCache) so the user function's column accesses
    skip pandas' Series-boxing chain. Together ~35% off per-group worker
    cost on small groups vs plain ``iloc`` (q11 profile, pinned core).
    Verifies one group against ``iloc`` at build time and falls back to
    ``iloc`` if pandas internals move."""
    try:
        from pandas._libs.internals import BlockPlacement
        from pandas.core.internals.managers import BlockManager, SingleBlockManager

        mgr = pdf._mgr
        blocks = tuple(mgr.blocks)
        cols = pdf.columns
        from_mgr = _FastGroupFrame._from_mgr
        bm_new = BlockManager.__new__
        col_data = {}
        for c in cols:
            cm = pdf[c]._mgr  # SingleBlockManager (unique columns only)
            blk = cm.blocks[0]
            col_data[c] = (blk.values, type(blk), SingleBlockManager)
        idx_cache: dict[int, tuple] = {}

        def make(a: int, b: int) -> pd.DataFrame:
            L = b - a
            cached = idx_cache.get(L)
            if cached is None:
                cached = (pd.RangeIndex(L), BlockPlacement(slice(0, L)))
                idx_cache[L] = cached
            ridx, bp = cached
            sl = slice(a, b)
            bm = bm_new(BlockManager)
            bm.axes = [cols, ridx]
            bm.blocks = tuple(blk.slice_block_rows(sl) for blk in blocks)
            df = from_mgr(bm, axes=bm.axes)
            df._item_cache = _LazyColCache(col_data, a, b, ridx, bp)
            return df

        # smoke-verify one group against the public API before trusting it
        if len(pdf):
            n = min(2, len(pdf))
            got, want = make(0, n), pdf.iloc[0:n].reset_index(drop=True)
            assert list(got.columns) == list(want.columns)
            assert got.dtypes.equals(want.dtypes)
            assert all(got[c].equals(want[c]) for c in got.columns)
        return make
    except Exception:  # pragma: no cover - pandas-internals fallback
        return lambda a, b: pdf.iloc[a:b]


def _arrow_group_bounds(tbl: pa.Table, keys: list[str]):
    """Run-length group bounds + per-key numpy arrays straight from the
    Arrow table — no pandas materialization of the key columns. Valid when
    every key is integer/bool with zero NULLs (the overwhelmingly common
    case for join/group keys); returns None otherwise so the caller falls
    back to the pandas path (which owns the NaN-is-a-key contract)."""
    import numpy as np

    arrs = []
    for k in keys:
        c = tbl.column(k)
        t = c.type
        if c.null_count != 0 or not (pa.types.is_integer(t) or pa.types.is_boolean(t)):
            return None
        arrs.append(c.to_numpy(zero_copy_only=False))
    if tbl.num_rows == 0:
        return np.array([0]), arrs
    diff = None
    for a in arrs:
        d = a[1:] != a[:-1]
        diff = d if diff is None else (diff | d)
    bounds = np.flatnonzero(np.r_[True, diff, True])
    return bounds, arrs


def _group_bounds(pdf: pd.DataFrame, keys: list[str]):
    """Run-length group boundaries over key columns whose groups are
    unbroken runs (the grouped engine's JVM sort makes them so): one
    vectorized factorize per key + a diff finds every group in O(n) — no
    pandas groupby object, no per-group index construction, no copies.
    """
    # integer/bool keys need no factorize — the raw values ARE valid codes
    # for the run-length diff (floats need factorize for the NaN-is-a-key
    # contract, objects/strings for comparability)
    def _codes(col: pd.Series):
        if col.dtype.kind in "iub":
            return col.to_numpy()
        return pd.factorize(col, use_na_sentinel=False)[0]

    if not len(pdf):
        return np.array([0])
    diff = None
    for k in keys:
        c = _codes(pdf[k])
        d = c[1:] != c[:-1]
        diff = d if diff is None else (diff | d)
    return np.flatnonzero(np.r_[True, diff, True])


class _ArrowResultBatcher:
    """Accumulate per-group transformer results and flush as few, large
    Arrow RecordBatches — no pandas on the output boundary for the common
    result forms. dict results (the cheap output form) go straight to
    ``pa.Table.from_pylist`` against the output schema (~4× cheaper than
    building a pandas frame and letting the serializer re-convert it);
    pa.Table results are conformed and cast Arrow-side; pandas/iterable
    results take one ``from_pandas`` per flush.

    Flushing is bounded by buffered rows as well as result count (user
    functions returning large per-group frames don't multiply peak
    executor memory). Output row order within a flush groups dict-rows
    before other results; the engine's output order is unspecified.
    """

    def __init__(
        self,
        out_cols: list[str],
        arrow_schema: "pa.Schema",
        name: str,
        safe_names: "list[str] | None" = None,
        chunk: int = 1024,
        row_chunk: int = 65536,
    ):
        self.out_cols = out_cols
        self.schema = arrow_schema  # fields carry the USER-visible names
        self.safe_names = safe_names  # exec-plan names, if they differ
        self.name = name
        self.chunk = chunk
        self.row_chunk = row_chunk
        self.nested_cols = {
            f.name
            for f in arrow_schema
            if pa.types.is_list(f.type)
            or pa.types.is_large_list(f.type)
            or pa.types.is_fixed_size_list(f.type)
            or pa.types.is_struct(f.type)
            or pa.types.is_map(f.type)
        }
        self.dicts: list[dict] = []
        self.tables: list[pa.Table] = []
        self.n = 0
        self.rows = 0

    def _conform_arrow(self, t: pa.Table) -> pa.Table:
        if t.column_names != self.out_cols:
            if set(self.out_cols) <= set(t.column_names):
                t = t.select(self.out_cols)
            elif len(t.column_names) == len(self.out_cols):
                t = t.rename_columns(self.out_cols)
            else:
                raise ValueError(
                    f"{self.name}: output columns {t.column_names} do not "
                    f"match schema {self.out_cols}"
                )
        if t.schema != self.schema:
            t = t.cast(self.schema)
        return t

    def add(self, res: Any) -> "list[pa.RecordBatch] | None":
        if res is None:
            return None
        if isinstance(res, dict):
            # dict-of-arrays (schema-aware, see _expand_dict_result): one
            # output row per element, scalars broadcast; array cells aimed
            # at array-typed columns stay single-row
            if any(
                isinstance(v, (pa.Array, pa.ChunkedArray)) and k not in self.nested_cols
                for k, v in res.items()
            ):
                res = {
                    k: (v.to_pandas() if isinstance(v, (pa.Array, pa.ChunkedArray)) else v)
                    for k, v in res.items()
                }
            res = _expand_dict_result(res, self.nested_cols)
        if isinstance(res, dict):
            self.dicts.append(res)
            self.rows += 1
        elif isinstance(res, pa.Table):
            if res.num_rows == 0:
                return None
            self.tables.append(self._conform_arrow(res))
            self.rows += res.num_rows
        elif isinstance(res, pa.RecordBatch):
            if res.num_rows == 0:
                return None
            self.tables.append(self._conform_arrow(pa.Table.from_batches([res])))
            self.rows += res.num_rows
        else:
            pdf = _conform(_result_to_pandas(res, self.out_cols), self.out_cols, self.name)
            if len(pdf) == 0:
                return None
            self.tables.append(
                pa.Table.from_pandas(pdf, schema=self.schema, preserve_index=False)
            )
            self.rows += len(pdf)
        self.n += 1
        if self.n >= self.chunk or self.rows >= self.row_chunk:
            return self.flush()
        return None

    def flush(self) -> "list[pa.RecordBatch] | None":
        if self.n == 0:
            return None
        parts = []
        if self.dicts:
            parts.append(pa.Table.from_pylist(self.dicts, schema=self.schema))
            self.dicts = []
        parts.extend(self.tables)
        self.tables = []
        self.n = 0
        self.rows = 0
        if not parts:
            return None
        out = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        if out.num_rows == 0:
            return None
        if self.safe_names is not None:
            out = out.rename_columns(self.safe_names)
        return out.to_batches()


def _partition_no() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _map_groups(
    df: DataFrame,
    keys: list[str],
    presort: list,
    sides: "list[tuple[list[str], list[str], str]]",
    run: "Callable[[list[Any], PartitionCursor], Any]",
    out_schema: T.StructType,
    cursor_keys: list[str],
    exec_schema: "T.StructType | None" = None,
    required: "Iterable[int]" = (),
    name: str = "transform",
) -> DataFrame:
    """The grouped map engine: ``transform`` with ``partition.by`` is its
    one-input caller, ``cotransform`` its N-input caller.

    ``df`` arrives exchanged so that every key group sits in one
    partition. One JVM ``sortWithinPartitions`` — NaN-safe ``keys``
    ascending, nulls first, then the ``presort`` Column expressions — makes
    every group one unbroken run of the partition's Arrow stream, so inside
    ``mapInArrow`` groups are found by run-length (no pandas groupby, no
    per-group sort) and ``run(frames, cursor)`` is called once per group.
    One Arrow stream per PARTITION instead of a JVM↔Python round trip per
    GROUP beats ``groupBy().applyInPandas`` by 10-50× on small groups.

    ``sides[i] = (columns, names, form)``: the columns of ``df`` that make
    up input i, the names the function sees, and its form — ``'pa'`` gets
    zero-copy ``Table.slice`` views, ``'pd'`` one pandas conversion per
    partition, block-sliced per group (see _group_frame_maker). With more
    than one side every row carries a ``__tag__`` naming its side: each
    side is tag-filtered once per partition, and the exclusive prefix sum
    of its tag mask, read at the group bounds, maps every group to the
    side's slice; one vectorized pass over those positions skips, before
    any frame is built, the groups where a side in ``required`` has no
    rows. With one side a group's slice is its bounds.

    ``cursor_keys`` are the names the cursor reports for ``keys``; empty
    when the function reads no key values (or the key is a surrogate), in
    which case one shared key-less cursor per partition saves the per-group
    extraction. ``run`` returns the raw user result (None skips the group);
    the _ArrowResultBatcher conforms and batches it. ``exec_schema`` is the
    plan-side output schema when its names differ from ``out_schema``'s.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    df = df.sortWithinPartitions(
        *[e.asc_nulls_first() for e in _nan_safe_key_exprs(df, keys)], *presort
    )
    exec_schema = exec_schema or out_schema
    out_cols = out_schema.names
    arrow_out_schema = to_arrow_schema(out_schema)  # user-visible names
    safe_names = exec_schema.names if exec_schema.names != out_cols else None
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    key_fields = [df.schema[k] for k in keys]
    side_fields = [[df.schema[c] for c in cols] for cols, _, _ in sides]
    tagged = len(sides) > 1

    def udf(it: "Iterable[pa.RecordBatch]") -> "Iterable[pa.RecordBatch]":
        it = iter(it)
        first = next(it, None)
        if first is None:
            return
        tbl = pa.Table.from_batches(list(itertools.chain([first], it)))
        if tbl.num_rows == 0:
            return
        # null-free integer keys: bounds + key arrays straight from Arrow,
        # skipping the key-column pandas materialization
        fast = _arrow_group_bounds(tbl, keys)
        if fast is not None:
            bounds, karrs = fast
        else:
            kpdf = _table_to_pandas(tbl.select(keys), key_fields, tz)
            bounds = _group_bounds(kpdf, keys)
            karrs = [kpdf[k].to_numpy() for k in keys]
        tags = tbl.column("__tag__").to_numpy() if tagged else None
        makers: list[Any] = []
        empties: list[Any] = []
        pos: list[list[int]] = []  # per side: its row position at each bound
        keep = np.ones(len(bounds) - 1, dtype=bool)  # groups to emit
        for i, ((cols, names, form), fields) in enumerate(zip(sides, side_fields)):
            # select is zero-copy, so the C++ filter kernel only touches
            # this side's columns, not the other sides' NULL padding; the
            # filter also drops that padding before pandas conversion, so a
            # side leaves with its input's Arrow types (no astype pass)
            stbl = tbl if cols == tbl.column_names else tbl.select(cols)
            if tagged:
                mask = tags == i
                stbl = stbl.filter(pa.array(mask))
                p = np.concatenate(([0], np.cumsum(mask)))[bounds]
                if i in required:
                    keep &= p[1:] > p[:-1]
                pos.append(p.tolist())
            stbl = stbl.rename_columns(names)
            if form == "pa":
                makers.append(lambda a, b, _t=stbl: _t.slice(a, b - a))
                empties.append(stbl.slice(0, 0))
            else:
                f = _table_to_pandas(stbl, fields, tz)
                makers.append(_group_frame_maker(f))
                empties.append(f.iloc[0:0])
        starts = bounds.tolist()
        pno = _partition_no()
        shared_cursor = PartitionCursor([], [], pno)
        batcher = _ArrowResultBatcher(
            out_cols, arrow_out_schema, name, safe_names=safe_names
        )
        for g in np.flatnonzero(keep).tolist():
            a = starts[g]
            if tagged:
                frames = [
                    make(p[g], p[g + 1]) if p[g + 1] > p[g] else empty
                    for make, empty, p in zip(makers, empties, pos)
                ]
            else:
                frames = [makers[0](a, starts[g + 1])]
            if cursor_keys:
                kv = [
                    None if isinstance(v, float) and pd.isna(v) else v
                    for v in (arr[a] for arr in karrs)
                ]
                cursor = PartitionCursor(cursor_keys, kv, pno)
            else:
                cursor = shared_cursor
            out = batcher.add(run(frames, cursor))
            if out is not None:
                yield from out
        out = batcher.flush()
        if out is not None:
            yield from out

    return df.mapInArrow(udf, schema=exec_schema)


def transform(
    df: DataFrame,
    using: Any,
    schema: Any = None,
    partition: "PartitionSpec | dict | int | str | None" = None,
    params: "dict | None" = None,
    ignore_errors: "tuple | list" = (),
    on_init: "Callable[[], None] | None" = None,
    discard_output: bool = False,
    callback: "Callable | None" = None,
    validations: "dict | None" = None,
    compile: "bool | str | None" = None,
) -> DataFrame:
    """Apply ``using`` to every logical partition of ``df``.

    ``compile`` selects the aggregation trace-compiler: the function is
    executed once with symbolic inputs, and if it reduces to a dict of
    aggregation expressions the whole transform runs as a native
    ``groupBy().agg`` (whole-stage codegen, map-side partial aggregation —
    no Python workers). The DEFAULT (``None`` = auto) attempts the trace on
    every grouped call and silently falls back to the pandas path whenever
    the function is untraceable (value-dependent branches, side effects,
    unsupported ops) — zero user-code change, the compiled plan when it is
    provably equivalent, the pandas plan otherwise. ``compile=False`` opts
    out entirely (and is honored globally via env
    ``FUGUE_SPARK_AUTO_COMPILE=0``); ``compile="strict"`` raises instead of
    falling back; ``compile=True`` additionally allows keyless functions to
    compile as GLOBAL aggregations (auto refuses those: the pandas result
    there is one row per physical partition). See fugue_spark/compile.py
    for the traceable surface.

    Scale posture: grouped path is one hash exchange on the keys (Catalyst
    plans the shuffle, AQE sizes it); ungrouped path is shuffle-free. The
    user function only ever sees one logical partition in memory — with an
    ``Iterable[pd.DataFrame]`` annotation it sees Arrow-sized batches and
    can stream, so worker memory is bounded by batch size, not partition
    size.

    Group-frame contract: frames handed to the function are zero-copy
    slices of the partition block with a fresh zero-based RangeIndex.
    Prefer POSITIONAL access (``.iloc``, ``.values``); mutating a group
    frame in place writes through to the partition buffer (copy first if
    the function both mutates and re-reads other groups' data).
    """
    spec = partition if isinstance(partition, PartitionSpec) else PartitionSpec(partition)
    fn, comment_schema, is_class = _resolve_fn(using)
    _check_validations(
        validations if validations is not None else getattr(fn, "validations", None),
        df,
        spec,
    )
    out_schema = _output_schema(fn, schema, comment_schema, df.schema)
    out_cols = [f.name for f in out_schema.fields]
    kwargs = dict(params or {})
    err_types = tuple(ignore_errors)
    if callback is not None:
        # driver-side handler, picklable stub into the worker closure
        from fugue_spark.rpc import start_callback_server

        kwargs["callback"] = start_callback_server(callback)

    if is_class:
        inst = fn
        in_form = _IN_PANDAS
        if "callback" in kwargs:
            inst.callback = kwargs.pop("callback")

        def call(pdf: pd.DataFrame, cursor: PartitionCursor) -> pd.DataFrame:
            inst.cursor = cursor
            return inst.transform(pdf)

        init_fn = inst.on_init
        wants_cursor = True  # the instance reads inst.cursor
    else:
        sig = inspect.signature(fn)
        sig_params = list(sig.parameters.values())
        wants_cursor = bool(sig_params) and sig_params[0].name == "cursor"
        data_param = sig_params[1] if wants_cursor else (sig_params[0] if sig_params else None)
        if data_param is None:
            raise ValueError("transformer function needs a data parameter")
        try:
            hints = typing.get_type_hints(fn)
        except Exception:
            hints = {}
        in_form = _classify(hints.get(data_param.name, data_param.annotation), _IN_PANDAS)

        def call(pdf: pd.DataFrame, cursor: PartitionCursor) -> Any:
            data = _to_input(pdf, in_form)
            if wants_cursor:
                return fn(cursor, data, **kwargs)
            return fn(data, **kwargs)

        init_fn = (lambda _schema: on_init()) if on_init is not None else None

    presort = spec.presort
    keys = list(spec.by)
    input_schema = df.schema

    # pyspark's pandas-UDF entry points cannot resolve exotic field names
    # (e.g. a literal '.'); run the exchange under safe aliases and restore
    # the user-visible names at both pandas boundaries.
    orig_in = list(df.columns)
    safe_in = [
        c if _SAFE_NAME_RE.fullmatch(c) else f"__fugue_in_{i}__"
        for i, c in enumerate(orig_in)
    ]
    rename_in = safe_in != orig_in
    safe_out = [
        c if _SAFE_NAME_RE.fullmatch(c) else f"__fugue_out_{i}__"
        for i, c in enumerate(out_cols)
    ]
    rename_out = safe_out != out_cols
    if rename_in:
        df = df.toDF(*safe_in)
    name_to_safe = dict(zip(orig_in, safe_in))
    exec_schema = (
        T.StructType(
            [T.StructField(s, f.dataType, True) for s, f in zip(safe_out, out_schema.fields)]
        )
        if rename_out
        else out_schema
    )

    def _restore_in(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.set_axis(orig_in, axis=1) if rename_in else pdf

    def _to_safe_out(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.set_axis(safe_out, axis=1) if rename_out else pdf

    init_state: list[bool] = []  # once per python worker (≈ physical partition)

    def maybe_init() -> None:
        if init_fn is not None and not init_state:
            init_state.append(True)
            init_fn(input_schema)

    def run_one(pdf: pd.DataFrame, cursor: PartitionCursor) -> pd.DataFrame:
        pdf = _sort_pandas(pdf, presort)
        try:
            res = call(pdf, cursor)
            out = _result_to_pandas(res, out_cols, _nested_out_cols(out_schema))
            if discard_output:
                return pd.DataFrame(columns=out_cols)
            return _conform(out, out_cols, "transform")
        except err_types:
            return pd.DataFrame(columns=out_cols)

    safe_keys = [name_to_safe[k] for k in keys]

    from fugue_spark.compile import TraceError, compile_or_fallback, try_compile_aggregation

    def compiled(mode: "bool | str") -> DataFrame:
        if is_class:
            raise TraceError("class transformers are not traceable")
        if err_types or init_fn is not None or discard_output or "callback" in kwargs:
            raise TraceError("compile is incompatible with ignore_errors/on_init/callback")
        return try_compile_aggregation(
            df,
            fn,
            keys,
            presort,
            out_schema,
            kwargs,
            wants_cursor,
            name_to_safe,
            in_schema=input_schema,
            allow_ungrouped_agg=(mode != "auto"),
            purity_check=(mode == "auto"),
        )

    compiled_df = compile_or_fallback(compile, compiled, "pandas")
    if compiled_df is not None:
        return compiled_df

    if keys:
        if spec.algo in ("default", "hash"):
            # one hash exchange on the NaN-safe keys. The count is pinned
            # explicitly: AQE would otherwise coalesce by BYTE size,
            # collapsing a python-cost-heavy stage onto one core.
            num = spec.resolve_num(df)
            if num <= 0:
                # python stages are CPU-bound: parallelism is core-bound, not
                # byte-bound, so a byte-sized shuffle conf (tune_for_input on
                # a small input) must not throttle the python workers
                num = max(
                    int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
                    df.sparkSession.sparkContext.defaultParallelism,
                )
            df = df.repartition(num, *_nan_safe_key_exprs(df, safe_keys))
        else:
            df = apply_partition_spec(
                df, PartitionSpec(by=safe_keys, num=spec.num, algo=spec.algo)
            )
        from pyspark.sql import functions as F

        def run(frames: "list[Any]", cursor: PartitionCursor) -> Any:
            maybe_init()
            try:
                res = call(frames[0], cursor)
            except err_types:
                return None
            return None if discard_output else res

        res = _map_groups(
            df,
            safe_keys,
            # nulls-last on data columns = the pandas na_position="last"
            # contract of the reference
            [
                F.col(name_to_safe[n]).asc_nulls_last()
                if asc
                else F.col(name_to_safe[n]).desc_nulls_last()
                for n, asc in presort
            ],
            [(safe_in, orig_in, "pa" if in_form in (_IN_ARROW, _IN_ITER_ARROW) else "pd")],
            run,
            out_schema,
            # class transformers read inst.cursor; bare functions only need
            # the per-group key values if they declared a cursor parameter
            keys if wants_cursor else [],
            exec_schema=exec_schema,
        )
        return res.toDF(*out_cols) if rename_out else res

    # ungrouped: apply per physical partition (coarse) via mapInPandas
    df = apply_partition_spec(df, spec)
    streaming = (
        not is_class
        and in_form in (_IN_ITER_PANDAS, _IN_ITER_ARROW)
        and not presort
        and not err_types
        and not discard_output
    )

    if streaming and in_form == _IN_ITER_ARROW and not rename_in and not rename_out:
        # true arrow path: no pandas materialization at either boundary
        # (also sidesteps pandas timestamp munging — the reference needed
        # special handling there, execution_engine.py:300-305)
        def arrow_udf(it: "Iterable[pa.RecordBatch]") -> "Iterable[pa.RecordBatch]":
            it = iter(it)
            first = next(it, None)
            if first is None:
                return
            maybe_init()
            cursor = PartitionCursor([], [], _partition_no())
            tables = (
                pa.Table.from_batches([b]) for b in itertools.chain([first], it)
            )
            res = fn(cursor, tables, **kwargs) if wants_cursor else fn(tables, **kwargs)
            if isinstance(res, pa.Table):
                res = [res]
            for t in res:
                t = t.select(out_cols) if set(out_cols) <= set(t.column_names) else t
                yield from t.to_batches()

        return df.mapInArrow(arrow_udf, schema=out_schema)

    def map_udf(it: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        it = iter(it)
        first = next(it, None)
        if first is None:
            return  # skip empty physical partitions (reference behavior)
        chain = (_restore_in(b) for b in itertools.chain([first], it))
        maybe_init()
        cursor = PartitionCursor([], [], _partition_no())
        if streaming:
            # feed batches straight through — bounded memory
            batches: Any = chain
            if in_form == _IN_ITER_ARROW:
                batches = (pa.Table.from_pandas(b, preserve_index=False) for b in chain)
            res = fn(cursor, batches, **kwargs) if wants_cursor else fn(batches, **kwargs)
            out = _result_to_pandas(res, out_cols, _nested_out_cols(out_schema))
            yield _to_safe_out(_conform(out, out_cols, "transform"))
        else:
            pdf = pd.concat(list(chain), ignore_index=True)
            yield _to_safe_out(run_one(pdf, cursor))

    res = df.mapInPandas(map_udf, schema=exec_schema)
    return res.toDF(*out_cols) if rename_out else res


def out_transform(
    df: DataFrame,
    using: Any,
    partition: "PartitionSpec | dict | int | str | None" = None,
    params: "dict | None" = None,
    ignore_errors: "tuple | list" = (),
    on_init: "Callable[[], None] | None" = None,
) -> None:
    """Run a transformer for its side effects, eagerly, discarding output
    (reference: workflow.py:570 out_transform; output schema is a dummy)."""
    res = transform(
        df,
        using,
        schema="__dummy__:int",
        partition=partition,
        params=params,
        ignore_errors=ignore_errors,
        on_init=on_init,
        discard_output=True,
    )
    res.count()
