"""Aggregation trace-compiler: run a per-group transformer (or zip
co-transformer) function ONCE against symbolic proxies; if it reduces to a
dict of aggregation expressions, execute the whole operation as native
Catalyst aggregation — whole-stage codegen, map-side partial aggregation,
no Python workers.

Why: the pandas-path floor for tiny groups is ~70µs/group of pure Python
(frame slice + Series boxing + numpy-on-4-rows), which keeps q11-shaped
workloads >2× DuckDB however well tuned. A reduction expressed as Catalyst
aggregates shuffles only partial agg states — at 100 TB that is the
difference between a python-bounded stage and a codegen'd one.

On by default (auto mode; ``compile=False`` or
``FUGUE_SPARK_AUTO_COMPILE=0`` turns it off, ``compile=True``/``"strict"``
forces it): tracing assumes the function is side-effect-free and runs it
once with proxy inputs, so functions that branch on data values or mutate
state raise ``TraceError`` and (non-strict) fall back to the pandas path
unchanged. Auto mode additionally refuses functions that fail
:func:`assert_statically_pure`.

Traceable surface (kept deliberately small and exact):
  * column access: ``pdf.col`` / ``pdf['col']``; ``.values`` / ``.to_numpy()``
  * elementwise arithmetic ``+ - * / // % **``, unary ``-``/``abs``,
    comparisons, ``& | ~``; ``np.round``/``.round(n)``, ``np.sqrt``,
    ``np.log``, ``np.log1p``, ``np.exp``, ``np.abs``, ``np.floor``,
    ``np.ceil`` (ufunc protocol); ``np.where(cond, a, b)`` → CASE WHEN
    (NEP-18); ``.astype(dtype)``; ``.fillna(const)``
  * reductions: ``.sum() .min() .max() .mean() .count() .nunique()``,
    ``pdf.shape[0]``, ``t.num_rows``, ``series.size``
  * ``int(x)`` / ``float(x)`` / ``len(pdf)`` as DIRECT calls in the
    function's own source: the call sites are rewritten to traced twins
    (:func:`_rewrite_builtins`), so ``len(pdf)`` is the group's count(*)
    and composes like any reduction (``pdf.x.sum() / len(pdf)``). ``len``
    reached where the rewriter cannot see it (a helper function, a lambda,
    a function without readable source, a shadowed ``len``) raises
    ``TraceError`` — CPython forces ``__len__`` to return a real int
  * first-row access ``col.iloc[0]`` / ``col.values[0]`` — compiled to the
    group key (constant), or to ``min_by``/``max_by`` over the declared
    presort; without a presort a non-key first-row access fails the trace
    (it would be nondeterministic on the pandas path too)
  * filtered-subset reductions ``pdf[mask].col.sum()`` → conditional
    aggregates (``sum(CASE WHEN mask THEN col END)``) with pandas'
    empty-subset contract (sum→0, mean/std/var/median→NaN, count→0;
    min/max of an empty subset: SQL NULL where pandas gives NaN — the one
    divergence). Columns read through DIFFERENT filters refuse to combine.
  * row-shaped outputs: a function RETURNING ``pdf[mask]`` /
    ``pdf.assign(...)`` / a projection compiles to native filter/select —
    no exchange at all (see _compile_map_shape)
  * ``.str`` accessor: contains (literal or regex) / startswith /
    endswith / len / lower / upper / strip / replace with constant
    patterns (_StrOps) — text filters stay JVM-side
  * per-group top-k: ``sort_values(...).head(k)`` (or ``head(k)`` under a
    declared presort) → native ``row_number`` window ≤ k; requires
    partition keys (ties at the k boundary are engine-arbitrary, as on
    the pandas path whose input order is partition-dependent)
  * ordered dedup: ``sort_values(...).drop_duplicates(subset, keep=...)``
    → ``row_number()==1`` over (keys + subset); unordered dedup refuses
    (pandas keep='first' would be input-order-dependent)
  * scalar arithmetic on reduced values — including across zip sides (each
    reduction is registered as a per-side aggregation leaf; composite
    expressions combine the leaves after the join); output must be a dict
  * dict-of-arrays outputs: a dict mixing PER-ROW vectors with reductions
    (``{"id": pdf.id, "share": pdf.x / pdf.x.sum(), "n": len(pdf)}``)
    compiles to a WINDOW plan — reductions become ``agg OVER (PARTITION BY
    keys)``, every group row emits one output row (_compile_window_shape);
    the same dict runs as a multi-row result on the pandas path
  * ``assign`` from a reduction (``pdf.assign(share=pdf.x / pdf.x.sum())``)
    — the row-shaped output gains window-aggregate columns; reductions are
    computed over the WHOLE group before any returned-row filter, matching
    the pandas read order
  * ordered running transforms over the declared presort: ``.cumsum()``
    ``.cummax()`` ``.cummin()`` ``.shift(n, fill_value=)`` ``.diff(n)`` →
    ordered window functions (running agg / lag); require partition keys
    AND a presort, refuse through row filters (pandas would align by index)

Compiled plans:
  * transform  → ``df.groupBy(keys).agg(leaves)`` + output projection
  * transform (per-row outputs) → window plan: leaves as ``agg OVER
    (PARTITION BY keys)``, one exchange, no Python stage
  * cotransform (inner zip) → per-side ``groupBy(keys).agg(side leaves)``
    joined on the keys (inner join ≡ the zip engine's skip-empty-group
    rule), then the output projection combines sides' leaves

Proxies hold SQL text, not Columns: the trace is pure Python and sends no
py4j command. Columns are built once per compiled plan, in one lowering
step (``F.expr`` for group keys and leaves, ``selectExpr`` for outputs —
see :func:`_lowered`). Rendering rules (:func:`_sql_lit`, :func:`_qid`):
identifiers are back-quoted with inner backticks doubled; every binary
operation renders as ``(a OP b)`` with spaces (``a - -5`` must not become
the comment ``a--5``); ints keep ``lit``'s INT/BIGINT typing; floats are
DOUBLE literals (``1.5D`` — a bare ``1.5`` is a DECIMAL), NaN and ±inf a
cast; a string renders as its UTF-8 bytes cast to STRING, so neither
``spark.sql.parser.escapedStringLiterals`` nor variable substitution
(``${...}``) touches it and patterns reach Java regex byte-for-byte; a
name holding ``${`` is a TraceError; ``isin([])`` renders as
``false`` (SQL has no empty IN list); key defaults are typed literals
(``DATE '…'``, ``TIMESTAMP_NTZ '…'``, ``X''``).

Rounding caveat: ``np.round`` is round-half-even, Spark/DuckDB ``round``
is half-away-from-zero for positives; they differ only on exact .5
boundaries, which arbitrary doubles essentially never hit. Documented
rather than emulated. (r10: the ``.round().astype(int)`` lowering uses an
exact binary HALF_UP form instead of Spark's BigDecimal round — see
``_Base.astype``; divergence vs pandas is now positive exact .5 only,
negative exact .5 agrees with pandas.)

No reference counterpart: Fugue always executes transformers as Python
(fugue/execution/execution_engine.py:283-315); this rewrite exists because
a Spark-native engine can see through the function to the plan.
"""

from __future__ import annotations

import ast
import inspect
import math
import textwrap
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "TraceError",
    "compile_or_fallback",
    "try_compile_aggregation",
    "try_compile_cotransform",
]


class TraceError(ValueError):
    """The function is not expressible as a Catalyst aggregation."""


def compile_or_fallback(
    mode: "bool | str | None",
    attempt: "Callable[[bool | str], DataFrame]",
    fallback: str,
) -> "DataFrame | None":
    """The compile-or-fall-back ladder shared by ``transform`` and
    ``cotransform``.

    ``mode`` is the caller's ``compile=`` argument: None means auto unless
    the env kill-switch ``FUGUE_SPARK_AUTO_COMPILE=0`` is set (read per
    call so tests and operators can flip it at runtime). ``attempt(mode)``
    returns the compiled plan or raises. Returns None when the caller must
    run its ``fallback`` Python engine instead: compile is off, or the
    function is untraceable (a TraceError, re-raised under ``"strict"``).
    Any other error is a compiler defect, not an untraceable function: it
    is raised when the user asked for compilation (``True``/``"strict"``);
    under auto it warns — a silent fallback would hide tracer regressions —
    and falls back, since the Python engine must always be able to run
    the call.
    """
    import os

    if mode is None:
        off = os.environ.get("FUGUE_SPARK_AUTO_COMPILE", "1").lower()
        mode = False if off in ("0", "false", "no") else "auto"
    if not mode:
        return None
    try:
        return attempt(mode)
    except TraceError:
        if mode == "strict":
            raise
    except Exception as exc:
        if mode == "strict" or mode is True:
            raise
        import warnings

        warnings.warn(
            "fugue_spark auto-compile failed unexpectedly "
            f"({type(exc).__name__}: {exc}); falling back to the "
            f"{fallback} execution path",
            RuntimeWarning,
            stacklevel=3,
        )
    return None


_DTYPES = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
    "double": "double",
    "float": "double",  # numpy-style name
    "int": "bigint",
    "bool": "boolean",
    "boolean": "boolean",
    "str": "string",
    "string": "string",
}


def _cast_name(dtype: Any) -> str:
    name = dtype if isinstance(dtype, str) else getattr(dtype, "name", str(dtype))
    try:
        return _DTYPES[str(name)]
    except KeyError:
        raise TraceError(f"astype({dtype!r}) has no Catalyst mapping")


# -- SQL rendering: the one place Python values and names become SQL text ---
def _qid(name: str) -> str:
    """A back-quoted identifier; inner backticks are doubled. The parser
    substitutes ``${...}`` even inside backticks, so such a name cannot
    be rendered."""
    if "${" in name:
        raise TraceError(f"column name {name!r} holds '${{'")
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v: Any) -> str:
    """SQL text of a Python constant, typed the way ``F.lit`` types it:
    ints are INT when they fit and BIGINT otherwise, floats are DOUBLE
    (``1.5D``; a bare ``1.5`` would be a DECIMAL), NaN/±inf go through a
    cast. A string renders as its UTF-8 bytes cast to STRING (constant-
    folded to a plain literal): no quoting rule, no
    ``spark.sql.parser.escapedStringLiterals`` setting and no ``${...}``
    variable substitution can change it, so regex patterns reach Java
    byte-for-byte."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            raise TraceError(f"integer constant {v} does not fit a bigint")
        return int.__repr__(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
            return f"CAST('{name}' AS DOUBLE)"
        # float.__repr__: the shortest round-trip digits, also for numpy
        # scalars (whose own repr reads np.float64(...))
        return float.__repr__(v).upper() + "D"
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    raise TraceError(f"cannot render {type(v).__name__} as a SQL constant")


def _cast(sql: str, type_name: str) -> str:
    return f"CAST({sql} AS {type_name})"


def _lift(other: Any) -> str:
    if isinstance(other, (_Vec, _Scalar)):
        return other.sql
    if isinstance(other, (int, float, bool, str)):
        return _sql_lit(other)
    raise TraceError(f"cannot mix {type(other).__name__} into a traced expression")


class _TraceCtx:
    """Per-trace registry of aggregation leaves. Every reduction becomes a
    ``(side, aggregate SQL)`` leaf referenced as ``__aggN__``; composite
    scalar expressions are built over the references, so a cross-side
    expression (zip) can still be split into per-side aggregations at
    assembly."""

    __slots__ = ("leaves",)

    def __init__(self):
        self.leaves: list[tuple[int, str]] = []

    def leaf(self, side: int, sql: str) -> "_Scalar":
        i = len(self.leaves)
        self.leaves.append((side, sql))
        return _Scalar(_qid(f"__agg{i}__"))


def _binop(op: str, reflected: bool = False, boolean: bool = False):
    """Operator method rendering ``(a OP b)``: the parentheses keep the
    tree, the spaces keep ``a - -5`` from becoming the comment ``a--5``."""

    def method(self, o):
        a, b = self.sql, self._lift(o)
        if reflected:
            a, b = b, a
        return (self._make_bool if boolean else self._make)(f"({a} {op} {b})")

    return method


class _Base:
    """Shared operator surface for vector (per-row) and scalar (reduced)
    proxies. A proxy holds SQL text (``sql``) and every operation returns a
    new proxy over new text, so a trace is pure Python: no Column exists
    and no py4j command is sent until the compiled plan is lowered, once,
    by ``try_compile_aggregation`` / ``try_compile_cotransform`` and the
    shape compilers (``F.expr`` / ``selectExpr``). Constants and names
    render through :func:`_sql_lit` and :func:`_qid`."""

    # _round0_child: set by round(decimals=0) so astype(int) can fuse the
    # pair into the allocation-free HALF_UP form (see astype)
    __slots__ = ("sql", "_round0_child")

    def __init__(self, sql: str):
        self.sql = sql

    def _make(self, sql: str):
        return type(self)(sql)

    _make_bool = _make

    def _lift(self, other: Any) -> str:
        return _lift(other)

    # arithmetic -----------------------------------------------------------
    __add__ = _binop("+")
    __radd__ = _binop("+", reflected=True)
    __sub__ = _binop("-")
    __rsub__ = _binop("-", reflected=True)
    __mul__ = _binop("*")
    __rmul__ = _binop("*", reflected=True)
    __truediv__ = _binop("/")
    __rtruediv__ = _binop("/", reflected=True)
    __mod__ = _binop("%")

    def __floordiv__(self, o):
        return self._make(_cast(f"floor(({self.sql} / {self._lift(o)}))", "bigint"))

    def __pow__(self, o):
        return self._make(f"power({self.sql}, {self._lift(o)})")

    def __neg__(self):
        return self._make(f"(- {self.sql})")

    def __abs__(self):
        return self._make(f"abs({self.sql})")

    # comparisons / boolean: boolean-typed results on vectors --------------
    __eq__ = _binop("=", boolean=True)  # type: ignore[assignment]
    __ne__ = _binop("!=", boolean=True)  # type: ignore[assignment]
    __lt__ = _binop("<", boolean=True)
    __le__ = _binop("<=", boolean=True)
    __gt__ = _binop(">", boolean=True)
    __ge__ = _binop(">=", boolean=True)
    __and__ = _binop("AND", boolean=True)
    __or__ = _binop("OR", boolean=True)

    def __invert__(self):
        return self._make_bool(f"(NOT {self.sql})")

    # numpy ufunc protocol: SQL templates over the lifted inputs -----------
    _UFUNCS = {
        "sqrt": "sqrt({})",
        "log": "ln({})",
        "log1p": "log1p({})",
        "exp": "exp({})",
        "absolute": "abs({})",
        "fabs": "abs({})",
        "floor": "floor({})",
        "ceil": "ceil({})",
        "rint": "round({}, 0)",
        "negative": "(- {})",
        "minimum": "least({}, {})",
        "maximum": "greatest({}, {})",
    }
    _UFUNC_BINOPS = {
        "add": "__add__",
        "subtract": "__sub__",
        "multiply": "__mul__",
        "true_divide": "__truediv__",
        "divide": "__truediv__",
        "power": "__pow__",
    }

    def __array_function__(self, func, types, args, kwargs):
        # NEP-18 protocol: numpy non-ufunc API over traced expressions.
        # Defining this makes numpy dispatch EVERY array function here
        # (np.round no longer falls through to the .round method), so the
        # common ones are mapped explicitly.
        import numpy as np

        if func is np.where:
            if kwargs or len(args) != 3:
                raise TraceError("only np.where(cond, a, b) is traceable")
            cond, a, b = args
            if not isinstance(cond, _Base):
                raise TraceError("np.where condition must be a traced expression")
            make = cond._make if isinstance(cond, _Vec) else _Scalar
            return make(
                f"CASE WHEN {cond.sql} THEN {cond._lift(a)} ELSE {cond._lift(b)} END"
            )
        if func in (np.round, np.around):
            a = args[0]
            decimals = args[1] if len(args) > 1 else kwargs.get("decimals", 0)
            return a.round(decimals)
        if func is np.clip:
            a = args[0]
            lo = args[1] if len(args) > 1 else kwargs.get("a_min")
            hi = args[2] if len(args) > 2 else kwargs.get("a_max")
            return a.clip(lo, hi)
        _REDUCERS = {np.sum: "sum", np.min: "min", np.max: "max",
                     np.mean: "mean", np.median: "median"}
        if func in _REDUCERS and len(args) == 1 and not kwargs:
            return getattr(args[0], _REDUCERS[func])()
        raise TraceError(
            f"numpy function {getattr(func, '__name__', func)} is not traceable"
        )

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        if method != "__call__" or kwargs.get("out") is not None:
            raise TraceError(f"unsupported ufunc call {ufunc.__name__}.{method}")
        name = ufunc.__name__
        if name in self._UFUNC_BINOPS:
            a, b = inputs
            if isinstance(a, _Base):
                return getattr(a, self._UFUNC_BINOPS[name])(b)
            return getattr(b, "__r" + self._UFUNC_BINOPS[name][2:])(a)
        tmpl = self._UFUNCS.get(name)
        if tmpl is None:
            raise TraceError(f"ufunc {name} is not traceable")
        return self._make(tmpl.format(*[self._lift(x) for x in inputs]))

    # common methods -------------------------------------------------------
    def round(self, decimals: int = 0, out: Any = None, **_kw: Any):
        # np.round(x, n) dispatches here via numpy's _wrapfunc, which
        # passes out= through — accept and reject it explicitly instead of
        # letting numpy fall back to an object-array rint loop
        if out is not None:
            raise TraceError("round(out=...) is not traceable")
        r = self._make(f"round({self.sql}, {int(decimals)})")
        if int(decimals) == 0:
            # remember the pre-round expression so astype(int) can lower
            # round→cast to the allocation-free floor form (see astype)
            r._round0_child = self.sql
        return r

    def astype(self, dtype: Any):
        name = _cast_name(dtype)
        ch = getattr(self, "_round0_child", None)
        if ch is not None and name in ("bigint", "int", "smallint", "tinyint"):
            # .round().astype(int): Spark's round() on doubles allocates a
            # BigDecimal (via Double.toString) per row — measured as 3× the
            # whole aggregate's cost at sf10 (scripts/expr_variants.py q1).
            # Exact replacement: for |x| ≤ 2^51, floor(x) and the fractional
            # part x - floor(x) are both computed exactly in IEEE doubles, so
            # floor(x) + (frac ≥ 0.5) is bit-identical to HALF_UP rounding —
            # including the 1-ulp-below-.5 doubles that a naive
            # floor(x + 0.5) would misround. The only divergence from the
            # old form is exact NEGATIVE .5 values (-2.5: round-away gave
            # -3, this gives -2 — which is also what the pandas path's
            # half-even produces, so the documented pandas-parity caveat
            # narrows). NaN, ±Inf, |x| > 2^51 and null take the original
            # round path unchanged.
            chd = _cast(ch, "double")
            fl = f"floor({chd})"
            half_up = f"({fl} + {_cast(f'(({chd} - {fl}) >= 0.5D)', 'bigint')})"
            guarded = (
                f"CASE WHEN (isnan({chd}) OR (abs({chd}) > {_sql_lit(2.0**51)})) "
                f"THEN {_cast(self.sql, 'bigint')} ELSE {half_up} END"
            )
            return self._make(guarded if name == "bigint" else _cast(guarded, name))
        return self._make(_cast(self.sql, name))

    def fillna(self, value: Any):
        if not isinstance(value, (int, float, bool, str)):
            raise TraceError("fillna with a non-constant is not traceable")
        return self._make(f"coalesce({self.sql}, {_sql_lit(value)})")

    # refuse silent coercion ----------------------------------------------
    def __bool__(self):
        raise TraceError(
            "branching on data values is not traceable (bool() on a traced expression)"
        )

    def __int__(self):
        raise TraceError("int() forces evaluation — use .astype('int64') instead")

    def __float__(self):
        raise TraceError("float() forces evaluation — use .astype('float64') instead")

    def __iter__(self):
        raise TraceError("iterating a traced expression is not supported")


class _Scalar(_Base):
    """A reduced (per-group scalar) expression — a composition over
    ``__aggN__`` leaf references."""

    def as_py(self):
        # pyarrow scalar surface: tracing arrow-annotated functions
        return self


class _Iloc:
    __slots__ = ("vec",)

    def __init__(self, vec: "_Vec"):
        self.vec = vec

    def __getitem__(self, i):
        return self.vec._first(i)


class _Vec(_Base):
    """A per-row (vector) expression over one side's group rows.

    ``boolish`` marks comparison/logical results: pandas reduces boolean
    Series numerically (sum counts Trues, mean is the True fraction), so
    boolean vectors cast to long inside sum/mean — SQL would reject
    sum(boolean) outright.

    ``cond`` carries the row filter (SQL text) of the _DerivedFrame a
    column was read from (``pdf[mask].y``): reductions become conditional
    aggregates (``sum(CASE WHEN cond THEN y END)``). Vectors from DIFFERENT
    filters refuse to combine — pandas would align them by index, which
    has no row-local SQL equivalent."""

    __slots__ = ("frame", "name", "boolish", "cond")

    def __init__(
        self,
        sql: str,
        frame: "_TraceFrame | None" = None,
        name: "str | None" = None,
        boolish: bool = False,
        cond: "str | None" = None,
    ):
        super().__init__(sql)
        self.frame = frame
        self.name = name
        self.boolish = boolish
        self.cond = cond

    def _make(self, sql: str):
        # derived vectors lose key identity but keep the frame (side/presort)
        return _Vec(sql, frame=self.frame, cond=self.cond)

    def _make_bool(self, sql: str):
        return _Vec(sql, frame=self.frame, boolish=True, cond=self.cond)

    def isna(self):
        return self._make_bool(f"({self.sql} IS NULL)")

    isnull = isna

    def notna(self):
        return self._make_bool(f"({self.sql} IS NOT NULL)")

    def isin(self, values):
        vals = list(values)
        if not all(isinstance(v, (int, float, bool, str)) for v in vals):
            raise TraceError("isin with non-constant values is not traceable")
        if not vals:
            # SQL has no empty IN list; pandas' isin([]) is False everywhere
            return self._make_bool("false")
        return self._make_bool(f"({self.sql} IN ({', '.join(map(_sql_lit, vals))}))")

    def between(self, left, right, inclusive: str = "both"):
        if inclusive != "both":
            raise TraceError("between(inclusive != 'both') is not traceable")
        return (self >= left) & (self <= right)

    def abs(self):
        return abs(self)

    def clip(self, lower=None, upper=None):
        for b in (lower, upper):
            if b is not None and not isinstance(b, (int, float)):
                raise TraceError("clip bounds must be numeric constants")
        c = self.sql
        if lower is not None:
            c = f"greatest({c}, {_sql_lit(lower)})"
        if upper is not None:
            c = f"least({c}, {_sql_lit(upper)})"
        return self._make(c)

    def _lift(self, other: Any) -> str:
        if isinstance(other, _Vec):
            if other.frame is not self.frame:
                raise TraceError(
                    "cannot combine per-row expressions from different zip sides "
                    "(reduce each side first)"
                )
            if other.cond != self.cond:
                raise TraceError(
                    "cannot combine columns read through different row filters "
                    "(pandas would align them by index)"
                )
        return _lift(other)

    def _agg_arg(self, sql: str) -> str:
        # a column read through pdf[mask] reduces conditionally: rows
        # outside the mask become NULL, which every SQL aggregate skips —
        # exactly pandas' subset reduction
        return sql if self.cond is None else f"CASE WHEN {self.cond} THEN {sql} END"

    def _leaf(self, agg: str) -> _Scalar:
        f = self.frame
        if f is None:  # pragma: no cover - vectors always carry a frame
            raise TraceError("reduction on an unbound expression")
        return f.ctx.leaf(f.side, agg)

    def _reduce(self, fn: str) -> _Scalar:
        return self._leaf(f"{fn}({self._agg_arg(self._num())})")

    # array-like surface ---------------------------------------------------
    @property
    def str(self):
        return _StrOps(self)

    @property
    def values(self):
        return self

    def to_numpy(self):
        return self

    @property
    def iloc(self):
        return _Iloc(self)

    def __getitem__(self, i):
        return self._first(i)

    @property
    def size(self):
        return self._leaf(f"count({self._agg_arg('1')})")

    # reductions -----------------------------------------------------------
    def _num(self) -> str:
        # pandas reduces boolean Series numerically
        return _cast(self.sql, "bigint") if self.boolish else self.sql

    def sum(self, *a, **k):
        # pandas Series.sum() is 0 over an empty filtered subset AND over
        # an all-NaN column (min_count=0 default); SQL SUM is NULL in both
        # cases. The coalesce wraps the LEAF REFERENCE, never the leaf
        # itself — leaves must stay pure aggregate functions so the window
        # shape can put them under OVER (r07 fuzz finding).
        return _Scalar(f"coalesce({self._reduce('sum').sql}, 0)")

    def min(self, *a, **k):
        # empty filtered subset: SQL NULL where pandas gives NaN — the one
        # (documented) divergence; coalescing to NaN would break strings
        return self._reduce("min")

    def max(self, *a, **k):
        return self._reduce("max")

    def _nan_empty(self, fn: str) -> "_Scalar":
        # pandas: mean/std/var/median over an empty subset is NaN, not
        # NULL; wrap the reference (see sum) so the leaf stays window-able
        leaf = self._reduce(fn)
        if self.cond is not None:
            return _Scalar(f"coalesce({leaf.sql}, {_sql_lit(math.nan)})")
        return leaf

    def mean(self, *a, **k):
        return self._nan_empty("avg")

    def count(self, *a, **k):
        return self._leaf(f"count({self._agg_arg(self.sql)})")

    def nunique(self, *a, **k):
        return self._leaf(f"count(DISTINCT {self._agg_arg(self.sql)})")

    def std(self, ddof: int = 1):
        if ddof not in (0, 1):
            raise TraceError("std(ddof) must be 0 or 1")
        return self._nan_empty("stddev_samp" if ddof == 1 else "stddev_pop")

    def var(self, ddof: int = 1):
        if ddof not in (0, 1):
            raise TraceError("var(ddof) must be 0 or 1")
        return self._nan_empty("var_samp" if ddof == 1 else "var_pop")

    def median(self):
        return self._nan_empty("median")

    # ordered (running) transforms — per-row outputs over the declared
    # presort, compiled to ordered window functions over the partition keys.
    # These make the window-shaped output compile (dict-of-arrays results):
    # running totals, lag/lead deltas — one exchange, no Python.
    def _ordered_window(self, op: str) -> str:
        f = self.frame
        if f is None:
            raise TraceError(f"{op} on an unbound expression is not traceable")
        if self.cond is not None:
            raise TraceError(
                f"{op} through a row filter is not traceable — pandas would "
                "align the filtered result by index"
            )
        if not f.keys:
            raise TraceError(
                f"{op} compiles only with partition keys (a global running "
                "window is a single-partition bottleneck at scale)"
            )
        if not f.presort:
            raise TraceError(
                f"{op} without a declared presort is input-order-dependent — "
                "not traceable"
            )
        order = ", ".join(
            f"{_qid(f.safe(name))} {'ASC' if asc else 'DESC'}" for name, asc in f.presort
        )
        return f"{_partition_by(f, f.keys)} ORDER BY {order}"

    def _running(self, op: str, agg: str) -> "_Vec":
        w = self._ordered_window(op)
        # pandas cum* skips NaN inside the accumulation but emits NaN AT
        # the NaN position; SQL running aggregates would emit the running
        # value there — mask it back to NULL for parity
        return _Vec(
            f"CASE WHEN ({self.sql} IS NOT NULL) THEN {agg}({self._num()}) OVER "
            f"({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END",
            frame=self.frame,
        )

    def cumsum(self):
        return self._running("cumsum", "sum")

    def cummax(self):
        return self._running("cummax", "max")

    def cummin(self):
        return self._running("cummin", "min")

    def shift(self, periods: int = 1, fill_value: Any = None):
        """pandas Series.shift over the declared presort → lag/lead window.
        ``fill_value`` fills ONLY the shifted-in boundary positions (as
        pandas does) — a lagged data NULL stays NULL. Divergence note: the
        unfilled boundary is SQL NULL where pandas gives NaN for numeric
        series — they normalize identically, but a comparison on the
        boundary row is NULL (excluded from filters) where pandas' NaN
        comparison is False (also excluded) — same filter semantics,
        different tri-state path."""
        if not isinstance(periods, int) or isinstance(periods, bool):
            raise TraceError("shift(periods) must be a constant int")
        w = self._ordered_window("shift")
        c = f"lag({self.sql}, {periods}) OVER ({w})"
        if fill_value is not None:
            if not isinstance(fill_value, (int, float, bool, str)):
                raise TraceError("shift fill_value must be a constant")
            # boundary detector: lag of a constant is NULL exactly at the
            # shifted-in positions (works for negative periods/lead too) —
            # fill only there, never on lagged data NULLs
            c = (
                f"CASE WHEN (lag(1, {periods}) OVER ({w}) IS NULL) "
                f"THEN {_sql_lit(fill_value)} ELSE {c} END"
            )
        return _Vec(c, frame=self.frame)

    def diff(self, periods: int = 1):
        return self - self.shift(periods)

    def _first(self, i: Any) -> _Scalar:
        if not isinstance(i, int) or i != 0:
            raise TraceError("only first-row access ([0] / .iloc[0]) is traceable")
        f = self.frame
        if f is None:
            raise TraceError("first-row access on a derived expression is not traceable")
        if self.name is not None and self.name in f.keys:
            # group key: constant within the group (filtered or not)
            return _KeyRef(self.sql, frame=f, name=self.name)
        if self.cond is not None:
            raise TraceError(
                "first-row access on a filtered frame is not traceable — "
                "reduce with min()/max() instead"
            )
        if not f.presort:
            raise TraceError(
                "first-row access without a presort is nondeterministic; "
                "declare partition presort or use min()/max()"
            )
        # first row under presort == arg-min of the presort tuple: min_by
        # when every direction is ASC, max_by when every direction is DESC;
        # mixed directions negate the minority keys (numeric only).
        n_desc = sum(1 for _, asc in f.presort if not asc)
        use_max = n_desc * 2 >= len(f.presort)
        orderings = []
        for name, asc in f.presort:
            if name not in f._fields:
                raise TraceError(f"presort column {name!r} not on this zip side")
            kcol = _qid(f.safe(name))
            if asc == use_max:
                if not isinstance(f.dtype(name), T.NumericType):
                    raise TraceError(
                        f"mixed-direction presort on non-numeric column {name!r} "
                        "cannot compile to min_by/max_by"
                    )
                kcol = f"(- {kcol})"
            orderings.append(kcol)
        order = f"struct({', '.join(orderings)})" if len(orderings) > 1 else orderings[0]
        return self._leaf(f"{'max_by' if use_max else 'min_by'}({self.sql}, {order})")


class _StrOps:
    """pandas ``.str`` accessor surface over a traced vector — the common
    text-filter predicates, compiled to native string expressions. Methods
    that take a pattern accept only constant strings. Defaults mirror
    pandas >= 2.0: ``contains`` is regex by default, ``replace`` is literal
    by default (``regex=True`` opts into Java-regex semantics, which the
    pandas path evaluates with Python ``re`` — portable for the common
    subset)."""

    __slots__ = ("vec",)

    def __init__(self, vec: "_Vec"):
        self.vec = vec

    def _req_const(self, pat: Any) -> str:
        if not isinstance(pat, str):
            raise TraceError(".str pattern must be a constant string")
        return pat

    def _fn(self, fn: str, *args: str, boolean: bool = False) -> _Vec:
        sql = f"{fn}({', '.join((self.vec.sql,) + args)})"
        return self.vec._make_bool(sql) if boolean else self.vec._make(sql)

    def contains(self, pat, case: bool = True, regex: bool = True, na: Any = None):
        if na is not None:
            raise TraceError(".str.contains(na=...) is not traceable")
        pat = self._req_const(pat)
        if regex:
            # case-insensitivity via flags, not pattern lowercasing (which
            # corrupts escape classes: \S -> \s, [A-Z] -> [a-z]). The
            # compiled pattern runs ONLY under Java regex, so (?iu) is safe
            # — (?i) alone is ASCII-only in Java while Python re folds
            # Unicode by default; (?u) adds UNICODE_CASE to match
            pat = pat if case else "(?iu)" + pat
            return self.vec._make_bool(f"({self.vec.sql} RLIKE {_sql_lit(pat)})")
        if case:
            return self._fn("contains", _sql_lit(pat), boolean=True)
        return self.vec._make_bool(
            f"contains(lower({self.vec.sql}), {_sql_lit(pat.lower())})"
        )

    def startswith(self, pat):
        return self._fn("startswith", _sql_lit(self._req_const(pat)), boolean=True)

    def endswith(self, pat):
        return self._fn("endswith", _sql_lit(self._req_const(pat)), boolean=True)

    def len(self):
        return self._fn("length")

    def lower(self):
        return self._fn("lower")

    def upper(self):
        return self._fn("upper")

    # Python str.strip()'s whitespace set (str.isspace): Java \s is ASCII-
    # only, so the class spells out the Unicode members Python also strips
    _STRIP_WS = (
        r"[\s\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
    )

    def strip(self):
        # pandas .str.strip() strips ALL whitespace — tabs, newlines, AND
        # Unicode spaces (NBSP, thin space, …) — not just ASCII spaces as
        # trim() would, nor only Java's ASCII \s
        ws = self._STRIP_WS
        return self._fn("regexp_replace", _sql_lit(f"^{ws}+|{ws}+$"), "''")

    def replace(self, pat, repl, regex: bool = False):
        # default regex=False matches pandas >= 2.0 (.str.replace is literal
        # unless regex=True is passed explicitly)
        pat, repl = self._req_const(pat), self._req_const(repl)
        if not regex:
            import re as _re

            # literal mode: escape regex metachars in the pattern AND the
            # replacement-string metachars (backslash, $ group refs) in repl
            pat = _re.escape(pat)
            repl = repl.replace("\\", "\\\\").replace("$", "\\$")
        return self._fn("regexp_replace", _sql_lit(pat), _sql_lit(repl))


class _KeyRef(_Vec):
    """``col.iloc[0]`` on a GROUP KEY — constant within the group; resolved
    at assembly to the grouping column itself (post-join for zip)."""

    def as_py(self):
        # pyarrow scalar surface (t.column("k")[0].as_py())
        return self


class _TraceFrame:
    """The per-side ``pdf`` stand-in handed to the user function."""

    def __init__(
        self,
        schema: T.StructType,
        keys: list[str],
        presort,
        name_to_safe,
        ctx: _TraceCtx,
        side: int = 0,
    ):
        self._schema = schema
        self.keys = list(keys)
        self.presort = list(presort)
        self._name_to_safe = dict(name_to_safe)
        self._fields = {f.name: f for f in schema.fields}
        self.ctx = ctx
        self.side = side

    def safe(self, name: str) -> str:
        return self._name_to_safe.get(name, name)

    def dtype(self, name: str) -> T.DataType:
        return self._fields[name].dataType

    def _col(self, name: str) -> _Vec:
        if name not in self._fields:
            raise TraceError(f"column {name!r} not in input schema")
        return _Vec(_qid(self.safe(name)), frame=self, name=name)

    def __getitem__(self, name):
        if isinstance(name, str):
            return self._col(name)
        # masks / projections derive a row-local frame (map-shape compile)
        return _DerivedFrame(self)[name]

    def assign(self, **kw):
        return _DerivedFrame(self).assign(**kw)

    def drop(self, *a, **k):
        return _DerivedFrame(self).drop(*a, **k)

    def sort_values(self, *a, **k):
        return _DerivedFrame(self).sort_values(*a, **k)

    def head(self, *a, **k):
        return _DerivedFrame(self).head(*a, **k)

    def drop_duplicates(self, *a, **k):
        return _DerivedFrame(self).drop_duplicates(*a, **k)

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self._col(name)
        except TraceError as ex:
            raise AttributeError(str(ex)) from None

    @property
    def columns(self):
        return list(self._fields)

    def _rows(self) -> _Scalar:
        """The group's row count: a count(*) leaf on this side."""
        return self.ctx.leaf(self.side, "count(1)")

    @property
    def shape(self):
        return (self._rows(), len(self._fields))

    # pyarrow.Table surface, so arrow-annotated reducers trace too
    def column(self, name: str) -> _Vec:
        return self._col(name)

    @property
    def num_rows(self):
        return self._rows()

    def __len__(self):
        # CPython forces __len__ to return a real int, so the count cannot
        # come back through here; direct len(pdf) calls are rewritten to
        # _trace_len before the trace and never reach this method
        raise TraceError(
            "len(pdf) is traceable only as a direct call in the function's "
            "own source (not in a helper, a lambda or under a shadowed len) "
            "— use pdf.shape[0]"
        )

    def __bool__(self):
        raise TraceError("branching on the group frame is not traceable")


class _DerivedFrame:
    """A row-local derivation of the input frame: ``pdf[mask]``,
    ``pdf.assign(...)``, ``pdf[[cols]]`` / ``pdf.drop(columns=...)`` and
    their compositions. Returning one of these from a traced transformer
    compiles the whole transform to native ``filter``/``select`` — a
    map-shaped plan with NO exchange at all (a per-group row-local
    operation is the same operation globally)."""

    def __init__(
        self,
        base: _TraceFrame,
        cond: "str | None" = None,
        assigned: "dict[str, Any] | None" = None,
        proj: "list[str] | None" = None,
        sort: "list | None" = None,
        limit: "int | None" = None,
        dedup_subset: "list[str] | None" = None,
    ):
        self._base = base
        self._cond = cond
        self._assigned = dict(assigned or {})
        self._proj = proj
        self._sort = sort  # [(name, ascending, nulls_last)] from sort_values
        self._limit = limit  # head(n) — terminal: per-group top-k
        # drop_duplicates: the row_number window partitions on
        # (keys + dedup_subset) instead of the keys alone
        self._dedup_subset = dedup_subset

    def _no_limit(self, op: str) -> None:
        if self._limit is not None:
            raise TraceError(f"{op} after head() is not traceable — head is terminal")

    @property
    def columns(self) -> list[str]:
        if self._proj is not None:
            return list(self._proj)
        base_cols = self._base.columns
        return base_cols + [c for c in self._assigned if c not in base_cols]

    def _col(self, name: str) -> _Vec:
        if self._limit is not None:
            raise TraceError(
                "reading columns from a head() result is not traceable — "
                "return the top-k frame directly"
            )
        if self._proj is not None and name not in self._proj:
            raise TraceError(f"column {name!r} was projected away")
        v = self._assigned.get(name)
        if v is not None:
            if isinstance(v, _Vec):
                # re-bind under THIS frame's filter (reads through pdf[mask]
                # reduce conditionally)
                return _Vec(v.sql, frame=v.frame, boolish=v.boolish, cond=self._cond)
            if isinstance(v, _Scalar):
                # an assigned reduction read back as a (constant-per-group)
                # vector — the __aggN__ reference resolves to the in-plan
                # window column
                return _Vec(v.sql, frame=self._base, cond=self._cond)
            return _Vec(_sql_lit(v), frame=self._base, cond=self._cond)
        base = self._base._col(name)
        if self._cond is None:
            return base
        return _Vec(base.sql, frame=base.frame, name=base.name, cond=self._cond)

    def __getitem__(self, key):
        if isinstance(key, str):
            return self._col(key)
        if isinstance(key, list) and all(isinstance(c, str) for c in key):
            if self._proj is not None:
                avail = self._proj
            else:
                avail = self.columns if self._limit is None else (
                    list(self._base.columns)
                    + [c for c in self._assigned if c not in self._base.columns]
                )
            missing = [c for c in key if c not in avail]
            if missing:
                raise TraceError(f"projection of unknown columns {missing}")
            return _DerivedFrame(
                self._base, self._cond, self._assigned, list(key),
                sort=self._sort, limit=self._limit, dedup_subset=self._dedup_subset,
            )
        if isinstance(key, _Vec):
            self._no_limit("filtering")
            if not key.boolish:
                raise TraceError("pdf[...] mask must be a boolean expression")
            if key.frame is not self._base:
                raise TraceError("mask must be built from this frame's columns")
            if key.cond is not None and key.cond != self._cond:
                raise TraceError(
                    "mask was built through a different row filter — "
                    "pandas would align it by index"
                )
            cond = key.sql if self._cond is None else f"({self._cond} AND {key.sql})"
            return _DerivedFrame(
                self._base, cond, self._assigned, self._proj, sort=self._sort
            )
        raise TraceError(f"untraceable frame indexing with {type(key).__name__}")

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self._col(name)
        except TraceError as ex:
            raise AttributeError(str(ex)) from None

    def sort_values(
        self, by, ascending: "bool | list" = True, na_position: str = "last", kind=None
    ):
        self._no_limit("sort_values")
        if na_position != "last":
            raise TraceError("sort_values(na_position != 'last') is not traceable")
        cols = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(cols) if isinstance(ascending, bool) else list(ascending)
        if len(asc) != len(cols) or not all(isinstance(a, (bool,)) for a in asc):
            raise TraceError("sort_values ascending must be bool(s)")
        for c in cols:
            if not isinstance(c, str) or c not in self.columns:
                raise TraceError(f"sort_values by unknown column {c!r}")
        return _DerivedFrame(
            self._base, self._cond, self._assigned, self._proj,
            # third element: nulls-last flag (na_position='last')
            sort=[(c, a, True) for c, a in zip(cols, asc)], limit=None,
        )

    def drop_duplicates(self, subset=None, keep: str = "first"):
        """Per-group dedup under a deterministic order: compiles to
        row_number() == 1 over (partition keys + subset) ordered by the
        current sort_values (or the declared presort). Without an order
        pandas' keep='first' is input-order-dependent — refused."""
        self._no_limit("drop_duplicates")
        if keep not in ("first", "last"):
            raise TraceError("drop_duplicates keep must be 'first' or 'last'")
        if subset is None:
            subset = [c for c in self.columns]
        elif isinstance(subset, str):
            subset = [subset]
        missing = [c for c in subset if c not in self.columns]
        if missing:
            raise TraceError(f"drop_duplicates subset has unknown columns {missing}")
        sort = self._sort
        if sort is None:
            if not self._base.presort:
                raise TraceError(
                    "drop_duplicates without sort_values or a declared presort "
                    "is input-order-dependent — not traceable"
                )
            sort = [(c, asc, True) for c, asc in self._base.presort]
        if keep == "last":
            # exact reversal of the pandas order: flip direction AND null
            # placement (nulls-last ascending reverses to nulls-FIRST
            # descending), so keep='last' with NaN in the sort column keeps
            # the NaN row exactly as pandas does
            sort = [(c, not asc, not nl) for c, asc, nl in sort]
        return _DerivedFrame(
            self._base, self._cond, self._assigned, self._proj,
            sort=sort, limit=1, dedup_subset=list(subset),
        )

    def head(self, n: int = 5):
        self._no_limit("head")
        if not isinstance(n, int) or n <= 0:
            raise TraceError("head(n) needs a positive constant int")
        sort = self._sort
        if sort is None:
            # fall back to the declared engine presort — same order the
            # pandas path would see its group rows in
            if not self._base.presort:
                raise TraceError(
                    "head() without sort_values or a declared presort is "
                    "input-order-dependent — not traceable"
                )
            sort = [(c, asc, True) for c, asc in self._base.presort]
        return _DerivedFrame(
            self._base, self._cond, self._assigned, self._proj,
            sort=sort, limit=n,
        )

    def assign(self, **kw):
        self._no_limit("assign")
        assigned = dict(self._assigned)
        for k, v in kw.items():
            if callable(v):
                raise TraceError("assign with a callable is not traceable")
            if isinstance(v, _KeyRef):
                pass  # group key: constant within the group, valid per-row
            elif isinstance(v, _Scalar):
                # a reduction broadcast onto every row — compiles as a
                # window aggregate over the partition keys (the leaf's
                # __aggN__ reference resolves to an in-plan window column)
                pass
            elif isinstance(v, _Vec):
                if v.frame is not self._base:
                    raise TraceError("assigned expression from a different frame")
                if v.cond is not None and v.cond != self._cond:
                    raise TraceError(
                        "assigned expression read through a different row "
                        "filter — pandas would align it by index"
                    )
            elif not isinstance(v, (int, float, bool, str)):
                raise TraceError(f"assign({k}=...) with {type(v).__name__} is not traceable")
            assigned[k] = v
        proj = self._proj
        if proj is not None:
            proj = proj + [k for k in kw if k not in proj]
        return _DerivedFrame(
            self._base, self._cond, assigned, proj, sort=self._sort
        )

    def drop(self, labels=None, columns=None, axis=None):
        if columns is None:
            if axis in (1, "columns"):
                columns = labels
            else:
                raise TraceError("only drop(columns=[...]) is traceable")
        if isinstance(columns, str):
            columns = [columns]
        missing = [c for c in columns if c not in self.columns]
        if missing:
            raise TraceError(f"drop of unknown columns {missing}")
        keep = [c for c in self.columns if c not in set(columns)]
        return _DerivedFrame(
            self._base, self._cond, self._assigned, keep,
            sort=self._sort, limit=self._limit, dedup_subset=self._dedup_subset,
        )

    def __len__(self):
        raise TraceError("len() of a filtered frame is data-dependent — not traceable")

    def __bool__(self):
        raise TraceError("branching on the group frame is not traceable")


class _TraceCursor:
    """cursor stand-in: key access returns the (constant) key column."""

    def __init__(self, frame: _TraceFrame):
        self._frame = frame
        self.keys = list(frame.keys)
        self.partition_no = 0

    def __getitem__(self, name: str):
        if name not in self._frame.keys:
            raise TraceError(f"cursor[{name!r}] is not a partition key")
        return self._frame._col(name)._first(0)

    @property
    def key_value_dict(self):
        return {k: self._frame._col(k)._first(0) for k in self._frame.keys}


def _trace_int(x: Any):
    """Traced twin of ``builtins.int`` substituted by :func:`_rewrite_builtins`:
    a Catalyst cast on proxies, the builtin on everything else. Python's
    ``int()`` must return an exact ``int`` (CPython coerces subclass returns
    from ``__int__``), so the only way to keep ``int(pdf.x.sum())`` symbolic
    is to intercept the CALL, not the conversion protocol."""
    if isinstance(x, _KeyRef):
        # constant within the group; keys resolve by NAME at assembly, so a
        # cast cannot ride along — only allow when int() is the identity
        dt = x.frame.dtype(x.name) if x.frame is not None and x.name else None
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return x
        raise TraceError("int() on a non-integer group key is not traceable")
    if isinstance(x, _Scalar):
        # Python int() truncates toward zero; so does Spark's cast to long
        return _Scalar(_cast(x.sql, "bigint"))
    if isinstance(x, _Base):
        raise TraceError("int() on a per-row expression is ambiguous — reduce first")
    if isinstance(x, (_TraceFrame, _DerivedFrame)):
        raise TraceError("int() of a frame is not traceable")
    return int(x)


def _trace_float(x: Any):
    """Traced twin of ``builtins.float`` (see :func:`_trace_int`)."""
    if isinstance(x, _KeyRef):
        dt = x.frame.dtype(x.name) if x.frame is not None and x.name else None
        if isinstance(dt, T.NumericType):
            # value-preserving on any numeric key; the output field's dtype
            # cast at assembly finishes the conversion
            return x
        raise TraceError("float() on a non-numeric group key is not traceable")
    if isinstance(x, _Scalar):
        return _Scalar(_cast(x.sql, "double"))
    if isinstance(x, _Base):
        raise TraceError("float() on a per-row expression is ambiguous — reduce first")
    if isinstance(x, (_TraceFrame, _DerivedFrame)):
        raise TraceError("float() of a frame is not traceable")
    return float(x)


def _trace_len(x: Any):
    """Traced twin of ``builtins.len``: the side's count(*) leaf for a group
    frame (the same leaf as ``pdf.shape[0]``), the builtin on everything
    else (``len`` of a filtered frame still refuses)."""
    if isinstance(x, _TraceFrame):
        return x._rows()
    return len(x)


_TRACED_BUILTINS = {"int": _trace_int, "float": _trace_float, "len": _trace_len}


class _BuiltinCallRewriter(ast.NodeTransformer):
    """Rewrite one-argument calls of the given builtins to their traced
    twins."""

    def __init__(self, names: "set[str]") -> None:
        self.names = names
        self.changed = False

    def visit_Call(self, node: ast.Call) -> ast.Call:
        self.generic_visit(node)
        if (
            isinstance(node.func, ast.Name)
            and node.func.id in self.names
            and len(node.args) == 1
            and not node.keywords
            and not isinstance(node.args[0], ast.Starred)
        ):
            self.changed = True
            node.func = ast.Name(id=f"__fugue_trace_{node.func.id}__", ctx=ast.Load())
        return node


def _rewrite_builtins(fn: Callable) -> Callable:
    """Return a trace-twin of ``fn`` whose ``int(...)``/``float(...)``/
    ``len(...)`` calls route through :func:`_trace_int`/:func:`_trace_float`/
    :func:`_trace_len`, so the common pandas idioms ``int(series.sum())`` and
    ``len(pdf)`` stay symbolic instead of forcing evaluation (CPython coerces
    what ``__int__``/``__float__``/``__len__`` return to an exact number).
    The twin is used ONLY for tracing — the pandas/arrow fallback always
    executes the original function — so any failure here (no source,
    lambda, decorators) just returns ``fn`` and narrows what compiles, never
    what runs. A builtin the function shadows keeps its meaning."""
    try:
        if getattr(fn, "__name__", "<lambda>") == "<lambda>":
            return fn
        code = fn.__code__
        g = fn.__globals__
        local_names = set(code.co_varnames) | set(code.co_freevars) | set(code.co_cellvars)
        names = {n for n in _TRACED_BUILTINS if n not in local_names and n not in g}
        if not names:
            return fn
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
        fdef = tree.body[0]
        if (
            len(tree.body) != 1
            or not isinstance(fdef, ast.FunctionDef)
            or fdef.name != fn.__name__
            or fdef.decorator_list
        ):
            return fn
        rw = _BuiltinCallRewriter(names)
        rw.visit(tree)
        if not rw.changed:
            return fn
        ast.fix_missing_locations(tree)
        ns = dict(g)
        if code.co_freevars and fn.__closure__:
            # the standalone re-compile turns closure reads into global
            # reads; inject the captured values under the same names
            ns.update(
                {n: c.cell_contents for n, c in zip(code.co_freevars, fn.__closure__)}
            )
        ns.update({f"__fugue_trace_{n}__": _TRACED_BUILTINS[n] for n in names})
        exec(compile(tree, f"<fugue-trace {code.co_filename}>", "exec"), ns)
        new = ns[fdef.name]
        new.__defaults__ = fn.__defaults__
        new.__kwdefaults__ = fn.__kwdefaults__
        return new
    except Exception:
        return fn


def _trace(fn, frames, kwargs, wants_cursor) -> Any:
    args = list(frames)
    try:
        if wants_cursor:
            res = fn(_TraceCursor(frames[0]), *args, **kwargs)
        else:
            res = fn(*args, **kwargs)
    except TraceError:
        raise
    except Exception as ex:
        raise TraceError(f"tracing raised {type(ex).__name__}: {ex}") from ex
    return res


def _require_dict(res: Any, out_schema: T.StructType) -> dict:
    if not isinstance(res, dict):
        raise TraceError(
            f"compiled transforms must return a dict of scalars or a derived "
            f"frame, got {type(res).__name__}"
        )
    out_cols = [f.name for f in out_schema.fields]
    if set(res) != set(out_cols):
        raise TraceError(f"traced output keys {sorted(res)} != schema {sorted(out_cols)}")
    return res


def _out(sql: str, dt: T.DataType, name: str) -> str:
    """An output field: ``sql`` cast to its schema type, under its name."""
    return f"{_cast(sql, dt.simpleString())} AS {_qid(name)}"


def _assemble_outputs(res, out_schema, key_resolver, per_row: bool = False) -> "list[str]":
    """→ the output fields' SQL (over ``__aggN__`` refs and resolved key
    columns). ``per_row`` admits per-row vectors (the window shape)."""
    outs: list[str] = []
    for f in out_schema.fields:
        v = res[f.name]
        if isinstance(v, _KeyRef):
            outs.append(_out(key_resolver(v.name), f.dataType, f.name))
        elif isinstance(v, _Vec) and not per_row:
            raise TraceError(
                f"output {f.name!r} is a per-row expression — reduce it "
                "(sum/min/max/mean/first) before returning"
            )
        elif isinstance(v, _Vec) and v.cond is not None:
            raise TraceError(
                f"output {f.name!r} was read through a row filter — its "
                "length differs from the group's (return the filtered "
                "frame itself instead)"
            )
        elif isinstance(v, _Base):
            outs.append(_out(v.sql, f.dataType, f.name))
        elif v is None or isinstance(v, (int, float, str)):
            # a constant output (no traced value reached it)
            outs.append(_out(_sql_lit(v), f.dataType, f.name))
        else:
            raise TraceError(f"output {f.name!r} has untraceable type {type(v).__name__}")
    return outs


def _nan_safe_group(sql: str, dt: T.DataType) -> str:
    """Grouping/partitioning expression that merges float NaN and NULL into
    ONE key — the pandas path cannot distinguish them (both are NaN in a
    float64 column), so compiled grouping must not split them (the map
    engine applies the same normalization in its exchange — see
    fugue_spark/partition.py:_nan_safe_key_exprs)."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return f"nanvl({sql}, {_cast('NULL', dt.simpleString())})"
    return sql


def _partition_by(frame: "_TraceFrame", keys, *extra: str) -> str:
    """``PARTITION BY`` the NaN-safe group keys (then ``extra``)."""
    parts = [_nan_safe_group(_qid(frame.safe(k)), frame.dtype(k)) for k in keys]
    return "PARTITION BY " + ", ".join(parts + list(extra))


def _null_free_default(dt: T.DataType) -> "str | None":
    """A type-default literal used to normalize a nullable group key into a
    non-nullable ``(coalesce(key, default), isnull(key))`` pair — the same
    rewrite Spark applies internally to null-safe equality. Collisions with
    real values are harmless (the isnull flag disambiguates); returns None
    for types without an obvious default (caller falls back to an
    eqNullSafe join)."""
    if isinstance(dt, T.NumericType):
        return _cast("0", dt.simpleString())
    if isinstance(dt, T.StringType):
        return "''"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, T.DateType):
        return "DATE '1970-01-01'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"{dt.simpleString().upper()} '1970-01-01 00:00:00'"
    if isinstance(dt, T.BinaryType):
        return "X''"
    return None


def _key_value_out(sql: str, dt: T.DataType) -> str:
    """Emitted value for a returned group key: on the pandas path a float64
    key column renders every NULL as NaN (Arrow→pandas conversion), so the
    compiled plan emits NaN for the merged NULL/NaN group too (measured
    parity, not convention)."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return f"coalesce({sql}, {_cast(_sql_lit(math.nan), dt.simpleString())})"
    return sql


def _lowered(build: "Callable[[], DataFrame]") -> DataFrame:
    """The one lowering step of a compiled plan: ``build`` turns the traced
    SQL text into Columns and DataFrame operations (``F.expr`` /
    ``selectExpr``). Analysis runs here, so unsupported constructs (e.g.
    count_distinct as a window function) surface as TraceError — the
    fallback trigger — instead of escaping at action time; a parse error
    is a rendering defect and propagates as is.

    Non-nullable outputs (count(*)) are then widened to the engine's
    all-nullable schema contract: ``CASE WHEN x IS NOT NULL THEN x END``
    resets the nullability flag at analysis time (a constant-true
    condition would be folded away)."""
    from pyspark.errors import AnalysisException, ParseException

    try:
        out = build()
        fields = out.schema.fields
    except ParseException:
        raise
    except AnalysisException as ex:
        raise TraceError(f"compiled plan failed analysis: {ex}") from ex
    if all(f.nullable for f in fields):
        return out
    return out.selectExpr(
        *[
            q if f.nullable else f"CASE WHEN ({q} IS NOT NULL) THEN {q} END AS {q}"
            for f in fields
            for q in [_qid(f.name)]
        ]
    )


def _window_leaves(ctx: _TraceCtx, keys, frame: "_TraceFrame") -> "list[str]":
    """Each aggregation leaf as an ``__aggN__`` window column (agg OVER
    (PARTITION BY keys)) so per-row outputs can reference reductions. One
    exchange on the keys; map-side nothing — Spark's window exec sorts
    within partitions, which at 100 TB is the standard 'attach group
    aggregate to every row' plan."""
    if not ctx.leaves:
        return []
    if not keys:
        raise TraceError(
            "per-row outputs mixing reductions compile only with partition "
            "keys (a keyless window is a single-partition bottleneck)"
        )
    w = _partition_by(frame, keys)
    return [
        f"{sql} OVER ({w}) AS {_qid(f'__agg{i}__')}" for i, (_, sql) in enumerate(ctx.leaves)
    ]


def _compile_window_shape(
    df: DataFrame,
    res: dict,
    ctx: _TraceCtx,
    out_schema: T.StructType,
    keys: "list[str]",
    frame: "_TraceFrame",
) -> DataFrame:
    """Compile a dict output that mixes per-row vectors with per-group
    reductions (the dict-of-arrays result shape: every group row emits one
    output row, reductions broadcast onto each row) to a native window
    plan — ONE exchange on the keys, no Python stage.

    Row-order note: within a group the pandas path emits rows in presort
    order; the compiled plan's intra-group order is engine-arbitrary (same
    contract as every other unordered output)."""
    if not keys:
        raise TraceError(
            "per-row dict outputs compile only with partition keys"
        )
    leaves = _window_leaves(ctx, keys, frame)
    outs = _assemble_outputs(
        res,
        out_schema,
        key_resolver=lambda k: _key_value_out(_qid(frame.safe(k)), frame.dtype(k)),
        per_row=True,
    )
    return _lowered(
        lambda: (df.selectExpr("*", *leaves) if leaves else df).selectExpr(*outs)
    )


def _compile_map_shape(
    df: DataFrame,
    res: "Any",
    ctx: _TraceCtx,
    out_schema: T.StructType,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Compile a transformer that RETURNS a row-local derivation of its
    input (``pdf[mask]`` / ``pdf.assign(...)`` / projections) to a native
    ``filter``/``select`` plan — no Python workers and, unlike the
    aggregation shape, no exchange at all: a per-group row-local operation
    is the same operation applied globally, so any declared partitioning
    is a semantic no-op and is elided from the plan — UNLESS the derivation
    embeds per-group reductions (``assign(share=pdf.x / pdf.x.sum())``),
    which compile as window aggregates over the partition keys: one
    exchange instead of a Python stage."""
    a = res if isinstance(res, _DerivedFrame) else _DerivedFrame(res)
    available = set(a.columns)
    missing = [f.name for f in out_schema.fields if f.name not in available]
    if missing:
        raise TraceError(
            f"output schema columns {missing} absent from the returned frame "
            f"(has {a.columns})"
        )

    def resolve(name: str) -> str:
        v = a._assigned.get(name)
        if isinstance(v, (_Vec, _Scalar)):
            return v.sql
        if v is not None:
            return _sql_lit(v)
        return a._base._col(name).sql

    outs = [_out(resolve(f.name), f.dataType, f.name) for f in out_schema.fields]
    # reductions embedded in the derivation (assigned _Scalars) become
    # window aggregates over the partition keys, computed over the WHOLE
    # group (the leaf's CASE WHEN carries any read-time filter) BEFORE the
    # frame's row filter applies — exactly the pandas-path order
    leaves = _window_leaves(ctx, keys, a._base)
    top_k = None
    if a._limit is not None:
        # per-group top-k: sort_values(...).head(k) → row_number window.
        # Only with partition keys — a head()/drop_duplicates() over a
        # PHYSICAL partition on the pandas path is partitioning-dependent,
        # so no keys = no compile.
        if not keys:
            raise TraceError(
                "head()/drop_duplicates() compile only with partition keys "
                "(the ungrouped pandas result is physical-partition-dependent)"
            )
        # nulls_last=True = pandas sort_values(na_position='last');
        # False = the exact reversal produced by drop_duplicates(keep='last')
        order = ", ".join(
            f"{resolve(name)} {'ASC' if asc else 'DESC'} NULLS {'LAST' if nl else 'FIRST'}"
            for name, asc, nl in a._sort
        )
        # drop_duplicates: one row per (keys + subset) combination
        subset = [resolve(c) for c in a._dedup_subset or []]
        w = f"{_partition_by(a._base, keys, *subset)} ORDER BY {order}"
        top_k = f"row_number() OVER ({w}) AS __rn__"

    def build() -> DataFrame:
        plan = df.selectExpr("*", *leaves) if leaves else df
        plan = plan if a._cond is None else plan.filter(a._cond)
        if top_k is not None:
            plan = plan.selectExpr("*", top_k).filter(f"__rn__ <= {a._limit}")
        return plan.selectExpr(*outs)

    return _lowered(build)


# modules whose attributes are safe to touch at trace time: their functions
# either dispatch through the proxy protocol (numpy via NEP-18, pandas via
# the _Vec/_TraceFrame surface) or are pure scalar math — none can carry a
# per-group side effect out of the trace
_PURE_MODULE_ROOTS = frozenset(
    {"numpy", "pandas", "math", "statistics", "builtins", "pyarrow", "operator"}
)
# builtins that ARE side effects (or escape hatches to them): a traced
# function that calls these would fire them at plan time with proxy garbage
_IMPURE_BUILTINS = frozenset(
    {
        "print",
        "open",
        "input",
        "exec",
        "eval",
        "compile",
        "__import__",
        "setattr",
        "delattr",
        "globals",
        "locals",
        "vars",
        "breakpoint",
        "exit",
        "quit",
        "memoryview",
        "id",
        "hash",
    }
)
_PURE_VALUE_TYPES = (int, float, str, bool, bytes, complex, type(None))


def _purity_check_value(name: str, v: Any) -> None:
    import types as _types

    if isinstance(v, _types.ModuleType):
        if v.__name__.split(".")[0] not in _PURE_MODULE_ROOTS:
            raise TraceError(
                f"auto-compile refused: references module {name!r} "
                f"({v.__name__}) outside the traceable surface"
            )
        return
    if isinstance(v, _PURE_VALUE_TYPES):
        return
    if isinstance(v, (tuple, frozenset)):
        for item in v:
            _purity_check_value(name, item)
        return
    import builtins as _bi

    if v is getattr(_bi, getattr(v, "__name__", ""), object()):
        if v.__name__ in _IMPURE_BUILTINS:
            raise TraceError(
                f"auto-compile refused: calls side-effectful builtin {name!r}"
            )
        return
    raise TraceError(
        f"auto-compile refused: global/closure {name!r} is a "
        f"{type(v).__name__}, outside the provably-pure surface"
    )


def assert_statically_pure(fn: Callable) -> None:
    """Refuse (with :class:`TraceError`) any function whose bytecode could
    carry side effects out of — or fire them during — a plan-time trace.

    Auto-compile executes the user function at PLAN time against symbolic
    proxies; a function that writes a global, calls ``print``/``open``, or
    reaches a non-whitelisted module would either lose its per-group side
    effects (they run once, at trace time, with proxy values) or fire
    external effects with garbage. The reference always executes
    transformers as real Python (reference:
    fugue/execution/execution_engine.py map_dataframe contract), so only
    provably pure reducers may be traded for a compiled plan silently.
    This is a conservative static gate: it scans the code object (and all
    nested code objects) for STORE_GLOBAL/DELETE_GLOBAL, resolves every
    LOAD_GLOBAL / IMPORT_NAME / closure cell, and accepts only whitelisted
    modules (numpy/pandas/math/...), immutable constants, and
    non-side-effectful builtins. Explicit ``compile=True``/``"strict"``
    skips this gate — the user has opted in to trace semantics.
    """
    import builtins as _bi
    import dis
    import types as _types

    code = getattr(fn, "__code__", None)
    if code is None:
        raise TraceError("auto-compile refused: no inspectable code object")
    globs = getattr(fn, "__globals__", {})
    loads: "set[str]" = set()
    stack = [code]
    while stack:
        c = stack.pop()
        for instr in dis.get_instructions(c):
            op = instr.opname
            if op in ("STORE_GLOBAL", "DELETE_GLOBAL"):
                raise TraceError(
                    f"auto-compile refused: writes global {instr.argval!r} "
                    "(per-group side effects would vanish under compilation)"
                )
            if op == "LOAD_GLOBAL":
                loads.add(instr.argval)
            elif op == "IMPORT_NAME":
                root = str(instr.argval).split(".")[0]
                if root not in _PURE_MODULE_ROOTS:
                    raise TraceError(
                        f"auto-compile refused: imports {instr.argval!r} "
                        "outside the traceable surface"
                    )
        for const in c.co_consts:
            if isinstance(const, _types.CodeType):
                stack.append(const)
    for name in loads:
        if name in globs:
            _purity_check_value(name, globs[name])
        elif name in _IMPURE_BUILTINS:
            raise TraceError(
                f"auto-compile refused: calls side-effectful builtin {name!r}"
            )
        elif not hasattr(_bi, name):
            # would NameError at trace time anyway; let the trace surface it
            pass
    closure = getattr(fn, "__closure__", None) or ()
    for name, cell in zip(code.co_freevars, closure):
        try:
            _purity_check_value(name, cell.cell_contents)
        except ValueError as e:
            if isinstance(e, TraceError):
                raise
            raise TraceError(f"auto-compile refused: unbound closure cell {name!r}")


def try_compile_aggregation(
    df: DataFrame,
    fn: Callable,
    keys: list[str],
    presort,
    out_schema: T.StructType,
    kwargs: dict,
    wants_cursor: bool,
    name_to_safe: "dict | None" = None,
    in_schema: "T.StructType | None" = None,
    allow_ungrouped_agg: bool = True,
    purity_check: bool = False,
) -> DataFrame:
    """Trace ``fn`` over one frame and return the compiled
    ``groupBy().agg`` plan.

    ``df`` may carry engine-internal safe column names; ``in_schema`` is the
    user-visible schema and ``name_to_safe`` maps between them.

    ``allow_ungrouped_agg=False`` (the auto-compile default) refuses
    keyless dict/window outputs: the pandas path emits one result per
    PHYSICAL partition there, which a global aggregation would silently
    collapse. Explicit ``compile=True`` keeps the global-agg reading.

    Raises TraceError when the function is not a pure dict-of-aggregations
    reduction; the caller decides whether to fall back or surface it.
    """
    schema = in_schema or df.schema
    nts = name_to_safe or {}
    if purity_check:
        assert_statically_pure(fn)
    fn = _rewrite_builtins(fn)
    ctx = _TraceCtx()
    frame = _TraceFrame(schema, keys, presort, nts, ctx)
    res = _trace(fn, [frame], kwargs, wants_cursor)
    if isinstance(res, (_TraceFrame, _DerivedFrame)):
        return _compile_map_shape(df, res, ctx, out_schema, keys=keys)
    if not keys and not allow_ungrouped_agg:
        raise TraceError(
            "keyless dict outputs are one-row-per-physical-partition on the "
            "pandas path — auto-compile refuses; pass compile=True for the "
            "global-aggregation reading"
        )
    res = _require_dict(res, out_schema)
    if any(
        isinstance(v, _Vec) and not isinstance(v, _KeyRef) for v in res.values()
    ):
        # dict-of-arrays shape: per-row vectors (possibly mixed with
        # reductions) → window plan, one output row per group row
        return _compile_window_shape(df, res, ctx, out_schema, keys, frame)

    gk = {k: f"__gk_{i}__" for i, k in enumerate(keys)}
    outs = _assemble_outputs(
        res,
        out_schema,
        key_resolver=lambda k: _key_value_out(_qid(gk[k]), frame.dtype(k)),
    )
    aggs = [
        f"{sql} AS {_qid(f'__agg{i}__')}" for i, (_, sql) in enumerate(ctx.leaves)
    ] or ["count(1) AS __dummy__"]
    # alias grouping columns to internal names so output aliases that
    # reuse a key's name (the common case) never become ambiguous; float
    # keys group NaN and NULL together (pandas-path parity)
    gcols = [
        f"{_nan_safe_group(_qid(frame.safe(k)), frame.dtype(k))} AS {_qid(gk[k])}"
        for k in keys
    ]

    def build() -> DataFrame:
        if not keys:
            return df.selectExpr(*aggs).selectExpr(*outs)
        grouped = df.groupBy(*map(F.expr, gcols))
        return grouped.agg(*map(F.expr, aggs)).selectExpr(*outs)

    return _lowered(build)


def try_compile_cotransform(
    dfs: "list[DataFrame]",
    fn: Callable,
    keys: list[str],
    presort,
    out_schema: T.StructType,
    kwargs: dict,
    wants_cursor: bool,
    how: str,
    purity_check: bool = False,
) -> DataFrame:
    """Trace a zip co-transformer over N side frames and compile it to
    per-side ``groupBy(keys).agg`` joined on the keys.

    Only ``how='inner'`` compiles: the inner join reproduces the zip
    engine's skip-empty-group rule exactly; outer hows would need pandas'
    empty-frame aggregate semantics (sum()=0, max()=NaN) instead of SQL
    NULLs, so they stay on the python path.
    """
    if how != "inner":
        raise TraceError(f"only how='inner' cotransforms compile (got {how!r})")
    if not keys:
        raise TraceError("cross zip does not compile")
    if purity_check:
        assert_statically_pure(fn)
    fn = _rewrite_builtins(fn)
    ctx = _TraceCtx()
    frames = [
        _TraceFrame(d.schema, keys, presort, {}, ctx, i) for i, d in enumerate(dfs)
    ]
    res = _require_dict(_trace(fn, frames, kwargs, wants_cursor), out_schema)

    key_dt = {k: dfs[0].schema[k].dataType for k in keys}
    # per-side aggregation over the SAME keys, then inner-join the sides:
    # each side shuffles only its partial agg states — the zip engine's
    # single tagged-union exchange carries whole rows instead. Float keys
    # group NaN/NULL as one key per side (pandas-path parity), and the join
    # still pairs those merged groups — and plain NULL-keyed groups, which
    # the zip engine's sorted-run pairing also aligns.
    #
    # Join-key layout: grouping directly on the key and joining with
    # eqNullSafe forces Spark to RE-EXCHANGE both aggregated sides (the
    # null-safe join hashes on (coalesce(k, 0), isnull(k)), which does not
    # match the groupBy's hashpartitioning(k)) — at sf10 that was 4
    # exchanges + 2 full sorts for q12. Instead each side groups on the
    # normalized non-nullable pair (coalesce(nan_safe(k), default),
    # isnull(nan_safe(k))) and the sides join on PLAIN equality of those
    # pairs, so the join reuses the aggregation's shuffle layout: two
    # exchanges total, no re-shuffle, identical null/NaN semantics. Key
    # types without a type-default literal fall back to the eqNullSafe
    # join (extra exchange, same semantics).
    defaults = {k: _null_free_default(key_dt[k]) for k in keys}
    use_norm = all(d is not None for d in defaults.values())
    kv = {k: f"__zkv{ki}__" for ki, k in enumerate(keys)}
    kn = {k: f"__zkn{ki}__" for ki, k in enumerate(keys)}
    if use_norm:
        key_resolver = lambda k: _key_value_out(  # noqa: E731
            f"CASE WHEN (NOT {_qid(kn[k])}) THEN {_qid(kv[k])} END", key_dt[k]
        )
    else:
        key_resolver = lambda k: _key_value_out(_qid(k), key_dt[k])  # noqa: E731
    outs = _assemble_outputs(res, out_schema, key_resolver=key_resolver)
    sides_sql = []  # per side: (grouping columns, aggregation leaves)
    for i, d in enumerate(dfs):
        gcols = []
        for k in keys:
            nk = _nan_safe_group(_qid(k), d.schema[k].dataType)
            if use_norm:
                gcols += [
                    f"coalesce({nk}, {defaults[k]}) AS {_qid(kv[k])}",
                    f"({nk} IS NULL) AS {_qid(kn[k])}",
                ]
            else:
                gcols.append(f"{nk} AS {_qid(k)}")
        aggs = [
            f"{sql} AS {_qid(f'__agg{j}__')}"
            for j, (side, sql) in enumerate(ctx.leaves)
            if side == i
        ] or [f"count(1) AS __present_{i}__"]
        sides_sql.append((gcols, aggs))

    def build() -> DataFrame:
        sides = [
            df.groupBy(*map(F.expr, gcols)).agg(*map(F.expr, aggs))
            for df, (gcols, aggs) in zip(dfs, sides_sql)
        ]
        joined = sides[0]
        for g in sides[1:]:
            if use_norm:
                jnames = [c for k in keys for c in (kv[k], kn[k])]
                joined = joined.join(g, on=jnames, how="inner")
            else:
                cond = None
                for k in keys:
                    c = joined[k].eqNullSafe(g[k])
                    cond = c if cond is None else cond & c
                joined = joined.join(g, on=cond, how="inner").drop(
                    *[g[k] for k in keys]
                )
        return joined.selectExpr(*outs)

    return _lowered(build)
