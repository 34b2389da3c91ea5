"""FugueSQL-compatible script language on Spark.

Two-level design, same as the reference (SURVEY §3.2): an outer parser for
the Fugue statement set (fugue/sql/_visitors.py statement list) that emits
direct engine calls, while raw ``SELECT``/``WITH`` bodies ship verbatim to
``spark.sql`` — Catalyst does 100% of SQL planning. No DAG layer: Spark is
already lazy; PRINT/SAVE/OUTPUT force actions in place.

Entry point::

    res = fsql('''
        orders = LOAD PARQUET "/path/orders.parquet"
        big = SELECT * FROM orders WHERE o_totalprice > 100
        TRANSFORM big PREPARTITION BY o_custkey USING mymod.summarize SCHEMA *
        PRINT 5 ROWS
        YIELD DATAFRAME AS result
    ''', spark=spark, functions={"summarize": fn}, **jinja_vars)
    res["result"]            # yielded dataframe
"""

from __future__ import annotations

import ast
import importlib
import os
import re
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

import fugue_spark.api as fa
from fugue_spark.cotransform import cotransform
from fugue_spark.partition import PartitionSpec
from fugue_spark.sql.tokenizer import (
    STATEMENT_KEYWORDS,
    Token,
    _is_kw,
    split_statements,
)
from fugue_spark.transform import out_transform, transform

# keywords that may START a postfix modifier chain (reference grammar:
# fugue_sql_antlr fugueDataFrame* tails — persist/broadcast/checkpoint/
# yield/print may suffix any dataframe-producing statement on one line,
# e.g. ``a=create using f persist broadcast yield dataframe``)
_CHAIN_START = {
    "PERSIST", "BROADCAST", "CHECKPOINT", "LAZY", "WEAK", "STRONG",
    "DETERMINISTIC", "YIELD", "PRINT",
}
_SETOP_KWS = ("UNION", "INTERSECT", "EXCEPT", "MINUS")

__all__ = [
    "fsql",
    "FugueSQLError",
    "FugueSQLResult",
    "YieldedFile",
    "register_extension",
    "transpile_sql",
]

# global extension registry (reference: named extensions resolvable from
# FugueSQL USING clauses; builtin_suite.py:1536 extension registry)
_EXTENSIONS: "dict[str, Callable]" = {}


def register_extension(name: str, fn: "Callable | None" = None):
    """Register a callable under a name for ``USING name`` in scripts.
    Usable as a decorator: ``@register_extension("my_fn")``."""

    def deco(f: Callable) -> Callable:
        _EXTENSIONS[name] = f
        return f

    if fn is not None:
        return deco(fn)
    return deco


class FugueSQLError(ValueError):
    pass


class ZippedFrames:
    def __init__(self, dfs: list[DataFrame], how: str, spec: PartitionSpec):
        self.dfs = dfs
        self.how = how
        self.spec = spec


class FugueSQLResult(dict):
    """yields by name; ``.last`` is the final statement's dataframe."""

    def __init__(self):
        super().__init__()
        self.last: "DataFrame | None" = None


class YieldedFile(str):
    """Path produced by ``YIELD FILE`` — tagged so a later ``fsql`` call
    can recognize it as a loadable source (reference: 'from yield file',
    fugue test_workflow.py:205-218) without guessing from arbitrary
    caller strings."""


# SQL dialects sqlglot can read that CONNECT treats as a dialect spec
# (anything else — MockEngine, dask, ray… — is an engine name, validated
# and ignored per SURVEY §2.6: this is a single-engine build)
_SQL_DIALECTS = frozenset(
    {
        "duckdb", "postgres", "postgresql", "mysql", "sqlite", "bigquery",
        "snowflake", "trino", "presto", "redshift", "oracle", "tsql",
        "clickhouse", "databricks", "hive",
    }
)


def transpile_sql(sql: str, dialect: "str | None") -> str:
    """Transpile a SELECT body from ``dialect`` to Spark SQL (reference
    ``fugue/collections/sql.py:33-56`` — sqlglot read=dialect,
    write=target). No-op for ``None``/``spark``; raises a clean
    FugueSQLError naming the optional dependency when sqlglot is absent."""
    if not dialect or dialect.lower() in ("spark", "sparksql"):
        return sql
    try:
        import sqlglot
    except ImportError as e:  # pragma: no cover - env-dependent
        raise FugueSQLError(
            f"SQL dialect {dialect!r} requires the optional dependency "
            "sqlglot (pip install sqlglot) to transpile to Spark SQL"
        ) from e
    return " ".join(sqlglot.transpile(sql, read=dialect.lower(), write="spark"))


class _Cursor:
    def __init__(self, tokens: list[Token], ignore_case: bool = True):
        self.toks = tokens
        self.i = 0
        # False = reference-strict mode: only EXACT-UPPERCASE words are
        # keywords (fsql_ignore_case=False, the reference default — see
        # tokenizer._is_kw); True = this engine's permissive default
        self.ignore_case = ignore_case

    def _kw_ok(self, t: Token) -> bool:
        return self.ignore_case or t.kind != "word" or t.value == t.upper

    def peek(self, off: int = 0) -> "Token | None":
        j = self.i + off
        return self.toks[j] if j < len(self.toks) else None

    def pop(self) -> Token:
        if self.i >= len(self.toks):
            raise FugueSQLError("unexpected end of statement")
        t = self.toks[self.i]
        self.i += 1
        return t

    def match(self, *uppers: str) -> bool:
        t = self.peek()
        if t is not None and t.upper in uppers and self._kw_ok(t):
            self.i += 1
            return True
        return False

    def expect(self, *uppers: str) -> Token:
        t = self.pop()
        if t.upper not in uppers or not self._kw_ok(t):
            raise FugueSQLError(f"expected {'/'.join(uppers)}, got {t.value!r}")
        return t

    @property
    def done(self) -> bool:
        return self.i >= len(self.toks)

    def rest(self) -> list[Token]:
        r = self.toks[self.i :]
        self.i = len(self.toks)
        return r


def _unquote(s: str) -> str:
    if len(s) >= 2 and s[0] in "\"'" and s[-1] == s[0]:
        return ast.literal_eval(s)
    if len(s) >= 2 and s[0] == "`" and s[-1] == "`":
        return s[1:-1]
    return s


def _sql_text(tokens: list[Token]) -> str:
    """Reconstruct SQL text from tokens (whitespace-insensitive)."""
    parts: list[str] = []
    for t in tokens:
        parts.append(t.value)
    out = ""
    for i, p in enumerate(parts):
        if i == 0:
            out = p
            continue
        if p in (",", ")", "]", ".", ";") or parts[i - 1] in ("(", "[", "."):
            out += p
        else:
            out += " " + p
    return out


class _Executor:
    def __init__(
        self,
        spark: SparkSession,
        functions: "dict[str, Callable] | None",
        yield_dir: "str | None",
        ignore_case: bool = True,
        dialect: "str | None" = None,
    ):
        self.spark = spark
        self.ignore_case = ignore_case
        self.functions = dict(functions or {})
        self.vars: dict[str, Any] = {}
        self.last: Any = None
        self.result = FugueSQLResult()
        self.yield_dir = yield_dir
        self.dialect = dialect

    # ---------------- helpers ----------------

    def _resolve_fn(self, name: str) -> Callable:
        if name in self.functions:
            return self.functions[name]
        if name in _EXTENSIONS:
            return _EXTENSIONS[name]
        if "." in name:
            # instance attribute on a passed-in object — ``USING m.t`` /
            # ``CALLBACK cb.incr`` where m/cb came via functions= (or
            # FugueSQLWorkflow caller capture); reference:
            # tests/fugue/sql/test_workflow.py:311-368
            head, _, rest = name.partition(".")
            obj = self.functions.get(head, _EXTENSIONS.get(head))
            if obj is not None:
                try:
                    for part in rest.split("."):
                        obj = getattr(obj, part)
                    return obj
                except AttributeError as ex:
                    raise FugueSQLError(f"cannot resolve {name!r}: {ex}") from ex
            mod, _, attr = name.rpartition(".")
            try:
                return getattr(importlib.import_module(mod), attr)
            except (ImportError, AttributeError) as ex:
                raise FugueSQLError(f"cannot import {name!r}: {ex}") from ex
        raise FugueSQLError(
            f"unknown function {name!r} (pass it via functions= or use a dotted path)"
        )

    def _get_df(self, name: "str | None") -> Any:
        if name is None:
            if self.last is None:
                raise FugueSQLError("no previous result to consume")
            return self.last
        member: "str | None" = None
        m = re.fullmatch(r"([^\[\]]+)\[(.+)\]", name)
        if m is not None:
            name, member = m.group(1), m.group(2)
        if name not in self.vars:
            # source-not-found fallthrough to catalog tables (reference:
            # FugueSQLHooks.on_select_source_not_found, fugue/sql/
            # _visitors.py:46-50 — unresolved names resolve against the
            # backend catalog, e.g. a table written by save_table)
            if member is None:
                from fugue_spark.catalog import table_exists

                try:
                    found = table_exists(self.spark, name)
                except Exception:
                    found = False
                if found:
                    return self.spark.table(name)
            raise FugueSQLError(f"unknown dataframe {name!r}")
        v = self.vars[name]
        # df[idx] / df[key] member access on collection variables
        # (reference: fugue/sql/_visitors.py:363-389)
        if member is not None:
            if isinstance(v, ZippedFrames):
                items: Any = v.dfs
            elif isinstance(v, (dict, list, tuple)):
                items = v
            else:
                raise FugueSQLError(
                    f"can't specify index or key for dataframe {name!r}"
                )
            key: Any = member.strip()
            if isinstance(key, str) and (key.startswith("'") or key.startswith('"')):
                key = key[1:-1]
            try:
                if isinstance(items, dict):
                    # named or positional (reference WorkflowDataFrames
                    # supports both)
                    if key in items:
                        return items[key]
                    return list(items.values())[int(key)]
                return items[int(key)]
            except (KeyError, ValueError, IndexError) as ex:
                raise FugueSQLError(f"no dataframe {name}[{member}]: {ex}") from ex
        if isinstance(v, (dict, list, tuple)):
            raise FugueSQLError(f"must specify index or key for dataframes {name!r}")
        return v

    def _dotted_name(self, c: _Cursor) -> str:
        parts = [c.pop().value]
        while c.peek() is not None and c.peek().value == ".":
            c.pop()
            parts.append(c.pop().value)
        return ".".join(parts)

    # clause keywords that may appear where an OPTIONAL df ref is parsed —
    # never candidates for catalog-table fallthrough
    _CLAUSE_KEYWORDS = STATEMENT_KEYWORDS | {
        "AND", "APPEND", "AS", "ASC", "AVRO", "BY", "CALLBACK", "COLUMNS", "COMPILED",
        "CSV", "DESC", "EXISTS", "FALSE", "FROM", "IF", "JSON", "LAZY",
        "NULL", "NULLS", "ON", "ORC", "OUTER", "OVERWRITE", "PARAMS",
        "PARQUET", "PERCENT", "PREPARTITION", "PRESORT", "REPLACE", "ROW",
        "ROWCOUNT", "ROWS", "SCHEMA", "SEED", "SINGLE", "TITLE", "TO",
        "TRUE", "USE", "USING",
    }

    def _is_df_word(self, t: Token) -> bool:
        if t.value in self.vars:
            return True
        # source-not-found fallthrough to catalog tables (reference:
        # FugueSQLHooks.on_select_source_not_found, _visitors.py:46-50)
        if t.upper in self._CLAUSE_KEYWORDS:
            return False
        try:
            from fugue_spark.catalog import table_exists

            return table_exists(self.spark, t.value)
        except Exception:
            return False

    def _maybe_df_ref(self, c: _Cursor) -> "str | None":
        t = c.peek()
        nxt1 = c.peek(1)
        if (
            t is not None
            and t.value == "("
            and nxt1 is not None
            and nxt1.kind == "word"
            and nxt1.upper in STATEMENT_KEYWORDS
        ):
            # nested statement in dataframe-reference position:
            # TRANSFORM (CREATE ... | SELECT ...) USING f — consume the
            # balanced group, execute it as an expression, bind the frame
            # to an internal variable (two-level compositions recurse
            # naturally: the nested statement's own refs parse the same way)
            c.pop()  # '('
            depth, body = 1, []
            while depth:
                tok = c.pop()
                if tok.value == "(":
                    depth += 1
                elif tok.value == ")":
                    depth -= 1
                    if depth == 0:
                        break
                body.append(tok)
            df = self._run_nested(body)
            self._nested_ref_serial = getattr(self, "_nested_ref_serial", 0) + 1
            name = f"__fugue_nested_ref_{self._nested_ref_serial}__"
            self.vars[name] = df
            return name
        if t is not None and t.kind == "word" and self._is_df_word(t):
            c.pop()
            name = t.value
            nxt = c.peek()
            if nxt is not None and nxt.value == "[":
                c.pop()
                parts = []
                while c.peek() is not None and c.peek().value != "]":
                    parts.append(c.pop().value)
                c.expect("]")
                name = f"{name}[{''.join(parts)}]"
            return name
        return None

    def _df_ref_list(self, c: _Cursor) -> list[str]:
        names = []
        n = self._maybe_df_ref(c)
        while n is not None:
            names.append(n)
            if not c.match(","):
                break
            n = self._maybe_df_ref(c)
            if n is None:
                raise FugueSQLError("expected dataframe name after ','")
        return names

    def _params(self, c: _Cursor) -> dict[str, Any]:
        """(a=1, b="x", c:2) → dict"""
        out: dict[str, Any] = {}
        if not c.match("("):
            return out
        while not c.match(")"):
            key = c.pop().value
            if not (c.match("=") or c.match(":")):
                raise FugueSQLError(f"expected = or : after param {key!r}")
            out[key] = self._literal(c)
            c.match(",")
        return out

    def _params_or_bare(self, c: _Cursor, stop: "set[str] | frozenset" = frozenset()) -> dict[str, Any]:
        """Reference grammar accepts both param forms (fugue-sql-antlr
        fugueParams): parenthesized ``f(a=1, b:2)`` and bare
        ``PARAMS a:1, b:2`` terminated by a stop keyword or end."""
        if c.peek() is not None and c.peek().value == "(":
            return self._params(c)
        if c.match("PARAMS"):
            if c.peek() is not None and c.peek().value == "(":
                return self._params(c)
            out: dict[str, Any] = {}
            while not c.done:
                t = c.peek()
                if t.kind == "word" and t.upper in stop and c._kw_ok(t):
                    break
                key = c.pop().value
                if not (c.match(":") or c.match("=")):
                    raise FugueSQLError(f"expected : or = after param {key!r}")
                out[key] = self._literal(c)
                c.match(",")
            return out
        return {}

    def _df_ref_list_labeled(self, c: _Cursor) -> "tuple[list, list]":
        """Dataframe refs with optional reference-style labels —
        ``df1=(create using f), df2:other`` (tests/fugue/sql/
        test_workflow_parse.py:110-124 dict-like dataframes; labels bind
        to the extension's parameter names). Returns (labels, names);
        labels are all None when unlabeled."""
        labels: list = []
        names: list = []
        while True:
            label = None
            t, t1 = c.peek(), c.peek(1)
            if (
                t is not None
                and t.kind == "word"
                and t1 is not None
                and t1.value in (":", "=")
            ):
                t2 = c.peek(2)
                if t2 is not None and (
                    t2.value == "("
                    or (t2.kind == "word" and self._is_df_word(t2))
                ):
                    c.pop()
                    c.pop()
                    label = t.value
            n = self._maybe_df_ref(c)
            if n is None:
                if label is not None:
                    raise FugueSQLError(f"expected dataframe after label {label!r}")
                break
            labels.append(label)
            names.append(n)
            if not c.match(","):
                break
        if any(x is not None for x in labels) and not all(
            x is not None for x in labels
        ):
            raise FugueSQLError("either all dataframe refs are labeled or none")
        return labels, names

    def _literal(self, c: _Cursor) -> Any:
        t = c.pop()
        if t.kind == "string":
            return ast.literal_eval(t.value)
        if t.kind == "number":
            return float(t.value) if "." in t.value else int(t.value)
        if t.upper in ("TRUE", "FALSE"):
            return t.upper == "TRUE"
        if t.upper == "NULL":
            return None
        if t.value == "-" and c.peek() is not None and c.peek().kind == "number":
            n = c.pop()
            return -(float(n.value) if "." in n.value else int(n.value))
        return t.value

    def _columns_list(self, c: _Cursor) -> list[str]:
        cols = [_unquote(c.pop().value)]
        while c.match(","):
            cols.append(_unquote(c.pop().value))
        return cols

    def _schema_tokens(self, c: _Cursor, stop: set[str]) -> str:
        parts: list[str] = []
        while not c.done:
            t = c.peek()
            if t.kind == "word" and t.upper in stop:
                break
            parts.append(c.pop().value)
        return "".join(parts)

    def _prepartition(self, c: _Cursor) -> "PartitionSpec | None":
        if not c.match("PREPARTITION"):
            return None
        num: "int | str" = 0
        # number or num-expr over ROWCOUNT/CONCURRENCY (reference
        # PartitionSpec num expressions, e.g. ``PREPARTITION ROWCOUNT / 2``)
        expr_parts: list[str] = []
        while not c.done:
            t = c.peek()
            if t.kind == "number" or t.value in ("*", "/", "+", "-", "(", ")"):
                expr_parts.append(c.pop().value)
            elif t.kind == "word" and t.upper in ("ROWCOUNT", "CONCURRENCY"):
                expr_parts.append(c.pop().upper)
            else:
                break
        if expr_parts:
            joined = "".join(expr_parts)
            try:
                num = int(joined)
            except ValueError:
                num = joined
        by: list[str] = []
        if c.match("BY"):
            by = self._columns_list(c)
        presort = None
        if c.match("PRESORT"):
            presort = self._presort_clause(c)
        return PartitionSpec(by=by, presort=presort, num=num)

    def _presort_clause(self, c: _Cursor) -> str:
        items = []
        while True:
            col = c.pop().value
            direction = "ASC"
            if c.peek() is not None and c.peek().upper in ("ASC", "DESC"):
                direction = c.pop().upper
            items.append(f"{col} {direction}")
            if not c.match(","):
                break
        return ", ".join(items)

    # ---------------- statements ----------------

    def run_statement(self, tokens: list[Token]) -> None:
        c = _Cursor(tokens, self.ignore_case)
        target: "str | None" = None
        if (
            len(tokens) >= 2
            and tokens[0].kind == "word"
            and not _is_kw(tokens[0], STATEMENT_KEYWORDS, self.ignore_case)
            and tokens[1].value == "="
        ):
            target = c.pop().value
            c.pop()  # '='
        body = c.rest()
        if not body:
            return
        body, chain = self._split_postfix(body)
        res = self._run_body(body)
        res = self._apply_chain(res, chain, target)
        if res is not None:
            if not isinstance(res, (dict, list, tuple)):
                self.last = res
            if target is not None:
                self.vars[target] = res
        # nested df-refs ((CREATE …) in dataframe position) are bound to
        # internal names only for the duration of their statement — purge
        # them so they neither pin plans for the session's lifetime nor
        # become accidentally referencable table names later
        for name in [n for n in self.vars if n.startswith("__fugue_nested_ref_")]:
            del self.vars[name]

    # -- statement bodies, set ops, postfix modifier chains --

    def _exec_statement_tokens(self, tokens: list[Token]) -> Any:
        """Dispatch one fugue statement (no assignment, no postfix chain).
        Trailing tokens a handler leaves unconsumed are a script error —
        clause typos must not silently vanish (the reference's ANTLR
        grammar rejects them at parse time)."""
        c = _Cursor(tokens, self.ignore_case)
        first = c.peek()
        if first is None:
            return None
        if not c._kw_ok(first):
            raise FugueSQLError(
                f"unsupported statement {first.value!r} (keywords must be "
                "UPPERCASE under fsql_ignore_case=False)"
            )
        if first.upper in ("SELECT", "WITH"):
            return self._sql_select(c.rest())
        c.pop()
        handler = getattr(self, f"_st_{first.upper.lower()}", None)
        if handler is None:
            raise FugueSQLError(f"unsupported statement {first.value!r}")
        res = handler(c)
        if not c.done:
            bad = " ".join(t.value for t in c.rest()[:8])
            raise FugueSQLError(
                f"unexpected tokens after {first.upper} statement: {bad!r}"
            )
        return res

    def _run_body(self, tokens: list[Token]) -> Any:
        """One statement body: either a general set op between fugue
        statements (reference: tests/fugue/sql/test_workflow_parse.py:468
        ``create using f union select * from b``) or a single statement."""
        segs = self._split_setops(tokens)
        if segs is None:
            return self._exec_statement_tokens(tokens)
        df = self._run_segment(segs[0][2])
        for op, distinct, toks in segs[1:]:
            rhs = self._run_segment(toks)
            from fugue_spark.operators import setops

            if op == "UNION":
                df = setops.union(df, rhs, distinct=distinct)
            elif op == "INTERSECT":
                df = setops.intersect(df, rhs, distinct=distinct)
            else:  # EXCEPT / MINUS
                df = setops.subtract(df, rhs, distinct=distinct)
        return df

    def _split_setops(self, tokens: list[Token]):
        """Split at depth-0 UNION/INTERSECT/EXCEPT/MINUS between fugue
        statements. Returns None when the statement is pure SQL (every
        segment starts with SELECT/WITH — Catalyst's job) or when any
        segment does not start with a statement keyword (e.g. Spark's
        ``SELECT * EXCEPT (a)`` syntax)."""
        depth = 0
        segs: list = []
        cur: list[Token] = []
        ops: list = [("", True)]
        i = 0
        while i < len(tokens):
            t = tokens[i]
            if t.value in "([{":
                depth += 1
            elif t.value in ")]}":
                depth -= 1
            elif (
                depth == 0
                and cur
                and t.kind == "word"
                and _is_kw(t, _SETOP_KWS, self.ignore_case)
            ):
                distinct = True
                j = i + 1
                if (
                    j < len(tokens)
                    and tokens[j].kind == "word"
                    and tokens[j].upper in ("ALL", "DISTINCT")
                ):
                    distinct = tokens[j].upper == "DISTINCT"
                    j += 1
                segs.append(cur)
                ops.append((t.upper, distinct))
                cur = []
                i = j
                continue
            cur.append(t)
            i += 1
        if cur:
            segs.append(cur)
        if len(segs) <= 1:
            return None
        if any(
            not s
            or s[0].kind != "word"
            or not _is_kw(s[0], STATEMENT_KEYWORDS, self.ignore_case)
            for s in segs
        ):
            return None
        if all(s[0].upper in ("SELECT", "WITH") for s in segs):
            return None
        return [(op, d, s) for (op, d), s in zip(ops, segs)]

    def _run_segment(self, tokens: list[Token]) -> DataFrame:
        if tokens[0].upper in ("SELECT", "WITH"):
            return self._sql_select(list(tokens))
        return self._run_nested(tokens)

    def _split_postfix(self, tokens: list[Token]):
        """Strip a trailing postfix modifier chain. The scan accepts the
        FIRST depth-0 chain keyword whose entire tail parses as a chain;
        anything else (a column literally named ``persist`` mid-SQL) stays
        in the body."""
        depth = 0
        # a statement whose HEAD is the two-word DETERMINISTIC CHECKPOINT
        # must not lose its own CHECKPOINT to the chain scan
        start = 2 if tokens and tokens[0].upper == "DETERMINISTIC" else 1
        for i, t in enumerate(tokens):
            if i < start:
                if t.value in "([{":
                    depth += 1
                elif t.value in ")]}":
                    depth -= 1
                continue
            if t.value in "([{":
                depth += 1
            elif t.value in ")]}":
                depth -= 1
            elif (
                depth == 0
                and i > 0
                and t.kind == "word"
                and _is_kw(t, _CHAIN_START, self.ignore_case)
            ):
                ops = self._try_parse_chain(tokens[i:])
                if ops is not None:
                    return tokens[:i], ops
        return tokens, []

    def _try_parse_chain(self, tokens: list[Token]):
        """Parse a full postfix chain or return None (not a chain)."""
        c = _Cursor(tokens, self.ignore_case)
        ops: list = []
        try:
            while not c.done:
                lazy = c.match("LAZY")
                if c.match("PERSIST"):
                    self._params(c)  # storage-level opts accepted (single-engine)
                    ops.append(("persist", {"lazy": lazy}))
                elif c.match("WEAK"):
                    if not c.match("CHECKPOINT"):
                        return None
                    self._params(c)
                    ops.append(("persist", {"lazy": lazy}))
                elif c.match("STRONG") or (
                    c.peek() is not None and c.peek().upper == "CHECKPOINT"
                ):
                    if not c.match("CHECKPOINT"):
                        return None
                    kw = {"lazy": lazy}
                    kw.update(self._checkpoint_opts(c))
                    ops.append(("strong_checkpoint", kw))
                elif c.match("DETERMINISTIC"):
                    if lazy or not c.match("CHECKPOINT"):
                        return None
                    ops.append(("deterministic_checkpoint", self._checkpoint_opts(c)))
                elif not lazy and c.match("BROADCAST"):
                    ops.append(("broadcast", {}))
                elif not lazy and c.match("PRINT"):
                    kw = {}
                    if c.peek() is not None and c.peek().kind == "number":
                        kw["n"] = int(c.pop().value)
                        c.match("ROWS") or c.match("ROW")
                    if c.match("TITLE"):
                        kw["title"] = _unquote(c.pop().value)
                    ops.append(("print", kw))
                elif not lazy and c.match("YIELD"):
                    kind = c.expect("DATAFRAME", "FILE", "TABLE", "LOCAL").upper
                    if kind == "LOCAL":
                        kind = c.expect("DATAFRAME", "FILE").upper
                    name = None
                    if c.match("AS"):
                        name = c.pop().value
                    ops.append(("yield", {"kind": kind, "name": name}))
                else:
                    return None
        except FugueSQLError:
            return None
        return ops

    def _checkpoint_opts(self, c: _Cursor) -> dict[str, Any]:
        """[namespace-string] [PREPARTITION …] [SINGLE] [params] after a
        CHECKPOINT keyword (reference workflow.py checkpoint options)."""
        out: dict[str, Any] = {}
        t = c.peek()
        if t is not None and t.kind == "string":
            out["namespace"] = _unquote(c.pop().value)
        spec = self._prepartition(c)
        if spec is not None:
            out["spec"] = spec
        if c.match("SINGLE"):
            out["single"] = True
        params = self._params_or_bare(c, stop=_CHAIN_START)
        if params:
            out["params"] = params
        return out

    def _apply_chain(self, res: Any, ops: list, target: "str | None") -> Any:
        for kind, kw in ops:
            if not isinstance(res, DataFrame):
                raise FugueSQLError(
                    f"postfix {kind.upper()} needs a dataframe-producing statement"
                )
            if kind == "persist":
                res = fa.persist(res, lazy=kw.get("lazy", False))
            elif kind == "broadcast":
                res = fa.broadcast(res)
            elif kind == "strong_checkpoint":
                res = self._apply_checkpoint(res, deterministic=False, **kw)
            elif kind == "deterministic_checkpoint":
                res = self._apply_checkpoint(res, deterministic=True, **kw)
            elif kind == "print":
                fa.show(res, kw.get("n", 10), title=kw.get("title"))
            elif kind == "yield":
                name = kw.get("name") or target
                if name is None:
                    raise FugueSQLError(
                        "YIELD needs AS <name> or an assignment target"
                    )
                self._do_yield(res, kw["kind"], name)
        return res

    def _apply_checkpoint(
        self,
        df: DataFrame,
        *,
        deterministic: bool = False,
        lazy: bool = False,
        namespace: str = "",
        spec: "PartitionSpec | None" = None,
        single: bool = False,
        params: "dict | None" = None,
    ) -> DataFrame:
        from fugue_spark.workflow import deterministic_checkpoint, strong_checkpoint

        if spec is not None:
            try:
                num = int(spec.num)
            except (TypeError, ValueError):
                num = 0
            if spec.by:
                df = df.repartition(*(c for c in spec.by)) if not num else df.repartition(num, *spec.by)
            elif num:
                df = df.repartition(num)
        if single:
            df = df.coalesce(1)
        if deterministic:
            return deterministic_checkpoint(df, namespace=namespace)
        return strong_checkpoint(df, lazy=lazy)

    # -- raw SQL --

    def _run_nested(self, tokens: list[Token]) -> DataFrame:
        """Execute one fugue statement appearing as a nested table source —
        ``select * from (create using f)`` — and return its frame. Runs
        against the same variable scope; ``last`` is restored afterwards
        (the nested task is an expression, not a pipeline step — mirrors
        ref fugue/sql/_visitors.py:398 visitFugueDataFrameNested)."""
        first = tokens[0] if tokens else None
        if first is None:
            raise FugueSQLError("empty nested statement")
        saved_last = self.last
        try:
            res = self._exec_statement_tokens(tokens)
        finally:
            self.last = saved_last
        if not isinstance(res, DataFrame):
            raise FugueSQLError(
                f"nested {first.value!r} does not produce a dataframe"
            )
        return res

    def _substitute_nested(self, tokens: list[Token]) -> list[Token]:
        """Replace ``( <fugue statement> )`` groups in table-source position
        (after FROM/JOIN) with temp views over their executed results.
        Plain ``(select …)`` subqueries are left for Spark SQL; a nested
        fugue group INSIDE one of those is still found here (the scan is
        positional, not recursive — ``from (select * from (create using
        f))`` resolves the inner group, leaving valid SQL)."""
        tokens = list(tokens)
        serial = 0
        while True:
            idx = None
            for i in range(1, len(tokens) - 1):
                if (
                    tokens[i].value == "("
                    and tokens[i - 1].upper in ("FROM", "JOIN")
                    and tokens[i + 1].kind == "word"
                    and tokens[i + 1].upper in STATEMENT_KEYWORDS
                    # plain (SELECT …) subqueries are Spark SQL's job
                    and tokens[i + 1].upper not in ("SELECT", "WITH")
                ):
                    idx = i
                    break
            if idx is None:
                return tokens
            depth, j = 0, idx
            while j < len(tokens):
                if tokens[j].value == "(":
                    depth += 1
                elif tokens[j].value == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise FugueSQLError("unbalanced parentheses in nested statement")
            df = self._run_nested(tokens[idx + 1 : j])
            view = f"__fugue_nested_{serial}__"
            serial += 1
            df.createOrReplaceTempView(view)
            tokens[idx : j + 1] = [Token(view, "word", tokens[idx].line)]

    def _substitute_dotted_vars(self, tokens: list[Token]) -> list[Token]:
        """Resolve dotted VARIABLE names in table position: ``FROM a.x``
        where ``a.x`` is a passed-in frame (reference: fsql(sql,
        {"a.x": df}), tests/fugue/sql/test_workflow.py:184-199). Only the
        token right after FROM/JOIN is considered, so column refs like
        ``SELECT a.x`` are untouched."""
        dotted = {
            n: v
            for n, v in self.vars.items()
            if "." in n and isinstance(v, DataFrame)
        }
        if not dotted:
            return tokens
        tokens = list(tokens)
        serial = getattr(self, "_dotted_serial", 0)
        i = 0
        while i < len(tokens):
            t = tokens[i]
            if t.kind == "word" and t.upper in ("FROM", "JOIN") and i + 1 < len(tokens):
                j = i + 1
                if tokens[j].kind == "word":
                    parts = [tokens[j].value]
                    k = j + 1
                    while (
                        k + 1 < len(tokens)
                        and tokens[k].value == "."
                        and tokens[k + 1].kind == "word"
                    ):
                        parts.append(tokens[k + 1].value)
                        k += 2
                    name = ".".join(parts)
                    if name in dotted:
                        view = f"__fugue_dotted_{serial}__"
                        serial += 1
                        dotted[name].createOrReplaceTempView(view)
                        tokens[j:k] = [Token(view, "word", tokens[j].line)]
            i += 1
        self._dotted_serial = serial
        return tokens

    def _sql_select(self, tokens: list[Token]) -> DataFrame:
        # register in-scope frames as temp views named as their variables
        # (dotted names can't be temp views — they substitute per-query)
        for name, df in self.vars.items():
            if isinstance(df, DataFrame) and "." not in name:
                df.createOrReplaceTempView(name)
        tokens = self._substitute_dotted_vars(tokens)
        tokens = self._substitute_nested(tokens)
        has_from = any(t.upper == "FROM" for t in tokens)
        sql = _sql_text(tokens)
        # member access on collection vars inside raw SQL: substitute each
        # name[idx] with a temp view over the resolved element
        for name, v in self.vars.items():
            if isinstance(v, (dict, list, tuple)):
                for i, m in enumerate(
                    re.finditer(rf"\b{re.escape(name)}\s*\[([^\]]+)\]", sql)
                ):
                    view = f"__fugue_member_{name}_{i}__"
                    self._get_df(f"{name}[{m.group(1)}]").createOrReplaceTempView(view)
                    sql = sql.replace(m.group(0), view)
        if not has_from:
            if not isinstance(self.last, DataFrame):
                raise FugueSQLError("FROM-less SELECT needs a previous result")
            self.last.createOrReplaceTempView("__fugue_prev__")
            m = re.search(
                r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b", sql, re.IGNORECASE
            )
            at = m.start() if m else len(sql)
            sql = sql[:at] + " FROM __fugue_prev__ " + sql[at:]
        return self.spark.sql(transpile_sql(sql, self.dialect))

    # -- create / load / save --

    def _coerce_schema(self, df: DataFrame, schema: str) -> DataFrame:
        """Apply a SCHEMA clause to an extension's output. Aligns strictly
        BY NAME when every declared column exists in the output (the
        reference's PandasDataFrame._apply_schema does pdf[schema.names] —
        an extension returning the right columns in a different order must
        not get its data relabeled); falls back to positional rename+cast
        only when the declared names don't all appear (the rename case)."""
        from pyspark.sql import functions as F

        from fugue_spark.schema import parse_schema

        st = parse_schema(schema)
        if len(st.fields) != len(df.columns):
            raise FugueSQLError(
                f"SCHEMA {schema!r} has {len(st.fields)} columns but the "
                f"extension produced {len(df.columns)}"
            )
        if all(f.name in df.columns for f in st.fields):
            return df.select(
                *(F.col(f.name).cast(f.dataType) for f in st.fields)
            )
        return df.select(
            *(
                F.col(c0).cast(f.dataType).alias(f.name)
                for c0, f in zip(df.columns, st.fields)
            )
        )

    def _st_create(self, c: _Cursor) -> DataFrame:
        if c.match("USING"):
            fn = self._resolve_fn(self._dotted_name(c))
            params = self._params_or_bare(c, stop={"SCHEMA"})
            df = fn(self.spark, **params)
            if c.match("SCHEMA"):
                schema = self._schema_tokens(c, STATEMENT_KEYWORDS)
                df = self._coerce_schema(df, schema)
            elif getattr(fn, "__fugue_schema__", None) is not None:
                # @creator("a:int")-attached schema
                df = self._coerce_schema(df, fn.__fugue_schema__)
            return df
        rows_tokens: list[str] = []
        depth = 0
        while not c.done:
            t = c.peek()
            if t.upper == "SCHEMA" and depth == 0:
                break
            t2 = c.pop()
            tok = t2.value
            if t2.kind == "word":
                tok = {"NULL": "None", "TRUE": "True", "FALSE": "False"}.get(
                    t2.upper, tok
                )
            rows_tokens.append(tok)
            if tok in "([{":
                depth += 1
            elif tok in ")]}":
                depth -= 1
        c.expect("SCHEMA")
        schema = self._schema_tokens(c, STATEMENT_KEYWORDS)
        data = ast.literal_eval("".join(rows_tokens)) if rows_tokens else []
        from pyspark.sql import types as T

        from fugue_spark.schema import parse_schema

        st = parse_schema(schema)
        # int literals fill float/double fields (the reference's CREATE
        # accepts ``[[1, 2]] schema a:double, b:double``)
        is_float = [
            isinstance(f.dataType, (T.DoubleType, T.FloatType)) for f in st.fields
        ]
        if data and any(is_float):
            data = [
                [
                    float(v) if (b and v is not None) else v
                    for v, b in zip(row, is_float)
                ]
                for row in data
            ]
        return self.spark.createDataFrame(data, st)

    def _st_load(self, c: _Cursor) -> DataFrame:
        fmt = None
        if c.peek() is not None and c.peek().upper in ("PARQUET", "CSV", "JSON", "ORC", "AVRO"):
            fmt = c.pop().upper.lower()
        path = _unquote(c.pop().value)
        params = self._params(c)
        columns = None
        if c.match("COLUMNS"):
            text = self._schema_tokens(c, STATEMENT_KEYWORDS)
            columns = text if ":" in text else text.split(",")
        return fa.load(self.spark, path, format_hint=fmt, columns=columns, **params)

    def _st_save(self, c: _Cursor) -> "DataFrame | None":
        and_use = False
        if c.match("AND"):
            c.expect("USE")
            and_use = True
        df_name = self._maybe_df_ref(c)
        spec = self._prepartition(c)
        mode = "error"
        if c.match("OVERWRITE"):
            mode = "overwrite"
        elif c.match("APPEND"):
            mode = "append"
        elif c.match("TO"):
            mode = "error"
        single = c.match("SINGLE")
        fmt = None
        if c.peek() is not None and c.peek().upper in ("PARQUET", "CSV", "JSON", "ORC", "AVRO"):
            fmt = c.pop().upper.lower()
        path = _unquote(c.pop().value)
        params = self._params(c)
        df = self._get_df(df_name)
        partition_by = list(spec.by) if spec is not None else None
        fa.save(
            df, path, format_hint=fmt, mode=mode,
            partition_by=partition_by or None, force_single=single, **params
        )
        return df if and_use else None

    # -- transforms / extensions --

    def _st_transform(self, c: _Cursor, discard: bool = False) -> "DataFrame | None":
        # TRANSFORM [COMPILED] df... [PREPARTITION ...] USING fn [PARAMS ...]
        #   [SCHEMA ...] [CALLBACK fn] — COMPILED opts into the aggregation
        # trace-compiler (strict: an untraceable function is a script error,
        # not a silent slow path)
        compiled = c.match("COMPILED")
        names = self._df_ref_list(c)
        spec = self._prepartition(c) or PartitionSpec()
        c.expect("USING")
        fn = self._resolve_fn(self._dotted_name(c))
        params = self._params_or_bare(
            c, stop={"SCHEMA", "CALLBACK"} | STATEMENT_KEYWORDS
        )
        schema = None
        if c.match("SCHEMA"):
            schema = self._schema_tokens(c, STATEMENT_KEYWORDS - {"SELECT"} | {"CALLBACK"})
        callback = None
        if c.match("CALLBACK"):
            callback = self._resolve_fn(self._dotted_name(c))
        # None = auto: every TRANSFORM attempts the trace-compiler and
        # silently falls back; COMPILED makes an untraceable function a
        # script error instead of a silent slow path
        compile_arg: "str | None" = "strict" if compiled else None
        inputs = [self._get_df(n) for n in names] if names else [self._get_df(None)]
        if len(inputs) == 1 and isinstance(inputs[0], ZippedFrames):
            z = inputs[0]
            # schema may be None: cotransform resolves a `# schema:` hint
            zspec = z.spec
            # TRANSFORM PREPARTITION <n> on a zipped input sets the bucket
            # count for the zip's keys (reference test_workflow_parse.py:153
            # ``zip … transform prepartition 3 using cotransformer``)
            if getattr(spec, "num", 0) and not getattr(zspec, "num", 0):
                zspec = PartitionSpec(zspec, num=spec.num)
            return cotransform(
                z.dfs, fn, schema=schema, partition=zspec, how=z.how, params=params,
                compile=compile_arg,
            )
        if len(inputs) > 1:
            return cotransform(
                inputs, fn, schema=schema, partition=spec, params=params,
                compile=compile_arg,
            )
        if discard:
            out_transform(inputs[0], fn, partition=spec, params=params)
            return None
        return transform(
            inputs[0], fn, schema=schema, partition=spec, params=params,
            callback=callback, compile=compile_arg,
        )

    def _st_outtransform(self, c: _Cursor) -> None:
        return self._st_transform(c, discard=True)

    def _call_extension_with_refs(
        self, c: _Cursor, spec: "PartitionSpec | None" = None, lead_spark: bool = False
    ):
        """Shared PROCESS/OUTPUT/SUB body: [labeled] refs, USING fn,
        params; labeled refs bind to the callable's parameter names."""
        labels, names = self._df_ref_list_labeled(c)
        spec = spec or self._prepartition(c)
        c.expect("USING")
        fn = self._resolve_fn(self._dotted_name(c))
        params = self._params_or_bare(c, stop={"SCHEMA"} | STATEMENT_KEYWORDS)
        schema = None
        if c.match("SCHEMA"):
            schema = self._schema_tokens(c, STATEMENT_KEYWORDS)
        inputs = [self._get_df(n) for n in names]
        if not inputs and not (labels and labels[0] is not None):
            if lead_spark:
                if self.last is not None:
                    inputs = [self.last]
            else:
                inputs = [self._get_df(None)]
        if spec is not None and (spec.by or spec.num):
            from fugue_spark.partition import apply_partition_spec

            inputs = [
                apply_partition_spec(d, spec) if isinstance(d, DataFrame) else d
                for d in inputs
            ]
        lead = (self.spark,) if lead_spark else ()
        # a first parameter annotated DataFrames receives ALL inputs as
        # one named/positional container (reference: extensions taking
        # `dfs: DataFrames`, fugue/dataframe/dataframes.py)
        import inspect as _inspect

        try:
            sigp = list(_inspect.signature(fn).parameters.values())
        except (TypeError, ValueError):
            sigp = []
        wants_dfs = bool(sigp) and "DataFrames" in str(sigp[0].annotation)
        if wants_dfs:
            from fugue_spark.extensions import DataFrames

            if labels and labels[0] is not None:
                arg: Any = DataFrames({l: d for l, d in zip(labels, inputs)})
            else:
                arg = DataFrames(inputs)
            res = fn(*lead, arg, **params)
        elif labels and labels[0] is not None:
            res = fn(*lead, **{l: d for l, d in zip(labels, inputs)}, **params)
        else:
            res = fn(*lead, *inputs, **params)
        if schema is None and isinstance(res, DataFrame):
            attached = getattr(fn, "__fugue_schema__", None)
            if attached is not None:
                schema = attached
        if schema is not None and isinstance(res, DataFrame):
            res = self._coerce_schema(res, schema)
        return res

    def _st_process(self, c: _Cursor) -> DataFrame:
        return self._call_extension_with_refs(c)

    def _st_output(self, c: _Cursor) -> None:
        self._call_extension_with_refs(c)
        return None

    def _st_zip(self, c: _Cursor) -> ZippedFrames:
        names = self._df_ref_list(c)
        if len(names) < 2:
            raise FugueSQLError("ZIP needs at least two dataframes")
        how = "inner"
        for h in ("INNER", "LEFT", "RIGHT", "FULL", "CROSS"):
            if c.match(h):
                if h in ("LEFT", "RIGHT", "FULL"):
                    c.match("OUTER")
                    how = f"{h.lower()}_outer"
                elif h == "CROSS":
                    how = "cross"
                else:
                    how = "inner"
                break
        by: list[str] = []
        if c.match("BY"):
            by = self._columns_list(c)
        presort = None
        if c.match("PRESORT"):
            presort = self._presort_clause(c)
        spec = PartitionSpec(by=by, presort=presort)
        return ZippedFrames([self._get_df(n) for n in names], how, spec)

    # -- frame ops --

    def _st_print(self, c: _Cursor) -> None:
        n = 10
        if c.peek() is not None and c.peek().kind == "number":
            n = int(c.pop().value)
            c.match("ROWS") or c.match("ROW")
        # FROM is optional in the reference grammar: ``print dfs[0]``
        c.match("FROM")
        names = self._df_ref_list(c)
        rowcount = c.match("ROWCOUNT")
        title = None
        if c.match("TITLE"):
            title = _unquote(c.pop().value)
        dfs = [self._get_df(x) for x in names] if names else [self._get_df(None)]
        for df in dfs:
            if title:
                print(title)
            df.show(n, truncate=False)
            if rowcount:
                print(f"rowcount: {df.count()}")
        return None

    def _st_rename(self, c: _Cursor) -> DataFrame:
        c.expect("COLUMNS")
        mapping: dict[str, str] = {}
        while True:
            a = c.pop().value
            c.expect(":")
            b = c.pop().value
            mapping[a] = b
            if not c.match(","):
                break
        name = self._maybe_from(c)
        return fa.rename(self._get_df(name), mapping)

    def _st_alter(self, c: _Cursor) -> DataFrame:
        c.expect("COLUMNS")
        schema = self._schema_tokens(c, {"FROM"})
        name = self._maybe_from(c)
        return fa.alter_columns(self._get_df(name), schema)

    def _st_drop(self, c: _Cursor) -> DataFrame:
        if c.match("COLUMNS"):
            cols = self._columns_list(c)
            if_exists = False
            if c.match("IF"):
                c.expect("EXISTS")
                if_exists = True
            name = self._maybe_from(c)
            df = self._get_df(name)
            if if_exists:
                cols = [x for x in cols if x in df.columns]
                if not cols:
                    return df
            return fa.drop_columns(df, cols)
        c.expect("ROWS")
        c.expect("IF")
        how = c.expect("ANY", "ALL").upper.lower()
        c.match("NULL") or c.match("NULLS")
        subset = None
        if c.match("ON"):
            subset = self._columns_list(c)
        name = self._maybe_from(c)
        return fa.dropna(self._get_df(name), how=how, subset=subset)

    def _st_fill(self, c: _Cursor) -> DataFrame:
        c.expect("NULLS")
        c.match("PARAMS")
        mapping: dict[str, Any] = {}
        if c.peek() is not None and c.peek().value == "(":
            mapping = self._params(c)
        else:
            while not c.done and c.peek().upper != "FROM":
                key = c.pop().value
                if not (c.match(":") or c.match("=")):
                    raise FugueSQLError(f"expected : after {key!r}")
                mapping[key] = self._literal(c)
                c.match(",")
        name = self._maybe_from(c)
        return fa.fillna(self._get_df(name), mapping)

    def _st_sample(self, c: _Cursor) -> DataFrame:
        replace = c.match("REPLACE")
        num = self._literal(c)
        seed = None
        if c.match("PERCENT"):
            frac, n = num / 100.0, None
        else:
            c.match("ROWS") or c.match("ROW")
            frac, n = None, int(num)
        if c.match("SEED"):
            seed = int(self._literal(c))
        name = self._maybe_from(c)
        return fa.sample(self._get_df(name), n=n, frac=frac, replace=replace, seed=seed)

    def _st_take(self, c: _Cursor) -> DataFrame:
        n = int(self._literal(c))
        c.match("ROWS") or c.match("ROW")
        name = self._maybe_from(c)
        spec = self._prepartition(c) or PartitionSpec()
        presort = None
        if c.match("PRESORT"):
            items = []
            while not c.done and c.peek().upper not in ("NULL", "NULLS"):
                col = c.pop().value
                d = "ASC"
                if c.peek() is not None and c.peek().upper in ("ASC", "DESC"):
                    d = c.pop().upper
                items.append(f"{col} {d}")
                if not c.match(","):
                    break
            presort = ", ".join(items)
        na_position = "last"
        if c.match("NULL", "NULLS"):
            na_position = c.expect("FIRST", "LAST").upper.lower()
        return fa.take(
            self._get_df(name), n, presort=presort, na_position=na_position, partition=spec
        )

    def _maybe_from(self, c: _Cursor) -> "str | None":
        if c.match("FROM"):
            t = c.pop()
            if t.value not in self.vars:
                raise FugueSQLError(f"unknown dataframe {t.value!r}")
            return t.value
        return None

    # -- persistence hints / yields --

    def _st_broadcast(self, c: _Cursor) -> DataFrame:
        name = self._maybe_from(c) or self._maybe_df_ref(c)
        return fa.broadcast(self._get_df(name))

    def _st_persist(self, c: _Cursor) -> DataFrame:
        lazy = c.match("LAZY")
        self._params(c)  # storage-level opts accepted (single-engine)
        name = self._maybe_from(c) or self._maybe_df_ref(c)
        return fa.persist(self._get_df(name), lazy=lazy)

    def _st_checkpoint(self, c: _Cursor) -> DataFrame:
        # reference CHECKPOINT = per-run strong (file) checkpoint
        # (fugue/workflow/workflow.py:908); WEAK CHECKPOINT = persist
        opts = self._checkpoint_opts(c)
        return self._apply_checkpoint(self._get_df(None), deterministic=False, **opts)

    def _st_deterministic(self, c: _Cursor) -> DataFrame:
        c.expect("CHECKPOINT")
        opts = self._checkpoint_opts(c)
        return self._apply_checkpoint(self._get_df(None), deterministic=True, **opts)

    def _do_yield(self, df: DataFrame, kind: str, name: str) -> None:
        if kind == "DATAFRAME":
            self.result[name] = df
        elif kind == "FILE":
            base = self.yield_dir or tempfile.mkdtemp(prefix="fugue_sql_yield_")
            path = os.path.join(base, f"{name}.parquet")
            fa.save(df, path, mode="overwrite")
            self.result[name] = YieldedFile(path)
        else:
            df.write.mode("overwrite").saveAsTable(name)
            self.result[name] = name

    def _st_yield_impl(self, c: _Cursor) -> None:
        kind = c.expect("DATAFRAME", "FILE", "TABLE", "LOCAL").upper
        if kind == "LOCAL":
            kind = c.expect("DATAFRAME", "FILE").upper
        c.expect("AS")
        name = c.pop().value
        self._do_yield(self._get_df(None), kind, name)
        return None

    _st_yield = _st_yield_impl

    def _st_connect(self, c: _Cursor) -> "DataFrame | None":
        """CONNECT <engine>[(params)] <statement…> — single-engine build:
        an engine spec naming a known SQL DIALECT (duckdb, postgres, …)
        transpiles the inner statement's raw SQL to Spark SQL via the
        sqlglot hook (reference fugue/collections/sql.py:33-56); any other
        engine spec is validated and ignored (SURVEY §2.6). Either way the
        statement runs on Spark."""
        name = self._dotted_name(c)
        self._params(c)
        rest = c.rest()
        if not rest:
            return None
        if name.lower() in _SQL_DIALECTS:
            prev = self.dialect
            self.dialect = name.lower()
            try:
                return self._run_body(rest)
            finally:
                self.dialect = prev
        return self._run_body(rest)

    def _st_sub(self, c: _Cursor) -> "DataFrame | None":
        return self._st_module(c)

    def _st_module(self, c: _Cursor) -> "DataFrame | None":
        """Reusable sub-workflow (reference: SUB/MODULE USING m,
        fugue/workflow/module.py): a python function composing engine
        calls. Like the reference's ``@module`` decorator, the signature
        is introspected — an optional leading session parameter (named
        spark/wf/dag or annotated SparkSession) receives the session, and
        a module with no required dataframe parameters is not fed the
        previous result. Labeled refs (``sub df2:a,df1:b using merge``)
        bind to the module's parameter names, as in the reference."""
        import inspect

        labels, names = self._df_ref_list_labeled(c)
        c.expect("USING")
        fn = self._resolve_fn(self._dotted_name(c))
        params = self._params_or_bare(c, stop=STATEMENT_KEYWORDS)
        inputs = [self._get_df(n) for n in names]
        try:
            sig = list(inspect.signature(fn).parameters.values())
        except (TypeError, ValueError):
            sig = []
        takes_spark = bool(sig) and (
            sig[0].name in ("spark", "spark_", "wf", "dag", "session")
            or "SparkSession" in str(sig[0].annotation)
        )
        dfs_sig = sig[1:] if takes_spark else sig
        required = [
            p
            for p in dfs_sig
            if p.default is inspect.Parameter.empty
            and p.kind
            in (
                inspect.Parameter.POSITIONAL_ONLY,
                inspect.Parameter.POSITIONAL_OR_KEYWORD,
            )
            and p.name not in params
        ]
        labeled = bool(labels) and labels[0] is not None
        if not inputs and not labeled and required and self.last is not None:
            inputs = [self.last]
        lead = (self.spark,) if takes_spark else ()
        if labeled:
            return fn(*lead, **{l: d for l, d in zip(labels, inputs)}, **params)
        return fn(*lead, *inputs, **params)


_JINJA_RE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\}\}")


def fsql(
    script: str,
    variables_dict: "dict[str, Any] | None" = None,
    spark: "SparkSession | None" = None,
    functions: "dict[str, Callable] | None" = None,
    yield_dir: "str | None" = None,
    fsql_ignore_case: "bool | None" = None,
    state: "dict[str, Any] | None" = None,
    dialect: "str | None" = None,
    **variables: Any,
) -> FugueSQLResult:
    """Run a FugueSQL-superset script; returns yields (dict) with ``.last``.

    ``dialect`` transpiles every raw-SQL SELECT body from that dialect to
    Spark SQL before Catalyst sees it (reference
    ``fugue/collections/sql.py:33-56``; optional sqlglot dependency — a
    clean error names it when absent). ``CONNECT duckdb: SELECT …`` sets
    the dialect for that one statement.

    ``fsql_ignore_case`` mirrors the reference's flag of the same name
    (``/root/reference/fugue/sql/api.py:18-108``, conf
    ``fugue.sql.compile.ignore_case``): with it keywords parse in any case
    (``transform``/``Transform``/``TRANSFORM``); without it only
    EXACT-UPPERCASE words are statement keywords, protecting lowercase
    identifiers (a column named ``take`` at a line start) from being read
    as statements. Default ``None`` resolves the spark conf
    ``fugue.sql.compile.ignore_case`` if set, else False — STRICT, the
    reference's default; set the conf to true (or pass
    ``fsql_ignore_case=True``) for permissive parsing.

    ``variables_dict`` is the reference's dict-positional variables form
    (``fsql(sql, {"a.x": df})`` — names that aren't python identifiers,
    e.g. dotted, can only arrive this way; they resolve in table position).
    ``state``, when given, pre-seeds the variable scope and receives the
    final scope back — FugueSQLWorkflow uses it so multiple ``dag(...)``
    blocks share frames by name (reference fugue/sql/workflow.py)."""
    if isinstance(variables_dict, SparkSession):
        # tolerate the legacy positional form fsql(script, spark)
        spark, variables_dict = variables_dict, None
    if spark is None:
        from fugue_spark.context import current_spark

        spark = current_spark()
    if fsql_ignore_case is None:
        try:
            conf = spark.conf.get("fugue.sql.compile.ignore_case", "false")
        except Exception:
            conf = "false"
        fsql_ignore_case = str(conf).lower() in ("1", "true", "yes")
    all_vars = dict(variables_dict or {})
    all_vars.update(variables)

    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in all_vars:
            raise FugueSQLError(f"undefined template variable {name!r}")
        v = all_vars[name]
        return str(v)

    # the script outside {{...}} placeholders: a path variable it only
    # templates in is a string, never a source to load
    untemplated = _JINJA_RE.sub(" ", script)
    script = _JINJA_RE.sub(sub, script)
    ex = _Executor(
        spark, functions, yield_dir, ignore_case=fsql_ignore_case, dialect=dialect
    )
    if state:
        ex.vars.update(state)
    for name, val in all_vars.items():
        if isinstance(val, DataFrame):
            ex.vars[name] = val
        elif isinstance(val, (dict, list, tuple)) and val and all(
            isinstance(x, DataFrame)
            for x in (val.values() if isinstance(val, dict) else val)
        ):
            # collection variable: access elements with name[idx] / name[key]
            ex.vars[name] = val
        elif isinstance(val, YieldedFile):
            # a YIELD FILE result used as a source in a later script
            # (reference: test_workflow.py:205-218 'from yield file') —
            # tagged at yield time, so a load failure is a real error
            ex.vars[name] = fa.load(spark, str(val))
        elif (
            isinstance(val, str)
            and val.endswith((".parquet", ".csv", ".json", ".csv.gz", ".json.gz"))
            and re.search(rf"\b{re.escape(name)}\b", untemplated, re.IGNORECASE)
            and os.path.exists(val)
        ):
            # an explicit data-file path that exists and that the script
            # names as a source: load it (raising on a real load error). A
            # not-yet-existing path stays a string — it may be a SAVE
            # destination — and an arbitrary string that merely names some
            # existing dir is never loaded.
            ex.vars[name] = fa.load(spark, val)
    for stmt in split_statements(script, ignore_case=fsql_ignore_case):
        ex.run_statement(stmt)
    ex.result.last = ex.last if isinstance(ex.last, DataFrame) else None
    if state is not None:
        state.update(ex.vars)
    return ex.result
