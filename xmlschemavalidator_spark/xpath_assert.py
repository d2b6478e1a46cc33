"""XSD 1.1 ``xs:assert`` — cross-field record assertions, compiled from an
XPath 1.0 subset to Catalyst SQL (and to DuckDB SQL for oracles).

The reference predates XSD 1.1 entirely; this is spec-implemented like
list/attributeGroup (the 'beyond the reference' family). The supported
XPath subset is the cross-field fragment real schemas use in asserts:

* paths: ``child``, ``@attr``, ``.`` (the record's fields — flat columnar
  model, one step only);
* literals: numbers, ``'strings'`` / ``"strings"``;
* comparisons ``= != < <= > >=``, arithmetic ``+ - * div mod``;
* boolean ``and`` / ``or`` and the functions ``not(e)``,
  ``string-length(e)``, ``number(e)``, ``string(e)``, ``contains(a,b)``,
  ``starts-with(a,b)``.

Typing rule (deterministic stand-in for XPath's dynamic coercion, stated
here because the engine's columns may be strings on the document path): a
comparison or arithmetic whose OTHER side is a numeric literal or
``number()`` call coerces the path through ``try_cast(... as double)``;
comparisons against string literals cast to the dialect's string type;
path-to-path comparisons use the columns' natural types.

Both SQL dialects are emitted from ONE AST, so the Spark rule and the
DuckDB oracle cannot drift.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Optional

from xmlschemavalidator_spark.rules.facets import sql_lit

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+(?:\.\d+)?)"
    r"|(?P<str>'[^']*'|\"[^\"]*\")"
    r"|(?P<name>[A-Za-z_][A-Za-z0-9_.-]*)"
    r"|(?P<attr>@[A-Za-z_][A-Za-z0-9_.-]*)"
    r"|(?P<op><=|>=|!=|[=<>+*/%(),-])"
    r"|(?P<dot>\.)"
    r")"
)

_FUNCS = {"not", "string-length", "number", "string", "contains", "starts-with",
          "true", "false"}


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m or m.end() == m.start():
            rest = src[pos:].strip()
            if not rest:
                break
            raise ValueError(f"xs:assert: cannot tokenize at {rest[:20]!r}")
        pos = m.end()
        for kind in ("num", "str", "name", "attr", "op", "dot"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


# --- AST -------------------------------------------------------------------


@dataclass(frozen=True)
class Path:
    name: str  # column name; '' for '.'
    is_attr: bool = False


@dataclass(frozen=True)
class Lit:
    value: Any  # float | str


@dataclass(frozen=True)
class Call:
    func: str
    args: tuple


@dataclass(frozen=True)
class BinOp:
    op: str
    left: Any
    right: Any


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> Optional[tuple[str, str]]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self, want: Optional[str] = None) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ValueError("xs:assert: unexpected end of expression")
        if want is not None and t[1] != want:
            raise ValueError(f"xs:assert: expected {want!r}, got {t[1]!r}")
        self.i += 1
        return t

    def parse(self):
        e = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"xs:assert: trailing tokens at {self.peek()[1]!r}")
        return e

    def or_expr(self):
        e = self.and_expr()
        while self.peek() == ("name", "or"):
            self.take()
            e = BinOp("or", e, self.and_expr())
        return e

    def and_expr(self):
        e = self.cmp_expr()
        while self.peek() == ("name", "and"):
            self.take()
            e = BinOp("and", e, self.cmp_expr())
        return e

    def cmp_expr(self):
        e = self.add_expr()
        t = self.peek()
        if t and t[0] == "op" and t[1] in ("=", "!=", "<", "<=", ">", ">="):
            self.take()
            e = BinOp(t[1], e, self.add_expr())
        return e

    def add_expr(self):
        e = self.mul_expr()
        while True:
            t = self.peek()
            if t and t[0] == "op" and t[1] in ("+", "-"):
                self.take()
                e = BinOp(t[1], e, self.mul_expr())
            else:
                return e

    def mul_expr(self):
        e = self.primary()
        while True:
            t = self.peek()
            if t and ((t[0] == "op" and t[1] in ("*", "%")) or t == ("name", "div") or t == ("name", "mod")):
                self.take()
                op = {"div": "/", "mod": "%"}.get(t[1], t[1])
                e = BinOp(op, e, self.primary())
            else:
                return e

    def primary(self):
        t = self.take()
        kind, v = t
        if kind == "num":
            return Lit(float(v) if "." in v else int(v))
        if kind == "str":
            return Lit(v[1:-1])
        if kind == "attr":
            return Path(v[1:], is_attr=True)
        if kind == "dot":
            return Path("")
        if kind == "op" and v == "(":
            e = self.or_expr()
            self.take(")")
            return e
        if kind == "name":
            nxt = self.peek()
            if v in _FUNCS and nxt == ("op", "("):
                self.take("(")
                args = []
                if self.peek() != ("op", ")"):
                    args.append(self.or_expr())
                    while self.peek() == ("op", ","):
                        self.take(",")
                        args.append(self.or_expr())
                self.take(")")
                return Call(v, tuple(args))
            return Path(v)
        raise ValueError(f"xs:assert: unexpected token {v!r}")


def parse_assert(test: str):
    """Parse an xs:assert ``test=`` expression to the AST."""
    return _Parser(_tokenize(test)).parse()


# --- emission --------------------------------------------------------------

_DIALECT = {
    "spark": {"string": "STRING", "contains": "instr({a}, {b}) > 0",
              "starts": "startswith({a}, {b})"},
    "duckdb": {"string": "VARCHAR", "contains": "strpos({a}, {b}) > 0",
               "starts": "starts_with({a}, {b})"},
}

_NUMERIC_OPS = ("+", "-", "*", "/", "%")


def _is_numericish(node) -> bool:
    if isinstance(node, Lit):
        return isinstance(node.value, (int, float))
    if isinstance(node, Call):
        return node.func in ("number", "string-length")
    if isinstance(node, BinOp):
        return node.op in _NUMERIC_OPS
    return False


def to_sql(node, dialect: str = "spark", attr_prefix: str = "",
           numeric_ctx: bool = False) -> str:
    """Render the AST in the given SQL dialect. ``attr_prefix`` maps
    ``@a`` paths to their column spelling ('' for the columnar model,
    '_' for the from_xml document path). ``numeric_ctx`` applies the
    numeric-coercion typing rule to a bare path."""
    d = _DIALECT[dialect]
    if isinstance(node, Path):
        if node.name == "":
            raise ValueError("xs:assert: '.' is only meaningful inside functions"
                             " over simple content; name a field instead")
        col = (attr_prefix + node.name) if node.is_attr else node.name
        if numeric_ctx:
            return f"try_cast({col} AS DOUBLE)"
        return col
    if isinstance(node, Lit):
        return sql_lit(node.value)
    if isinstance(node, Call):
        a = [to_sql(x, dialect, attr_prefix) for x in node.args]
        if node.func in ("true", "false"):
            if node.args:
                raise ValueError(f"xs:assert: {node.func}() takes no arguments")
            return node.func.upper()
        if node.func == "not":
            return f"(NOT coalesce({a[0]}, FALSE))"
        if node.func == "string-length":
            return f"length(CAST({a[0]} AS {d['string']}))"
        if node.func == "number":
            return f"try_cast({a[0]} AS DOUBLE)"
        if node.func == "string":
            return f"CAST({a[0]} AS {d['string']})"
        if node.func == "contains":
            return "(" + d["contains"].format(
                a=f"CAST({a[0]} AS {d['string']})", b=f"CAST({a[1]} AS {d['string']})") + ")"
        if node.func == "starts-with":
            return "(" + d["starts"].format(
                a=f"CAST({a[0]} AS {d['string']})", b=f"CAST({a[1]} AS {d['string']})") + ")"
        raise ValueError(f"xs:assert: unknown function {node.func}")
    if isinstance(node, BinOp):
        if node.op in ("and", "or"):
            l = to_sql(node.left, dialect, attr_prefix)
            r = to_sql(node.right, dialect, attr_prefix)
            return f"({l} {node.op.upper()} {r})"
        # numeric coercion: if either side is numeric-ish, both paths go
        # through try_cast double (XPath number coercion, made explicit)
        num = (
            node.op in _NUMERIC_OPS
            or _is_numericish(node.left)
            or _is_numericish(node.right)
        )
        l = to_sql(node.left, dialect, attr_prefix, numeric_ctx=num)
        r = to_sql(node.right, dialect, attr_prefix, numeric_ctx=num)
        op = "<>" if node.op == "!=" else node.op
        return f"({l} {op} {r})"
    raise TypeError(f"xs:assert: bad AST node {node!r}")


@dataclass(frozen=True)
class Assertion:
    """The compiled xs:assert rule: a record-scoped boolean. NULL results
    coalesce to False like every other rule (a field missing from the
    record fails the assertion rather than passing vacuously)."""

    test: str
    attr_prefix: str = ""

    def _ast(self):
        return parse_assert(self.test)

    def to_column(self, col, registry=None):
        from pyspark.sql import functions as F

        expr = to_sql(self._ast(), "spark", self.attr_prefix)
        return F.coalesce(F.expr(expr), F.lit(False))

    def sql_expr(self, col_sql=None, registry=None) -> str:
        return f"coalesce({to_sql(self._ast(), 'duckdb', self.attr_prefix)}, FALSE)"

    def with_attr_prefix(self, prefix: str) -> "Assertion":
        return Assertion(self.test, prefix)
