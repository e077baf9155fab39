"""Spark SQL expression text built with the shape of the Column API.

A :class:`Sql` value supports the Column operators and methods the
compilers use (``&``, ``|``, ``~``, comparisons, arithmetic, ``isNull``,
``isin``, ``rlike``, ``cast``, ``try_cast``, ``alias``, field access …),
and this module provides the functions of :mod:`pyspark.sql.functions`
they use, under the same names. Each operation renders as the SQL that
Spark's parser turns into the expression the Column API would build.
Operators render as calls of the functions Spark registers for them,
back-quoted where the name is a keyword or a symbol (``and``, ``=``,
``isnull``): a chain ``a & b & c`` stays the left-deep
``And(And(a, b), c)`` of the Column API (Spark parses an unparenthesized
SQL ``AND`` chain into a balanced tree), and the text needs no grouping
parentheses, which make the parser's prediction slow when nested.
Higher-order functions take SQL lambdas. Identical text gives identical
expressions, so a shared sub-expression needs no memo.

Building text costs no py4j round trip; the result crosses to the JVM
once, in ``F.expr``. Building the same predicate as Columns costs about
ten round trips per operator, because PySpark's call-site tracking looks
up the active session and sets and clears the origin on every call.

Helpers that serve both the typed (Column) and the VARIANT (text)
compilers take their function namespace from their input with
:func:`functions_for`, so each keeps a single body.

Literals: plain Python values are always literals, never column names.
Strings go through :func:`quote`, which gives text that reads the same
under both settings of ``spark.sql.parser.escapedStringLiterals`` and is
never touched by Spark's ``${...}`` variable substitution.
"""

from __future__ import annotations

import itertools
import math
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lambda variables are named ``x_<n>`` like PySpark's, from a counter that
# starts where the JVM's (a 32-bit int) cannot reach: every lambda in a
# plan keeps a name of its own, as when PySpark built them all.
_names = itertools.count(2 ** 31)

_PLAIN = frozenset(chr(c) for c in range(0x20, 0x7F)) - set("'\\")


class SqlTextError(ValueError):
    """A value with no SQL text form: a string with a lone surrogate, a
    non-finite Decimal, an identifier holding ``$``."""


class Sql:
    """A SQL expression as text; see the module docstring."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text

    def __bool__(self):
        raise TypeError("a SQL expression has no truth value; use & | ~")

    __hash__ = None  # type: ignore[assignment]

    def _op(self, name: str, *others: Any) -> Sql:
        return _fn(f"`{name}`", self, *others)

    def __and__(self, o): return self._op("and", o)
    def __or__(self, o): return self._op("or", o)
    def __eq__(self, o): return self._op("=", o)  # type: ignore[override]
    def __ne__(self, o): return ~(self == o)  # type: ignore[override]
    def __lt__(self, o): return self._op("<", o)
    def __le__(self, o): return self._op("<=", o)
    def __gt__(self, o): return self._op(">", o)
    def __ge__(self, o): return self._op(">=", o)
    def __add__(self, o): return self._op("+", o)
    def __mul__(self, o): return self._op("*", o)
    def __mod__(self, o): return self._op("%", o)

    def __invert__(self) -> Sql:
        return self._op("not")

    def isNull(self) -> Sql:
        return _fn("isnull", self)

    def isNotNull(self) -> Sql:
        return _fn("isnotnull", self)

    def isNaN(self) -> Sql:
        return _fn("isnan", self)

    def isin(self, *values: Any) -> Sql:
        if len(values) == 1 and isinstance(values[0], (list, tuple, set)):
            values = tuple(values[0])
        items = ", ".join(lit(v).text for v in values)
        return Sql(f"{self.text} IN ({items})")

    def between(self, lower: Any, upper: Any) -> Sql:
        # PySpark's own definition, so the tree matches the Column one
        return (self >= lower) & (self <= upper)

    def rlike(self, pattern: Any) -> Sql:
        return _fn("rlike", self, pattern)

    def startswith(self, prefix: Any) -> Sql:
        return _fn("startswith", self, prefix)

    def contains(self, part: Any) -> Sql:
        return _fn("contains", self, part)

    def cast(self, dtype: str) -> Sql:
        return Sql(f"CAST({self.text} AS {dtype})")

    def try_cast(self, dtype: str) -> Sql:
        return Sql(f"TRY_CAST({self.text} AS {dtype})")

    def alias(self, name: str) -> Sql:
        """Only valid as an argument of :func:`struct`."""
        return Sql(f"{self.text} AS {ident(name)}")

    def __getitem__(self, field: Any) -> Sql:
        return Sql(f"{self.text}[{lit(field).text}]")


class _When(Sql):
    """``CASE WHEN …`` being built; usable as-is (no ``ELSE``)."""

    __slots__ = ("branches",)

    def __init__(self, branches: tuple[tuple[Sql, Sql], ...]):
        self.branches = branches
        super().__init__(self._case(""))

    def _case(self, tail: str) -> str:
        arms = " ".join(f"WHEN {c.text} THEN {v.text}"
                        for c, v in self.branches)
        return f"CASE {arms}{tail} END"

    def when(self, cond: Sql, value: Any) -> _When:
        return _When(self.branches + ((cond, lit(value)),))

    def otherwise(self, value: Any) -> Sql:
        return Sql(self._case(f" ELSE {lit(value).text}"))


def quote(s: str) -> str:
    """A SQL string literal for ``s``. Printable ASCII without ``'`` or
    ``\\`` and without ``${`` is quoted as is; anything else becomes its
    UTF-8 bytes cast to a string, ``CAST(X'…' AS STRING)``, which constant
    folding turns into the same literal. Both forms read the same whatever
    ``spark.sql.parser.escapedStringLiterals`` says, and neither holds a
    ``${`` for variable substitution to rewrite."""
    if "${" not in s and all(ch in _PLAIN for ch in s):
        return f"'{s}'"
    try:
        data = s.encode("utf-8")
    except UnicodeEncodeError:
        raise SqlTextError(f"string {s!r} has no UTF-8 form") from None
    return f"CAST(X'{data.hex().upper()}' AS STRING)"


def ident(name: str) -> str:
    """A back-quoted SQL identifier."""
    if "$" in name:  # ``${...}`` would meet variable substitution
        raise SqlTextError(f"identifier {name!r} holds '$'")
    return "`" + name.replace("`", "``") + "`"


def lit(value: Any) -> Sql:
    """The SQL literal that ``F.lit(value)`` builds: ints are INT, or
    BIGINT past 32 bits; floats DOUBLE; Decimals keep their digits and
    scale (py4j hands ``str(d)`` to ``BigDecimal`` too)."""
    if isinstance(value, Sql):
        return value
    if value is None:
        return Sql("NULL")
    if isinstance(value, bool):
        return Sql("true" if value else "false")
    if isinstance(value, int):
        if -2 ** 31 <= value < 2 ** 31:
            return Sql(str(value))
        if -2 ** 63 <= value < 2 ** 63:
            return Sql(f"{value}L")
        return Sql(f"{value}BD")
    if isinstance(value, float):
        if math.isfinite(value):
            return Sql(repr(value).upper() + "D")
        word = "NaN" if math.isnan(value) else \
            ("Infinity" if value > 0 else "-Infinity")
        return Sql(f"CAST({quote(word)} AS DOUBLE)")
    if isinstance(value, Decimal):
        if not value.is_finite():
            raise SqlTextError(f"decimal {value} has no SQL literal")
        return Sql(f"{value}BD")
    if isinstance(value, str):
        return Sql(quote(value))
    raise SqlTextError(f"no SQL literal for {type(value).__name__}")


# Longer AND/OR chains are balanced trees (log-depth nesting): Spark's
# analyzer gives up on a left-deep chain of a few hundred operands, which
# is what the Column API builds for a long enum or property list; the
# verdict is the same
_CHAIN_MAX = 32


def _chain(op: str, items: list[Sql]) -> Sql:
    if len(items) <= _CHAIN_MAX:
        out = items[0]
        for item in items[1:]:
            out = out._op(op, item)
        return out

    def balanced(lo: int, hi: int) -> Sql:
        if lo == hi:
            return items[lo]
        mid = (lo + hi) // 2
        return balanced(lo, mid)._op(op, balanced(mid + 1, hi))

    return balanced(0, len(items) - 1)


def all_of(items: list[Sql]) -> Sql:
    """``items[0] & items[1] & …``: left-deep like the Column chain, a
    balanced tree past :data:`_CHAIN_MAX` operands."""
    return _chain("and", items)


def any_of(items: list[Sql]) -> Sql:
    """``items[0] | items[1] | …``, shaped like :func:`all_of`."""
    return _chain("or", items)


def _fn(name: str, *args: Any) -> Sql:
    return Sql(f"{name}({', '.join(lit(a).text for a in args)})")


def lambda_(f: Callable[[Sql], Sql]) -> Sql:
    """``x_<n> -> f(x_<n>)``: a one-argument SQL lambda."""
    x = f"x_{next(_names)}"
    return Sql(f"{x} -> {lit(f(Sql(x))).text}")


def _hof(name: str, arr: Sql, f: Callable[[Sql], Sql], *rest: Any) -> Sql:
    return _fn(name, arr, lambda_(f), *rest)


# -- the functions of pyspark.sql.functions the compilers use ---------------

def when(cond: Sql, value: Any) -> _When:
    return _When(((cond, lit(value)),))


def coalesce(*cols: Any) -> Sql: return _fn("coalesce", *cols)
def array(*cols: Any) -> Sql: return _fn("array", *cols)
def struct(*cols: Sql) -> Sql: return _fn("struct", *cols)
def get(arr: Sql, index: Any) -> Sql: return _fn("get", arr, index)
def size(x: Sql) -> Sql: return _fn("size", x)
def array_distinct(x: Sql) -> Sql: return _fn("array_distinct", x)
def array_contains(x: Sql, v: Any) -> Sql: return _fn("array_contains", x, v)
def slice(x: Sql, start: Any, length: Any) -> Sql:  # noqa: A001
    return _fn("slice", x, start, length)
def concat(*cols: Any) -> Sql: return _fn("concat", *cols)
def lpad(x: Sql, n: int, pad: str) -> Sql: return _fn("lpad", x, n, pad)
def rpad(x: Sql, n: int, pad: str) -> Sql: return _fn("rpad", x, n, pad)
def substring_index(x: Sql, delim: str, count: int) -> Sql:
    return _fn("substring_index", x, delim, count)
def regexp_replace(x: Sql, pattern: Any, replacement: Any) -> Sql:
    return _fn("regexp_replace", x, pattern, replacement)
def length(x: Sql) -> Sql: return _fn("length", x)
def octet_length(x: Sql) -> Sql: return _fn("octet_length", x)
def abs(x: Sql) -> Sql: return _fn("abs", x)  # noqa: A001
def floor(x: Sql) -> Sql: return _fn("floor", x)
def pmod(a: Any, b: Any) -> Sql: return _fn("pmod", a, b)
def try_to_timestamp(x: Sql, fmt: Any) -> Sql:
    return _fn("try_to_timestamp", x, fmt)
def to_json(x: Sql) -> Sql: return _fn("to_json", x)
def json_object_keys(x: Sql) -> Sql: return _fn("json_object_keys", x)
def map_entries(x: Sql) -> Sql: return _fn("map_entries", x)
def try_element_at(x: Sql, key: Any) -> Sql:
    return _fn("try_element_at", x, key)
def try_parse_json(x: Sql) -> Sql: return _fn("try_parse_json", x)
def schema_of_variant(x: Sql) -> Sql: return _fn("schema_of_variant", x)
def is_variant_null(x: Sql) -> Sql: return _fn("is_variant_null", x)
def try_variant_get(x: Sql, path: str, dtype: str) -> Sql:
    return _fn("try_variant_get", x, path, dtype)
def transform(arr: Sql, f: Callable[[Sql], Sql]) -> Sql:
    return _hof("transform", arr, f)
def forall(arr: Sql, f: Callable[[Sql], Sql]) -> Sql:
    return _hof("forall", arr, f)
def exists(arr: Sql, f: Callable[[Sql], Sql]) -> Sql:
    return _hof("exists", arr, f)
def filter(arr: Sql, f: Callable[[Sql], Sql]) -> Sql:  # noqa: A001
    return _hof("filter", arr, f)


def functions_for(c: Column | Sql):
    """The function namespace matching ``c``: this module for SQL text,
    :mod:`pyspark.sql.functions` for a Column."""
    import sys

    return sys.modules[__name__] if isinstance(c, Sql) else F
