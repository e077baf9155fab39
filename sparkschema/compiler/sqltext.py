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

Both compilers, the typed one (:mod:`~sparkschema.compiler.columns`,
:mod:`~sparkschema.compiler.table`) and the VARIANT one, build text, so
the helpers they share take and return text. A Column with no text form
(a Python UDF, a caller's format builder, an input expression) enters
the text through :func:`bind` (a Python UDF through :func:`bind_python`,
which marks it for :func:`calls_python`); :func:`column` turns text back
into a Column, binding such a Column as the variable of a one-element
``transform``. A Column built over a value that reads a lambda variable
of the text (:func:`bind_over`, for a caller's format on an array
element) cannot be bound from outside that lambda, so the higher-order
call around it is built with :mod:`pyspark.sql.functions`, whose lambda
variables are Columns, and bound in instead. Spark's parser overflows its
stack on a few hundred nested calls (252 ``and`` calls on the driver
thread), so a chain of hundreds of operands is balanced
(:func:`all_of`, :func:`any_of`, :func:`sum_of`) or joined as Columns.

Literals: plain Python values are always literals, never column names.
Strings go through :func:`quote`, which gives text that reads the same
under both settings of ``spark.sql.parser.escapedStringLiterals`` and is
never touched by Spark's ``${...}`` variable substitution.
"""

from __future__ import annotations

import itertools
import math
import re
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Lambda variables are named ``x_<n>`` like PySpark's, from a counter that
# starts where the JVM's (a 32-bit int) cannot reach: every lambda in a
# plan keeps a name of its own, as when PySpark built them all.
_names = itertools.count(2 ** 31)

_PLAIN = frozenset(chr(c) for c in range(0x20, 0x7F)) - set("'\\")


class SqlTextError(ValueError):
    """A value with no SQL text form: a string with a lone surrogate, a
    non-finite Decimal, an identifier holding ``$``."""


class Sql:
    """A SQL expression as text; see the module docstring. ``binds``
    holds the Columns the text names by a placeholder (:func:`bind`)."""

    __slots__ = ("text", "binds")

    def __init__(self, text: str, binds: tuple = ()):
        self.text = text
        self.binds = binds

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
    def __truediv__(self, o): return self._op("/", o)
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
        items = [lit(v) for v in values]
        return Sql(f"{self.text} IN ({', '.join(i.text for i in items)})",
                   _binds(self, *items))

    def between(self, lower: Any, upper: Any) -> Sql:
        # PySpark's own definition, so the tree matches the Column one
        return (self >= lower) & (self <= upper)

    def rlike(self, pattern: Any) -> Sql:
        return _fn("rlike", self, pattern)

    def startswith(self, prefix: Any) -> Sql:
        return _fn("startswith", self, prefix)

    def contains(self, part: Any) -> Sql:
        return _fn("contains", self, part)

    def cast(self, dtype: str | T.DataType) -> Sql:
        return Sql(f"CAST({self.text} AS {_type(dtype)})", self.binds)

    def try_cast(self, dtype: str | T.DataType) -> Sql:
        return Sql(f"TRY_CAST({self.text} AS {_type(dtype)})", self.binds)

    def alias(self, name: str) -> Sql:
        """Only valid as an argument of :func:`struct`."""
        return Sql(f"{self.text} AS {ident(name)}", self.binds)

    def __getitem__(self, field: Any) -> Sql:
        return Sql(f"{self.text}[{lit(field).text}]", self.binds)

    def field(self, name: str) -> Sql:
        """Field ``name`` of a struct, ``x['name']`` as ``col[name]``
        builds it. Spark takes only a string literal there, not the
        ``CAST`` that :func:`quote` makes of other strings: other
        characters stand in the literal as they are, and a ``${`` is split
        over two adjacent literals, which the parser joins. A name holding
        ``'`` or ``\\``, which no literal reads the same under both
        settings of ``escapedStringLiterals``, is read as ``x.`name```
        (a ``$`` is safe there unless it starts a ``${``)."""
        try:
            name.encode("utf-8")
        except UnicodeEncodeError:
            raise SqlTextError(f"field {name!r} has no UTF-8 form") from None
        if "'" not in name and "\\" not in name:
            split = name.replace("${", "$' '{")
            return Sql(f"{self.text}['{split}']", self.binds)
        if "${" in name:
            raise SqlTextError(f"field {name!r} holds '${{' and a quote "
                               f"or backslash")
        return Sql(f"{self.text}.`{name.replace('`', '``')}`", self.binds)


class _When(Sql):
    """``CASE WHEN …`` being built; usable as-is (no ``ELSE``)."""

    __slots__ = ("branches",)

    def __init__(self, branches: tuple[tuple[Sql, Sql], ...]):
        self.branches = branches
        super().__init__(self._case(""),
                         _binds(*(x for arm in branches for x in arm)))

    def _case(self, tail: str) -> str:
        arms = " ".join(f"WHEN {c.text} THEN {v.text}"
                        for c, v in self.branches)
        return f"CASE {arms}{tail} END"

    def when(self, cond: Sql, value: Any) -> _When:
        return _When(self.branches + ((lit(cond), lit(value)),))

    def otherwise(self, value: Any) -> Sql:
        value = lit(value)
        return Sql(self._case(f" ELSE {value.text}"),
                   _binds(self, value))


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
    scale (py4j hands ``str(d)`` to ``BigDecimal`` too). A Column is
    bound in (:func:`bind`)."""
    if isinstance(value, Sql):
        return value
    if isinstance(value, Column):
        return bind(value)
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


# Longer AND/OR/+ chains are balanced trees (log-depth nesting): Spark's
# parser and analyzer give up on a left-deep chain of a few hundred
# operands, which is what the Column API builds for a long enum or
# property list; the verdict is the same
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


def sum_of(items: list[Sql]) -> Sql:
    """``items[0] + items[1] + …``, shaped like :func:`all_of`."""
    return _chain("+", items)


def _binds(*parts: Sql) -> tuple:
    """The bound Columns of ``parts``, each once."""
    out: dict = {}
    for p in parts:
        for name, c in p.binds:
            out.setdefault(name, c)
    return tuple(out.items())


def _fn(name: str, *args: Any) -> Sql:
    args_ = [lit(a) for a in args]
    return Sql(f"{name}({', '.join(a.text for a in args_)})",
               _binds(*args_))


def _fresh() -> str:
    return f"x_{next(_names)}"


def _hof(name: str, arr: Sql, f: Callable[..., Sql], arity: int = 1) -> Sql:
    """``name(arr, x_<n> -> f(x_<n>))``, with a lambda of ``(x_<n>, x_<m>)``
    for ``arity=2``. When ``f`` binds a Column that reads the lambda's
    variables (:func:`bind_over`), the call is built with the function of
    :mod:`pyspark.sql.functions` instead, whose lambda hands that Column
    the variables, and bound in."""
    xs = [_fresh() for _ in range(arity)]
    body = lit(f(*(Sql(x) for x in xs)))
    if not any(isinstance(c, _Deferred) and c.needs & set(xs)
               for _, c in body.binds):
        head = xs[0] if arity == 1 else f"({', '.join(xs)})"
        return _fn(name, arr, Sql(f"{head} -> {body.text}", body.binds))

    def make(env: dict) -> Column:
        def inner(*lv: Column) -> Column:
            return column(body, {**env, **dict(zip(xs, lv))})
        fn = (lambda a: inner(a)) if arity == 1 else \
            (lambda a, b: inner(a, b))
        return getattr(F, name)(column(arr, env), fn)

    return _defer((_needs(arr) | _needs(body)) - set(xs), make)


def _type(dtype: str | T.DataType) -> str:
    """SQL type text for a cast: as given, or rendered from a DataType."""
    if isinstance(dtype, str):
        return dtype
    if isinstance(dtype, T.ArrayType):
        return f"ARRAY<{_type(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"MAP<{_type(dtype.keyType)}, {_type(dtype.valueType)}>"
    if isinstance(dtype, T.StructType):
        return "STRUCT<" + ", ".join(f"{ident(f.name)}: {_type(f.dataType)}"
                                     for f in dtype.fields) + ">"
    return dtype.simpleString()


# -- Columns in and out -------------------------------------------------------

def quoted_name(name: str) -> str:
    """``name`` back-quoted for ``F.col`` / ``df[...]``, which would read
    a bare ``a.b`` as a struct field and reject a lone back-quote. Unlike
    :func:`ident`, a ``$`` is fine here: no variable substitution runs."""
    return "`" + name.replace("`", "``") + "`"


def named_column(name: str) -> Column:
    """The Column of the top-level column ``name``, whatever it holds."""
    return F.col(quoted_name(name))


def named(name: str) -> Sql:
    """The top-level column ``name`` as SQL text: its quoted identifier,
    or, for a name holding ``$``, its Column bound in."""
    if "$" in name:
        return bind(named_column(name))
    return Sql(ident(name))


def column_ref(c: Column | str) -> str | None:
    """SQL text naming ``c`` when it is a plain column reference
    (``F.col(name)``), else ``None``."""
    c = F.col(c) if isinstance(c, str) else c
    node = c._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        return None
    try:
        text = ".".join(ident(p)
                        for p in node.nameParts().mkString("\0").split("\0"))
    except SqlTextError:
        return None
    # a planId or metadata flag would not survive the round trip
    return text if F.col(text)._jc.equals(c._jc) else None


def bind(c: Column | str) -> Sql:
    """``c`` as SQL text: its name when it is a plain column reference,
    else a placeholder that :func:`column` binds to ``c``. This is how a
    Column with no text form (a Python UDF, a caller's Column) enters
    the text; it must not read a lambda variable of the text."""
    ref = column_ref(c)
    if ref is not None:
        return Sql(ref)
    x = _fresh()
    return Sql(x, ((x, c),))


# the names :func:`_fresh` makes (10 digits and up), so a column or a
# string that happens to read ``x_1`` is not taken for one; string
# literals (never holding ``'``, see :func:`quote`) and quoted identifiers
# match as a whole and are skipped
_VAR = re.compile(r"'[^']*'|`(?:[^`]|``)*`|\b(x_\d{10,})\b")
_PARAMS = re.compile(r"(\(?x_\d{10,}(?:, x_\d{10,})*\)?) ->")


def _vars(text: str) -> list[str]:
    """The lambda variables and placeholders ``text`` reads, in order."""
    return [m.group(1) for m in _VAR.finditer(text) if m.group(1)]


class _Deferred:
    """A bound Column that reads lambda variables of the text (``needs``):
    ``make(env)`` builds it once ``env`` maps each of them to the Column
    of a lambda variable of :mod:`pyspark.sql.functions`."""

    __slots__ = ("needs", "make")

    def __init__(self, needs: frozenset, make: Callable[[dict], Column]):
        self.needs = needs
        self.make = make


class _Python(_Deferred):
    """A bound Python UDF's Column (:func:`bind_python`); it reads no
    lambda variable."""

    __slots__ = ()

    def __init__(self, c: Column):
        super().__init__(frozenset(), lambda env: c)


def _free(s: Sql) -> set:
    """The lambda variables ``s`` reads outside of any lambda of its own."""
    declared = {v for m in _PARAMS.findall(s.text) for v in _vars(m)}
    return set(_vars(s.text)) - declared - {x for x, _ in s.binds}


def _needs(s: Sql) -> frozenset:
    """The lambda variables ``s`` and its deferred Columns read."""
    out = set(_free(s))
    for _, c in s.binds:
        if isinstance(c, _Deferred):
            out |= c.needs
    return frozenset(out)


def _defer(needs: frozenset, make: Callable[[dict], Column]) -> Sql:
    if not needs:
        return bind(make({}))
    x = _fresh()
    return Sql(x, ((x, _Deferred(needs, make)),))


def bind_python(c: Column) -> Sql:
    """``c``, the Column of a Python UDF call, bound into the text like
    :func:`bind`, and marked so that :func:`calls_python` finds it in
    every text built over this one."""
    x = _fresh()
    return Sql(x, ((x, _Python(c)),))


def calls_python(s: Sql) -> bool:
    """Does ``s`` call a Python UDF (:func:`bind_python`)?"""
    return any(isinstance(c, _Python) for _, c in s.binds)


def bind_over(x: Sql, build: Callable[[Column], Column]) -> Sql:
    """``build(c)`` bound into the text, with ``c`` the Column of ``x``.
    When ``x`` reads the variable of a lambda around it (an array element,
    a map value), the Column is built when that lambda is
    (:func:`_hof`)."""
    return _defer(_needs(x), lambda env: build(column(x, env)))


def column(s: Sql, env: dict | None = None) -> Column:
    """The Column of ``s``, crossing to the JVM in one ``F.expr``. Bound
    Columns become the variable of a one-element ``transform``:
    ``transform(array(c), x -> s)[0]``, with a struct of them past
    one. ``env`` maps lambda variables ``s`` reads to Columns, which are
    bound the same way. Raises :class:`SqlTextError` when ``s`` reads
    the variable of a lambda it is not inside of: its Column cannot
    exist."""
    env = env or {}
    free = _needs(s) - env.keys()
    if free:
        raise SqlTextError(f"no Column for a value that reads lambda "
                           f"variable {min(free)}")
    binds = [(x, c.make(env) if isinstance(c, _Deferred) else c)
             for x, c in s.binds]
    binds += [(x, env[x]) for x in sorted(_free(s))]
    if not binds:
        return F.expr(s.text)
    if len(binds) == 1:
        [(x, c)] = binds
        arr, text = F.array(c), s.text
    else:
        x = _fresh()
        field = {name: f"{x}.b{i}" for i, (name, _) in enumerate(binds)}
        arr = F.array(F.struct(*[c.alias(f"b{i}")
                                 for i, (_, c) in enumerate(binds)]))
        text = _VAR.sub(lambda m: field.get(m.group(1), m.group(0)), s.text)
    return F.get(F.call_function("transform", arr,
                                 F.expr(f"{x} -> {text}")), 0)


def over(c: Column | str, build: Callable[[Sql], Sql]) -> Column:
    """The Column of ``build(x)``, with ``x`` the text of ``c``
    (:func:`bind`)."""
    return column(build(bind(c)))


# -- the functions of pyspark.sql.functions the compilers use ---------------

def when(cond: Sql, value: Any) -> _When:
    return _When(((lit(cond), lit(value)),))


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
def map_filter(m: Sql, f: Callable[[Sql, Sql], Sql]) -> Sql:
    return _hof("map_filter", m, f, arity=2)
def map_keys(m: Sql) -> Sql: return _fn("map_keys", m)
def map_values(m: Sql) -> Sql: return _fn("map_values", m)
def map_contains_key(m: Sql, key: Any) -> Sql:
    return _fn("map_contains_key", m, key)
def map_from_arrays(k: Sql, v: Sql) -> Sql: return _fn("map_from_arrays", k, v)
def create_map(*cols: Any) -> Sql: return _fn("map", *cols)
def array_compact(x: Sql) -> Sql: return _fn("array_compact", x)
def array_sort(x: Sql) -> Sql: return _fn("array_sort", x)
def array_join(x: Sql, delim: str) -> Sql: return _fn("array_join", x, delim)
def count(x: Any) -> Sql: return _fn("count", x)
def explode(x: Sql) -> Sql: return _fn("explode", x)
def sum(x: Sql) -> Sql: return _fn("sum", x)  # noqa: A001
