"""Format registry — Spark SQL predicate builders.

The JVM-side twin of :mod:`sparkschema.spec.formats` (reference:
internal/validators/DefaultFormats.scala:18-29): each named format maps
the SQL text (:class:`~sparkschema.compiler.sqltext.Sql`) of a
string/number value to boolean SQL text, for the typed and the VARIANT
compilers alike. Everything stays inside whole-stage codegen — regex via
``rlike``, timestamps via ``try_to_timestamp`` — no Python in the hot
path. Unknown format names compile to ``true`` (StringValidators.scala:120).
A caller's format is a Column builder; :func:`format_predicate` binds its
Column into the text (:func:`~sparkschema.compiler.sqltext.bind_over`)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column

from sparkschema.compiler import sqltext as S
from sparkschema.compiler.sqltext import Sql
from sparkschema.spec.formats import (
    EMAIL_RE,
    HOSTNAME_RE,
    INT32_MAX,
    INT32_MIN,
    INT64_MAX,
    INT64_MIN,
    UUID_RE,
)

_IPV4_RE = r"^(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(\.(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}$"
# pragmatic ipv6 (full + compressed forms)
_IPV6_RE = (
    r"^(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|"
    r"([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|"
    r"([0-9a-fA-F]{1,4}:){1,4}(:[0-9a-fA-F]{1,4}){1,3}|([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|"
    r"([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4}){1,6})|"
    r":((:[0-9a-fA-F]{1,4}){1,7}|:))$"
)
_URI_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\s]*$"


def _rx(pattern: str) -> Callable[[Sql], Sql]:
    return lambda c: c.rlike(pattern)


def _datetime(c: Sql) -> Sql:
    # ISO-8601 with offset (reference: OffsetDateTime.parse,
    # DefaultFormats.scala:33-44); accept Z or numeric offsets
    cleaned = S.regexp_replace(c, r"[zZ]$", "+00:00")
    return (
        S.try_to_timestamp(cleaned, S.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][.SSS]XXX")).isNotNull()
        | S.try_to_timestamp(cleaned, S.lit("yyyy-MM-dd'T'HH:mm:ssXXX")).isNotNull()
    )


def _date(c: Sql) -> Sql:
    return S.try_to_timestamp(c, S.lit("yyyy-MM-dd")).isNotNull() & c.rlike(r"^\d{4}-\d{2}-\d{2}$")


def _int32(c: Sql) -> Sql:
    # wholeness at the column's OWN scale — a decimal(38,9) intermediate
    # rounded finer fractions into "integers", and even `c == floor(c)`
    # is lossy (the mixed-scale comparison caps at precision 38 and
    # rounds; 1.000000000000000001 compared equal to 1 — fuzz-found r3).
    # `c % 1` keeps the input scale exactly. Callers route double columns
    # through int_format_double; here c is integral or decimal.
    return (c % 1 == 0) & c.between(INT32_MIN, INT32_MAX)


def _int64(c: Sql) -> Sql:
    return (c % 1 == 0) & c.between(INT64_MIN, INT64_MAX)


def _whole_double(c: Sql) -> Sql:
    """Integer-valued check on a double: every |v| >= 2^53 is whole;
    below, floor-compare (floor(double) -> long saturates past 2^63)."""
    return S.when(S.abs(c) >= S.lit(float(2 ** 53)), S.lit(True)) \
             .otherwise(c == S.floor(c))


def int_format_double(c: Sql, name: str) -> Sql:
    """int32/int64 on a DOUBLE column, kernel-exact: the decimal(38,9)
    cast goes through shortest repr, which is lossy >= 2^53 — the double
    -9.223372036854776e18 IS Long.MIN exactly but reprs to ...776000 and
    fell outside the range (fuzz-found r3). Compare against the exact
    boundary doubles instead."""
    import math
    if name == "int32":
        lo, hi = float(INT32_MIN), float(INT32_MAX)   # both exact doubles
    else:
        lo = float(INT64_MIN)                          # -2^63: exact double
        hi = float(INT64_MAX)                          # rounds UP to 2^63
        if int(hi) > INT64_MAX:
            hi = math.nextafter(hi, -math.inf)         # largest double <= MAX
    return _whole_double(c) & (c >= lo) & (c <= hi)


SQL_FORMATS: dict[str, Callable[[Sql], Sql]] = {
    "date-time": _datetime,
    "date": _date,
    "ipv4": _rx(_IPV4_RE),
    "ipv6": _rx(_IPV6_RE),
    "uri": _rx(_URI_RE),
    "hostname": lambda c: (S.length(c) <= 253) & c.rlike(HOSTNAME_RE.pattern),
    "email": _rx(EMAIL_RE.pattern),
    "uuid": _rx(UUID_RE.pattern),
    # `regex` (compilability of the value as a regex) is inherently
    # driver-side in the reference too; cheap rlike smoke: non-null strings
    "regex": lambda c: c.isNotNull(),
    "int32": _int32,
    "int64": _int64,
}


def format_predicate(name: str, col: Sql,
                     extra: dict[str, Callable[[Column], Column]] | None = None
                     ) -> Sql:
    """``col`` satisfies format ``name``: a caller's ``extra`` builder
    first (handed the Column of ``col``, its result bound into the
    text), then :data:`SQL_FORMATS`; an unknown name is ``true``."""
    custom = (extra or {}).get(name)
    if custom is not None:
        return S.bind_over(col, custom)
    fn = SQL_FORMATS.get(name)
    if fn is None:
        return S.lit(True)  # unknown format ⇒ success
    return fn(col)
