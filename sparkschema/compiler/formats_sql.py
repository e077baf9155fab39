"""Format registry — Catalyst ``Column`` builders.

The JVM-side twin of :mod:`sparkschema.spec.formats` (reference:
internal/validators/DefaultFormats.scala:18-29): each named format maps a
string/number column to a boolean Column. Everything stays inside
whole-stage codegen — regex via ``rlike``, timestamps via ``try_to_timestamp``
— no Python in the hot path. Unknown format names compile to ``lit(True)``
(StringValidators.scala:120).

Every builder also takes SQL text (:class:`~sparkschema.compiler.sqltext.Sql`)
for the VARIANT compiler and then returns SQL text: the function namespace
comes from the input (:func:`~sparkschema.compiler.sqltext.functions_for`)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column

from sparkschema.compiler.sqltext import functions_for
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


def _rx(pattern: str) -> Callable[[Column], Column]:
    return lambda c: c.rlike(pattern)


def _datetime(c: Column) -> Column:
    # ISO-8601 with offset (reference: OffsetDateTime.parse,
    # DefaultFormats.scala:33-44); accept Z or numeric offsets
    fx = functions_for(c)
    cleaned = fx.regexp_replace(c, r"[zZ]$", "+00:00")
    return (
        fx.try_to_timestamp(cleaned, fx.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][.SSS]XXX")).isNotNull()
        | fx.try_to_timestamp(cleaned, fx.lit("yyyy-MM-dd'T'HH:mm:ssXXX")).isNotNull()
    )


def _date(c: Column) -> Column:
    fx = functions_for(c)
    return fx.try_to_timestamp(c, fx.lit("yyyy-MM-dd")).isNotNull() & c.rlike(r"^\d{4}-\d{2}-\d{2}$")


def _int32(c: Column) -> Column:
    # wholeness at the column's OWN scale — a decimal(38,9) intermediate
    # rounded finer fractions into "integers", and even `c == floor(c)`
    # is lossy (the mixed-scale comparison caps at precision 38 and
    # rounds; 1.000000000000000001 compared equal to 1 — fuzz-found r3).
    # `c % 1` keeps the input scale exactly. Callers route double columns
    # through int_format_double; here c is integral or decimal.
    return (c % 1 == 0) & c.between(INT32_MIN, INT32_MAX)


def _int64(c: Column) -> Column:
    return (c % 1 == 0) & c.between(INT64_MIN, INT64_MAX)


def _whole_double(c: Column) -> Column:
    """Integer-valued check on a double: every |v| >= 2^53 is whole;
    below, floor-compare (floor(double) -> long saturates past 2^63)."""
    fx = functions_for(c)
    return fx.when(fx.abs(c) >= fx.lit(float(2 ** 53)), fx.lit(True)) \
             .otherwise(c == fx.floor(c))


def int_format_double(c: Column, name: str) -> Column:
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


SQL_FORMATS: dict[str, Callable[[Column], Column]] = {
    "date-time": _datetime,
    "date": _date,
    "ipv4": _rx(_IPV4_RE),
    "ipv6": _rx(_IPV6_RE),
    "uri": _rx(_URI_RE),
    "hostname": lambda c: (functions_for(c).length(c) <= 253) & c.rlike(HOSTNAME_RE.pattern),
    "email": _rx(EMAIL_RE.pattern),
    "uuid": _rx(UUID_RE.pattern),
    # `regex` (compilability of the value as a regex) is inherently
    # driver-side in the reference too; cheap rlike smoke: non-null strings
    "regex": lambda c: c.isNotNull(),
    "int32": _int32,
    "int64": _int64,
}


def format_predicate(name: str, col: Column,
                     extra: dict[str, Callable[[Column], Column]] | None = None) -> Column:
    fn = (extra or {}).get(name) or SQL_FORMATS.get(name)
    if fn is None:
        return functions_for(col).lit(True)  # unknown format ⇒ success
    return fn(col)
