"""Dynamic-JSON validation compiled to Spark 4 VARIANT expressions.

The second dynamic-JSON path, fully Catalyst-native: ``try_parse_json`` →
``try_variant_get`` / ``schema_of_variant`` / ``is_variant_null`` predicate
trees. No Python executes per row — this beats the Arrow/pandas kernel
(:mod:`sparkschema.compiler.jsoncol`) wherever the spec is bounded.

Notable: VARIANT distinguishes **absent** (SQL NULL from ``variant_get``)
from **JSON null** (``is_variant_null``) — the one semantic the typed-
column mapping collapses (SURVEY.md §1.4), preserved natively here exactly
like the reference's ``JsUndefined`` vs ``JsNull``.

Coverage: all scalar keywords, enum/const (incl. structural array/object
literals), nested ``properties`` / ``required``, ``items`` (single-schema
AND positional tuple + ``additionalItems``) + size bounds +
``uniqueItems`` + ``contains``, all combinators, boolean schemas, the
key-only object keywords (``propertyNames`` / ``min``/``maxProperties`` /
``additionalProperties: false`` / ``dependencies``) via
``json_object_keys(to_json(v))``, and the value-reading object keywords
(``patternProperties`` / schema-form ``additionalProperties``) via the
``map<string,variant>`` view (``try_cast`` preserves absent-vs-JSON-null
exactly like ``try_variant_get`` — probed on Spark 4.1). Unsupported
constructs ($ref, pathological multipleOf) raise
:class:`VariantUnsupported`; callers fall back to the Arrow kernel —
``json_valid_auto`` does exactly that.

The predicate is emitted as Spark SQL text (:mod:`sparkschema.compiler.
sqltext`) and crosses to the JVM in one ``F.expr``: building it costs no
py4j round trip per operator, and the text parses into the expression
tree the Column API would build. :func:`variant_valid_sql` returns that
text.
"""

from __future__ import annotations

import logging
import operator
import re
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparkschema.compiler import sqltext as S
from sparkschema.compiler.formats_sql import format_predicate
from sparkschema.compiler.sqltext import Sql, SqlTextError
from sparkschema.spec.ecma_pattern import UnportablePattern, java_regex
from sparkschema.spec.jsonvalue import is_number

_log = logging.getLogger(__name__)

_DEC = "decimal(38,18)"
_SIMPLE_KEY = re.compile(r"^[A-Za-z0-9_\-]+$")

#: Iterations of Spark's Resolution batch a verdict may need, as counted
#: by :func:`_valid`. The batch stops at ``spark.sql.analyzer.maxIterations``
#: (100) and fails the query with "Max iterations (100) reached"; the
#: count leaves out the 6 iterations a one-node spec takes and the one an
#: expression-valued input adds. Nested ``properties`` are what reach it:
#: level j costs j + 2 iterations (its ``try_variant_get`` chain resolves
#: one call per iteration), so 11 levels (89) compile and 12 (103) take
#: the Arrow kernel; ``items``, ``allOf`` and the other applicators cost
#: 1-3 iterations a level.
_MAX_ROUNDS = 92

_UNSUPPORTED = ("$ref",)


class VariantUnsupported(Exception):
    """Spec construct with no VARIANT compilation — use the Arrow kernel."""


def _get(v: Sql, key: str) -> Sql:
    if _SIMPLE_KEY.match(key):
        return S.try_variant_get(v, f"$.{key}", "variant")
    # non-simple property name: no safe $-path quoting exists, so go
    # through the map view — try_cast preserves absent (SQL NULL) vs JSON
    # null (variant null) exactly like try_variant_get (probed, Spark 4.1)
    return S.try_element_at(v.try_cast("map<string,variant>"), key)


def _entries(v: Sql) -> Sql:
    """Object entries as ``array<struct<key,value:variant>>`` (NULL for
    non-objects) — unlocks the value-reading object keywords
    (patternProperties / schema-form additionalProperties)."""
    return S.map_entries(v.try_cast("map<string,variant>"))


def _vtype(v: Sql) -> Sql:
    return S.schema_of_variant(v)


class _Node:
    """The sub-expressions the keywords of one schema node read from the
    variant ``v``: type tests, stored scale, ``try_variant_get`` views,
    child lookups and scale gates, as SQL text. A sub-expression used at
    several sites is the same text at each, so it parses to the same
    expression there.

    ``b`` is the node's bound slot struct (see :func:`_bind`); without one
    (literal recursion in ``_json_eq_deep``, array elements in
    ``_canon_elem``) the type string is read from ``v`` directly."""

    def __init__(self, v: Sql, b: Sql | None = None):
        self.v = v
        self.b = b
        self.true = S.lit(True)
        self.false = S.lit(False)

    def slot(self, name: str) -> Sql:
        """A bound slot (``t``, ``n``, ``nd``, ``s``, ``a``, ``k``, ``m``)."""
        return self.b[name]

    def get(self, dtype: str) -> Sql:
        """``try_variant_get(v, '$', dtype)``."""
        return S.try_variant_get(self.v, "$", dtype)

    def child(self, key: str) -> Sql:
        """The value of property ``key`` (SQL NULL when absent)."""
        return _get(self.v, key)

    def t_is(self, name: str) -> Sql:
        return self.t == name

    def t_starts(self, prefix: str) -> Sql:
        return self.t.startswith(prefix)

    @property
    def t(self) -> Sql:
        return self.slot("t") if self.b is not None else _vtype(self.v)

    @property
    def present(self) -> Sql:
        return self.v.isNotNull()

    @property
    def is_num(self) -> Sql:
        return self.t.isin("BIGINT", "DOUBLE", "FLOAT") \
            | self.t_starts("DECIMAL")

    @property
    def exact(self) -> Sql:
        """Stored exactly (BIGINT / DECIMAL), not as a double."""
        return self.t_is("BIGINT") | self.t_starts("DECIMAL")

    @property
    def is_obj(self) -> Sql:
        return self.t_starts("OBJECT") | self.t_starts("STRUCT")

    @property
    def is_null(self) -> Sql:
        return S.is_variant_null(self.v)

    @property
    def vscale(self) -> Sql:
        """The value's STORED decimal scale (:func:`_stored_scale`)."""
        return _stored_scale(self.t)

    def scale_is(self, op: str, k: int) -> Sql:
        """``vscale <op> k`` for ``op`` in ``<=``, ``>``, ``==``."""
        cmp = {"<=": operator.le, ">": operator.gt, "==": operator.eq}[op]
        return cmp(self.vscale, k)

    @property
    def n_nonnull(self) -> Sql:
        return self.slot("n").isNotNull()

    @property
    def exact_in18(self) -> Sql:
        """Exact, and faithful in the bound decimal(38,18) slot ``n``."""
        return self.exact & self.n_nonnull & self.scale_is("<=", 18)

    @property
    def exact_fine(self) -> Sql:
        """Exact with a stored scale past 18: every decimal view rounds."""
        return self.exact & self.scale_is(">", 18)

    def exact_at(self, s: int) -> Sql:
        """Exact, and faithful in the ``decimal(38,s)`` view."""
        return (self.exact & self.scale_is("<=", s)
                & self.get(f"decimal(38,{s})").isNotNull())

    @property
    def dec_text_key(self) -> tuple[Sql, Sql]:
        """``(negative, key)`` for :func:`_dec_text_cmp`: the sign and the
        ``lpad(int_part) || rpad(frac)`` decision key of the STRING
        rendering."""
        s = self.get("string")
        mag = S.regexp_replace(s, "^-", "")
        int_part = S.substring_index(mag, ".", 1)
        frac = S.when(mag.contains("."), S.substring_index(mag, ".", -1)) \
                .otherwise(S.lit(""))
        return s.startswith("-"), S.concat(S.lpad(int_part, 39, "0"),
                                           S.rpad(frac, 38, "0"))

    @property
    def present_obj(self) -> Sql:
        return self.present & self.is_obj

    @property
    def unbound(self) -> _Node:
        """The same value read without the binding (type string from
        ``v``): the root of ``_json_eq_deep``'s literal recursion."""
        return _Node(self.v) if self.b is not None else self


def _canon_num_text(t: Sql) -> Sql:
    """Normalize a PLAIN decimal rendering for equality: strip a trailing
    fractional-zero run and a bare trailing point (``1.500``→``1.5``,
    ``1.0``→``1``), fold ``-0``→``0``."""
    stripped = S.when(
        t.contains("."),
        S.regexp_replace(S.regexp_replace(t, r"(\.\d*?)0+$", "$1"),
                         r"\.$", "")).otherwise(t)
    return S.when(stripped.isin("-0", "-0.0"), S.lit("0")).otherwise(stripped)


def _canon_elem(e: Sql) -> Sql:
    """Canonical string of an array element implementing JSON equality:
    numbers normalize to one canonical text (1.0 ≡ 1 ≡ 1.00), other types
    keep their distinct JSON rendering. The numeric branch must be gated
    on the variant's actual type — casting BOOLEAN to decimal coerces
    true→1 and would merge ``[1, true]`` (draft4/uniqueItems.json golden
    case).

    Tiering (review find r4: the old single decimal(38,18) canon went
    NULL outside its window, collapsing DISTINCT extremes like
    [1e300, 2e300], and rounded scale>18 values together):

    - exact-stored (BIGINT/DECIMAL): the variant's string rendering is
      always plain decimal text — normalized, it is an exact canon for
      ANY magnitude/scale;
    - DOUBLE whose decimal(38,18) view round-trips: that view's text,
      normalized — equal in-window doubles and exacts share one canon;
    - other DOUBLEs: the double's own rendering under a ``dbl:`` tag —
      exact among doubles; the one residual is a double equal in value
      to an out-of-window exact decimal in the SAME array (kernel says
      duplicate, this canon keeps them distinct — documented tail)."""
    n = _Node(e)
    dbl = n.get("double")
    d18 = n.get(_DEC)
    roundtrips = d18.isNotNull() & (d18.cast("double") == dbl)
    num_canon = S.when(n.exact, _canon_num_text(n.get("string"))) \
                 .when(roundtrips, _canon_num_text(d18.cast("string"))) \
                 .otherwise(S.concat(S.lit("dbl:"), dbl.cast("string")))
    return S.when(n.is_num, S.concat(S.lit("n:"), num_canon)) \
            .otherwise(S.coalesce(S.to_json(e), S.lit("null")))


def _dec_text_cmp(n: _Node, d: Decimal, op: str) -> Sql:
    """Exact comparison of an exact-stored variant number against a bound,
    through the variant's STRING rendering (always plain decimal text —
    probed on Spark 4.1). Decision key: ``lpad(int_part) || rpad(frac)``
    compares lexicographically exactly like the number for same-signed
    values; signs handled explicitly. Covers the scale-19..38 window where
    every decimal extraction would round (review find r3b: DECIMAL(20,20)
    0.99999999999999999999 fell to the double view and passed minimum 1).
    NULL string (shouldn't happen for exact types) → NULL, caller
    coalesces."""
    dt = d.as_tuple()
    neg_d = dt.sign == 1
    mag_d = format(abs(d), "f")
    ip_d, _, fr_d = mag_d.partition(".")
    if len(ip_d) > 39:
        # |d| exceeds every storable value (38 digits max): constant
        lt_const = not neg_d
        if op in ("lt", "le"):
            return S.lit(lt_const)
        return S.lit(not lt_const)
    # a bound finer than 38 fractional digits can never equal a stored
    # value; truncating its key makes "equal keys" mean |v| < |d|
    d_finer = len(fr_d) > 38
    key_d = S.lit(ip_d.zfill(39) + fr_d[:38].ljust(38, "0"))
    neg, key = n.dec_text_key

    if neg_d:
        # equal truncated keys ⟹ |v| < |d| ⟹ v > d for negatives: the
        # strict > is correct in BOTH modes
        lt = neg & (key > key_d)
        eq = S.lit(False) if d_finer else (neg & (key == key_d))
    else:
        lt = neg | ((key < key_d) if not d_finer else (key <= key_d))
        eq = S.lit(False) if d_finer else (~neg & (key == key_d))
    if op == "lt":
        return lt
    if op == "le":
        return lt | eq
    if op == "gt":
        return ~(lt | eq)
    return ~lt  # ge


def _stored_scale(t: Sql) -> Sql:
    """The value's STORED decimal scale parsed from ``schema_of_variant``
    (0 for BIGINT/others). Trailing zeros strip at parse, so this is the
    TRUE scale; extractions at a coarser scale ROUND, so every
    decimal-window read guards on it.

    Parsed with substring_index instead of a regex (this runs per
    keyword per row in interpreted trees): for a root DECIMAL type the
    scale is the digits between the last ',' and ')'. Every use site is
    gated on ``t == BIGINT | startswith DECIMAL``, so the value for
    nested types (where the old regex could match an EMBEDDED
    "DECIMAL(p,s)" inside e.g. ARRAY<...>) is never read."""
    return S.coalesce(
        S.when(t.startswith("DECIMAL("),
               S.substring_index(S.substring_index(t, ",", -1), ")", 1)
                .try_cast("int")),
        S.lit(0))


def _multiple_of_fail_variant(n: _Node, mo: Any) -> Sql:
    """Decimal-exact ``multipleOf`` with the columnar path's overflow tiers
    (reference semantics NumberValidators.scala:89-109).

    The old ``(n % mo_dec) == 0`` on the decimal(38,12) extraction silently
    NULLed every value outside that window (|v| ≥ 1e26 or >12 fractional
    digits) and callers coalesced the NULL to "invalid" — e.g. a JSON 1e26
    with multipleOf 0.25 was flagged here, passed by the kernel.

    Dispatch on the variant's STORED type (VARIANT keeps JSON integer and
    plain-decimal literals exactly as BIGINT/DECIMAL; e-notation parses as
    DOUBLE — probed on Spark 4.1):

    - exact (BIGINT / DECIMAL) value fitting decimal(38,18): exact decimal
      remainder — this covers 2⁵³+1-style integers bit-for-bit;
    - exact scale-0 DECIMAL wider than 20 integer digits (e.g. a 27-digit
      literal): decimal(38,0) remainder, still exact;
    - DOUBLE/FLOAT (and the residual exact-but-unrepresentable tail):
      :meth:`ColumnCompiler._multiple_of_fail` on the double view, whose
      tiers match the kernel's as_decimal semantics (shortest repr < 2⁵³,
      exact binary integer ≥ 2⁵³).

    Known parse-level divergences (parse SUCCEEDS with an altered value,
    so no per-row fallback can catch them — probed on Spark 4.1,
    documented): JSON e-notation like ``1e26`` is a DOUBLE in VARIANT but
    an exact Decimal in the kernel's ``parse_json`` (residues mod an mo
    that distinguishes 10²⁶ from double(1e26) can differ); integers wider
    than 38 digits and exponents past double range (``1e999``) collapse to
    DOUBLE/Infinity where the kernel stays exact; a LONE surrogate escape
    in a string becomes ``?`` where Python keeps the surrogate
    (length/pattern checks on such strings can differ); text after the
    first complete value is ignored (``try_parse_json('{"k": 3} x')`` is
    ``{"k":3}`` on Spark 4.1.2) where the kernel rejects the document as
    unparsable. Duplicate-key objects — which Spark REJECTS at parse — are
    handled: json_valid_auto re-routes those rows to the kernel.
    """
    from pyspark.sql import types as T

    from sparkschema.compiler.columns import ColumnCompiler
    from sparkschema.spec.jsonvalue import as_decimal, normalize_exact

    # pathological mo (≥16 significant digits or scale >18): the exact
    # double tier is an Arrow UDF in columns._multiple_of_fail, and Spark
    # cannot evaluate Python UDFs inside the HOF binding lambda this tree
    # lives in — hand the whole spec to the Arrow kernel instead
    import decimal as _dec

    mo_dec_ = normalize_exact(as_decimal(mo))
    s_ = max(-mo_dec_.as_tuple().exponent, 0)
    try:
        binary_mo_ = Decimal(float(mo_dec_)) == mo_dec_
    except (OverflowError, ValueError):
        binary_mo_ = False
    M_ = int(mo_dec_.scaleb(s_, _dec.Context(prec=60)))
    # s_ > 18 is pathological EVEN for binary-representable mo (e.g.
    # 2^-20, scale 20): the vscale>18 tier below assumes "value finer
    # than any multiple of mo" which only holds when scale(mo) <= 18 —
    # a stored DECIMAL(20,20) that IS 3*2^-20 was flagged (ADVICE r3)
    if s_ > 18 or not (binary_mo_ or 1 <= M_ <= 2 ** 53):
        raise VariantUnsupported("pathological multipleOf (kernel fallback)")

    exact = n.exact
    # the hot tiers read the node's ALREADY-BOUND decimal(38,18) and
    # double views (slots n / nd) instead of re-running two variant
    # extractions per row (interpreted trees get no CSE; guide §1.2)
    nd18 = n.slot("n")
    d6 = n.get("decimal(38,6)")
    d0 = n.get("decimal(38,0)")
    dbl = n.slot("nd")
    # stored scale: extraction at a coarser scale ROUNDS, so each decimal
    # tier requires stored_scale <= extraction scale (fuzz-found r3: a
    # DECIMAL(22,1) with a .5 fraction slipped to the exact-binary double
    # path and "became" a multiple of 2)
    fail18 = ColumnCompiler._multiple_of_fail(nd18, T.DecimalType(38, 18), mo)
    fail6 = ColumnCompiler._multiple_of_fail(d6, T.DecimalType(38, 6), mo)
    fail0 = ColumnCompiler._multiple_of_fail(d0, T.DecimalType(38, 0), mo)
    dbl_fail = S.coalesce(
        ColumnCompiler._multiple_of_fail(dbl, T.DoubleType(), mo), S.lit(True))
    # every decimal tier needs stored_scale <= extraction scale — the
    # extraction ROUNDS finer values (1E-30 came back 0E-18 from the nd18
    # tier and "was" a multiple of everything; fuzz-found r3). A stored
    # scale BEYOND 18 means a nonzero digit past 10^-18 (trailing zeros
    # strip at parse) while this mo has scale <= 18 (pathological raised
    # above): such a value can NEVER be a multiple — k*mo has scale <=
    # scale(mo) (review find r3b: DECIMAL(20,20) fell to the double view)
    return S.coalesce(
        S.when(n.exact_fine, n.true)
         .when(exact & n.scale_is("<=", 18) & nd18.isNotNull(), fail18)
         .when(n.exact_at(6), fail6)
         .when(exact & n.scale_is("==", 0) & d0.isNotNull(), fail0)
         .otherwise(dbl_fail),
        n.true)


def _num_eq_variant(n: _Node, c: Any) -> Sql:
    """JSON-equality of a variant number against a literal, tiered like
    ``columns._num_eq_lit``: the old ``decimal view == F.lit(c).cast(
    decimal(38,12))`` CRASHED at plan time for literals outside that
    window (ANSI decimal overflow on constant folding) and NULLed
    out-of-range values.

    Exact-stored variants (BIGINT/DECIMAL) compare decimal-exactly when the
    literal fits decimal(38,18) (or scale-0 decimal(38,0) for wide whole
    literals); doubles compare through the kernel's shortest-repr
    representability view (< 2⁵³) / exact-binary identity (≥ 2⁵³)."""
    from sparkschema.compiler.columns import _dec_precision
    from sparkschema.spec.jsonvalue import as_decimal, normalize_exact

    d = normalize_exact(as_decimal(c))
    scale = max(-d.as_tuple().exponent, 0)
    int_digits = _dec_precision(d) - scale

    # the value's STORED scale (n.vscale, parsed from schema_of_variant;
    # BIGINT stores scale 0) — extraction at a smaller scale ROUNDS
    # (try_variant_get, HALF_UP), so every decimal-equality tier must
    # require stored_scale ≤ extraction scale or a rounded near-miss would
    # compare equal (0.54 == 0.5 at scale 1)
    false = n.false
    if scale <= 18 and int_digits <= 20:
        exact_eq = S.coalesce(n.scale_is("<=", 18)
                              & (n.get("decimal(38,18)") == S.lit(d)), false)
    elif scale == 0 and _dec_precision(d) <= 38:
        exact_eq = S.coalesce(n.scale_is("==", 0)
                              & (n.get("decimal(38,0)") == S.lit(d)), false)
    elif scale <= 38 and _dec_precision(d) <= 38:
        # wide (21-38 integer digits) or fine (scale 19-38) literals:
        # VARIANT stores up to 38 digits exactly — extract at the
        # literal's own scale; exact when the stored scale is no finer
        # (a scale-30 const was declared unequal to its own exactly-stored
        # value; fuzz-found r3)
        exact_eq = S.coalesce(n.scale_is("<=", scale)
                              & (n.get(f"decimal(38,{scale})") == S.lit(d)),
                              false)
    else:
        # >38-digit literal: no exactly-stored JSON number can equal it
        exact_eq = false

    try:
        representable = as_decimal(float(d)) == d
    except (OverflowError, ValueError):
        representable = False
    dbl_eq = S.coalesce(n.get("double") == S.lit(float(d)), false) \
        if representable else false
    return S.coalesce(S.when(n.exact, exact_eq).otherwise(dbl_eq), false)


def _json_eq_deep(n: _Node, c: Any, depth: int = 0) -> Sql:
    """Structural JSON equality of a variant against a LITERAL value,
    matching the kernel's deep equality (1.0 ≡ 1 numerically, 1 ≢ true,
    object key SETS equal, array order significant — jsonvalue.json_equal).
    Compile-time recursion over the literal bounds the predicate size;
    absent map keys / out-of-range indexes surface as SQL NULL and the
    coalesce makes them unequal. Never NULL (callers AND it directly)."""
    if depth > 32:
        raise VariantUnsupported("const/enum literal nesting too deep")
    false = n.false
    if c is None:
        return S.coalesce(n.is_null, false)
    if isinstance(c, bool):
        return S.coalesce(
            n.t_is("BOOLEAN") & (n.get("boolean") == c), false)
    if is_number(c):
        return S.coalesce(n.is_num & _num_eq_variant(n, c), false)
    if isinstance(c, str):
        return S.coalesce(n.t_is("STRING") & (n.get("string") == c), false)
    if isinstance(c, list):
        arr = n.get("array<variant>")
        conds = [n.t_starts("ARRAY") & (S.size(arr) == len(c))]
        conds += [_json_eq_deep(_Node(S.get(arr, i)), ci, depth + 1)
                  for i, ci in enumerate(c)]
        return S.coalesce(S.all_of(conds), false)
    if isinstance(c, dict):
        m = n.v.try_cast("map<string,variant>")
        conds = [n.is_obj & (S.size(m) == len(c))]
        conds += [_json_eq_deep(_Node(S.try_element_at(m, k)), cv, depth + 1)
                  for k, cv in c.items()]
        return S.coalesce(S.all_of(conds), false)
    raise VariantUnsupported(f"const/enum literal {type(c).__name__}")


def _object_keys(v: Sql) -> Sql:
    """Keys of a variant object as ``array<string>`` (NULL for non-objects)
    — ``json_object_keys`` over the variant's JSON text. Stays Catalyst-
    native (one serialization, zero Python); unlocks the key-only object
    keywords that previously fell back to the Arrow kernel (VERDICT r2 #8)."""
    return S.json_object_keys(S.to_json(v))


def _propname_ok(k: Sql, schema: Any) -> Sql:
    """Validity of one property NAME (a string instance) against the
    ``propertyNames`` schema — string keywords only (ObjectValidators
    .scala:16-35 validates each key as a JsString)."""
    if schema is True:
        return S.lit(True)
    if schema is False:
        return S.lit(False)
    if not isinstance(schema, dict):
        return S.lit(True)
    supported = {"type", "minLength", "maxLength", "pattern", "enum",
                 "const", "format"}
    unknown = set(schema) - supported
    if unknown:
        raise VariantUnsupported(f"propertyNames keywords {sorted(unknown)}")
    from sparkschema.compiler.columns import grapheme_length_col

    checks = [S.lit(True)]
    t = schema.get("type")
    if t is not None:
        names = t if isinstance(t, list) else [t]
        checks.append(S.lit("string" in names))
    mn = schema.get("minLength")
    if isinstance(mn, int) and not isinstance(mn, bool):
        checks.append(grapheme_length_col(k) >= mn)
    mx = schema.get("maxLength")
    if isinstance(mx, int) and not isinstance(mx, bool):
        checks.append(grapheme_length_col(k) <= mx)
    pat = schema.get("pattern")
    if isinstance(pat, str):
        jp = _java_pattern(pat)
        # invalid pattern: every property NAME fails (kernel
        # str.invalid.pattern); no runtime rlike crash (review find r4)
        checks.append(S.lit(False) if jp is None else k.rlike(jp))
    if "enum" in schema:
        lits = [e for e in schema["enum"] if isinstance(e, str)]
        checks.append(k.isin(lits) if lits else S.lit(False))
    if "const" in schema:
        c = schema["const"]
        checks.append((k == S.lit(c)) if isinstance(c, str) else S.lit(False))
    fmt = schema.get("format")
    if isinstance(fmt, str) and fmt not in ("int32", "int64"):
        # int32/int64 are NUMBER formats — vacuous on string property
        # names (the kernel's checkers gate on isinstance(int)); the SQL
        # predicate computed `name % 1` and threw CAST_INVALID_INPUT
        # under ANSI for non-numeric keys (review find r4)
        checks.append(format_predicate(fmt, k))
    return S.all_of(checks)


def _java_pattern(pat: str) -> str | None:
    """:func:`~sparkschema.spec.ecma_pattern.java_regex`, with no portable
    Java form raised as :class:`VariantUnsupported` (kernel fallback).

    ``None`` when the pattern compiles in neither form. The callers then
    do what the kernel does: a ``pattern`` keyword fails every string
    value (str.invalid.pattern), a ``patternProperties`` pattern is
    skipped."""
    try:
        return java_regex(pat)
    except UnportablePattern as e:
        raise VariantUnsupported(str(e)) from None


def _compiled_patprops(schema: dict) -> list[tuple[str, Any]]:
    """``(java_pattern, subschema)`` pairs for ``patternProperties``,
    skipping exactly the patterns the kernel skips."""
    out: list[tuple[str, Any]] = []
    pp = schema.get("patternProperties")
    if isinstance(pp, dict):
        for pat, sub in pp.items():
            jp = _java_pattern(pat)
            if jp is not None:
                out.append((jp, sub))
    return out


def _needs(schema: dict) -> dict:
    """Which bound slots this node's own keywords read (driver-side scan;
    same-``v`` recursion rebinds, so only THIS node's keywords count)."""
    from sparkschema.spec.jsonvalue import is_number as _isn

    consts = list(schema.get("enum") or [])
    if "const" in schema:
        consts.append(schema["const"])
    tnames = schema.get("type")
    tnames = (tnames if isinstance(tnames, list) else [tnames]) if tnames else []
    fmt = schema.get("format")
    return {
        "n": (any(_isn(schema.get(k)) for k in
                  ("minimum", "maximum", "exclusiveMinimum",
                   "exclusiveMaximum", "multipleOf"))
              or "integer" in tnames
              or fmt in ("int32", "int64")
              or any(_isn(c) for c in consts)),
        "s": (any(isinstance(schema.get(k), int)
                  and not isinstance(schema.get(k), bool)
                  for k in ("minLength", "maxLength"))
              or isinstance(schema.get("pattern"), str)
              or (isinstance(fmt, str) and fmt not in ("int32", "int64"))
              or any(isinstance(c, str) for c in consts)),
        "a": any(k in schema for k in
                 ("minItems", "maxItems", "uniqueItems", "items", "contains")),
        "k": (any(k in schema for k in
                  ("propertyNames", "minProperties", "maxProperties",
                   "dependencies"))
              or schema.get("additionalProperties") is False),
        "m": (isinstance(schema.get("patternProperties"), dict)
              or isinstance(schema.get("additionalProperties"), dict)),
    }


def _bind(v: Sql, needs: dict, body: Callable[[_Node], Sql]) -> Sql:
    """Evaluate ``body(node)`` with the slots ``needs`` asks for BOUND
    through a 1-element-array HOF lambda, so each slot evaluates once per
    row instead of once per keyword reference (interpreted expressions get
    no CSE; the same lambda-binding trick as dedup.char_shingles). Only
    the requested slots are materialized; ``t`` always is."""
    fields = [_vtype(v).alias("t")]
    if needs["n"]:
        fields.append(S.try_variant_get(v, "$", _DEC).alias("n"))
        fields.append(S.try_variant_get(v, "$", "double").alias("nd"))
    if needs["s"]:
        fields.append(S.try_variant_get(v, "$", "string").alias("s"))
    if needs["a"]:
        fields.append(S.try_variant_get(v, "$", "array<variant>").alias("a"))
    if needs["k"]:
        fields.append(_object_keys(v).alias("k"))
    if needs["m"]:
        fields.append(_entries(v).alias("m"))
    return S.get(S.transform(S.array(S.struct(*fields)),
                             lambda b: body(_Node(v, b))), 0)


def _check_supported(schema: dict) -> None:
    for kw in _UNSUPPORTED:
        if kw in schema:
            raise VariantUnsupported(kw)


def _valid(v: Sql, schema: Any, rounds: int) -> Sql:
    """True iff the variant value at ``v`` satisfies ``schema``.
    SQL-NULL ``v`` (absent property) passes vacuously — ``required`` is the
    parent's business, exactly like the kernel.

    The node's shared sub-expressions — ``schema_of_variant``, the numeric
    / string / array extractions, ``json_object_keys(to_json(v))`` — are
    bound once per row (:func:`_bind`); only the slots this node's
    keywords actually read are materialized.

    ``rounds`` estimates the analyzer iterations spent on the enclosing
    nodes (see :data:`_MAX_ROUNDS`); past the budget the spec raises
    :class:`VariantUnsupported` here instead of failing in analysis."""
    if schema is True:
        return S.lit(True)
    if schema is False:
        return v.isNull()  # only absence "passes" a false schema vacuously
    if not isinstance(schema, dict):
        return S.lit(True)
    _check_supported(schema)
    # the binding lambda resolves one round after its argument, and each
    # try_variant_get nested in v (one per properties level below the
    # nearest lambda variable) one round after the call inside it
    rounds += 1 + v.text.count("try_variant_get(")
    if rounds > _MAX_ROUNDS:
        raise VariantUnsupported("spec nesting too deep for the analyzer")
    return _bind(v, _needs(schema), lambda n: _node_valid(n, schema, rounds))


def _valid_many(v: Sql, schemas: list) -> Sql:
    """See :func:`variant_valid_many`."""
    if not schemas:
        return S.struct(S.lit(True).alias("q0"))
    dict_schemas = [s for s in schemas if isinstance(s, dict)]
    for s in dict_schemas:  # eager VariantUnsupported, like variant_valid
        _check_supported(s)
    union: dict[str, bool] = {k: False for k in "nsakm"}
    for s in dict_schemas:
        for k, flag in _needs(s).items():
            union[k] = union[k] or flag

    def _one(n: _Node, s: Any) -> Sql:
        if s is True:
            return S.lit(True)
        if s is False:
            return v.isNull()
        if not isinstance(s, dict):
            return S.lit(True)
        return _node_valid(n, s, 1)  # rounds after the shared binding

    return _bind(v, union, lambda n: S.struct(
        *[_one(n, s).alias(f"q{i}") for i, s in enumerate(schemas)]))


def _node_valid(n: _Node, schema: dict, rounds: int) -> Sql:
    """The verdict of one schema node: ``true`` AND-ed with one
    ``NOT (applies AND fails)`` term per keyword check, in keyword
    order. A subschema costs ``rounds + 1``, or ``rounds + 2`` inside a
    higher-order function's lambda (:func:`_valid`)."""
    v = n.v
    needs = _needs(schema)
    checks = [S.lit(True)]

    def type_ok(name: str) -> Sql:
        if name == "string":
            return n.t_is("STRING")
        if name == "boolean":
            return n.t_is("BOOLEAN")
        if name == "number":
            return n.is_num
        if name == "integer":
            nn, nd = n.slot("n"), n.slot("nd")
            # decimal window -> exact floor compare; wide exact DECIMALs
            # check their string rendering for a nonzero fraction (the
            # ">= 2^53 is whole" shortcut only holds for DOUBLE-stored
            # values); DOUBLE >= 2^53 is always whole; else floor-compare
            # the double (branch-guarded: floor(double) -> long would
            # throw under ANSI past 2^53).
            # The decimal-window tier is for EXACT-stored values only:
            # nn of a DOUBLE rounds (1e-19 -> 0 "is" an integer) — DOUBLE/
            # FLOAT must fall through to the double branches (ADVICE r3)
            return n.is_num & (
                S.when(n.exact_in18, nn == S.floor(nn).cast(_DEC))
                 .when(n.exact, ~n.get("string").rlike(r"\.\d*[1-9]"))
                 .when(S.abs(nd) >= S.lit(float(2 ** 53)), n.true)
                 .otherwise(nd == S.floor(nd).cast("double")))
        if name == "array":
            return n.t_starts("ARRAY")
        if name == "object":
            return n.is_obj
        if name == "null":
            return n.is_null
        raise VariantUnsupported(f"unknown type {name!r}")

    tn = schema.get("type")
    if tn is not None:
        names = tn if isinstance(tn, list) else [tn]
        cond = type_ok(names[0])
        for name in names[1:]:
            cond = cond | type_ok(name)
        checks.append(~(n.present & ~cond))

    def const_ok(c: Any) -> Sql:
        if c is None:
            return n.is_null
        if isinstance(c, bool):
            return n.t_is("BOOLEAN") & (n.get("boolean") == c)
        if is_number(c):
            return n.is_num & _num_eq_variant(n, c)
        if isinstance(c, str):
            return n.t_is("STRING") & (n.slot("s") == c)
        # structural array/object literals: compile-time recursion over
        # the literal builds a bounded deep-equality predicate
        return _json_eq_deep(n.unbound, c)

    if "enum" in schema:
        cond = S.any_of([S.lit(False)] + [const_ok(e) for e in schema["enum"]])
        checks.append(~(n.present & ~cond))
    if "const" in schema:
        checks.append(~(n.present & ~const_ok(schema["const"])))

    # numeric keywords gate on the value being a number (vacuous otherwise)
    if needs["n"]:
        nb, nd = n.slot("n"), n.slot("nd")
        isnum = n.present & n.is_num

        def num_cmp(bound_val, op: str) -> Sql:
            """Bound comparison that never NULL-poisons: decimal-exact in
            the decimal(38,18) window, double view outside it (values with
            >20 integer digits / bounds wider than the window compare in
            double — a documented 1-ulp tail past 1e20; the old
            decimal(38,12) cast NULLed there and coalesced to invalid)."""
            from sparkschema.compiler.columns import (_dec_precision,
                                                      _double_cmp)
            from sparkschema.spec.jsonvalue import as_decimal, normalize_exact

            d = normalize_exact(as_decimal(bound_val))
            s = max(-d.as_tuple().exponent, 0)
            fits = (_dec_precision(d) <= 38 and s <= 18
                    and _dec_precision(d) - s <= 20)
            lit_d = S.lit(d)

            def apply(c: Sql, lit: Sql) -> Sql:
                return {"gt": operator.gt, "ge": operator.ge,
                        "lt": operator.lt, "le": operator.le}[op](c, lit)

            # double-typed variants go through the direction-aware
            # boundary double (kernel-exact even when the bound falls
            # between a double's decimal views — fuzz-found r3)
            dbl_cond = _double_cmp(nd, bound_val, op)
            if fits:
                # nb is faithful only when the stored scale fits the
                # extraction scale (rounding could cross the bound); wide
                # exact values (21+ int digits) compare at the bound's own
                # scale, scale-19..38 values through the exact text
                # comparator, before falling to the double view.
                # Every decimal tier is gated on exactness: nb of a
                # DOUBLE-stored value ROUNDS to scale 18 (shortest repr
                # of 9.999999999999998e-4 has 19 fractional digits), so
                # doubles must reach dbl_cond (ADVICE r3)
                return S.when(n.exact_in18, apply(nb, lit_d)) \
                        .when(n.exact_fine, _dec_text_cmp(n, d, op)) \
                        .when(n.exact_at(s),
                              apply(n.get(f"decimal(38,{s})"), lit_d)) \
                        .otherwise(dbl_cond)
            # bound outside the window: an in-window nb (scale ≤ 18,
            # |nb| < 10²⁰) still compares EXACTLY — constant when
            # |d| ≥ 10²⁰ (every window value is smaller in magnitude),
            # else against d floored/ceiled to scale 18 (nb is a multiple
            # of 10⁻¹⁸, so the strict relation is preserved). The old
            # n.cast("double") middle tier collapsed B37 onto 1e20 and
            # declared it ≥ 10²⁰ (fuzz-found r3).
            import decimal as _dec
            if abs(d) >= Decimal(10) ** 20:
                n_cmp = S.lit(op in ("lt", "le") if d > 0
                              else op in ("gt", "ge"))
            else:
                q18 = Decimal(1).scaleb(-18)
                with _dec.localcontext() as ctx:
                    ctx.prec = 60
                    dlo = d.quantize(q18, rounding=_dec.ROUND_FLOOR)
                    dhi = d.quantize(q18, rounding=_dec.ROUND_CEILING)
                if dlo == d:
                    n_cmp = apply(nb, S.lit(dlo))
                elif op in ("le", "lt"):
                    n_cmp = nb <= S.lit(dlo)
                else:
                    n_cmp = nb >= S.lit(dhi)
            # wide bound (21-38 integer digits): exactly-stored values
            # whose scale is no finer than the bound's compare exactly at
            # the bound's own scale (fuzz-found r3: a wide DECIMAL equal
            # to the bound diverged through the double view); the rest
            # fall to the double comparisons
            if s <= 18 and _dec_precision(d) <= 38:
                return S.when(n.exact_at(s),
                              apply(n.get(f"decimal(38,{s})"), lit_d)) \
                        .when(n.exact_fine, _dec_text_cmp(n, d, op)) \
                        .when(n.exact_in18, n_cmp) \
                        .otherwise(dbl_cond)
            return S.when(n.exact_fine, _dec_text_cmp(n, d, op)) \
                    .when(n.exact_in18, n_cmp) \
                    .otherwise(dbl_cond)

        for kw in ("minimum", "maximum"):
            bound = schema.get(kw)
            if is_number(bound):
                excl = schema.get("exclusiveMinimum" if kw == "minimum"
                                  else "exclusiveMaximum") is True
                if kw == "minimum":
                    cond = num_cmp(bound, "gt" if excl else "ge")
                else:
                    cond = num_cmp(bound, "lt" if excl else "le")
                checks.append(~(isnum & ~cond))
        emn = schema.get("exclusiveMinimum")
        if is_number(emn):
            checks.append(~(isnum & ~num_cmp(emn, "gt")))
        emx = schema.get("exclusiveMaximum")
        if is_number(emx):
            checks.append(~(isnum & ~num_cmp(emx, "lt")))
        mo = schema.get("multipleOf")
        if is_number(mo):
            checks.append(~(isnum & _multiple_of_fail_variant(n, mo)))
        if schema.get("format") in ("int32", "int64"):
            from sparkschema.compiler.formats_sql import int_format_double
            fmtname = schema["format"]
            # DOUBLE-stored values need the exact-boundary double check
            # (nd18 of -9.223372036854776e18 reprs to ...776000, outside
            # int64 even though the double IS Long.MIN); decimal-window
            # reads guard on the stored scale (1E-30 rounded to 0 and
            # "was" an int32 — fuzz-found r3); exact values outside both
            # windows are wide (>20 int digits) or fine-scaled — never ints
            pred = S.when(n.t.isin("DOUBLE", "FLOAT"),
                          int_format_double(nd, fmtname)) \
                    .when(n.n_nonnull & n.scale_is("<=", 18),
                          format_predicate(fmtname, nb)) \
                    .otherwise(n.false)
            checks.append(~(isnum & ~S.coalesce(pred, n.false)))

    if needs["s"]:
        s = n.slot("s")
        isstr = n.present & n.t_is("STRING")

        def glen() -> Sql:
            from sparkschema.compiler.columns import grapheme_length_col
            return grapheme_length_col(s)

        mn = schema.get("minLength")
        if isinstance(mn, int) and not isinstance(mn, bool):
            checks.append(~(isstr & (glen() < mn)))
        mx = schema.get("maxLength")
        if isinstance(mx, int) and not isinstance(mx, bool):
            checks.append(~(isstr & (glen() > mx)))
        pat = schema.get("pattern")
        if isinstance(pat, str):
            # compile-time validity check: an uncompilable regex
            # previously crashed the WHOLE job at rlike evaluation, while
            # the kernel emits str.invalid.pattern — every string value
            # fails (review r4)
            jp = _java_pattern(pat)
            if jp is None:
                checks.append(~isstr)
            else:
                checks.append(~(isstr & ~s.rlike(jp)))
        fmt = schema.get("format")
        if isinstance(fmt, str) and fmt not in ("int32", "int64"):
            checks.append(~(isstr & ~format_predicate(fmt, s)))

    if needs["a"]:
        arr = n.slot("a")
        isarr = n.present & n.t_starts("ARRAY")
        size = S.size(arr)

        mn = schema.get("minItems")
        if isinstance(mn, int) and not isinstance(mn, bool):
            checks.append(~(isarr & (size < mn)))
        mx = schema.get("maxItems")
        if isinstance(mx, int) and not isinstance(mx, bool):
            checks.append(~(isarr & (size > mx)))
        if schema.get("uniqueItems") is True:
            canon = S.transform(arr, _canon_elem)
            checks.append(~(isarr & (S.size(S.array_distinct(canon))
                                     != S.size(canon))))
        items = schema.get("items")
        if isinstance(items, (dict, bool)) and items is not True:
            elem_ok = S.forall(arr, lambda e: _valid(e, items, rounds + 2))
            checks.append(~(isarr & ~elem_ok))
        elif isinstance(items, list):
            # positional tuple schemas + additionalItems
            # (TupleValidators.scala:44-108; interpreter.py:378-392)
            for i, sub in enumerate(items):
                el = S.get(arr, i)  # SQL NULL past the end -> vacuous pass
                el_ok = _valid(el, sub, rounds + 1)
                checks.append(~(isarr & (size > i) & ~el_ok))
            add = schema.get("additionalItems")
            if add is False:
                checks.append(~(isarr & (size > len(items))))
            elif isinstance(add, (dict, bool)) and add is not True:
                tail = S.slice(arr, len(items) + 1,
                               2147483647 - len(items) - 1)
                tail_ok = S.forall(
                    tail, lambda e: _valid(e, add, rounds + 2))
                checks.append(~(isarr & (size > len(items)) & ~tail_ok))
        if "contains" in schema:
            has = S.exists(arr, lambda e: _valid(e, schema["contains"],
                                                 rounds + 2)
                           & e.isNotNull())
            checks.append(~(isarr & ~has))

    props = schema.get("properties")
    if isinstance(props, dict):
        for k, sub in props.items():
            child_ok = _valid(n.child(k), sub, rounds + 1)
            checks.append(~(n.present_obj & ~child_ok))
    req = schema.get("required")
    if isinstance(req, list):
        for k in req:
            checks.append(~(n.present_obj & n.child(k).isNull()))

    # (java_pattern, subschema) pairs, proved on the JVM once per node
    pairs = _compiled_patprops(schema)
    # key-only object keywords over json_object_keys(to_json(v)) — all
    # Catalyst-native (ObjectValidators.scala:16-35,128-171,173-258)
    if needs["k"]:
        isobj = n.present_obj
        keys = n.slot("k")
        nkeys = S.size(keys)

        if "propertyNames" in schema:
            pn = schema["propertyNames"]
            checks.append(~(isobj & ~S.forall(keys,
                                              lambda k: _propname_ok(k, pn))))
        mnp = schema.get("minProperties")
        if isinstance(mnp, int) and not isinstance(mnp, bool):
            checks.append(~(isobj & (nkeys < mnp)))
        mxp = schema.get("maxProperties")
        if isinstance(mxp, int) and not isinstance(mxp, bool):
            checks.append(~(isobj & (nkeys > mxp)))
        if schema.get("additionalProperties") is False:
            # allowed keys: declared properties ∪ patternProperties matches
            # (unmatched.intersect(remaining), ObjectConstraints4.scala:53)
            declared = list((props or {}).keys())

            def allowed(k: Sql) -> Sql:
                c = k.isin(declared) if declared else S.lit(False)
                return S.any_of([c] + [k.rlike(jp) for jp, _ in pairs])

            checks.append(~(isobj & ~S.forall(keys, allowed)))
        deps = schema.get("dependencies")
        if isinstance(deps, dict):
            for dk, dv in deps.items():
                has = S.coalesce(S.array_contains(keys, dk), n.false)
                if isinstance(dv, list):
                    dep_ok = S.all_of([S.lit(True)] + [
                        S.array_contains(keys, r) for r in dv])
                elif isinstance(dv, str):  # draft-4 single-string form
                    dep_ok = S.array_contains(keys, dv)
                elif isinstance(dv, (dict, bool)):
                    dep_ok = _valid(v, dv, rounds + 1)
                else:
                    raise VariantUnsupported("dependencies value form")
                checks.append(~(isobj & has & ~S.coalesce(dep_ok, n.false)))

    # value-reading object keywords over the map<string,variant> entries
    # (ObjectValidators.scala:128-171; interpreter.py:448-475)
    if needs["m"]:
        isobj = n.present_obj
        entries = n.slot("m")
        for jp, sub in pairs:
            pat_ok = S.forall(
                S.filter(entries, lambda e, jp=jp: e["key"].rlike(jp)),
                lambda e, sub=sub: _valid(e["value"], sub, rounds + 2))
            checks.append(~(isobj & ~pat_ok))
        ap = schema.get("additionalProperties")
        if isinstance(ap, dict):
            declared = list((props or {}).keys())

            def _extra(e: Sql) -> Sql:
                c = ~e["key"].isin(declared) if declared else S.lit(True)
                return S.all_of([c] + [~e["key"].rlike(jp) for jp, _ in pairs])

            ap_ok = S.forall(
                S.filter(entries, _extra),
                lambda e: _valid(e["value"], ap, rounds + 2))
            checks.append(~(isobj & ~ap_ok))

    for comb in ("allOf", "anyOf", "oneOf"):
        subs = schema.get(comb)
        if isinstance(subs, list) and subs:
            conds = [_valid(v, sub, rounds + 1) for sub in subs]
            if comb == "allOf":
                agg = S.all_of(conds)
            elif comb == "anyOf":
                agg = S.any_of(conds)
            else:
                agg = conds[0].cast("int")
                for c in conds[1:]:
                    agg = agg + c.cast("int")
                agg = agg == 1
            checks.append(~(n.present & ~agg))
    if "not" in schema:
        checks.append(~(n.present & _valid(v, schema["not"], rounds + 1)))
    if "if" in schema:
        cond = _valid(v, schema["if"], rounds + 1)
        then_ok = _valid(v, schema["then"], rounds + 1) \
            if "then" in schema else S.lit(True)
        else_ok = _valid(v, schema["else"], rounds + 1) \
            if "else" in schema else S.lit(True)
        checks.append(~(n.present & ~S.when(cond, then_ok).otherwise(else_ok)))
    return S.all_of(checks)


def _parsed_valid(v: Sql, schema: Any) -> Sql:
    """Verdict over a parsed document ``v``: NULL (unparsable) → False."""
    return S.when(v.isNull(), S.lit(False)).otherwise(_valid(v, schema, 0))


def _verdict(doc: Sql, schema: Any) -> Sql:
    """Verdict over the JSON text ``doc``; see :func:`variant_valid_column`."""
    bound = S.get(S.transform(S.array(S.try_parse_json(doc)),
                              lambda v: _parsed_valid(v, schema)), 0)
    return S.when(doc.isNull(), S.lit(None).cast("boolean")).otherwise(bound)


def _text(build: Callable[[], Sql]) -> Sql:
    """``build()``, with a value that has no SQL literal (a string with a
    lone surrogate) raised as :class:`VariantUnsupported`."""
    try:
        return build()
    except SqlTextError as err:
        raise VariantUnsupported(str(err)) from None


def _column_ref(c: Column | str) -> str | None:
    """SQL text naming ``c`` when it is a plain column reference
    (``F.col(name)``), else ``None``."""
    c = F.col(c) if isinstance(c, str) else c
    node = c._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        return None
    try:
        text = ".".join(S.ident(p)
                        for p in node.nameParts().mkString("\0").split("\0"))
    except SqlTextError:
        return None
    # a planId or metadata flag would not survive the round trip
    return text if F.col(text)._jc.equals(c._jc) else None


def _over(c: Column | str, build: Callable[[Sql], Sql]) -> Column:
    """The Column of ``build(x)``, with ``x`` the SQL text of ``c``: its
    name when ``c`` is a plain column reference (the whole expression then
    crosses in one ``F.expr``), else a lambda variable bound to ``c`` by a
    one-element ``transform``."""
    ref = _column_ref(c)
    if ref is not None:
        return F.expr(_text(lambda: build(Sql(ref))).text)
    lam = _text(lambda: S.lambda_(build))
    return F.get(F.call_function("transform", F.array(c), F.expr(lam.text)),
                 0)


def variant_valid(v: Column | str, schema: Any) -> Column:
    """True iff the variant value in ``v`` satisfies ``schema``; SQL-NULL
    ``v`` passes vacuously. Raises :class:`VariantUnsupported` eagerly."""
    return _over(v, lambda x: _valid(x, schema, 0))


def variant_valid_many(v: Column | str, schemas: list) -> Column:
    """One ``struct<q0: boolean, …>`` column with the verdict of EVERY
    schema in ``schemas`` against the same variant ``v``, all evaluated
    inside a single HOF binding of the UNION of the schemas' root slots.

    ``variant_valid`` binds per tree, so N arms over one document each
    re-evaluate the shared root work — ``schema_of_variant`` (renders a
    type string proportional to the document), ``json_object_keys(
    to_json(v))``, the ``map<string,variant>`` entries cast — N times per
    row (interpreted VARIANT expressions get no CSE; VERDICT r4 next #3).
    Here those slots materialize once and every arm reads the same bound
    struct.

    The result must be consumed as ONE expression (or materialized behind
    an exchange/persist barrier) before its fields are referenced
    individually — a projection alias read k times is inlined k times,
    re-running every arm."""
    return _over(v, lambda x: _valid_many(x, schemas))


def variant_valid_column(json_col: Column | str, schema: Any) -> Column:
    """Boolean Column over a JSON-text column: NULL input → NULL; unparsable
    → False (err.parse.json); else the compiled VARIANT predicate.

    The parse is BOUND through a one-element-array HOF lambda so
    ``try_parse_json`` evaluates once per row: referencing ``v`` directly
    re-parsed the document at every keyword/property site (no CSE for
    interpreted variant expressions; review find r4 — binding measured
    3.8→2.0 s at 1 property and 20.2→14.0 s at 12 on 300 k rows; the
    remaining width-linearity is the per-keyword variant ops themselves).

    :class:`VariantUnsupported` raises here, eagerly, for
    ``json_valid_auto``'s kernel fallback."""
    return _over(json_col, lambda doc: _verdict(doc, schema))


def variant_valid_sql(schema: Any, dialect: str = "draft7", registry=None,
                      column: str = "doc") -> str:
    """The Spark SQL text of the VARIANT verdict that ``json_valid_auto``
    compiles for ``schema`` over the JSON-text column ``column``: ``$ref``
    inlined as there, then :func:`variant_valid_column`'s expression.
    Raises :class:`VariantUnsupported` where ``json_valid_auto`` takes the
    Arrow kernel. The text runs as is in ``F.expr`` or ``spark.sql``."""
    vschema = _inline_refs_for_variant(schema, registry, dialect)
    return _text(lambda: _verdict(Sql(S.ident(column)), vschema)).text


def _inline_refs_for_variant(schema: Any, registry, dialect: str) -> Any:
    """Driver-side $ref inlining for the VARIANT fast path.

    Reuses the table compiler's eager resolver (table.inline_refs,
    reference SchemaRefResolver.scala:196-212 semantics: draft-7 $ref
    replaces sibling keywords; $id scopes honored via the registry).
    The ``$__ref_site``/``$__ref_target`` stamps it leaves for violation
    reporting are stripped — validity is a bare boolean here and the
    stamps would trip keyword-set validators (propertyNames). Returns
    the schema unchanged when there is nothing to inline or when
    inlining fails (recursive ref, unresolvable URI) — the caller's
    VariantUnsupported fallback then routes to the lazy Arrow kernel."""
    from sparkschema.compiler.table import _has_ref, inline_refs

    if not _has_ref(schema):
        return schema
    try:
        from sparkschema.spec.refs import DocumentIndex, RefResolver, Scope
        from sparkschema.spec.registry import sniff_dialect

        # resolve against a CLONE of the caller's index: registering the
        # transient root spec (and its $id scopes) into a long-lived
        # registry would let a stale subschema shadow a later document
        # with the same $id (review find r4)
        idx = registry.index.clone() if registry is not None \
            else DocumentIndex()
        root_uri = "urn:sparkschema:variantcol"
        d = sniff_dialect(schema, dialect) if isinstance(schema, dict) else dialect
        idx.add_document(root_uri, schema, d)
        inlined = inline_refs(schema, RefResolver(idx, d),
                              Scope(schema, root_uri))
    except Exception:  # SpecError (recursive ref) or resolver failures
        return schema

    def strip(s):
        # annotations never land inside enum/const/default/examples
        # (inline_refs doesn't descend into literal values) — don't
        # rewrite those either
        if isinstance(s, dict):
            return {k: (v if k in ("enum", "const", "default", "examples")
                        else strip(v))
                    for k, v in s.items()
                    if k not in ("$__ref_site", "$__ref_target")}
        if isinstance(s, list):
            return [strip(x) for x in s]
        return s

    return strip(inlined)


def json_valid_auto(json_col: Column | str, schema: Any,
                    registry=None, dialect: str | None = None,
                    strict_spark_parse: bool = False) -> Column:
    """VARIANT fast path when the spec compiles; Arrow kernel otherwise.

    PER-ROW hybrid on the fast path: Spark's variant parser REJECTS some
    documents the reference's parser accepts — probed on 4.1: objects
    with duplicate keys (Jackson/Play is last-wins) — so rows where
    ``try_parse_json`` returns NULL on non-NULL text re-validate through
    the Arrow kernel. The kernel UDF's ARGUMENT is gated (NULL for every
    normally-parsed row), so unaffected rows cross Arrow as nulls and the
    kernel body short-circuits; rows both parsers reject stay invalid
    (err.parse.json) on either path.

    The hybrid still attaches one ArrowEvalPython node to the plan (the
    UDF is hoisted out of the CASE branch and sees a NULL per normal
    row). Callers that know their documents are Spark-parsable — or
    accept the documented duplicate-key divergence — pass
    ``strict_spark_parse=True`` for a pure-Catalyst plan.

    The path taken is logged at DEBUG on this module's logger (under
    ``sparkschema``), with the :class:`VariantUnsupported` reason when
    the kernel takes the whole spec."""
    from sparkschema.compiler.jsoncol import json_valid_column

    # $ref: resolve eagerly on the driver (the same compile-time inlining
    # the table compiler uses) so non-recursive ref'd specs stay on the
    # zero-Python VARIANT path; recursive/unresolvable refs fall back to
    # the Arrow kernel, which resolves lazily (SchemaRefResolver.scala).
    dialect = dialect or getattr(registry, "dialect", None) or "draft7"
    vschema = _inline_refs_for_variant(schema, registry, dialect)
    try:
        vcol = variant_valid_column(json_col, vschema)
    except VariantUnsupported as e:
        _log.debug("json_valid_auto: Arrow kernel for every row "
                   "(VariantUnsupported: %s)", e)
        return json_valid_column(json_col, schema, registry, dialect)
    if strict_spark_parse:
        _log.debug("json_valid_auto: VARIANT for every row "
                   "(strict_spark_parse, no duplicate-key reroute)")
        return vcol
    _log.debug("json_valid_auto: VARIANT; rows Spark cannot parse "
               "(duplicate keys) rerouted to the Arrow kernel")
    col = F.col(json_col) if isinstance(json_col, str) else json_col
    unparsed = col.isNotNull() & F.try_parse_json(col).isNull()
    kcol = json_valid_column(F.when(unparsed, col), schema, registry,
                             dialect)
    return F.when(unparsed, F.coalesce(kcol, F.lit(False))) \
            .otherwise(vcol)
