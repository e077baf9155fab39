"""Keyword → Catalyst predicate compilation over typed columns.

This is the engine's fast path: the spec is compiled ONCE on the driver into
boolean Spark SQL expressions (the Catalyst analog of the reference's
``SchemaType`` AST interpreter — SURVEY.md §1.4), evaluated in a single
whole-stage-codegen projection per partition. The expressions are built as
SQL text (:mod:`sparkschema.compiler.sqltext`), which costs no py4j round
trip until it crosses to the JVM in ``F.expr``, and parses into the tree
the Column API would build. No Python runs on executors for any keyword in
this module, save the two Arrow tiers below (a pattern with no portable
Java form, a pathological ``multipleOf``), whose UDF Columns are bound into
the text (:func:`sqltext.bind_python`).

Typed-column semantics (the columnar re-expression of SURVEY.md §2.2):

- vacuous pass is *static*: a ``minLength`` on a numeric column compiles to
  nothing at all (keywords only constrain their own type);
- ``type`` checks are static where the column dtype decides them
  (string col vs ``"type":"string"`` ⇒ no runtime work; double col vs
  ``"integer"`` ⇒ ``col == floor(col)``);
- NULL column values model the absent property (``JsUndefined``; the
  columnar model collapses undefined/null — SURVEY.md §1.4): every
  per-value keyword passes on NULL; ``required`` compiles to
  ``col IS NOT NULL``;
- numeric comparisons use Decimal literals so ``0.1``-style bounds stay
  exact on DecimalType columns and bit-exact on doubles.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import types as T

from sparkschema._worker import on_load
from sparkschema.compiler import sqltext as S
from sparkschema.compiler.formats_sql import format_predicate
from sparkschema.compiler.sqltext import Sql, SqlTextError
from sparkschema.spec import messages as msg_catalog
from sparkschema.spec.ecma_pattern import (UnportablePattern, java_regex,
                                           kernel_regex)
from sparkschema.spec.jsonvalue import is_number

INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
FRACTIONAL = (T.FloatType, T.DoubleType)


@dataclass
class Check:
    """One compiled keyword check on one column/path, as SQL text.

    ``errors``/``resolution_scope``/``referrer`` mirror the reference's
    error-object extras (SchemaUtil.scala:28-39 additionalInfo,
    Results.scala:42-43): enum/const carry their allowed values, oneOf
    carries the matched-branch list, checks compiled under an inlined $ref
    carry the ref site as referrer. ``fail`` / ``value`` / ``msg`` /
    ``errors`` give the Column of each text."""

    keyword: str
    schema_path: str
    instance_path: str
    fail_sql: Sql     # boolean: TRUE iff the keyword is violated
    value_sql: Sql    # offending value rendered as string
    msg_sql: Sql      # violation message (string)
    errors_sql: Sql | None = None  # nested sub-error info as JSON text
    resolution_scope: str = ""
    referrer: str = ""

    @property
    def fail(self) -> Column:
        return S.column(self.fail_sql)

    @property
    def value(self) -> Column:
        return S.column(self.value_sql)

    @property
    def msg(self) -> Column:
        return S.column(self.msg_sql)

    @property
    def errors(self) -> Column | None:
        return None if self.errors_sql is None else S.column(self.errors_sql)


def json_domain(dt: T.DataType) -> str:
    """JSON type a Spark column dtype inhabits (SURVEY.md §1.4 mapping)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, INTEGRAL) or isinstance(dt, FRACTIONAL) or isinstance(dt, T.DecimalType):
        return "number"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "string"  # temporal columns validate as formatted strings
    if isinstance(dt, T.BinaryType):
        return "binary"  # engine extension; only required/x- keywords apply
    return "unknown"


def statically_integer(dt: T.DataType) -> bool:
    return isinstance(dt, INTEGRAL) or (isinstance(dt, T.DecimalType) and dt.scale == 0)


def _kernel_pattern_search_udf(pat: str):
    """Arrow-batched match of the kernel's own regex, for a ``pattern``
    keyword with no portable Java form (:class:`UnportablePattern`).
    Cold path for a handful of dialect-divergent patterns; NULLs pass
    through as False (the ``present`` gate owns null semantics, but the
    hoisted UDF must not crash)."""
    from pyspark.sql import functions as _F

    rx = kernel_regex(pat)

    @_F.pandas_udf("boolean")
    @on_load
    def fn(vals):
        import pandas as pd

        return pd.Series(
            [False if s is None else bool(rx.search(s)) for s in vals],
            dtype="boolean")

    return fn


def _as_decimal_mod_fail_udf(mo_dec: Decimal):
    """Arrow-batched twin of the kernel's ``as_decimal(v) % mo != 0`` for
    the pathological-multipleOf tier (≥16 significant digits or scale >18)
    — the only tier where no pure-Catalyst expression can reproduce the
    exact view of a double. NULL/non-finite inputs return True (the caller
    guards them out; hoisted evaluation must not crash)."""
    import math

    from pyspark.sql import functions as _F

    @_F.pandas_udf("boolean")
    @on_load
    def fn(vals):
        import pandas as pd

        from sparkschema.spec.jsonvalue import as_decimal

        import decimal as _dec

        out = []
        for x in vals:
            if x is None or math.isnan(x) or math.isinf(x):
                out.append(True)
            else:
                d = as_decimal(float(x))
                # widen the context like the kernel (interpreter
                # multipleOf): the default 28-digit precision cannot hold
                # e.g. 1e300 % 1e-19
                with _dec.localcontext() as ctx:
                    ctx.prec = max(28, abs(d.adjusted() - mo_dec.adjusted()) + 30)
                    out.append(d % mo_dec != 0)
        return pd.Series(out, dtype="boolean")

    return fn


def _udf_call(udf, x: Sql) -> Sql:
    """``udf(x)``: the UDF's Column over the Column of ``x``, bound into
    the text (:func:`sqltext.bind_python`)."""
    return S.bind_python(udf(S.column(x)))


def _as_text(path: str, build: Callable[[], Sql]) -> Sql:
    """``build()``, with a Python UDF on an array element or map value (a
    lambda variable of the text, which Spark does not let a Python UDF
    read) refused as a :class:`SpecError` at ``path``."""
    try:
        return build()
    except SqlTextError as err:
        from sparkschema.spec.parser import SpecError
        raise SpecError(path, f"{err}: a Python UDF cannot run on an array "
                              f"element or map value of a typed column "
                              f"(use the kernel path for this spec)") from None


def _double_cmp(col: Sql, v: Any, op: str) -> Sql:
    """Kernel-exact bound comparison for double/float columns.

    The kernel compares ``as_decimal(value) OP d`` (shortest repr < 2^53,
    exact binary above); a naive ``col OP lit(float(d))`` collapses d to
    its nearest double first and diverges whenever d falls between a
    double's two decimal views (fuzz-found r3: maximum
    123456789012345678901.5 vs the double 1.2345678901234568e20). Doubles
    are totally ordered by their decimal views, so the exact predicate
    compiles to a plain comparison against the DIRECTION-AWARE boundary
    double — the largest (le/lt) or smallest (ge/gt) double whose kernel
    view satisfies the bound. SQL text in
    (:mod:`sparkschema.compiler.sqltext`), SQL text out."""
    import math

    from sparkschema.spec.jsonvalue import as_decimal

    d = as_decimal(v)
    f = float(d)  # round-half-even; saturates to +-inf for huge d
    if not math.isinf(f):
        fe = as_decimal(f)  # the kernel's own view of that double
        if op == "le" and not fe <= d:
            f = math.nextafter(f, -math.inf)
        elif op == "lt" and not fe < d:
            f = math.nextafter(f, -math.inf)
        elif op == "ge" and not fe >= d:
            f = math.nextafter(f, math.inf)
        elif op == "gt" and not fe > d:
            f = math.nextafter(f, math.inf)
    lit = S.lit(f)
    # the boundary double is INCLUDED in the satisfying set by construction
    return (col <= lit) if op in ("le", "lt") else (col >= lit)


def _exact_cmp_nonfractional(col: Sql, dt: T.DataType, val: Any,
                             op: str) -> Sql:
    """Bound comparison for integral/decimal columns, exact for ANY bound.

    A bare ``col OP S.lit(d)`` is lossy twice over: a mixed-scale decimal
    comparison caps the common type at precision 38 and ROUNDS the wider
    side (a 37-digit bound compared as 1E+20 — fuzz-found r3), and a
    scale>18 bound against a long column rounds to 0. Quantizing the bound
    to the COLUMN's own scale with direction-aware rounding is exact: no
    column value lies strictly between the bound and its quantization."""
    import decimal as _dec

    from sparkschema.spec.jsonvalue import as_decimal

    d = as_decimal(val)
    s = dt.scale if isinstance(dt, T.DecimalType) else 0
    q = Decimal(1).scaleb(-s)
    with _dec.localcontext() as ctx:
        ctx.prec = 60
        dlo = d.quantize(q, rounding=_dec.ROUND_FLOOR)
        dhi = d.quantize(q, rounding=_dec.ROUND_CEILING)
    b = dlo if op in ("le", "lt") else dhi
    # a strict op stays strict only when the bound is representable at the
    # column's scale; otherwise the quantized comparison is non-strict
    # (col < 0.5 on an integer column ⟺ col <= 0)
    strict = op in ("lt", "gt") and dlo == dhi

    if isinstance(dt, T.DecimalType):
        int_digits = _dec_precision(b) - max(-b.as_tuple().exponent, 0)
        if int_digits > dt.precision - dt.scale:
            # the bound's magnitude exceeds every representable value
            return S.lit((b > 0) == (op in ("le", "lt")))
        lit = S.lit(b).cast(dt)  # b already has scale s from the quantize
    else:
        if not -2 ** 63 <= b < 2 ** 63:
            return S.lit((b > 0) == (op in ("le", "lt")))
        lit = S.lit(int(b))
    if op in ("le", "lt"):
        return (col < lit) if strict else (col <= lit)
    return (col > lit) if strict else (col >= lit)


def _dec_precision(d: Decimal) -> int:
    """Total decimal digits Spark needs to hold ``d`` as a DecimalType
    literal. NOT len(as_tuple().digits): ``Decimal('1E+40')`` has one
    stored digit but needs precision 41."""
    t = d.as_tuple()
    if t.exponent >= 0:
        return len(t.digits) + t.exponent
    return max(len(t.digits), -t.exponent)


def _num_eq_lit(col: Sql, dt: T.DataType, v: Any) -> Sql:
    """JSON-equality of a numeric column against a number literal without
    the two traps of a bare ``col == S.lit(...)``:

    - a >38-digit exact decimal (e.g. ``as_decimal(1e40)``) cannot be a
      DecimalType literal at all — S.lit throws at plan-build time;
    - comparing a DoubleType column to a wide decimal/long literal makes
      Catalyst cast the LITERAL to double, collapsing values ≥ 2⁵³ onto
      their neighbors (9007199254740993 would "equal" ...992.0) while the
      kernel's exact view says unequal.

    The dtype decides the representable set: a double column can only
    equal v if v is exactly a double; an integral column only if v is a
    whole int64; a decimal column only if v fits its precision."""
    from sparkschema.spec.jsonvalue import as_decimal
    d = as_decimal(v)
    if isinstance(dt, FRACTIONAL):
        # Representable = the kernel's json_equal view of the nearest double:
        # as_decimal uses shortest repr below 2^53 (0.1 stays "0.1", not its
        # 55-digit binary expansion) and the exact binary integer above. A
        # double x json-equals d iff x == float(d) AND float(d)'s decimal
        # view is d — Decimal(float(d)) here would wrongly reject every
        # non-dyadic literal (0.1, 3.14) and flag all rows.
        try:
            representable = as_decimal(float(d)) == d
        except (OverflowError, ValueError):
            representable = False
        return (col == S.lit(float(d))) if representable else S.lit(False)
    if isinstance(dt, INTEGRAL):
        if d == d.to_integral_value() and -2 ** 63 <= d < 2 ** 63:
            return col == S.lit(int(d))
        return S.lit(False)
    # DecimalType: a value of (p,s) can only equal a literal whose scale
    # and integer digits fit (p,s); compare at the COLUMN's exact type —
    # a mixed-scale decimal comparison caps at precision 38 and ROUNDS
    # (1.000000000000000001 == 1 came back true — fuzz-found r3)
    from sparkschema.spec.jsonvalue import normalize_exact
    nd = normalize_exact(d)
    nd_scale = max(-nd.as_tuple().exponent, 0)
    nd_int = _dec_precision(nd) - nd_scale
    if nd_scale > dt.scale or nd_int > dt.precision - dt.scale:
        return S.lit(False)
    return col == S.lit(nd).cast(dt)


# One regex alternative per legacy-BreakIterator cluster rule, ordered so
# the first match IS the longest match (each special alternative beats the
# generic base+marks rule by construction whenever it matches — see
# jsonvalue.grapheme_length for the probed grammar):
#   1. CRLF
#   2. Devanagari conjunct  cons nukta? virama zwj? cons nukta? vowel? end?
#   3. Devanagari           cons nukta? Mc-vowel end?      (ends in an Mc)
#   4. Devanagari           cons nukta? Mn-vowel? visarga  (ends in an Mc)
#   5. jamo run of >=2 classical jamo, class non-decreasing (L<=V<=T)
#   6. base + (Mn|Me)*      (base = not a mark/control/format/separator)
#   7. any single codepoint (controls, ZWJ, leading marks, ...)
_DC = "\\u0915-\\u0939\\u0958-\\u095F"      # Devanagari consonants
_DEV_E = "\\u0902\\u0903\\u0951-\\u0954"    # anusvara/visarga/stress marks
_GRAPHEME_CLUSTER_RE = (
    "\\r\\n"
    f"|[{_DC}]\\u093C?\\u094D\\u200D?[{_DC}]\\u093C?"
    f"[\\u093E-\\u094C]?[{_DEV_E}]?"
    f"|[{_DC}]\\u093C?[\\u093E-\\u0940\\u0949-\\u094C][{_DEV_E}]?"
    f"|[{_DC}]\\u093C?[\\u0941-\\u0948]?\\u0903"
    "|(?=[\\u1100-\\u11FF]{2})(?:"
    "[\\u1100-\\u115F]+[\\u1160-\\u11A7]*[\\u11A8-\\u11FF]*"
    "|[\\u1160-\\u11A7]+[\\u11A8-\\u11FF]*"
    "|[\\u11A8-\\u11FF]+)"
    "|[^\\p{Mn}\\p{Me}\\p{Cc}\\p{Cf}\\p{Zl}\\p{Zp}][\\p{Mn}\\p{Me}]*"
    "|[\\s\\S]"
)


def grapheme_length_sql(col: Sql) -> Sql:
    """String length in grapheme clusters — the Catalyst twin of
    jsonvalue.grapheme_length (reference counts BreakIterator clusters,
    StringValidators.scala:126-132; rules Java-probed + differentially
    fuzzed against BreakIterator on this JVM). Every cluster collapses
    to one char via one regexp_replace, so length() of the result is the
    cluster count. ASCII fast path: when codepoint count equals byte
    count and no CRLF is present, length() is already the cluster count
    (no regex runs — CASE branches evaluate lazily in codegen). SQL text
    in (:mod:`sparkschema.compiler.sqltext`), SQL text out."""
    clusters = S.regexp_replace(col, _GRAPHEME_CLUSTER_RE, "X")
    ascii_no_crlf = (S.length(col) == S.octet_length(col)) \
        & ~col.contains(S.lit("\r\n"))
    return S.when(ascii_no_crlf, S.length(col)).otherwise(S.length(clusters))


def json_eq_col(col: Sql, v: Any, dt: T.DataType) -> Sql:
    """Boolean SQL: value at ``col`` deep-equals JSON value ``v``.

    Structural recursion over the column dtype — never a string rendering,
    so struct field order, double formatting (``1.0`` vs ``1``) and omitted
    null fields cannot cause false mismatches (the to_json-vs-canonical_json
    trap). JSON semantics mirror jsonvalue.json_equal: numbers compare by
    value (``1.0 ≡ 1``), booleans never equal numbers, SQL NULL models JSON
    null/absent. May return SQL NULL when inner comparisons hit NULLs —
    callers coalesce."""
    if v is None:
        return col.isNull()
    if isinstance(dt, T.StructType):
        if not isinstance(v, dict):
            return S.lit(False)
        names = {f.name for f in dt.fields}
        if any(k not in names for k in v):
            return S.lit(False)  # key the dtype can't carry ⇒ never equal
        return S.all_of([col.isNotNull()] + [
            json_eq_col(col.field(f.name), v.get(f.name), f.dataType)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            return S.lit(False)
        return S.all_of([col.isNotNull(), S.size(col) == len(v)] + [
            json_eq_col(S.get(col, i), x, dt.elementType)
            for i, x in enumerate(v)])
    if isinstance(dt, T.MapType):
        if not isinstance(v, dict):
            return S.lit(False)
        conds = [col.isNotNull(), S.size(col) == len(v)]
        for k, x in v.items():
            el = S.try_element_at(col, S.lit(k))
            if x is None:
                # JSON null value: key must exist but map NULL ≡ absent in the
                # columnar model, so require the key and a NULL value.
                conds += [S.map_contains_key(col, S.lit(k)), el.isNull()]
            else:
                conds.append(json_eq_col(el, x, dt.valueType))
        return S.all_of(conds)
    # scalars
    domain = json_domain(dt)
    if domain == "number":
        if not is_number(v):
            return S.lit(False)
        return _num_eq_lit(col, dt, v)
    if domain == "boolean":
        return (col == S.lit(v)) if isinstance(v, bool) else S.lit(False)
    if domain == "string":
        if not isinstance(v, str):
            return S.lit(False)
        scol = col if isinstance(dt, T.StringType) else col.cast("string")
        return scol == S.lit(v)
    return S.lit(False)


def _render_template(key: str, args: list[Sql | str],
                     catalog: dict[str, str] | None = None) -> Sql:
    """Catalyst twin of messages.render: build the message as a concat of
    literal segments and value expressions so texts match the kernel's."""
    template = (catalog or msg_catalog.DEFAULT_MESSAGES).get(key, key)
    parts: list[Sql] = []
    rest = template
    for i, a in enumerate(args):
        ph = "{%d}" % i
        if ph not in rest:
            continue
        pre, rest = rest.split(ph, 1)
        if pre:
            parts.append(S.lit(pre.replace("''", "'")))
        parts.append(a if isinstance(a, Sql) else S.lit(str(a)))
    if rest:
        parts.append(S.lit(rest.replace("''", "'")))
    return S.concat(*parts) if parts else S.lit(template)


class ColumnCompiler:
    """Compile keyword records against one typed column.

    ``compile_checks`` yields violation-grade :class:`Check` rows;
    ``valid_sql`` yields a single boolean (used inside higher-order
    functions and combinators where per-keyword detail is not
    representable), and ``compile_valid`` its Column. The value to check
    is SQL text, or a Column that is bound into the text
    (:func:`sqltext.bind`).

    ``formats`` maps a format name to a Column builder, handed the Column
    of the value (:func:`sqltext.bind_over`)."""

    def __init__(self, dialect: str = "draft7",
                 formats: dict[str, Callable[[Column], Column]] | None = None,
                 catalog: dict[str, str] | None = None):
        self.dialect = dialect
        self.formats = formats or {}
        self.catalog = catalog

    # ------------------------------------------------------------------
    def compile_checks(self, schema: Any, col: Sql | Column, dt: T.DataType,
                       spath: str, ipath: str) -> list[Check]:
        """Per-keyword checks for a typed column. NULL ⇒ vacuous pass."""
        if isinstance(col, Column):
            col = S.bind(col)
        if schema is True or not isinstance(schema, (dict, bool)):
            return []
        if schema is False:
            return [self._chk("schema", spath, ipath, col.isNotNull(), col,
                              "err.false.schema")]

        # checks under a compile-time-inlined $ref report the TARGET's
        # schema path and carry the ref site as referrer (table.inline_refs
        # leaves these markers; ErrorReportingSpec.scala:48-66 parity)
        if "$__ref_site" in schema:
            site = schema["$__ref_site"]
            target = schema.get("$__ref_target")
            plain = {k: v for k, v in schema.items()
                     if k not in ("$__ref_site", "$__ref_target")}
            sub = self.compile_checks(plain, col, dt,
                                      target if target else spath, ipath)
            from dataclasses import replace as _replace
            return [_replace(c, referrer=c.referrer or site) for c in sub]

        checks: list[Check] = []
        domain = json_domain(dt)
        present = col.isNotNull()

        # ---- type ----------------------------------------------------
        t = schema.get("type")
        if t is not None:
            names = t if isinstance(t, list) else [t]
            fail = self._type_fail(names, col, dt)
            if fail is not None:
                checks.append(self._chk(
                    "type", f"{spath}/type", ipath, present & fail, col,
                    "err.expected.type", S.lit("|".join(names)), S.lit(domain)))

        # ---- enum / const ---------------------------------------------
        from sparkschema.spec.jsonvalue import dump_json
        enum = schema.get("enum")
        if isinstance(enum, list):
            fail = self._enum_fail(enum, col, dt)
            if fail is not None:
                checks.append(self._chk("enum", f"{spath}/enum", ipath,
                                        present & fail, col, "any.enum",
                                        errors=S.lit(dump_json({"enum": enum}))))
        if "const" in schema:
            fail = self._const_fail(schema["const"], col, dt)
            checks.append(self._chk("const", f"{spath}/const", ipath,
                                    present & fail, col, "any.const",
                                    errors=S.lit(dump_json({"const": schema["const"]}))))

        # ---- numeric ---------------------------------------------------
        if domain == "number":
            checks += self._number_checks(schema, col, dt, spath, ipath, present)

        # ---- string ----------------------------------------------------
        if domain == "string":
            scol = col.cast("string") if not isinstance(dt, T.StringType) else col
            checks += self._string_checks(schema, scol, spath, ipath, present)

        # ---- array -----------------------------------------------------
        if domain == "array" and isinstance(dt, T.ArrayType):
            checks += self._array_checks(schema, col, dt, spath, ipath, present)

        # ---- object (struct / map columns) ------------------------------
        if domain == "object":
            checks += self._object_checks(schema, col, dt, spath, ipath, present)

        # ---- combinators ----------------------------------------------
        checks += self._combinator_checks(schema, col, dt, spath, ipath, present)
        return checks

    # ------------------------------------------------------------------
    def valid_sql(self, schema: Any, col: Sql, dt: T.DataType) -> Sql:
        """Single boolean: value at ``col`` satisfies ``schema`` (NULL ⇒ true)."""
        checks = self.compile_checks(schema, col, dt, "#", "")
        if not checks:
            return S.lit(True)
        return S.all_of([S.lit(True)] + [~S.coalesce(c.fail_sql, S.lit(False))
                                         for c in checks])

    def compile_valid(self, schema: Any, col: Column, dt: T.DataType) -> Column:
        """The Column of :meth:`valid_sql` over the Column ``col``."""
        return S.over(col, lambda x: self.valid_sql(schema, x, dt))

    # ---- keyword families ---------------------------------------------

    def _type_fail(self, names: list[str], col: Sql, dt: T.DataType) -> Sql | None:
        """None ⇒ statically satisfied. Sql ⇒ runtime fail predicate."""
        domain = json_domain(dt)
        ok_static = False
        runtime_ok: Sql | None = None
        for n in names:
            if n == domain and n != "number":
                ok_static = True
            elif n == "number" and domain == "number":
                ok_static = True
            elif n == "integer" and domain == "number":
                if statically_integer(dt):
                    ok_static = True
                else:
                    if isinstance(dt, FRACTIONAL):
                        # every double >= 2^53 is whole; below that the
                        # floor compare is safe (floor(double) -> long
                        # SATURATES at Long.MaxValue past 2^63 and would
                        # declare 1e20 "not integer" — fuzz-found r3)
                        cond = S.when(S.abs(col) >= S.lit(float(2 ** 53)),
                                      S.lit(True)) \
                                .otherwise(col == S.floor(col))
                    else:
                        # decimal column: col == floor(col) is LOSSY (the
                        # mixed-scale comparison caps at precision 38 and
                        # rounds — 1.000000000000000001 compared equal to
                        # 1; fuzz-found r3). `col % 1` keeps the scale.
                        cond = col % 1 == 0
                    runtime_ok = cond if runtime_ok is None else (runtime_ok | cond)
            elif n == "null":
                # "null" contributes nothing: SQL NULL already passes
                # vacuously via the caller's `present` gate, and a PRESENT
                # value is never JSON null — setting ok_static here would
                # make a lone {"type":"null"} compile to no check at all
                # (every present value passing), diverging from the kernel
                # (internal/package.scala:105-110 fires err.expected.type).
                pass
        if ok_static:
            return None
        if runtime_ok is not None:
            return ~runtime_ok
        return S.lit(True)  # statically wrong type: every present value fails

    def _enum_fail(self, enum: list, col: Sql, dt: T.DataType) -> Sql | None:
        domain = json_domain(dt)
        # JSON equality: restrict literals to the column's own type domain
        if domain == "number":
            eqs = [_num_eq_lit(col, dt, v) for v in enum if is_number(v)]
            if not eqs:
                return col.isNotNull()
            return ~S.coalesce(S.any_of(eqs), S.lit(False))
        if domain == "string":
            lits = [v for v in enum if isinstance(v, str)]
        elif domain == "boolean":
            lits = [v for v in enum if isinstance(v, bool)]
        else:
            # complex columns: structural typed equality (never to_json —
            # field order / 1.0-vs-1 rendering would false-flag)
            eqs = [json_eq_col(col, v, dt) for v in enum]
            if not eqs:
                return col.isNotNull()
            return ~S.coalesce(S.any_of(eqs), S.lit(False))
        if not lits:
            return col.isNotNull()  # nothing of this type in the enum
        return ~col.isin(lits)

    def _const_fail(self, const: Any, col: Sql, dt: T.DataType) -> Sql:
        domain = json_domain(dt)
        if domain == "number" and is_number(const):
            return ~S.coalesce(_num_eq_lit(col, dt, const), S.lit(False))
        if domain == "string" and isinstance(const, str):
            return ~(col == S.lit(const))
        if domain == "boolean" and isinstance(const, bool):
            return ~(col == S.lit(const))
        if domain in ("array", "object"):
            return ~S.coalesce(json_eq_col(col, const, dt), S.lit(False))
        return col.isNotNull()  # type-mismatched const: every present value fails

    def _number_checks(self, schema, col, dt, spath, ipath, present) -> list[Check]:
        out: list[Check] = []
        vs = col.cast("string")

        def _cmp(val, op: str) -> Sql:
            if isinstance(dt, FRACTIONAL):
                return _double_cmp(col, val, op)
            return _exact_cmp_nonfractional(col, dt, val, op)

        mn = schema.get("minimum")
        if is_number(mn):
            excl = schema.get("exclusiveMinimum") is True
            fail = ~_cmp(mn, "gt" if excl else "ge")
            key = "num.min.exclusive" if excl else "num.min"
            out.append(self._chk("minimum", f"{spath}/minimum", ipath,
                                 present & fail, col, key, vs, S.lit(str(mn))))
        mx = schema.get("maximum")
        if is_number(mx):
            excl = schema.get("exclusiveMaximum") is True
            fail = ~_cmp(mx, "lt" if excl else "le")
            key = "num.max.exclusive" if excl else "num.max"
            out.append(self._chk("maximum", f"{spath}/maximum", ipath,
                                 present & fail, col, key, vs, S.lit(str(mx))))
        emn = schema.get("exclusiveMinimum")
        if is_number(emn):
            out.append(self._chk("exclusiveMinimum", f"{spath}/exclusiveMinimum",
                                 ipath, present & ~_cmp(emn, "gt"), col,
                                 "num.min.exclusive", vs, S.lit(str(emn))))
        emx = schema.get("exclusiveMaximum")
        if is_number(emx):
            out.append(self._chk("exclusiveMaximum", f"{spath}/exclusiveMaximum",
                                 ipath, present & ~_cmp(emx, "lt"), col,
                                 "num.max.exclusive", vs, S.lit(str(emx))))

        mo = schema.get("multipleOf")
        if is_number(mo):
            fail = _as_text(f"{spath}/multipleOf",
                            lambda: self._multiple_of_fail(col, dt, mo))
            out.append(self._chk("multipleOf", f"{spath}/multipleOf", ipath,
                                 present & fail, col, "num.multiple.of",
                                 vs, S.lit(str(mo))))

        fmt = schema.get("format")
        if isinstance(fmt, str) and fmt in ("int32", "int64"):
            if isinstance(dt, FRACTIONAL) and fmt not in (self.formats or {}):
                from sparkschema.compiler.formats_sql import int_format_double
                pred = int_format_double(col, fmt)
            else:
                pred = format_predicate(fmt, col, self.formats)
            out.append(self._chk("format", f"{spath}/format", ipath,
                                 present & ~pred,
                                 col, "str.format", vs, S.lit(fmt)))
        return out

    @staticmethod
    def _multiple_of_fail(col: Sql, dt: T.DataType, mo: Any) -> Sql:
        """Decimal-exact remainder (NumberValidators.scala:89-109) without the
        decimal(38,12) overflow window: values beyond the cast range used to
        go NULL and silently pass while the widening kernel flagged them.

        Tiers (all pure Catalyst):
        - integral col: native int % for whole ``mo``; exact decimal % for
          fractional ``mo`` (long ⤳ decimal(38, s) never overflows: 19 int
          digits + scale ≤ 18 fits precision 38);
        - decimal col: native decimal % — exact, no cast;
        - double/float col, binary-representable ``mo`` (0.5, 0.25, 3.0 …):
          IEEE fmod is exact for EVERY finite double (incl. 5e33 % 0.5) —
          no decimal cast at all;
        - double/float col, truly-decimal ``mo = M·10⁻ˢ``: two ranges.
          |v| < 2⁵³ via decimal(38, max(s,12)) with a round-trip guard (a
          value needing more fractional digits than the scale cannot be a
          multiple of a 10⁻ˢ-step ⇒ violation); |v| ≥ 2⁵³ (every such
          double is a whole number) via the EXACT BINARY value: IEEE fmod
          v mod M is exact because M < 2⁵³, and (v·10ˢ) mod M reduces as
          ((v mod M)·(10ˢ mod M)) mod M. The kernel takes the same
          exact-binary view at ≥ 2⁵³ (jsonvalue.as_decimal) — shortest
          repr is lossy as an integer there, and Java 17's Double.toString
          even disagrees with Python's repr in the last digit, so the
          binary integer is the only engine-independent definition.
        Pathological mo (scale > 18 or ≥ 16 significant digits) has no
        Catalyst-expressible exact view of a ≥2⁵³ double; that one tier
        drops to an Arrow-batched kernel twin (compile-time scoped: only
        specs carrying such an mo pay it).

        The VARIANT compiler calls this too; the Arrow tiers cannot run in
        its lambdas, so it rules their mo out before calling."""
        from sparkschema.spec.jsonvalue import as_decimal, normalize_exact
        mo_dec = normalize_exact(as_decimal(mo))
        if mo_dec == 0:
            # kernel parity: nothing is a multiple of 0 (interpreter
            # treats dmo==0 as rem_nonzero) — and `col % 0` would be a
            # silent pass-all pre-ANSI / a DIVIDE_BY_ZERO job abort under
            # ANSI (review find r4)
            return col.isNotNull()
        is_whole_mo = mo_dec == mo_dec.to_integral_value()
        s = max(-mo_dec.as_tuple().exponent, 0)

        if _dec_precision(mo_dec) > 38:
            # mo's exact form cannot be a DecimalType literal (e.g. the
            # 41-digit binary integer of the double 1e40).
            int_digits = _dec_precision(mo_dec) - s
            if int_digits > 38 and (statically_integer(dt)
                                    or isinstance(dt, T.DecimalType)):
                # |mo| >= 10^38 exceeds every exactly-stored value: the
                # only multiple is 0 (exact, no cast)
                return col != 0
            try:
                binary_mo_w = Decimal(float(mo_dec)) == mo_dec
            except (OverflowError, ValueError):
                binary_mo_w = False
            dblw = col.cast("double")
            nonf = dblw.isNaN() | (S.abs(dblw) == S.lit(float("inf")))
            if binary_mo_w:
                # IEEE fmod exact for binary-representable mo
                return S.when(nonf, S.lit(True)).otherwise(
                    S.coalesce((dblw % S.lit(float(mo_dec))) != 0,
                               S.lit(True)))
            # a DECIMAL-literal mo wider than 38 digits that is NOT a
            # double (e.g. 1E+40): the old fmod against its neighboring
            # double silently passed values the kernel flags (review
            # find r4) — take the kernel's own exact view per row
            return S.when(nonf, S.lit(True)).otherwise(
                S.coalesce(_udf_call(_as_decimal_mod_fail_udf(mo_dec), dblw),
                           S.lit(True)))

        if statically_integer(dt):
            if is_whole_mo:
                if not -2 ** 63 <= mo_dec < 2 ** 63:
                    # mo exceeds int64: the only int64 multiple is 0
                    return col != 0
                return (col % S.lit(int(mo_dec))) != 0
            scale = min(s, 18)
            return (col.cast(f"decimal(38,{scale})") % S.lit(mo_dec)) != 0
        if isinstance(dt, T.DecimalType):
            return (col % S.lit(mo_dec)) != 0

        # double / float columns
        dbl = col.cast("double")
        binary_mo = Decimal(float(mo_dec)) == mo_dec

        if binary_mo:
            # IEEE fmod is exact for EVERY finite double and every
            # binary-representable mo (incl. huge ones like 1e20): below
            # 2^53 its verdict provably equals the kernel's shortest-repr
            # view, above it the exact-binary view — one expression, no
            # range split, no UDF tier.
            nonfinite_ = dbl.isNaN() | (S.abs(dbl) == S.lit(float("inf")))
            return S.when(nonfinite_, S.lit(True)) \
                    .otherwise((col % S.lit(float(mo_dec))) != 0)

        if s > 18:
            # the round-trip guard below is only valid when the cast
            # scale (capped at 18) is >= scale(mo): with s > 18 a true
            # multiple like 1e-19 rounds to 0 at scale 18 and was flagged
            # (review find r4, the columnar twin of the variant-path
            # binary-mo fix) — every value takes the kernel-exact view
            nonfinite_s = dbl.isNaN() | (S.abs(dbl) == S.lit(float("inf")))
            return S.when(nonfinite_s, S.lit(True)).otherwise(
                S.coalesce(_udf_call(_as_decimal_mod_fail_udf(mo_dec), dbl),
                           S.lit(True)))

        scale = min(max(s, 12), 18)
        dcol = col.cast(f"decimal(38,{scale})")
        roundtrips = dcol.isNotNull() & (dcol.cast("double") == dbl)
        base_fail = S.when(roundtrips, (dcol % S.lit(mo_dec)) != 0) \
                     .otherwise(S.lit(True))

        import decimal as _dec
        M = int(mo_dec.scaleb(s, _dec.Context(prec=60)))  # scaleb rounds at
        if 1 <= M <= 2 ** 53 and s <= 18:                 # ambient prec 28
            # |v| ≥ 2^53: the exact-binary view. v mod M via IEEE fmod is
            # exact (both operands exactly representable); then
            # (v·10^s) mod M = ((v mod M)·(10^s mod M)) mod M, with the
            # product done in decimal because it can exceed 2^53.
            t = pow(10, s, M)
            vm = S.pmod(dbl, S.lit(float(M))).cast("decimal(20,0)")
            big_fail = S.pmod(vm * S.lit(t), S.lit(M)) != 0
        else:
            # pathological mo (≥16 significant digits or scale >18, e.g.
            # multipleOf 10^26): no Catalyst-expressible view of the
            # double's EXACT binary integer exists (the decimal cast goes
            # through shortest repr, which made 1e26 a "multiple" of 10^26
            # while the kernel's exact 1000...376832 is not — fuzz-found
            # r3). The one exact route is the kernel's own view per row:
            # an Arrow-batched UDF confined to this compile-time tier
            # (specs with such an mo are the only payers).
            big_fail = _udf_call(_as_decimal_mod_fail_udf(mo_dec), dbl)
        # NaN/±Inf are not JSON numbers (the kernel never sees them); on a
        # double column they are never a multiple of anything — and they
        # must not reach the decimal casts, which throw under ANSI mode
        nonfinite = dbl.isNaN() | (S.abs(dbl) == S.lit(float("inf")))
        return (S.when(nonfinite, S.lit(True))
                 .when(S.abs(dbl) >= S.lit(float(2 ** 53)), big_fail)
                 .otherwise(base_fail))

    def _string_checks(self, schema, col, spath, ipath, present) -> list[Check]:
        out: list[Check] = []
        mn = schema.get("minLength")
        if isinstance(mn, int) and not isinstance(mn, bool):
            out.append(self._chk("minLength", f"{spath}/minLength", ipath,
                                 present & (grapheme_length_sql(col) < mn), col,
                                 "str.min.length", col, S.lit(str(mn))))
        mx = schema.get("maxLength")
        if isinstance(mx, int) and not isinstance(mx, bool):
            out.append(self._chk("maxLength", f"{spath}/maxLength", ipath,
                                 present & (grapheme_length_sql(col) > mx), col,
                                 "str.max.length", col, S.lit(str(mx))))
        pat = schema.get("pattern")
        if isinstance(pat, str):
            # rlike = unanchored find, same as the reference's matcher.search(0);
            # an uncompilable pattern fails every string like the kernel,
            # and one without a portable Java form runs the kernel's regex
            msg = ("str.pattern", col, S.lit(pat))
            try:
                jpat = java_regex(pat)
                if jpat is None:
                    matches = S.lit(False)
                    msg = ("str.invalid.pattern", S.lit(pat))
                else:
                    matches = col.rlike(jpat)
            except UnportablePattern:
                matches = _as_text(f"{spath}/pattern", lambda: _udf_call(
                    _kernel_pattern_search_udf(pat), col))
            out.append(self._chk("pattern", f"{spath}/pattern", ipath,
                                 present & ~matches, col, *msg))
        fmt = schema.get("format")
        if isinstance(fmt, str) and fmt not in ("int32", "int64"):
            pred = format_predicate(fmt, col, self.formats)
            out.append(self._chk("format", f"{spath}/format", ipath,
                                 present & ~pred, col, "str.format",
                                 col, S.lit(fmt)))
        return out

    def _array_checks(self, schema, col, dt: T.ArrayType, spath, ipath, present) -> list[Check]:
        out: list[Check] = []
        mn = schema.get("minItems")
        if isinstance(mn, int) and not isinstance(mn, bool):
            out.append(self._chk("minItems", f"{spath}/minItems", ipath,
                                 present & (S.size(col) < mn), S.size(col),
                                 "arr.min", S.size(col).cast("string"), S.lit(str(mn))))
        mx = schema.get("maxItems")
        if isinstance(mx, int) and not isinstance(mx, bool):
            out.append(self._chk("maxItems", f"{spath}/maxItems", ipath,
                                 present & (S.size(col) > mx), S.size(col),
                                 "arr.max", S.size(col).cast("string"), S.lit(str(mx))))
        if schema.get("uniqueItems") is True:
            out.append(self._chk("uniqueItems", f"{spath}/uniqueItems", ipath,
                                 present & (S.size(S.array_distinct(col)) != S.size(col)),
                                 col, "arr.dups"))
        items = schema.get("items")
        if isinstance(items, (dict, bool)) and items is not True:
            elem_valid = lambda x: self.valid_sql(items, x, dt.elementType)  # noqa: E731
            out.append(self._chk("items", f"{spath}/items", ipath,
                                 present & ~S.forall(col, elem_valid), col,
                                 "comp.no.schema"))
        elif isinstance(items, list):
            for i, sub in enumerate(items):
                el = S.get(col, i)  # null-safe under ANSI mode (0-based)
                fail = (S.size(col) > i) & ~self.valid_sql(sub, el, dt.elementType)
                out.append(self._chk("items", f"{spath}/items/{i}", f"{ipath}/{i}",
                                     present & fail, el, "comp.no.schema"))
            add = schema.get("additionalItems")
            if add is False:
                out.append(self._chk("additionalItems", f"{spath}/additionalItems",
                                     ipath, present & (S.size(col) > len(items)),
                                     S.size(col), "arr.max",
                                     S.size(col).cast("string"), S.lit(str(len(items)))))
            elif isinstance(add, dict):
                tail = S.slice(col, len(items) + 1, 2147483647 - len(items) - 1)
                tail_ok = S.forall(tail, lambda x: self.valid_sql(add, x, dt.elementType))
                out.append(self._chk("additionalItems", f"{spath}/additionalItems",
                                     ipath, present & (S.size(col) > len(items)) & ~tail_ok,
                                     col, "comp.no.schema"))
        if "contains" in schema:
            pred = lambda x: self.valid_sql(schema["contains"], x, dt.elementType)  # noqa: E731
            out.append(self._chk("contains", f"{spath}/contains", ipath,
                                 present & ~S.exists(col, pred), col, "err.contains"))
        return out

    def _object_checks(self, schema, col, dt, spath, ipath, present) -> list[Check]:
        """Object keywords on StructType / MapType(string, V) columns
        (SURVEY.md §2.2 object table): properties/required recurse into
        fields; map columns get propertyNames / patternProperties /
        additionalProperties / min-maxProperties via map HOFs."""
        out: list[Check] = []
        props = schema.get("properties")
        req = schema.get("required")

        if isinstance(dt, T.StructType):
            fields = {f.name: f.dataType for f in dt.fields}
            if isinstance(props, dict):
                for k, sub in props.items():
                    if k in fields:
                        out += self.compile_checks(sub, col.field(k), fields[k],
                                                   f"{spath}/properties/{k}",
                                                   f"{ipath}/{k}")
            if isinstance(req, list):
                for k in req:
                    # a struct field that's NULL models the absent property;
                    # a field missing from the dtype is statically absent
                    fail = col.field(k).isNull() if k in fields else S.lit(True)
                    out.append(self._chk("required", f"{spath}/required",
                                         f"{ipath}/{k}", present & fail,
                                         S.lit("null"), "obj.required.prop",
                                         S.lit(k)))

            # the remaining object keywords are statically expressible over
            # a struct's FIXED field set (NULL field = absent property):
            # key-dependent decisions evaluate at compile time against the
            # literal field names, value checks recurse per matching field
            names = list(fields)

            def present_count() -> Sql:
                return S.sum_of([S.lit(0)] + [
                    col.field(k).isNotNull().cast("int") for k in names])

            mnp = schema.get("minProperties")
            if isinstance(mnp, int) and not isinstance(mnp, bool):
                out.append(self._chk("minProperties", f"{spath}/minProperties",
                                     ipath, present & (present_count() < mnp),
                                     present_count().cast("string"),
                                     "obj.min.props",
                                     present_count().cast("string"),
                                     S.lit(str(mnp))))
            mxp = schema.get("maxProperties")
            if isinstance(mxp, int) and not isinstance(mxp, bool):
                out.append(self._chk("maxProperties", f"{spath}/maxProperties",
                                     ipath, present & (present_count() > mxp),
                                     present_count().cast("string"),
                                     "obj.max.props",
                                     present_count().cast("string"),
                                     S.lit(str(mxp))))

            pn = schema.get("propertyNames")
            if pn is not None and not (pn is True):
                # compile the NAME schema against each literal field name:
                # the checks are constants gated on field presence, and the
                # violations carry the INNER keywords exactly like the
                # kernel/reference recursion (attribution-fuzz find r3b:
                # a coarse "propertyNames" umbrella diverged from the
                # kernel's "maxLength")
                import dataclasses
                for k in names:
                    for chk in self.compile_checks(
                            pn, S.lit(k), T.StringType(),
                            f"{spath}/propertyNames", f"{ipath}/{k}"):
                        out.append(dataclasses.replace(
                            chk, fail_sql=present & col.field(k).isNotNull()
                            & chk.fail_sql))

            patprops = schema.get("patternProperties")
            rxs = []
            if isinstance(patprops, dict):
                for pat, sub in patprops.items():
                    rx = kernel_regex(pat)
                    if rx is None:
                        continue
                    rxs.append(rx)
                    for k in names:
                        if rx.search(k):
                            el = col.field(k)
                            out += self.compile_checks(
                                sub, el, fields[k],
                                f"{spath}/patternProperties/{pat}",
                                f"{ipath}/{k}")

            ap = schema.get("additionalProperties")
            if ap is not None and ap is not True:
                declared = set(props.keys()) if isinstance(props, dict) else set()
                extras = [k for k in names
                          if k not in declared
                          and not any(r.search(k) for r in rxs)]
                if ap is False:
                    for k in extras:
                        out.append(self._chk(
                            "additionalProperties",
                            f"{spath}/additionalProperties", ipath,
                            present & col.field(k).isNotNull(), S.lit(k),
                            "obj.additional.props", S.lit(k)))
                elif isinstance(ap, dict):
                    for k in extras:
                        out += self.compile_checks(
                            ap, col.field(k), fields[k],
                            f"{spath}/additionalProperties", f"{ipath}/{k}")

            deps = schema.get("dependencies")
            if isinstance(deps, dict):
                for a, dep in deps.items():
                    if a not in fields:
                        continue
                    if isinstance(dep, str):  # draft-4 single-string form
                        dep = [dep]
                    if isinstance(dep, list):
                        for b in dep:
                            missing = col.field(b).isNull() if b in fields \
                                else S.lit(True)
                            out.append(self._chk(
                                "dependencies", f"{spath}/dependencies",
                                f"{ipath}/{a}",
                                present & col.field(a).isNotNull() & missing,
                                S.lit(a), "obj.missing.prop.dep", S.lit(b)))
                    elif isinstance(dep, (dict, bool)):
                        # schema form recurses so violations carry the
                        # INNER keywords like the kernel/reference
                        # (attribution-fuzz find r3b)
                        import dataclasses
                        for chk in self.compile_checks(
                                dep, col, dt,
                                f"{spath}/dependencies/{a}", ipath):
                            out.append(dataclasses.replace(
                                chk,
                                fail_sql=present & col.field(a).isNotNull()
                                & S.coalesce(chk.fail_sql, S.lit(False))))
            return out

        if not isinstance(dt, T.MapType):
            return out
        vt = dt.valueType
        keys = S.map_keys(col)
        matched_keys: list[Sql] = []

        if isinstance(props, dict):
            for k, sub in props.items():
                el = S.when(S.array_contains(keys, k),
                            S.try_element_at(col, S.lit(k)))
                out += self.compile_checks(sub, el, vt,
                                           f"{spath}/properties/{k}",
                                           f"{ipath}/{k}")
        if isinstance(req, list):
            for k in req:
                out.append(self._chk("required", f"{spath}/required",
                                     f"{ipath}/{k}",
                                     present & ~S.array_contains(keys, k),
                                     S.lit("null"), "obj.required.prop",
                                     S.lit(k)))

        # key patterns in their Java form, skipping those the kernel skips;
        # HOF lambdas cannot run the kernel's regex, so a pattern with no
        # portable Java form refuses the spec at compile time
        patprops = schema.get("patternProperties")
        jpats: dict[str, str] = {}
        for pat in (patprops if isinstance(patprops, dict) else ()):
            try:
                jp = java_regex(pat)
            except UnportablePattern:
                from sparkschema.spec.parser import SpecError
                raise SpecError("#/patternProperties",
                                f"pattern {pat!r}: Java form does not "
                                f"compile; not supported on typed columns "
                                f"(use the kernel path for this spec)") from None
            if jp is not None:
                jpats[pat] = jp
        if jpats:
            import dataclasses
            for pat, jp in jpats.items():
                sub = patprops[pat]
                vals = S.map_values(
                    S.map_filter(col, lambda k, v: k.rlike(jp)))
                # one check per INNER keyword of the subschema — kernel/
                # reference attribution (a key's value failing "minimum"
                # reports "minimum", not a patternProperties umbrella):
                # the template provides keyword/path/msg; fail rebinds the
                # inner check per entry inside exists
                template = self.compile_checks(
                    sub, S.lit(None).cast(vt), vt,
                    f"{spath}/patternProperties/{pat}", ipath)

                def _fires(i, sub=sub):
                    return lambda x: S.coalesce(
                        self.compile_checks(sub, x, vt, "", "")[i].fail_sql,
                        S.lit(False))

                for i, tpl in enumerate(template):
                    out.append(dataclasses.replace(
                        tpl, fail_sql=present & S.exists(vals, _fires(i)),
                        value_sql=col.cast("string")))

        add = schema.get("additionalProperties")
        if add is not None and add is not True:
            declared = list(props.keys()) if isinstance(props, dict) else []

            def is_extra(k: Sql) -> Sql:
                cond = ~k.isin(declared) if declared else S.lit(True)
                for jp in jpats.values():
                    cond = cond & ~k.rlike(jp)
                return cond

            extras = S.filter(keys, is_extra)
            if add is False:
                out.append(self._chk("additionalProperties",
                                     f"{spath}/additionalProperties", ipath,
                                     present & (S.size(extras) > 0),
                                     S.array_join(S.array_sort(extras), ", "),
                                     "obj.additional.props",
                                     S.array_join(S.array_sort(extras), ", ")))
            elif isinstance(add, dict):
                import dataclasses
                template = self.compile_checks(
                    add, S.lit(None).cast(vt), vt,
                    f"{spath}/additionalProperties", ipath)

                def _ap_fires(i, add=add):
                    return lambda k: S.coalesce(
                        self.compile_checks(
                            add, S.try_element_at(col, k), vt, "", "")[i].fail_sql,
                        S.lit(False))

                for i, tpl in enumerate(template):
                    out.append(dataclasses.replace(
                        tpl, fail_sql=present & S.exists(extras, _ap_fires(i)),
                        value_sql=col.cast("string")))

        mn = schema.get("minProperties")
        if isinstance(mn, int) and not isinstance(mn, bool):
            out.append(self._chk("minProperties", f"{spath}/minProperties",
                                 ipath, present & (S.size(keys) < mn),
                                 S.size(keys).cast("string"), "obj.min.props",
                                 S.size(keys).cast("string"), S.lit(str(mn))))
        mx = schema.get("maxProperties")
        if isinstance(mx, int) and not isinstance(mx, bool):
            out.append(self._chk("maxProperties", f"{spath}/maxProperties",
                                 ipath, present & (S.size(keys) > mx),
                                 S.size(keys).cast("string"), "obj.max.props",
                                 S.size(keys).cast("string"), S.lit(str(mx))))

        pn = schema.get("propertyNames")
        if pn is not None and pn is not True:
            # inner-keyword attribution like the kernel recursion (a key
            # failing the name-schema's pattern reports "pattern")
            import dataclasses
            template = self.compile_checks(
                pn, S.lit(None).cast("string"), T.StringType(),
                f"{spath}/propertyNames", ipath)

            def _pn_fires(i, pn=pn):
                return lambda k: S.coalesce(
                    self.compile_checks(pn, k, T.StringType(),
                                        "", "")[i].fail_sql, S.lit(False))

            for i, tpl in enumerate(template):
                out.append(dataclasses.replace(
                    tpl, fail_sql=present & S.exists(keys, _pn_fires(i)),
                    value_sql=col.cast("string")))

        deps = schema.get("dependencies")
        if isinstance(deps, dict):
            for a, dep in deps.items():
                if isinstance(dep, str):  # draft-4 single-string form
                    dep = [dep]           # (interpreter.py:423-426)
                if isinstance(dep, list):
                    for b in dep:
                        out.append(self._chk(
                            "dependencies", f"{spath}/dependencies",
                            f"{ipath}/{a}",
                            present & S.array_contains(keys, a)
                            & ~S.array_contains(keys, b),
                            S.lit(a), "obj.missing.prop.dep", S.lit(b)))
                elif isinstance(dep, (dict, bool)) and dep is not True:
                    # schema form: presence of a requires the whole object
                    # to satisfy dep (was silently skipped on map columns
                    # — fresh-seed fuzz find r3b)
                    dep_ok = self.valid_sql(dep, col, dt)
                    out.append(self._chk(
                        "dependencies", f"{spath}/dependencies/{a}",
                        f"{ipath}/{a}",
                        present & S.array_contains(keys, a)
                        & ~S.coalesce(dep_ok, S.lit(False)),
                        col.cast("string"), "comp.no.schema"))
        return out

    def _combinator_checks(self, schema, col, dt, spath, ipath, present) -> list[Check]:
        out: list[Check] = []
        sub_valid = lambda s: self.valid_sql(s, col, dt)  # noqa: E731

        allof = schema.get("allOf")
        if isinstance(allof, list) and allof:
            v = S.all_of([sub_valid(s) for s in allof])
            out.append(self._chk("allOf", f"{spath}/allOf", ipath,
                                 present & ~v, col, "any.all"))
        anyof = schema.get("anyOf")
        if isinstance(anyof, list) and anyof:
            # Catalyst OR short-circuits in codegen
            v = S.any_of([sub_valid(s) for s in anyof])
            out.append(self._chk("anyOf", f"{spath}/anyOf", ipath,
                                 present & ~v, col, "any.any"))
        oneof = schema.get("oneOf")
        if isinstance(oneof, list) and oneof:
            valids = [sub_valid(s) for s in oneof]
            cnt = S.sum_of([v.cast("int") for v in valids])
            # matched-branch paths, reported like the kernel / the
            # reference's any.one.of.many (AnyConstraintValidators:170-186)
            matched = S.array_compact(S.array(*[
                S.when(v, S.lit(f"/oneOf/{i}")) for i, v in enumerate(valids)]))
            err = S.when(cnt > 1, S.to_json(S.struct(matched.alias("matched"))))
            # >1 match renders any.one.of.many, 0 matches any.one.of.none —
            # kernel parity (interpreter oneOf branch; reference
            # AnyConstraintValidators.scala:170-186)
            msg = S.when(cnt > 1,
                         _render_template("any.one.of.many", [], self.catalog)) \
                   .otherwise(_render_template("any.one.of.none", [], self.catalog))
            out.append(self._chk("oneOf", f"{spath}/oneOf", ipath,
                                 present & (cnt != 1), col,
                                 msg, errors=err))
        if "not" in schema:
            out.append(self._chk("not", f"{spath}/not", ipath,
                                 present & sub_valid(schema["not"]), col, "any.not"))
        if "if" in schema:
            # Reference reporting (AnyConstraintValidators.scala:14-67): one
            # violation whose keyword is "else" whenever an else branch
            # exists, "then" only when else is absent; schemaPath is the
            # CONTAINING schema's path, not #/then / #/else.
            cond = S.coalesce(sub_valid(schema["if"]), S.lit(False))
            fail = S.lit(False)
            if "then" in schema:
                fail = fail | (cond & ~sub_valid(schema["then"]))
            if "else" in schema:
                fail = fail | (~cond & ~sub_valid(schema["else"]))
            if "then" in schema or "else" in schema:
                keyword = "else" if "else" in schema else "then"
                out.append(self._chk(keyword, spath or "#", ipath,
                                     present & fail, col, "err.if.then.else"))
        return out

    # ---- helpers --------------------------------------------------------

    def _chk(self, keyword: str, spath: str, ipath: str, fail: Sql,
             value: Sql, msg_key: str | Sql, *msg_args: Sql,
             errors: Sql | None = None) -> Check:
        # msg_key may be a pre-built Sql for row-dependent messages
        # (oneOf none-vs-many)
        return Check(
            keyword=keyword,
            schema_path=spath,
            instance_path=ipath or "/",
            fail_sql=S.coalesce(fail, S.lit(False)),
            value_sql=S.coalesce(value.cast("string"), S.lit("null")),
            msg_sql=(_render_template(msg_key, list(msg_args), self.catalog)
                     if isinstance(msg_key, str) else msg_key),
            errors_sql=errors,
        )
