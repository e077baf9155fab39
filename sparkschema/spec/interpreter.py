"""Row-level JSON Schema keyword semantics kernel (draft-4 / draft-7).

This is the engine's *semantic ground truth* for dynamic JSON values. It is
pure Python and executor-safe; Spark never calls it row-at-a-time — the
batch entry point is :func:`sparkschema.compiler.jsoncol.validate_json_column`,
which wraps :func:`validate` in an Arrow-batched pandas UDF.

Semantics follow the reference validator observable behavior (SURVEY.md §2.2,
§3), verified against its own JSON-Schema-Test-Suite fixtures:

- keywords are Option-gated: absent keyword ⇒ vacuous pass;
- keywords only constrain their own JSON type (``minLength`` on a number
  passes — StringValidators.scala:48,68,90);
- violations **accumulate** across keywords/properties (Results.merge,
  internal/Results.scala:11-18); only ``anyOf`` short-circuits internally
  (untilFirstSuccess, AnyConstraintValidators.scala:116-126);
- numbers compare as exact decimals (BigDecimal parity);
- draft-4 models exclusivity as a boolean flag on ``minimum``/``maximum``;
  draft-7 as standalone numeric keywords — both encodings are accepted
  (SchemaReads4.scala:225-234 vs SchemaReads7.scala:252-261);
- ``$ref`` presence short-circuits sibling keywords; resolution is
  depth-capped (err.max.depth).

Known, documented deviations (SURVEY.md §7 watch list):
- ``minLength``/``maxLength`` count grapheme clusters via an ICU-free
  rule matching the reference's BreakIterator
  (StringValidators.scala:126-132) on every Java-probed case: fold
  non-leading combining marks (Mn/Me/Mc), CRLF is one cluster, ZWJ does
  NOT glue (legacy clusters: emoji families/flags count per codepoint —
  Java-verified), and decomposed conjoining Hangul jamo runs collapse
  per the class-monotone rule (jsonvalue.grapheme_length:155-173,
  live-JVM differential-tested). Residual: only the Unicode-version
  delta between this Python's tables and the JVM's ICU data, embedded
  in spec/_unicode_delta.py with a live-JVM drift test. The
  columnar and VARIANT paths use the same fold in SQL
  (compiler.columns.grapheme_length_sql).
- ``pattern`` evaluates with Python ``re`` (unanchored ``search``) after a
  compile-time ECMA-262 dialect translation
  (:mod:`sparkschema.spec.ecma_pattern`: ASCII ``\\d``/``\\w``, ECMA ``\\s``
  set, ``\\cX`` control escapes, end-anchor ``$`` → ``\\Z``, ``[]``/``[^]``
  classes); remaining divergences are surfaced as warnings — see the
  dialect table in that module. The columnar/VARIANT paths apply the same
  translation targeting Java ``rlike``.
"""

from __future__ import annotations

import re
from typing import Any, Callable, NamedTuple

from sparkschema.spec import messages as msg
from sparkschema.spec.ecma_pattern import kernel_regex
from sparkschema.spec.formats import DEFAULT_FORMATS
from sparkschema.spec.jsonvalue import (
    as_decimal,
    canonical,
    dump_json,
    enter_deep_recursion,
    is_number,
    json_equal,
    json_type,
    leave_deep_recursion,
    matches_type,
)
from sparkschema.spec.refs import MAX_DEPTH, RefError, RefResolver, Scope

# _validate levels (about three Python frames each) after which a
# validation raises the recursion limit for the rest of its run
_DEEP_FRAMES = 100


class Violation(NamedTuple):
    """One violation row — the reference's error-object contract
    (internal/SchemaUtil.scala:28-39 createErrorObject;
    Results.scala:42-43 for resolutionScope/referrer).

    ``errors`` is the reference's nested additional-info object rendered as
    compact JSON: per-branch sub-failures for allOf/anyOf/oneOf keyed
    ``/allOf/{i}`` (AnyConstraintValidators.scala collectFailures), the
    matched-paths list for oneOf-many, the allowed values for enum/const.
    Empty string = no additional info (keeps the Spark column non-null)."""

    keyword: str
    schema_path: str
    instance_path: str
    value: str  # offending value rendered as compact JSON
    msg: str
    errors: str = ""
    resolution_scope: str = ""
    referrer: str = ""


class Validator:
    """Compiled-once, reusable validator over a resolved spec registry."""

    def __init__(
        self,
        resolver: RefResolver | None = None,
        formats: dict[str, Callable[[Any], bool]] | None = None,
        catalog: dict[str, str] | None = None,
    ):
        self.resolver = resolver
        self.formats = dict(DEFAULT_FORMATS)
        if formats:
            self.formats.update(formats)
        self.catalog = catalog
        self._pattern_cache: dict[str, re.Pattern | None] = {}
        self._struct_depth = 0
        self._frames = 0
        # whether this validation raised the recursion limit (see _validate)
        self._deep = False

    # -- public ------------------------------------------------------------

    def validate(self, schema: Any, value: Any, scope: Scope | None = None) -> list[Violation]:
        """Validate one JSON value; return accumulated violations ([] = valid)."""
        if scope is None:
            scope = Scope(schema, "")
        try:
            return self._validate(schema, value, scope, "#", "", 0)
        finally:
            if self._deep:
                self._deep = False
                leave_deep_recursion()

    def is_valid(self, schema: Any, value: Any, scope: Scope | None = None) -> bool:
        return not self.validate(schema, value, scope)

    # -- core dispatch -------------------------------------------------------

    def _validate(self, schema: Any, value: Any, scope: Scope,
                  spath: str, ipath: str, depth: int) -> list[Violation]:
        # Structural-nesting guard, SEPARATE from the ref-hop `depth`
        # budget below: a hostile ref-free schema nested past Python's
        # recursion limit previously died with an uncaught RecursionError
        # (ADVICE r4). 200 levels is far above any real spec (the ref-hop
        # parity bound is 100) and keeps every helper frame inside the
        # interpreter's stack budget. parser.STRUCT_MAX_NESTING guards the
        # parse walk the same way.
        self._struct_depth += 1
        self._frames += 1
        if self._frames == _DEEP_FRAMES and not self._deep:
            # headroom for the total-frame budget below (~3 Python frames
            # per level plus the caller's stack), held until validate()
            # returns: only a deep validation changes the process limit
            enter_deep_recursion()
            self._deep = True
        try:
            if self._struct_depth > 200:
                from sparkschema.spec.parser import SpecError
                raise SpecError(spath, "schema nesting exceeds 200 levels")
            # TOTAL recursion budget, on top of the per-hop bound: the
            # per-hop counter resets at every $ref hop, so a chain of
            # near-200-deep documents linked by refs could otherwise
            # stack 200 × MAX_DEPTH real frames and die with an uncaught
            # RecursionError (review find r5). Exceeding the total budget
            # requires many ref hops by construction (ref-free descent is
            # capped at 200 above), so it reports as the same graceful
            # err.max.depth violation the ref-hop budget uses — a row
            # verdict, never a job-killing exception inside a kernel UDF.
            if self._frames > 2500:
                return [self._v("$ref", spath, ipath, value,
                                "err.max.depth")]
            return self._validate_inner(schema, value, scope, spath, ipath,
                                        depth)
        finally:
            self._struct_depth -= 1
            self._frames -= 1

    def _validate_inner(self, schema: Any, value: Any, scope: Scope,
                        spath: str, ipath: str, depth: int) -> list[Violation]:
        # boolean schemas (draft-7; package.scala:61-69)
        if schema is True:
            return []
        if schema is False:
            return [self._v("schema", spath, ipath, value, "err.false.schema")]
        if not isinstance(schema, dict):
            return []

        # depth counts $REF HOPS only (incremented on the $ref branch
        # below) — the reference's MaxDepth=100 lives inside
        # SchemaRefResolver; counting structural keyword nesting in the
        # same budget made >100-level ref-free schemas emit a spurious
        # err.max.depth (review find r4)
        if depth > MAX_DEPTH:
            return [self._v("$ref", spath, ipath, value, "err.max.depth")]

        scope = scope.refine(schema, self.resolver.dialect if self.resolver else "draft7")

        # $ref short-circuits sibling keywords (package.scala:42-56)
        ref = schema.get("$ref")
        if isinstance(ref, str):
            if self.resolver is None:
                return [self._v("$ref", spath, ipath, value, "err.unresolved.ref", ref)]
            try:
                target, tscope = self.resolver.resolve(ref, scope)
            except RefError as e:
                return [self._v("$ref", spath, ipath, value, e.msg_key, *(e.args_ or (ref,)))]
            # errors below a pointer ref report the TARGET's schema path
            # ("#/definitions/num", ErrorReportingSpec.scala:48-66) and
            # carry the ref site as `referrer` (Results.scala:43); this
            # includes pointer fragments of absolute URIs
            frag = ref[ref.index("#"):] if "#" in ref else ""
            new_spath = frag if frag.startswith("#/") else spath
            # the structural-nesting budget RESETS at every ref hop: it
            # bounds ref-FREE nesting (the RecursionError hazard, ADVICE
            # r4) while ref-driven recursion — e.g. deep data against a
            # recursive schema — stays governed by the MAX_DEPTH ref-hop
            # budget alone; without the reset a 300-deep instance tripped
            # the struct guard before err.max.depth could fire (r5)
            saved = self._struct_depth
            self._struct_depth = 0
            try:
                return self._validate(target, value,
                                      tscope.with_referrer(spath),
                                      new_spath, ipath, depth + 1)
            finally:
                self._struct_depth = saved

        out: list[Violation] = []

        # type (err.expected.type; package.scala:105-110); union = any match
        t = schema.get("type")
        if isinstance(t, str):
            if not matches_type(value, t):
                out.append(self._v("type", spath + "/type", ipath, value,
                                   "err.expected.type", t, json_type(value)))
        elif isinstance(t, list):
            if not any(matches_type(value, ti) for ti in t):
                out.append(self._v("type", spath + "/type", ipath, value,
                                   "err.expected.type", "|".join(t), json_type(value)))

        out += self._any_keywords(schema, value, scope, spath, ipath, depth)

        vt = json_type(value)
        if vt == "number":
            out += self._number_keywords(schema, value, spath, ipath)
        elif vt == "string":
            out += self._string_keywords(schema, value, spath, ipath)
        elif vt == "array":
            out += self._array_keywords(schema, value, scope, spath, ipath, depth)
        elif vt == "object":
            out += self._object_keywords(schema, value, scope, spath, ipath, depth)
        if vt not in ("number", "string"):
            # custom SchemaFormat-analog checkers receive ANY value type
            # (the number/string paths already consult them); built-ins
            # start with an isinstance(str) gate so they stay vacuous here
            # (review find r4: custom formats never ran for array/object/
            # boolean/null values)
            fmt = schema.get("format")
            if isinstance(fmt, str):
                checker = self.formats.get(fmt)
                if checker is not None and not checker(value):
                    out.append(self._v("format", spath + "/format", ipath,
                                       value, "str.format", value, fmt))
        return self._stamp(out, scope)

    # -- any-constraints: enum/const/combinators (AnyConstraintValidators) --

    def _any_keywords(self, schema, value, scope, spath, ipath, depth) -> list[Violation]:
        out: list[Violation] = []

        if "enum" in schema and isinstance(schema["enum"], list):
            if not any(json_equal(value, e) for e in schema["enum"]):
                out.append(self._v("enum", spath + "/enum", ipath, value, "any.enum",
                                   errors_info={"enum": schema["enum"]}))

        if "const" in schema:
            if not json_equal(value, schema["const"]):
                out.append(self._v("const", spath + "/const", ipath, value, "any.const",
                                   errors_info={"const": schema["const"]}))

        # combinators emit ONE error whose `errors` field nests the failing
        # branches (AnyConstraintValidators.scala collectFailures), not
        # flattened sibling rows
        if isinstance(schema.get("allOf"), list):
            branches = [
                (i, self._validate(s, value, scope, f"{spath}/allOf/{i}", ipath, depth))
                for i, s in enumerate(schema["allOf"])
            ]
            if any(errs for _, errs in branches):
                out.append(self._v("allOf", spath + "/allOf", ipath, value, "any.all",
                                   errors_info=self._collect_failures(branches, "/allOf")))

        if isinstance(schema.get("anyOf"), list):
            # lazy first-success (untilFirstSuccess)
            branches = []
            for i, s in enumerate(schema["anyOf"]):
                errs = self._validate(s, value, scope, f"{spath}/anyOf/{i}", ipath, depth)
                if not errs:
                    branches = []
                    break
                branches.append((i, errs))
            else:
                out.append(self._v("anyOf", spath + "/anyOf", ipath, value, "any.any",
                                   errors_info=self._collect_failures(branches, "/anyOf")))

        if isinstance(schema.get("oneOf"), list):
            branches, matched = [], []
            for i, s in enumerate(schema["oneOf"]):
                errs = self._validate(s, value, scope, f"{spath}/oneOf/{i}", ipath, depth)
                if errs:
                    branches.append((i, errs))
                else:
                    matched.append(f"/oneOf/{i}")
            if not matched:
                out.append(self._v("oneOf", spath + "/oneOf", ipath, value,
                                   "any.one.of.none",
                                   errors_info=self._collect_failures(branches, "/oneOf")))
            elif len(matched) > 1:
                # matched paths reported like AnyConstraintValidators.scala:170-186
                out.append(self._v("oneOf", spath + "/oneOf", ipath, value,
                                   "any.one.of.many", errors_info={"matched": matched}))

        if "not" in schema:
            if not self._validate(schema["not"], value, scope, spath + "/not", ipath, depth):
                out.append(self._v("not", spath + "/not", ipath, value, "any.not"))

        # if/then/else (AnyConstraintValidators.scala:14-67): lone `if`
        # passes. Reference reporting, exactly: the keyword is "else"
        # whenever an else branch exists (even when the then branch is the
        # one violated), "then" only when else is absent; schemaPath is the
        # CONTAINING schema's path (not #/then or #/else) and no nested
        # errors object is attached (SchemaUtil.failure with bare args).
        if "if" in schema:
            cond_ok = not self._validate(schema["if"], value, scope, spath + "/if", ipath, depth)
            branch = "then" if cond_ok else "else"
            if branch in schema:
                sub = self._validate(schema[branch], value, scope, f"{spath}/{branch}", ipath, depth)
                if sub:
                    keyword = "else" if "else" in schema else "then"
                    out.append(self._v(keyword, spath or "#", ipath, value,
                                       "err.if.then.else"))
        return out

    # -- numeric keywords (NumberValidators.scala) ---------------------------

    def _number_keywords(self, schema, value, spath, ipath) -> list[Violation]:
        out: list[Violation] = []
        d = as_decimal(value)

        mn = schema.get("minimum")
        if is_number(mn):
            excl = schema.get("exclusiveMinimum") is True  # draft-4 boolean flag
            if excl:
                if not d > as_decimal(mn):
                    out.append(self._v("minimum", spath + "/minimum", ipath, value,
                                       "num.min.exclusive", value, mn))
            elif not d >= as_decimal(mn):
                out.append(self._v("minimum", spath + "/minimum", ipath, value,
                                   "num.min", value, mn))
        mx = schema.get("maximum")
        if is_number(mx):
            excl = schema.get("exclusiveMaximum") is True
            if excl:
                if not d < as_decimal(mx):
                    out.append(self._v("maximum", spath + "/maximum", ipath, value,
                                       "num.max.exclusive", value, mx))
            elif not d <= as_decimal(mx):
                out.append(self._v("maximum", spath + "/maximum", ipath, value,
                                   "num.max", value, mx))

        # draft-7 numeric exclusive bounds
        emn = schema.get("exclusiveMinimum")
        if is_number(emn) and not d > as_decimal(emn):
            out.append(self._v("exclusiveMinimum", spath + "/exclusiveMinimum", ipath,
                               value, "num.min.exclusive", value, emn))
        emx = schema.get("exclusiveMaximum")
        if is_number(emx) and not d < as_decimal(emx):
            out.append(self._v("exclusiveMaximum", spath + "/exclusiveMaximum", ipath,
                               value, "num.max.exclusive", value, emx))

        mo = schema.get("multipleOf")
        if is_number(mo):
            # exact decimal remainder (NumberValidators.scala:89-109);
            # the default 28-digit context raises DivisionImpossible when
            # the quotient outgrows it (found by hypothesis: 5e33 % 0.5) —
            # widen to the actual magnitude like BigDecimal would
            import decimal as _dec
            dmo = as_decimal(mo)
            if dmo == 0:
                rem_nonzero = True
            else:
                with _dec.localcontext() as ctx:
                    ctx.prec = max(28, abs(d.adjusted() - dmo.adjusted()) + 30)
                    rem_nonzero = (d % dmo) != 0
            if rem_nonzero:
                out.append(self._v("multipleOf", spath + "/multipleOf", ipath, value,
                                   "num.multiple.of", value, mo))

        fmt = schema.get("format")
        if isinstance(fmt, str):
            checker = self.formats.get(fmt)
            # built-ins for numbers are int32/int64; custom registered
            # formats (SchemaFormat analog) apply to any value type;
            # unknown names pass
            if checker is not None and not checker(value):
                out.append(self._v("format", spath + "/format", ipath, value,
                                   "str.format", value, fmt))
        return out

    # -- string keywords (StringValidators.scala) ----------------------------

    def _string_keywords(self, schema, value: str, spath, ipath) -> list[Violation]:
        out: list[Violation] = []
        if ("minLength" in schema or "maxLength" in schema) and (
                not value.isascii() or "\r\n" in value):
            # grapheme-cluster counting like the reference's BreakIterator
            # (StringValidators.scala:126-132); pure ASCII short-circuits
            # to len EXCEPT when CRLF is present (one cluster in ICU)
            from sparkschema.spec.jsonvalue import grapheme_length
            n = grapheme_length(value)
        else:
            n = len(value)

        mn = schema.get("minLength")
        if isinstance(mn, int) and not isinstance(mn, bool) and n < mn:
            out.append(self._v("minLength", spath + "/minLength", ipath, value,
                               "str.min.length", value, mn))
        mx = schema.get("maxLength")
        if isinstance(mx, int) and not isinstance(mx, bool) and n > mx:
            out.append(self._v("maxLength", spath + "/maxLength", ipath, value,
                               "str.max.length", value, mx))

        pat = schema.get("pattern")
        if isinstance(pat, str):
            rx = self._compile_pattern(pat)
            if rx is None:
                out.append(self._v("pattern", spath + "/pattern", ipath, value,
                                   "str.invalid.pattern", pat))
            elif rx.search(value) is None:  # unanchored, like the reference
                out.append(self._v("pattern", spath + "/pattern", ipath, value,
                                   "str.pattern", value, pat))

        fmt = schema.get("format")
        if isinstance(fmt, str):
            checker = self.formats.get(fmt)
            # unknown format ⇒ success (StringValidators.scala:120)
            if checker is not None and not checker(value):
                out.append(self._v("format", spath + "/format", ipath, value,
                                   "str.format", value, fmt))
        return out

    # -- array keywords ------------------------------------------------------

    def _array_keywords(self, schema, value: list, scope, spath, ipath, depth) -> list[Violation]:
        out: list[Violation] = []
        n = len(value)

        mn = schema.get("minItems")
        if isinstance(mn, int) and not isinstance(mn, bool) and n < mn:
            out.append(self._v("minItems", spath + "/minItems", ipath, value,
                               "arr.min", n, mn))
        mx = schema.get("maxItems")
        if isinstance(mx, int) and not isinstance(mx, bool) and n > mx:
            out.append(self._v("maxItems", spath + "/maxItems", ipath, value,
                               "arr.max", n, mx))

        if schema.get("uniqueItems") is True:
            seen = {canonical(x) for x in value}
            if len(seen) != n:
                out.append(self._v("uniqueItems", spath + "/uniqueItems", ipath, value,
                                   "arr.dups"))

        items = schema.get("items")
        if isinstance(items, list):
            # positional tuple schemas + additionalItems (TupleValidators.scala:44-108)
            for i, el in enumerate(value[: len(items)]):
                out += self._validate(items[i], el, scope, f"{spath}/items/{i}",
                                      f"{ipath}/{i}", depth)
            if n > len(items):
                add = schema.get("additionalItems")
                if add is False:
                    out.append(self._v("additionalItems", spath + "/additionalItems",
                                       ipath, value, "arr.max", n, len(items)))
                elif isinstance(add, (dict, bool)) and add is not True:
                    for i in range(len(items), n):
                        out += self._validate(add, value[i], scope,
                                              spath + "/additionalItems",
                                              f"{ipath}/{i}", depth)
        elif items is not None:
            for i, el in enumerate(value):
                out += self._validate(items, el, scope, spath + "/items",
                                      f"{ipath}/{i}", depth)

        if "contains" in schema:
            ok = any(not self._validate(schema["contains"], el, scope,
                                        spath + "/contains", f"{ipath}/{i}", depth)
                     for i, el in enumerate(value))
            if not ok:
                out.append(self._v("contains", spath + "/contains", ipath, value,
                                   "err.contains"))
        return out

    # -- object keywords (ObjectValidators.scala pipeline) -------------------

    def _object_keywords(self, schema, value: dict, scope, spath, ipath, depth) -> list[Violation]:
        out: list[Violation] = []

        # dependencies first (ObjectConstraints4.scala:45-61 ordering)
        deps = schema.get("dependencies")
        if isinstance(deps, dict):
            for k, dep in deps.items():
                if k not in value:
                    continue
                if isinstance(dep, list):
                    for req in dep:
                        if req not in value:
                            out.append(self._v("dependencies", spath + "/dependencies",
                                               ipath, value, "obj.missing.prop.dep", req))
                elif isinstance(dep, str):  # draft-4 single-string form
                    if dep not in value:
                        out.append(self._v("dependencies", spath + "/dependencies",
                                           ipath, value, "obj.missing.prop.dep", dep))
                else:
                    out += self._validate(dep, value, scope,
                                          f"{spath}/dependencies/{k}", ipath, depth)

        props = schema.get("properties")
        matched: set[str] = set()
        if isinstance(props, dict):
            for k, sub in props.items():
                if k in value:
                    matched.add(k)
                    out += self._validate(sub, value[k], scope,
                                          f"{spath}/properties/{k}",
                                          f"{ipath}/{k}", depth)

        req = schema.get("required")
        if isinstance(req, list):
            for k in req:
                if k not in value:
                    out.append(self._v("required", spath + "/required", ipath, value,
                                       "obj.required.prop", k))

        patprops = schema.get("patternProperties")
        if isinstance(patprops, dict):
            for pat, sub in patprops.items():
                rx = self._compile_pattern(pat)
                if rx is None:
                    continue
                for k, v in value.items():
                    if rx.search(k):
                        matched.add(k)
                        out += self._validate(sub, v, scope,
                                              f"{spath}/patternProperties/{pat}",
                                              f"{ipath}/{k}", depth)

        # additionalProperties over unmatched props
        # (unmatched.intersect(remaining), ObjectConstraints4.scala:53)
        add = schema.get("additionalProperties")
        if add is not None and add is not True:
            extras = [k for k in value if k not in matched]
            if add is False:
                if extras:
                    out.append(self._v("additionalProperties",
                                       spath + "/additionalProperties", ipath, value,
                                       "obj.additional.props", ", ".join(sorted(extras))))
            else:
                for k in extras:
                    out += self._validate(add, value[k], scope,
                                          spath + "/additionalProperties",
                                          f"{ipath}/{k}", depth)

        mn = schema.get("minProperties")
        if isinstance(mn, int) and not isinstance(mn, bool) and len(value) < mn:
            out.append(self._v("minProperties", spath + "/minProperties", ipath, value,
                               "obj.min.props", len(value), mn))
        mx = schema.get("maxProperties")
        if isinstance(mx, int) and not isinstance(mx, bool) and len(value) > mx:
            out.append(self._v("maxProperties", spath + "/maxProperties", ipath, value,
                               "obj.max.props", len(value), mx))

        pn = schema.get("propertyNames")
        if pn is not None:
            for k in value:
                out += self._validate(pn, k, scope, spath + "/propertyNames",
                                      f"{ipath}/{k}", depth)
        return out

    # -- helpers -------------------------------------------------------------

    def _compile_pattern(self, pat: str) -> re.Pattern | None:
        if pat not in self._pattern_cache:
            self._pattern_cache[pat] = kernel_regex(pat)
        return self._pattern_cache[pat]

    @staticmethod
    def _safe_dump(value: Any) -> str:
        """`dump_json`, but survives values nested beyond the remaining
        Python stack. A violation fired partway down a hostile-deep
        instance serializes the REMAINDER of the value (instance depth
        minus current level) — e.g. the total-frame budget's
        err.max.depth row at frame ~2500 of a 20 000-deep document would
        otherwise die in json.dumps with the very RecursionError the
        budget exists to prevent (review find r5). Every violation row
        is built here, so this is the one chokepoint."""
        try:
            return dump_json(value)
        except RecursionError:
            return '"<value nested too deeply to serialize>"'

    def _v(self, keyword, spath, ipath, value, key, *args,
           errors_info: Any = None) -> Violation:
        return Violation(keyword, spath, ipath or "/", self._safe_dump(value),
                         msg.render(key, *args, catalog=self.catalog),
                         self._safe_dump(errors_info) if errors_info else "")

    @staticmethod
    def _sub_obj(v: Violation) -> dict:
        """Reference-shaped sub-error object for nesting under ``errors``
        (SchemaUtil.createErrorObject fields + msgs array)."""
        import json as _json

        o: dict[str, Any] = {"keyword": v.keyword, "schemaPath": v.schema_path,
                             "instancePath": v.instance_path, "value": v.value,
                             "msgs": [v.msg]}
        if v.errors:
            o["errors"] = _json.loads(v.errors)
        if v.resolution_scope:
            o["resolutionScope"] = v.resolution_scope
        if v.referrer:
            o["referrer"] = v.referrer
        return o

    def _collect_failures(self, branches: list[tuple[int, list[Violation]]],
                          prefix: str) -> dict:
        """The collectFailures analog (AnyConstraintValidators.scala:230-258):
        failing branches keyed ``{prefix}/{idx}``."""
        return {f"{prefix}/{i}": [self._sub_obj(v) for v in errs]
                for i, errs in branches if errs}

    @staticmethod
    def _stamp(viols: list[Violation], scope: Scope) -> list[Violation]:
        """Attach resolutionScope/referrer (Results.scala failureWithPath:
        only present when the scope carries an explicit $id / a $ref was
        followed; inner frames win over outer ones)."""
        rs = scope.base if getattr(scope, "has_id", False) and scope.base else ""
        rf = getattr(scope, "referrer", None) or ""
        if not rs and not rf:
            return viols
        return [v._replace(resolution_scope=v.resolution_scope or rs,
                           referrer=v.referrer or rf) for v in viols]
