"""Table-spec compilation: an object-shaped constraint spec over a typed
DataFrame, where each property is a column (SURVEY.md §1.4 row-as-object
mapping — the input_hint table ``(image_id, bytes, w, h, fmt, caption,
phash)`` is the canonical instance).

Produces a :class:`CompiledTableSpec`, whose checks are Spark SQL text
(:mod:`sparkschema.compiler.sqltext`): each projection and aggregate below
is assembled from that text and crosses to the JVM in a few ``F.expr``
calls, not as one py4j round trip per Column operator.

- ``violations(df)`` — one whole-stage-codegen projection building an array
  of per-keyword violation structs per row → ``array_compact`` →
  ``explode`` (violation rows exist only for failing keywords; passing
  rows are filtered before any shuffle);
- ``verdicts(df)`` — per-partition pass/fail + metrics in ONE aggregation
  over ``spark_partition_id()`` (no shuffle of raw rows, partial aggs
  map-side);
- ``row_valid()`` — a single boolean Column (throughput path);
- ``table_requests`` — the engine's ``x-unique`` / ``$ref_data`` /
  ``x-drift`` / ``x-roundtrip`` extension keywords, dispatched to
  :mod:`sparkschema.operators` by the validation plan.

$refs inside the spec are inlined at compile time on the driver (cycles are
a compile error here — recursive schemas are only supported on the dynamic
JSON path, where the depth cap applies at eval time).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkschema.compiler import sqltext as S
from sparkschema.compiler.columns import Check, ColumnCompiler
from sparkschema.compiler.sqltext import Sql
from sparkschema.spec import messages as msg_catalog
from sparkschema.spec.parser import SpecError, parse_spec
from sparkschema.spec.refs import RefResolver, Scope
from sparkschema.spec.registry import SpecRegistry

VIOLATION_SCHEMA = T.StructType([
    T.StructField("keyword", T.StringType()),
    T.StructField("schema_path", T.StringType()),
    T.StructField("instance_path", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("msg", T.StringType()),
    # reference error-object extras (SchemaUtil.scala:28-39 additionalInfo,
    # Results.scala:42-43): nested sub-errors as JSON, $id scope, $ref site
    T.StructField("errors", T.StringType()),
    T.StructField("resolution_scope", T.StringType()),
    T.StructField("referrer", T.StringType()),
])

_EXTENSION_KEYWORDS = ("x-unique", "x-drift", "x-roundtrip", "$ref_data",
                       "x-null-fraction")

#: Operands of :meth:`CompiledTableSpec.row_valid` that cross in one text.
#: Spark 4.1's parser overflowed its stack at 252 nested ``and`` calls
#: (driver thread, default stack); the rest of the budget is left for the
#: nesting inside one check.
_TEXT_CHAIN = 100


def inline_refs(schema: Any, resolver: RefResolver | None, scope: Scope | None,
                _seen: frozenset = frozenset(), _path: str = "#") -> Any:
    """Resolve every $ref eagerly; cycles raise SpecError (driver-side).

    Inlined subtrees are annotated with ``$__ref_site`` (the schema path of
    the $ref) and, for local refs, ``$__ref_target`` (the target pointer) —
    the column compiler strips them and stamps the resulting checks with
    referrer/retargeted schema paths (ErrorReportingSpec.scala:48-66)."""
    if not isinstance(schema, dict):
        return schema
    # rebase the resolution scope on $id-bearing nodes exactly like the
    # kernel does at every dict node (interpreter.py) — without this,
    # refs beneath an $id-rebased subtree resolved against the OUTER
    # base on the compiled path only (review find r4)
    if resolver is not None and scope is not None:
        scope = scope.refine(schema, resolver.dialect)
    if "$ref" in schema and isinstance(schema["$ref"], str):
        ref = schema["$ref"]
        if resolver is None or scope is None:
            raise SpecError("$ref", f"no registry to resolve {ref}")
        key = (scope.base, ref)
        if key in _seen:
            raise SpecError("$ref", f"recursive ref {ref} cannot "
                                    "compile to columnar predicates")
        try:
            target, tscope = resolver.resolve(ref, scope)
        except Exception as e:  # RefError incl. depth cap on self-refs
            raise SpecError("$ref", f"cannot resolve {ref}: {e}") from e
        inlined = inline_refs(target, resolver, tscope, _seen | {key}, _path)
        if isinstance(inlined, dict):
            inlined = dict(inlined)
            inlined.setdefault("$__ref_site", _path)
            # retarget to the pointer fragment for "#/..."-style refs,
            # including fragments of absolute URIs ("urn:x#/definitions/y")
            frag = ref[ref.index("#"):] if "#" in ref else ""
            if frag.startswith("#/"):
                inlined.setdefault("$__ref_target", frag)
        return inlined
    out = {}
    for k, v in schema.items():
        if k in ("enum", "const", "default", "examples") or k in _EXTENSION_KEYWORDS:
            out[k] = v
        elif isinstance(v, dict):
            out[k] = inline_refs(v, resolver, scope, _seen, f"{_path}/{k}")
        elif isinstance(v, list):
            out[k] = [inline_refs(x, resolver, scope, _seen, f"{_path}/{k}/{i}")
                      for i, x in enumerate(v)]
        else:
            out[k] = v
    return out


@dataclass
class TableRequest:
    """A table-level check extracted from an extension keyword."""

    kind: str                 # unique | ref_data | drift | roundtrip | null_fraction
    column: str
    config: Any = None


@dataclass
class CompiledTableSpec:
    checks: list[Check]
    table_requests: list[TableRequest]
    key_cols: list[str]
    catalog: dict[str, str] | None = None
    check_names: list[str] = field(default_factory=list)

    # -- row-level ---------------------------------------------------------

    def row_valid(self) -> Column:
        """No check fails: the left-deep ``true AND NOT fail0 AND NOT
        fail1 …``. The first :data:`_TEXT_CHAIN` operands cross as one
        text; each further one is joined as a Column, because Spark's
        parser overflows its stack on a few hundred nested calls."""
        fails = [~c.fail_sql for c in self.checks]
        text = S.lit(True)
        for f in fails[:_TEXT_CHAIN]:
            text = text & f
        ok = S.column(text)
        for f in fails[_TEXT_CHAIN:]:
            ok = ok & S.column(f)
        return ok

    def violations(self, df: DataFrame, cast_keys: bool = True) -> DataFrame:
        """Violation rows ``(key..., keyword, schema_path, instance_path,
        value, msg)`` — matching the reference's error-object contract
        (internal/SchemaUtil.scala:28-39).

        Schema: the key columns (cast to string unless ``cast_keys`` is
        False; either way they keep their own nullability), then the eight :data:`VIOLATION_SCHEMA` fields, all
        nullable strings. The report fields are nullable even where the
        check always fills them: ``explode_outer`` below makes the
        exploded struct nullable. A writer of persisted reports sees the
        same schema whether or not the spec compiled any checks
        (``tests/test_plan_quality.py`` pins it).

        ``cast_keys=False`` keeps key columns' native types (needed when a
        key is an event-time column whose watermark metadata must survive
        for a downstream streaming aggregation).

        The filter and the struct array each cross as one SQL text. A
        spec with a check that runs a Python UDF (a ``pattern`` with no
        Java form, a pathological ``multipleOf``) builds the array for
        every row instead, so that the UDF runs once per row."""
        key_cols = [S.named_column(k) for k in self.key_cols]
        if not self.checks:
            return df.sparkSession.createDataFrame(
                [], T.StructType([df.schema[k] for k in self.key_cols]
                                 ).add("v", VIOLATION_SCHEMA)
            ).select(*key_cols, "v.*")
        structs = [
            S.when(c.fail_sql, S.struct(
                S.lit(c.keyword).alias("keyword"),
                S.lit(c.schema_path).alias("schema_path"),
                S.lit(c.instance_path).alias("instance_path"),
                c.value_sql.alias("value"),
                c.msg_sql.alias("msg"),
                (S.coalesce(c.errors_sql, S.lit("")) if c.errors_sql is not None
                 else S.lit("")).alias("errors"),
                S.lit(c.resolution_scope).alias("resolution_scope"),
                S.lit(c.referrer).alias("referrer"),
            ))
            for c in self.checks
        ]
        arr = S.array_compact(S.array(*structs))
        # key columns are cast to string by default: the violations frame
        # is a report with one uniform schema across all emitters
        keys = [k.cast("string").alias(name) if cast_keys else k
                for k, name in zip(key_cols, self.key_cols)]
        # filter on the cheap boolean conjunction FIRST: writing
        # select(arr).where(size>0) makes Catalyst inline the whole
        # struct-building array into the Filter condition, evaluating every
        # check (regexes included) twice per row; gating on row_valid()
        # builds violation structs only for the failing minority.
        #
        # explode_OUTER, not explode (r6, guide §7.2): a plain explode
        # triggers the InferFiltersFromGenerate rule, which infers
        # ``size(arr) > 0`` and pushes it into the row_valid Filter —
        # duplicating the whole struct-building array into the Filter
        # condition and blowing the stage out of whole-stage codegen
        # (Filter/Project/Generate all fell back to interpreted mode).
        # Rows passing ``~row_valid()`` have ≥1 failing check, so the
        # compacted array is never empty and outer ≡ inner row-for-row;
        # the outer flavor just blocks the inference. Measured on the
        # 6M-row sf1.0 lineitem violations build: 2.31 s → 1.16 s noop,
        # Generate+downstream back inside WholeStageCodegen, results
        # exceptAll-identical.
        #
        # A check that runs a Python UDF is the exception: gated on
        # row_valid(), the UDF runs twice per row, under the filter and
        # in the projection (two ArrowEvalPython nodes, each with its
        # own Python workers). Such a spec builds the array for every
        # row and drops the NULL row explode_outer gives a row with no
        # violation; a filter on the generated column stays above the
        # Generate.
        python = S.calls_python(arr)
        out = (
            (df if python else df.where(~self.row_valid()))
            .select(*keys, S.column(arr).alias("__viol"))
            .select(*key_cols, F.explode_outer("__viol").alias("v"))
        )
        if python:
            out = out.where(F.col("v").isNotNull())
        return out.select(*key_cols, "v.*")

    def verdicts(self, df: DataFrame) -> DataFrame:
        """Per-partition verdict table ``(partition_id, check, pass,
        metrics)`` in a single map-side-combined aggregation, each
        aggregate and projection crossing as SQL text."""
        aggs = [_named(S.count(1), "__rows")]
        for i, c in enumerate(self.checks):
            fail = c.fail_sql.cast("bigint")
            # a bound Column's lambda must sit inside the sum
            aggs.append(_named(S.sum(fail), f"__f{i}") if not fail.binds
                        else F.sum(S.column(fail)).alias(f"__f{i}"))
        agg = df.groupBy(F.spark_partition_id().alias("partition_id")) \
                .agg(*aggs)
        pairs = S.map_from_arrays(
            S.array(*self.check_names),
            S.array(*[Sql(f"__f{i}") for i in range(len(self.checks))]))
        exploded = agg.select(
            "partition_id", "__rows",
            S.column(S.explode(pairs)).alias("check", "fail_count"))
        fails, rows = Sql("fail_count"), Sql("__rows")
        return exploded.select(
            "partition_id",
            "check",
            _named(fails == 0, "pass"),
            _named(S.create_map(
                "rows", rows.cast("double"),
                "fail_count", fails.cast("double"),
                "fail_fraction", (fails / rows).cast("double"),
            ), "metrics"),
        )


def _named(s: Sql, name: str) -> Column:
    """The Column of ``s`` named ``name``: one ``F.expr`` of
    ``s AS name`` when nothing is bound in."""
    if not s.binds:
        return F.expr(s.alias(name).text)
    return S.column(s).alias(name)


def compile_table_spec(
    spec: Any,
    df: DataFrame,
    key_cols: list[str] | None = None,
    dialect: str | None = None,
    registry: SpecRegistry | None = None,
    formats: dict[str, Callable[[Column], Column]] | None = None,
    catalog: dict[str, str] | None = None,
) -> CompiledTableSpec:
    parsed = parse_spec(spec, dialect)
    schema = parsed.schema
    if registry is not None:
        # clone: keep the transient table spec's $id scopes out of the
        # caller's long-lived registry (review find r4 — a stale scope
        # could shadow a later document with the same $id)
        idx = registry.index.clone()
        resolver = RefResolver(idx, parsed.dialect)
        scope = Scope(schema, "urn:sparkschema:tablespec")
        idx.add_document("urn:sparkschema:tablespec", schema, parsed.dialect)
        schema = inline_refs(schema, resolver, scope)
    else:
        if _has_ref(schema):
            raise SpecError("$ref", "spec contains $refs but no registry was given")

    cc = ColumnCompiler(parsed.dialect, formats=formats, catalog=catalog)
    fields = {f.name: f.dataType for f in df.schema.fields}
    checks: list[Check] = []
    requests: list[TableRequest] = []

    props = schema.get("properties") or {}
    if not isinstance(props, dict):
        raise SpecError("#/properties", "table spec must declare properties")

    for name, sub in props.items():
        if name not in fields:
            raise SpecError(f"#/properties/{name}", f"column {name!r} not in DataFrame")
        if isinstance(sub, bool):
            # boolean subschema: compile_checks handles False (present
            # value fails err.false.schema) and True (no checks) — the
            # old skip silently dropped {'properties': {'a': false}}
            # (review find r4)
            checks += cc.compile_checks(sub, S.named(name), fields[name],
                                        f"#/properties/{name}", f"/{name}")
            continue
        if not isinstance(sub, dict):
            continue
        requests += _extension_requests(name, sub)
        plain = {k: v for k, v in sub.items() if k not in _EXTENSION_KEYWORDS}
        checks += cc.compile_checks(plain, S.named(name), fields[name],
                                    f"#/properties/{name}", f"/{name}")

    req = schema.get("required")
    if isinstance(req, list):
        for name in req:
            if name not in fields:
                raise SpecError("#/required", f"required column {name!r} not in DataFrame")
            checks.append(Check(
                keyword="required",
                schema_path="#/required",
                instance_path=f"/{name}",
                fail_sql=S.named(name).isNull(),
                value_sql=S.lit("null"),
                msg_sql=S.lit(msg_catalog.render("obj.required.prop", name,
                                                 catalog=catalog)),
            ))

    # dependencies: array form = presence dependency (col A present ⇒
    # cols B.. present); schema form = presence of A requires the ROW to
    # satisfy the dependent object schema (ObjectConstraints4.scala:45-61,
    # kernel parity interpreter._object_keywords)
    deps = schema.get("dependencies")
    if isinstance(deps, dict):
        for a, dep in deps.items():
            if a not in fields:
                continue
            if isinstance(dep, str):  # draft-4 single-string form
                dep = [dep]           # (interpreter.py:423-426)
            if isinstance(dep, list):
                for b in dep:
                    # a dependency target that is not a column is
                    # STATICALLY absent: A present ⇒ violation
                    missing = S.named(b).isNull() if b in fields \
                        else S.lit(True)
                    checks.append(Check(
                        keyword="dependencies",
                        schema_path="#/dependencies",
                        instance_path=f"/{a}",
                        fail_sql=S.named(a).isNotNull() & missing,
                        value_sql=S.named(a).cast("string"),
                        msg_sql=S.lit(msg_catalog.render(
                            "obj.missing.prop.dep", b, catalog=catalog)),
                    ))
            elif isinstance(dep, (dict, bool)):
                # attribution note: this emits ONE "dependencies" check
                # for the whole dep schema (the kernel recurses to inner
                # keywords; struct COLUMNS do too via compile_checks —
                # the row-level path builds a validity column instead)
                ok = object_schema_valid(cc, dep, fields)
                checks.append(Check(
                    keyword="dependencies",
                    schema_path=f"#/dependencies/{a}",
                    instance_path=f"/{a}",
                    fail_sql=S.named(a).isNotNull()
                    & ~S.coalesce(ok, S.lit(False)),
                    value_sql=S.named(a).cast("string"),
                    msg_sql=S.lit(msg_catalog.render("comp.no.schema",
                                                     catalog=catalog)),
                ))

    # root-level conditional / combinators across columns (row-as-object):
    checks += _row_combinators(cc, schema, fields, catalog)

    names = [f"{c.keyword}:{c.instance_path}" for c in checks]
    # disambiguate duplicates
    seen: dict[str, int] = {}
    for i, n in enumerate(names):
        if n in seen:
            names[i] = f"{n}#{seen[n]}"
        seen[n] = seen.get(n, 0) + 1

    return CompiledTableSpec(checks=checks, table_requests=requests,
                             key_cols=key_cols or [df.columns[0]],
                             catalog=catalog, check_names=names)


def _has_ref(schema: Any) -> bool:
    if isinstance(schema, dict):
        if "$ref" in schema:
            return True
        return any(_has_ref(v) for k, v in schema.items()
                   if k not in ("enum", "const", "default"))
    if isinstance(schema, list):
        return any(_has_ref(v) for v in schema)
    return False


def object_schema_valid(cc: ColumnCompiler, s: Any,
                        fields: dict[str, T.DataType]) -> Sql:
    """Row-level validity of an object schema over the table's columns
    (properties / required / allOf / anyOf / oneOf / not / if-then-else,
    row-as-object mapping). A required column absent from the DataFrame is
    statically absent from every row — the schema can never hold (kernel
    parity: required fails on a missing property)."""
    if s is True:
        return S.lit(True)
    if s is False:
        return S.lit(False)
    ok = [S.lit(True)]
    props = s.get("properties") or {}
    for name, sub in props.items():
        if name in fields and isinstance(sub, (dict, bool)):
            plain = sub if not isinstance(sub, dict) else {
                k: v for k, v in sub.items() if k not in _EXTENSION_KEYWORDS}
            ok.append(cc.valid_sql(plain, S.named(name), fields[name]))
    for r in s.get("required") or []:
        ok.append(S.named(r).isNotNull() if r in fields else S.lit(False))
    for comb, join in (("allOf", S.all_of), ("anyOf", S.any_of)):
        subs = s.get(comb)
        if isinstance(subs, list) and subs:
            ok.append(join([object_schema_valid(cc, x, fields) for x in subs]))
    oneof = s.get("oneOf")
    if isinstance(oneof, list) and oneof:
        ok.append(S.sum_of([
            S.coalesce(object_schema_valid(cc, x, fields),
                       S.lit(False)).cast("int") for x in oneof]) == 1)
    if "not" in s:
        ok.append(~object_schema_valid(cc, s["not"], fields))
    if "if" in s:
        cond = S.coalesce(object_schema_valid(cc, s["if"], fields), S.lit(False))
        then_v = object_schema_valid(cc, s["then"], fields) if "then" in s else S.lit(True)
        else_v = object_schema_valid(cc, s["else"], fields) if "else" in s else S.lit(True)
        ok.append(S.when(cond, then_v).otherwise(else_v))
    return S.all_of(ok)


def _row_combinators(cc: ColumnCompiler, schema: dict,
                     fields: dict[str, T.DataType],
                     catalog: dict[str, str] | None) -> list[Check]:
    """Compile root-level if/then/else / allOf / anyOf / oneOf / not where
    subschemas are object schemas over the table's columns (the flagship
    spec's ``if fmt=jpg then w multipleOf 8`` shape, FIXTURES.md §3)."""

    def obj_valid(s: Any) -> Sql:
        return object_schema_valid(cc, s, fields)

    out: list[Check] = []
    value_col = S.lit("<row>")

    if "if" in schema:
        # Reference reporting (AnyConstraintValidators.scala:14-67): one
        # violation, keyword "else" whenever an else branch exists ("then"
        # only when it doesn't), schemaPath = the containing schema ("#").
        cond = S.coalesce(obj_valid(schema["if"]), S.lit(False))
        fail = S.lit(False)
        if "then" in schema:
            fail = fail | S.coalesce(cond & ~obj_valid(schema["then"]), S.lit(False))
        if "else" in schema:
            fail = fail | S.coalesce(~cond & ~obj_valid(schema["else"]), S.lit(False))
        if "then" in schema or "else" in schema:
            keyword = "else" if "else" in schema else "then"
            out.append(Check(keyword, "#", "/", fail, value_col,
                             S.lit(msg_catalog.render("err.if.then.else", catalog=catalog))))
    for comb, key in (("allOf", "any.all"), ("anyOf", "any.any")):
        subs = schema.get(comb)
        if isinstance(subs, list) and subs:
            join = S.all_of if comb == "allOf" else S.any_of
            acc = join([obj_valid(x) for x in subs])
            out.append(Check(comb, f"#/{comb}", "/", ~S.coalesce(acc, S.lit(False)),
                             value_col,
                             S.lit(msg_catalog.render(key, catalog=catalog))))
    oneof = schema.get("oneOf")
    if isinstance(oneof, list) and oneof:
        valids = [S.coalesce(obj_valid(x), S.lit(False)) for x in oneof]
        cnt = S.sum_of([v.cast("int") for v in valids])
        matched = S.array_compact(S.array(*[
            S.when(v, S.lit(f"/oneOf/{i}")) for i, v in enumerate(valids)]))
        err = S.when(cnt > 1, S.to_json(S.struct(matched.alias("matched"))))
        # kernel parity: >1 match is any.one.of.many, 0 matches .none
        msg = S.when(
            cnt > 1,
            S.lit(msg_catalog.render("any.one.of.many", catalog=catalog))
        ).otherwise(S.lit(msg_catalog.render("any.one.of.none", catalog=catalog)))
        out.append(Check("oneOf", "#/oneOf", "/", S.coalesce(cnt != 1, S.lit(True)),
                         value_col, msg, errors_sql=err))
    if "not" in schema:
        out.append(Check("not", "#/not", "/",
                         S.coalesce(obj_valid(schema["not"]), S.lit(False)),
                         value_col,
                         S.lit(msg_catalog.render("any.not", catalog=catalog))))
    return out


def _extension_requests(column: str, sub: dict) -> list[TableRequest]:
    out = []
    if "x-unique" in sub:
        out.append(TableRequest("unique", column, sub["x-unique"]))
    if "$ref_data" in sub:
        out.append(TableRequest("ref_data", column, sub["$ref_data"]))
    if "x-drift" in sub:
        out.append(TableRequest("drift", column, sub["x-drift"]))
    if "x-roundtrip" in sub:
        out.append(TableRequest("roundtrip", column, sub["x-roundtrip"]))
    if "x-null-fraction" in sub:
        out.append(TableRequest("null_fraction", column, sub["x-null-fraction"]))
    return out
