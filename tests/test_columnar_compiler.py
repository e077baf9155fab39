"""Columnar-vs-kernel parity: the Catalyst predicate compiler must agree
with the semantics kernel on every keyword it compiles, for every typed
column. NULL column values model the absent property and vacuously pass
every per-value keyword (SURVEY.md §1.4 undefined/null collapse)."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from sparkschema.compiler import sqltext as S
from sparkschema.compiler.columns import ColumnCompiler, grapheme_length_sql
from sparkschema.spec.interpreter import Validator
from sparkschema.spec.jsonvalue import grapheme_length, parse_json

INT_VALUES = [None, -3, 0, 1, 2, 3, 7, 8, 10, 100, 2**40]
DOUBLE_VALUES = [None, -1.5, 0.0, 0.5, 1.0, 2.0, 2.5, 3.0, 9.75, 1e9]
STRING_VALUES = [None, "", "a", "abc", "img-000000000001", "IMG-1", "hello world",
                 "2019-01-01T00:00:00Z", "not a date", "10.0.0.1", "999.1.1.1",
                 "a@b.com", "@nope", "f47ac10b-58cc-4372-a567-0e02b2c3d479"]
BOOL_VALUES = [None, True, False]
ARRAY_INT_VALUES = [None, [], [1], [1, 2, 3], [1, 1, 2], [5, 6, 7, 8, 9]]

SPECS_INT = [
    {"type": "integer"},
    {"type": "number", "minimum": 1},
    {"minimum": 0, "exclusiveMinimum": True},
    {"maximum": 8},
    {"type": "number", "exclusiveMaximum": 8},
    {"multipleOf": 2},
    {"enum": [1, 2, 3]},
    {"const": 8},
    {"format": "int32"},
    {"allOf": [{"minimum": 0}, {"maximum": 10}]},
    {"anyOf": [{"maximum": 0}, {"minimum": 8}]},
    {"oneOf": [{"minimum": 5}, {"maximum": 2}]},
    {"not": {"minimum": 5}},
    {"if": {"minimum": 5}, "then": {"multipleOf": 2}, "else": {"minimum": 0}},
]
SPECS_DOUBLE = [
    {"type": "integer"},
    {"type": "number", "minimum": 0.5},
    {"exclusiveMaximum": 2.5},
    {"multipleOf": 0.5},
    {"enum": [0.5, 1, 2.5]},
    {"minimum": 0, "maximum": 3},
]
SPECS_STRING = [
    {"type": "string", "minLength": 1},
    {"maxLength": 5},
    {"pattern": "^img-[0-9]{12}$"},
    {"pattern": "world"},
    {"enum": ["a", "abc", 1]},
    {"const": "abc"},
    {"format": "date-time"},
    {"format": "ipv4"},
    {"format": "email"},
    {"format": "uuid"},
    {"format": "no-such-format"},
    {"allOf": [{"minLength": 1}, {"maxLength": 3}]},
    {"if": {"pattern": "^img"}, "then": {"minLength": 10}},
]
SPECS_ARRAY = [
    {"minItems": 1},
    {"maxItems": 3},
    {"uniqueItems": True},
    {"items": {"minimum": 2}},
    {"contains": {"minimum": 7}},
    {"items": [{"minimum": 1}, {"maximum": 5}]},
    {"items": [{"minimum": 1}], "additionalItems": False},
    {"items": [{"minimum": 1}], "additionalItems": {"maximum": 8}},
]


def _cross_check(spark, values, spark_type, specs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               schema=f"i int, x {spark_type}")
    cc = ColumnCompiler()
    kernel = Validator()
    cols = [cc.compile_valid(spec, F.col("x"), df.schema["x"].dataType).alias(f"s{j}")
            for j, spec in enumerate(specs)]
    got = {r["i"]: r for r in df.select("i", *cols).collect()}
    problems = []
    for j, spec in enumerate(specs):
        for i, v in enumerate(values):
            columnar = got[i][f"s{j}"]
            if v is None:
                expected = True  # absent ⇒ vacuous pass
            else:
                expected = not kernel.validate(spec, v)
            if bool(columnar) != expected:
                problems.append(f"spec={spec} value={v!r}: columnar={columnar} kernel={expected}")
    assert not problems, "\n".join(problems)


def test_integer_column_parity(spark):
    _cross_check(spark, INT_VALUES, "bigint", SPECS_INT)


def test_double_column_parity(spark):
    _cross_check(spark, DOUBLE_VALUES, "double", SPECS_DOUBLE)


def test_string_column_parity(spark):
    _cross_check(spark, STRING_VALUES, "string", SPECS_STRING)


def test_boolean_column_parity(spark):
    _cross_check(spark, BOOL_VALUES, "boolean",
                 [{"type": "boolean"}, {"const": True}, {"enum": [True]},
                  {"enum": [False, "x"]}, {"type": "string"}])


def test_array_column_parity(spark):
    _cross_check(spark, ARRAY_INT_VALUES, "array<bigint>", SPECS_ARRAY)


def test_violations_contract(spark):
    """Violation rows carry the reference's error-object fields."""
    from sparkschema.compiler.table import compile_table_spec

    df = spark.createDataFrame(
        [("img-000000000001", 64, "jpg"), ("bad id", 0, "tiff"), (None, 128, "png")],
        schema="image_id string, w int, fmt string",
    )
    spec = {
        "type": "object",
        "required": ["image_id"],
        "properties": {
            "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
            "w": {"type": "integer", "minimum": 1, "maximum": 16384},
            "fmt": {"enum": ["raw", "rawz", "png", "jpg"]},
        },
    }
    cts = compile_table_spec(spec, df, key_cols=["image_id"])
    rows = {(r.keyword, r.instance_path): r for r in cts.violations(df).collect()}
    assert set(rows) == {("pattern", "/image_id"), ("minimum", "/w"),
                         ("enum", "/fmt"), ("required", "/image_id")}
    assert rows[("pattern", "/image_id")].msg == \
        "'bad id' does not match pattern '^img-[0-9]{12}$'."
    assert rows[("minimum", "/w")].msg == "0 is smaller than required minimum value of 1."
    assert rows[("required", "/image_id")].msg == "Property image_id missing."
    assert rows[("pattern", "/image_id")].schema_path == "#/properties/image_id/pattern"


def test_verdicts_shape(spark):
    from sparkschema.compiler.table import compile_table_spec

    df = spark.createDataFrame([(i, i % 5) for i in range(100)], "id long, v int")
    cts = compile_table_spec(
        {"properties": {"v": {"minimum": 1}}, "required": ["id"]}, df, key_cols=["id"])
    verd = cts.verdicts(df).collect()
    by_check = {}
    for r in verd:
        by_check.setdefault(r.check, []).append(r)
    assert set(by_check) == {"minimum:/v", "required:/id"}
    total_fails = sum(r.metrics["fail_count"] for r in by_check["minimum:/v"])
    assert total_fails == 20  # v==0 rows
    assert all(r["pass"] for r in by_check["required:/id"])


def test_ref_inlining_and_cycle_error(spark):
    from sparkschema.compiler.table import compile_table_spec
    from sparkschema.spec.parser import SpecError
    from sparkschema.spec.registry import SpecRegistry

    df = spark.createDataFrame([(5,), (50,)], "w int")
    reg = SpecRegistry()
    reg.add_schema("urn:dims", {"definitions": {"small": {"maximum": 10}}})
    spec = {"properties": {"w": {"$ref": "urn:dims#/definitions/small"}}}
    cts = compile_table_spec(spec, df, key_cols=["w"], registry=reg)
    # violation key columns are cast to string (uniform report schema)
    assert [r.w for r in cts.violations(df).collect()] == ["50"]

    reg2 = SpecRegistry()
    reg2.add_schema("urn:loop", {"$id": "urn:loop", "properties": {"w": {"$ref": "urn:loop#/properties/w"}}})
    with pytest.raises(SpecError):
        compile_table_spec({"properties": {"w": {"$ref": "urn:loop#/properties/w"}}},
                           df, key_cols=["w"], registry=reg2)


# ---------------------------------------------------------------------------
# enum/const structural equality on complex columns

def test_enum_const_on_struct_columns(spark):
    # non-alphabetical field order + whole doubles: the to_json rendering
    # trap from ADVICE r1. zeta sorts after alpha; 1.0 must equal 1.
    df = spark.createDataFrame(
        [(1, {"zeta": 1.0, "alpha": "x"}), (2, {"zeta": 2.0, "alpha": "y"}),
         (3, None)],
        "i int, s struct<zeta: double, alpha: string>")
    cc = ColumnCompiler()
    spec_enum = {"enum": [{"alpha": "x", "zeta": 1}, {"alpha": "q", "zeta": 9}]}
    spec_const = {"const": {"zeta": 2, "alpha": "y"}}
    got = {r.i: (r.e, r.c) for r in df.select(
        "i",
        cc.compile_valid(spec_enum, F.col("s"), df.schema["s"].dataType).alias("e"),
        cc.compile_valid(spec_const, F.col("s"), df.schema["s"].dataType).alias("c"),
    ).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, True)
    assert got[3] == (True, True)  # NULL ⇒ vacuous pass


def test_const_on_double_array_column(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [1.0, 2.5]), (3, [1.0])],
                               "i int, a array<double>")
    cc = ColumnCompiler()
    dt = df.schema["a"].dataType
    got = {r.i: (r.c, r.e) for r in df.select(
        "i",
        cc.compile_valid({"const": [1, 2]}, F.col("a"), dt).alias("c"),
        cc.compile_valid({"enum": [[1, 2.5], [1.0]]}, F.col("a"), dt).alias("e"),
    ).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, True)
    assert got[3] == (False, True)


def test_enum_const_on_map_columns(spark):
    df = spark.createDataFrame(
        [(1, {"a": 1.0, "b": 2.0}), (2, {"a": 1.0}), (3, {"a": 1.0, "c": 3.0})],
        "i int, m map<string, double>")
    cc = ColumnCompiler()
    dt = df.schema["m"].dataType
    got = {r.i: (r.c, r.e) for r in df.select(
        "i",
        cc.compile_valid({"const": {"b": 2, "a": 1}}, F.col("m"), dt).alias("c"),
        cc.compile_valid({"enum": [{"a": 1}, {"a": 1, "c": 3.0}]},
                         F.col("m"), dt).alias("e"),
    ).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, True)
    assert got[3] == (False, True)


def test_enum_never_crosses_bool_number(spark):
    df = spark.createDataFrame([(1, [1.0]), (2, [0.0])], "i int, a array<double>")
    cc = ColumnCompiler()
    dt = df.schema["a"].dataType
    got = {r.i: r.e for r in df.select(
        "i", cc.compile_valid({"enum": [[True], [False]]}, F.col("a"), dt)
        .alias("e")).collect()}
    assert got == {1: False, 2: False}  # 1 ≢ true, 0 ≢ false


# ---------------------------------------------------------------------------
# multipleOf extreme values: columnar vs kernel parity

MO_EXTREME_VALUES = [
    None, 0.0, 0.1, 0.2, 0.25, 0.5, 0.75, 1.0, 2.5, 3.0, 1e-13, 2.5e-12,
    1234.56, 9.75, 1e9, 5e33, 1e30, 3e20, 2.5e20, 1e40, 7.2e41, 1e300,
    123456789.123456, -0.3, -5e33, 9007199254740992.0, 9007199254740994.0,
]
MO_SPECS = [
    {"multipleOf": 0.5}, {"multipleOf": 0.25}, {"multipleOf": 0.1},
    {"multipleOf": 0.01}, {"multipleOf": 3}, {"multipleOf": 2},
    {"multipleOf": 0.3}, {"multipleOf": 1},
]


def test_multipleof_extreme_double_parity(spark):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(MO_EXTREME_VALUES)],
                               "i int, x double")
    cc = ColumnCompiler()
    kernel = Validator()
    cols = [cc.compile_valid(parse_json(__import__("json").dumps(s)),
                             F.col("x"), df.schema["x"].dataType).alias(f"s{j}")
            for j, s in enumerate(MO_SPECS)]
    got = {r["i"]: r for r in df.select("i", *cols).collect()}
    problems = []
    for j, s in enumerate(MO_SPECS):
        spec = parse_json(__import__("json").dumps(s))
        for i, v in enumerate(MO_EXTREME_VALUES):
            columnar = got[i][f"s{j}"]
            expected = True if v is None else not kernel.validate(spec, v)
            if bool(columnar) != expected:
                problems.append(f"spec={s} value={v!r}: columnar={columnar} "
                                f"kernel={expected}")
    assert not problems, "\n".join(problems)


def test_multipleof_decimal_column_no_cast_overflow(spark):
    df = spark.createDataFrame(
        [(1, Decimal("123456789012345678901234567.89")),
         (2, Decimal("123456789012345678901234567.80")),
         (3, Decimal("0.05"))],
        "i int, x decimal(38,2)")
    cc = ColumnCompiler()
    dt = df.schema["x"].dataType
    got = {r.i: r.ok for r in df.select(
        "i", cc.compile_valid({"multipleOf": parse_json("0.1")}, F.col("x"), dt)
        .alias("ok")).collect()}
    # .89 is not a multiple of 0.1; .80 is; 0.05 is not — the old
    # decimal(38,12) cast would NULL-overflow rows 1-2 and silently pass both
    assert got == {1: False, 2: True, 3: False}


# ---------------------------------------------------------------------------
# grapheme-cluster lengths in SQL (columnar + VARIANT paths)

GRAPHEME_SAMPLES = [
    "", "abc", "hello world",                    # ASCII fast path
    "cafe\u0301",                                # combining acute: 4 clusters
    "a\u0301\u0302b",                            # stacked marks: 2 clusters
    "\u0301x",                                   # leading mark counts: 2
    "e\u200dx",                                  # ZWJ does NOT glue: 3 (Java)
    "a\u200d",                                   # trailing ZWJ: 2 (Java)
    "\u200da b",                                 # ZWJ + "a b": 4 (Java)
    "a\r\nb",                                    # CRLF is ONE cluster: 3
    "\r\n",                                      # 1
    "x\ry\n",                                    # bare CR/LF count: 4
    "na\u00efve", "\u65e5\u672c\u8a9e", "\U0001d518\U0001d52b\U0001d526",
    "\U0001f44d\U0001f44d",
    "\u1100\u1160\u11a8", "\u1100\u11a8", "\u1160\u1100",
    "\uac00\u11a8", "\ua960\u1160\u11a8", "\u1100\u1160\u0301",
    "\u1100\u0301", "\u11a8\u11a9\u11aa", "x\u1100\u1160y",
    "\t\u0301", "\u200d\u0301", "a\u0903\u0301", "\u0301\u0301",
    "\u0915\u093e\u0903", "\u0915\u094d\u0915",
    "\u0915\u094d\u200d\u0915\u093e", "\u0915\u0941\u0903",
    "\u0915\u094d\u0915\u094d\u0915", "\u0905\u093e",
    "\U0001f44d\U0001f3fb",                      # skin tone separate: 2 (Java)
    "\u2764\ufe0f",                              # VS16 is Mn, folds: 1 (Java)
]


# counts verified against java.text.BreakIterator.getCharacterInstance on
# this sandbox's Java 17 — the reference's lengthOf
# (StringValidators.scala:126-132)
JAVA_BREAKITERATOR_TRUTH = {
    "cafe\u0301": 4, "a\u0301\u0302b": 2, "\u0301x": 2, "e\u200dx": 3,
    "a\u200d": 2, "a\r\nb": 3, "\r\n": 1,
    "\U0001f44d\U0001f3fb": 2, "\u2764\ufe0f": 1,
    "\U0001f468\u200d\U0001f469\u200d\U0001f467": 5,
    "\U0001f1fa\U0001f1f8\U0001f1e9\U0001f1ea": 4,
    "x\u20e0": 1, "\U0001d518\u0301": 1,
    # round-4 probes: Hangul conjoining jamo (legacy rules: classical-
    # block runs with non-decreasing class glue; extended jamo and
    # precomposed syllables never do), mark gating (no fold after
    # controls/format chars, no Mc fold, no chain onto a leading mark),
    # Devanagari clusters (the one script with Mc folding + conjuncts)
    "\u1100\u1160\u11a8": 1,        # L+V+T one cluster
    "\u1100\u11a8": 1,               # L+T glues (legacy, not UAX#29)
    "\u1160\u1100": 2,               # V+L breaks (decreasing class)
    "\u11a8\u11a9": 1,               # T+T glues
    "\u1100\u1100\u1160": 1,        # L+L+V
    "\uac00\u11a8": 2,               # precomposed LV + T: NO glue
    "\uac01\uac01": 2,               # precomposed syllables separate
    "\ua960\u1160": 2,               # extended-A lead: no glue
    "\u1100\u1160\u0301": 2,        # marks do NOT extend a jamo run
    "\u1100\u0301": 1,               # single jamo is a mark-taking base
    "\t\u0301": 2,                   # no mark fold after controls
    "\u200d\u0301": 2,               # no mark fold after format chars
    "a\u0903": 2,                     # Mc does not fold generically
    "\u0903\u0301": 1,               # but Mc is a base that takes Mn
    "\u0301\u0301": 2,               # marks don't chain onto a leading mark
    "a\u0301\u0301": 1,              # they do chain onto a base cluster
    "\u0915\u093e": 1,               # dev cons + Mc vowel sign folds
    "\u0915\u094d\u0915": 1,        # dev conjunct (single virama group)
    "\u0915\u094d\u0915\u094d\u0915": 3,  # no second virama group
    "\u0915\u094d\u200d\u0915": 1, # ZWJ allowed inside the conjunct
    "\u0915\u093e\u0903": 1,        # vowel sign + visarga
    "\u0915\u093e\u0951": 1,        # vowel sign + stress mark
    "\u0915\u093e\u0301": 2,        # generic marks don't extend it
    "\u0905\u093e": 2,               # independent vowel takes no Mc
    "\u0995\u09be": 2,               # Bengali: no Mc folding (dev only)
}


def test_grapheme_length_matches_java_breakiterator():
    from sparkschema.spec.jsonvalue import grapheme_length as gl
    for s, expected in JAVA_BREAKITERATOR_TRUTH.items():
        assert gl(s) == expected, (repr(s), gl(s), expected)


def test_grapheme_length_col_matches_kernel(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(GRAPHEME_SAMPLES)],
                               "i int, s string")
    got = {r.i: r.n for r in
           df.select("i", S.over(F.col("s"), grapheme_length_sql)
                     .alias("n")).collect()}
    for i, s in enumerate(GRAPHEME_SAMPLES):
        assert got[i] == grapheme_length(s), (
            f"{s!r}: sql={got[i]} kernel={grapheme_length(s)}")


def test_minlength_grapheme_parity_columnar(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(GRAPHEME_SAMPLES)],
                               "i int, s string")
    cc = ColumnCompiler()
    kernel = Validator()
    dt = df.schema["s"].dataType
    for spec in ({"minLength": 2}, {"maxLength": 3}, {"minLength": 5}):
        got = {r.i: r.ok for r in df.select(
            "i", cc.compile_valid(spec, F.col("s"), dt).alias("ok")).collect()}
        for i, s in enumerate(GRAPHEME_SAMPLES):
            expected = not kernel.validate(spec, s)
            assert bool(got[i]) == expected, f"spec={spec} s={s!r}"


def test_multipleof_randomized_wide_range_parity(spark):
    """Seeded sweep over the full double range (exponents -320..308):
    columnar multipleOf tiers must agree with the widening kernel on every
    value — the property the decimal(38,12) cast silently broke in r1."""
    import random

    rng = random.Random(20260816)
    values = [0.0]
    for _ in range(400):
        mant = rng.uniform(1.0, 10.0) * (1 if rng.random() < 0.5 else -1)
        values.append(mant * 10.0 ** rng.randint(-320, 308))
    # whole-ish values and near-multiples of the test factors
    values += [float(rng.randint(-10**18, 10**18)) for _ in range(100)]
    values += [round(rng.uniform(-1000, 1000), 2) for _ in range(100)]

    specs = [{"multipleOf": m} for m in (0.5, 0.1, 0.25, 0.01, 3, 0.3, 7)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, x double")
    cc = ColumnCompiler()
    kernel = Validator()
    cols = [cc.compile_valid(parse_json(__import__("json").dumps(sp)),
                             F.col("x"), df.schema["x"].dataType).alias(f"s{j}")
            for j, sp in enumerate(specs)]
    got = {r["i"]: r for r in df.select("i", *cols).collect()}
    import math

    problems = []
    for j, sp in enumerate(specs):
        spec = parse_json(__import__("json").dumps(sp))
        for i, v in enumerate(values):
            if math.isinf(v) or math.isnan(v):
                expected = False  # non-finite ⇒ violation (not JSON numbers)
            else:
                expected = not kernel.validate(spec, v)
            if bool(got[i][f"s{j}"]) != expected:
                problems.append(f"mo={sp['multipleOf']} v={v!r}")
    assert not problems, f"{len(problems)} mismatches, first: {problems[:5]}"


def test_wide_literals_compile_and_validate(spark):
    """Self-review r2: multipleOf/const/enum whose exact decimal form
    exceeds 38 digits (e.g. the binary integer of the double 1e40) must
    compile — F.lit of such a Decimal throws at plan-build time — and the
    double column must not 'equal' non-representable neighbors via
    decimal→double literal promotion."""
    cc = ColumnCompiler()
    kernel = Validator()
    df = spark.createDataFrame(
        [(1, 1e40), (2, 5e39), (3, 9007199254740992.0)], "i int, x double")
    dt = df.schema["x"].dataType
    got = {r.i: (r.mo, r.c1, r.c2) for r in df.select(
        "i",
        cc.compile_valid({"multipleOf": 1e40}, F.col("x"), dt).alias("mo"),
        # 2^53+1 is not a double: NO double value may equal it
        cc.compile_valid({"const": 9007199254740993}, F.col("x"), dt).alias("c1"),
        cc.compile_valid({"const": 1e40}, F.col("x"), dt).alias("c2"),
    ).collect()}
    assert got[1] == (True, False, True)     # 1e40 is a multiple of itself
    assert got[2][0] is False                # 5e39 is not
    assert got[3][1] is False                # 2^53 ≠ 2^53+1 (kernel parity)
    assert not kernel.validate({"multipleOf": 1e40}, 1e40)
    assert kernel.validate({"const": 9007199254740993}, 9007199254740992.0)
    # nested (struct) literal path takes the same guarded builder
    sdf = spark.createDataFrame([(1, {"a": 1e40})], "i int, s struct<a: double>")
    ok = sdf.select(cc.compile_valid({"const": {"a": 1e40}}, F.col("s"),
                                     sdf.schema["s"].dataType).alias("ok")) \
            .collect()[0].ok
    assert ok is True


def test_long_chains_in_one_check_compile(spark):
    """A ``const`` over a 300-element array or a 300-field struct, a
    300-field ``minProperties`` count and a 299-branch ``anyOf`` each
    chain hundreds of operands in one check; they run and match the
    kernel (a left-deep chain that long overflows Spark's parser)."""
    n = 300
    cc = ColumnCompiler()
    kernel = Validator()
    arr = list(range(n))
    fields = ", ".join(f"f{i}: int" for i in range(n))
    df = spark.createDataFrame(
        [(1, arr, tuple(arr)), (2, arr[:-1] + [0], tuple([None] * n))],
        f"i int, a array<int>, s struct<{fields}>")
    obj = {f"f{i}": i for i in range(n)}
    specs = [("a", {"const": arr}), ("s", {"const": obj}),
             ("s", {"minProperties": n}),
             ("a", {"anyOf": [{"minItems": k, "maxItems": k}
                              for k in range(1, n)]})]
    docs = {1: {"a": arr, "s": obj}, 2: {"a": arr[:-1] + [0], "s": {}}}
    cols = [cc.compile_valid(spec, F.col(c), df.schema[c].dataType)
            .alias(f"v{j}") for j, (c, spec) in enumerate(specs)]
    for r in df.select("i", *cols).collect():
        assert [r[f"v{j}"] for j in range(len(specs))] == [
            not kernel.validate(spec, docs[r.i][c]) for c, spec in specs], r.i
