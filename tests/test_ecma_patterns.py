"""ECMA-262 pattern dialect shim: known-divergent constructs must behave
like Nashorn's RegExpFactory (reference StringValidators.scala:16-50) on
all three evaluation paths — the kernel (Python re), typed columns and
VARIANT columns (Java rlike) — and only ``spec/ecma_pattern.py`` decides
which regex each path runs."""

import ast
import json
import pathlib

import pytest
from pyspark.sql import functions as F

import sparkschema
from sparkschema.compiler.columns import ColumnCompiler
from sparkschema.compiler.variantcol import (VariantUnsupported,
                                             json_valid_auto,
                                             variant_valid_column)
from sparkschema.spec.ecma_pattern import (UnportablePattern, java_regex,
                                           translate_ecma)
from sparkschema.spec.parser import SpecError
from sparkschema.spec.registry import SpecRegistry

# (pattern, value, ecma_matches) for constructs where raw Python/Java regex
# would disagree with ECMA-262
DIVERGENT_CASES = [
    (r"^\d+$", "١٢٣", False),        # ECMA \d is ASCII; Python re is Unicode
    (r"^\w+$", "naïve", False),      # ECMA \w is ASCII
    (r"a$", "a\n", False),           # ECMA $ = end of input, no trailing-\n grace
    (r"a$", "a", True),
    ("\\cJ", "\n", True),            # control escape (Python re lacks \cX)
    (r"^\s$", " ", True),       # NBSP is ECMA whitespace, not Java \s
    (r"^\s$", "　", True),       # ideographic space
    ("[^]", "anything", True),       # ECMA [^] matches any char
    ("x[]y", "xy", False),           # ECMA [] never matches
    (r"^[\d]+$", "42", True),
    # r3: negated shorthands INSIDE classes expand to complement ranges
    (r"^[\D]+$", "١٢٣", True),       # Arabic-Indic digits are not ASCII \d
    (r"^[\D]+$", "42", False),
    (r"^[\W]+$", "ï", True),         # ECMA \W = non-ASCII-word
    (r"^[\S]+$", " ", False),   # NBSP is ECMA whitespace
    (r"^[\S]+$", "xy", True),
    (r"^[\Dx]+$", "x!", True),       # expansion composes with other members
    (r"^[^\D]+$", "42", True),       # ...and under class negation
    (r"^[^\D]+$", "١٢٣", False),
    # r3: \b boundary uses the ECMA ASCII word set
    (r"\bfoo\b", "caféfoo", True),   # é is non-word in ECMA → boundary
    (r"\bfoo\b", "afoo", False),
    (r"\Bfoo", "afoo", True),
    (r"\Bfoo", "éfoo", False),       # é non-word ⇒ position IS a boundary
    # r4: class backspace, named groups/backrefs, ECMA identity escapes
    (r"[\b]", "\x08", True),         # [\b] is BACKSPACE (Java rejects raw)
    (r"x[\b]y", "xby", False),
    (r"(?<nm>ab)\k<nm>", "abab", True),   # named group + backref
    (r"(?<nm>ab)\k<nm>", "abcd", False),
    (r"(?<=a)b", "ab", True),         # lookbehind untouched by the rewrite
    (r"\q+", "qqq", True),            # Annex B identity escape
    (r"\v", "\x0b", True),           # ECMA \v is VT, not Java's \v class
    (r"\v", " ", False),
    (r"\c1x", "\\c1x", True),         # \c + non-letter: literal "\c"
    (r"^x{,3}$", "xx", False),       # Annex B: {,n} is literal text,
    (r"^x{,3}$", "x{,3}", True),     # not Python's {0,n} quantifier
]


def kernel_matches(pattern, value) -> bool:
    reg = SpecRegistry("draft7")
    return not reg.validate({"pattern": pattern}, value)


@pytest.mark.parametrize("pattern,value,expected", DIVERGENT_CASES)
def test_kernel_matches_ecma_semantics(pattern, value, expected):
    assert kernel_matches(pattern, value) is expected, (pattern, value)


def test_columnar_matches_ecma_semantics(spark):
    cc = ColumnCompiler()
    df = spark.createDataFrame(
        [(i, v) for i, (_, v, _) in enumerate(DIVERGENT_CASES)],
        "i int, s string")
    cols = [cc.compile_valid({"pattern": p}, F.col("s"),
                             df.schema["s"].dataType).alias(f"p{i}")
            for i, (p, _, _) in enumerate(DIVERGENT_CASES)]
    got = {r.i: r for r in df.select("i", *cols).collect()}
    for i, (p, v, expected) in enumerate(DIVERGENT_CASES):
        assert bool(got[i][f"p{i}"]) is expected, (p, v)


def test_variant_matches_ecma_semantics(spark):
    """Third path over the same table, in parity with the kernel: each row
    through ``variant_valid_column``, or ``json_valid_auto`` where the
    pattern is not VARIANT-native."""
    df = spark.createDataFrame(
        [(i, json.dumps(v)) for i, (_, v, _) in enumerate(DIVERGENT_CASES)],
        "i int, j string")
    cols = []
    for i, (p, _, _) in enumerate(DIVERGENT_CASES):
        try:
            c = variant_valid_column("j", {"pattern": p})
        except VariantUnsupported:
            c = json_valid_auto("j", {"pattern": p})
        cols.append(c.alias(f"p{i}"))
    got = {r.i: r for r in df.select("i", *cols).collect()}
    for i, (p, v, expected) in enumerate(DIVERGENT_CASES):
        assert bool(got[i][f"p{i}"]) is expected is kernel_matches(p, v), \
            (p, v)


def test_table_spec_accepts_ecma_only_patterns(spark):
    """The parser rejects only what the kernel cannot compile: ECMA named
    groups/backreferences and ``\\cX`` parse and give the kernel's
    verdicts; a pattern that compiles in no form still fails at parse."""
    from sparkschema.compiler.table import compile_table_spec

    cases = [(r"^(?<y>[0-9]{4})-\k<y>$", ["2024-2024", "2024-2025"]),
             (r"^\cJ$", ["\n", "J"])]
    for pat, values in cases:
        df = spark.createDataFrame([(v,) for v in values], "s string")
        spec = {"type": "object",
                "properties": {"s": {"type": "string", "pattern": pat}}}
        cts = compile_table_spec(spec, df, key_cols=["s"])
        bad = {r.value for r in cts.violations(df).collect()}
        assert bad == {v for v in values if not kernel_matches(pat, v)}, pat
        assert len(bad) == 1, pat
    df = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(SpecError, match="invalid pattern"):
        compile_table_spec({"properties": {"s": {"pattern": "("}}}, df,
                           key_cols=["s"])


def test_typed_invalid_pattern_reports_kernel_message(spark):
    """A pattern that compiles in no form fails every string on a typed
    column with the kernel's ``str.invalid.pattern`` row."""
    from pyspark.sql import types as T

    from sparkschema.spec.interpreter import Validator

    [chk] = ColumnCompiler().compile_checks(
        {"pattern": "("}, F.col("s"), T.StringType(), "#", "/")
    df = spark.createDataFrame([("x",), (None,)], "s string")
    got = df.select(chk.fail.alias("f"), chk.msg.alias("m")).collect()
    [want] = Validator().validate({"pattern": "("}, "x")
    assert [(r.f, r.m) for r in got] == [(True, want.msg), (False, want.msg)]


# ------------------------------------------------------ Java regex gate

# Python compiles the translation of a non-ASCII group name; Java
# requires [A-Za-z][A-Za-z0-9]*
_PY_ONLY_PATTERN = "(?<nmü>x)"


def test_java_regex_compile_gate(spark):
    assert java_regex("^a+b$")
    assert java_regex("(") is None          # compiles in no form: skipped
    with pytest.raises(UnportablePattern):
        java_regex(_PY_ONLY_PATTERN)


def test_columnar_pattern_java_invalid_falls_back_to_kernel(spark):
    """A pattern whose Python form compiles but whose Java translation the
    JVM rejects must NOT reach rlike (job crash at evaluation, ADVICE r4);
    the scalar site falls back to an Arrow-batched kernel-dialect match."""
    from sparkschema.compiler.table import compile_table_spec

    df = spark.createDataFrame([("x",), ("y",), (None,)], "s string")
    spec = {"type": "object",
            "properties": {"s": {"type": "string",
                                 "pattern": _PY_ONLY_PATTERN}}}
    cts = compile_table_spec(spec, df, key_cols=["s"])
    rows = cts.violations(df).collect()
    bad = {r.value for r in rows if r.keyword == "pattern"}
    assert bad == {"y"}


def test_variant_pattern_java_invalid_raises_unsupported(spark):
    assert variant_valid_column("j", {"pattern": "^a+$"}) is not None
    with pytest.raises(VariantUnsupported):
        variant_valid_column("j", {"pattern": _PY_ONLY_PATTERN})


def test_patternproperties_java_invalid_loud_compile_error(spark):
    """HOF-embedded sites can't run Python inside the lambda — the guard
    converts the runtime job crash into a compile-time SpecError."""
    from pyspark.sql import types as T

    cc = ColumnCompiler()
    dt = T.MapType(T.StringType(), T.IntegerType())
    assert cc.compile_valid({"patternProperties": {"^v[0-9]+$": {}}},
                            F.col("x"), dt) is not None
    with pytest.raises(SpecError, match="Java form"):
        cc.compile_valid({"patternProperties": {_PY_ONLY_PATTERN: {}}},
                         F.col("x"), dt)
    # the kernel-regex UDF of a ``pattern`` cannot read an array element
    with pytest.raises(SpecError, match="array element or map value"):
        cc.compile_valid({"items": {"pattern": _PY_ONLY_PATTERN}},
                         F.col("a"), T.ArrayType(T.StringType()))


def test_only_ecma_pattern_translates_or_jvm_compiles():
    """No module but ``spec/ecma_pattern.py`` translates an ECMA pattern or
    compiles one on the JVM: every path asks ``kernel_regex`` /
    ``java_regex``."""
    root = pathlib.Path(sparkschema.__file__).parent
    banned = {"translate_ecma", "translate_ecma_checked"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "spec" / "ecma_pattern.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.alias):
                hit = node.name in banned
            elif isinstance(node, ast.Name):
                hit = node.id in banned
            elif isinstance(node, ast.Attribute):
                hit = node.attr in banned or ast.unparse(node).endswith(
                    "regex.Pattern.compile")
            else:
                continue
            if hit:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_java_lone_brace_escaped():
    # ECMA treats a dangling '{' as a literal; Java regex rejects it
    jpat, _ = translate_ecma("a{x", "java")
    assert jpat == r"a\{x"
    jpat2, _ = translate_ecma("a{2,3}", "java")
    assert jpat2 == "a{2,3}"  # real quantifiers untouched
    # {,n} is no quantifier in ECMA: escaped for Python too, which would
    # otherwise read it as {0,n}
    assert translate_ecma("x{,3}", "python")[0] == r"x\{,3}"
    assert translate_ecma("x{,3}", "java")[0] == r"x\{,3}"


def test_formerly_warned_constructs_now_translate():
    # r3 (VERDICT r2 #7): in-class \D/\S/\W and the ASCII \b boundary are
    # fully bridged — no warnings remain for them
    import re as _re

    out, warns = translate_ecma(r"\bfoo\b", "python")
    assert warns == [] and "(?<" in out
    _re.compile(out)
    out2, warns2 = translate_ecma(r"[\D]", "python")
    assert warns2 == []
    # ECMA \D = non-ASCII-digit: é AND the Arabic-Indic digit ٣ are in it
    # (raw Python \D would exclude ٣ — the bridged divergence), 5 is not
    rx = _re.compile(out2)
    assert rx.match("é") and rx.match("٣") and not rx.match("5")
    out3, warns3 = translate_ecma(r"[\S]", "java")
    assert warns3 == [] and "\\x{" in out3   # full-codepoint-range endpoint
    _, none = translate_ecma(r"^[a-z]+$", "python")
    assert none == []


def test_translation_preserves_classes_and_escapes():
    out, _ = translate_ecma(r"[a\]b]\$x$", "python")
    # escaped ] stays in class; escaped $ stays literal; final $ anchors input end
    assert out == r"[a\]b]\$x\Z"


def test_in_class_shorthand_adjacent_to_dash_passthrough(spark):
    """Self-review r2: expanding \\s/\\d inside a class next to '-' would
    fabricate an out-of-order range ('[...\\ufeff-a]') that Java rejects at
    runtime — such patterns must pass through (with a warning) and still
    evaluate with ECMA-compatible membership for ASCII inputs."""
    pat = r"^[\s-a]+$"
    jpat, warns = translate_ecma(pat, "java")
    assert "\\-" in jpat and not warns      # dash escaped; fully bridged
    import re as _re
    out, _ = translate_ecma(pat, "python")
    rx = _re.compile(out)                   # must COMPILE, not crash
    assert rx.search(" -a")
    cc = ColumnCompiler()
    df = spark.createDataFrame([(1, " -a"), (2, "zz")], "i int, s string")
    got = {r.i: r.ok for r in df.select(
        "i", cc.compile_valid({"pattern": pat}, F.col("s"),
                              df.schema["s"].dataType).alias("ok")).collect()}
    assert got == {1: True, 2: False}
    jpat2, _ = translate_ecma(r"[x-\d]", "python")
    _re.compile(jpat2)                      # adjacency guard on the right side


def test_dollar_anchors_every_alternative():
    """Self-review r2: '$' must be ECMA end-of-input in EVERY position,
    not only pattern-final — '^a$|^b$' previously left the first
    alternative with trailing-newline grace."""
    assert not kernel_matches(r"^a$|^b$", "a\n")
    assert kernel_matches(r"^a$|^b$", "a")
    assert kernel_matches(r"^a$|^b$", "b")
    out, _ = translate_ecma(r"^a$|^b$", "java")
    assert out == r"^a\z|^b\z"


def test_bridged_patterns_emit_no_userwarning(spark):
    import warnings as w

    from sparkschema.spec.ecma_pattern import translate_ecma_checked

    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        translate_ecma_checked(r"\bunique-probe-xyzzy\b", "python")
        translate_ecma_checked(r"[\D\S\W]", "python")
        translate_ecma_checked(r"[\S]", "java")
    assert not [x for x in rec if issubclass(x.category, UserWarning)], \
        [str(x.message) for x in rec]
