"""Round-4 regressions (ADVICE r3):

1. multipleOf with a binary-representable mo of scale > 18 (e.g. 2^-20,
   scale 20) must be pathological for the VARIANT compiler — the vscale>18
   "never a multiple" tier only holds when scale(mo) <= 18.
2. DOUBLE-stored variants must never be captured by the decimal-window
   tiers (decimal(38,18) extraction ROUNDS the double before comparing) —
   minimum/maximum/type:integer on e-notation JSON route through the
   kernel-exact double branches.
3. e-notation differential lane: the old fuzz lanes render plain JSON
   only, so DOUBLE-stored variants were never fuzzed. This lane forces
   e-notation texts (always DOUBLE in VARIANT) and checks the verdict
   against the kernel on the double value.
"""

import math
import random

from pyspark.sql import functions as F

from sparkschema.compiler.variantcol import (VariantUnsupported,
                                             json_valid_auto,
                                             variant_valid_column)
from sparkschema.spec.interpreter import Validator

SEED = 20260817


def _verdicts(spark, texts, spec):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, j string")
    rows = df.select("i", variant_valid_column("j", spec).alias("ok")).collect()
    return {r.i: r.ok for r in rows}


def test_binary_multiple_of_scale_gt18_falls_back(spark):
    # 2^-20 is binary-representable but scale 20: the VARIANT compiler
    # must refuse (ADVICE r3: 3*2^-20 stored DECIMAL(20,20) was flagged)
    spec = {"multipleOf": 2 ** -20}
    try:
        variant_valid_column("j", spec)
        raise AssertionError("expected VariantUnsupported for scale-20 mo")
    except VariantUnsupported:
        pass

    # json_valid_auto falls back to the kernel and gets it right
    texts = ["0.00000286102294921875",     # 3 * 2^-20 — a multiple
             "0.00000286102294921876",     # not a multiple
             "0.0000028610229492187500"]   # trailing zeros, still a multiple
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, j string")
    got = {r.i: r.ok for r in
           df.select("i", json_valid_auto("j", spec).alias("ok")).collect()}
    assert got == {0: True, 1: False, 2: True}


def test_double_stored_variant_skips_decimal_tiers(spark):
    # ADVICE r3 repro: 9.999999999999998e-4 is DOUBLE-stored; its
    # decimal(38,18) extraction rounds to 0.001 and the old first tier
    # declared it >= 0.001
    got = _verdicts(spark, ["9.999999999999998e-4", "1.0000000000000002e-3",
                            "1e-3"],
                    {"minimum": 0.001})
    assert got == {0: False, 1: True, 2: True}

    # type:integer — 1e-19 extracted at scale 18 rounds to 0 and "was"
    # an integer
    got = _verdicts(spark, ["1e-19", "1e0", "1.5e0", "1e21"],
                    {"type": "integer"})
    assert got == {0: False, 1: True, 2: False, 3: True}

    # non-fits bound branches (|bound| >= 1e20): double-stored values must
    # reach the direction-aware double comparator, not the n_cmp constant
    got = _verdicts(spark, ["5e20", "2e21"], {"minimum": 10 ** 21})
    assert got == {0: False, 1: True}


def test_enotation_double_differential_fuzz(spark):
    """Seeded lane over DOUBLE-stored variants: e-notation texts force
    DOUBLE storage in VARIANT; the kernel verdict on the parsed double is
    the expectation (both sides see the identical IEEE value, so the
    documented e-notation parse divergence does not apply)."""
    rng = random.Random(SEED)
    kernel = Validator()

    vals = [9.999999999999998e-4, 1e-19, 1.0000000000000002, 0.001, 0.1,
            0.3, 0.25, 1e20, 1e21, 1e26, 5e20, float(2 ** 53),
            float(2 ** 53 + 2), -9.223372036854776e18, 2147483647.0,
            2147483648.0, -0.0, 7.0, -5.5, 0.30000000000000004,
            123456789012345678901.5]
    for _ in range(20):
        vals.append(rng.uniform(-1000, 1000))
        vals.append(rng.uniform(-1, 1) * 10.0 ** rng.randint(-25, 25))

    from decimal import Decimal
    specs = [{"minimum": 0.001}, {"maximum": 0.001}, {"minimum": 1},
             {"exclusiveMinimum": 0.3}, {"exclusiveMaximum": 0.1},
             {"minimum": 10 ** 21}, {"maximum": 10 ** 20},
             {"maximum": Decimal("0.99999999999999999999")},
             {"minimum": Decimal("123456789012345678901.5")},
             {"type": "integer"}, {"type": "number"},
             {"multipleOf": 1}, {"multipleOf": 0.25},
             {"multipleOf": Decimal("0.05")}, {"multipleOf": 2},
             {"const": 0.001}, {"const": 1e20}, {"enum": [0.1, 7, 1e26]},
             {"format": "int32"}, {"format": "int64"},
             {"minimum": 0, "maximum": 100, "multipleOf": 7},
             {"minimum": 7, "exclusiveMinimum": True}]
    for _ in range(10):
        kw = rng.choice(["minimum", "maximum", "exclusiveMinimum",
                         "exclusiveMaximum", "multipleOf", "const"])
        n = rng.choice(vals[:20])
        if kw == "multipleOf":
            n = abs(n) or 1.0
        specs.append({kw: n})

    texts = [f"{v:.17e}" for v in vals]  # always e-notation => DOUBLE
    assert all(float(t) == v for t, v in zip(texts, vals))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, j string")
    cols, live = [], []
    for j, spec in enumerate(specs):
        try:
            cols.append(variant_valid_column("j", spec).alias(f"v{j}"))
            live.append(j)
        except VariantUnsupported:
            pass
    got = {r.i: r for r in df.select("i", *cols).collect()}

    problems = []
    for j in live:
        for i, v in enumerate(vals):
            expected = not kernel.validate(specs[j], v)
            g = got[i][f"v{j}"]
            if bool(g) != expected:
                problems.append(f"spec={specs[j]} v={v!r} text={texts[i]}: "
                                f"got={g} kernel={expected}")
    assert not problems, (f"{len(problems)} divergences, first 10:\n"
                          + "\n".join(problems[:10]))


def test_grapheme_live_java_differential(spark):
    """Compile a tiny BreakIterator harness and differentially fuzz the
    Python fold AND the Catalyst twin against the actual JVM rules
    (VERDICT r3 #4 done-criterion — covers the Hangul L/V/T conjoining
    tail plus mark gating and Devanagari clusters). Skipped when no JDK
    compiler is available."""
    import random
    import shutil
    import subprocess
    import tempfile
    import textwrap

    import pytest as _pytest

    if not shutil.which("javac") or not shutil.which("java"):
        _pytest.skip("no JDK in PATH")

    src = textwrap.dedent("""
        import java.text.BreakIterator;
        import java.io.BufferedReader;
        import java.io.InputStreamReader;
        public class GraphemeCount {
            public static void main(String[] a) throws Exception {
                BufferedReader r = new BufferedReader(
                    new InputStreamReader(System.in, "UTF-8"));
                BreakIterator bi = BreakIterator.getCharacterInstance();
                String line; StringBuilder out = new StringBuilder();
                while ((line = r.readLine()) != null) {
                    StringBuilder sb = new StringBuilder();
                    if (!line.isEmpty())
                        for (String tok : line.trim().split(" "))
                            sb.appendCodePoint(Integer.parseInt(tok, 16));
                    bi.setText(sb.toString());
                    int n = 0;
                    while (bi.next() != BreakIterator.DONE) n++;
                    out.append(n).append('\\n');
                }
                System.out.print(out);
            }
        }
    """)
    tmp = tempfile.mkdtemp(prefix="graphemejava")
    with open(f"{tmp}/GraphemeCount.java", "w") as f:
        f.write(src)
    subprocess.run(["javac", "GraphemeCount.java"], cwd=tmp, check=True)

    from pyspark.sql import functions as F

    from sparkschema.compiler import sqltext as S
    from sparkschema.compiler.columns import grapheme_length_sql
    from sparkschema.spec.jsonvalue import grapheme_length

    alpha = [0x61, 0x31, 0x20, 0x09, 0x0D, 0x0A, 0x7F, 0x200D, 0x200C,
             0xFEFF, 0x2028, 0xAD, 0x301, 0x488, 0x903, 0x93C, 0x93E,
             0x941, 0x94D, 0x902, 0x951, 0x915, 0x939, 0x958, 0x905,
             0x1100, 0x115F, 0x1160, 0x11A7, 0x11A8, 0x11FF, 0xA960,
             0xD7B0, 0xD7CB, 0xAC00, 0xAC01, 0x3165, 0x1F600, 0x1F1E6,
             0xFE0F, 0x30AB, 0x3099, 0x0E01, 0x0E48, 0x628, 0x64E,
             0x591, 0xFFFD, 0x378]
    rng = random.Random(20260817)
    cases = ["".join(chr(rng.choice(alpha))
                     for _ in range(rng.randint(0, 8)))
             for _ in range(1500)]
    inp = "\n".join(" ".join(f"{ord(ch):x}" for ch in s)
                    for s in cases) + "\n"
    out = subprocess.run(["java", "-cp", tmp, "GraphemeCount"], input=inp,
                         capture_output=True, text=True, check=True) \
        .stdout.split()
    assert len(out) == len(cases)

    df = spark.createDataFrame(list(enumerate(cases)), "i int, s string")
    sql = {r.i: r.n for r in
           df.select("i", S.over(F.col("s"), grapheme_length_sql).alias("n"))
             .collect()}
    problems = []
    for i, (s, jn) in enumerate(zip(cases, out)):
        if grapheme_length(s) != int(jn):
            problems.append(f"python {[hex(ord(c)) for c in s]}: "
                            f"py={grapheme_length(s)} java={jn}")
        if sql[i] != int(jn):
            problems.append(f"sql {[hex(ord(c)) for c in s]}: "
                            f"sql={sql[i]} java={jn}")
    shutil.rmtree(tmp, ignore_errors=True)
    assert not problems, (f"{len(problems)} divergences, first 10:\n"
                          + "\n".join(problems[:10]))


def test_variant_path_inlines_nonrecursive_refs(spark):
    """$ref specs used to force the Arrow-kernel fallback; non-recursive
    refs now inline at compile time and stay on the zero-Python VARIANT
    path (plan-asserted), while recursive refs still route to the kernel
    with identical verdicts."""
    from sparkschema.spec.registry import SpecRegistry

    reg = SpecRegistry("draft7")
    reg.add_schema("urn:x:limits", {
        "definitions": {"small": {"type": "integer", "maximum": 10}}})
    spec = {
        "type": "object",
        "properties": {
            "a": {"$ref": "urn:x:limits#/definitions/small"},
            "b": {"$ref": "#/definitions/pos"},
        },
        "definitions": {"pos": {"type": "number", "minimum": 0}},
    }
    texts = ['{"a": 5, "b": 1.5}', '{"a": 11, "b": 1}', '{"a": 5, "b": -1}',
             '{"a": 5.5, "b": 0}', '{}']
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, j string")
    col = json_valid_auto("j", spec, registry=reg, strict_spark_parse=True)
    plan = df.select(col.alias("ok"))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "ref'd spec fell off the VARIANT path"
    got = {r.i: r.ok for r in df.select("i", col.alias("ok")).collect()}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: True}

    # recursive ref: kernel fallback, correct verdicts
    rec = {"properties": {"next": {"$ref": "#"}, "v": {"minimum": 0}}}
    texts2 = ['{"v": 1, "next": {"v": 2}}', '{"v": 1, "next": {"v": -2}}']
    df2 = spark.createDataFrame([(i, t) for i, t in enumerate(texts2)],
                                "i int, j string")
    got2 = {r.i: r.ok for r in
            df2.select("i", json_valid_auto("j", rec, registry=reg)
                       .alias("ok")).collect()}
    assert got2 == {0: True, 1: False}


def test_enotation_compound_differential_fuzz(spark):
    """DOUBLE-stored variants nested inside objects/arrays: the compound
    keyword paths (properties / items / tuple / patternProperties /
    contains) route numbers through the same tiered comparators — this
    lane pins the exact_t gating there too. Kernel expectation is
    computed on the Python object with float leaves (identical IEEE
    values on both sides)."""
    import random as _random

    rng = _random.Random(SEED + 1)
    kernel = Validator()

    nums = [9.999999999999998e-4, 1e-19, 1.0000000000000002, 0.001, 0.1,
            0.25, 1e20, 1e21, 5e20, float(2 ** 53 + 2),
            -9.223372036854776e18, 7.0, -5.5, 0.30000000000000004]
    for _ in range(8):
        nums.append(rng.uniform(-1, 1) * 10.0 ** rng.randint(-22, 22))

    def render(v):
        if isinstance(v, float):
            return f"{v:.17e}"
        if isinstance(v, list):
            return "[" + ", ".join(render(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ", ".join(f'"{k}": {render(x)}'
                                   for k, x in v.items()) + "}"
        raise AssertionError(v)

    docs = []
    for i in range(30):
        a, b, c = rng.choice(nums), rng.choice(nums), rng.choice(nums)
        docs.append({"a": a, "arr": [b, c]})

    inner = [{"minimum": 0.001}, {"maximum": 0.1}, {"type": "integer"},
             {"multipleOf": 0.25}, {"exclusiveMinimum": 0.3},
             {"minimum": 10 ** 21}, {"format": "int64"},
             {"const": 0.001}, {"enum": [0.1, 7, 1e20]}]
    specs = []
    for s in inner:
        specs.append({"properties": {"a": s}})
        specs.append({"properties": {"arr": {"items": s}}})
        specs.append({"properties": {"arr": {"contains": s}}})
    specs.append({"properties": {"arr": {"items": [{"minimum": 0.001},
                                                   {"maximum": 1e20}]}}})
    specs.append({"patternProperties": {"^a$": {"multipleOf": 0.25}}})

    texts = [render(d) for d in docs]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, j string")
    cols, live = [], []
    for j, spec in enumerate(specs):
        try:
            cols.append(variant_valid_column("j", spec).alias(f"v{j}"))
            live.append(j)
        except VariantUnsupported:
            pass
    assert len(live) >= len(specs) - 2  # compound numeric specs compile
    got = {r.i: r for r in df.select("i", *cols).collect()}

    problems = []
    for j in live:
        for i, d in enumerate(docs):
            expected = not kernel.validate(specs[j], d)
            g = got[i][f"v{j}"]
            if bool(g) != expected:
                problems.append(f"spec={specs[j]} doc={d!r}: got={g} "
                                f"kernel={expected}")
    assert not problems, (f"{len(problems)} divergences, first 10:\n"
                          + "\n".join(problems[:10]))


def test_unique_items_extreme_numbers(spark):
    """Review find r4 (verified live): the single decimal(38,18) canon
    went NULL outside its window, collapsing DISTINCT extremes and
    rounding scale>18 values together."""
    kernel = Validator()
    texts = [
        "[1e300, 2e300]",                                   # distinct
        "[100000000000000000000, 200000000000000000000]",   # distinct wide
        "[1e-19, 2e-19]",                                   # distinct fine
        "[1e300, 1e300]",                                   # duplicate
        "[100000000000000000000, 100000000000000000000]",   # duplicate
        "[1.0, 1]",                                         # duplicate (1.0=1)
        "[1, true]",                                        # distinct (no coercion)
        "[0.5, 0.50]",                                      # duplicate
        '[1.5, "1.5"]',                                     # distinct types
    ]
    spec = {"uniqueItems": True}
    df = spark.createDataFrame(list(enumerate(texts)), "i int, j string")
    got = {r.i: r.ok for r in
           df.select("i", variant_valid_column("j", spec).alias("ok"))
             .collect()}
    import json as _json
    for i, t in enumerate(texts):
        expected = not kernel.validate(spec, _json.loads(t))
        assert bool(got[i]) == expected, (t, got[i], expected)


def test_invalid_pattern_does_not_crash_variant_path(spark):
    """Review find r4 (verified live): an uncompilable regex threw a
    SparkRuntimeException at rlike evaluation, killing the whole job;
    the kernel emits str.invalid.pattern (every string value fails)."""
    kernel = Validator()
    bad = "(?<a>x)(?<a>y)"  # duplicate group name: invalid in both engines
    spec = {"pattern": bad}
    df = spark.createDataFrame([(1, '"xy"'), (2, "5")], "i int, j string")
    got = {r.i: r.ok for r in
           df.select("i", json_valid_auto("j", spec).alias("ok")).collect()}
    assert got[1] is False          # kernel: string fails invalid pattern
    assert got[2] is True           # non-strings vacuous
    assert kernel.validate(spec, "xy") and not kernel.validate(spec, 5)

    # propertyNames with numeric formats: vacuous on names, no ANSI crash
    spec2 = {"propertyNames": {"format": "int32"}}
    df2 = spark.createDataFrame([(1, '{"abc": 1}')], "i int, j string")
    ok = df2.select(json_valid_auto("j", spec2).alias("ok")).collect()[0].ok
    assert ok is True
