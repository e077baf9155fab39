"""Report sinks (§2.1 sink analog), spec JSON round-trip (§2.9), and the
extension surface (§2.8): custom formats, message-catalog override."""

import json

from pyspark.sql import functions as F

from sparkschema.compiler.table import compile_table_spec
from sparkschema.plans.report import capped_examples, json_report, write_violations
from sparkschema.spec.registry import SpecRegistry


def _violations(spark):
    df = spark.createDataFrame([(i, i % 50) for i in range(200)], "id long, v int")
    cts = compile_table_spec({"properties": {"v": {"minimum": 10}}}, df,
                             key_cols=["id"])
    return cts.violations(df)


def test_capped_examples_and_json_report(spark):
    v = _violations(spark)
    assert v.count() == 40  # v in 0..9 → 4 cycles × 10
    capped = capped_examples(v, per_check=5)
    assert capped.count() == 5
    rep = json.loads(json_report(v, table_verdicts=[{"check": "x", "pass": True}],
                                 per_check=5))
    assert rep["checks"][0]["count"] == 40
    assert len(rep["examples"]) == 5
    assert rep["table_verdicts"] == [{"check": "x", "pass": True}]


def test_write_violations_partitioned(spark, tmp_path):
    v = _violations(spark)
    path = str(tmp_path / "viols")
    write_violations(v, path)
    back = spark.read.parquet(path)
    assert back.count() == 40
    assert {r.keyword for r in back.select("keyword").distinct().collect()} == {"minimum"}


def test_spec_json_roundtrip():
    reg = SpecRegistry()
    spec = {"type": "object", "properties": {"w": {"minimum": 1}},
            "required": ["w"]}
    reg.add_schema("urn:x", spec)
    again = json.loads(reg.to_json("urn:x"))
    assert again == spec


def test_custom_format_registration():
    """addFormat analog (reference SchemaValidator.scala:75-76)."""
    reg = SpecRegistry()
    reg.add_format("even", lambda v: not isinstance(v, int) or v % 2 == 0)
    errs = reg.validate({"type": "integer", "format": "even"}, 3)
    assert errs and errs[0].keyword == "format"
    assert not reg.validate({"type": "integer", "format": "even"}, 4)
    # unknown formats still pass (DefaultFormats contract)
    assert not reg.validate({"format": "no-such"}, 3)


def test_message_catalog_override():
    """i18n override analog (messages_XX.txt, README.md:148-158)."""
    from sparkschema.spec.interpreter import Validator

    german = {"obj.required.prop": "Eigenschaft {0} fehlt."}
    v = Validator(catalog=german)
    errs = v.validate({"type": "object", "required": ["w"]}, {})
    assert errs[0].msg == "Eigenschaft w fehlt."


def test_columnar_catalog_override(spark):
    df = spark.createDataFrame([(1, None)], "id long, w int")
    cts = compile_table_spec({"required": ["w"], "properties": {}}, df,
                             key_cols=["id"],
                             catalog={"obj.required.prop": "FEHLT: {0}"})
    rows = cts.violations(df).collect()
    assert rows[0].msg == "FEHLT: w"


def test_columnar_custom_format(spark):
    """A caller's Column-building format runs on a typed column, on an
    array element, a map value, the element of a nested array and a
    field of a struct element: wherever a built-in format runs."""
    even = {"even": lambda c: F.length(c) % 2 == 0}
    df = spark.createDataFrame(
        [(1, "ab", ["ab", "cd"], {"k": "ab"}, [["ab"]], [("ab",)]),
         (2, "abc", ["ab", "abc"], {"k": "abc"}, [["ab", "abc"]],
          [("abc",)])],
        "id long, s string, a array<string>, m map<string, string>, "
        "aa array<array<string>>, sa array<struct<t: string>>")
    fmt = {"format": "even"}
    specs = [
        ({"s": fmt}, "format", 2),
        ({"a": {"items": fmt}}, "items", 2),
        ({"a": {"items": [fmt], "additionalItems": fmt}}, "additionalItems",
         2),
        ({"a": {"contains": {"not": fmt}}}, "contains", 1),
        ({"m": {"additionalProperties": fmt}}, "format", 2),
        ({"m": {"patternProperties": {"^k": fmt}}}, "format", 2),
        ({"aa": {"items": {"items": fmt}}}, "items", 2),
        ({"sa": {"items": {"properties": {"t": fmt}}}}, "items", 2),
    ]
    for props, keyword, bad in specs:
        cts = compile_table_spec({"properties": props}, df,
                                 key_cols=["id"], formats=even)
        assert [(r.id, r.keyword) for r in cts.violations(df).collect()] \
            == [(str(bad), keyword)], props
        assert [r.id for r in df.where(cts.row_valid()).collect()] \
            == [3 - bad], props


def test_columnar_literal_reading_like_a_lambda_variable(spark):
    """A column name or a string constant that reads like a lambda
    variable of the compiled text is not taken for one."""
    name = "x_2147483650"
    df = spark.createDataFrame([(1, name), (2, "y")],
                               f"id long, {name} string")
    spec = {"properties": {name: {"const": name, "format": "even"}}}
    cts = compile_table_spec(spec, df, key_cols=["id"],
                             formats={"even": lambda c: F.length(c) > 0})
    assert [(r.id, r.keyword) for r in cts.violations(df).collect()] \
        == [("2", "const")]


def test_url_handler_registration(tmp_path):
    """addUrlHandler analog (reference SchemaValidator.scala:60-67)."""
    p = tmp_path / "s.json"
    p.write_text('{"type": "integer"}')
    reg = SpecRegistry()
    reg.add_schema_from_url(f"file://{p}")
    assert not reg.validate({"$ref": f"file://{p}"}, 5)
    assert reg.validate({"$ref": f"file://{p}"}, "x")
    # custom scheme
    reg2 = SpecRegistry()
    reg2.add_url_handler("mem", lambda url: '{"minimum": 10}')
    reg2.add_schema_from_url("mem:bounds")
    assert reg2.validate({"$ref": "mem:bounds"}, 5)


def test_to_reference_json_shape(spark):
    """Reference toJson parity (SchemaUtil.scala:52-66): camelCase keys,
    msgs array, nested errors object, resolutionScope/referrer when set."""
    import json as _json

    from sparkschema.compiler.table import compile_table_spec
    from sparkschema.plans.report import to_reference_json

    df = spark.createDataFrame([(1, "gif", 3)], "id int, fmt string, w int")
    spec = {"type": "object",
            "properties": {"fmt": {"enum": ["png", "jpg"]},
                           "w": {"maximum": 2}},
            "oneOf": [{"properties": {"w": {"maximum": 5}}},
                      {"properties": {"w": {"minimum": 1}}}]}
    cts = compile_table_spec(spec, df, key_cols=["id"])
    arr = _json.loads(to_reference_json(cts.violations(df)))
    by_kw = {o["keyword"]: o for o in arr}
    e = by_kw["enum"]
    assert set(e) >= {"keyword", "schemaPath", "instancePath", "value", "msgs"}
    assert e["errors"] == {"enum": ["png", "jpg"]}
    assert isinstance(e["msgs"], list) and e["msgs"]
    assert by_kw["oneOf"]["errors"] == {"matched": ["/oneOf/0", "/oneOf/1"]}
    # createErrorObject embeds the actual JSON value and ALWAYS includes
    # "errors" (empty object when there are no sub-errors)
    m = by_kw["maximum"]
    assert m["value"] == 3 and m["errors"] == {}


def test_message_render_java_messageformat_parity():
    """Review find r4 (all three reproduced divergent): substituted
    argument text must never be rescanned for placeholders or quote
    escapes, and a partial catalog overlays the default bundle."""
    from sparkschema.spec.messages import render

    # placeholder injection: instance value '{1}' must survive verbatim
    assert render("str.pattern", "{1}", "P") \
        == "'{1}' does not match pattern 'P'."
    # argument quotes unmangled ('' collapse is template-only)
    assert render("obj.required.prop", "it''s") == "Property it''s missing."
    # partial catalog falls back to the default bundle
    assert render("obj.required.prop", "x",
                  catalog={"custom.key": "zz"}) == "Property x missing."
    # catalog override still wins for its own key
    assert render("obj.required.prop", "x",
                  catalog={"obj.required.prop": "need {0}!"}) == "need x!"
