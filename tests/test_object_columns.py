"""Object keywords compiled over StructType / MapType columns (SURVEY.md
§2.2 object table), cross-checked against the semantics kernel."""

from pyspark.sql import functions as F

from sparkschema.compiler.columns import ColumnCompiler
from sparkschema.spec.interpreter import Validator


def _valid_col(spark, df, spec):
    cc = ColumnCompiler()
    return df.select("i", cc.compile_valid(spec, F.col("x"),
                                           df.schema["x"].dataType).alias("ok"))


def test_struct_column_properties_and_required(spark):
    df = spark.createDataFrame(
        [(0, ("img-1", 64)), (1, ("", 64)), (2, (None, 64)), (3, ("img-4", 0))],
        "i int, x struct<name string, w int>")
    spec = {"type": "object",
            "properties": {"name": {"type": "string", "minLength": 1},
                           "w": {"type": "integer", "minimum": 1}},
            "required": ["name"]}
    got = {r.i: r.ok for r in _valid_col(spark, df, spec).collect()}
    assert got == {0: True, 1: False, 2: False, 3: False}


def test_map_column_keywords_match_kernel(spark):
    rows = [
        (0, {"a": 1, "b": 2}),
        (1, {"a": -1}),
        (2, {"zz_weird": 5}),
        (3, {}),
        (4, {"a": 1, "b": 2, "c": 3, "d": 4}),
        (5, {"a": 1, "extra": 9}),
    ]
    df = spark.createDataFrame(rows, "i int, x map<string,int>")
    specs = [
        {"type": "object", "required": ["a"]},
        {"properties": {"a": {"minimum": 0}}},
        {"minProperties": 1, "maxProperties": 3},
        {"propertyNames": {"maxLength": 2}},
        {"patternProperties": {"^[ab]$": {"minimum": 0}}},
        {"properties": {"a": {}}, "additionalProperties": False},
        {"properties": {"a": {}}, "additionalProperties": {"maximum": 5}},
        {"dependencies": {"a": ["b"]}},
        # a key pattern that compiles in neither form is skipped, as in
        # the kernel, not refused
        {"patternProperties": {"(": {"maximum": 0}}},
        {"patternProperties": {"(": {"maximum": 0}},
         "additionalProperties": False},
    ]
    cc = ColumnCompiler()
    kernel = Validator()
    cols = [cc.compile_valid(s, F.col("x"), df.schema["x"].dataType).alias(f"s{j}")
            for j, s in enumerate(specs)]
    got = {r.i: r for r in df.select("i", *cols).collect()}
    problems = []
    for j, spec in enumerate(specs):
        for i, value in rows:
            expected = not kernel.validate(spec, value)
            if bool(got[i][f"s{j}"]) != expected:
                problems.append(f"spec={spec} value={value}: "
                                f"columnar={got[i][f's{j}']} kernel={expected}")
    assert not problems, "\n".join(problems)


def test_map_violation_rows(spark):
    from sparkschema.compiler.table import compile_table_spec

    df = spark.createDataFrame([(1, {"k": 200}), (2, {"x": 1})],
                               "id int, x map<string,int>")
    spec = {"properties": {"x": {"type": "object", "required": ["k"],
                                 "properties": {"k": {"maximum": 100}}}}}
    cts = compile_table_spec(spec, df, key_cols=["id"])
    got = {(r.id, r.keyword): r for r in cts.violations(df).collect()}
    assert set(got) == {("1", "maximum"), ("2", "required")}
    assert got[("1", "maximum")].instance_path == "/x/k"
    assert got[("2", "required")].msg == "Property k missing."
