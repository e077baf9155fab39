"""The VARIANT predicate as SQL text (``compiler/sqltext.py``): string
literals that survive both parser settings and variable substitution,
the public SQL text, non-reference columns, long chains, and the path
``json_valid_auto`` logs."""

import json
import logging

import pytest
from pyspark.sql import functions as F

from sparkschema.compiler import sqltext as S
from sparkschema.compiler.variantcol import (VariantUnsupported,
                                             json_valid_auto, variant_valid,
                                             variant_valid_column,
                                             variant_valid_sql)
from sparkschema.spec.interpreter import Validator
from sparkschema.spec.jsonvalue import parse_json

# quote, backtick, backslash, dot, dollar, space, non-BMP, substitution
AWKWARD = ["it's", "back`tick", "back\\slash", "dot.ted", "cost$", "$1",
           "two words", "smile \U0001F600", "${spark.app.name}",
           "tab\there", "\\'", "quote\"d"]

SPECS = [
    {"type": "object",
     "properties": {k: {"type": "integer"} for k in AWKWARD},
     "required": AWKWARD[:3]},
    {"enum": AWKWARD},
    {"const": "${spark.app.name}"},
    {"properties": {"s": {"const": "back\\slash"}}},
    {"propertyNames": {"enum": AWKWARD}},
    {"type": "object", "additionalProperties": False,
     "properties": {k: True for k in AWKWARD[:6]}},
    {"dependencies": {"it's": ["back`tick"], "${spark.app.name}": ["$1"]}},
    {"properties": {"s": {"pattern": "^it's\\.x$"}}},
    {"properties": {"s": {"pattern": "^back\\\\slash$"}}},
    {"properties": {"s": {"pattern": "^\\$\\{spark\\.app\\.name\\}$"}}},
    {"properties": {"s": {"pattern": "\U0001F600|two words"}}},
    {"patternProperties": {"^it's": {"type": "integer"},
                           "\\$\\{": {"type": "string"},
                           "\\\\": {"maximum": 0}}},
    {"properties": {"o": {"const": {"it's": [1, "${spark.app.name}"]}}}},
]

DOCS = [json.dumps(d) for d in [
    {k: 1 for k in AWKWARD},
    {k: "x" for k in AWKWARD},
    {"it's": 1, "back`tick": 2, "back\\slash": 3},
    {"it's": 1},
    {"${spark.app.name}": 1, "$1": 2},
    {"${spark.app.name}": "x", "back\\slash": 5},
    {"s": "it's.x"}, {"s": "it'sxx"}, {"s": "back\\slash"},
    {"s": "${spark.app.name}"}, {"s": "two words"}, {"s": "smile \U0001F600"},
    {"o": {"it's": [1, "${spark.app.name}"]}}, {"o": {"it's": [1, "x"]}},
]] + [json.dumps(k) for k in AWKWARD]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_awkward_strings_match_kernel_under_both_parser_settings(spark,
                                                                 escaped):
    """Property names, enum/const strings and pattern/patternProperties
    values with quotes, backticks, backslashes, dots, dollars, spaces,
    non-BMP characters and a ``${...}`` reference give the kernel's
    verdicts with ``spark.sql.parser.escapedStringLiterals`` off and on."""
    kernel = Validator()
    df = spark.createDataFrame(list(enumerate(DOCS)), "i int, j string")
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        cols = [variant_valid_column("j", s).alias(f"v{n}")
                for n, s in enumerate(SPECS)]
        rows = df.select("i", *cols).orderBy("i").collect()
    finally:
        spark.conf.set(key, before)
    for r in rows:
        doc = parse_json(DOCS[r.i])
        for n, spec in enumerate(SPECS):
            assert r[f"v{n}"] == (not kernel.validate(spec, doc)), \
                (escaped, DOCS[r.i], spec)


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_quoted_strings_read_back_unchanged(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        for s in AWKWARD:
            text = S.quote(s)
            assert "${" not in text and "\\" not in text
            got = spark.range(1).select(F.expr(text).alias("s")).first().s
            assert got == s
    finally:
        spark.conf.set(key, before)


def test_a_lone_surrogate_is_unsupported():
    with pytest.raises(VariantUnsupported):
        variant_valid_sql({"const": "\ud800"})


SPEC = {"type": "object", "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0},
                       "t": {"enum": ["a", "b"]}}}
ROWS = [(0, '{"k": 1, "t": "a"}'), (1, '{"k": -1}'), (2, '{"t": "c"}'),
        (3, "not json"), (4, None), (5, '{"k": 2.5}')]


def test_variant_valid_sql_runs_as_is(spark):
    """The public SQL text gives ``variant_valid_column``'s verdicts in
    ``F.expr`` and in ``spark.sql``."""
    df = spark.createDataFrame(ROWS, "i int, doc string")
    want = {r.i: r.ok for r in
            df.select("i", variant_valid_column("doc", SPEC).alias("ok"))
            .collect()}
    text = variant_valid_sql(SPEC)
    got = {r.i: r.ok for r in
           df.select("i", F.expr(text).alias("ok")).collect()}
    assert got == want == {0: True, 1: False, 2: False, 3: False, 4: None,
                           5: False}
    df.createOrReplaceTempView("variant_sql_docs")
    via_sql = {r.i: r.ok for r in spark.sql(
        f"SELECT i, {text} AS ok FROM variant_sql_docs").collect()}
    assert via_sql == want
    with pytest.raises(VariantUnsupported):
        variant_valid_sql({"multipleOf": 1e-20})


def test_any_column_not_only_a_reference(spark):
    """A Column that is not a plain reference — an expression, a lambda
    variable — is bound once and gives the same verdicts."""
    df = spark.createDataFrame(ROWS, "i int, doc string") \
        .withColumn("v", F.try_parse_json("doc"))
    got = df.select(
        "i",
        variant_valid_column("doc", SPEC).alias("by_name"),
        F.get(F.transform(F.array("doc"),
                          lambda x: variant_valid_column(x, SPEC)), 0)
        .alias("in_lambda"),
        variant_valid_column(F.concat(F.col("doc"), F.lit("")), SPEC)
        .alias("expression"),
        variant_valid(F.col("v"), SPEC).alias("v_by_name"),
        variant_valid(F.try_parse_json("doc"), SPEC).alias("v_expression"),
    ).collect()
    for r in got:
        assert r.by_name == r.in_lambda == r.expression, r
        assert r.v_by_name == r.v_expression, r


def test_long_chains_compile_and_match_kernel(spark):
    """An enum and a property list far longer than the left-deep chain
    limit become balanced trees and keep the kernel's verdicts."""
    specs = [{"enum": [f"e{i}" for i in range(400)] + [7]},
             {"properties": {f"p{i}": {"type": "integer"}
                             for i in range(150)},
              "required": [f"p{i}" for i in range(0, 150, 3)]}]
    docs = ['"e0"', '"e399"', '"e400"', "7", "8",
            json.dumps({f"p{i}": i for i in range(150)}),
            json.dumps({f"p{i}": "x" for i in range(150)}),
            json.dumps({"p1": 1})]
    df = spark.createDataFrame(list(enumerate(docs)), "i int, j string")
    rows = df.select("i", *[variant_valid_column("j", s).alias(f"v{n}")
                            for n, s in enumerate(specs)]).collect()
    kernel = Validator()
    for r in rows:
        for n, spec in enumerate(specs):
            assert r[f"v{n}"] == (not kernel.validate(spec,
                                                      parse_json(docs[r.i])))


def test_json_valid_auto_logs_the_path_it_took(spark, caplog):
    caplog.set_level(logging.DEBUG, logger="sparkschema")

    def one_record(**kw):
        caplog.clear()
        json_valid_auto("j", **kw)
        recs = [r for r in caplog.records if r.name.startswith("sparkschema")]
        assert len(recs) == 1, recs
        assert recs[0].levelno == logging.DEBUG
        return recs[0].getMessage()

    msg = one_record(schema={"type": "integer"})
    assert "VARIANT" in msg and "duplicate keys" in msg
    msg = one_record(schema={"type": "integer"}, strict_spark_parse=True)
    assert "VARIANT" in msg and "strict_spark_parse" in msg
    msg = one_record(schema={"multipleOf": 1e-20})
    assert "Arrow kernel" in msg and "pathological multipleOf" in msg


def test_deep_nesting_takes_the_kernel_past_the_analyzer_limit(spark, caplog):
    """Spark's analyzer resolves a VARIANT verdict in at most 100
    iterations, and nested ``properties`` level j costs j + 2 of them:
    12 and 15 levels take the Arrow kernel (and its verdicts) instead of
    failing in analysis; 11 levels still take VARIANT."""
    caplog.set_level(logging.DEBUG, logger="sparkschema")
    kernel = Validator()

    def nest(k, inner):
        for _ in range(k):
            inner = {"a": inner}
        return inner

    for k in (11, 12, 15):
        spec = {"type": "integer", "minimum": 0}
        for _ in range(k):
            spec = {"properties": {"a": spec}}
        docs = [json.dumps(nest(k, v)) for v in (1, -1, "x", 2.5)] + [
            json.dumps(nest(k - 1, 5)), "{}", "[1]", "7"]
        df = spark.createDataFrame(list(enumerate(docs)), "i int, j string")
        caplog.clear()
        col = json_valid_auto("j", spec)
        msgs = [r.getMessage() for r in caplog.records
                if r.name.startswith("sparkschema")]
        assert len(msgs) == 1, msgs
        if k == 11:
            assert msgs[0].startswith("json_valid_auto: VARIANT;"), msgs
        else:
            assert "Arrow kernel for every row" in msgs[0], msgs
            assert "too deep" in msgs[0], msgs
        rows = df.select("i", col.alias("v")).collect()
        assert len(rows) == len(docs)
        for r in rows:
            want = not kernel.validate(spec, parse_json(docs[r.i]))
            assert r.v == want, (k, docs[r.i])
