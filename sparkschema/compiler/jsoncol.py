"""Dynamic-JSON validation over a string column — the Arrow-batched path.

Typed columns take the pure-Catalyst fast path
(:mod:`sparkschema.compiler.columns`). Arbitrary, recursively-nested JSON
documents (the reference's native input — one ``JsValue`` per call,
SURVEY.md §1.1) cannot be expressed with built-in operators at full
draft-4/7 fidelity (recursive ``$ref``, tuple ``items``, JSON deep-equality
``uniqueItems``), so this module wraps the semantics kernel
(:mod:`sparkschema.spec.interpreter`) in a **vectorized pandas UDF**: Arrow
batch transfer, one Python invocation per ~10k values, validator compiled
once per task (not per row).

The spec and its registry documents travel as plain JSON text in the UDF
closure and are rebuilt lazily worker-side (driver-only compile, SURVEY.md
§3 lifecycle). The validator cache lives in that pickled closure, so each
task rebuilds it; a rebuild costs about 0.1 ms for the benchmark's
``json_documents`` spec. The per-task start-up cost of a Python worker is
elsewhere: PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, and before Python 3.12
that makes every zipimporter re-read its archive's central directory —
on Spark 4.1.2 and Python 3.11, 12 importers over ``pyspark.zip`` (1,328
entries) and 4 over the py4j zip and the ``spark-core`` jar, about
0.3–0.8 CPU-s per task even in a reused worker. The call itself costs
0.06 ms. Both UDFs are marked with :func:`sparkschema._worker.on_load`,
so a worker that loads either — even for a task with no rows — calls
:func:`~sparkschema._worker.ready`, after which it re-reads an archive
only when it changed.

Each UDF runs once per row, in one ArrowEvalPython node, so a task holds
one Python worker per UDF. :func:`validate_json_column` keeps every
filter off the UDF's array: it drops the empty reports after an
``explode_outer``, on the generated column, which Catalyst cannot push
below the Generate. :func:`json_valid_column`'s UDF is nondeterministic,
so a caller's filter on the verdict is not pushed below the projection
that computes it, with a copy of the call.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkschema._worker import on_load

VIOLATION_ARRAY_TYPE = T.ArrayType(T.StructType([
    T.StructField("keyword", T.StringType()),
    T.StructField("schema_path", T.StringType()),
    T.StructField("instance_path", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("msg", T.StringType()),
    # nested sub-errors (compact JSON) + ref metadata, as in the
    # reference's error object (SchemaUtil.scala:28-39, Results.scala:42-43)
    T.StructField("errors", T.StringType()),
    T.StructField("resolution_scope", T.StringType()),
    T.StructField("referrer", T.StringType()),
]))


def _build_validator(schema_text: str, docs_text: str, dialect: str,
                     formats=None):
    """Executor-side: rebuild registry + validator, once per task.
    ``formats`` re-registers the driver registry's custom format checkers
    (shipped through the UDF closure via cloudpickle) — without them,
    ``add_format`` checks silently validated as success on executors
    (unknown format ⇒ pass; review find r4)."""
    from sparkschema.spec.jsonvalue import parse_json
    from sparkschema.spec.refs import Scope
    from sparkschema.spec.registry import SpecRegistry, sniff_dialect

    schema = parse_json(schema_text)
    reg = SpecRegistry(dialect)
    for name, fn in (formats or {}).items():
        reg.add_format(name, fn)
    # parse_json (not json.loads): fractional keyword values must come back
    # as Decimal so is_number()/multipleOf see them (BigDecimal parity).
    for uri, doc in parse_json(docs_text).items():
        reg.add_schema(uri, doc)
    root_uri = "urn:sparkschema:jsoncol"
    reg.index.add_document(root_uri, schema, sniff_dialect(schema, dialect))
    return reg.validator(), schema, Scope(schema, root_uri)


def _make_udfs(schema: Any, registry, dialect: str | None):
    from sparkschema.spec.jsonvalue import dump_json_exact

    # dump_json_exact keeps Decimal keyword values (minimum: 0.5, multipleOf:
    # 0.25, ...) as JSON numbers; json.dumps(default=str) would quote them and
    # the executor-side rebuild would silently drop the keyword.
    schema_text = dump_json_exact(schema) if not isinstance(schema, str) else schema
    docs_text = dump_json_exact(getattr(registry, "_docs", {}) or {})
    # the registry's own dialect wins when the caller didn't name one —
    # a SpecRegistry("draft4") previously validated with draft7 keyword
    # semantics on executors (review find r4)
    dialect = dialect or getattr(registry, "dialect", None) or "draft7"
    formats = dict(getattr(registry, "_formats", {}) or {})

    state: dict[str, Any] = {}

    def get_validator():
        if "v" not in state:
            state["v"] = _build_validator(schema_text, docs_text, dialect,
                                          formats)
        return state["v"]

    @F.pandas_udf(T.BooleanType())
    @on_load
    def is_valid_udf(s):
        import pandas as pd

        from sparkschema.spec.jsonvalue import parse_json
        validator, sch, scope = get_validator()

        def one(txt):
            if txt is None:
                return None
            try:
                value = parse_json(txt)
            except Exception:
                return False  # err.parse.json
            return not validator.validate(sch, value, scope)

        return pd.Series([one(x) for x in s])

    # see json_valid_column: the optimizer must not copy the call into
    # a filter it pushes below the projection that computes it
    is_valid_udf = is_valid_udf.asNondeterministic()

    @F.pandas_udf(VIOLATION_ARRAY_TYPE)
    @on_load
    def violations_udf(s):
        import pandas as pd

        from sparkschema.spec.jsonvalue import parse_json
        validator, sch, scope = get_validator()

        def one(txt):
            if txt is None:
                return []
            try:
                value = parse_json(txt)
            except Exception:
                return [("parse", "#", "/", str(txt)[:256],
                         "Could not parse JSON.", "", "", "")]
            return [tuple(v) for v in validator.validate(sch, value, scope)]

        return pd.Series([one(x) for x in s])

    return is_valid_udf, violations_udf


def json_valid_column(json_col: Column | str, schema: Any,
                      registry=None, dialect: str | None = None) -> Column:
    """Boolean Column: does the JSON text in ``json_col`` satisfy ``schema``?

    The kernel UDF is marked nondeterministic, so that it runs once per
    row whatever filter the caller puts on its result: a deterministic
    call is copied into a filter on the result that Catalyst pushes below
    the projection computing it, and the plan then holds two
    ArrowEvalPython nodes, each validating the rows and each holding its
    own Python worker per task. What the mark costs callers (Spark's
    analyzer rules for nondeterministic expressions):

    - in a join condition it fails analysis
      (``INVALID_NON_DETERMINISTIC_EXPRESSIONS``), and inside an
      aggregate function (``sum``, ``count_if`` …) too
      (``AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION``): select
      it as a column first and join or aggregate on that column.
      ``select``, ``where`` and a ``groupBy`` key take it as before;
    - a filter on other columns written after the ``select`` that
      computes it is no longer pushed below the kernel or into the
      scan: the kernel sees every row of the input. Filter first."""
    is_valid_udf, _ = _make_udfs(schema, registry, dialect)
    col = F.col(json_col) if isinstance(json_col, str) else json_col
    return is_valid_udf(col)


def validate_json_column(df: DataFrame, json_col: str, schema: Any,
                         key_cols: list[str] | None = None,
                         registry=None, dialect: str | None = None) -> DataFrame:
    """Violation rows for a JSON-text column: ``(key..., keyword,
    schema_path, instance_path, value, msg)`` — same contract as the
    typed-table path."""
    _, violations_udf = _make_udfs(schema, registry, dialect)
    keys = key_cols or [df.columns[0]]
    # explode_outer, then drop its NULL row for a document with no
    # violation. A filter on the UDF's array (``size(__viol) > 0``), or
    # the one a plain explode has Catalyst infer, is pushed below the
    # projection with a copy of the UDF: two ArrowEvalPython nodes, and
    # every document validated twice. A filter on the generated column
    # stays above the Generate.
    return (
        df.select(*keys, violations_udf(F.col(json_col)).alias("__viol"))
        .select(*keys, F.explode_outer("__viol").alias("v"))
        .where(F.col("v").isNotNull())
        .select(*keys, "v.*")
    )
