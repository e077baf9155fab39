"""Violation report sinks — the analog of the reference's ``toJson`` error
rendering (internal/SchemaUtil.scala:52-66, package.scala:154-156) plus
engine-scale persistence.

The collected JSON report caps examples per check with a window
``row_number() <= k`` (the engine's only window use — SURVEY.md §2.5);
full violations persist as parquet (Iceberg when available) for
downstream joins.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def capped_examples(violations: DataFrame, per_check: int = 10) -> DataFrame:
    """At most ``per_check`` violation rows per (keyword, instance_path)."""
    w = Window.partitionBy("keyword", "instance_path") \
              .orderBy(*violations.columns[:1])
    return (violations.withColumn("__rn", F.row_number().over(w))
                      .where(F.col("__rn") <= per_check).drop("__rn"))


def json_report(violations: DataFrame, table_verdicts: list[dict] | None = None,
                per_check: int = 10) -> str:
    """Driver-side JSON report: per-check totals + capped examples.

    Totals come from one aggregation; only the capped examples are
    collected — safe at any violation volume."""
    totals = [r.asDict() for r in
              violations.groupBy("keyword", "instance_path")
                        .agg(F.count(F.lit(1)).alias("count"))
                        .orderBy(F.desc("count"), "keyword", "instance_path")
                        .collect()]
    examples = [r.asDict() for r in capped_examples(violations, per_check).collect()]
    return json.dumps({
        "checks": totals,
        "examples": examples,
        "table_verdicts": table_verdicts or [],
    }, default=str, indent=2)


def to_reference_json(violations: DataFrame, limit: int = 1000) -> str:
    """Render violations in the reference's ``toJson`` array shape
    (SchemaUtil.scala:52-66): one object per violation with camelCase keys
    ``keyword / schemaPath / instancePath / value / msgs`` plus the nested
    ``errors`` object and ``resolutionScope``/``referrer`` when present
    (Results.scala:42-43). ``limit`` bounds the driver collect."""
    rows = violations.limit(limit).collect()
    out = []
    for r in rows:
        d = r.asDict()
        # "value" embeds the actual JSON value (createErrorObject puts the
        # JsValue itself, not a string rendering); the stored field is
        # compact JSON for kernel-path rows, a plain rendering for columnar
        # ones — parse when parseable, fall back to the raw string.
        # Known ambiguity: a columnar STRING value whose text parses as
        # JSON ("123", "true") is emitted typed; distinguishing it would
        # require the columnar path to store JSON-quoted renderings, which
        # the range_violations oracle pins as plain strings.
        raw = d.get("value")
        try:
            value = json.loads(raw) if raw is not None else None
        except (json.JSONDecodeError, TypeError):
            value = raw
        # "errors" is always present (empty object when no sub-errors)
        try:
            errors = json.loads(d["errors"]) if d.get("errors") else {}
        except (json.JSONDecodeError, TypeError):
            errors = {"raw": d["errors"]}
        obj = {
            "keyword": d.get("keyword"),
            "schemaPath": d.get("schema_path"),
            "instancePath": d.get("instance_path"),
            "value": value,
            "msgs": [d.get("msg")],
            "errors": errors,
        }
        if d.get("resolution_scope"):
            obj["resolutionScope"] = d["resolution_scope"]
        if d.get("referrer"):
            obj["referrer"] = d["referrer"]
        out.append(obj)
    return json.dumps(out, indent=2, default=str)


def write_violations(violations: DataFrame, path: str,
                     fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Persist the full violations table (partitioned by keyword so
    downstream per-check reads prune files)."""
    violations.write.mode(mode).partitionBy("keyword").format(fmt).save(path)
