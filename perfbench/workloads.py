"""The four workloads: what each registers and compiles at set-up, what one
pass runs, and what of its output the checks read.

A pass is one closed-loop operation: the next starts only after the
previous one has finished. ``run_pass`` is the timed part; ``outputs``
gathers, untimed, the pass results the independent checks compare.
"""

from __future__ import annotations

import copy
import glob
import os

import checks

# ---------------------------------------------------------------------------
# specs

#: the flagship draft-7 spec (the engine's image-metadata table contract)
#: plus the two table-level extensions
TABLE_SPEC = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["image_id", "w", "h", "fmt", "caption"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$",
                     "x-unique": True},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["raw", "rawz", "png", "jpg"],
                "$ref_data": "dim_fmt.fmt"},
        "caption": {"type": "string", "minLength": 1, "maxLength": 1024,
                    "pattern": "^[\\x20-\\x7E]+$"},
        "phash": {"type": "integer", "format": "int64"},
    },
    "if": {"properties": {"fmt": {"const": "jpg"}}},
    "then": {"properties": {"w": {"multipleOf": 8}}},
}

JSON_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "definitions": {
        "box": {
            "type": "object",
            "required": ["label", "bbox"],
            "properties": {
                "label": {"enum": ["cat", "dog", "car", "tree", "person",
                                   "boat", "bird", "sign"]},
                "bbox": {"type": "array", "minItems": 4, "maxItems": 4,
                         "items": {"type": "integer", "minimum": 0}},
            },
        },
        "tag": {"type": "string", "pattern": "^t[0-9]+$"},
    },
    "type": "object",
    "required": ["id", "source", "size", "objects"],
    "properties": {
        "id": {"type": "string", "pattern": "^doc-[0-9]{8}$"},
        "source": {"enum": ["crawl", "vendor", "synthetic", "user"]},
        "size": {"type": "array",
                 "items": [{"type": "integer", "minimum": 1},
                           {"type": "integer", "minimum": 1},
                           {"enum": [1, 3, 4]}],
                 "additionalItems": False},
        "objects": {"type": "array", "minItems": 1,
                    "items": {"$ref": "#/definitions/box"}},
        "tags": {"type": "array", "uniqueItems": True,
                 "items": {"$ref": "#/definitions/tag"}},
        "license": {"type": "string"},
    },
    "if": {"properties": {"source": {"const": "vendor"}}},
    "then": {"required": ["license"]},
}


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


class Workload:
    #: fixed count of untimed passes between the first pass and the timed
    #: passes; chosen from the warm-up curve in README.md
    warmup_passes = 1
    #: warm set-ups per run; ``setup_s`` is the median of their CPU seconds
    setups = 2
    #: timed passes per run at least, however short ``--seconds`` is
    timed_passes = 3

    def __init__(self, input_dir: str, info: dict, work_dir: str, tracer):
        self.input_dir = input_dir
        self.info = info
        self.work_dir = work_dir
        self.tracer = tracer
        self.rows = info["rows"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.input_dir, *parts)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, scope):
        raise NotImplementedError

    def outputs(self, spark, result, scope) -> dict:
        """Untimed: the pass outputs the checks read. A ``layer_counts``
        entry carries per-layer counts for the traced run."""
        return result

    def expect(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict, exp: dict) -> list[str]:
        raise NotImplementedError

    def files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.input_dir, "**", "*.parquet"),
                                recursive=True))


# ---------------------------------------------------------------------------


class TypedTable(Workload):
    # a set-up is short (~0.5 s) and a pass still gets cheaper after the
    # first warm one (README "Warm-up curve")
    warmup_passes = 2
    setups = 5
    timed_passes = 3

    def setup(self, spark) -> None:
        from sparkschema.compiler.table import compile_table_spec

        t = self.tracer
        with t.span("setup.register"):
            self.df = spark.read.parquet(self.path("images"))
            self.dim = spark.read.parquet(self.path("dim_fmt"))
        with t.span("compiler.table.compile"):
            cts = compile_table_spec(TABLE_SPEC, self.df, key_cols=["image_id"])
        t.count("compiler.table.checks", len(cts.checks))
        self.report_dir = os.path.join(self.work_dir, "typed_report")

    def run_pass(self, spark, scope):
        from pyspark.sql import functions as F

        from sparkschema.plans.validation_run import run_validation

        t = self.tracer
        with t.span("validation_run.call"):
            res = run_validation(TABLE_SPEC, self.df, key_cols=["image_id"],
                                 dims={"dim_fmt": self.dim}, scope=scope)
        t.count("compiler.table.checks", len(res.compiled.checks))
        with t.span("validation_run.verdicts"):
            pv = res.partition_verdicts.groupBy("check").agg(
                F.sum(F.col("metrics")["fail_count"]).cast("long").alias("n"),
                F.sum(F.col("metrics")["rows"]).cast("long").alias("rows"))
            rows = pv.collect()
            t.track(pv)
        with t.span("validation_run.report_write"):
            res.violations.write.mode("overwrite").parquet(self.report_dir)
        return {"rows": rows[0]["rows"] if rows else 0,
                "fails": {r["check"]: r["n"] for r in rows},
                "table_verdicts": [
                    {k: (v if not hasattr(v, "item") else v.item())
                     for k, v in tv.items()} for tv in res.table_verdicts]}

    def outputs(self, spark, result, scope) -> dict:
        con = _duck()
        try:
            kw = con.execute(
                f"SELECT keyword, count(*) FROM read_parquet('{self.report_dir}/*.parquet') "
                "GROUP BY keyword").fetchall()
        finally:
            con.close()
        return dict(result, report_keywords={k: n for k, n in kw})

    def expect(self) -> dict:
        con = _duck()
        try:
            return checks.expect_typed(con, self.path("images", "*.parquet"),
                                       self.path("dim_fmt", "*.parquet"))
        finally:
            con.close()

    def check(self, out, exp):
        return checks.check_typed(out, exp)


class JsonDocuments(Workload):
    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from sparkschema.compiler.jsoncol import validate_json_column
        from sparkschema.compiler.variantcol import json_valid_auto
        from sparkschema.spec.parser import parse_spec

        t = self.tracer
        with t.span("setup.register"):
            self.df = spark.read.parquet(self.path("docs"))
        with t.span("spec.compile"):
            schema = parse_spec(copy.deepcopy(JSON_SCHEMA), "draft7").schema
        # both queries are built once here and executed by every pass:
        # their Catalyst analysis and planning land in the first pass
        with t.span("compiler.variantcol.compile"):
            ok = json_valid_auto("doc", schema, dialect="draft7")
            self.verdicts = self.df.select("doc_id", ok.alias("ok")) \
                .where(~F.coalesce(F.col("ok"), F.lit(False)))
        with t.span("compiler.jsoncol.compile"):
            self.report = validate_json_column(self.df, "doc", schema,
                                               key_cols=["doc_id"],
                                               dialect="draft7")
        self.report_dir = os.path.join(self.work_dir, "json_report")

    def run_pass(self, spark, scope):
        t = self.tracer
        with t.span("variantcol.verdicts"):
            invalid = [r["doc_id"] for r in self.verdicts.collect()]
            t.track(self.verdicts)
        with t.span("jsoncol.report_write"):
            self.report.write.mode("overwrite").parquet(self.report_dir)
        return {"variant_invalid": invalid}

    def outputs(self, spark, result, scope) -> dict:
        con = _duck()
        try:
            rows = con.execute(
                f"SELECT doc_id, list(DISTINCT keyword) FROM "
                f"read_parquet('{self.report_dir}/*.parquet') GROUP BY doc_id"
            ).fetchall()
        finally:
            con.close()
        return dict(result, kernel_keywords={d: sorted(k) for d, k in rows})

    def expect(self) -> dict:
        import pyarrow.parquet as pq

        docs = []
        for f in self.files():
            t = pq.read_table(f)
            docs += zip(t["doc_id"].to_pylist(), t["doc"].to_pylist())
        return checks.expect_json(JSON_SCHEMA, docs)

    def check(self, out, exp):
        return checks.check_json(out, exp)


class ImageBytes(Workload):
    warmup_passes = 2

    def setup(self, spark) -> None:
        t = self.tracer
        with t.span("setup.register"):
            self.df = spark.read.parquet(self.path("images"))
            self.ref = spark.read.parquet(self.path("ref"))

    def run_pass(self, spark, scope):
        from sparkschema.operators.roundtrip import roundtrip_verdict
        from sparkschema.plans.image_curation import curate_images

        from gen import CAPTION_CAP

        t = self.tracer
        with t.span("image_curation.report"):
            res = curate_images(self.df, phash_near_dup=True,
                                caption_cap=CAPTION_CAP, scope=scope)
            report = res.report.collect()[0].asDict()
            t.track(res.report)
        with t.span("roundtrip.verdict"):
            q = roundtrip_verdict(self.df, self.ref)
            rt = q.collect()[0].asDict()
            t.track(q)
        return {"report": report, "roundtrip": rt, "flagged": res.flagged}

    def outputs(self, spark, result, scope) -> dict:
        from pyspark.sql import functions as F

        stages = {r[0]: r[1] for r in result["flagged"]
                  .where(F.col("drop_stage").isNotNull())
                  .select("image_id", "drop_stage").collect()}
        return {"report": result["report"], "roundtrip": result["roundtrip"],
                "stages": stages}

    def expect(self) -> dict:
        import pyarrow.parquet as pq

        def rows(name):
            out = []
            for f in sorted(glob.glob(self.path(name, "*.parquet"))):
                t = pq.read_table(f, columns=["image_id", "bytes", "caption"])
                out += zip(*(t[c].to_pylist() for c in t.column_names))
            return out

        return checks.expect_images(rows("images"), rows("ref"),
                                    checks.load_planted(self.input_dir))

    def check(self, out, exp):
        return checks.check_images(out, exp)


class TextDedup(Workload):
    warmup_passes = 2

    def setup(self, spark) -> None:
        t = self.tracer
        with t.span("setup.register"):
            self.df = spark.read.parquet(self.path("docs"))

    def run_pass(self, spark, scope):
        from sparkschema.operators.dedup import (minhash_lsh_pairs,
                                                 near_dup_components)

        t = self.tracer
        with t.span("dedup.pairs"):
            pairs_df = scope.persist(
                minhash_lsh_pairs(self.df, "text", "doc_id", scope=scope))
            pairs = [(r["id_a"], r["id_b"], r["jaccard"])
                     for r in pairs_df.collect()]
            t.track(pairs_df)
        with t.span("dedup.components"):
            comps = {r["id"]: r["component"] for r in
                     near_dup_components(pairs_df, scope=scope).collect()}
        return {"pairs": pairs, "components": comps}

    def outputs(self, spark, result, scope) -> dict:
        if not self.tracer.enabled:
            return result
        # the estimate-filtered candidate pairs are the one persisted frame
        # of bare (id_a, id_b) rows
        est = [f for f in scope.frames if f.columns == ["id_a", "id_b"]]
        n = est[0].count() if est else 0
        return dict(result, layer_counts={
            "dedup.candidates": n,
            "dedup.verify_yield": len(result["pairs"]) / n if n else 0.0})

    def expect(self) -> dict:
        import pyarrow.parquet as pq

        docs = {}
        for f in self.files():
            t = pq.read_table(f)
            docs.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        return checks.expect_text(docs, checks.load_planted(self.input_dir)["pairs"])

    def check(self, out, exp):
        return checks.check_text(out, exp)


WORKLOADS = {
    "typed_table": TypedTable,
    "json_documents": JsonDocuments,
    "image_bytes": ImageBytes,
    "text_dedup": TextDedup,
}
