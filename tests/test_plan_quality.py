"""Physical-plan assertions: the shapes the engine promises at 100 TB
(SURVEY.md §4). These test the *plan*, not the result — a regression that
adds a shuffle or loses pushdown fails here even if answers stay right."""

import pytest
from pyspark.sql import functions as F

from sparkschema.compiler.table import compile_table_spec
from sparkschema.operators.referential import orphans
from sparkschema.operators.stats import column_stats
from sparkschema.sources.synthetic import images_df

SPEC = {
    "type": "object",
    "required": ["image_id", "fmt"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["raw", "rawz", "png", "jpg"]},
    },
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_evals(df) -> list[list[str]]:
    """The Python UDFs of ``df``'s executed plan, by name, one list per
    ``ArrowEvalPython`` node: ``[["f"]]`` is one node that runs ``f``
    once per row. A UDF that Catalyst copied into a pushed-down filter
    shows as a second node."""
    out = []

    def walk(node):
        name = node.nodeName()
        if name == "ArrowEvalPython":
            udfs = node.udfs()
            out.append([udfs.apply(i).name() for i in range(udfs.size())])
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
        if name.endswith("QueryStage"):     # a stage of an executed query
            walk(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_violations_plan_has_no_exchange(spark, tmp_path):
    path = str(tmp_path / "imgs")
    images_df(spark, 1000, partitions=4).write.parquet(path)
    imgs = spark.read.parquet(path)
    cts = compile_table_spec(SPEC, imgs, key_cols=["image_id"])
    plan = _plan(cts.violations(imgs))
    assert "Exchange" not in plan, plan
    assert "*(" in plan  # codegen'd stages render as *(n) in plan strings


def test_violations_scan_prunes_unused_columns(spark, tmp_path):
    path = str(tmp_path / "imgs2")
    images_df(spark, 1000, with_bytes=True, partitions=2).write.parquet(path)
    imgs = spark.read.parquet(path)
    cts = compile_table_spec(SPEC, imgs, key_cols=["image_id"])
    plan = _plan(cts.violations(imgs))
    # the heavy binary column is not referenced by any check → never read
    assert "bytes" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "imgs3")
    images_df(spark, 1000, partitions=2).write.parquet(path)
    imgs = spark.read.parquet(path).where(F.col("fmt") == "jpg")
    cts = compile_table_spec(SPEC, imgs, key_cols=["image_id"])
    plan = _plan(cts.violations(imgs))
    assert "PushedFilters: [IsNotNull(fmt), EqualTo(fmt,jpg)]" in plan \
        or "EqualTo(fmt,jpg)" in plan, plan


def test_verdicts_single_aggregation_exchange(spark, tmp_path):
    path = str(tmp_path / "imgs4")
    images_df(spark, 1000, partitions=4).write.parquet(path)
    imgs = spark.read.parquet(path)
    cts = compile_table_spec(SPEC, imgs, key_cols=["image_id"])
    plan = _plan(cts.verdicts(imgs))
    assert plan.count("Exchange") <= 2  # partial→final (+AQE read)
    assert "HashAggregate" in plan


def test_referential_broadcasts_small_dim(spark, tmp_path):
    path = str(tmp_path / "imgs5")
    images_df(spark, 1000, partitions=2).write.parquet(path)
    imgs = spark.read.parquet(path)
    dim = spark.createDataFrame([("jpg",), ("png",)], "fmt string")
    plan = _plan(orphans(imgs, "fmt", dim, "fmt", strategy="broadcast"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # fact side must not shuffle
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]


def test_stats_reads_only_requested_columns(spark, tmp_path):
    path = str(tmp_path / "imgs6")
    images_df(spark, 1000, with_bytes=True, partitions=2).write.parquet(path)
    imgs = spark.read.parquet(path)
    plan = _plan(column_stats(imgs, ["w", "fmt"]))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema and "caption" not in read_schema


def test_bucketed_roundtrip_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed byte tables (the Iceberg bucket(image_id) stand-in)
    join for the round-trip check with NO exchange and exactly ONE Arrow
    UDF evaluation — at 10^12 scale the byte corpus never shuffles."""
    from sparkschema.operators.roundtrip import roundtrip_verdict
    from sparkschema.sources.tables import ensure_bucketed_table

    clean = dict(dup_fraction=0.0, orphan_fmt_fraction=0.0,
                 caption_anomaly_fraction=0.0, corrupt_fraction=0.0,
                 caption_mismatch_fraction=0.0)
    src = images_df(spark, 400, with_bytes=True, partitions=2, **clean)
    ref = images_df(spark, 400, with_bytes=True, variant="ref", partitions=2,
                    **clean)
    a = ensure_bucketed_table(spark, "pq_bkt_a", str(tmp_path / "a"),
                              source_df=src, buckets=4)
    b = ensure_bucketed_table(spark, "pq_bkt_b", str(tmp_path / "b"),
                              source_df=ref, buckets=4)
    v = roundtrip_verdict(a, b)
    plan = _plan(v)
    assert "SortMergeJoin" in plan
    assert _python_evals(v) == [["_psnr_udf"]]
    # the only exchange allowed is the final single-row aggregation step
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_part, join_part
    row = v.collect()[0]
    assert row["rows"] == 400 and bool(row["pass"])
    spark.sql("drop table if exists pq_bkt_a")
    spark.sql("drop table if exists pq_bkt_b")


def test_events_variant_query_materializes_parses_once(spark):
    """The nine-arm events query must keep its double-barrier shape:
    scan -> hash repartition (spread the single-file scan) -> Project
    computing the three try_parse_json documents ONCE -> round-robin
    barrier -> Project computing the verdict structs ONCE (all
    interpreted VARIANT work) -> round-robin barrier carrying only
    booleans -> aggregate partial + final exchange. Exactly four
    Exchanges. Without the barriers, CollapseProject inlines each
    concat+parse into every predicate tree and each verdict struct into
    every aggregate reference (interpreted expressions get no CSE) —
    measured 96 s (no parse barrier) / 4.3 s (no verdict barrier) vs
    ~0.3 s at sf0.1."""
    import importlib

    m = importlib.import_module("__spark_entry__")
    df = m.queries()["events_json_invalid"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange") == 4, plan
    assert "HashAggregate" in plan
    # the final pre-aggregate exchange must carry booleans, not variants:
    # no variant-typed attribute may survive past the second barrier
    post_agg = plan.split("HashAggregate")[0]
    assert "variant" not in post_agg.lower(), post_agg


def test_sessionize_single_exchange_on_user_key(spark, tmp_path):
    from sparkschema.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(i % 7, __import__("datetime").datetime(2024, 1, 1, 0, i % 60))
         for i in range(100)], "user_id int, ts timestamp")
    plan = _plan(sessionize(df, "user_id", "ts", "30 minutes"))
    # one hash exchange keyed by the user; session merge happens inside
    # the aggregate, never a window sort over the whole table
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_asof_join_right_payload_crosses_exchange_once(spark, tmp_path):
    from sparkschema.operators.sessions import asof_join

    import datetime as dt
    left = spark.createDataFrame(
        [(i, i % 5, dt.datetime(2024, 1, 1, 0, i % 60)) for i in range(50)],
        "eid int, k int, ts timestamp")
    right = spark.createDataFrame(
        [(i % 5, dt.datetime(2024, 1, 1, 0, i % 60), float(i))
         for i in range(40)], "k int, ts timestamp, v double")
    plan = _plan(asof_join(left, right, "k", "ts", "ts", value_cols=["v"]))
    assert plan.count("Exchange hashpartitioning") == 1  # the union, keyed
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_line_dedup_uses_agg_then_join_not_window(spark, tmp_path):
    from sparkschema.operators.dedup import line_dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"HEADER\nbody {i}\nFOOTER") for i in range(200)],
        "doc_id long, text string").write.parquet(path)
    plan = _plan(line_dedup(spark.read.parquet(path), "text", "doc_id"))
    # first-occurrence selection must be the map-side-combinable
    # min(struct) aggregate + join, never a row_number window (which
    # would sort every occurrence of the hottest line in one task)
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_curation_report_is_one_aggregate_with_broadcast_contamination(
        spark, tmp_path):
    from sparkschema.plans.curation_run import curate_corpus

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document number {i} with plenty of the and of words in it "
             f"to clear the thresholds {i}", f"s{i % 3}")
         for i in range(300)],
        "doc_id long, text string, source string").write.parquet(path)
    d = spark.read.parquet(path)
    res = curate_corpus(
        d, "text", "doc_id",
        languages=["en"], min_quality=0.3, min_tokens=3,
        eval_df=d.where(F.col("doc_id") < 5),
        per_source_cap=50, source_col="source")
    plan = _plan(res.report)
    # the eval-set gram side broadcasts (corpus grams never shuffle to
    # the contamination join) and the attribution report collapses to
    # ONE final single-partition aggregate
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_exchange_no_python(spark):
    from sparkschema.operators.packing import pack_sequences

    df = spark.range(500).withColumnRenamed("id", "doc_id") \
              .withColumn("tokens", (F.col("doc_id") % 37).cast("bigint"))
    plan = _plan(pack_sequences(df, "doc_id", "tokens", 128, 8))
    # one hash exchange on the md5 bucket feeds the per-bucket window;
    # the layout itself is pure expression work — no Python stage
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan and "CartesianProduct" not in plan


def test_weighted_mix_is_pushdown_filter(spark, tmp_path):
    from sparkschema.operators.sampling import weighted_sample_by_group

    p = str(tmp_path / "docs.parquet")
    spark.range(200).withColumnRenamed("id", "doc_id") \
         .withColumn("source", F.concat(F.lit("s"),
                                        (F.col("doc_id") % 3))) \
         .write.parquet(p)
    kept = weighted_sample_by_group(
        spark.read.parquet(p), "doc_id", "source",
        {"s0": 0.5, "s1": 0.9}, default=0.1)
    plan = _plan(kept)
    # a mix is a pure filter fused into the scan stage: zero exchanges,
    # zero Python, threshold CASE evaluated in whole-stage codegen
    assert "Exchange" not in plan and "Python" not in plan
    assert "CASE WHEN" in plan


def test_normalize_single_arrow_stage_no_exchange(spark):
    from sparkschema.operators.normalize import (nfc_normalize_col,
                                                 scrub_control_chars)

    df = spark.range(100).withColumn("text", F.lit("á b"))
    out = df.select(scrub_control_chars(
        nfc_normalize_col(F.col("text"))).alias("s"))
    plan = _plan(out)
    assert _python_evals(out) == [["_nfc"]]     # one batched UDF stage
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan        # never row-at-a-time


def test_quality_report_single_aggregation_exchange(spark, tmp_path):
    """The 12-gate quality report over the metadata table must be one
    partial->final aggregate: exactly one exchange carrying one row per
    partition, gates fused into the scan by codegen."""
    from sparkschema.operators.imagequality import image_quality_report

    path = str(tmp_path / "imgq")
    images_df(spark, 1000, partitions=4).write.parquet(path)
    rep = image_quality_report(spark.read.parquet(path), bytes_col=None)
    rep.collect()  # finalize AQE so codegen markers render
    # the finalized AQE string repeats the plan under "== Initial Plan ==";
    # count exchanges in the final section only
    plan = _plan(rep).split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan
    assert "*(" in plan


def test_drift_statistics_bucket_windows_only(spark):
    """drift_statistics_histograms runs its windows over the joined
    bucket frame (<= ~65 rows) — no Python, and the full-frame window is
    a single bounded partition, not a per-row sort of the input."""
    from sparkschema.operators.drift import drift_statistics_histograms
    from sparkschema.operators.imagedup import phash_weight_histogram

    imgs = images_df(spark, 2000, partitions=4)
    h1 = phash_weight_histogram(imgs.where(F.col("w") >= 128))
    h2 = phash_weight_histogram(imgs.where(F.col("w") < 128))
    plan = _plan(drift_statistics_histograms(h1, h2))
    assert "Python" not in plan
    assert "Window" in plan


# the benchmark's ``json_documents`` spec (perfbench/workloads.py), copied:
# a $ref'd draft-7 document schema exercising enum, pattern, tuple items,
# uniqueItems, nested required and if/then on the VARIANT path
BENCH_JSON_SCHEMA = {
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

# SHA-256 of the normalized optimized plan of json_valid_auto over
# BENCH_JSON_SCHEMA, recorded before the VARIANT compiler stopped
# rebuilding shared sub-expressions per keyword. A change that means to
# alter the compiled predicate must update it, with the evidence that
# the new plan is right.
BENCH_JSON_PLAN_SHA256 = \
    "da2c215349b85f1e93e49a32aa0db7c6f4e6162196872f05d9d895e579738c5c"


def _bench_json_compile():
    import copy

    from sparkschema.compiler.variantcol import json_valid_auto
    from sparkschema.spec.parser import parse_spec

    schema = parse_spec(copy.deepcopy(BENCH_JSON_SCHEMA), "draft7").schema
    return json_valid_auto("doc", schema, dialect="draft7")


def _normalized_optimized_plan(df) -> str:
    """The optimized logical plan, every field printed, with lambda
    variables renumbered by first appearance and ``#id``s stripped: two
    compiles of the same predicate render identically."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan() \
        .treeString(False, False, 2 ** 31 - 1, False, False)
    names: dict = {}
    plan = re.sub(r"\bx_\d+\b",
                  lambda m: names.setdefault(m.group(0), f"x_{len(names)}"),
                  plan)
    return re.sub(r"#\d+L?", "", plan)


def _round_trips(build) -> int:
    """py4j round trips made by ``build()`` on this thread, after one
    uncounted call (first-call JVM class loading is not counted). Other
    threads' calls (a streaming query or listener left by an earlier
    test) are not the build's."""
    import gc
    import threading

    import py4j.clientserver
    import py4j.java_gateway

    build()
    count = [0]
    patched = []
    me = threading.get_ident()
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        orig = cls.send_command

        def counting(self, *a, _orig=orig, **k):
            if threading.get_ident() == me:
                count[0] += 1
            return _orig(self, *a, **k)

        patched.append((cls, orig))
        cls.send_command = counting
    # garbage from earlier tests would release its JVM objects through
    # the same socket; collect it first and keep the collector off
    gc.collect()
    gc.disable()
    try:
        count[0] = 0
        build()
        return count[0]
    finally:
        gc.enable()
        for cls, orig in patched:
            cls.send_command = orig


def test_variant_compile_round_trips_pinned(spark):
    """Compiling the benchmark's JSON spec on the VARIANT path costs at
    most 200 py4j round trips: the predicate crosses as one SQL text, and
    what is left is the column-reference check, the JVM proof of each
    ``pattern`` and the kernel reroute's Columns (157 measured). Built as
    Columns it cost about ten per operator (~9,500)."""
    n = _round_trips(_bench_json_compile)
    assert 0 < n <= 200, n


# the benchmark's ``typed_table`` spec (perfbench/workloads.py), copied
BENCH_TABLE_SPEC = {
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


def test_table_compile_round_trips_pinned(spark):
    """Compiling the benchmark's typed spec with ``compile_table_spec``
    costs at most 200 py4j round trips: the checks are SQL text, and what
    is left is reading the frame's schema and the JVM proof of each
    ``pattern`` (57 measured). Built as Columns it cost 1,948."""
    df = spark.createDataFrame(
        [], "image_id string, w int, h int, fmt string, caption string, "
            "phash long")
    n = _round_trips(lambda: compile_table_spec(BENCH_TABLE_SPEC, df,
                                                key_cols=["image_id"]))
    assert 0 < n <= 200, n


def _bench_run_validation(spark, tmp_path):
    from sparkschema.plans.validation_run import run_validation

    path = str(tmp_path / "typed_rt")
    spark.createDataFrame(
        [("img-000000000001", 8, 8, "jpg", "a cat", 1),
         ("img-000000000001", 3, 8, "tiff", "", 2)],
        "image_id string, w int, h int, fmt string, caption string, "
        "phash long").write.parquet(path)
    df = spark.read.parquet(path)
    dims = {"dim_fmt": spark.createDataFrame([("jpg",), ("png",)],
                                             "fmt string")}

    def build():
        res = run_validation(BENCH_TABLE_SPEC, df, key_cols=["image_id"],
                             dims=dims)
        return res.violations, res.partition_verdicts

    return build


def test_run_validation_round_trips_pinned(spark, tmp_path):
    """One ``run_validation`` of the benchmark's typed spec, with its
    violation report and partition verdicts built and the uniqueness and
    orphan verdicts collected, costs at most 1,500 py4j round trips
    (1,185 measured). With the checks, the report and the verdicts built
    as Columns it cost 6,274."""
    from sparkschema.operators.caching import release_default_cache

    n = _round_trips(_bench_run_validation(spark, tmp_path))
    release_default_cache()
    assert 0 < n <= 1_500, n


# SHA-256 of the normalized optimized plans of the violation report, the
# verdicts and the invalid-row filter of BENCH_TABLE_SPEC over a parquet
# scan, recorded while the typed checks were still built as Columns: the
# SQL-text compile must give Catalyst the same plans.
BENCH_TABLE_PLAN_SHA256 = {
    "violations":
        "ba04be00301a6aeaa12f926c23b62d65cad000031dd9d051017b2f2eb1555bcc",
    "verdicts":
        "a570f5cec990df7cf92c96c097cde8462666dd3cbcac71200876fe6bfdae38cd",
    "invalid_rows":
        "e4e00a2b10021e935a1785e6499ae7ce506a9bdf05f720466784b132453a46fd",
}


def test_table_compile_plans_pinned(spark, tmp_path):
    import hashlib

    path = str(tmp_path / "typed_plan")
    spark.createDataFrame(
        [("img-000000000001", 8, 8, "jpg", "a cat", 1),
         ("img-000000000002", 3, 8, "tiff", "", 2)],
        "image_id string, w int, h int, fmt string, caption string, "
        "phash long").write.parquet(path)
    df = spark.read.parquet(path)
    cts = compile_table_spec(BENCH_TABLE_SPEC, df, key_cols=["image_id"])
    plans = {"violations": cts.violations(df),
             "verdicts": cts.verdicts(df),
             "invalid_rows": df.where(~cts.row_valid())}
    for name, q in plans.items():
        plan = _normalized_optimized_plan(q)
        assert hashlib.sha256(plan.encode()).hexdigest() \
            == BENCH_TABLE_PLAN_SHA256[name], (name, plan[:2000])


def test_variant_compile_plan_pinned(spark):
    """The normalized optimized plan of the benchmark's JSON spec is the
    one recorded before the compile was made cheaper: fewer Columns on
    the driver, the same Catalyst plan."""
    import hashlib

    base = spark.range(0, 1, 1, 1).select(F.col("id").cast("string")
                                          .alias("doc"))
    plan = _normalized_optimized_plan(
        base.select(_bench_json_compile().alias("ok")))
    assert hashlib.sha256(plan.encode()).hexdigest() \
        == BENCH_JSON_PLAN_SHA256, plan[:2000]


def test_violation_report_schema_pinned(spark):
    """The violation report's columns, types and nullability. Key columns
    keep their own nullability (cast to string); every report field is
    nullable, because ``explode_outer`` makes the exploded struct
    nullable. The no-check path returns the same schema."""
    imgs = images_df(spark, 50, partitions=2)
    report = [("image_id", "string", False)] + [
        (name, "string", True)
        for name in ("keyword", "schema_path", "instance_path", "value",
                     "msg", "errors", "resolution_scope", "referrer")]

    def fields(df):
        return [(f.name, f.dataType.simpleString(), f.nullable)
                for f in df.schema.fields]

    cts = compile_table_spec(SPEC, imgs, key_cols=["image_id"])
    assert fields(cts.violations(imgs)) == report
    assert fields(cts.violations(imgs, cast_keys=False)) == report
    empty = compile_table_spec({"type": "object"}, imgs,
                               key_cols=["image_id"])
    assert not empty.checks
    assert fields(empty.violations(imgs)) == report


# -- each Python UDF runs once per row --------------------------------------
# A filter on a UDF's result, pushed below the projection that computes
# it, takes a copy of the call: the plan then holds two ArrowEvalPython
# nodes, each validating the rows with a Python worker of its own per task.

# a recursive $ref: VariantUnsupported, so json_valid_auto takes the kernel
_RECURSIVE_SPEC = {
    "definitions": {"node": {"type": "object", "properties": {
        "child": {"$ref": "#/definitions/node"}}}},
    "$ref": "#/definitions/node",
}
_JSON_DOCS = [(1, '{"id": "doc-00000001", "source": "crawl", "size": [1, 1, 3],'
                  ' "objects": [{"label": "cat", "bbox": [0, 0, 1, 1]}]}'),
              (2, '{"id": "x", "id": "y"}'), (3, "not json"), (4, None),
              (5, '{"child": {"child": 3}}')]


def _json_docs(spark):
    return spark.createDataFrame(_JSON_DOCS, "doc_id long, doc string")


def _bench_schema():
    import copy

    from sparkschema.spec.parser import parse_spec

    return parse_spec(copy.deepcopy(BENCH_JSON_SCHEMA), "draft7").schema


def test_json_report_runs_kernel_once(spark):
    from sparkschema.compiler.jsoncol import validate_json_column

    report = validate_json_column(_json_docs(spark), "doc", _bench_schema(),
                                  key_cols=["doc_id"], dialect="draft7")
    assert _python_evals(report) == [["violations_udf"]]
    # a valid document has no row; every other one has at least one
    assert {r.doc_id for r in report.collect()} == {2, 3, 5}


def test_json_verdict_filter_runs_kernel_once(spark):
    """The benchmark's verdict query runs the kernel in one node, under
    the caller's filter on the verdict: the hybrid's duplicate-key
    kernel, and the kernel of a spec that takes it whole
    (``json_valid_column``)."""
    from sparkschema.compiler.variantcol import (VariantUnsupported,
                                                 json_valid_auto,
                                                 variant_valid_sql)

    with pytest.raises(VariantUnsupported):
        variant_valid_sql(_RECURSIVE_SPEC)
    df = _json_docs(spark)
    for spec, invalid in ((_bench_schema(), [2, 3, 4, 5]),
                          (_RECURSIVE_SPEC, [3, 4, 5])):
        ok = json_valid_auto("doc", spec, dialect="draft7")
        q = df.select("doc_id", ok.alias("ok")) \
            .where(~F.coalesce(F.col("ok"), F.lit(False)))
        assert _python_evals(q) == [["is_valid_udf"]]
        assert sorted(r.doc_id for r in q.collect()) == invalid


def test_json_valid_auto_column_contract(spark):
    """Where the verdict Column may go, now that its kernel UDF is
    nondeterministic (the costs listed under ``json_valid_column``):
    ``select``, ``where`` and a ``groupBy`` key take it as before, with
    one ArrowEvalPython node each, and so does an aggregate or a join
    over the selected column. An aggregate function or a join condition
    over the Column itself fails analysis; the pure-Catalyst
    ``strict_spark_parse=True`` Column carries no kernel and takes both."""
    from collections import Counter

    from pyspark.errors import AnalysisException

    from sparkschema.compiler.variantcol import json_valid_auto

    df = _json_docs(spark)
    keys = spark.createDataFrame([(i,) for i in range(1, 6)], "k long")
    for spec, expect in (
            (_bench_schema(), {1: True, 2: False, 3: False, 4: None, 5: False}),
            (_RECURSIVE_SPEC, {1: True, 2: True, 3: False, 4: None, 5: False})):
        ok = json_valid_auto("doc", spec, dialect="draft7")
        valid = sorted(k for k, v in expect.items() if v)
        sel = df.select("doc_id", ok.alias("ok"))
        assert {r.doc_id: r.ok for r in sel.collect()} == expect
        where = df.where(ok)
        assert sorted(r.doc_id for r in where.collect()) == valid
        grouped = df.groupBy(ok.alias("ok")).agg(F.count("*").alias("n"))
        assert {r.ok: r.n for r in grouped.collect()} \
            == Counter(expect.values())
        counted = sel.groupBy().agg(F.count_if("ok").alias("n"))
        assert counted.collect()[0].n == len(valid)
        joined = sel.join(keys, (sel.doc_id == keys.k) & sel.ok)
        assert sorted(r.k for r in joined.collect()) == valid
        for q in (sel, where, grouped, counted, joined):
            assert _python_evals(q) == [["is_valid_udf"]]
        with pytest.raises(AnalysisException,
                           match="NONDETERMINISTIC_EXPRESSION"):
            df.groupBy().agg(F.count_if(ok)).collect()
        with pytest.raises(AnalysisException,
                           match="INVALID_NON_DETERMINISTIC_EXPRESSIONS"):
            df.join(keys, (df.doc_id == keys.k) & ok).collect()
    strict = json_valid_auto("doc", _bench_schema(), dialect="draft7",
                             strict_spark_parse=True)
    assert df.groupBy().agg(F.count_if(strict).alias("n")).collect()[0].n == 1
    joined = df.join(keys, (df.doc_id == keys.k) & strict)
    assert [r.k for r in joined.collect()] == [1]
    assert _python_evals(joined) == []


def test_table_violations_run_udf_checks_once(spark):
    """A typed spec whose checks run Python UDFs (a ``pattern`` with no
    Java form, a ``multipleOf`` finer than 18 decimal places) evaluates
    each of them once per row; the report rows are unchanged."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [("x", 1e-19), ("y", 3e-19), (None, 1.5e-19), ("yx", None)],
        "s string, d double")
    spec = {"type": "object", "properties": {
        "s": {"type": "string", "pattern": "(?<nmü>x)"},
        "d": {"type": "number", "multipleOf": Decimal("1E-19")}}}
    cts = compile_table_spec(spec, df, key_cols=["s"])
    report = cts.violations(df)
    assert _python_evals(report) == [["fn", "fn"]]
    assert {(r.s, r.keyword) for r in report.collect()} \
        == {("y", "pattern"), (None, "multipleOf")}
    pattern_only = compile_table_spec(
        {"properties": {"s": {"pattern": "(?<nmü>x)"}}}, df, key_cols=["s"])
    assert _python_evals(pattern_only.violations(df)) == [["fn"]]


def test_json_report_schema_pinned(spark):
    """The JSON violation report's columns, types and nullability, as
    recorded before the report was built with ``explode_outer``: the key
    keeps its own type and nullability, every report field is a nullable
    string."""
    from sparkschema.compiler.jsoncol import validate_json_column

    df = spark.range(3).select(F.col("id").alias("doc_id"),
                               F.lit('{"a": 1}').alias("doc"))
    report = validate_json_column(df, "doc", {"type": "object"},
                                  key_cols=["doc_id"])
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in report.schema.fields] == \
        [("doc_id", "bigint", False)] + [
            (name, "string", True)
            for name in ("keyword", "schema_path", "instance_path", "value",
                         "msg", "errors", "resolution_scope", "referrer")]
