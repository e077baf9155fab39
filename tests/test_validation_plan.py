"""Flagship end-to-end plan on the synthetic image table (FIXTURES.md §3
spec) plus resumability and the streaming wrapper."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkschema.plans.validation_run import run_validation
from sparkschema.sources.synthetic import dim_fmt_df, images_df

FLAGSHIP_SPEC = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["image_id", "w", "h", "fmt", "caption"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["raw", "rawz", "png", "jpg"], "$ref_data": "dim_fmt.fmt"},
        "caption": {"type": "string", "minLength": 1, "maxLength": 1024,
                    "pattern": "^[\\x20-\\x7E]+$"},
        "phash": {"type": "integer", "format": "int64",
                  "x-unique": ["image_id"], "x-drift": {"buckets": 32}},
    },
    "if": {"properties": {"fmt": {"const": "jpg"}}},
    "then": {"properties": {"w": {"multipleOf": 8}}},
}


@pytest.fixture(scope="module")
def images(spark):
    return images_df(spark, 5000, partitions=8)


@pytest.fixture(scope="module")
def images_ref(spark):
    return images_df(spark, 5000, variant="ref", partitions=8)


def test_flagship_run(spark, images, images_ref):
    res = run_validation(FLAGSHIP_SPEC, images, key_cols=["image_id"],
                         dims={"dim_fmt": dim_fmt_df(spark)}, ref=images_ref)
    viols = res.violations.cache()
    kinds = {r.keyword for r in viols.select("keyword").distinct().collect()}
    # injected anomalies must each surface
    assert {"pattern", "required", "$ref_data", "x-unique", "enum"} <= kinds
    checks = {v["check"]: v for v in res.table_verdicts}
    assert not checks["unique:phash"]["pass"]          # dup clusters injected
    assert not checks["unique:image_id"]["pass"]
    assert not checks["ref:fmt->fmt"]["pass"]          # tiff orphans injected
    assert checks["drift:phash"]["pass"]               # same generator ⇒ no drift
    # per-partition verdicts exist for every compiled check
    pv = res.partition_verdicts
    assert pv.select("check").distinct().count() == len(res.compiled.checks)
    assert not res.passed()
    viols.unpersist()


def test_flagship_clean_subset_passes(spark, images, images_ref):
    clean = images.where(
        F.col("caption").isNotNull() & (F.col("caption") != "")
        & F.col("fmt").isin("raw", "rawz", "png", "jpg")
        & F.col("caption").rlike("^[\\x20-\\x7E]+$")
        & ~(F.col("fmt") == "jpg")  # avoid multipleOf-8 conditional failures
    ).dropDuplicates(["image_id"]).dropDuplicates(["phash"])
    res = run_validation(FLAGSHIP_SPEC, clean, key_cols=["image_id"],
                         dims={"dim_fmt": dim_fmt_df(spark)}, ref=None)
    assert res.violations.count() == 0
    assert res.passed()


def test_resumable_run(spark, tmp_path, images):
    data_dir = str(tmp_path / "imgs")
    images.repartition(6).write.parquet(data_dir)
    manifest_dir = str(tmp_path / "manifest")
    calls = []

    def process(df, files):
        n = df.count()
        calls.append(len(files))
        return {"rows": n}

    from sparkschema.streaming.checkpoint import run_resumable
    r1 = run_resumable(spark, data_dir, manifest_dir, process, files_per_unit=2)
    assert r1.processed_units > 0 and r1.skipped_units == 0
    total = sum(m["rows"] for m in r1.unit_metrics)
    assert total == images.count()
    # restart: everything skips, metrics come from the manifest
    n_calls = len(calls)
    r2 = run_resumable(spark, data_dir, manifest_dir, process, files_per_unit=2)
    assert r2.processed_units == 0 and r2.skipped_units == r1.processed_units
    assert len(calls) == n_calls
    assert sum(m["rows"] for m in r2.unit_metrics) == total
    # lineage recorded per unit
    rec = json.load(open(os.path.join(
        manifest_dir, sorted(f for f in os.listdir(manifest_dir)
                             if f.startswith("unit-"))[0])))
    assert rec["input_files"] and "metrics" in rec


def test_resumable_snapshot_pinning(spark, tmp_path, images):
    """Iceberg-snapshot lineage (VERDICT r1 #10): committed units carry the
    snapshot id; a restart against a different snapshot refuses to mix
    lineages in one manifest."""
    import pytest

    from sparkschema.sources.tables import table_snapshot_id
    from sparkschema.streaming.checkpoint import run_resumable

    data_dir = str(tmp_path / "imgs2")
    images.repartition(4).write.parquet(data_dir)
    manifest_dir = str(tmp_path / "manifest2")
    r1 = run_resumable(spark, data_dir, manifest_dir,
                       lambda df, files: {"rows": df.count()},
                       files_per_unit=2, snapshot_id="snap-100")
    assert r1.processed_units > 0
    rec = json.load(open(os.path.join(
        manifest_dir, sorted(f for f in os.listdir(manifest_dir)
                             if f.startswith("unit-"))[0])))
    assert rec["snapshot_id"] == "snap-100"
    # same snapshot resumes cleanly
    r2 = run_resumable(spark, data_dir, manifest_dir,
                       lambda df, files: {"rows": df.count()},
                       files_per_unit=2, snapshot_id="snap-100")
    assert r2.processed_units == 0
    # different snapshot is rejected
    with pytest.raises(ValueError, match="pinned to snapshot"):
        run_resumable(spark, data_dir, manifest_dir,
                      lambda df, files: {"rows": df.count()},
                      files_per_unit=2, snapshot_id="snap-200")
    # ADVICE r2: an UNPINNED restart of a pinned manifest is also rejected
    # (silently skipping the check would bypass snapshot isolation)
    with pytest.raises(ValueError, match="pass snapshot_id"):
        run_resumable(spark, data_dir, manifest_dir,
                      lambda df, files: {"rows": df.count()}, files_per_unit=2)
    # ADVICE r2: pinned run over pre-pinning (snapshot-less) units refuses
    data3 = str(tmp_path / "imgs3")
    images.repartition(2).write.parquet(data3)
    manifest3 = str(tmp_path / "manifest3")
    run_resumable(spark, data3, manifest3,
                  lambda df, files: {"rows": df.count()}, files_per_unit=1)
    with pytest.raises(ValueError, match="without\\s+a snapshot_id|without a"):
        run_resumable(spark, data3, manifest3,
                      lambda df, files: {"rows": df.count()},
                      files_per_unit=1, snapshot_id="snap-300")
    # no Iceberg runtime in this sandbox: accessor degrades to None
    assert table_snapshot_id(spark, "nosuch.catalog.table") is None


def test_streaming_foreach_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    images_df(spark, 500, partitions=2).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    got = {}

    def on_batch(bid, viols, verdicts):
        got["violations"] = viols.count()
        got["checks"] = verdicts.select("check").distinct().count()

    from sparkschema.streaming.validate_stream import foreach_batch_validate
    q = foreach_batch_validate(stream, FLAGSHIP_SPEC, ["image_id"], on_batch,
                               checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert got["violations"] > 0 and got["checks"] > 5


def test_resumable_units_stable_under_new_files(spark, tmp_path, images):
    """Review find r4: positional file chunking shifted EVERY unit id when
    one new file landed, so a resume re-ran fully committed work. Units
    are now hash-bucketed by file name with the bucket count pinned in
    the manifest — a new file perturbs exactly the unit it joins."""
    import shutil

    data_dir = str(tmp_path / "imgs")
    images.repartition(6).write.parquet(data_dir)
    manifest_dir = str(tmp_path / "manifest")

    def process(df, files):
        return {"rows": df.count()}

    from sparkschema.streaming.checkpoint import run_resumable
    r1 = run_resumable(spark, data_dir, manifest_dir, process,
                       files_per_unit=2)
    assert r1.processed_units >= 2

    # a new file lands (copy of an existing part under an early-sorting
    # name — the positional scheme would have shifted every chunk)
    import glob as _glob
    src = sorted(_glob.glob(f"{data_dir}/part-*.parquet"))[0]
    shutil.copy(src, f"{data_dir}/part-00000-aaaa-new.parquet")

    r2 = run_resumable(spark, data_dir, manifest_dir, process,
                       files_per_unit=2)
    # only the one unit the new file joined re-runs (or a brand-new unit
    # forms when its hash bucket was previously empty) — every other
    # committed unit skips
    assert r2.processed_units == 1
    assert r2.skipped_units in (r1.processed_units - 1, r1.processed_units)


def test_manifest_phash_histogram_drifts_next_run(spark, tmp_path, images):
    """North-star composition: each resumable unit's metrics carry the
    unit's pHash Hamming-weight histogram (per-partition "phash
    distribution histogram"); the NEXT run drifts its own distribution
    against the manifest's stored histograms via
    drift_check_vs_histogram — drift against last run's snapshot with
    no live reference table."""
    from sparkschema.operators.drift import drift_check_vs_histogram
    from sparkschema.operators.imagedup import phash_weight_histogram
    from sparkschema.streaming.checkpoint import run_resumable

    data_dir = str(tmp_path / "imgs")
    images.repartition(4).write.parquet(data_dir)
    manifest_dir = str(tmp_path / "manifest")

    def process(df, files):
        # +1 aligns the raw Hamming weights (0..64) with
        # stats.histogram's bucket numbering over [0, 65) in 65 unit
        # buckets (value v -> bucket v+1; 0 and 66 are the
        # under/overflow rails), so the stored histogram keys match
        # what drift_check_vs_histogram computes on the current side
        hist = [(r["bucket"] + 1, r["cnt"])
                for r in phash_weight_histogram(df).collect()]
        return {"rows": df.count(), "phash_hist": hist}

    r1 = run_resumable(spark, data_dir, manifest_dir, process,
                       files_per_unit=2)
    stored = []
    for m in r1.unit_metrics:
        assert m["phash_hist"], "unit histogram missing"
        stored += [tuple(x) for x in m["phash_hist"]]
    assert sum(c for _, c in stored) == images.count()

    # same distribution -> no drift
    cur = spark.read.parquet(data_dir)
    same = drift_check_vs_histogram(
        cur.select(F.bit_count("phash").alias("bw")), "bw",
        stored, lo=0, hi=65, buckets=65, ks_threshold=0.05)
    assert same["pass"] and same["ks"] < 0.01

    # planted low-byte shift -> loud drift vs the stored histograms
    shifted = cur.select(
        F.bit_count(F.col("phash").bitwiseOR(F.lit(255))).alias("bw"))
    bad = drift_check_vs_histogram(shifted, "bw", stored,
                                   lo=0, hi=65, buckets=65,
                                   ks_threshold=0.05)
    assert not bad["pass"] and bad["ks"] > 0.05

    # restart: histograms come back from the manifest, identical
    r2 = run_resumable(spark, data_dir, manifest_dir, process,
                       files_per_unit=2)
    assert r2.processed_units == 0
    replayed = []
    for m in r2.unit_metrics:
        replayed += [tuple(x) for x in m["phash_hist"]]
    assert sorted(replayed) == sorted(stored)


def test_x_drift_phash_weight_kind(spark, images):
    """x-drift {"kind": "phash_weight"} drifts on the Hamming-weight
    distribution of the 64-bit hash column (equi-width buckets over raw
    hash values carry no signal). Same distribution passes; a planted
    low-byte-forced shift fails; the verdict reports the PUBLIC column
    name, and other requests in the same run are unaffected."""
    spec = {"properties": {
        "phash": {"x-drift": {"kind": "phash_weight",
                              "ks_threshold": 0.05},
                  "x-unique": ["image_id"]}}}
    same = run_validation(spec, images, key_cols=["image_id"], ref=images)
    d = [v for v in same.table_verdicts if v["check"] == "drift:phash"]
    assert len(d) == 1 and d[0]["pass"] and d[0]["ks"] == 0.0

    shifted = images.withColumn(
        "phash", F.col("phash").bitwiseOR(F.lit(255)))
    bad = run_validation(spec, shifted, key_cols=["image_id"], ref=images)
    db = [v for v in bad.table_verdicts if v["check"] == "drift:phash"]
    assert len(db) == 1 and not db[0]["pass"] and db[0]["ks"] > 0.05

    # stored-histogram path with the same fixed [0,65)x65 binning
    from sparkschema.operators.stats import histogram
    stored = [(r["bucket"], r["cnt"]) for r in histogram(
        images.select(F.bit_count("phash").alias("bw")),
        "bw", 0, 65, 65).collect()]
    spec2 = {"properties": {
        "phash": {"x-drift": {"kind": "phash_weight",
                              "ref_histogram": stored,
                              "ks_threshold": 0.05}}}}
    again = run_validation(spec2, images, key_cols=["image_id"])
    d2 = [v for v in again.table_verdicts if v["check"] == "drift:phash"]
    assert len(d2) == 1 and d2[0]["pass"]


ODD_NAMES = ["a.b", "we`ird", "my col", "x$y", "ü", "x${y}"]


@pytest.mark.parametrize("name", ODD_NAMES)
def test_odd_column_names_validate_like_kernel(spark, name):
    """A column name with a dot, a back-quote, a space, a ``$`` or a
    non-ASCII letter works as a checked property, the report key, an
    ``x-unique`` column and a ``$ref_data`` column, and the row verdicts
    match the kernel's."""
    from collections import Counter

    from sparkschema.spec.interpreter import Validator

    values = [1, 2, 2, -1, 7, None]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(values)],
                               f"{_ddl(name)} int, i int")
    dim = spark.createDataFrame([(1,), (2,), (-1,)], f"{_ddl(name)} int")
    row_spec = {"type": "object", "required": [name],
                "properties": {name: {"type": "integer", "minimum": 0}}}
    spec = {**row_spec, "properties": {name: {
        **row_spec["properties"][name],
        "x-unique": True, "$ref_data": f"dim.{name}"}}}
    res = run_validation(spec, df, key_cols=[name], dims={"dim": dim})

    kernel = Validator()
    expected = Counter(
        (None if v is None else str(v), e.keyword)
        for v in values
        for e in kernel.validate(row_spec, {} if v is None else {name: v}))
    rows = res.violations.collect()
    got = Counter((r[name], r["keyword"]) for r in rows
                  if r["keyword"] not in ("x-unique", "$ref_data"))
    assert got == expected
    assert Counter((r[name], r["keyword"]) for r in rows
                   if r["keyword"] in ("x-unique", "$ref_data")) \
        == Counter({("2", "x-unique"): 1, ("7", "$ref_data"): 1})
    assert df.where(~res.compiled.row_valid()).count() == sum(
        1 for v in values
        if kernel.validate(row_spec, {} if v is None else {name: v}))
    verdicts = {v["check"]: v for v in res.table_verdicts}
    assert verdicts[f"unique:{name}"]["dup_keys"] == 1
    assert verdicts[f"ref:{name}->{name}"]["orphan_rows"] == 1
    failing = {r["check"] for r in res.partition_verdicts.collect()
               if not r["pass"]}
    assert failing == {f"minimum:/{name}", f"required:/{name}"}


def _ddl(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@pytest.mark.parametrize("name", ODD_NAMES + ["it's", "a\\b", "a\\$b"])
def test_odd_struct_field_names_validate_like_kernel(spark, name):
    """A struct field with a dot, a back-quote, a quote, a backslash, a
    ``$`` or a non-ASCII letter in its name is read by ``properties``,
    ``required``, ``dependencies``, ``maxProperties``, ``const`` and by
    ``items`` on an array of structs, and the violations match the
    kernel's."""
    from collections import Counter

    from sparkschema.compiler.table import compile_table_spec
    from sparkschema.spec.interpreter import Validator

    f = _ddl(name)
    rows = [(0, 1, None, [1]), (1, -1, 1, [11]), (2, None, 1, []),
            (3, 5, 5, [None]), (4, 2, 2, None)]
    df = spark.createDataFrame(
        [(i, (v, o), None if a is None else [(x,) for x in a])
         for i, v, o, a in rows],
        f"i int, s struct<{f}: int, other: int>, arr array<struct<{f}: int>>")
    spec = {"type": "object", "properties": {
        "s": {"type": "object", "required": [name],
              "properties": {name: {"type": "integer", "minimum": 0}},
              "dependencies": {name: ["other"]},
              "maxProperties": 1,
              "not": {"const": {name: 5, "other": 5}}},
        "arr": {"type": "array",
                "items": {"type": "object", "required": [name],
                          "properties": {name: {"maximum": 10}}}}}}
    cts = compile_table_spec(spec, df, key_cols=["i"])

    def instance(v, o, a):
        s = {k: x for k, x in ((name, v), ("other", o)) if x is not None}
        doc = {"s": s}
        if a is not None:
            doc["arr"] = [{} if x is None else {name: x} for x in a]
        return doc

    # the typed path reports a failing array element as one ``items``
    # violation of the array, the kernel the element's own keyword
    kernel = Validator()
    expected = Counter(
        (str(i), "items" if e.instance_path.startswith("/arr/")
         else e.keyword)
        for i, v, o, a in rows
        for e in kernel.validate(spec, instance(v, o, a)))
    got = Counter((r.i, r.keyword) for r in cts.violations(df).collect())
    assert got == expected
    assert df.where(~cts.row_valid()).count() == len({i for i, _ in expected})
