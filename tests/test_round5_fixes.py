"""Regression tests for the round-5 ADVICE fixes and VERDICT tasks:
structural-nesting guards, checkpoint meta pinning, catalog-location
equality and run_validation cache scopes."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkschema.spec.parser import SpecError, parse_spec


# ------------------------------------------------------ nesting guards

def _nested_not(levels: int) -> dict:
    s: dict = {"type": "integer"}
    for _ in range(levels):
        s = {"not": s}
    return s


def test_parser_deep_nesting_bounded_error():
    """A hostile ref-free schema nested past Python's recursion limit
    raises SpecError at parse time, not RecursionError (ADVICE r4)."""
    with pytest.raises(SpecError, match="nesting"):
        parse_spec(_nested_not(2000))
    # legitimate depth still parses
    parse_spec(_nested_not(100))


def test_interpreter_deep_nesting_bounded_error():
    from sparkschema.spec.interpreter import Validator

    v = Validator()
    with pytest.raises(SpecError, match="nesting"):
        v.validate(_nested_not(1500), 3)
    # ref-hop parity depth (100) still passes through the structural guard
    assert v.validate(_nested_not(150), 3) is not None
    # the counter unwinds: the validator stays usable after the raise
    with pytest.raises(SpecError):
        v.validate(_nested_not(1500), 3)
    assert v.validate({"type": "integer"}, 3) == []


# ------------------------------------------------------ checkpoint pinning

def test_pin_meta_first_writer_wins(tmp_path):
    """Two racing first runs must bucket with the SAME pinned n_units —
    the loser re-reads the winner's value (ADVICE r4)."""
    from sparkschema.streaming.checkpoint import Manifest

    m1 = Manifest(str(tmp_path / "ckpt"))
    m2 = Manifest(str(tmp_path / "ckpt"))
    assert m1.pin_meta({"n_units": 5})["n_units"] == 5
    # the "losing" racer computed a different count; pin returns 5
    assert m2.pin_meta({"n_units": 9})["n_units"] == 5
    assert m1.meta()["n_units"] == 5


def test_pin_meta_used_by_run_resumable(tmp_path, spark):
    from sparkschema.streaming.checkpoint import run_resumable

    src = str(tmp_path / "src")
    spark.range(100).withColumn("v", F.col("id") * 2) \
        .repartition(4).write.parquet(src)
    calls = []

    def unit(df, files):
        calls.append(len(files))
        return {"rows": df.count()}

    r1 = run_resumable(spark, src, str(tmp_path / "m"), unit, files_per_unit=2)
    assert r1.processed_units > 0 and r1.skipped_units == 0
    r2 = run_resumable(spark, src, str(tmp_path / "m"), unit, files_per_unit=2)
    assert r2.processed_units == 0 and r2.skipped_units == r1.processed_units
    # meta file pinned exactly once, readable
    meta = json.load(open(os.path.join(str(tmp_path / "m"), "_meta.json")))
    assert meta["n_units"] >= 1


# ------------------------------------------------------ catalog location

def test_catalog_location_equality():
    """file:-scheme Location must compare EQUAL to the requested path, not
    endswith — /mnt/backup/root/data/bkt is NOT /root/data/bkt (ADVICE r4)."""
    from sparkschema.sources.tables import _catalog_location_path as lp

    assert lp("file:/root/data/bkt") == "/root/data/bkt"
    assert lp("file:///root/data/bkt/") == "/root/data/bkt"
    assert lp("/root/data/bkt") == "/root/data/bkt"
    assert lp("file:/mnt/backup/root/data/bkt") != "/root/data/bkt"
    assert lp("hdfs://nn:8020/root/data/bkt") is None
    assert lp("s3a://bucket/root/data/bkt") is None


def test_ensure_bucketed_rejects_suffix_location(spark, tmp_path):
    """A catalog entry at a DIFFERENT path that suffix-matches the request
    is dropped and re-registered against the requested path."""
    from sparkschema.sources.tables import ensure_bucketed_table

    inner = str(tmp_path / "deep" / "data")
    outer = str(tmp_path / "data")
    df = spark.range(10).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        F.col("id").alias("v"))
    name = "t_round5_suffix"
    spark.sql(f"drop table if exists {name}")
    ensure_bucketed_table(spark, name, inner, source_df=df, buckets=4)
    # same table name, but a path that is a SUFFIX of the registered one:
    # the old endswith check would have trusted the inner registration
    ensure_bucketed_table(spark, name, outer,
                          source_df=df.withColumn("v", F.col("v") + 100),
                          buckets=4)
    got = {r.v for r in spark.table(name).collect()}
    assert got == {i + 100 for i in range(10)}
    spark.sql(f"drop table if exists {name}")


# ------------------------------------------------------ validation scope

def test_run_validation_accepts_cache_scope(spark):
    from sparkschema.operators.caching import CacheScope, default_scope
    from sparkschema.plans.validation_run import run_validation
    from sparkschema.sources.synthetic import images_df

    images = images_df(spark, 500, partitions=4)
    spec = {"type": "object",
            "properties": {"phash": {"type": "integer",
                                     "x-unique": ["image_id"]}}}
    n_default = len(default_scope()._frames)
    with CacheScope() as scope:
        res = run_validation(spec, images, key_cols=["image_id"], scope=scope)
        assert res.violations.count() >= 0
        # the duplicate-key persists registered with OUR scope…
        assert len(scope._frames) == 2  # phash + image_id lanes
        # …and not with the process-wide default scope
        assert len(default_scope()._frames) == n_default


# ------------------------------------------------------ unicode delta

def test_unicode_delta_matches_live_jvm(spark):
    """Re-derive the generated _unicode_delta sets against the running
    JVM (reflect over all 0x110000 codepoints) — fails on drift, e.g. a
    JDK upgrade that moves the Java Unicode version."""
    import unicodedata

    from sparkschema.spec import _unicode_delta as UD

    jt = {r.cp: r.jt for r in spark.range(0x110000).selectExpr(
        "cast(id as int) as cp",
        "cast(reflect('java.lang.Character','getType',"
        " cast(id as int)) as int) as jt").collect()}
    MARK_J, NOBASE_J = {6, 7}, {6, 7, 15, 16, 13, 14}
    mp, md, np_, nd = set(), set(), set(), set()
    for cp, t in jt.items():
        pc = unicodedata.category(chr(cp))
        pmark, jmark = pc in ("Mn", "Me"), t in MARK_J
        pnob = pc in ("Mn", "Me", "Cc", "Cf", "Zl", "Zp")
        jnob = t in NOBASE_J
        if jmark and not pmark:
            mp.add(cp)
        if pmark and not jmark:
            md.add(cp)
        if jnob and not pnob:
            np_.add(cp)
        if pnob and not jnob:
            nd.add(cp)
    assert mp == set(UD.MARK_PROMOTE)
    assert md == set(UD.MARK_DEMOTE)
    assert np_ == set(UD.NOBASE_PROMOTE)
    assert nd == set(UD.NOBASE_DEMOTE)


def test_grapheme_differential_on_unicode_delta_ranges(spark):
    """Live-JVM BreakIterator differential focused on the codepoints whose
    Mn/Me/Cc/Cf class differs between Java's Unicode 13 and Python's
    Unicode 14 data — the residual VERDICT r4 flagged. All three paths
    (Python kernel, Catalyst regex twin, JVM) must agree."""
    import random
    import shutil
    import subprocess
    import tempfile
    import textwrap

    if not shutil.which("javac") or not shutil.which("java"):
        pytest.skip("no JDK in PATH")

    from sparkschema.compiler import sqltext as S
    from sparkschema.compiler.columns import grapheme_length_sql
    from sparkschema.spec import _unicode_delta as UD
    from sparkschema.spec.jsonvalue import grapheme_length

    src = textwrap.dedent("""
        import java.text.BreakIterator;
        import java.io.BufferedReader;
        import java.io.InputStreamReader;
        public class GraphemeCount5 {
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
    tmp = tempfile.mkdtemp(prefix="graphemejava5")
    with open(f"{tmp}/GraphemeCount5.java", "w") as f:
        f.write(src)
    subprocess.run(["javac", "GraphemeCount5.java"], cwd=tmp, check=True)

    # alphabet = EVERY divergent codepoint plus bases/marks/controls that
    # interact with the mark-folding rule
    delta = sorted(set(UD.MARK_PROMOTE) | set(UD.MARK_DEMOTE)
                   | set(UD.NOBASE_PROMOTE) | set(UD.NOBASE_DEMOTE))
    alpha = delta + [0x61, 0x31, 0x20, 0x301, 0x488, 0x93E, 0x0D, 0x0A,
                     0x200D, 0xFEFF, 0xAC00, 0x1100, 0x1160]
    rng = random.Random(20260817)
    cases = [chr(c) for c in delta]                      # each alone
    cases += [chr(c) + "́" for c in delta]          # delta + mark
    cases += ["a" + chr(c) for c in delta]               # base + delta
    cases += ["".join(chr(rng.choice(alpha))
                      for _ in range(rng.randint(2, 8)))
              for _ in range(1200)]
    inp = "\n".join(" ".join(f"{ord(ch):x}" for ch in s)
                    for s in cases) + "\n"
    out = subprocess.run(["java", "-cp", tmp, "GraphemeCount5"], input=inp,
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


# ------------------------------------------------ hostile-deep documents

def test_total_frame_budget_violation_row_is_serializable():
    """A chained deep-nesting schema (each hop under the 200-level
    structural guard, linked by $ref) against a 20k-deep instance must
    produce a graceful err.max.depth ROW — and building that row must
    not itself die serializing the 17k-deep remaining value (the
    _safe_dump chokepoint; review find r5). Built through SpecRegistry
    so '$ref: #' actually resolves — a resolver-less Validator fails the
    ref at hop 1 and never engages the budget."""
    from sparkschema.spec.registry import SpecRegistry

    def deep_schema(n, tail):
        s = tail
        for _ in range(n):
            s = {"properties": {"a": s}}
        return s

    schema = deep_schema(150, {"$ref": "#"})
    inst = {}
    for _ in range(20000):
        inst = {"a": inst}

    out = SpecRegistry("draft7").validate(schema, inst)
    assert len(out) == 1 and out[0].keyword == "$ref"
    assert "max" in out[0].msg.lower() or "depth" in out[0].msg.lower()
    # the value field is the placeholder, not a crash
    assert "nested too deeply" in out[0].value


def test_parse_json_depth_cap_matches_jackson_default():
    """parse_json accepts documents to 1000 nesting levels (Jackson
    StreamReadConstraints default under the reference's Play-JSON) and
    raises ValueError beyond — including depths that would otherwise be
    an uncaught RecursionError inside json.loads. Bracket-heavy STRING
    content must not false-trip the C-speed gate."""
    import pytest
    from sparkschema.spec.jsonvalue import parse_json

    v = parse_json("[" * 999 + "1" + "]" * 999)   # under the cap
    for _ in range(998):
        v = v[0]
    assert v == [1]

    assert parse_json('{"s":"' + "{" * 5000 + '"}')["s"] == "{" * 5000

    with pytest.raises(ValueError, match="nesting"):
        parse_json("[" * 1001 + "1" + "]" * 1001)
    with pytest.raises(ValueError, match="nesting"):
        parse_json("[" * 50000 + "1" + "]" * 50000)


def test_kernel_udf_survives_hostile_deep_rows(spark):
    """End-to-end: a batch mixing normal rows with a 50k-deep document
    flows through the kernel validation UDF — the deep row reports as a
    parse violation (reference parity: Jackson refuses it), the job
    does not die."""
    from sparkschema.compiler.jsoncol import json_valid_column

    rows = [('{"a": 1}',), ("[" * 50000 + "1" + "]" * 50000,), (None,)]
    df = spark.createDataFrame(rows, "payload string")
    out = df.select(
        json_valid_column("payload",
                          {"type": "object"}).alias("ok")).collect()
    assert [r.ok for r in out] == [True, False, None]
