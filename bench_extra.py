"""Extra benchmarks for optimization work (guide §1.4): per-query
isolation with the same methodology as bench.py, plus plan capture.

bench.py is FROZEN for measurement; this file hosts the round-6
profiling runs cited in OPTIMIZATION_r06.md. It reuses bench.py's
session/table/timing helpers via import so the numbers are comparable.

Usage:
    python bench_extra.py queries [name ...]     # sf-dir queries
    python bench_extra.py flagship               # headline metric
    python bench_extra.py group <flagship_table|skew|roundtrip|dedup|image>
    python bench_extra.py explain [name ...]     # dump plans to plans/r06/
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 here — the
driver's measurement scale), SPARK_GRAFT_CPUS, PLAN_TAG (before/after).
"""

from __future__ import annotations

import json
import os
import sys
import time

import bench as B

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plans", "r06")

SF_QUERY_NAMES = (
    "range_violations_lineitem", "minmax_lineitem",
    "histogram_extendedprice", "drift_ks_lineitem",
    "token_stats_documents", "embedding_topk", "hll_distinct_lineitem",
    "pii_redaction_documents", "vocab_topk_documents",
    "line_dedup_documents", "curation_report_documents",
    "sessions_events", "asof_events", "pack_layout_documents",
    "weighted_mix_documents", "normalize_documents",
    "token_drift_documents",
)


def _session():
    spark = B.make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(names=None) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    spark = _session()
    qs = entry_mod.queries()
    names = names or list(SF_QUERY_NAMES) + ["events_json_invalid",
                                             "duplicate_orderkeys"]
    out = {}
    B.warm_page_cache(SF_DIR)
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if name == "events_json_invalid":
            out[name] = B.timed_fresh_collect(
                lambda: entry_mod._build_events_json_invalid(spark, SF_DIR))
        elif name == "duplicate_orderkeys":
            out[name] = B.timed(
                lambda: qs["duplicate_orderkeys"](spark, SF_DIR).count())
        else:
            fn = qs[name]
            out[name] = B.timed(lambda f=fn: f(spark, SF_DIR).collect(),
                                runs=2)
        print(f"  {name}: {out[name]}", file=sys.stderr)
    spark.stop()
    return out


def run_flagship() -> dict:
    spark = _session()
    B.ensure_image_tables(spark, CPUS)
    B.warm_page_cache(B.IMAGE_TABLE)
    B.flagship_validate(spark)  # warm-up
    runs = [B.flagship_validate(spark) for _ in range(3)]
    s, rows = min(runs)
    spark.stop()
    return {"flagship_seconds": round(s, 3), "rows": rows,
            "rows_per_sec": round(rows / s)}


def run_group(which: str) -> dict:
    spark = _session()
    B.ensure_image_tables(spark, CPUS)
    probes: dict = {}
    out = B.bench_queries(spark, SF_DIR, CPUS, probes) if which == "all" \
        else _one_group(spark, which, probes)
    spark.stop()
    return {"queries": out, "probes": probes}


def _one_group(spark, which: str, probes: dict) -> dict:
    """Replicate bench_queries' group bodies selectively (bench.py runs
    them all; iteration needs one at a time)."""
    from pyspark.sql import functions as F

    from sparkschema.operators.caching import release_default_cache
    from sparkschema.operators.dedup import (minhash_lsh_pairs,
                                             minhash_signatures,
                                             simhash_frame)

    if which == "dedup":
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        B.ensure_text_table(spark, SF_DIR)
        text = spark.read.parquet(B._text_table(SF_DIR))

        def g() -> dict:
            B.warm_page_cache(B._text_table(SF_DIR),
                              f"{SF_DIR}/documents.parquet")
            r = {}
            r["minhash_pairs_documents"] = B.timed(
                lambda: minhash_lsh_pairs(docs, "text", "doc_id",
                                          num_hashes=48, bands=12,
                                          jaccard_min=0.6).count(),
                runs=2)
            release_default_cache()
            r["simhash_sigs_numpy_100k"] = B.timed(
                lambda: simhash_frame(text, "text", "doc_id")
                .agg(F.bit_xor("simhash")).collect())
            r["minhash_sigs_numpy_100k"] = B.timed(
                lambda: minhash_signatures(text, "text", "doc_id",
                                           num_hashes=48)
                .agg(F.bit_xor(F.get(F.col("sig"), 0))).collect())
            release_default_cache()
            return r

        return B.probed_group("dedup", g, probes)

    if which == "image":
        bimgs = spark.read.parquet(B.IMAGE_BYTES_TABLE)
        from sparkschema.operators.caching import CacheScope
        from sparkschema.operators.imagedup import image_phash_pairs
        from sparkschema.operators.imagemeta import container_meta_verdict
        from sparkschema.plans.image_curation import curate_images

        def g() -> dict:
            r = {"image_phash_pairs": B.timed(
                lambda: image_phash_pairs(bimgs).count(), runs=2,
                prewarm=lambda: B.warm_page_cache(B.IMAGE_BYTES_TABLE))}
            release_default_cache()
            r["image_container_meta"] = B.timed(
                lambda: container_meta_verdict(bimgs).collect(), runs=2,
                prewarm=lambda: B.warm_page_cache(B.IMAGE_BYTES_TABLE))
            release_default_cache()

            def run_curation() -> None:
                scope = CacheScope()
                try:
                    curate_images(bimgs, phash_near_dup=True,
                                  caption_cap=4, scope=scope).report.collect()
                finally:
                    scope.release()

            r["image_curation_20k"] = B.timed(
                run_curation, runs=2,
                prewarm=lambda: B.warm_page_cache(B.IMAGE_BYTES_TABLE))
            return r

        return B.probed_group("image", g, probes)

    if which == "flagship_table":
        from sparkschema.compiler.table import compile_table_spec
        from sparkschema.operators.imagequality import (
            aspect_bucket_report, image_quality_report)
        from sparkschema.operators.uniqueness import duplicate_keys
        from sparkschema.plans.validation_run import run_validation
        from sparkschema.sources.synthetic import dim_fmt_df

        imgs = spark.read.parquet(B.IMAGE_TABLE)
        cts = compile_table_spec(B.FLAGSHIP_SPEC, imgs,
                                 key_cols=["image_id"])

        def g() -> dict:
            B.warm_page_cache(B.IMAGE_TABLE)
            return {
                "flagship_violations": B.timed(
                    lambda: cts.violations(imgs).count()),
                "flagship_verdicts": B.timed(
                    lambda: cts.verdicts(imgs).count()),
                "image_quality_gate": B.timed(
                    lambda: image_quality_report(
                        imgs, bytes_col=None).collect()),
                "image_aspect_buckets": B.timed(
                    lambda: aspect_bucket_report(imgs).collect()),
                "image_uniqueness_salted": B.timed(
                    lambda: duplicate_keys(imgs, "image_id").count()),
                "image_ref_anti_join": B.timed(
                    lambda: run_validation(
                        {"properties": {"fmt": {"$ref_data": "dim_fmt.fmt"}}},
                        imgs, key_cols=["image_id"],
                        dims={"dim_fmt": dim_fmt_df(spark)})
                    .violations.count()),
            }

        return B.probed_group("flagship_table", g, probes)

    if which == "skew":
        from sparkschema.operators.uniqueness import duplicate_keys
        from sparkschema.plans.validation_run import run_validation
        from sparkschema.sources.synthetic import dim_fmt_df

        imgs = spark.read.parquet(B.IMAGE_TABLE)
        hk = F.abs(F.xxhash64("image_id")) % 100
        zipf_key = (F.when(hk < 20, F.lit("hot-0"))
                    .when(hk < 30, F.lit("hot-1"))
                    .when(hk < 35, F.lit("hot-2"))
                    .when(hk < 38, F.lit("hot-3"))
                    .otherwise(F.col("image_id")))
        skewed = imgs.select(zipf_key.alias("k"), "fmt", "image_id")
        orphan_fk = F.when(hk < 20, F.lit("zzz")).otherwise(F.col("fmt"))
        skew_fact = imgs.select("image_id", orphan_fk.alias("fmt"))

        def g() -> dict:
            B.warm_page_cache(B.IMAGE_TABLE)
            return {
                "uniqueness_zipf": B.timed(
                    lambda: duplicate_keys(skewed, "k").count()),
                "uniqueness_zipf_salted": B.timed(
                    lambda: duplicate_keys(skewed, "k",
                                           salt_lanes=8).count()),
                "uniqueness_uniform_twin": B.timed(
                    lambda: duplicate_keys(
                        imgs.select(F.col("image_id").alias("k")),
                        "k").count()),
                "ref_anti_join_zipf": B.timed(
                    lambda: run_validation(
                        {"properties": {"fmt": {"$ref_data": "dim_fmt.fmt"}}},
                        skew_fact, key_cols=["image_id"],
                        dims={"dim_fmt": dim_fmt_df(spark)})
                    .violations.count()),
            }

        return B.probed_group("skew", g, probes)

    if which == "roundtrip":
        from sparkschema.operators.roundtrip import (roundtrip_tables,
                                                     roundtrip_verdict)
        bkt_imgs, bkt_ref = roundtrip_tables(
            spark, B.BUCKETED_BYTES_TABLE, B.BUCKETED_REF_TABLE,
            names=("bench_bytes_bkt", "bench_ref_bkt"))
        bimgs = spark.read.parquet(B.IMAGE_BYTES_TABLE)
        bref = spark.read.parquet(B.REF_BYTES_TABLE)

        def g() -> dict:
            return {
                "image_roundtrip_psnr": B.timed(
                    lambda: roundtrip_verdict(bkt_imgs, bkt_ref).collect(),
                    runs=3,
                    prewarm=lambda: B.warm_page_cache(
                        B.BUCKETED_BYTES_TABLE, B.BUCKETED_REF_TABLE)),
                "image_roundtrip_psnr_unbucketed": B.timed(
                    lambda: roundtrip_verdict(bimgs, bref).collect(),
                    runs=3,
                    prewarm=lambda: B.warm_page_cache(
                        B.IMAGE_BYTES_TABLE, B.REF_BYTES_TABLE)),
            }

        return B.probed_group("roundtrip", g, probes)

    raise SystemExit(f"unknown group {which}")


def dump_plans(names) -> None:
    import __spark_entry__ as entry_mod

    tag = os.environ.get("PLAN_TAG", "before")
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _session()
    qs = entry_mod.queries()
    for name in names:
        if name == "events_json_invalid":
            df = entry_mod._build_events_json_invalid(spark, SF_DIR)
        else:
            df = qs[name](spark, SF_DIR)
        path = os.path.join(PLAN_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def make_sfrep(mult: int = 10, base: str = "/root/testdata/sf0.1",
               dest: str | None = None) -> str:
    """Materialize a ``mult``x replica of the sf0.1 star schema for
    profiling at the driver's measurement scale (sf1.0 = 10x sf0.1; the
    driver-generated sf1.0 dir is not present this round). Keys are
    offset per copy CONSISTENTLY across fact/dim tables so join fanouts,
    orphan rates and duplicate-group structure replicate linearly.
    Document text gets a per-copy per-word suffix (disjoint shingle
    spaces per copy — near-dup pair counts grow linearly, same
    construction as bench.ensure_linearity_tables). Embeddings for
    copy>0 are deterministically rotated so replicas are not exact
    vector duplicates (which would fake quadratic near-dup growth)."""
    from pyspark.sql import functions as F

    dest = dest or f"/tmp/sparkschema_bench/sfrep{mult}x"
    done = os.path.join(dest, "_DONE")
    if os.path.exists(done):
        return dest
    spark = _session()
    os.makedirs(dest, exist_ok=True)
    OFF = {"o_orderkey": 100_000_000, "l_orderkey": 100_000_000,
           "o_custkey": 10_000_000, "c_custkey": 10_000_000,
           "l_partkey": 10_000_000, "p_partkey": 10_000_000,
           "l_suppkey": 1_000_000, "s_suppkey": 1_000_000,
           "doc_id": 10_000_000, "event_id": 100_000_000,
           "user_id": 10_000_000, "vec_id": 10_000_000}
    reps = spark.range(mult).select(F.col("id").alias("copy"))

    def replicate(name: str, text_col: str | None = None,
                  vec_col: str | None = None, parts: int = 32):
        df = spark.read.parquet(f"{base}/{name}.parquet")
        out = df.crossJoin(reps)
        for c in df.columns:
            if c in OFF:
                out = out.withColumn(c, F.col(c) + F.col("copy") * OFF[c])
        if text_col:
            tag = F.concat(F.lit("#c"), F.col("copy").cast("string"))
            tagged = F.concat_ws(
                " ", F.transform(F.split(F.col(text_col), " "),
                                 lambda w: F.concat(w, tag)))
            out = out.withColumn(
                text_col,
                F.when(F.col(text_col).isNull(), F.col(text_col))
                 .when(F.col("copy") == 0, F.col(text_col))
                 .otherwise(tagged))
        if vec_col:
            out = out.withColumn(
                vec_col,
                F.transform(F.col(vec_col),
                            lambda x, i: x + (F.col("copy") * (i + 1))
                            .cast("float") / F.lit(997.0)))
        (out.drop("copy").repartition(parts)
            .write.mode("overwrite").parquet(f"{dest}/{name}.parquet"))
        print(f"  replicated {name} x{mult}", file=sys.stderr)

    for nm in ("nation", "region", "supplier", "customer", "part",
               "orders"):
        replicate(nm, parts=8 if nm in ("nation", "region") else 32)
    replicate("lineitem", parts=64)
    replicate("documents", text_col="text")
    replicate("events", parts=32)
    replicate("embeddings", vec_col="embedding", parts=16)
    with open(done, "w") as fh:
        fh.write("ok")
    spark.stop()
    return dest


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    args = sys.argv[2:]
    t0 = time.time()
    if cmd == "queries":
        out = run_queries(args or None)
    elif cmd == "flagship":
        out = run_flagship()
    elif cmd == "group":
        out = run_group(args[0])
    elif cmd == "explain":
        dump_plans(args or list(SF_QUERY_NAMES) + ["events_json_invalid"])
        out = {"ok": True}
    elif cmd == "make_sfrep":
        out = {"dest": make_sfrep(int(args[0]) if args else 10)}
    else:
        raise SystemExit(f"unknown command {cmd}")
    out["wall_s"] = round(time.time() - t0, 1)
    out["probe"] = B.quick_cpu_probe()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
