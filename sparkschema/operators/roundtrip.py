"""Round-trip verification vs the reference copy (BASELINE.json invariant):
decoded-pixel PSNR ≥ 40 dB (lossy) / exact (lossless), plus exact caption
equality — ``x-roundtrip`` in the flagship spec (FIXTURES.md §3).

Scale design: the two tables join on ``image_id`` as a shuffled sort-merge
join by default (both sides are the full corpus at 10^12 scale; with
Iceberg both sides would be bucketed by ``image_id`` so the join is
exchange-free). PSNR runs as a **vectorized pandas UDF over Arrow
batches** — numpy decodes/compares each batch; no per-row Python dispatch
(input_hint: "no per-row Python"). Caption equality is a pure Column
expression and costs nothing extra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkschema._worker import on_load


@F.pandas_udf(T.DoubleType())
@on_load
def _psnr_udf(a, b):
    import math

    import pandas as pd

    from sparkschema.functions.imagecodec import psnr_bytes

    # NULL result = "not comparable" (missing or corrupt buffer) — NaN would
    # become NULL through Arrow anyway, so NULL is the explicit contract
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        bx, by = bytes(x), bytes(y)
        if bx == by:
            # memcmp short-circuit: identical containers decode to
            # identical pixels (lossless fmts vs the pristine copy)
            out.append(float("inf"))
            continue
        p = psnr_bytes(bx, by)
        out.append(None if math.isnan(p) else p)
    return pd.Series(out, dtype="float64")


def roundtrip_tables(spark, images_path: str, ref_path: str,
                     buckets: int = 32,
                     names: tuple[str, str] = ("rt_images_bkt", "rt_ref_bkt"),
                     ) -> tuple[DataFrame, DataFrame]:
    """THE supported scale path for round-trip inputs: register both byte
    tables as co-bucketed catalog tables (``bucketBy(image_id)``, the
    parquet stand-in for an Iceberg ``bucket(image_id)`` layout) so the
    join below compiles to a SortMergeJoin with NO Exchange — at 10^12
    scale an unbucketed join shuffles the entire byte corpus, which is the
    single most expensive exchange the engine can emit (measured 57 s vs
    20 s on the 2.6 GiB bench corpus; plan pinned by
    tests/test_plan_quality.py::test_bucketed_roundtrip_join_has_no_exchange).
    """
    from sparkschema.sources.tables import ensure_bucketed_table
    # Measured r6 negative result, recorded so it is not re-tried: a
    # one-file-per-bucket layout plus
    # ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` drops
    # the two per-side Sorts from the join plan entirely — but the
    # sort-free SMJ then interleaves BOTH sides' vectorized parquet
    # readers inside each task, keeping two multi-hundred-MB binary
    # column batches alive simultaneously, and on ~130 KB byte rows the
    # measured effect is a 5-8x SLOWDOWN in fresh-session/bench context
    # (13.7 s vs 2.5 s; steady state only converges after 4+ runs).
    # Even without the flag, the single large row group per bucket lets
    # the reader build those huge batches under the Sorts (4-9 s) —
    # the many-small-files layout's tiny row groups bound the batch
    # size naturally, so BOTH that layout and the sorted plan are kept
    # (see sources/tables.py for the write-site note).
    imgs = ensure_bucketed_table(spark, names[0], images_path, buckets=buckets)
    ref = ensure_bucketed_table(spark, names[1], ref_path, buckets=buckets)
    return imgs, ref


def roundtrip_frame(images: DataFrame, ref: DataFrame,
                    psnr_min: float = 40.0) -> DataFrame:
    """Per-image round-trip facts: ``(image_id, psnr_db, psnr_ok,
    caption_ok, ref_missing)``.

    ``psnr_db`` is NaN for corrupt/missing buffers. ``inf`` (identical
    pixels) compares fine against any threshold.

    Input contract at scale: pass CO-BUCKETED tables (use
    :func:`roundtrip_tables` or an Iceberg ``bucket(image_id)`` layout on
    both sides) — the join is then exchange-free. Unbucketed DataFrames
    still work as an explicit fallback but shuffle the full byte corpus.
    """
    r = ref.select(
        F.col("image_id").alias("__rid"),
        F.col("bytes").alias("__rbytes"),
        F.col("caption").alias("__rcaption"),
    ).dropDuplicates(["__rid"])
    j = images.join(r, images["image_id"] == r["__rid"], "left")
    # JVM-side memcmp gate: byte-identical containers decode to identical
    # pixels, so their PSNR is inf by definition — NULL their UDF inputs so
    # the bytes never cross the Arrow boundary (pandas UDFs are hoisted out
    # of CASE WHEN and run on every row, but a NULLed ARGUMENT transfers
    # nothing). On a pristine corpus this removes ~all of the Python-stage
    # byte traffic — the dominant cost at scale.
    differ = ~j["bytes"].eqNullSafe(j["__rbytes"])
    udf_psnr = _psnr_udf(F.when(differ, j["bytes"]),
                         F.when(differ, j["__rbytes"]))
    psnr_db = F.when(j["__rid"].isNull(), F.lit(None).cast("double")) \
               .when(j["bytes"].isNotNull() & ~differ, F.lit(float("inf"))) \
               .otherwise(udf_psnr)
    return j.select(
        images["image_id"],
        psnr_db.alias("psnr_db"),
        # NULL psnr ⇒ corrupt/missing buffer ⇒ not ok
        (psnr_db.isNotNull() & (psnr_db >= psnr_min)).alias("psnr_ok"),
        (images["caption"].eqNullSafe(j["__rcaption"])).alias("caption_ok"),
        j["__rid"].isNull().alias("ref_missing"),
    )


def roundtrip_violations(images: DataFrame, ref: DataFrame,
                         psnr_min: float = 40.0) -> DataFrame:
    """Violation rows for round-trip failures, in the engine's standard
    violation shape."""
    f = roundtrip_frame(images, ref, psnr_min)
    mk = lambda kw, val, msg: F.struct(  # noqa: E731
        F.lit(kw).alias("keyword"),
        F.lit("#/properties/bytes/x-roundtrip").alias("schema_path"),
        F.lit("/bytes").alias("instance_path"),
        val.cast("string").alias("value"),
        msg.alias("msg"),
        F.lit("").alias("errors"),
        F.lit("").alias("resolution_scope"),
        F.lit("").alias("referrer"),
    )
    arr = F.array_compact(F.array(
        F.when(f["ref_missing"], mk("x-roundtrip", F.lit("null"),
               F.lit("No reference row for round-trip comparison."))),
        F.when(~f["ref_missing"] & f["psnr_db"].isNull(),
               mk("x-roundtrip", F.lit("corrupt"),
                  F.lit("Image buffer is corrupt or truncated."))),
        F.when(f["psnr_db"].isNotNull() & ~f["psnr_ok"],
               mk("x-roundtrip", F.round(f["psnr_db"], 2),
                  F.concat(F.lit("Decoded image PSNR "),
                           F.round(f["psnr_db"], 2).cast("string"),
                           F.lit(f" dB below minimum {psnr_min} dB.")))),
        F.when(~f["ref_missing"] & ~f["caption_ok"],
               mk("x-roundtrip-caption", F.lit("caption"),
                  F.lit("Caption differs from reference copy."))),
    ))
    return (f.select("image_id", arr.alias("__v"))
             .where(F.size("__v") > 0)
             .select("image_id", F.explode("__v").alias("v"))
             .select("image_id", "v.*"))


def roundtrip_verdict(images: DataFrame, ref: DataFrame,
                      psnr_min: float = 40.0) -> DataFrame:
    f = roundtrip_frame(images, ref, psnr_min)
    # coalesces: an EMPTY table is a vacuous pass with zero counters
    # (sum over zero rows is NULL — the bool(NULL)=False trap fixed for
    # null_fraction in r4); per-cause counters exclude ref_missing rows,
    # which previously also counted as psnr/caption failures, inflating
    # triage numbers three-for-one (review find r4)
    return f.agg(
        F.lit("roundtrip:bytes").alias("check"),
        F.coalesce(
            F.sum((~f["psnr_ok"] | ~f["caption_ok"] | f["ref_missing"])
                  .cast("long")) == 0, F.lit(True)).alias("pass"),
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum((~f["ref_missing"] & ~f["psnr_ok"]).cast("long")),
                   F.lit(0)).alias("psnr_failures"),
        F.coalesce(F.sum((~f["ref_missing"] & ~f["caption_ok"]).cast("long")),
                   F.lit(0)).alias("caption_mismatches"),
        F.coalesce(F.sum(f["ref_missing"].cast("long")), F.lit(0))
         .alias("missing_refs"),
        F.min(F.when(f["psnr_db"] != float("inf"), f["psnr_db"]))
         .alias("min_finite_psnr_db"),
    )
