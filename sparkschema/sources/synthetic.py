"""Deterministic synthetic image+caption table (FIXTURES.md §1).

The generator is **distributed**: every column derives from ``spark.range``
ids through hash expressions (xxhash64), so a 10^9-row table generates with
zero driver-side data and scales linearly with executors. Image ``bytes``
are materialized by an Arrow-batched ``mapInPandas`` stage only when
requested (``with_bytes=True``) — scalar-constraint benchmarks skip byte
materialization entirely and Catalyst prunes the stage away.

Injected anomalies (all hash-gated, hence deterministic at any scale and
any partitioning):
- duplicate ``image_id``/``phash`` clusters (~``dup_fraction``),
- orphan ``fmt`` values outside the dim_fmt dimension (~0.05%),
- empty / NULL / non-printable captions,
- truncated (corrupt) byte buffers,
- caption mismatches vs the reference copy (``variant="ref"``).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkschema._worker import on_load
from sparkschema.functions.imagecodec import FMT_CODES, encode, synth_pixels

TOKENS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "image",
    "caption", "pixel", "color", "light", "shadow", "tree", "river", "sky",
    "mountain", "city", "street", "night", "day", "portrait", "landscape",
    "macro", "wide", "angle", "lens", "frame", "scene", "subject", "detail",
]
SIZES = [64, 128, 256, 512]
FMT_DIM = ["raw", "rawz", "png", "jpg"]


def _h(col, salt: int, seed: int):
    return F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed)))


def images_df(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    dup_fraction: float = 0.001,
    orphan_fmt_fraction: float = 0.0005,
    caption_anomaly_fraction: float = 0.002,
    corrupt_fraction: float = 0.0005,
    caption_mismatch_fraction: float = 0.001,
    with_bytes: bool = False,
    variant: str = "main",
    partitions: int | None = None,
) -> DataFrame:
    """The input_hint table ``(image_id, bytes, w, h, fmt, caption, phash)``.

    ``variant="ref"`` produces the pristine reference copy: lossless bytes,
    no corruption, no orphan fmt, canonical captions — the join target for
    round-trip PSNR / caption-equality checks.
    """
    base = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    is_ref = variant == "ref"

    id_ = F.col("id")
    h_dup = _h(id_, 1, seed) % 1_000_000
    eff_id = F.when((h_dup < int(dup_fraction * 1_000_000)) & (id_ > 0), id_ - 1) \
              .otherwise(id_)

    # sizes: skewed toward small images; fmt: heavy skew toward jpg
    h_w = _h(eff_id, 2, seed) % 10
    w = (F.when(h_w < 5, SIZES[0]).when(h_w < 8, SIZES[1])
          .when(h_w < 9, SIZES[2]).otherwise(SIZES[3]))
    h_h = _h(eff_id, 3, seed) % 10
    h = (F.when(h_h < 5, SIZES[0]).when(h_h < 8, SIZES[1])
          .when(h_h < 9, SIZES[2]).otherwise(SIZES[3]))

    h_fmt = _h(id_, 4, seed) % 10_000
    orphan_cut = 10_000 - int(orphan_fmt_fraction * 10_000)
    fmt = (F.when(h_fmt < 6_000, "jpg").when(h_fmt < 8_000, "png")
            .when(h_fmt < 9_000, "raw")
            .when(h_fmt < orphan_cut, "rawz"))
    fmt = (fmt.otherwise("rawz") if is_ref else fmt.otherwise("tiff"))

    # caption: 3-12 seeded tokens; anomalies only in the main variant
    tok = F.array(*[F.lit(t) for t in TOKENS])
    ln = (_h(eff_id, 5, seed) % 10) + 3
    words = F.transform(
        F.sequence(F.lit(1), ln.cast("int")),
        lambda i: F.get(tok, (F.xxhash64(eff_id, i, F.lit(seed)) % len(TOKENS)
                              + len(TOKENS)).cast("int") % len(TOKENS)),
    )
    caption = F.concat_ws(" ", words)
    if not is_ref:
        h_cap = _h(id_, 6, seed) % 10_000
        cut = int(caption_anomaly_fraction * 10_000)
        caption = (F.when(h_cap < cut, F.lit(""))
                    .when(h_cap < 2 * cut, F.lit(None).cast("string"))
                    .when(h_cap < 3 * cut, F.concat(caption, F.lit("☃")))
                    .otherwise(caption))
        h_mis = _h(id_, 9, seed) % 10_000
        caption = F.when(h_mis < int(caption_mismatch_fraction * 10_000),
                         F.concat(caption, F.lit(" EDITED"))).otherwise(caption)

    # phash: follows eff_id so duplicate images share phash clusters; a
    # small hot cluster exercises skew handling
    h_hot = _h(id_, 7, seed) % 1_000
    phash = F.when(h_hot < 2, F.lit(0x5AD5AD5AD5AD5AD)).otherwise(
        F.xxhash64(eff_id, F.lit(8), F.lit(seed)))

    df = base.select(
        F.format_string("img-%012d", eff_id).alias("image_id"),
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
        fmt.alias("fmt"),
        caption.alias("caption"),
        phash.cast("long").alias("phash"),
        (_h(id_, 10, seed) % 10_000).alias("__hcorrupt"),
    )

    if with_bytes:
        corrupt_cut = 0 if is_ref else int(corrupt_fraction * 10_000)
        store_lossless = is_ref

        @on_load
        def gen_bytes(it: Iterator) -> Iterator:
            for pdf in it:
                bufs = []
                for iid, ww, hh, ff, hc in zip(pdf["image_id"], pdf["w"], pdf["h"],
                                               pdf["fmt"], pdf["__hcorrupt"]):
                    f_eff = ff if ff in FMT_CODES else "raw"
                    px = synth_pixels(iid, int(ww), int(hh), seed)
                    buf = encode(px, "raw" if store_lossless else f_eff)
                    if int(hc) < corrupt_cut:
                        buf = buf[: max(9, len(buf) // 2)]  # truncated payload
                    bufs.append(buf)
                yield pdf.assign(bytes=bufs)

        with_b = df.mapInPandas(
            gen_bytes,
            schema="image_id string, w int, h int, fmt string, caption string, "
                   "phash long, __hcorrupt long, bytes binary",
        )
        return with_b.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    return df.select("image_id", F.lit(None).cast("binary").alias("bytes"),
                     "w", "h", "fmt", "caption", "phash")


def dim_fmt_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(f,) for f in FMT_DIM], "fmt string")
