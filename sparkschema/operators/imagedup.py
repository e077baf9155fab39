"""Image near-duplicate detection — perceptual-hash analog of the text
SimHash path (dedup.simhash_candidates), completing the dedup family on the
image axis of the input table (BASELINE.json input_hint).

Pipeline shape (scale-first):

1. **signature pass** — one Arrow-batched pandas UDF decodes each image
   and emits a 64-bit DCT pHash (functions.imagecodec.dct_phash). This is
   the only Python stage; batches are bounded by
   ``spark.sql.execution.arrow.maxRecordsPerBatch`` (bench sets 512 for
   ~120 KB payloads). The signature table persists — at real scale you
   would write it out next to the corpus, hashes are 8 bytes/image.
2. **chunk-pigeonhole buckets** — identical to the text SimHash path: two
   hashes within Hamming distance < ``chunks`` are GUARANTEED to share a
   64/chunks-bit chunk, so only same-chunk-value pairs are candidates;
   O(Σ bucket²), never all-pairs.
3. **exact verify** — ``bit_count(xor)`` ≤ ``hamming_max`` on the 8-byte
   hashes; no image bytes are ever joined or shuffled.

The heavy ``bytes`` column is touched exactly once (stage 1 scan) and
never crosses an exchange — the property that survives at 10^12 images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkschema._worker import on_load


@F.pandas_udf(T.LongType())
@on_load
def _phash_udf(bufs):
    import pandas as pd

    from sparkschema.functions.imagecodec import phash_bytes

    return pd.Series(
        [None if b is None else phash_bytes(bytes(b)) for b in bufs],
        dtype="Int64")


def _phash_map_batches(it):
    """mapInArrow body: (id, __b) batches → (id, phash) batches.

    The binary column of an Arrow record batch is ONE contiguous data
    buffer plus an offsets array, so each image is sliced as a zero-copy
    memoryview instead of materializing a Python ``bytes`` object per
    row the way the pandas-UDF path does (guide §4.2) — measured
    5.4 s → 1.7 s for the 20 k-image / 2.6 GiB decode pass, hashes
    bit-identical (the decode kernel reads any buffer protocol object).
    """
    import numpy as np
    import pyarrow as pa

    from sparkschema.functions.imagecodec import phash_bytes

    for batch in it:
        ids = batch.column(0)
        bb = batch.column(1)
        n = len(bb)
        if n == 0:
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array([], type=pa.int64())], names=["id", "phash"])
            continue
        width = 8 if pa.types.is_large_binary(bb.type) else 4
        odt = np.int64 if width == 8 else np.int32
        offs = np.frombuffer(bb.buffers()[1], dtype=odt, count=n + 1,
                             offset=bb.offset * width)
        dbuf = bb.buffers()[2]  # None when every row is NULL
        data = memoryview(dbuf) if dbuf is not None else memoryview(b"")
        nulls = bb.is_null().to_numpy(zero_copy_only=False)
        out = [None if nulls[i] else phash_bytes(data[offs[i]:offs[i + 1]])
               for i in range(n)]
        yield pa.RecordBatch.from_arrays(
            [ids, pa.array(out, type=pa.int64())], names=["id", "phash"])


def image_phash_frame(df: DataFrame, bytes_col: str = "bytes",
                      id_col: str = "image_id",
                      spread_partitions: int | None = None) -> DataFrame:
    """``(id, phash)`` per image; NULL phash = corrupt/undecodable buffer
    (callers route those to the corrupt-bytes violation instead).

    The decode stage runs directly on the scan partitions — repartitioning
    here would shuffle the ENTIRE byte corpus, the one thing this operator
    must never do. ``spread_partitions`` is the explicit escape hatch for
    tiny single-file inputs (the Python-stage-on-one-scan-task trap); real
    corpora get their parallelism from the scan split size.

    Decode crosses the Python boundary via ``mapInArrow`` with zero-copy
    buffer slicing (:func:`_phash_map_batches`) rather than a pandas UDF
    — same hashes, ~3× less Python-side byte handling."""
    base = df.select(F.col(id_col).alias("id"), F.col(bytes_col).alias("__b"))
    if spread_partitions:
        base = base.repartition(spread_partitions, "id")
    out_schema = T.StructType([base.schema["id"],
                               T.StructField("phash", T.LongType())])
    return base.mapInArrow(on_load(_phash_map_batches), out_schema)


def image_phash_pairs(df: DataFrame, bytes_col: str = "bytes",
                      id_col: str = "image_id", chunks: int = 8,
                      hamming_max: int = 10,
                      spread_partitions: int | None = None,
                      max_bucket: int | None = None,
                      scope=None) -> DataFrame:
    """Near-duplicate image pairs ``(id_a, id_b, hamming)`` with pHash
    Hamming distance ≤ ``hamming_max`` — the shared chunk-pigeonhole
    bucketing (:func:`sparkschema.operators.dedup.hamming_pairs`; see its
    recall contract: guaranteed below ``chunks``, probabilistic tail up to
    ``hamming_max``). ``max_bucket`` forwards the oversized-bucket cap —
    at boilerplate scale (one blank/template image re-encoded millions of
    times, every copy sharing a pHash) a single chunk bucket otherwise
    self-joins O(N^2). Pairs confined to capped-away buckets are NOT
    emitted (the documented recall trade; true boilerplate is better
    handled upstream by exact byte dedup and the caption cap) — the same
    contract as ``minhash_lsh_pairs``'s bucket cap."""
    from sparkschema.operators.dedup import hamming_pairs

    # persist the RAW signature frame and materialize it eagerly: the
    # decode UDF must run exactly once per image. Filtering before the
    # persist (or relying on lazy cache matching) left one join branch
    # re-decoding the corpus with the UDF evaluated twice (filter +
    # project) — caught by the plan test below.
    from sparkschema.operators.caching import default_scope
    raw = (scope or default_scope()).persist(
        image_phash_frame(df, bytes_col, id_col, spread_partitions))
    raw.count()
    sigs = raw.where(F.col("phash").isNotNull())
    return hamming_pairs(sigs, "phash", "id", chunks, hamming_max,
                         max_bucket=max_bucket)


def image_phash_dedup(df: DataFrame, bytes_col: str = "bytes",
                      id_col: str = "image_id", **pair_kwargs) -> DataFrame:
    """Drop perceptual near-duplicates, keeping the smaller id of each
    pair (single-link approximation, same policy as minhash_dedup)."""
    pairs = image_phash_pairs(df, bytes_col, id_col, **pair_kwargs)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def phash_weight_histogram(df: DataFrame,
                           phash_col: str = "phash") -> DataFrame:
    """Hamming-weight histogram of a 64-bit perceptual-hash column:
    ``(bucket, cnt)`` where ``bucket = bit_count(phash)`` ∈ [0, 64].

    This is the "phash distribution histogram" per-partition stat
    (BASELINE.json north_star): a corpus slice's pHash population-count
    distribution is a cheap, mergeable signature of its visual texture
    mix — a scraper bug or a source swap that floods the corpus with
    flat/synthetic images shifts the weight distribution long before any
    per-image gate fires. One map-side-combined aggregation over ≤ 65
    buckets (whole-stage codegen, O(65)-row exchange); feed two slices'
    histograms to :func:`sparkschema.operators.drift.
    drift_statistics_histograms` for the two-sample verdict. NULL
    hashes (undecodable buffers) are excluded — they belong to the
    corrupt-bytes violation, not the distribution."""
    return (df.where(F.col(phash_col).isNotNull())
              .groupBy(F.bit_count(F.col(phash_col)).alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt")))


def exact_image_dup_groups(df: DataFrame, bytes_col: str = "bytes",
                           id_col: str = "image_id",
                           min_group: int = 2) -> DataFrame:
    """Byte-identical image groups — the exact-dedup stage that runs
    BEFORE perceptual near-dup (``image_phash_pairs``) in a curation
    pipeline: re-crawled / mirrored files are byte-equal and need no
    decode, so catching them on a digest costs one scan and removes
    them from the O(Σ bucket²) perceptual stage.

    Returns ``(bytes_hash, n_rows, n_images, min_id)`` for digest groups
    appearing ≥ ``min_group`` times; NULL buffers are excluded (they are
    the corrupt-bytes violation's business). Mirrors the text-side
    ``dedup.exact_duplicate_groups`` and the caption-side
    ``imagequality.duplicate_caption_groups``.

    The curation pipeline (:func:`sparkschema.plans.image_curation.
    curate_images` ``exact=True``) applies the same dedup as a keep/drop
    stage keyed on ``sha2(bytes, 256)``; this operator is the standalone
    GROUP-level diagnostic view of the same duplication (who, how many,
    canonical id), with a digest every SQL engine can recompute.

    Scale shape: the digest is computed in the scan stage and the
    aggregation is one map-side-combined hash agg on a 64-char key —
    the image bytes themselves NEVER cross an exchange. The key is
    ``sha2(hex(bytes), 256)``: hashing the hex expansion instead of the
    raw buffer costs one extra linear pass in the same scan task, and
    buys a digest every SQL engine can replay from the raw column
    (DuckDB's ``sha256`` accepts VARCHAR only), keeping this operator's
    oracle an independent recomputation rather than an engine export.

    Reference analog: uniqueness via hash-aggregate on content identity
    (SchemaValidatorSpec's uniqueItems semantics lifted to the corpus
    axis), per BASELINE.json north_star's "uniqueness via salted
    hash-aggregate on image_id/phash" — extended here to the byte
    payload itself.
    """
    digest = F.sha2(F.hex(F.col(bytes_col)), 256)
    return (
        df.where(F.col(bytes_col).isNotNull())
          .select(digest.alias("bytes_hash"), F.col(id_col))
          .groupBy("bytes_hash")
          .agg(F.count(F.lit(1)).alias("n_rows"),
               F.count_distinct(F.col(id_col)).alias("n_images"),
               F.min(id_col).alias("min_id"))
          .where(F.col("n_rows") >= min_group)
    )
