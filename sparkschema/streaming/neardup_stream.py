"""Streaming SimHash near-duplicate detection (SURVEY §2.7 streaming
surface × the LLM-pipeline dedup mandate — the near-dup twin of
:mod:`sparkschema.streaming.dedup_stream`).

Batch near-dup (``operators.dedup.simhash_candidates``) self-joins a
signature table; a standing ingest stream can't self-join its whole
history. The streaming shape is the same chunk-pigeonhole decomposition
run against BOUNDED STATE:

1. stateless Arrow signature pass — the numpy SimHash kernel
   (``dedup._simhash_sig_udf``, no per-row Python) over each micro-batch;
2. explode each 64-bit signature into ``chunks`` (chunk, value) bucket
   keys — the pigeonhole guarantee: pairs within Hamming distance
   < ``chunks`` share at least one bucket (``dedup.hamming_pairs``
   recall contract);
3. ``applyInPandasWithState`` keyed by bucket: state is a ring buffer of
   the last ``state_cap`` (id, signature) entries seen in that bucket —
   16-ish bytes per entry, never any text — and each arriving document
   popcount-verifies against it, emitting ``(id_a, id_b, hamming,
   chunk)`` match rows.

Scale: state is bounded by active-bucket-count × ``state_cap`` × ~16 B
regardless of stream lifetime; buckets shard across executors on the
group key, so hot boilerplate clusters cost at most ``state_cap``
comparisons per arrival (the streaming analog of batch
``max_bucket``). Semantics deltas vs batch, stated rather than hidden:

- **horizon**: a document only matches against the last ``state_cap``
  bucket occupants (ring eviction) — older history is gone, exactly as
  the batch ``max_bucket`` cap drops degenerate buckets;
- **first-arrival orientation**: ``id_a`` is the earlier document
  (bucket state or earlier in-batch row, ordered by ``ts_col`` then id);
- the same pair can surface from up to ``chunks`` buckets — one output
  row per discovering chunk. Consumers wanting one row per pair run
  ``dropDuplicatesWithinWatermark([id_a, id_b])`` downstream or
  aggregate min(hamming) per pair in ``foreachBatch``.

NULL-text documents carry no near-dup facts and are filtered before the
signature pass (NULL-in-NULL-out, same contract as the batch family).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sparkschema._worker import on_load

_STATE_SCHEMA = "ids ARRAY<STRING>, shs ARRAY<LONG>"
_OUT_SCHEMA = T.StructType([
    T.StructField("id_a", T.StringType()),
    T.StructField("id_b", T.StringType()),
    T.StructField("hamming", T.IntegerType()),
    T.StructField("chunk", T.IntegerType()),
])

_U64 = (1 << 64) - 1


def streaming_simhash_neardup(stream_df: DataFrame, text_col: str,
                              id_col: str, ts_col: str | None = None,
                              chunks: int = 8, hamming_max: int = 12,
                              bits: int = 64, seed: int = 42,
                              shingle_k: int = 3, state_cap: int = 256,
                              idle_timeout_ms: int | None = None
                              ) -> DataFrame:
    """Near-duplicate match stream: one row per (pair, discovering
    chunk) where the pair's full-signature Hamming distance is ≤
    ``hamming_max`` and the earlier member was still within the bucket's
    ``state_cap`` horizon.

    ``idle_timeout_ms`` opts into processing-time eviction of whole idle
    buckets — same caveat as ``stateful.keyed_violation_state``: only
    enable it on a continuously-running query (an ``availableNow``
    catch-up run would never terminate servicing future timeouts).
    """
    from sparkschema.operators.dedup import _simhash_sig_udf

    sig_udf = _simhash_sig_udf(bits, shingle_k, seed)
    order = (F.col(ts_col).cast("double") if ts_col is not None
             else F.lit(0.0))
    sigs = (stream_df
            .where(F.col(text_col).isNotNull())
            .select(F.col(id_col).cast("string").alias("id"),
                    sig_udf(F.col(text_col)).alias("sh"),
                    order.alias("__ord"))
            .where(F.col("sh").isNotNull()))
    return streaming_signature_neardup(
        sigs, chunks=chunks, hamming_max=hamming_max, bits=bits,
        state_cap=state_cap, idle_timeout_ms=idle_timeout_ms)


def streaming_phash_neardup(stream_df: DataFrame,
                            bytes_col: str = "bytes",
                            id_col: str = "image_id",
                            ts_col: str | None = None,
                            chunks: int = 8, hamming_max: int = 10,
                            state_cap: int = 256,
                            idle_timeout_ms: int | None = None
                            ) -> DataFrame:
    """Streaming IMAGE near-dup at ingest: the pHash decode
    (``imagedup._phash_udf``, one Arrow pass, NULL on undecodable
    buffers) feeds the same bounded-state chunk-pigeonhole machinery as
    the text stream — image bytes never enter state (16-ish bytes per
    bucket entry), and the semantics deltas (ring horizon,
    first-arrival orientation, per-chunk rows) are identical to
    :func:`streaming_simhash_neardup`'s documented contract."""
    from sparkschema.operators.imagedup import _phash_udf

    order = (F.col(ts_col).cast("double") if ts_col is not None
             else F.lit(0.0))
    sigs = (stream_df
            .where(F.col(bytes_col).isNotNull())
            .select(F.col(id_col).cast("string").alias("id"),
                    _phash_udf(F.col(bytes_col)).alias("sh"),
                    order.alias("__ord"))
            .where(F.col("sh").isNotNull()))
    return streaming_signature_neardup(
        sigs, chunks=chunks, hamming_max=hamming_max,
        state_cap=state_cap, idle_timeout_ms=idle_timeout_ms)


def streaming_signature_neardup(sigs: DataFrame, chunks: int = 8,
                                hamming_max: int = 12, bits: int = 64,
                                state_cap: int = 256,
                                idle_timeout_ms: int | None = None
                                ) -> DataFrame:
    """Signature-generic core shared by the text (SimHash) and image
    (pHash) streams: ``sigs`` is any streaming frame shaped
    ``(id string, sh long, __ord double)``; emits the match stream
    under the module-header state/horizon contract."""
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_arr = F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("sh"), c * width)
                  .bitwiseAND(F.lit(mask)).alias("cv"))
        for c in range(chunks)
    ])
    buckets = (sigs.select("id", "sh", "__ord",
                           F.explode(chunk_arr).alias("cc"))
                   .select(F.concat_ws(
                               ":", F.col("cc.chunk").cast("string"),
                               F.col("cc.cv").cast("string")).alias("bkey"),
                           F.col("cc.chunk").alias("chunk"),
                           "id", "sh", "__ord"))

    @on_load
    def update(key: tuple, pdfs: Iterable, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        # deterministic "earlier": event time, then id
        batch = batch.sort_values(["__ord", "id"], kind="mergesort")
        ids, shs = (list(state.get) if state.exists else ([], []))
        sh_arr = np.array(shs, dtype=np.int64).astype(np.uint64)
        out = []
        chunk = int(batch["chunk"].iloc[0])
        for rid, rsh in zip(batch["id"], batch["sh"]):
            rsh = int(rsh)
            if sh_arr.size:
                x = sh_arr ^ np.uint64(rsh & _U64)
                if hasattr(np, "bitwise_count"):
                    d = np.bitwise_count(x)
                else:
                    d = np.unpackbits(
                        x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
                for j in np.nonzero(d <= hamming_max)[0]:
                    if ids[j] != rid:
                        out.append((ids[j], rid, int(d[j]), chunk))
            ids.append(rid)
            shs.append(rsh)
            sh_arr = np.append(sh_arr, np.uint64(rsh & _U64))
            if len(ids) > state_cap:          # ring-buffer horizon
                ids, shs = ids[-state_cap:], shs[-state_cap:]
                sh_arr = sh_arr[-state_cap:]
        state.update((ids, shs))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out:
            yield pd.DataFrame(out,
                               columns=["id_a", "id_b", "hamming", "chunk"])

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (buckets.groupBy("bkey")
            .applyInPandasWithState(update, _OUT_SCHEMA, _STATE_SCHEMA,
                                    "append", timeout_conf))
