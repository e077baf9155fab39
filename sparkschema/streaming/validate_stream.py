"""Structured Streaming wrapper (SURVEY.md §2.7 "future foreachBatch").

The compiled row-level checks are stateless Column expressions, so they
apply to a streaming DataFrame unchanged: violations stream out of a
``readStream → select/filter/explode → writeStream`` pipeline. Table-level
aggregate checks run per micro-batch via ``foreachBatch`` on the SAME
compiled spec — one compile, both execution modes.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from sparkschema.compiler.table import CompiledTableSpec, compile_table_spec


def windowed_violation_counts(stream_df: DataFrame, spec: Any,
                              key_cols: list[str], ts_col: str,
                              window: str = "1 hour",
                              watermark: str = "2 hours",
                              **compile_kwargs) -> DataFrame:
    """Continuous per-event-time-window violation counts with late-data
    handling: ``(window, keyword, instance_path, cnt)``.

    The watermark bounds state: windows older than ``watermark`` finalize
    and evict, so the aggregation runs indefinitely at fixed memory. The
    violation projection is the same compiled stateless expression tree as
    batch — one compile, three execution modes (batch / foreachBatch /
    native streaming agg)."""
    from pyspark.sql import functions as F

    # the timestamp rides along as an extra key column of the violation
    # projection (native type, so its watermark survives for the agg)
    cts = compile_table_spec(spec, stream_df, key_cols=[ts_col, *key_cols],
                             **compile_kwargs)
    v = cts.violations(stream_df.withWatermark(ts_col, watermark),
                       cast_keys=False)
    return (v.groupBy(F.window(F.col(ts_col), window).alias("window"),
                      "keyword", "instance_path")
             .agg(F.count(F.lit(1)).alias("cnt")))


def foreach_batch_validate(
    stream_df: DataFrame,
    spec: Any,
    key_cols: list[str],
    on_batch: Callable[[int, DataFrame, DataFrame], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    **compile_kwargs,
) -> StreamingQuery:
    """Run full validation (violations + per-partition verdicts) on every
    micro-batch; ``on_batch(batch_id, violations_df, verdicts_df)`` receives
    the results. Compilation happens once, not per batch.

    ``trigger`` passes keyword arguments to ``writeStream.trigger`` —
    default ``{"availableNow": True}`` (catch-up-then-stop, the batch
    re-validation shape). A CONTINUOUS monitor passes e.g.
    ``{"processingTime": "30 seconds"}``; the hardcoded availableNow
    previously made the query stop after catching up with no way to run
    standing (review find r4)."""
    compiled: dict[str, CompiledTableSpec] = {}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if "cts" not in compiled:
            compiled["cts"] = compile_table_spec(spec, batch_df,
                                                 key_cols=key_cols, **compile_kwargs)
        cts = compiled["cts"]
        on_batch(batch_id, cts.violations(batch_df), cts.verdicts(batch_df))

    return (stream_df.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger if trigger is not None
                        else {"availableNow": True}))
            .start())


def windowed_phash_weight_counts(stream_df: DataFrame, ts_col: str,
                                 phash_col: str = "phash",
                                 window: str = "1 hour",
                                 watermark: str = "2 hours") -> DataFrame:
    """Continuous pHash-distribution monitoring: per-event-time-window
    Hamming-weight histograms ``(window, bucket, cnt)`` — the streaming
    form of :func:`sparkschema.operators.imagedup.phash_weight_histogram`
    (the north-star "phash distribution histogram" per-partition stat).

    Each finalized window's ≤65 bucket rows feed
    :func:`sparkschema.operators.drift.drift_statistics_histograms` (or
    ``drift_check_vs_histogram`` against a stored manifest histogram via
    the ``x-drift {"kind": "phash_weight"}`` binning) — an encoder swap
    or scraper-source shift in the ingest stream surfaces as drift
    within one window of event time. The watermark bounds state exactly
    like :func:`windowed_violation_counts`: ≤65 buckets per open window,
    fixed memory forever. NULL hashes (undecodable) are excluded — they
    belong to the corrupt-bytes violation stream."""
    from pyspark.sql import functions as F

    return (stream_df.where(F.col(phash_col).isNotNull())
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"),
                     F.bit_count(F.col(phash_col)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))
