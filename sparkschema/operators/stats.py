"""Single-pass column statistics — the aggregate re-expression of keyword
semantics (SURVEY.md §2.4): null fraction ≈ ``required``, min/max ≈
``minimum``/``maximum``, distinct ≈ enum cardinality sanity, histograms for
drift.

Scale design: ONE aggregation pass computes every requested statistic for
every requested column. Partial aggregation (map-side combine) means no raw
row ever crosses the shuffle — only per-partition partials, so the exchange
volume is O(partitions × columns), independent of table size. Distinct
counts use mergeable sketches (``hll_sketch_agg``), never exact
``count(distinct)`` at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def column_stats(df: DataFrame, columns: list[str] | None = None,
                 per_partition: bool = False,
                 hll_relative_sd: float = 0.02) -> DataFrame:
    """Long-format stats: one row per (scope, column) with
    ``(partition_id?, column, rows, null_count, null_fraction, min, max,
    approx_distinct)``.

    ``per_partition=True`` groups by ``spark_partition_id()`` (the
    per-partition verdict basis); otherwise one global row per column.
    min/max are rendered to string so heterogeneous column types can share
    one long-format result.
    """
    cols = columns or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        # coalesce: sum over ZERO rows is NULL; an empty table reports
        # null_count=0 (review find r4)
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")),
                               F.lit(0)).alias(f"__null_{c}"))
        if not isinstance(fields[c], (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
            aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
            # mergeable distinct sketch; binary/complex types excluded
            aggs.append(F.approx_count_distinct(c, rsd=hll_relative_sd).alias(f"__dc_{c}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"__min_{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"__max_{c}"))
            aggs.append(F.lit(None).cast("long").alias(f"__dc_{c}"))

    if per_partition:
        agg = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs)
        id_cols = ["partition_id"]
    else:
        # plain agg, not groupBy(lit(0)): a grouped aggregation over an
        # EMPTY table yields zero groups, breaking the documented
        # one-row-per-column contract (review find r4) — agg always
        # returns exactly one row (rows=0, null_count=0)
        agg = df.agg(*aggs).select(F.lit(0).alias("partition_id"), "*")
        id_cols = ["partition_id"]

    # long format via one explode of per-column structs (no extra pass)
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__null_{c}").alias("null_count"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__max_{c}").alias("max"),
            F.col(f"__dc_{c}").alias("approx_distinct"),
        )
        for c in cols
    ])
    return (
        agg.select(*id_cols, F.col("__rows").alias("rows"),
                   F.explode(per_col).alias("s"))
        .select(*id_cols, "rows", "s.column", "s.null_count",
                F.try_divide(F.col("s.null_count"), F.col("rows"))
                 .alias("null_fraction"),
                "s.min", "s.max", "s.approx_distinct")
    )


def hll_distinct_sketches(df: DataFrame, column: str,
                          lg_k: int = 12) -> DataFrame:
    """Per-partition HLL sketches ``(partition_id, sketch binary)`` —
    mergeable downstream with :func:`hll_merge` (Spark ≥3.5 built-ins;
    SURVEY.md §2.4). This is the 100-TB path for distinct counting:
    sketches are a few KB per partition regardless of row count."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.hll_sketch_agg(F.col(column), F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("rows"),
    )


def hll_merge(sketches: DataFrame) -> DataFrame:
    """Merge per-partition sketches → one global distinct estimate."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("distinct_estimate"),
        F.sum("rows").alias("rows"),
    )


def histogram(df: DataFrame, column: str, lo: float, hi: float, buckets: int,
              per_partition: bool = False) -> DataFrame:
    """Equi-width bucket counts ``(partition_id?, bucket, cnt)``.

    ``width_bucket`` semantics: values < lo → bucket 0, ≥ hi → buckets+1;
    NULL excluded. Bucket bounds are compile-time literals so this is one
    codegen'd projection + one partial-agg groupBy."""
    c = F.col(column).cast("double")
    b = F.width_bucket(c, F.lit(float(lo)), F.lit(float(hi)),
                       F.lit(buckets)).alias("bucket")
    keys = ([F.spark_partition_id().alias("partition_id")] if per_partition else [])
    # NaN passes isNotNull but width_bucket(NaN) yields a NULL bucket,
    # which crashed the drift verdict's driver-side sort (review find
    # r4); filtering on the CAST also drops values the double cast
    # cannot represent (same NULL-bucket hazard)
    return (df.where(c.isNotNull() & ~F.isnan(c))
              .groupBy(*keys, b)
              .agg(F.count(F.lit(1)).alias("cnt")))


def numeric_quantiles(df: DataFrame, column: str, probs: list[float],
                      exact: bool = False,
                      accuracy: int = 10000) -> DataFrame:
    """Quantiles as long-format rows ``(prob, quantile)``.

    ``exact=False`` (the 100-TB default) uses ``percentile_approx`` — a
    mergeable KLL-style sketch, one partial-agg pass, error ≤ 1/accuracy
    of the rank. ``exact=True`` uses ``percentile`` (full sort of the
    column within the aggregation) — the small-data/oracle path; both
    interpolate continuously, matching DuckDB's ``quantile_cont``."""
    fn = F.percentile if exact else (
        lambda c, p: F.percentile_approx(c, p, F.lit(accuracy)))
    col = F.col(column).cast("double")
    agg = df.agg(*[fn(col, F.lit(p)).alias(f"__q{i}")
                   for i, p in enumerate(probs)])
    arr = F.array(*[
        F.struct(F.lit(p).alias("prob"), F.col(f"__q{i}").alias("quantile"))
        for i, p in enumerate(probs)])
    return agg.select(F.explode(arr).alias("s")).select("s.prob", "s.quantile")
