"""Uniqueness checks — the table-level re-expression of ``uniqueItems``
(reference: internal/validators/ArrayConstraintValidators.scala:76-95;
SURVEY.md §2.4 "salted hash-aggregate").

Scale design: the default is a single hash aggregation. For a COUNT
aggregate, Spark's map-side partial agg collapses every partition's copies
of a hot key to ONE partial row before the exchange, so even a
billion-row hot key sends at most #map-partitions rows to its reducer —
skew-immune without salting. The opt-in ``salt_lanes > 1`` path is a
two-phase aggregation — phase 1 groups by ``(key, partition-derived
salt)``, phase 2 merges per-salt partials — for aggregates where partial
agg cannot collapse (e.g. huge per-partition distinct-key counts forcing
the hash-agg sort fallback). Measured on a 20M-row near-unique key table,
always-on salting doubled the exchanged volume (every key re-shuffled in
phase 2), hence the adaptive default of 1 (VERDICT r1 #5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkschema.compiler.sqltext import named_column


def duplicate_keys(df: DataFrame, keys: list[str] | str,
                   salt_lanes: int = 1) -> DataFrame:
    """Keys occurring more than once: ``(key..., dup_count)``.

    ``salt_lanes > 1`` opts into the two-phase salted aggregation (see
    module docstring); the default single groupBy is already skew-safe
    for count aggregates via map-side combine.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    cols = [named_column(k) for k in keys]
    if salt_lanes > 1:
        phase1 = (
            df.groupBy(*cols, (F.spark_partition_id() % salt_lanes).alias("__salt"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        counted = phase1.groupBy(*cols).agg(F.sum("__c").alias("dup_count"))
    else:
        counted = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("dup_count"))
    return counted.where(F.col("dup_count") > 1)


def duplicate_violations(df: DataFrame, keys: list[str] | str,
                         salt_lanes: int = 1,
                         keyword: str = "x-unique",
                         dups: DataFrame | None = None) -> DataFrame:
    """Duplicate keys rendered as violation rows matching the engine's
    violation contract (keyword, schema_path, instance_path, value, msg).
    Pass a precomputed (e.g. persisted) ``dups`` frame to share the
    aggregation with a verdict over the same keys."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if dups is None:
        dups = duplicate_keys(df, keys, salt_lanes)
    cols = [named_column(k) for k in keys]
    value = F.concat_ws(",", *[c.cast("string") for c in cols])
    return dups.select(
        *cols,
        F.lit(keyword).alias("keyword"),
        F.lit("#/x-unique/" + "/".join(keys)).alias("schema_path"),
        F.lit("/" + keys[0]).alias("instance_path"),
        value.alias("value"),
        F.concat(F.lit("Key "), value, F.lit(" is duplicated "),
                 F.col("dup_count").cast("string"), F.lit(" times.")).alias("msg"),
        F.lit("").alias("errors"),
        F.lit("").alias("resolution_scope"),
        F.lit("").alias("referrer"),
    )


def uniqueness_verdict(df: DataFrame, keys: list[str] | str,
                       salt_lanes: int = 1,
                       dups: DataFrame | None = None) -> DataFrame:
    """One verdict row: ``(check, pass, dup_keys, dup_rows)``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if dups is None:
        dups = duplicate_keys(df, keys, salt_lanes)
    return dups.agg(
        F.lit("unique:" + ",".join(keys)).alias("check"),
        (F.count(F.lit(1)) == 0).alias("pass"),
        F.count(F.lit(1)).alias("dup_keys"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("dup_rows"),
    )
