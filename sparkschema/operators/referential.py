"""Referential-integrity checks — the table-level analog of ``$ref``
membership (SURVEY.md §2.3 "engine-level referential integrity"): a fact
column must take values present in a dimension table, enforced with an
anti-join. Orphan rows become violation rows.

Scale design: small dimensions are **broadcast** (no shuffle of the fact
table at all); large dimensions fall back to a shuffled join where AQE's
skew-join splitting handles hot keys. The ``broadcast_threshold_rows``
knob picks the strategy explicitly when the caller knows the dim size;
``"auto"`` defers to Catalyst/AQE (which uses
``spark.sql.autoBroadcastJoinThreshold`` + runtime stats).
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkschema.compiler.sqltext import named_column, quoted_name


def orphans(fact: DataFrame, fact_col: str, dim: DataFrame, dim_col: str,
            strategy: Literal["broadcast", "shuffle", "auto"] = "auto") -> DataFrame:
    """Rows of ``fact`` whose ``fact_col`` has no match in ``dim.dim_col``.

    NULL fact values are not orphans (absence is ``required``'s business).
    """
    d = dim.select(named_column(dim_col).alias("__dim_key")).dropDuplicates(["__dim_key"])
    if strategy == "broadcast":
        d = F.broadcast(d)
    elif strategy == "shuffle":
        d = d.hint("shuffle_hash")
    cond = fact[quoted_name(fact_col)] == d["__dim_key"]
    return (fact.where(named_column(fact_col).isNotNull())
                .join(d, cond, "left_anti"))


def orphan_violations(fact: DataFrame, fact_col: str, dim: DataFrame,
                      dim_col: str, key_cols: list[str],
                      ref_name: str | None = None,
                      strategy: Literal["broadcast", "shuffle", "auto"] = "auto",
                      orphans_df: DataFrame | None = None) -> DataFrame:
    ref = ref_name or dim_col
    o = orphans_df if orphans_df is not None \
        else orphans(fact, fact_col, dim, dim_col, strategy)
    return o.select(
        *[named_column(k) for k in key_cols],
        F.lit("$ref_data").alias("keyword"),
        F.lit(f"#/properties/{fact_col}/$ref_data").alias("schema_path"),
        F.lit(f"/{fact_col}").alias("instance_path"),
        named_column(fact_col).cast("string").alias("value"),
        F.concat(F.lit("Value "), named_column(fact_col).cast("string"),
                 F.lit(f" not present in reference table {ref}.")).alias("msg"),
        F.lit("").alias("errors"),
        F.lit("").alias("resolution_scope"),
        F.lit("").alias("referrer"),
    )


def orphan_verdict(fact: DataFrame, fact_col: str, dim: DataFrame, dim_col: str,
                   strategy: Literal["broadcast", "shuffle", "auto"] = "auto",
                   orphans_df: DataFrame | None = None) -> DataFrame:
    o = orphans_df if orphans_df is not None \
        else orphans(fact, fact_col, dim, dim_col, strategy)
    return o.agg(
        F.lit(f"ref:{fact_col}->{dim_col}").alias("check"),
        (F.count(F.lit(1)) == 0).alias("pass"),
        F.count(F.lit(1)).alias("orphan_rows"),
    )
