"""Storage interface.

The design target is an Iceberg catalog table (BASELINE.json input_hint);
without an Iceberg runtime the tables are parquet: a bucketed layout
(:func:`ensure_bucketed_table`) stands in for Iceberg's ``bucket(key)``
partitioning. Iceberg adds snapshot-id lineage (recorded by the checkpoint
manifest, see sparkschema.streaming.checkpoint) and metadata-level
partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _catalog_location_path(loc: str) -> str | None:
    """Normalized absolute filesystem path of a catalog ``Location`` URI,
    or ``None`` for non-local schemes (hdfs://, s3a://, …) — those can
    never equal a local request path."""
    from urllib.parse import unquote, urlparse

    p = urlparse(loc)
    if p.scheme not in ("", "file"):
        return None
    return os.path.abspath(unquote(p.path or loc)).rstrip("/")


def ensure_bucketed_table(spark: SparkSession, name: str, path: str,
                          source_df: DataFrame | None = None,
                          buckets: int = 32, key: str = "image_id") -> DataFrame:
    """Hash-bucketed, per-bucket-sorted parquet table — the parquet stand-in
    for an Iceberg ``bucket(key)`` layout. Equi-joins between two tables
    bucketed the same way compile to a SortMergeJoin with NO Exchange and
    no sort: at 10^12-image scale this is the difference between shuffling
    the entire byte corpus and a zip-like per-bucket merge (the round-trip
    check's join went 66 s → 13 s on the 2.6 GiB bench corpus).

    The data is written ONCE via ``bucketBy().sortBy().saveAsTable``; the
    default in-memory catalog forgets table metadata between sessions, so
    later sessions re-register the existing files with a ``CREATE TABLE …
    CLUSTERED BY … LOCATION`` DDL (bucket ids ride in the file names).

    An existing catalog entry is trusted only when it points at the SAME
    location with the same bucket spec — two calls registering different
    paths under one name previously returned the FIRST path's data for
    both (review find r4: the round-trip check silently validated the
    wrong corpus). A mismatch drops and re-registers."""
    if spark.catalog.tableExists(name):
        try:
            detail = {r["col_name"]: r["data_type"] for r in
                      spark.sql(f"describe table extended {name}").collect()
                      if r["col_name"]}
            loc = detail.get("Location", "")
            nb = detail.get("Num Buckets", "")
            # EQUALITY on URI-normalized paths, not endswith: a Location
            # like file:/mnt/backup/root/data/bkt suffix-matched a
            # requested /root/data/bkt, so a mismatched registration was
            # trusted and the round-trip check read the wrong corpus —
            # the bug this guard exists to close, just narrowed (ADVICE r4)
            same = (_catalog_location_path(loc) ==
                    os.path.abspath(path).rstrip("/") and nb == str(buckets))
        except Exception:
            same = False
        if not same:
            spark.sql(f"drop table if exists {name}")
    if not spark.catalog.tableExists(name):
        if os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)):
            ddl = spark.read.parquet(path).schema.toDDL()
            spark.sql(
                f"create table {name} ({ddl}) using parquet "
                f"clustered by ({key}) sorted by ({key}) into {buckets} buckets "
                f"location '{path}'")
        else:
            if source_df is None:
                raise FileNotFoundError(
                    f"no bucketed files at {path} and no source_df given")
            # NOTE(r6, measured negative result — do not "fix" this to
            # one file per bucket): repartitioning by the bucket key
            # before the write yields exactly one sorted file per bucket
            # (hash partitioning and the bucket-id expression share
            # pmod(murmur3(key), n)), which enables dropping the join's
            # per-side Sorts via the legacy bucketed-scan-ordering flag —
            # but on ~130 KB binary rows the single large row group per
            # bucket lets the vectorized reader build multi-hundred-MB
            # column batches, and BOTH resulting plans (sort-free SMJ
            # interleaving two such readers per task, and the sorted plan
            # over the large-batch scan) measured 2-8x SLOWER in bench
            # context than this many-small-files layout, whose small row
            # groups naturally bound the columnar batch size. The write
            # below keeps the incoming partitioning (multiple small
            # files per bucket) deliberately.
            (source_df.write.bucketBy(buckets, key).sortBy(key)
             .option("path", path).mode("overwrite")
             .format("parquet").saveAsTable(name))
    return spark.table(name)


def table_snapshot_id(spark: SparkSession, ident: str) -> str | None:
    """Current Iceberg snapshot id for a catalog table, or None when the
    table isn't Iceberg / no Iceberg runtime is on the classpath. Recorded
    by the checkpoint manifest for lineage pinning
    (streaming.checkpoint.Manifest.record snapshot_id)."""
    try:
        row = spark.sql(
            f"select snapshot_id from {ident}.snapshots "
            f"order by committed_at desc limit 1").collect()
        return str(row[0][0]) if row else None
    except Exception:
        return None
