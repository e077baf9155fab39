"""The flagship end-to-end plan (SURVEY.md §3 "Engine lifecycle"):

``spec JSON → parse/resolve/compile (driver) → Catalyst single-pass row
checks (violations + per-partition verdicts) → table-level operators
(uniqueness, referential, drift, round-trip) → verdict union``.

Row-level work is one scan; each table-level check adds exactly the
exchanges its algorithm needs (salted agg: 2 shuffles of partials; anti
join: 0 with broadcast; drift: histogram partials only). Nothing here
collects raw rows to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkschema.compiler.sqltext import named_column
from sparkschema.compiler.table import CompiledTableSpec, compile_table_spec
from sparkschema.operators import referential, uniqueness
from sparkschema.operators.drift import drift_check
from sparkschema.operators.roundtrip import roundtrip_verdict, roundtrip_violations

VERDICT_COLS = ["check", "pass", "metrics"]


@dataclass
class ValidationResult:
    compiled: CompiledTableSpec
    violations: DataFrame          # row-level + table-level violation rows
    partition_verdicts: DataFrame  # (partition_id, check, pass, metrics)
    table_verdicts: list[dict] = field(default_factory=list)

    def passed(self) -> bool:
        if any(not v["pass"] for v in self.table_verdicts):
            return False
        return self.partition_verdicts.where(~F.col("pass")).limit(1).count() == 0


def run_validation(
    spec: Any,
    df: DataFrame,
    key_cols: list[str],
    dims: dict[str, DataFrame] | None = None,
    ref: DataFrame | None = None,
    registry=None,
    dialect: str | None = None,
    psnr_min: float = 40.0,
    drift_defaults: dict | None = None,
    salt_lanes: int = 1,
    scope=None,
) -> ValidationResult:
    """Compile ``spec`` against ``df`` and run every requested check.

    ``dims`` maps ``$ref_data`` targets (``"dim_fmt.fmt"`` → the dim
    DataFrame); ``ref`` is the reference copy for ``x-drift`` /
    ``x-roundtrip``.

    ``scope`` — a :class:`~sparkschema.operators.caching.CacheScope` that
    owns the intermediate ``persist()`` frames this plan creates (the
    duplicate-key and orphan frames each feed both a verdict collect and
    the lazy violations union). Pass one and ``release()`` it (or use it
    as a context manager) once ``result.violations`` has been consumed.
    **Default-scope obligation:** with ``scope=None`` the frames register
    in the process-wide default scope and stay pinned until the caller
    invokes :func:`sparkschema.operators.caching.release_default_cache` —
    long-lived sessions running many validations MUST do one of the two
    or executor storage accumulates (ADVICE r4).
    """
    from sparkschema.operators.caching import default_scope
    cache_scope = scope if scope is not None else default_scope()

    cts = compile_table_spec(spec, df, key_cols=key_cols, dialect=dialect,
                             registry=registry)
    violations = cts.violations(df)
    verdicts = cts.verdicts(df)
    table_verdicts: list[dict] = []
    dims = dims or {}

    for req in cts.table_requests:
        if req.kind == "unique":
            # x-unique: true ⇒ the annotated column; a list adds more
            # key columns, each checked independently (the north_star's
            # "uniqueness on image_id/phash")
            cols = [req.column]
            if isinstance(req.config, list):
                cols += [c for c in req.config if isinstance(c, str)]
            for c in cols:
                # persist the duplicate-key frame: the verdict collect and
                # the lazy violations union otherwise each re-run the full
                # aggregation (review find r4); owned by the caller's
                # scope, or the default scope (see the docstring's
                # default-scope obligation)
                dups = cache_scope.persist(
                    uniqueness.duplicate_keys(df, c, salt_lanes))
                row = uniqueness.uniqueness_verdict(df, c, salt_lanes,
                                                    dups=dups).collect()[0]
                table_verdicts.append({"check": row["check"], "pass": bool(row["pass"]),
                                       "dup_keys": row["dup_keys"],
                                       "dup_rows": row["dup_rows"]})
                dv = uniqueness.duplicate_violations(df, c, salt_lanes,
                                                     dups=dups).select(
                    named_column(c).cast("string").alias(key_cols[0]),
                    "keyword", "schema_path", "instance_path", "value", "msg",
                    "errors", "resolution_scope", "referrer")
                violations = violations.unionByName(dv, allowMissingColumns=True)

        elif req.kind == "ref_data":
            target = str(req.config)
            dim_name, _, dim_col = target.partition(".")
            dim = dims.get(dim_name)
            if dim is None:
                raise ValueError(f"$ref_data target {target!r} not provided in dims")
            # persist ONLY the columns the verdict + violation rows read
            # (key cols + the fact column): the orphan frame's full-row
            # projection forced the 20M-row scan to read every column —
            # ReadSchema pruned to 2 of 6 columns cuts the materializing
            # scan roughly in half on the bench image table (guide §2.3
            # "project before the exchange"; §6 column pruning)
            keep_cols = list(dict.fromkeys(key_cols + [req.column]))
            o = cache_scope.persist(referential.orphans(
                df, req.column, dim, dim_col or req.column,
                strategy="broadcast").select(*[named_column(k) for k in keep_cols]))
            row = referential.orphan_verdict(df, req.column, dim, dim_col or req.column,
                                             strategy="broadcast",
                                             orphans_df=o).collect()[0]
            table_verdicts.append({"check": row["check"], "pass": bool(row["pass"]),
                                   "orphan_rows": row["orphan_rows"]})
            ov = referential.orphan_violations(df, req.column, dim,
                                               dim_col or req.column, key_cols,
                                               ref_name=dim_name,
                                               strategy="broadcast",
                                               orphans_df=o)
            ov = ov.select(*[named_column(k).cast("string").alias(k)
                             for k in key_cols],
                           "keyword", "schema_path", "instance_path", "value", "msg",
                    "errors", "resolution_scope", "referrer")
            violations = violations.unionByName(ov)

        elif req.kind == "drift":
            cfg = req.config if isinstance(req.config, dict) else {}
            dd = dict(drift_defaults or {})
            dd.update(cfg)
            # "kind": "phash_weight" drifts on the 64-bit hash column's
            # Hamming-weight DISTRIBUTION (bit_count ∈ [0, 64]) instead
            # of its raw values — equi-width buckets over a 64-bit hash
            # space carry no signal, the weight histogram does (the
            # north-star "phash distribution histogram" stat; see
            # operators/imagedup.phash_weight_histogram). The fixed
            # [0, 65)×65 binning makes stored ref_histograms portable
            # across runs.
            d_src, r_src, d_col = df, ref, req.column
            if dd.get("kind") == "phash_weight":
                d_col = f"__bw_{req.column}"
                bw = F.bit_count(named_column(req.column)).alias(d_col)
                d_src = df.select(bw)
                r_src = ref.select(bw) if ref is not None else None
                dd.setdefault("lo", 0.0)
                dd.setdefault("hi", 65.0)
                dd.setdefault("buckets", 65)
            if "ref_histogram" in dd:
                # stored-histogram drift: works without a live ref table
                from sparkschema.operators.drift import drift_check_vs_histogram
                res = drift_check_vs_histogram(
                    d_src, d_col, dd["ref_histogram"],
                    lo=float(dd["lo"]), hi=float(dd["hi"]),
                    buckets=int(dd.get("buckets", 64)),
                    ks_threshold=dd.get("ks_threshold", 0.1),
                    chi2_threshold=dd.get("chi2_threshold"))
                res["check"] = f"drift:{req.column}"
                table_verdicts.append(res)
                continue
            if ref is None:
                continue
            stats = d_src.agg(F.min(d_col).cast("double"),
                              F.max(d_col).cast("double")).collect()[0] \
                if ("lo" not in dd or "hi" not in dd) else None
            # an empty / all-NULL column infers min/max as None — fall
            # back to a degenerate [0,1) range; the drift verdict then
            # reports pass=False with NULL statistics (review find r4)
            lo = dd.get("lo")
            if lo is None:
                lo = stats[0] if stats and stats[0] is not None else 0.0
            hi = dd.get("hi")
            if hi is None:
                hi = (stats[1] if stats and stats[1] is not None else 1.0) \
                    + 1e-9
            res = drift_check(d_src, r_src, d_col, lo, hi,
                              buckets=int(dd.get("buckets", 64)),
                              ks_threshold=dd.get("ks_threshold", 0.1),
                              chi2_threshold=dd.get("chi2_threshold"))
            res["check"] = f"drift:{req.column}"
            table_verdicts.append(res)

        elif req.kind == "roundtrip":
            if ref is None:
                continue
            cfg = req.config if isinstance(req.config, dict) else {}
            pmin = float(cfg.get("psnr_db_min", psnr_min))
            row = roundtrip_verdict(df, ref, pmin).collect()[0]
            table_verdicts.append({
                "check": row["check"], "pass": bool(row["pass"]),
                "psnr_failures": row["psnr_failures"],
                "caption_mismatches": row["caption_mismatches"],
                "missing_refs": row["missing_refs"],
                "min_finite_psnr_db": row["min_finite_psnr_db"],
            })
            rv = roundtrip_violations(df, ref, pmin).select(
                F.col("image_id").cast("string").alias(key_cols[0]),
                "keyword", "schema_path", "instance_path", "value", "msg",
                    "errors", "resolution_scope", "referrer")
            violations = violations.unionByName(rv, allowMissingColumns=True)

        elif req.kind == "null_fraction":
            thresh = float(req.config)
            row = df.agg(
                (F.sum(named_column(req.column).isNull().cast("long")) /
                 F.count(F.lit(1))).alias("frac")).collect()[0]
            # empty table => frac NULL: vacuous pass (0 rows, 0 nulls) —
            # the old  NULL <= thresh  comparison raised (review find r4)
            frac = row["frac"] if row["frac"] is not None else 0.0
            table_verdicts.append({"check": f"null_fraction:{req.column}",
                                   "pass": bool(frac <= thresh),
                                   "null_fraction": float(frac)})

    return ValidationResult(cts, violations, verdicts, table_verdicts)
