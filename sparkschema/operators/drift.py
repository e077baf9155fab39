"""Distribution-drift checks: two-sample chi-square and KS over histograms
(SURVEY.md §2.4 "distribution drift").

Scale design: raw values never leave executors. Each side is reduced to an
equi-width histogram (one partial-agg pass, O(buckets) exchange), then the
test statistic is computed **in SQL** on the joined bucket counts —
chi-square as Σ(o−e)²/e on scaled expectations, KS as max |ΔCDF| via a
window cumsum over ≤ a few hundred bucket rows. No Python UDF in the
default path; :func:`ks_exact_by_group` offers an ``applyInPandas`` exact
variant for small per-group samples (numpy kernel, Arrow transfer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkschema._worker import on_load
from sparkschema.operators.stats import histogram


def chi_square_histograms(obs: DataFrame, exp: DataFrame) -> DataFrame:
    """Chi-square statistic between two bucket-count frames
    ``(bucket, cnt)``. Expected counts are scaled to the observed total;
    empty expected buckets get a 0.5 Laplace floor so novel buckets count
    as drift instead of dividing by zero.

    Returns one row ``(statistic double, dof long, n_obs, n_exp)``.
    """
    o = obs.groupBy("bucket").agg(F.sum("cnt").alias("o"))
    e = exp.groupBy("bucket").agg(F.sum("cnt").alias("e"))
    joined = o.join(e, "bucket", "full_outer").fillna(0, ["o", "e"])
    totals = joined.agg(F.sum("o").alias("no"), F.sum("e").alias("ne")).collect()[0]
    n_o, n_e = totals["no"] or 0, totals["ne"] or 0
    if n_o == 0 or n_e == 0:
        raise ValueError("chi-square needs non-empty histograms on both sides")
    scale = n_o / n_e
    return joined.agg(
        F.sum(
            F.pow(F.col("o") - F.greatest(F.col("e") * scale, F.lit(0.5)), 2)
            / F.greatest(F.col("e") * scale, F.lit(0.5))
        ).alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.lit(n_o).alias("n_obs"),
        F.lit(n_e).alias("n_exp"),
    )


def ks_histograms(obs: DataFrame, exp: DataFrame) -> DataFrame:
    """Binned two-sample KS statistic: max |CDF_obs − CDF_exp| over the
    union of buckets, computed with a window cumsum (pure Catalyst).
    Returns one row ``(statistic double, n_obs, n_exp)``."""
    o = obs.groupBy("bucket").agg(F.sum("cnt").alias("o"))
    e = exp.groupBy("bucket").agg(F.sum("cnt").alias("e"))
    joined = o.join(e, "bucket", "full_outer").fillna(0, ["o", "e"])
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # try_divide: an empty side (total 0) yields a NULL statistic for the
    # caller's `ks is not None` guard instead of an ANSI DIVIDE_BY_ZERO
    # (review find r4); non-empty results are bit-identical to `/`
    cdf = joined.select(
        "bucket",
        F.try_divide(F.sum("o").over(w),
                     F.sum("o").over(Window.partitionBy())).alias("cdf_o"),
        F.try_divide(F.sum("e").over(w),
                     F.sum("e").over(Window.partitionBy())).alias("cdf_e"),
    )
    return cdf.agg(
        F.max(F.abs(F.col("cdf_o") - F.col("cdf_e"))).alias("statistic"),
    )


def psi_histograms(obs: DataFrame, exp: DataFrame) -> DataFrame:
    """Population Stability Index between two bucket-count frames
    ``(bucket, cnt)``: ``Σ (p_o − p_e) · ln(p_o / p_e)`` over the union
    of buckets, computed in SQL on the joined counts (same shape as
    :func:`ks_histograms` — O(buckets) exchange, no Python).

    Empty buckets get a 0.5-count Laplace floor **in the numerator of
    the proportion only** (denominators stay the raw totals) so a bucket
    populated on one side counts as drift instead of producing
    ``ln(0)`` — the same floor convention as
    :func:`chi_square_histograms`. Conventional reading: < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 major shift.

    Returns one row ``(statistic double, n_obs long, n_exp long)``;
    an empty side yields a NULL statistic (``try_divide``), mirroring
    the KS contract.
    """
    o = obs.groupBy("bucket").agg(F.sum("cnt").alias("o"))
    e = exp.groupBy("bucket").agg(F.sum("cnt").alias("e"))
    joined = o.join(e, "bucket", "full_outer").fillna(0, ["o", "e"])
    tot = Window.partitionBy()
    p_o = F.try_divide(F.greatest(F.col("o"), F.lit(0.5)),
                       F.sum("o").over(tot))
    p_e = F.try_divide(F.greatest(F.col("e"), F.lit(0.5)),
                       F.sum("e").over(tot))
    term = (p_o - p_e) * F.log(p_o / p_e)
    return (joined.select(term.alias("t"), F.col("o"), F.col("e"))
                  .agg(F.sum("t").alias("statistic"),
                       F.sum("o").cast("long").alias("n_obs"),
                       F.sum("e").cast("long").alias("n_exp")))


def drift_statistics_histograms(obs: DataFrame, exp: DataFrame) -> DataFrame:
    """All three drift statistics in ONE Catalyst plan — no driver
    arithmetic, no ``collect()``: returns a single row ``(ks, chi2,
    dof, psi, n_obs, n_exp)`` from two bucket-count frames
    ``(bucket, cnt)``.

    Statistic definitions are IDENTICAL to :func:`ks_histograms`,
    :func:`chi_square_histograms` (0.5 Laplace floor on scaled
    expectations) and :func:`psi_histograms` (0.5 floor in the
    proportion numerators only) — this is the composition a pipeline
    runs when it wants the whole drift verdict as a DataFrame it can
    union into a report, e.g. per-slice pHash-weight drift at 10^12
    images. Window functions run over ≤ a few hundred joined bucket
    rows (one final partition), so the single-partition window is a
    bounded driver-sized stage, not a scale hazard. An empty side
    degrades every ratio to NULL via ``try_divide`` instead of raising.
    """
    o = obs.groupBy("bucket").agg(F.sum("cnt").alias("o"))
    e = exp.groupBy("bucket").agg(F.sum("cnt").alias("e"))
    joined = o.join(e, "bucket", "full_outer").fillna(0, ["o", "e"])
    return drift_statistics_joined(joined)


def drift_statistics_joined(joined: DataFrame) -> DataFrame:
    """:func:`drift_statistics_histograms` over an ALREADY-JOINED bucket
    frame ``(bucket, o, e)`` (no NULL counts). Callers that derive both
    slices from ONE pass over the source — e.g. a conditional-sum
    aggregation keyed by bucket (``sum(when(slice_a, 1))`` /
    ``sum(when(slice_b, 1))``) — skip the per-side aggregate + full-outer
    join entirely, halving the heavy scans (guide §1.2). Statistic
    definitions are byte-identical: this body IS the former inline tail
    of ``drift_statistics_histograms``, which now delegates here. The
    bucket universe must be "buckets where either side has rows" —
    exactly what a groupBy over the union of rows produces, and exactly
    what the full-outer join produced."""
    tot = Window.partitionBy()
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    n_o = F.sum("o").over(tot)
    n_e = F.sum("e").over(tot)
    scale = F.try_divide(n_o, n_e)
    e_scaled = F.greatest(F.col("e") * scale, F.lit(0.5))
    chi_t = F.pow(F.col("o") - e_scaled, 2) / e_scaled
    p_o = F.try_divide(F.greatest(F.col("o"), F.lit(0.5)), n_o)
    p_e = F.try_divide(F.greatest(F.col("e"), F.lit(0.5)), n_e)
    psi_t = (p_o - p_e) * F.log(p_o / p_e)
    ks_t = F.abs(F.try_divide(F.sum("o").over(cum), n_o)
                 - F.try_divide(F.sum("e").over(cum), n_e))
    terms = joined.select("o", "e", chi_t.alias("chi_t"),
                          psi_t.alias("psi_t"), ks_t.alias("ks_t"))
    return terms.agg(
        F.max("ks_t").alias("ks"),
        F.sum("chi_t").alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.sum("psi_t").alias("psi"),
        F.sum("o").cast("long").alias("n_obs"),
        F.sum("e").cast("long").alias("n_exp"))


def _drift_verdict(h_cur: DataFrame, h_ref: DataFrame, column: str,
                   chi2_threshold: float | None,
                   ks_threshold: float | None) -> dict:
    """Both statistics from ONE collect of the joined bucket counts
    (≤ buckets rows — driver arithmetic is O(buckets)). The previous
    shape ran three separate jobs, each rescanning both tables (review
    find r4); the histogram aggregation now runs exactly once per side,
    matching the module header's one-pass claim."""
    o = h_cur.groupBy("bucket").agg(F.sum("cnt").alias("o"))
    e = h_ref.groupBy("bucket").agg(F.sum("cnt").alias("e"))
    rows = sorted(
        ((r["bucket"], r["o"] or 0, r["e"] or 0)
         for r in o.join(e, "bucket", "full_outer").collect()),
        key=lambda r: (r[0] is None, r[0] if r[0] is not None else 0))
    n_o = sum(r[1] for r in rows)
    n_e = sum(r[2] for r in rows)

    ks = None
    if n_o > 0 and n_e > 0:
        cum_o = cum_e = 0
        ks = 0.0
        for _, oc, ec in rows:
            cum_o += oc
            cum_e += ec
            ks = max(ks, abs(cum_o / n_o - cum_e / n_e))

    chi2 = dof = None
    if n_o > 0 and n_e > 0:
        scale = n_o / n_e
        chi2 = sum((oc - max(ec * scale, 0.5)) ** 2 / max(ec * scale, 0.5)
                   for _, oc, ec in rows)
        dof = len(rows) - 1

    ok = n_o > 0 and n_e > 0
    if ok and ks_threshold is not None:
        ok = ks <= ks_threshold
    if ok and chi2_threshold is not None:
        ok = chi2 <= chi2_threshold
    return {"check": f"drift:{column}", "pass": bool(ok),
            "ks": float(ks) if ks is not None else None,
            "chi2": float(chi2) if chi2 is not None else None,
            "dof": int(dof) if dof is not None else None}


def drift_check(cur: DataFrame, ref: DataFrame, column: str,
                lo: float, hi: float, buckets: int = 64,
                chi2_threshold: float | None = None,
                ks_threshold: float | None = 0.1) -> dict:
    """End-to-end drift check between two tables on one column.

    Returns ``{check, pass, ks, chi2, dof}`` (a plain dict — the caller
    folds it into the verdicts table). An empty side yields
    ``pass=False`` with NULL statistics rather than an error."""
    h_cur = histogram(cur, column, lo, hi, buckets)
    h_ref = histogram(ref, column, lo, hi, buckets)
    return _drift_verdict(h_cur, h_ref, column, chi2_threshold, ks_threshold)


def drift_check_vs_histogram(cur: DataFrame, column: str,
                             ref_hist: list[tuple[int, int]],
                             lo: float, hi: float, buckets: int = 64,
                             chi2_threshold: float | None = None,
                             ks_threshold: float | None = 0.1) -> dict:
    """Drift vs a *stored* reference histogram (e.g. from a previous run's
    checkpoint manifest) — no live reference table required, which is how
    a production pipeline drifts against last week's snapshot."""
    spark = cur.sparkSession
    h_cur = histogram(cur, column, lo, hi, buckets)
    h_ref = spark.createDataFrame([(int(b), int(c)) for b, c in ref_hist],
                                  "bucket int, cnt long")
    return _drift_verdict(h_cur, h_ref, column, chi2_threshold, ks_threshold)


def ks_exact_by_group(df: DataFrame, group_col: str, value_col: str,
                      ref: DataFrame) -> DataFrame:
    """Exact two-sample KS per group via ``applyInPandas`` (numpy kernel).

    ``ref`` must carry the same ``(group_col, value_col)``. Intended for
    moderate per-group cardinalities (each group's two samples must fit in
    one executor's memory — the binned :func:`ks_histograms` is the
    unbounded-scale path)."""
    import pandas as pd  # noqa: F401  (arrow transfer)

    tagged = df.select(group_col, value_col, F.lit(0).alias("__side")).unionByName(
        ref.select(group_col, value_col, F.lit(1).alias("__side")))

    @on_load
    def ks(pdf):
        import numpy as np
        import pandas as pd
        a = np.sort(pdf.loc[pdf["__side"] == 0, value_col].to_numpy(dtype=float))
        b = np.sort(pdf.loc[pdf["__side"] == 1, value_col].to_numpy(dtype=float))
        if len(a) == 0 or len(b) == 0:
            stat = float("nan")
        else:
            allv = np.concatenate([a, b])
            cdf_a = np.searchsorted(a, allv, side="right") / len(a)
            cdf_b = np.searchsorted(b, allv, side="right") / len(b)
            stat = float(np.max(np.abs(cdf_a - cdf_b)))
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]],
                             "ks": [stat], "n_obs": [len(a)], "n_ref": [len(b)]})

    # the group field keeps the INPUT column's type — a hardcoded string
    # failed Arrow conversion for integer group keys (review find r4)
    gtype = df.schema[group_col].dataType.simpleString()
    out_schema = f"{group_col} {gtype}, ks double, n_obs long, n_ref long"
    return tagged.groupBy(group_col).applyInPandas(ks, schema=out_schema)
