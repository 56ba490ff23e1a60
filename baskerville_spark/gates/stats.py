"""Robust per-partition outlier flagging (median/MAD)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

#: robust z-score above which ``robust_outlier_violations`` flags a value
OUTLIER_K = 5.0


def robust_outlier_violations(
    df: DataFrame,
    value_col: str,
    part_col: str,
    id_cols: list[str],
) -> DataFrame:
    """Median/MAD robust outlier flagging per partition:
    ``|x − median| > OUTLIER_K · 1.4826 · MAD`` (1.4826 scales MAD to σ under
    normality — the robust z-score). Mean/stddev-based thresholds (the
    reference's incident condition, incident_detector.py:285-289) are
    dragged by the very outliers they hunt; median/MAD has a 50%
    breakdown point.

    Plan: TWO aggregate passes (median, then MAD of |x−med|), each
    producing one tiny per-partition row broadcast back — the flag itself
    is a map-side filter, no row-level shuffle. Uses the EXACT
    ``percentile`` (DuckDB quantile_cont parity; it buffers each group's
    values, fine at gate scale) — at 10^12 rows swap ``percentile_approx``,
    whose rank-error bound is exactly what the q46 sketch-accuracy gate
    certifies.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(part_col).alias("__part"),
        *[F.col(c) for c in id_cols],
        v.alias("__x"),
    )
    med = base.groupBy("__part").agg(F.percentile(F.col("__x"), 0.5).alias("med"))
    with_med = base.join(F.broadcast(med), "__part")
    mad = with_med.groupBy("__part").agg(
        F.percentile(F.abs(F.col("__x") - F.col("med")), 0.5).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "__part")
        .where(
            F.abs(F.col("__x") - F.col("med"))
            > F.lit(OUTLIER_K) * F.lit(1.4826) * F.greatest(F.col("mad"), F.lit(1e-12))
        )
        .select(
            F.col("__part").alias(part_col),
            *[F.col(c) for c in id_cols],
            F.col("__x").alias(value_col),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


# --------------------------------------------------------------------------
# q81: robust (median/MAD) outlier flagging
# --------------------------------------------------------------------------


def q81_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust z-score outliers on events.value:
    |x − median| > 5 · 1.4826 · MAD. Exact percentile at gate scale
    (DuckDB quantile_cont parity); the threshold's float expression is
    written in the SAME op order in both engines so the strict inequality
    bites identically (checks/stats.robust_outlier_violations)."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return robust_outlier_violations(
        e, "value", part_col="event_type", id_cols=["event_id"]
    )


Q81_SQL = """
WITH m AS (
  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY 1),
d AS (
  SELECT e.event_type, e.event_id, CAST(e.value AS DOUBLE) AS x, m.med
  FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL),
md AS (
  SELECT event_type, quantile_cont(abs(x - med), 0.5) AS mad FROM d GROUP BY 1)
SELECT d.event_type, d.event_id, d.x AS value,
       ROUND(d.med, 6) AS med, ROUND(md.mad, 6) AS mad
FROM d JOIN md USING (event_type)
WHERE abs(d.x - d.med) > 5.0 * 1.4826 * greatest(md.mad, 1e-12)
"""
