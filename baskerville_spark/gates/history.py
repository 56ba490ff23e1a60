"""Validation-metrics history + run-over-run anomaly detection.

The reference persists per-runtime stats rows and flags an incident when the
current value exceeds the trailing mean + sigma*stddev over a lookback
window per target (src/baskerville/models/incident_detector.py:251-295 —
the baseline SQL at 264-275 computes AVG/STDDEV over the trailing window).
This module restates that discipline over the VALIDATION ENGINE'S OWN
metrics: over a history table of narrow
``(run_id, part_id, column_name, metric_name, metric_value)`` rows,
:func:`detect_metric_anomalies` flags any run whose metric
deviates from its own trailing history by a k-sigma band or a
relative-change bound.  This is the metrics-repository + anomaly-detection
architecture Deequ popularized (repository of per-run analyzer metrics,
anomaly strategies over the metric time series), re-expressed as one narrow
window pass — and it catches the failure class the per-run checks
structurally cannot: a run that passes every ABSOLUTE threshold while its
metrics silently drift run-over-run (row count quietly halving, distinct
cardinality exploding, null-rate creeping).

Scale: the history table is O(runs x partitions x columns x metrics) — a
few KB per run even when the validated table holds 10^12 rows — and
detection never touches the fact table, only this narrow history: ONE
shuffle on the (part, column, metric) key, trailing stats via a rowsBetween
window (no self-join, no rescan of settled data).  The expensive part
(scanning the data) already happened exactly once, inside the run that
emitted the metrics; history rows ride the same checkpoint manifest as the
verdicts (runtime/manifest.py), so a resumed run appends only the
partitions it actually validated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

STDDEV_FLOOR = 1e-9


def detect_metric_anomalies(history: DataFrame) -> DataFrame:
    """Flag metric values that break from their own trailing history.

    For every (part_id, column_name, metric_name) series ordered by run_id,
    each row is compared against ALL the runs STRICTLY BEFORE it
    (``rowsBetween`` ending at -1 — the current value never contaminates its
    own baseline):

    - **3-sigma band** (the reference's incident rule):
      ``|value - trailing_mean| > 3 * max(trailing_stddev, floor)``
    - **relative-change bound** (catches the flat-history case where stddev
      is ~0 and any jump is infinite sigmas — and gives a meaningful rule
      for the first runs after the warm-up):
      ``|value - trailing_mean| > 0.5 * max(|trailing_mean|, floor)``

    A row is an anomaly when EITHER rule fires and at least 3 prior runs
    exist (fewer ⇒ ``anomaly`` is false and trailing columns are
    still reported, so callers can audit warm-up runs).  Returns the history
    columns plus ``trailing_n, trailing_mean, trailing_stddev, z_score,
    rel_change, anomaly``.

    One shuffle total (window partition key), rows are O(metrics), never
    O(data).
    """
    w = (
        Window.partitionBy("part_id", "column_name", "metric_name")
        .orderBy("run_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = F.col("metric_value")
    mean = F.avg(v).over(w)
    # stddev_samp of a single prior row is NULL — coalesce to 0 so the
    # k-sigma rule degenerates to the floor (rel-change rule still governs).
    std = F.coalesce(F.stddev_samp(v).over(w), F.lit(0.0))
    n = F.count(v).over(w)
    std_eff = F.greatest(std, F.lit(STDDEV_FLOOR))
    mean_eff = F.greatest(F.abs(mean), F.lit(STDDEV_FLOOR))
    z = (v - mean) / std_eff
    rel = (v - mean) / mean_eff
    return history.select(
        "*",
        n.alias("trailing_n"),
        mean.alias("trailing_mean"),
        std.alias("trailing_stddev"),
        z.alias("z_score"),
        rel.alias("rel_change"),
        (
            (n >= 3)
            & ((F.abs(v - mean) > 3.0 * std_eff)
               | (F.abs(v - mean) > 0.5 * mean_eff))
        ).alias("anomaly"),
    )


# --------------------------------------------------------------------------
# q128: metrics-history anomaly detection (detect_metric_anomalies) — the
# run-over-run regression detector. The reference's incident rule
# (incident_detector.py:251-295, trailing AVG/STDDEV window per target)
# applied to the validation engine's OWN metric series: catches a run whose
# metrics silently break from their history while passing every absolute
# threshold. Fixture: an 8-run history synthesized from ONE scan of
# documents (run_id = doc_id % 8, part_id = (doc_id // 8) % 2; per-run
# row-count and mean-chars metrics carry a steady 0.1%/0.05% per-run ramp —
# provably inside the 3-sigma band for any arithmetic ramp — and run 7's
# row_count is multiplied 3x, the planted regression). The oracle restates
# the full trailing-window algebra in SQL: identical frame
# (UNBOUNDED PRECEDING .. 1 PRECEDING — the current value never
# contaminates its own baseline), identical k-sigma + rel-change rules,
# identical NULL semantics on warm-up rows (FALSE AND NULL = FALSE).
# --------------------------------------------------------------------------

def q128_metric_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    agg = d.groupBy(
        (F.col("doc_id") % 8).cast("long").alias("run_id"),
        (F.floor(F.col("doc_id") / 8) % 2).cast("int").alias("part_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("n_chars").alias("mean_chars"),
    )
    ramp_count = F.when(F.col("run_id") == 7, F.lit(3.0)).otherwise(
        F.lit(1.0) + F.col("run_id") * F.lit(0.001)
    )
    ramp_mean = F.lit(1.0) + F.col("run_id") * F.lit(0.0005)
    hist = agg.select(
        "run_id",
        "part_id",
        F.lit("*").alias("column_name"),
        F.lit("row_count").alias("metric_name"),
        (F.col("n_rows") * ramp_count).alias("metric_value"),
    ).unionByName(
        agg.select(
            "run_id",
            "part_id",
            F.lit("n_chars").alias("column_name"),
            F.lit("mean_chars").alias("metric_name"),
            (F.col("mean_chars") * ramp_mean).alias("metric_value"),
        )
    )
    rep = detect_metric_anomalies(hist)
    return rep.select(
        "run_id",
        "part_id",
        "column_name",
        "metric_name",
        F.round("metric_value", 6).alias("metric_value"),
        "trailing_n",
        F.round("trailing_mean", 6).alias("trailing_mean"),
        F.round("trailing_stddev", 6).alias("trailing_stddev"),
        "anomaly",
    )


Q128_SQL = """
WITH base AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS run_id,
         CAST((doc_id // 8) % 2 AS INT) AS part_id,
         n_chars
  FROM documents),
agg AS (
  SELECT run_id, part_id,
         COUNT(*) AS n_rows,
         AVG(n_chars) AS mean_chars
  FROM base GROUP BY run_id, part_id),
hist AS (
  SELECT run_id, part_id, '*' AS column_name, 'row_count' AS metric_name,
         n_rows * (CASE WHEN run_id = 7 THEN 3.0
                        ELSE 1.0 + run_id * 0.001 END) AS metric_value
  FROM agg
  UNION ALL
  SELECT run_id, part_id, 'n_chars' AS column_name,
         'mean_chars' AS metric_name,
         mean_chars * (1.0 + run_id * 0.0005) AS metric_value
  FROM agg),
det AS (
  SELECT *,
         COUNT(metric_value) OVER w AS trailing_n,
         AVG(metric_value) OVER w AS trailing_mean,
         COALESCE(STDDEV_SAMP(metric_value) OVER w, 0.0) AS trailing_stddev
  FROM hist
  WINDOW w AS (PARTITION BY part_id, column_name, metric_name ORDER BY run_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT run_id, part_id, column_name, metric_name,
       ROUND(metric_value, 6) AS metric_value,
       CAST(trailing_n AS BIGINT) AS trailing_n,
       ROUND(trailing_mean, 6) AS trailing_mean,
       ROUND(trailing_stddev, 6) AS trailing_stddev,
       (trailing_n >= 3 AND (
          ABS(metric_value - trailing_mean)
            > 3.0 * GREATEST(trailing_stddev, 1e-9)
          OR ABS(metric_value - trailing_mean)
            > 0.5 * GREATEST(ABS(trailing_mean), 1e-9)
       )) AS anomaly
FROM det
"""
