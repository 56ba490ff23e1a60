"""Anomaly classification with incident-aware dual thresholds.

Reference: ``models/pipeline_tasks/tasks.py:1771-1795``
(``classify_anomalies``) — hosts currently under incident get the lower
``anomaly_threshold_during_incident`` (default 0.35) while everything
else uses ``anomaly_threshold`` (0.45) (``models/config.py:273-274``),
so detection is more sensitive exactly where the drift detector already
sees trouble. The reference materializes the incident host list on the
driver and burns it into an ``isin`` literal; at 10^12 rows the incident
set itself can be large, so here it stays a DataFrame and rides a
left join — same verdicts, no driver round-trip. The join strategy is the
optimizer's (small sets auto-broadcast, huge ones shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

DEFAULT_THRESHOLD = 0.45  # config.py:273
DEFAULT_THRESHOLD_DURING_INCIDENT = 0.35  # config.py:274


def classify_anomalies(
    scored: DataFrame,
    incidents: DataFrame,
    key: str,
) -> DataFrame:
    """Adds the reference's two verdict columns to ``scored``:

    - ``attack_prediction`` — 1 when the row's key is in ``incidents``
      (tasks.py:1781-1783)
    - ``prediction`` — 1 when ``score`` exceeds the key's threshold, which
      is ``DEFAULT_THRESHOLD_DURING_INCIDENT`` for incident keys else
      ``DEFAULT_THRESHOLD`` (tasks.py:1785-1794; the intermediate
      ``threshold`` column is dropped, as the reference drops it)

    ``incidents`` needs only the ``key`` column (deduplicated here). No
    broadcast hint: Spark never size-demotes an explicit hint, so the
    optimizer/AQE chooses — small sets still broadcast via auto-broadcast
    sizing; huge ones get a shuffled join instead of an OOM.
    """
    inc = incidents.select(key).distinct().withColumn("__inc", F.lit(1))
    is_inc = F.col("__inc").isNotNull()
    thr = F.when(is_inc, F.lit(DEFAULT_THRESHOLD_DURING_INCIDENT)).otherwise(
        F.lit(DEFAULT_THRESHOLD)
    )
    return (
        scored.join(inc, on=key, how="left_outer")
        .withColumn("attack_prediction", is_inc.cast("int"))
        .withColumn("prediction", (F.col("score") > thr).cast("int"))
        .drop("__inc")
    )


# ---------------------------------------------------------------------------
# Q59 — incident-aware anomaly thresholding (classify_anomalies,
#       tasks.py:1771-1795; dual thresholds config.py:273-274)
# ---------------------------------------------------------------------------

def q59_anomaly_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dual-threshold classification: keys under incident
    are judged at 0.35, everything else at 0.45 (config.py:273-274). The
    score here is a closed-form per-user anomaly proxy (2x error ratio —
    SQL-reproducible; the model-scored path is q55's subject) and the
    incident set is the users whose error ratio exceeds 0.21 (the
    incident detector itself is q10/q44's subject). The reference builds
    an isin() literal from a driver-collected host list; this rides a
    broadcast left join instead — same verdicts, no driver round-trip."""
    e = _t(spark, sf_dir, "events")
    ratio = (
        F.count(F.when(F.col("event_type") == "error", 1)).cast("double")
        / F.count(F.lit(1)).cast("double")
    )
    scored = e.groupBy("user_id").agg((ratio * 2.0).alias("score"))
    incidents = scored.where(F.col("score") / 2.0 > 0.21).select("user_id")
    out = classify_anomalies(scored, incidents, "user_id")
    return out.select(
        "user_id",
        F.round("score", 4).alias("score"),
        "attack_prediction",
        "prediction",
    )


Q59_SQL = """
WITH scored AS (
  SELECT user_id,
         2.0 * (COUNT(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE
                / COUNT(*)::DOUBLE) AS score
  FROM events GROUP BY user_id)
SELECT user_id,
       ROUND(score, 4) AS score,
       CAST(CASE WHEN score / 2.0 > 0.21 THEN 1 ELSE 0 END AS INTEGER)
         AS attack_prediction,
       CAST(CASE WHEN score > (CASE WHEN score / 2.0 > 0.21
                                    THEN 0.35 ELSE 0.45 END)
                 THEN 1 ELSE 0 END AS INTEGER) AS prediction
FROM scored
"""
