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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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
