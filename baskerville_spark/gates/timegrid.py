"""Gap-fill to a regular time grid (forward fill), explode-from-observation.

The time-series regularization step every monitoring/feature pipeline
needs upstream of drift/rolling ops (checks/drift.py consumes CONSECUTIVE
windows; a sensor that skips hours silently breaks "previous window"
semantics). Reference seam: Baskerville's incident detector assumes dense
2-minute buckets and has no fill story (incident_detector.py trailing
windows); this is a from-scratch extension.

Shape: the textbook form builds a per-key calendar table and left-joins
observations onto it — a second shuffle plus a grid materialization the
size of keys × slots. Here each OBSERVED row emits its own fill span
instead: ``lead(slot)`` over the key window finds the next observation,
``explode(sequence(slot, next-step, step))`` emits the carried rows — the
values are already ON the row, so forward fill needs no join, no grid
table, and no second exchange. One hash exchange on the keys serves both
the slot-collapse aggregate and the window (HashPartitioning on a prefix
of the grouping keys satisfies both distributions).

Row amplification is the hazard at scale: one observation before a
year-long gap at 1 s steps would emit 3×10^7 rows. ``MAX_FILL`` caps the
span per gap (further slots stay ABSENT, which downstream rolling ops
read as "no data" — the honest answer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

#: carried slots ``gap_fill`` emits after an observation, at most
MAX_FILL = 8


def gap_fill(
    df: DataFrame,
    keys: list[str],
    slot_col: str,
    value_cols: list[str],
    step: int,
    order_col: str,
) -> DataFrame:
    """Regularize (keys, slot) series: one row per grid slot from each
    key's first to last observation, values forward-filled.

    ``slot_col`` must already be bucketed to multiples of ``step``
    (``u - u % step`` on the epoch — callers own the timestamp→slot cast;
    keeps the operator ANSI-pure). Multiple observations in one slot
    collapse to the one with the greatest ``order_col`` (must be unique
    within (keys, slot) for determinism — an event id, not a timestamp).
    A gap longer than ``MAX_FILL`` slots is filled for its first
    ``MAX_FILL`` slots only. Returns keys + ``grid_slot`` + value_cols +
    ``is_observed``.
    """
    reserved = {"grid_slot", "is_observed", "__slot", "__end"}
    clash = reserved & set([*keys, slot_col, *value_cols])
    if clash:
        # same contract as audio_quality._emit_spans: a name collision with
        # the operator's own output must fail loudly, not build a plan with
        # duplicate/ambiguous columns
        raise ValueError(f"column name(s) {sorted(clash)} are reserved by gap_fill")
    part = df.repartition(*[F.col(k) for k in keys])
    obs = part.groupBy(*keys, slot_col).agg(
        *[F.max_by(c, order_col).alias(c) for c in value_cols]
    )
    w = Window.partitionBy(*keys).orderBy(slot_col)
    nxt = F.lead(slot_col).over(w)
    fill_end = F.least(
        F.coalesce(nxt - step, F.col(slot_col)), F.col(slot_col) + step * MAX_FILL
    )
    spans = obs.withColumn("__end", fill_end)
    return spans.select(
        *keys,
        F.explode(F.sequence(F.col(slot_col), F.col("__end"), F.lit(step))).alias(
            "grid_slot"
        ),
        *value_cols,
        F.col(slot_col).alias("__slot"),
    ).select(
        *keys,
        "grid_slot",
        *value_cols,
        (F.col("grid_slot") == F.col("__slot")).alias("is_observed"),
    )


# --------------------------------------------------------------------------
# q112: gap-fill to a regular grid — forward fill WITHOUT a calendar join
# (each observation explodes its own fill span off one lead() window).
# --------------------------------------------------------------------------


def q112_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill gate: per-user 6-hour grid over the events table (slots =
    epoch − epoch % 21600), latest-in-slot by event_id, gaps forward-filled
    up to timegrid.MAX_FILL = 8 slots (longer gaps stay absent — bounded row
    amplification under the hash). value AND event_type carry; is_observed
    marks real vs filled rows."""
    step = 21600
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "event_type",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.col("ts").cast("timestamp")) % step
        ).alias("slot"),
    )
    return gap_fill(
        ev,
        keys=["user_id"],
        slot_col="slot",
        value_cols=["value", "event_type"],
        step=step,
        order_col="event_id",
    )


Q112_SQL = """
WITH b AS (
  SELECT user_id, event_id, value, event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 21600 AS slot
  FROM events),
obs AS (
  SELECT user_id, slot,
         MAX_BY(value, event_id) AS value,
         MAX_BY(event_type, event_id) AS event_type
  FROM b GROUP BY user_id, slot),
nx AS (
  SELECT *, LEAD(slot) OVER (PARTITION BY user_id ORDER BY slot) AS nxt
  FROM obs),
sel AS (
  SELECT user_id, value, event_type, slot,
         unnest(generate_series(
             slot,
             LEAST(COALESCE(nxt - 21600, slot), slot + 8 * 21600),
             21600)) AS grid_slot
  FROM nx)
SELECT user_id, grid_slot, value, event_type,
       grid_slot = slot AS is_observed
FROM sel
"""
