"""Incremental state cache: the reference's two-layer request-set cache
rebuilt as a declarative upsert.

Reference semantics (src/baskerville/models/request_set_cache.py):
- enrich: batch LEFT-joins the cache on (target, ip), null-coalescing
  duplicate columns (207-251)
- upsert: FULL_OUTER join on keys, per-column when(new.isNotNull(), new)
  .otherwise(old) (370-400)
- persistence: parquet with A/B file alternation for atomicity (62-97) —
  here: versioned directories + current-pointer file (same idea, explicit);
  on Iceberg this is MERGE INTO + snapshot commit.

Scale notes: the upsert is one sort-merge full-outer join keyed on the cache
key; both sides are pre-projected to key + state columns. Enrich broadcasts
the cache when small, else AQE picks sort-merge.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

def enrich_with_state(
    batch: DataFrame,
    state: DataFrame,
    keys: list[str],
    state_cols: list[str],
) -> DataFrame:
    """LEFT join prior state onto the batch (request_set_cache.py:207-251).

    State columns arrive prefixed (old_*) so feature update expressions can
    reference both the fresh and prior value.
    """
    renamed = state.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in state_cols]
    )
    return batch.join(renamed, on=keys, how="left")


def upsert_state(
    state: DataFrame,
    updates: DataFrame,
    keys: list[str],
    value_cols: list[str],
) -> DataFrame:
    """FULL_OUTER merge with PER-COLUMN null-coalescing: each column takes
    the update's value when non-null, else the prior state's.

    INTENTIONAL DEVIATION from the reference (request_set_cache.py:370-400):
    there the coalesce is keyed on a ROW-LEVEL presence flag
    (``features.isNotNull()``), so a present update row replaces *every*
    column — including replacing a prior value with NULL. Per-column
    coalesce was chosen deliberately instead because (a) a partial update
    row (NULL in one column) refreshes the other columns without clobbering
    the one it doesn't carry, and (b) it needs no row-presence marker, which
    makes the merge correct for null-valued keys too (the eqNullSafe join
    already matches them; a row-level form keyed on ``keys[0].isNotNull()``
    drops a null-keyed update's values). The trade-off: this merge can never
    clear a column back to NULL — updaters that need explicit clearing must
    write a sentinel, not NULL. On Iceberg: MERGE INTO."""
    s = state.select(
        *[F.col(k).alias(f"__s_{k}") for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in value_cols + ["updated_at"]],
    )
    u = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in value_cols + ["updated_at"]],
    )
    cond = None
    for k in keys:
        c = s[f"__s_{k}"].eqNullSafe(u[f"__u_{k}"])
        cond = c if cond is None else (cond & c)
    joined = s.join(u, cond, "full_outer")
    out_cols = [
        F.coalesce(F.col(f"__u_{k}"), F.col(f"__s_{k}")).alias(k) for k in keys
    ]
    for c in value_cols + ["updated_at"]:
        out_cols.append(
            F.coalesce(F.col(f"__u_{c}"), F.col(f"__s_{c}")).alias(c)
        )
    return joined.select(*out_cols)


class StateStore:
    """Versioned-parquet state persistence with an atomic current-pointer.

    The reference flipped between two fixed parquet files (A/B,
    request_set_cache.py:62-97); versioned dirs + a pointer file generalize
    that (no reader ever sees a half-written directory). On Iceberg the
    snapshot log plays this role.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._ptr = os.path.join(root, "CURRENT")

    def current_path(self) -> str | None:
        if not os.path.exists(self._ptr):
            return None
        with open(self._ptr) as f:
            return os.path.join(self.root, json.load(f)["version"])

    def read(self, spark: SparkSession) -> DataFrame | None:
        p = self.current_path()
        return spark.read.parquet(p) if p else None

    def write(self, df: DataFrame) -> str:
        version = f"v_{int(time.time() * 1000)}_{uuid.uuid4().hex[:6]}"
        path = os.path.join(self.root, version)
        df.write.mode("overwrite").parquet(path)
        tmp = self._ptr + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self._ptr)  # atomic pointer flip
        return path


def q29_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental state upsert (reference request-set cache full_outer merge,
    request_set_cache.py:370-400) via upsert_state."""
    e = _t(spark, sf_dir, "events")
    ts_epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    half = F.lit("2024-01-15 00:00:00")
    agg = lambda df: df.groupBy("user_id").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_events"),
        F.max(ts_epoch).alias("updated_at"),
    )
    state = agg(e.where(F.col("ts") < half))
    updates = agg(e.where(F.col("ts") >= half))
    return upsert_state(state, updates, keys=["user_id"], value_cols=["n_events"])


Q29_SQL = """
WITH s AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS updated_at
  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id),
u AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS updated_at
  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id)
SELECT COALESCE(u.user_id, s.user_id) AS user_id,
       CASE WHEN u.user_id IS NOT NULL THEN u.n_events ELSE s.n_events END AS n_events,
       CASE WHEN u.user_id IS NOT NULL THEN u.updated_at ELSE s.updated_at END AS updated_at
FROM s FULL OUTER JOIN u ON s.user_id = u.user_id
"""


# --------------------------------------------------------------------------
# q108: enrich-with-state left-outer + per-column coalesce (the last §2.3
# join family that was pytest-only — VERDICT r04 item #5)
# --------------------------------------------------------------------------


def q108_enrich_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-enrichment gate (reference request_set_cache.py:207-251): the
    batch (per-user aggregates over odd event_ids) is LEFT-joined to a
    planted STALE cache (per-user aggregates over even event_ids, with
    every user_id % 3 == 0 evicted so the NULL-state path is exercised),
    state columns arriving old_*-prefixed, then the canonical per-column
    coalesce folds prior state into running totals. Hash-gates both the
    join's null semantics and the coalesce arithmetic."""
    ev = _t(spark, sf_dir, "events")
    batch = (
        ev.where(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    stale = (
        ev.where((F.col("event_id") % 2 == 0) & (F.col("user_id") % 3 != 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    enriched = enrich_with_state(
        batch, stale, keys=["user_id"], state_cols=["n_events", "sum_value"]
    )
    return enriched.select(
        "user_id",
        "n_events",
        "old_n_events",
        (F.col("n_events") + F.coalesce(F.col("old_n_events"), F.lit(0)))
        .cast("long")
        .alias("total_events"),
        F.round(
            F.col("sum_value") + F.coalesce(F.col("old_sum_value"), F.lit(0.0)), 6
        ).alias("total_value"),
    )


Q108_SQL = """
WITH batch AS (
  SELECT user_id, COUNT(*) AS n_events,
         ROUND(SUM(value), 6) AS sum_value
  FROM events WHERE event_id % 2 = 1 GROUP BY user_id),
stale AS (
  SELECT user_id, COUNT(*) AS n_events,
         ROUND(SUM(value), 6) AS sum_value
  FROM events WHERE event_id % 2 = 0 AND user_id % 3 <> 0 GROUP BY user_id)
SELECT b.user_id,
       b.n_events,
       s.n_events AS old_n_events,
       CAST(b.n_events + COALESCE(s.n_events, 0) AS BIGINT) AS total_events,
       ROUND(b.sum_value + COALESCE(s.sum_value, 0.0), 6) AS total_value
FROM batch b LEFT JOIN stale s USING (user_id)
"""
