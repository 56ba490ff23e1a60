"""Geo/time localization via the broadcast-lookup pandas-UDF pattern.

Reference parity: ``compute_geotime`` (src/baskerville/spark/udfs.py:41-62)
maps (lat, lon) to a timezone name with tzwhere inside a per-row UDF.
tzwhere isn't available here (and per-row Python UDFs are the anti-pattern
regardless); what matters at 100 TB is the SHAPE: a small lookup table
broadcast once per executor, indexed vectorized inside an Arrow-batched
pandas UDF, with all timestamp math staying JVM-side. The lookup used is
the deterministic nautical-timezone table (offset = floor((lon+7.5)/15));
swapping in a real polygon/grid table changes only the broadcast payload,
not the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from baskerville_spark.gates.fixtures import _t


def tz_offset_udf(spark: SparkSession):
    """Arrow-batched lon→UTC-offset lookup against a broadcast table."""
    table = np.floor((np.arange(-180, 180) + 7.5) / 15.0).astype("int32")
    bcast = spark.sparkContext.broadcast(table)

    @F.pandas_udf(IntegerType())
    def tz_offset(lon: pd.Series) -> pd.Series:
        t = bcast.value
        # floor (not int64 truncation) so fractional negative lon maps to the
        # correct nautical zone; clip keeps lon=180 / out-of-range inputs on
        # the table; NULL lon propagates as NULL instead of failing the task.
        vals = lon.to_numpy(dtype="float64", na_value=np.nan)
        idx = np.clip(np.floor(vals), -180, 179)
        out = pd.array(
            np.where(np.isnan(idx), 0, t[np.nan_to_num(idx, nan=0.0).astype(np.int64) + 180]),
            dtype="Int32",
        )
        out[np.isnan(idx)] = pd.NA
        return pd.Series(out)

    return tz_offset


def localize_events(df: DataFrame) -> DataFrame:
    """Per-user local-time stats from (user_id, lon, ts) events:
    (user_id, lon, tz_offset, n_night_events).

    The only Python in the plan is the broadcast-table lookup (one Arrow
    batch per partition); interval arithmetic and the hour extraction are
    JVM-side expressions.
    """
    udf = tz_offset_udf(df.sparkSession)
    with_off = df.withColumn("tz_offset", udf(F.col("lon")))
    local_ts = F.col("ts").cast("timestamp") + F.expr(
        "make_interval(0, 0, 0, 0, tz_offset, 0, 0)"
    )
    return with_off.groupBy("user_id", "lon", "tz_offset").agg(
        F.count(F.when(F.hour(local_ts) < 6, F.lit(1))).alias("n_night_events")
    )


def q37_geo_localize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas-UDF + broadcast lookup-table pattern (reference
    compute_geotime, udfs.py:41-62, minus the tzwhere dependency): a
    360-entry nautical-timezone table is broadcast once and indexed inside
    an Arrow-batched pandas UDF; local-time math stays JVM-side."""
    e = _t(spark, sf_dir, "events")
    lon = (F.col("user_id") * 37 % 360 - 180).cast("int")
    return localize_events(e.withColumn("lon", lon))


Q37_SQL = """
WITH x AS (
  SELECT user_id, ts,
         CAST((user_id * 37) % 360 - 180 AS INT) AS lon
  FROM events),
y AS (
  SELECT user_id, lon,
         CAST(floor((lon + 7.5) / 15.0) AS INT) AS tz_offset, ts
  FROM x)
SELECT user_id, lon, tz_offset,
       COUNT(CASE WHEN EXTRACT(hour FROM ts + to_hours(tz_offset)) < 6
                  THEN 1 END) AS n_night_events
FROM y GROUP BY 1, 2, 3
"""
