"""Partition completeness + freshness check against a baseline manifest:
did every expected partition arrive, with roughly the expected volume, and
recently enough?

The reference keeps its temporal partitions healthy imperatively — the DDL
generator pre-creates time partitions with a catch-all for strays
(src/baskerville/db/temporal_partition.py:244-266) and maintain_db
(src/baskerville/db/database_maintenance.py:20) re-runs the generator on a
schedule — but nothing ever VERIFIES that a partition that should have data
actually got it. This check is that verification, engine-native: a baseline
manifest (expected rows + expected latest event time per partition, itself
producible by ``expected_from_snapshot`` over a known-good snapshot) is
joined against the current table's observed per-partition profile.

Scale shape: ONE aggregation pass over the fact table produces a
|partitions|-sized profile (count + max event ts — both map-side combined);
the manifest is tiny and broadcast. Nothing wide shuffles; the fact table
is read once with only (part_col, ts_col) projected, so the parquet scan
prunes every payload column.

Verdicts per partition:
  missing_partition      expected but absent entirely            violation
  row_count_low          observed < expected * (1 - tolerance)   violation
  stale_partition        observed max ts lags expected           violation
  unexpected_partition   present but not in the manifest         advisory
  ok                     none of the above
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

#: fraction of its expected volume a partition may fall short by
COUNT_TOLERANCE = 0.50
#: seconds the observed max event time may lag the expected one
MAX_STALENESS_S = 3 * 3600


def observed_profile(df: DataFrame, part_col: str, ts_col: str) -> DataFrame:
    """(partition, n_rows, max_ts) in one narrow aggregation pass."""
    return df.groupBy(F.col(part_col).alias("partition")).agg(
        F.count(F.lit(1)).alias("n_rows"), F.max(ts_col).alias("max_ts")
    )


def expected_from_snapshot(df: DataFrame, part_col: str, ts_col: str) -> DataFrame:
    """Build the baseline manifest from a known-good snapshot:
    (partition, expected_rows, expected_max_ts)."""
    return observed_profile(df, part_col, ts_col).select(
        F.col("partition"),
        F.col("n_rows").alias("expected_rows"),
        F.col("max_ts").alias("expected_max_ts"),
    )


def completeness_verdicts(
    current: DataFrame, expected: DataFrame, part_col: str, ts_col: str
) -> DataFrame:
    """One verdict row per partition seen on either side.

    ``expected`` carries (partition, expected_rows, expected_max_ts). A
    partition may fall short of its expected volume by ``COUNT_TOLERANCE``
    before it's a violation, and its max event time may lag the expected
    one by ``MAX_STALENESS_S``. Both join inputs are O(partitions) —
    |partitions|-sized aggregates of a scan that projected two columns —
    so the full-outer exchange (Spark cannot broadcast a full-outer build
    side) moves manifest-sized data, never row-sized."""
    obs = observed_profile(current, part_col, ts_col)
    j = obs.alias("o").join(
        expected.alias("e"),
        on=F.col("o.partition") == F.col("e.partition"),
        how="full_outer",
    )
    n, exp = F.col("o.n_rows"), F.col("e.expected_rows")
    floor = F.ceil(exp * F.lit(1.0 - COUNT_TOLERANCE)).cast("long")
    lag = F.unix_seconds(
        F.col("e.expected_max_ts").cast("timestamp")
    ) - F.unix_seconds(F.col("o.max_ts").cast("timestamp"))
    status = (
        F.when(exp.isNull(), F.lit("unexpected_partition"))
        .when(n.isNull(), F.lit("missing_partition"))
        .when(n < floor, F.lit("row_count_low"))
        .when(
            F.col("e.expected_max_ts").isNotNull() & (lag > F.lit(MAX_STALENESS_S)),
            F.lit("stale_partition"),
        )
    )
    return j.select(
        F.coalesce(F.col("o.partition"), F.col("e.partition")).alias("partition"),
        F.coalesce(n, F.lit(0)).cast("long").alias("n_rows"),
        exp.cast("long").alias("expected_rows"),
        status.otherwise(F.lit("ok")).alias("status"),
    )


# --------------------------------------------------------------------------
# q125: partition completeness + freshness vs a baseline manifest — the
# verification the reference's partition maintenance (temporal_partition.py
# pre-creates partitions, database_maintenance.py:20 re-runs the generator)
# never performs: did the data actually arrive? One narrow agg pass over
# (day, ts) — payload pruned at the scan — joined to a broadcast manifest.
# Planted: day 3 dropped (missing), day 5 thinned to ~25% vs a 50% floor
# (row_count_low), day 7 truncated at 18:00 vs a 3 h staleness bound
# (stale), day 29 absent from the manifest (unexpected).
# --------------------------------------------------------------------------


def q125_partition_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → event-time
        .withColumn("day", F.dayofmonth("ts"))
    )
    expected = expected_from_snapshot(e.filter(F.col("day") != 29), "day", "ts")
    cutoff = F.to_timestamp(F.lit("2024-01-07 18:00:00"))
    current = e.filter(
        (F.col("day") != 3)
        & ((F.col("day") != 5) | (F.col("event_id") % 4 == 0))
        & ((F.col("day") != 7) | (F.col("ts") < cutoff))
    )
    return completeness_verdicts(current, expected, "day", "ts")


Q125_SQL = """
WITH e AS (
  SELECT event_id, ts, CAST(day(ts) AS INT) AS day FROM events),
expected AS (
  SELECT day AS partition, CAST(COUNT(*) AS BIGINT) AS expected_rows,
         MAX(ts) AS expected_max_ts
  FROM e WHERE day <> 29 GROUP BY day),
cur AS (
  SELECT * FROM e
  WHERE day <> 3
    AND (day <> 5 OR event_id % 4 = 0)
    AND (day <> 7 OR ts < TIMESTAMP '2024-01-07 18:00:00')),
obs AS (
  SELECT day AS partition, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MAX(ts) AS max_ts
  FROM cur GROUP BY day)
SELECT COALESCE(o.partition, x.partition) AS partition,
       CAST(COALESCE(o.n_rows, 0) AS BIGINT) AS n_rows,
       CAST(x.expected_rows AS BIGINT) AS expected_rows,
       CASE WHEN x.partition IS NULL THEN 'unexpected_partition'
            WHEN o.partition IS NULL THEN 'missing_partition'
            WHEN o.n_rows < CEIL(x.expected_rows * 0.5) THEN 'row_count_low'
            WHEN floor(epoch(x.expected_max_ts)) - floor(epoch(o.max_ts))
                 > 10800 THEN 'stale_partition'
            ELSE 'ok' END AS status
FROM obs o FULL OUTER JOIN expected x ON o.partition = x.partition
"""
