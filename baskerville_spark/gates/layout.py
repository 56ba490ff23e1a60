"""Data-layout operators: min/max file skipping and z-order clustering.

At 100 TB the fastest scan is the one that never happens: Iceberg/parquet
keep per-file column min/max stats, and a range predicate can prove a file
irrelevant without opening it. `file_skip_plan` is that pruning decision
as a DataFrame op over a stats table (one row per file — millions of rows
for a 100 TB table, still tiny), with the soundness contract a gate can
check: a skipped file provably contains no matching row. `z_value`
produces the interleaved-bits sort key that makes MULTI-column predicates
prunable at once — sorting by z clusters files in both dimensions, so both
columns' min/max ranges stay tight per file (the classic z-order layout
optimization Iceberg exposes as `rewrite_data_files(strategy => 'sort',
sort_order => 'zorder(a, b)')`).

Reference seam: Baskerville filters time windows and host sets in-query
(src/baskerville/models/engine.py); at its design scale the DB prunes for
it. This module is the warehouse-native equivalent the engine needs when
the "DB" is a file format.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t


def file_skip_plan(file_stats: DataFrame, lo: float, hi: float) -> DataFrame:
    """Skip/scan decision per file for `value BETWEEN lo AND hi`, from
    per-file ``min_v``/``max_v`` stats: skip iff max < lo OR min > hi. NULL stats
    (files whose footer lacks the column, or all-NULL chunks) force a
    scan — pruning must be SOUND, never clever. Adds (action, reason);
    pure map-side expression over the (tiny) stats table."""
    below = F.col("max_v") < F.lit(lo)
    above = F.col("min_v") > F.lit(hi)
    has_stats = F.col("min_v").isNotNull() & F.col("max_v").isNotNull()
    return file_stats.select(
        "*",
        F.when(has_stats & (below | above), F.lit("skip"))
        .otherwise(F.lit("scan"))
        .alias("action"),
        F.when(~has_stats, F.lit("no_stats"))
        .when(below, F.lit("entirely_below"))
        .when(above, F.lit("entirely_above"))
        .otherwise(F.lit("overlaps"))
        .alias("reason"),
    )


#: bits of each column ``z_value`` interleaves
Z_BITS = 8


def z_value(x: Column, y: Column) -> Column:
    """Interleaved-bits z-order value of two non-negative int columns
    (x's bit i -> bit 2i, y's bit i -> bit 2i+1): the sort key that keeps
    BOTH columns' per-file min/max ranges tight after a range repartition
    + sort, so either column's predicate can skip files. Pure bit algebra
    (shiftright/bitwise AND/shiftleft, summed) — ANSI-safe: with Z_BITS<=31
    every intermediate fits an int64 without overflow. Values outside
    [0, 2^Z_BITS) must be range-clamped or bucketed by the caller first
    (standard z-order practice: z-order the BUCKETS, not raw values)."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        xb = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
        yb = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(xb, 2 * i) + F.shiftleft(yb, 2 * i + 1)
    return z


def plan_compaction(file_stats: DataFrame, target_bytes: int) -> DataFrame:
    """Small-file compaction plan (the Iceberg `rewrite_data_files` binpack
    maintenance op) over (partition, file_id, bytes) file stats: within
    each partition, files under ``target_bytes`` are grouped CONTIGUOUSLY in file order into
    ~target-byte rewrite groups — group = floor(preceding-small-bytes /
    target), the same prefix-sum binning as pack_sequences but keyed by
    partition, so the window is `partitionBy(partition)` and every stage
    stays parallel (no SinglePartition global sort; a 10^6-partition table
    plans in one shuffle of its file-stats rows). Files at or over the
    target keep ``compaction_group`` NULL — already big enough, leave
    them alone. Contiguity in file order preserves whatever clustering
    (z-order, time) the files already have."""
    is_small = F.col("bytes") < F.lit(target_bytes)
    w = (
        Window.partitionBy("partition")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(
        F.sum(F.when(is_small, F.col("bytes"))).over(w), F.lit(0)
    )
    return file_stats.select(
        "*",
        is_small.alias("is_small"),
        F.when(is_small, (before / F.lit(target_bytes)).cast("long"))
        .alias("compaction_group"),
    )


# --------------------------------------------------------------------------
# q101/q102: data-layout operators — min/max file skipping, z-order values
# --------------------------------------------------------------------------


def q101_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping gate: lineitem split into 50 synthetic 'files'
    (l_orderkey mod 50), per-file min/max(l_extendedprice) stats, then the
    skip/scan plan for BETWEEN 20000 AND 30000 — with the SOUNDNESS
    invariant in the result: every file's actual in-range match count
    rides along, and a skipped file must show zero (the oracle recomputes
    stats, plan, and counts from the raw rows)."""
    lo, hi = 20000.0, 30000.0
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy((F.col("l_orderkey") % 50).alias("file_id")).agg(
        F.min("l_extendedprice").alias("min_v"),
        F.max("l_extendedprice").alias("max_v"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.col("l_extendedprice").between(lo, hi).cast("long")
        ).alias("n_matching"),
    )
    plan = file_skip_plan(stats, lo, hi)
    return plan.select(
        "file_id",
        "action",
        "reason",
        "n_rows",
        "n_matching",
        ((F.col("action") == "scan") | (F.col("n_matching") == 0)).alias("sound"),
    )


Q101_SQL = """
WITH s AS (
  SELECT l_orderkey % 50 AS file_id,
         MIN(l_extendedprice) AS min_v,
         MAX(l_extendedprice) AS max_v,
         COUNT(*) AS n_rows,
         SUM(CASE WHEN l_extendedprice BETWEEN 20000 AND 30000
                  THEN 1 ELSE 0 END) AS n_matching
  FROM lineitem GROUP BY 1)
SELECT file_id,
       CASE WHEN max_v < 20000 OR min_v > 30000 THEN 'skip'
            ELSE 'scan' END AS action,
       CASE WHEN max_v < 20000 THEN 'entirely_below'
            WHEN min_v > 30000 THEN 'entirely_above'
            ELSE 'overlaps' END AS reason,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_matching AS BIGINT) AS n_matching,
       (NOT (max_v < 20000 OR min_v > 30000)) OR n_matching = 0 AS sound
FROM s
"""


def q102_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order gate: interleaved-bits z-values over two bucketed customer
    dimensions (custkey mod 256, nationkey — both < 2^8), plus the
    per-z-octant counts a range repartition would use. The oracle rebuilds
    the interleave with the same shift/AND arithmetic in SQL — bit-exact,
    and the octant histogram pins the clustering behavior, not just the
    per-row math."""
    c = _t(spark, sf_dir, "customer")
    z = z_value(F.col("c_custkey") % 256, F.col("c_nationkey"))
    return c.select(
        "c_custkey",
        z.alias("z"),
        F.shiftright(z, 13).alias("z_octant"),
    )


Q102_SQL = """
SELECT c_custkey,
       CAST({z} AS BIGINT) AS z,
       CAST({z} AS BIGINT) >> 13 AS z_octant
FROM customer
""".format(
    z=" + ".join(
        f"((((c_custkey % 256) >> {i}) & 1) << {2 * i})"
        f" + (((c_nationkey >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
)


# --------------------------------------------------------------------------
# q103: small-file compaction planning (Iceberg maintenance shape)
# --------------------------------------------------------------------------


def q103_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction-plan gate: lineitem as a 7-partition × ~50-file layout
    with synthetic per-file byte sizes (row count × 100, every 9th file
    ×100 bigger — the planted 'already big' files that must come out with
    a NULL group). The contiguous prefix-sum grouping must match DuckDB's
    window-cumsum restatement exactly, per partition."""
    li = _t(spark, sf_dir, "lineitem")
    files = li.groupBy(
        (F.col("l_orderkey") % 7).alias("partition"),
        (F.col("l_orderkey") % 50).alias("file_id"),
    ).agg(
        (
            F.count(F.lit(1))
            * F.when(F.col("file_id") % 9 == 0, 10000).otherwise(100)
        ).alias("bytes")
    )
    plan = plan_compaction(files, target_bytes=40_000)
    return plan.select(
        "partition", "file_id", "bytes", "is_small", "compaction_group"
    )


Q103_SQL = """
WITH f AS (
  SELECT l_orderkey % 7 AS partition, l_orderkey % 50 AS file_id,
         COUNT(*) * (CASE WHEN (l_orderkey % 50) % 9 = 0
                          THEN 10000 ELSE 100 END) AS bytes
  FROM lineitem GROUP BY 1, 2),
p AS (
  SELECT partition, file_id, bytes,
         (bytes < 40000) AS is_small,
         COALESCE(SUM(CASE WHEN bytes < 40000 THEN bytes END) OVER (
             PARTITION BY partition ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_b
  FROM f)
SELECT partition, file_id, CAST(bytes AS BIGINT) AS bytes, is_small,
       CASE WHEN is_small
            THEN CAST(before_b // 40000 AS BIGINT) END AS compaction_group
FROM p
"""
