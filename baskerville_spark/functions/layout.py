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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    from pyspark.sql import Window

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
