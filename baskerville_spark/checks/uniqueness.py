"""Uniqueness check on clip_id, with skew handled where it actually bites.

The reference has NO skew story (SURVEY.md §4: hot (target, ip) groups land
on one reducer unmitigated). The skew analysis here, validated by round-1
property tests and plan audits:

- **Counts (algebraic aggregates)**: Spark's partial aggregation (map-side
  combine) IS the mitigation — each input partition sends at most ONE
  partial row per key to its reducer, so a key duplicated 10^9 times costs
  its reducer ≤ #input-partitions rows. An explicit salt only adds a second
  shuffle (round 1 shipped the salted variant; the property tests proved it
  equal and the plan audit showed the extra exchange bought nothing).
- **List/set aggregates (non-algebraic state)**: reduce-side state is
  unbounded; that is where salting is load-bearing (``gates/uniqueness``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(
    df: DataFrame,
    key: str = "clip_id",
    scope_per_partition: bool = True,
) -> DataFrame:
    """Keys appearing more than once → (part_id?, key, dup_count).

    ONE shuffle on the key; map-side combine bounds the reducer's input for
    any skew, so the counts take no salt (see module docstring).
    ``scope_per_partition=True`` checks uniqueness within each table
    partition (the per-partition verdict unit); False globally.
    """
    group_final = ["part_id", key] if scope_per_partition else [key]
    return (
        df.select(*group_final)
        .groupBy(*group_final)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def uniqueness_violations(df: DataFrame, n_salt: int) -> DataFrame:
    """Violation rows (part_id, clip_id, check_name, detail) for clip_ids
    duplicated within a ``part_id``. ``n_salt`` is not read: the counts
    take no salt, and the benchmark's layer trace still passes it."""
    dups = duplicate_keys(df)
    # SQL text: one py4j call where Column algebra took dozens (checks/sqltext)
    return dups.selectExpr(
        "CAST(part_id AS INT) AS part_id",
        "clip_id",
        "'uniqueness' AS check_name",
        "concat('dup_count=', CAST(dup_count AS STRING)) AS detail",
    )
