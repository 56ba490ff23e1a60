"""Snapshot-level content diff: which partitions changed between two table
snapshots — the primitive that makes 10^12-row revalidation incremental.

The resumable runner (runtime/runner.py) skips partitions its manifest
already covers; this module answers the complementary question after the
TABLE moves underneath a finished run: given snapshot A (validated) and
snapshot B (current), which partitions were added, removed, or changed —
so only those re-enter the validation queue. On Iceberg the engine would
read both snapshots by id (`VERSION AS OF`); the diff below needs nothing
Iceberg-specific, only two scans.

Scale shape: ONE aggregation pass per snapshot producing a narrow
per-partition signature (row count + order-insensitive xor of full-row
xxhash64 + a modular hash sum as a second independent check — xor alone
cancels even-multiplicity duplicate rows, the sum disambiguates them),
then a full-outer join of two |partitions|-sized tables. Payload columns
hash where they live; nothing wide shuffles. Equal multisets always
produce equal signatures; unequal multisets collide only if BOTH the
64-bit xor and the modular sum collide simultaneously.

Reference seam: Baskerville re-scores everything a runtime window covers
(src/baskerville/models/engine.py processing loop); snapshot-diffing the
input table is the engine-native replacement at warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# modular row-hash sum: pmod keeps each term < 2^31, so even 10^12 rows
# sum to < 2^71... which overflows int64 — hence the decimal(38,0) cast
# BEFORE the sum (ANSI-safe headroom to ~10^26 rows).
_MOD = 1 << 31


def partition_signatures(df: DataFrame, part_col: str, hash_cols: list[str]) -> DataFrame:
    """(partition, n_rows, xor_sig, sum_sig) — one agg pass, narrow out."""
    h = F.xxhash64(*[F.col(c) for c in hash_cols])
    return df.groupBy(F.col(part_col).alias("partition")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("xor_sig"),
        F.sum(F.pmod(h, F.lit(_MOD)).cast("decimal(38,0)")).alias("sum_sig"),
    )


def snapshot_diff(a: DataFrame, b: DataFrame, part_col: str, hash_cols: list[str]) -> DataFrame:
    """Per-partition status between snapshots: 'added' (only in b),
    'removed' (only in a), 'changed' (both, different row multiset),
    'unchanged'. Row counts from both sides ride along (NULL where the
    side lacks the partition)."""
    sig_a = partition_signatures(a, part_col, hash_cols)
    sig_b = partition_signatures(b, part_col, hash_cols)
    j = sig_a.alias("a").join(
        sig_b.alias("b"), on=F.col("a.partition") == F.col("b.partition"), how="full_outer"
    )
    same = (
        (F.col("a.n_rows") == F.col("b.n_rows"))
        & (F.col("a.xor_sig") == F.col("b.xor_sig"))
        & (F.col("a.sum_sig") == F.col("b.sum_sig"))
    )
    return j.select(
        F.coalesce(F.col("a.partition"), F.col("b.partition")).alias("partition"),
        F.when(F.col("a.partition").isNull(), F.lit("added"))
        .when(F.col("b.partition").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        F.col("a.n_rows").alias("n_rows_a"),
        F.col("b.n_rows").alias("n_rows_b"),
    )


def partitions_to_revalidate(
    a: DataFrame, b: DataFrame, part_col: str, hash_cols: list[str]
) -> list:
    """Partition keys needing (re)validation after A -> B: added or
    changed. Driver receives one row per affected partition — bounded by
    partition count (thousands at warehouse scale), never by data."""
    d = snapshot_diff(a, b, part_col, hash_cols)
    rows = d.where(F.col("status").isin("added", "changed")).select("partition").collect()
    return sorted(r.partition for r in rows)


def row_level_diff(
    a: DataFrame,
    b: DataFrame,
    part_col: str,
    key_cols: list[str],
    changed_parts: list,
) -> DataFrame:
    """Row-level drill-down inside partitions snapshot_diff already marked
    changed: WHICH rows were added, removed, or modified between A and B.

    The two-stage protocol is what makes 10^12-row diffing affordable:
    stage 1 (snapshot_diff / partitions_to_revalidate) touches every row
    once but shuffles only |partitions| signature rows; stage 2 — this
    function — re-reads ONLY the changed partitions (``changed_parts`` is
    pushed into both scans, so partition pruning skips everything else)
    and shuffles one narrow (partition, key, row-hash) tuple per surviving
    row. Payload columns are hashed where they live and never move. A
    full-outer join on (partition, key) then classifies each key:
    'added' (only in b), 'removed' (only in a), 'modified' (both sides,
    different row hash). Unmodified rows are dropped — output is bounded
    by the churn, not the table.

    Keys are assumed unique per snapshot within a partition (clip_id /
    event_id semantics — the same uniqueness the q09/q16 checks enforce);
    duplicate keys would multiply join rows, so run the uniqueness gate
    first. Keys and partition values are also assumed non-NULL (NULLs
    never equi-join, so a NULL-keyed row would surface as a spurious
    added+removed pair — run the completeness gate first, same as the
    reference's key discipline). The reference has no row-level diff at all: its engine
    re-scores whole runtime windows (src/baskerville/models/engine.py)
    and never asks what changed.
    """
    hash_cols = [c for c in a.columns if c != part_col and c not in key_cols]
    if not hash_cols:
        raise ValueError(
            "row_level_diff needs at least one payload column to hash; "
            "for a presence-only diff pass key-only snapshots instead"
        )
    a = a.where(F.col(part_col).isin(changed_parts))
    b = b.where(F.col(part_col).isin(changed_parts))
    h = F.xxhash64(*[F.col(c) for c in hash_cols])

    def slim(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(part_col).alias("partition"), *key_cols, h.alias("row_h")
        )

    cond = F.col("a.partition") == F.col("b.partition")
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    j = slim(a).alias("a").join(slim(b).alias("b"), on=cond, how="full_outer")
    status = (
        F.when(F.col("a.partition").isNull(), F.lit("added"))
        .when(F.col("b.partition").isNull(), F.lit("removed"))
        .when(F.col("a.row_h") != F.col("b.row_h"), F.lit("modified"))
    )
    out = j.select(
        F.coalesce(F.col("a.partition"), F.col("b.partition")).alias("partition"),
        *[
            F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
    )
    return out.where(F.col("status").isNotNull())
