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

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import (
    _gate_tmp_detach,
    _q21_sql,
    _shared_clip_fixture,
    _t,
    _verdict_grid,
)
from baskerville_spark.generator import GenConfig
from baskerville_spark.runtime import manifest as manifest_mod
from baskerville_spark.runtime.runner import ValidationConfig, run_resumable

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


# --------------------------------------------------------------------------
# q94: snapshot content diff — which partitions changed between snapshots
# --------------------------------------------------------------------------


def q94_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff gate: snapshot B is events with deterministic edits —
    two users' rows dropped (changes their partitions), one user's error
    values bumped (changes its partition), one whole partition dropped
    (removed), one synthetic partition appended (added). The signature diff
    (count + xor + modular-sum of full-row xxhash64, one agg pass per
    snapshot) must classify every partition exactly as DuckDB's literal
    multiset comparison does."""
    e = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(12)).cast("int").alias("part"),
        "user_id",
        "event_type",
        "value",
    )
    a = e
    bumped = (F.col("event_type") == "error") & (F.col("user_id") % 103 == 5)
    b_mod = e.where(
        (F.col("user_id") % 101 != 7) & (F.col("part") != 9)
    ).withColumn(
        "value", F.when(bumped, F.col("value") + 1).otherwise(F.col("value"))
    )
    b_new = e.where(F.col("user_id") % 97 == 11).withColumn(
        "part", F.lit(12).cast("int")
    )
    b = b_mod.unionByName(b_new)
    d = snapshot_diff(a, b, "part", hash_cols=["user_id", "event_type", "value"])
    return d.select("partition", "status", "n_rows_a", "n_rows_b")


Q94_SQL = """
WITH e AS (
  SELECT CAST(user_id % 12 AS INT) AS part, user_id, event_type, value
  FROM events),
a AS (SELECT * FROM e),
b AS (
  SELECT part, user_id, event_type,
         CASE WHEN event_type = 'error' AND user_id % 103 = 5
              THEN value + 1 ELSE value END AS value
  FROM e WHERE user_id % 101 <> 7 AND part <> 9
  UNION ALL
  SELECT CAST(12 AS INT) AS part, user_id, event_type, value
  FROM e WHERE user_id % 97 = 11),
u AS (
  SELECT part, user_id, event_type, value, SUM(in_a) AS na, SUM(in_b) AS nb
  FROM (
    SELECT part, user_id, event_type, value, 1 AS in_a, 0 AS in_b FROM a
    UNION ALL
    SELECT part, user_id, event_type, value, 0 AS in_a, 1 AS in_b FROM b)
  GROUP BY part, user_id, event_type, value),
p AS (
  SELECT part, SUM(na) AS tot_a, SUM(nb) AS tot_b,
         SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS n_mismatch
  FROM u GROUP BY part)
SELECT part AS partition,
       CASE WHEN tot_a = 0 THEN 'added'
            WHEN tot_b = 0 THEN 'removed'
            WHEN n_mismatch > 0 THEN 'changed'
            ELSE 'unchanged' END AS status,
       CASE WHEN tot_a = 0 THEN NULL ELSE CAST(tot_a AS BIGINT) END AS n_rows_a,
       CASE WHEN tot_b = 0 THEN NULL ELSE CAST(tot_b AS BIGINT) END AS n_rows_b
FROM p
"""


# --------------------------------------------------------------------------
# q95: snapshot-diff-driven incremental revalidation (the 10^12-row story:
# the table moved under a finished run; revalidate ONLY what changed)
# --------------------------------------------------------------------------


def q95_incremental_revalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol gate composing snapshot_diff with the resumable runtime.

    Snapshot A (1000 rows x 4 parts) is fully validated. Snapshot B is the
    generator's output for 1250 rows x 5 parts — by the generator's
    contiguous block partitioning, parts 0-2 are row-identical to A, part 3
    changes (the drift flag moves from part 3 to the new last part), and
    part 4 is new. The protocol:
      1. full run over A (manifest marks 0-3),
      2. snapshot_diff(A, B) -> revalidate exactly [3 changed, 4 added],
      3. invalidate part 3's manifest mark, run_resumable over B ->
         processes exactly [3, 4], dynamic partition overwrite replaces
         part 3's stale verdicts,
      4. idempotence: a third run finds nothing pending.
    The combined verdict grid (parts 0-2 from run A + 3-4 from run B) must
    equal the from-scratch closed-form oracle for snapshot B — incremental
    revalidation loses nothing, duplicates nothing, and never re-reads the
    unchanged 3/5 of the table (the diff itself is one narrow signature
    agg per snapshot; no payload ever shuffles)."""
    cfg_a = GenConfig(n_rows=1000, n_parts=4)
    cfg_b = GenConfig(n_rows=1250, n_parts=5)
    tmp = tempfile.mkdtemp(prefix="bsk_q95_")
    # both snapshots are session-shared read-only fixtures (A is the same
    # table q21/q61 validate); manifest/out stay private to this gate
    a_p, tref_a = _shared_clip_fixture(spark, cfg_a)
    b_p, tref_b = _shared_clip_fixture(spark, cfg_b)
    man_p, out_p = f"{tmp}/manifest", f"{tmp}/out"

    run_a = run_resumable(spark, a_p, man_p, out_p, tref_a,
                          cfg=ValidationConfig())
    if run_a != [0, 1, 2, 3]:
        raise RuntimeError(f"run A expected [0, 1, 2, 3], got {run_a}")

    hash_cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    affected = partitions_to_revalidate(
        spark.read.parquet(a_p), spark.read.parquet(b_p), "part_id", hash_cols
    )
    if affected != [3, 4]:
        raise RuntimeError(f"diff expected [3, 4], got {affected}")

    manifest_mod.invalidate_partitions(man_p, affected)
    run_b = run_resumable(spark, b_p, man_p, out_p, tref_b,
                          cfg=ValidationConfig())
    if run_b != [3, 4]:
        raise RuntimeError(f"run B expected [3, 4], got {run_b}")
    run_c = run_resumable(spark, b_p, man_p, out_p, tref_b,
                          cfg=ValidationConfig())
    if run_c:
        raise RuntimeError(f"run C expected [], got {run_c}")

    verdicts = spark.read.parquet(f"{out_p}/verdicts")
    return _gate_tmp_detach(_verdict_grid(verdicts), tmp)


Q95_SQL = _q21_sql(n_rows=1250, n_parts=5)


# --------------------------------------------------------------------------
# q126: row-level snapshot diff drill-down — stage 2 of the incremental
# story. q94 (snapshot_diff) finds WHICH partitions changed shuffling only
# |partitions| signature rows; this gate drills into exactly those
# partitions (changed_parts pushed into both scans → partition pruning
# skips the settled 14/16 of the table) and emits per-KEY verdicts:
# added / removed / modified. Only narrow (partition, key, xxhash64) rows
# shuffle; output is bounded by the churn, not the table. Planted churn in
# parts {2,5} only: event_id%11==3 removed, surviving event_id%7==0 get a
# suffixed event_type (modified — event_type is non-null at every sf, so
# the modification can never be a value-level no-op), part-2 event_id%13==1
# re-keyed to -(event_id)-1 (added — negation can never collide with the
# non-negative id domain at ANY scale factor, unlike a fixed offset). The
# oracle derives the identical verdict set in closed form.
# --------------------------------------------------------------------------


def q126_row_level_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "part", F.pmod(F.col("user_id"), F.lit(16)).cast("int")
    )
    scoped = F.col("part").isin(2, 5)
    b = (
        e.filter(~(scoped & (F.col("event_id") % 11 == 3)))
        .withColumn(
            "event_type",
            F.when(
                scoped & (F.col("event_id") % 7 == 0),
                F.concat(F.col("event_type"), F.lit("_X")),
            ).otherwise(F.col("event_type")),
        )
        .unionByName(
            e.filter((F.col("part") == 2) & (F.col("event_id") % 13 == 1))
            .withColumn("event_id", -F.col("event_id") - F.lit(1))
        )
    )
    return row_level_diff(
        e, b, "part", ["event_id"], changed_parts=[2, 5]
    )


Q126_SQL = """
WITH e AS (
  SELECT CAST(user_id % 16 AS INT) AS part, event_id FROM events),
scoped AS (SELECT * FROM e WHERE part IN (2, 5))
SELECT part AS partition, CAST(event_id AS BIGINT) AS event_id,
       'removed' AS status
FROM scoped WHERE event_id % 11 = 3
UNION ALL
SELECT part, CAST(event_id AS BIGINT), 'modified'
FROM scoped WHERE event_id % 7 = 0 AND event_id % 11 <> 3
UNION ALL
SELECT part, CAST(-event_id - 1 AS BIGINT), 'added'
FROM scoped WHERE part = 2 AND event_id % 13 = 1
"""
