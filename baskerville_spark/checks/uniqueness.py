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
  unbounded, and THIS is where salted two-phase aggregation earns its keep
  — see ``salted_exemplars``: level 0 caps each (key, partition) group's
  list at k, levels 1 and 2 merge ≤ P/n_salt and ≤ n_salt bounded lists.
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


#: Largest dup_count the cold path buffers in one collect_list; above it
#: ``duplicate_exemplars`` takes the salted three-level path.
HOT_THRESHOLD = 200_000
#: exemplar ids ``duplicate_exemplars`` keeps per key, and its salt count
EXEMPLAR_K, EXEMPLAR_SALTS = 5, 16


def salted_exemplars(rows: DataFrame, key: str, id_col: str, k: int, n_salt: int) -> DataFrame:
    """(key, dup_count, exemplar_ids≤k) from the ``(key, id_col)`` rows of
    duplicated keys — salted THREE-level aggregation, the case where
    salting is load-bearing.

    collect_list state is unbounded on the reduce side, and a (key,
    pid % n_salt) group is NOT local to one input split — it merges partials
    from every split whose pid ≡ salt, so its reduce buffer would still hold
    ~dup_count/n_salt ids before any slice. Hence three levels, each with a
    hard buffer bound:

    - level 0 groups on (key, spark_partition_id()) AFTER a round-robin
      repartition of the (rare, slim) duplicated rows: every group lives
      entirely in one partition, so map-side partial aggregation fully
      reduces it there (buffer ≤ rows-per-partition) and the slice to k
      happens before any cross-partition merge. The repartition is
      LOAD-BEARING, not cosmetic: when the callers' count-first semi join
      plans as sort-merge (dup keys too numerous to broadcast), its output
      is hash-clustered BY KEY, so a raw spark_partition_id() would be
      constant per key and level 0 would collapse into one
      dup_count-sized buffer — the exact hazard this design exists to
      bound. Round-robin redistributes a hot key's rows across all
      partitions for the cost of one shuffle of the already-filtered
      (key, id) rows;
    - level 1 groups on (key, pid % n_salt): merges ≤ P/n_salt lists of ≤ k
      (P = #input splits);
    - level 2 groups on (key): merges ≤ n_salt lists of ≤ k.

    A key duplicated 10^9 times therefore never materializes more than
    max(split_rows, (P/n_salt)·k, n_salt·k) elements in any single buffer —
    unlike a two-level (key, salt) form, whose reduce side still
    concatenates ~dup_count/n_salt ids before the slice, or a row_number
    window, which serializes a hot key onto one reducer's external sort.

    "Smallest k" is exact: each level keeps its group's k smallest, and the
    global k smallest survive every level.
    """
    phase0 = (
        rows.repartition(rows.sparkSession.sparkContext.defaultParallelism)
        .withColumn("__pid", F.spark_partition_id())
        .groupBy(key, "__pid")
        .agg(
            F.slice(F.sort_array(F.collect_list(id_col)), 1, k).alias("partial_ids"),
            F.count(F.lit(1)).alias("partial_count"),
        )
    )
    phase1 = (
        phase0.withColumn("__salt", F.col("__pid") % n_salt)
        .groupBy(key, "__salt")
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("partial_ids"))), 1, k
            ).alias("partial_ids"),
            F.sum("partial_count").alias("partial_count"),
        )
    )
    return (
        phase1.groupBy(key)
        .agg(
            F.sum("partial_count").alias("dup_count"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("partial_ids"))), 1, k
            ).alias("exemplar_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def duplicate_exemplars(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """(key, dup_count, exemplar_ids≤EXEMPLAR_K) per duplicated key.

    COUNT-FIRST pre-filter (as in functions.dedup.exact_duplicates): an
    algebraic count finds the duplicated keys and a left_semi join
    restricts the collect_list levels of ``salted_exemplars`` to those
    rows only — on real tables duplicates are rare, so the list machinery
    sees a sliver of the data; the skewed semi join is AQE-splittable.

    ADAPTIVE: the pre-count's observed max group size decides the physical
    form. The three-level salted machinery exists to bound reduce buffers
    when a key is HOT; when the measured max dup_count is at most
    ``HOT_THRESHOLD`` (≤ a few MB of id strings in one buffer) it is pure
    overhead — the always-on form cost q42 a consistent ~2.9×. Cold path:
    ONE groupBy with a sliced collect_list, safe by the measured bound.
    Hot path: the count-first semi join, then ``salted_exemplars`` (the
    skew bench in docs/skew_r04 exercises exactly this branch via a
    10%-hot key, far over any sane threshold).
    """
    if df.isStreaming:
        raise ValueError(
            "duplicate_exemplars decides its physical form from an eager "
            "pre-count and cannot run on a streaming DataFrame"
        )
    slim = df.select(key, F.col(id_col).alias("__id"))
    # ONE materialized pre-aggregate (map-side combined, narrow key+count
    # rows — far smaller than the table) buys BOTH the plan decision and,
    # on the hot path, the dup-key filter: paying this aggregation twice
    # (eager max job + dup_keys in the returned plan) could in principle
    # DECIDE on different data than it EXECUTES on. Persisting the counts
    # makes decision and filter read the same materialization. The input
    # itself is assumed immutable between construction and execution (an
    # Iceberg snapshot / parquet dir — true for every validation run; a
    # source that grows a key from cold to hot mid-run would still execute
    # the cold single-shuffle plan over the larger group).
    counts = slim.groupBy(key).agg(F.count(F.lit(1)).alias("__c")).persist()
    max_c = counts.agg(F.max("__c")).first()[0]
    if max_c is None or max_c <= HOT_THRESHOLD:
        counts.unpersist()
        return (
            slim.groupBy(key)
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.slice(F.sort_array(F.collect_list("__id")), 1, EXEMPLAR_K).alias(
                    "exemplar_ids"
                ),
            )
            .where(F.col("dup_count") > 1)
            .select(key, "dup_count", "exemplar_ids")
        )
    # hot path: counts stays persisted — the returned plan's semi-join
    # reads the SAME materialization the decision did (freed by the
    # session's LRU / clearCache, as with every persisted intermediate)
    dup_keys = counts.where("__c > 1").select(F.col(key).alias("__dk"))
    # NULL-SAFE semi join: groupBy treats NULL as one group (a duplicated
    # NULL key IS a violation this check must report), but a plain equi
    # semi-join drops NULL keys — eqNullSafe keeps them, and Spark still
    # plans it as a hash join (EqualNullSafe is a supported join key).
    slim = slim.join(dup_keys, F.col(key).eqNullSafe(F.col("__dk")), "left_semi")
    return salted_exemplars(slim, key, "__id", EXEMPLAR_K, EXEMPLAR_SALTS)


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
