"""Payload/metadata consistency checks: codec byte-length and speaking rate.

Validation-tier siblings of the audio invariant (checks/invariants.py): where
the invariant decodes payloads to verify PCM content (SNR >= 30 dB), these
two checks verify that the *declared metadata* is mutually consistent —
catching truncated uploads, wrong-sample-rate headers, and transcripts that
cannot belong to their clip — WITHOUT decoding anything:

- **payload bytes**: for fixed-rate codecs (pcm_s16le: 2 bytes/sample) the
  payload length is determined by (sr_hz, dur_ms):
  ``expected = floor(sr_hz * dur_ms / 1000) * bytes_per_sample``. A mismatch
  means the payload was truncated/padded or the header lies. Analog of the
  reference's declared-schema sanity layer (log_parsers.py:173-250), lifted
  from "column exists/type" to a cross-column arithmetic invariant.
- **speaking rate**: transcript chars per second of audio
  (``n_chars / (dur_ms/1000)``) outside [MIN_CPS, MAX_CPS] flags
  transcript/clip pairings that are physically implausible (a 3-word
  transcript on a 30 s clip, a paragraph on 200 ms) — the cheap alignment
  screen run before any ASR-based verification.

Scale: both are pure Column arithmetic over the metadata projection — no
payload decode (the byte length rides in as a precomputed column,
``octet_length(bytes)`` or a parquet column statistic). Byte violations are
a filter with no shuffle; speaking-rate verdicts are one conditional-sum
shuffle keyed on part_id, identical in shape to stats_verdicts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bytes per sample for fixed-rate codecs; compressed codecs have no
#: closed-form length and are skipped (non-checkable, not violations).
FIXED_RATE_BPS = {"pcm_s16le": 2}
#: plausible transcript chars per second of audio
MIN_CPS, MAX_CPS = 20.0, 200.0


def expected_payload_bytes(
    sr_col: Column, dur_col: Column, bytes_per_sample: int
) -> Column:
    """floor(sr * dur / 1000) * bps — exact for sr*dur < 2^53 (true for any
    real sample rate x duration)."""
    return (
        F.floor(sr_col.cast("bigint") * dur_col.cast("bigint") / F.lit(1000))
        * F.lit(bytes_per_sample)
    ).cast("bigint")


def payload_byte_violations(df: DataFrame) -> DataFrame:
    """Violation rows: (part_id, clip_id, check_name, byte_len, expected_bytes)
    over the columns ``part_id, clip_id, byte_len, codec, sr_hz, dur_ms``."""
    expected = F.lit(None).cast("bigint")
    for codec, bps in FIXED_RATE_BPS.items():
        expected = F.when(
            F.col("codec") == codec,
            expected_payload_bytes(F.col("sr_hz"), F.col("dur_ms"), bps),
        ).otherwise(expected)
    checkable = (
        expected.isNotNull()
        & F.col("sr_hz").isNotNull()
        & F.col("dur_ms").isNotNull()
        & F.col("byte_len").isNotNull()
    )
    violated = F.col("byte_len").cast("bigint") != expected
    return df.where(checkable & violated).select(
        F.col("part_id").cast("int").alias("part_id"),
        F.col("clip_id"),
        F.lit("payload_bytes").alias("check_name"),
        F.col("byte_len").cast("bigint").alias("byte_len"),
        expected.alias("expected_bytes"),
    )


def speaking_rate_verdicts(df: DataFrame) -> DataFrame:
    """Per-partition speaking-rate plausibility verdicts (part_id,
    check_name, passed, metric_value, threshold, n_rows, n_violations) from
    one conditional-sum aggregate over ``part_id, transcript, dur_ms``. A
    row with a NULL transcript, a NULL duration or a zero duration is not
    checkable: it counts in neither ``n_rows`` nor ``n_violations``."""
    dur = F.col("dur_ms").cast("double")
    # a zero duration divides by NULL, not by 0: the aggregate evaluates
    # cps as a common subexpression ahead of the `checkable &` guard, and
    # under ANSI mode a division by zero fails the job
    cps = F.length(F.col("transcript")) / F.when(dur > 0, dur / F.lit(1000.0))
    checkable = (
        F.col("transcript").isNotNull() & F.col("dur_ms").isNotNull() & (dur > 0)
    )
    violated = (cps < F.lit(MIN_CPS)) | (cps > F.lit(MAX_CPS))
    return (
        df.groupBy(F.col("part_id").cast("int").alias("part_id"))
        .agg(
            F.sum(checkable.cast("long")).alias("n_rows"),
            F.sum((checkable & violated).cast("long")).alias("n_violations"),
        )
        .select(
            "part_id",
            F.lit("speaking_rate").alias("check_name"),
            (F.col("n_violations") == 0).alias("passed"),
            (F.col("n_violations") / F.greatest(F.col("n_rows"), F.lit(1)))
            .cast("double")
            .alias("metric_value"),
            F.lit(0.0).alias("threshold"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_violations").cast("long").alias("n_violations"),
        )
    )


def partition_spill(df: DataFrame, key_col: str, part_col: str) -> DataFrame:
    """Partition-key integrity: keys physically present in MORE THAN ONE
    table partition. Distinct from plain uniqueness (q09/q42: same key
    twice anywhere): a key duplicated WITHIN a partition is caught by any
    per-partition pass, but a key spilled ACROSS partitions silently
    breaks every per-partition contract the engine relies on — MERGE
    upserts touch one copy, incremental revalidation re-checks one
    partition and declares the key clean, partition-level retention
    deletes half a record. The reference's cache-key discipline assumes
    exactly this never happens (models/request_set_cache.py:207-251
    updates one row per key); this check makes the assumption a gated
    verdict.

    Scale shape: select(key, part).distinct() is the only shuffle that
    sees data (map-side combined; the projection is two narrow columns);
    the follow-up groupBy(key) sees at most |partitions| rows per key, so
    a hot key is bounded by partition count, never row count — no salting
    needed. Output: (key, n_parts, parts) with parts a sorted CSV both
    engines can derive.
    """
    pairs = df.select(
        F.col(key_col).alias("k"), F.col(part_col).alias("p")
    ).where(F.col(key_col).isNotNull() & F.col(part_col).isNotNull()).distinct()
    return (
        pairs.groupBy("k")
        .agg(
            F.countDistinct("p").cast("long").alias("n_parts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("p")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("parts"),
        )
        .where(F.col("n_parts") > 1)
        .select(F.col("k").alias(key_col), "n_parts", "parts")
    )


def out_of_order_stats(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    ts_col: str,
) -> DataFrame:
    """Ingestion-order QA: per key, the fraction of events whose event
    time runs BEHIND the running maximum of everything already ingested
    (ordered by the ingest sequence) — the out-of-order rate that decides
    whether a streaming watermark of a given lateness bound would have
    dropped data. The running-max comparison catches ANY regression, not
    just adjacent inversions (an event 3 steps late with in-order
    neighbours still flags). Reference lineage: the time-bucket pipeline
    assumes in-order micro-batches outright (models/base_spark.py
    time_bucket grouping); this check turns that assumption into a gated
    verdict before the windowed checks rely on it.

    Scale shape: one window pass partitioned by key ordered by the
    sequence (no global sort — each key sorts independently inside its
    hash partition), then one hash aggregate per key. NULL ts never
    counts as late (NULL < x is NULL -> 0) and never advances the
    running max. The same holds for a NULL sequence: such a row has no
    place in the ingest order (the ascending window sorts it first), so
    it never counts as late and its ts never enters the running max; it
    still counts in n_events. Returns (key, n_events, n_late, late_frac,
    flagged); a key is flagged when more than 1% of its events are late.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sequenced = F.col(seq_col).isNotNull()
    running_max = F.max(F.when(sequenced, F.col(ts_col))).over(w)
    late = F.when(sequenced & (F.col(ts_col) < running_max), 1).otherwise(0)
    frac = F.round(
        F.col("n_late").cast("double") / F.col("n_events").cast("double"), 6
    )
    return (
        df.select(key_col, seq_col, ts_col)
        .withColumn("__late", late)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__late").alias("n_late"),
        )
        .select(
            key_col,
            "n_events",
            "n_late",
            frac.alias("late_frac"),
            (frac > F.lit(0.01)).alias("flagged"),
        )
    )
