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

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _shared_clip_fixture, _t
from baskerville_spark.generator import GenConfig

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


# --------------------------------------------------------------------------
# q74/q75: metadata-consistency checks over a CLOSED-FORM clip-metadata table
# (every column is pure mod arithmetic on the row index, so DuckDB rebuilds
# the identical table from generate_series — the q21 oracle pattern without
# the rng-dependent columns).
# --------------------------------------------------------------------------

_META_N = 2000  # 4 partitions x 500 rows


def _meta_clips(spark: SparkSession):
    """Closed-form clip-metadata table: (clip_id, byte_len, sr_hz, dur_ms,
    codec, transcript, part_id). dur_ms NULL on i%23==11 (non-checkable
    path); pcm byte_len corrupted on i%41==3; flac/opus byte_len arbitrary
    (no fixed-rate contract)."""
    i = F.col("id")
    sr = F.element_at(
        F.array(*[F.lit(x) for x in (8000, 16000, 22050, 44100, 48000)]),
        ((i % 5) + 1).cast("int"),
    )
    true_dur = (F.lit(100) + (i * 37) % 900).cast("int")
    dur = F.when(i % 23 == 11, F.lit(None).cast("int")).otherwise(true_dur)
    codec = (
        F.when(i % 7 == 0, F.lit("flac"))
        .when(i % 7 == 3, F.lit("opus"))
        .otherwise(F.lit("pcm_s16le"))
    )
    expected = (F.floor(sr.cast("bigint") * true_dur / F.lit(1000)) * 2).cast("bigint")
    corrupt = F.when(i % 41 == 3, (i % 89) + 1).otherwise(F.lit(0)).cast("bigint")
    byte_len = F.when(codec == "pcm_s16le", expected + corrupt).otherwise(
        F.lit(50) + (i % 1000)
    )
    n_chars = (F.lit(5) + (i * 13) % 80).cast("int")
    return spark.range(_META_N).select(
        F.format_string("clip_%012d", i).alias("clip_id"),
        byte_len.cast("bigint").alias("byte_len"),
        sr.cast("int").alias("sr_hz"),
        dur.alias("dur_ms"),
        codec.alias("codec"),
        F.expr("repeat('a', 5 + cast((id*13) % 80 as int))").alias("transcript"),
        F.floor(i / F.lit(500)).cast("int").alias("part_id"),
        n_chars.alias("n_chars"),
    )


_META_CTE = f"""
WITH idx AS (SELECT unnest(generate_series(0, {_META_N - 1})) AS i),
m AS (
  SELECT
    printf('clip_%012d', i) AS clip_id,
    CAST([8000,16000,22050,44100,48000][CAST(i % 5 AS INT) + 1] AS BIGINT) AS sr_hz,
    CAST(100 + (i*37) % 900 AS BIGINT) AS true_dur,
    CASE WHEN i % 23 = 11 THEN NULL ELSE CAST(100 + (i*37) % 900 AS BIGINT) END AS dur_ms,
    CASE WHEN i % 7 = 0 THEN 'flac' WHEN i % 7 = 3 THEN 'opus'
         ELSE 'pcm_s16le' END AS codec,
    CAST(5 + (i*13) % 80 AS BIGINT) AS n_chars,
    CAST(i // 500 AS INT) AS part_id,
    i
  FROM idx),
meta AS (
  SELECT clip_id, sr_hz, dur_ms, codec, n_chars, part_id,
    CASE WHEN codec = 'pcm_s16le'
         THEN (sr_hz * true_dur) // 1000 * 2
              + (CASE WHEN i % 41 = 3 THEN (i % 89) + 1 ELSE 0 END)
         ELSE 50 + (i % 1000) END AS byte_len
  FROM m)
"""


def q74_payload_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload byte-length consistency (validation tier): fixed-rate codecs
    must satisfy len(bytes) == floor(sr*dur/1000)*bytes_per_sample; catches
    truncated uploads / lying headers without decoding. Pure Column
    arithmetic over the metadata projection — no payload scan, one filter,
    no shuffle (the violations listing is a map-side projection)."""
    return payload_byte_violations(_meta_clips(spark))


Q74_SQL = _META_CTE + """
SELECT part_id, clip_id, 'payload_bytes' AS check_name,
       byte_len,
       (sr_hz * dur_ms) // 1000 * 2 AS expected_bytes
FROM meta
WHERE codec = 'pcm_s16le' AND dur_ms IS NOT NULL
  AND byte_len <> (sr_hz * dur_ms) // 1000 * 2
"""


def q75_speaking_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speaking-rate plausibility verdicts: transcript chars/sec outside
    [20, 200] fails the partition (the cheap transcript-audio alignment
    screen run before any ASR verify). ONE conditional-sum aggregate keyed
    on part_id — verdict shape, exercising the verdicts path of
    speaking_rate_verdicts under the oracle (q74 covers the listing path)."""
    v = speaking_rate_verdicts(_meta_clips(spark))
    return v.select(
        "part_id",
        "check_name",
        F.col("passed").cast("int").alias("passed"),
        F.round("metric_value", 6).alias("violation_rate"),
        "n_rows",
        "n_violations",
    )


Q75_SQL = _META_CTE + """
, flags AS (
  SELECT part_id,
         (dur_ms IS NOT NULL) AS checkable,
         (dur_ms IS NOT NULL AND
          (n_chars / (dur_ms / 1000.0) < 20.0
           OR n_chars / (dur_ms / 1000.0) > 200.0)) AS violated
  FROM meta)
SELECT part_id, 'speaking_rate' AS check_name,
       CAST(SUM(CASE WHEN violated THEN 1 ELSE 0 END) = 0 AS INT) AS passed,
       ROUND(SUM(CASE WHEN violated THEN 1 ELSE 0 END)
             / greatest(SUM(CASE WHEN checkable THEN 1 ELSE 0 END), 1) * 1.0,
             6) AS violation_rate,
       CAST(SUM(CASE WHEN checkable THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN violated THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM flags GROUP BY part_id
"""


# --------------------------------------------------------------------------
# q143: partition-spill integrity — keys physically present in more than
# one table partition (partition_spill). Distinct from
# uniqueness q09/q42: a within-partition duplicate (the generator's
# dup-renamed rows share the SAME partition by construction) is NOT a
# spill; the check flags exactly the planted cross-partition copies. The
# corpus is the full 4-partition generator table plus a copy of every
# clip_id-suffix%23==11 row moved to the next partition. Oracle:
# closed-form over the generator's partition/dup arithmetic — a key is a
# violation iff its suffix is selected AND the key exists (dup-renamed
# indices have no canonical row of their own).
# --------------------------------------------------------------------------


def q143_partition_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = GenConfig(n_rows=1000, n_parts=4)
    clips_p, _ = _shared_clip_fixture(spark, cfg)
    # column-pruned parquet read of the shared fixture: the old
    # generate+persist path synthesized 1000 audio payloads just to take
    # (clip_id, part_id)
    clips = spark.read.parquet(clips_p).select("clip_id", "part_id")
    suffix = F.substring("clip_id", 6, 12).cast("int")
    spilled = clips.where(suffix % 23 == 11).withColumn(
        "part_id", (F.col("part_id") + 1) % 4
    )
    corpus = clips.unionByName(spilled)
    out = partition_spill(corpus, "clip_id", "part_id").persist()
    out.count()
    return out


Q143_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 999)) AS s),
fl AS (
  SELECT s, least(3, (s*4)//1000) AS part,
    (s > 0 AND s % 199 = 17
       AND least(3, (s*4)//1000) = least(3, ((s-1)*4)//1000)
       AND least(3, (s*4)//1000) <> 0) AS dup_renamed
  FROM idx)
SELECT printf('clip_%012d', s) AS clip_id,
       CAST(2 AS BIGINT) AS n_parts,
       CASE WHEN part = 3 THEN '0,3'
            ELSE CAST(part AS VARCHAR) || ',' || CAST(part + 1 AS VARCHAR)
       END AS parts
FROM fl
WHERE s % 23 = 11 AND NOT dup_renamed
"""


# --------------------------------------------------------------------------
# q144: out-of-order ingestion rate (out_of_order_stats)
# — per user, the fraction of events whose event time runs behind the
# running max of everything already ingested (ordered by event_id): the
# measured lateness a streaming watermark must absorb. A 2-day backdate is
# planted on every event_id%97==13 row (median per-user gap is ~7 h, so a
# planted row is late unless it is its user's first); both engines apply
# the identical mutation, so the late set needs no closed form. One
# key-partitioned window pass + one hash aggregate; no global sort.
# --------------------------------------------------------------------------


def q144_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_id") % 97 == 13,
            F.col("ts") - F.expr("INTERVAL 2 DAYS"),
        ).otherwise(F.col("ts")).alias("ts"),
    )
    return out_of_order_stats(ev, "user_id", "event_id", "ts")


Q144_SQL = """
WITH ev AS (
  SELECT user_id, event_id,
         CASE WHEN event_id % 97 = 13 THEN ts - INTERVAL 2 DAY ELSE ts END
           AS ts
  FROM events),
x AS (
  SELECT user_id, ts,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM ev),
a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN ts < prev_max THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late
  FROM x GROUP BY 1)
SELECT user_id, n_events, n_late,
       ROUND(CAST(n_late AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
         AS late_frac,
       ROUND(CAST(n_late AS DOUBLE) / CAST(n_events AS DOUBLE), 6) > 0.01
         AS flagged
FROM a
"""
