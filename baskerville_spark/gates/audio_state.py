"""Mergeable DECODE state: incremental audio QA without re-decoding.

The payload analog of checks/stats_state.py. At 10^12 clips the decode
pass (mapInArrow over the binary column) is the dominant cost of every
validation run; the reference re-reads and re-featurizes its whole window
per cycle (src/baskerville/models/base_spark.py:445-458, and every audio
check in this repo's q82-q92 family decodes the clips it touches). This
module decodes each ingest batch EXACTLY ONCE and keeps what table-level
audio QA needs as a tiny mergeable state row per (group × batch):

- n_clips / n_decoded / n_failed: long counts,
- total_samples: exact long sum of decoded PCM lengths,
- clipped_samples: exact long count of full-scale samples (|x| >= 32767 —
  the int16 rails; digital clipping detector),
- sum_abs: sum of |sample| as DECIMAL(38,0). Deliberately NOT long:
  a clip bounded by 32768·n_samples can reach ~8e8 per second of audio,
  so a long overflows at ~10^10 clip-seconds — real table scale. Decimal
  addition is exact and associative, so merging stays bit-exact (ANSI mode
  would fail loudly either way; decimal moves the ceiling out of reach).

All fields merge by plain addition — ``merge(state(A), state(B)) ==
state(A ∪ B)`` bit-exactly for disjoint batches (asserted in
tests/test_checks.py). Loudness means, clipping rates and duty-cycle
ratios derive from the merged row; settled clips are never re-decoded.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import baskerville_spark.generator as g
from baskerville_spark import audio
from baskerville_spark.gates.fixtures import _shared_clip_fixture
from baskerville_spark.generator import GenConfig

__all__ = ["decode_state", "merge_decode_states"]

_PER_CLIP_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("clipped_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
    ]
)

# what a clip that fails to decode contributes to the state sums
_STATE_FAIL = (0, 0, 0)


def _state_kernel(pcm: np.ndarray) -> tuple[int, int, int]:
    """(n_samples, clipped_samples, sum_abs) of one decoded clip."""
    a = np.abs(pcm.astype(np.int32))  # |-32768| overflows int16
    return len(pcm), int(np.count_nonzero(a >= 32767)), int(a.sum(dtype=np.int64))


def decode_state(clips: DataFrame) -> DataFrame:
    """ONE decode pass over ``clips`` -> one mergeable state row per part_id.

    Plan shape: projection(part_id, bytes, codec) → mapInArrow (no shuffle;
    payloads never cross an exchange) → single hash aggregate of narrow
    longs (map-side partials). The state row is O(partitions), not O(clips).
    Decode success follows ``audio.decode_pass`` — the rule the invariant
    reports — so an empty payload counts as failed on both paths.
    """
    per_clip = audio.decode_pass(
        clips.select("part_id", "bytes", "codec"), _PER_CLIP_SCHEMA,
        _state_kernel, fail=_STATE_FAIL,
    )
    return per_clip.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("n_failed"),
        F.sum("n_samples").alias("total_samples"),
        F.sum("clipped_samples").alias("clipped_samples"),
        F.sum(F.col("sum_abs").cast("decimal(38,0)")).alias("sum_abs"),
    )


def merge_decode_states(states: DataFrame) -> DataFrame:
    """Fold decode-state rows per ``part_id`` by plain addition — exact for
    every field (longs; sum_abs is decimal so the fold cannot overflow at
    table scale)."""
    out = states.groupBy("part_id").agg(
        F.sum("n_clips").alias("n_clips"),
        F.sum("n_decoded").alias("n_decoded"),
        F.sum("n_failed").alias("n_failed"),
        F.sum("total_samples").alias("total_samples"),
        F.sum("clipped_samples").alias("clipped_samples"),
        F.sum("sum_abs").alias("sum_abs"),
    )
    # Spark widens decimal sums (38,0)->(38,0) capped at max precision; pin
    # the declared type so merged and direct states compare schema-equal.
    return out.withColumn("sum_abs", F.col("sum_abs").cast("decimal(38,0)"))


# --------------------------------------------------------------------------
# q122: mergeable DECODE state (decode_state) — the payload analog
# of q119/q121: each ingest batch is decoded EXACTLY ONCE (mapInArrow, no
# payload shuffle) into a tiny additive state row; folding three batch
# states must equal the one-pass state bit-for-bit (counts, exact sample
# totals, clipping counters, decimal |PCM| sum). Oracle: the generator's
# plants are closed-form — decode failures are exactly the drift
# partition's mp3-codec rows (generator.py MP3_MOD/MP3_OFF, the q21
# derivation) — plus bounded-verdict booleans for the DSP fields DuckDB
# cannot decode (the FIXTURES.md §closed-form-audio pattern).
# --------------------------------------------------------------------------


def q122_audio_decode_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = GenConfig(n_rows=1000, n_parts=4)
    clips_p, _ = _shared_clip_fixture(spark, cfg)
    clips = spark.read.parquet(clips_p)
    # three disjoint ingest batches (hash-split; pmod — xxhash64 is signed)
    batch_states = [
        decode_state(
            clips.where(F.pmod(F.xxhash64("clip_id"), F.lit(3)) == i)
        )
        for i in range(3)
    ]
    st = batch_states[0]
    for b in batch_states[1:]:
        st = st.unionByName(b)
    merged = merge_decode_states(st).alias("m")
    direct = decode_state(clips).alias("d")
    res = merged.join(direct, "part_id").select(
        F.col("part_id").cast("int").alias("part_id"),
        F.col("m.n_clips").alias("n_clips"),
        F.col("m.n_failed").alias("n_failed"),
        (F.col("m.n_decoded") == F.col("d.n_decoded")).alias("decoded_match"),
        (F.col("m.total_samples") == F.col("d.total_samples")).alias(
            "samples_match"
        ),
        (F.col("m.clipped_samples") == F.col("d.clipped_samples")).alias(
            "clipped_match"
        ),
        (F.col("m.sum_abs") == F.col("d.sum_abs")).alias("sum_abs_match"),
    )
    out = res.persist()
    out.count()
    return out


def _q122_sql() -> str:
    """Closed-form expected decode-state summary: per-part row counts from
    the contiguous block assignment of the gate's 1000 rows over 4 parts;
    decode failures are exactly the drift partition's mp3 rows (codec
    unseen by every decoder). The DSP fields are engine-side bounded
    verdicts (TRUE = merged fold equals the one-pass state)."""
    n_rows, n_parts = 1000, 4
    last = n_parts - 1
    p_of = f"least({last}, (i*{n_parts})//{n_rows})"
    return f"""
WITH idx AS (SELECT unnest(generate_series(0, {n_rows - 1})) AS i),
fl AS (
  SELECT CAST({p_of} AS INT) AS part_id,
         ({p_of} = {last} AND i % {g.SNR_MOD} != {g.SNR_OFF}
            AND i % {g.MP3_MOD} = {g.MP3_OFF}) AS mp3
  FROM idx)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT) AS n_clips,
       CAST(SUM(CASE WHEN mp3 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
       TRUE AS decoded_match,
       TRUE AS samples_match,
       TRUE AS clipped_match,
       TRUE AS sum_abs_match
FROM fl GROUP BY part_id
"""


Q122_SQL = _q122_sql()
