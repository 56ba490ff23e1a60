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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark import audio

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
