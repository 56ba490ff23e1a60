"""Per-row audio + transcript invariant, evaluated in Arrow-batched pandas UDFs.

The invariant (BASELINE.json input_hint): decoded PCM must match the
deterministic reference signal with SNR >= 30 dB, and the transcript must
equal the authoritative transcript. The reference's per-row analogs are all
row-at-a-time Python UDFs (SURVEY.md §2.9, e.g. udf_compute_geotime at
src/baskerville/spark/udfs.py:41-62) — forbidden here; we use
``mapInArrow`` (through ``audio.decode_pass``) so rows cross the
JVM/Python boundary in Arrow record batches (capped by
spark.sql.execution.arrow.maxRecordsPerBatch, see session.py — audio
payloads make batch sizing a memory-safety issue).

Scale notes:
- The transcript dim is joined BEFORE the decode stage with a broadcast (or
  AQE-chosen) equi-join, never looked up from Python.
- Decode is embarrassingly parallel; no shuffle. The only movement is the
  Arrow exchange. numpy work inside is per-clip vectorized.
- Output is narrow (booleans + floats) — payload bytes are dropped on the
  Python side and never re-serialized. ``transcript_ok`` is SQL in the
  projection in front of the pass and rides through it; the Python side
  only decodes. The result holds exactly the columns
  ``invariant_violations`` reads.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark import audio

INVARIANT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("snr_db", T.DoubleType(), True),
        T.StructField("snr_ok", T.BooleanType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("transcript_ok", T.BooleanType(), True),
    ]
)


def _snr_kernel(pcm: np.ndarray, clip_id: str, sr_hz: int | None) -> tuple:
    # reference signal regenerated deterministically from clip_id; sample
    # count inferred from the decoded payload (dur_ms may be null/bad —
    # that's the range check's job, not this one's)
    sr = int(sr_hz) if sr_hz is not None else 16000
    ref = audio.synth_pcm_n(clip_id, sr, len(pcm))
    s = audio.snr_db(ref, pcm)
    snr = 999.0 if s == float("inf") else s
    return snr, bool(s >= audio.SNR_THRESHOLD_DB)


def audio_invariant(
    clips: DataFrame,
    transcript_ref: DataFrame | None = None,
) -> DataFrame:
    """Evaluate the decode + transcript invariant; returns INVARIANT_RESULT rows.

    transcript_ok is null when the clip has no reference transcript (that
    case is the referential-integrity check's job, not this one's). The
    transcript dimension is broadcast into the join.
    """
    cols = ["part_id", "clip_id", "bytes", "sr_hz", "codec", "transcript"]
    df = clips.select(*cols)
    if transcript_ref is not None:
        dim = F.broadcast(transcript_ref.select("clip_id", "transcript_ref"))
        df = df.join(dim, on="clip_id", how="left")
        transcript_ok = (
            "IF(transcript_ref IS NULL, NULL, transcript <=> transcript_ref)"
        )
    else:
        transcript_ok = "CAST(NULL AS BOOLEAN)"
    # SQL text (checks/sqltext): transcript_ok is computed in the projection
    df = df.selectExpr(
        "part_id", "clip_id", "bytes", "sr_hz", "codec",
        f"{transcript_ok} AS transcript_ok",
    )
    return audio.decode_pass(
        df, INVARIANT_RESULT_SCHEMA, _snr_kernel, args=("clip_id", "sr_hz"),
        fail=(None, False),
    )


def invariant_violations(results: DataFrame) -> DataFrame:
    """Violation rows (part_id, clip_id, check_name, detail) from invariant
    results.

    Single scan: both violation kinds are emitted from one conditional-array
    explode so the (expensive) upstream decode plan is traversed once, not
    once per violation kind.
    """
    snr_struct = (
        "CASE WHEN NOT snr_ok THEN named_struct("
        "'check_name', CASE WHEN decode_ok THEN 'snr' ELSE 'decode_error' END,"
        " 'detail', concat('snr_db=', coalesce(CAST(round(snr_db, 2) AS STRING), 'nan'))"
        ") END"
    )
    tr_struct = (
        "CASE WHEN transcript_ok = FALSE THEN named_struct("
        "'check_name', 'transcript_eq', 'detail', 'transcript != transcript_ref'"
        ") END"
    )
    # SQL text: one py4j call where Column algebra took dozens (checks/sqltext)
    return results.selectExpr(
        "part_id",
        "clip_id",
        f"explode(filter(array({snr_struct}, {tr_struct}), x -> x IS NOT NULL)) AS v",
    ).select("part_id", "clip_id", "v.check_name", "v.detail")
