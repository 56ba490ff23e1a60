"""Per-row audio + transcript invariant, evaluated in Arrow-batched pandas UDFs.

The invariant (BASELINE.json input_hint): decoded PCM must match the
deterministic reference signal with SNR >= 30 dB, and the transcript must
equal the authoritative transcript. The reference's per-row analogs are all
row-at-a-time Python UDFs (SURVEY.md §2.9, e.g. udf_compute_geotime at
src/baskerville/spark/udfs.py:41-62) — forbidden here; we use
``mapInPandas`` so rows cross the JVM/Python boundary in Arrow record
batches (capped by spark.sql.execution.arrow.maxRecordsPerBatch, see
session.py — audio payloads make batch sizing a memory-safety issue).

Scale notes:
- The transcript dim is joined BEFORE the decode stage with a broadcast (or
  AQE-chosen) equi-join, never looked up from Python.
- Decode is embarrassingly parallel; no shuffle. The only movement is the
  Arrow exchange. numpy work inside is per-clip vectorized.
- Output is narrow (booleans + floats) — payload bytes are dropped on the
  Python side and never re-serialized.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
        # appended at the END (never mid-schema: positional consumers —
        # checkpointed state, Arrow batches — must keep old offsets valid).
        # byte_len + echoed metadata make the result self-sufficient for the
        # payload byte-consistency check WITHOUT a clip_id join back to the
        # metadata projection — clip_id is NOT unique (duplicate injection is
        # what the uniqueness check detects), so such a join cross-matches
        # dup rows and fabricates violations.
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        # decode-QA state fields (checks/audio_state.py) — ride the SAME
        # decode pass so emit_audio_states costs no extra payload IO;
        # appended at the END per the positional-consumer rule above.
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("clipped_samples", T.LongType(), False),
        T.StructField("sum_abs", T.LongType(), False),
    ]
)


_ARROW_OUT = pa.schema(
    [
        pa.field("part_id", pa.int32()),
        pa.field("clip_id", pa.string()),
        pa.field("snr_db", pa.float64()),
        pa.field("snr_ok", pa.bool_()),
        pa.field("decode_ok", pa.bool_()),
        pa.field("transcript_ok", pa.bool_()),
        pa.field("byte_len", pa.int64()),
        pa.field("sr_hz", pa.int32()),
        pa.field("dur_ms", pa.int32()),
        pa.field("codec", pa.string()),
        pa.field("n_samples", pa.int64()),
        pa.field("clipped_samples", pa.int64()),
        pa.field("sum_abs", pa.int64()),
    ]
)


def _check_arrow_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-native check loop: no pandas materialization, payload bytes are
    zero-copy slices of the Arrow buffer until decode."""
    for b in batches:
        payloads = b.column(b.schema.get_field_index("bytes"))
        codecs = b.column(b.schema.get_field_index("codec")).to_pylist()
        srs = b.column(b.schema.get_field_index("sr_hz")).to_pylist()
        clip_ids = b.column(b.schema.get_field_index("clip_id")).to_pylist()
        transcripts = b.column(b.schema.get_field_index("transcript")).to_pylist()
        trefs = b.column(b.schema.get_field_index("transcript_ref")).to_pylist()
        part_ids = b.column(b.schema.get_field_index("part_id"))

        n = len(b)
        snr_dbs: list[float | None] = [None] * n
        snr_oks: list[bool] = [False] * n
        decode_oks: list[bool] = [False] * n
        transcript_oks: list[bool | None] = [None] * n
        n_samps: list[int] = [0] * n
        clippeds: list[int] = [0] * n
        sum_abss: list[int] = [0] * n
        for i in range(n):
            pv = payloads[i]
            payload = pv.as_py() if pv.is_valid else None
            pcm = (
                audio.decode(payload, codecs[i]) if payload is not None else None
            )
            if pcm is not None and len(pcm) > 0:
                a = np.abs(pcm.astype(np.int32))  # |-32768| overflows int16
                n_samps[i] = len(pcm)
                clippeds[i] = int(np.count_nonzero(a >= 32767))
                sum_abss[i] = int(a.sum(dtype=np.int64))
                sr = int(srs[i]) if srs[i] is not None else 16000
                # reference signal regenerated deterministically from clip_id;
                # sample count inferred from the decoded payload (dur_ms may
                # be null/bad — that's the range check's job, not this one's)
                ref = audio.synth_pcm_n(clip_ids[i], sr, len(pcm))
                s = audio.snr_db(ref, pcm)
                snr_dbs[i] = 999.0 if s == float("inf") else s
                snr_oks[i] = bool(s >= audio.SNR_THRESHOLD_DB)
                decode_oks[i] = True
            if trefs[i] is not None:
                transcript_oks[i] = bool(transcripts[i] == trefs[i])
        yield pa.RecordBatch.from_arrays(
            [
                part_ids.cast(pa.int32()),
                pa.array(clip_ids, pa.string()),
                pa.array(snr_dbs, pa.float64()),
                pa.array(snr_oks, pa.bool_()),
                pa.array(decode_oks, pa.bool_()),
                pa.array(transcript_oks, pa.bool_()),
                # payload length rides out of the SAME pass that decodes —
                # an O(1) offsets difference per row (pyarrow kernel), no
                # extra payload IO; feeds the byte-consistency check
                pc.cast(pc.binary_length(payloads), pa.int64()),
                pc.cast(b.column(b.schema.get_field_index("sr_hz")), pa.int32()),
                pc.cast(b.column(b.schema.get_field_index("dur_ms")), pa.int32()),
                pc.cast(b.column(b.schema.get_field_index("codec")), pa.string()),
                pa.array(n_samps, pa.int64()),
                pa.array(clippeds, pa.int64()),
                pa.array(sum_abss, pa.int64()),
            ],
            schema=_ARROW_OUT,
        )


def audio_invariant(
    clips: DataFrame,
    transcript_ref: DataFrame | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Evaluate the decode + transcript invariant; returns INVARIANT_RESULT rows.

    transcript_ok is null when the clip has no reference transcript (that
    case is the referential-integrity check's job, not this one's).
    """
    cols = ["part_id", "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    df = clips.select(*cols)
    if transcript_ref is not None:
        dim = transcript_ref.select("clip_id", "transcript_ref")
        if broadcast_dim:
            dim = F.broadcast(dim)
        df = df.join(dim, on="clip_id", how="left")
    else:
        df = df.withColumn("transcript_ref", F.lit(None).cast("string"))
    return df.mapInArrow(_check_arrow_batches, schema=INVARIANT_RESULT_SCHEMA)


def invariant_violations(results: DataFrame) -> DataFrame:
    """Violation rows (VIOLATION_SCHEMA) from invariant results.

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
