"""Audio QA operators: per-clip kernels over one shared Arrow decode pass.

The standard audio-ingest QA trio — peak level, RMS level (both in dBFS,
full scale = 32768 for int16), and clipped-sample detection (|x| at full
scale) — plus spectral, DC, pitch, bandwidth, VAD and stereo screens, and
the payload rewrites (resample, downmix, trim, normalize, segment). Flags
the real-world ingest failures metadata checks can't see: silent uploads,
hot/clipped masters, gain-mismatched batches.

Every operator here is a per-clip numpy kernel plus one call into the
Arrow boundary in ``baskerville_spark.audio`` — the same decode discipline
as the SNR invariant (checks/invariants.py):

- ``decode_pass`` emits one narrow row per clip. Schema fields the input
  carries (``part_id``, ``clip_id``) pass through, cast to the declared
  type; a missing ``part_id`` becomes typed NULLs. ``decode_ok`` is True
  when the payload is non-NULL, decodes to at least one sample, and the
  kernel accepts the clip — the pitch kernel rejects ``len <= 2``, the
  balance kernel ``len < 2``. Rejected rows get ``fail``
  (all NULL here), so a failed clip is reported, never dropped.
- ``map_payloads`` rewrites or fans out rows with every other column
  carried; clips without decodable samples, and clips the kernel returns
  no rows for (all-silent trims, zero-length resamples), drop.

Missing input columns raise ValueError at call time. Silent clips report
NULL dBFS, never -inf (which breaks parquet/arrow round trips and every
downstream comparison).

Reference seam: Baskerville has no audio-signal operators (its features
are request-set statistics); this is a from-scratch extension for the
audio graft cell, gated analytically (q83: synthesized constant-level
clips whose exact dBFS/clipping counts are closed-form).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark import audio
from baskerville_spark.generator import PLANT_SCHEMA, planted_clip, rows_from_range

FULL_SCALE = 32768.0
CLIP_LEVEL = 32767  # |sample| >= this counts as clipped
SILENCE_LEVEL = 100  # |sample| <= this counts as silence
MIN_GAP = 64  # interior silence runs this long split utterances
BANDWIDTH_N_FFT = 256  # rFFT size of ``audio_bandwidth``
SPECTRAL_N_FFT = 256  # rFFT size of ``audio_spectral_features``
DC_SUSPECT_FRAC = 0.02  # |dc_frac| above which ``audio_dc_offset`` flags a clip


def _per_clip(clips: DataFrame, schema: T.StructType, kernel) -> DataFrame:
    """``audio.decode_pass`` over the clip's identity columns only, so an
    input that already carries a metric column (``n_samples`` on
    segmenter output) never shadows the kernel's own field."""
    audio.require_cols(clips, ("clip_id",))
    keys = [c for c in ("part_id", "clip_id", "codec", "bytes") if c in clips.columns]
    return audio.decode_pass(clips.select(*keys), schema, kernel)


def _dbfs(level: float) -> float | None:
    return 20.0 * np.log10(level / FULL_SCALE) if level > 0 else None


def _fft_window(pcm: np.ndarray, n_fft: int) -> np.ndarray:
    """First ``n_fft`` samples as float64, zero-padded when shorter."""
    x = pcm[:n_fft].astype(np.float64)
    return np.pad(x, (0, n_fft - len(x)))


def _utterance_spans(voiced: np.ndarray) -> list[tuple[int, int]]:
    """Voiced-to-voiced spans of the voiced sample indices, split at every
    interior silence run of >= ``MIN_GAP`` samples."""
    gaps = np.flatnonzero(np.diff(voiced) - 1 >= MIN_GAP)
    starts = np.concatenate([[0], gaps + 1])
    ends = np.concatenate([gaps, [len(voiced) - 1]])
    return [(int(voiced[a]), int(voiced[b]) + 1) for a, b in zip(starts, ends)]


def _voiced(pcm: np.ndarray) -> np.ndarray:
    return np.flatnonzero(np.abs(pcm.astype(np.int32)) > SILENCE_LEVEL)


LOUDNESS_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_clipped", T.LongType(), True),
        T.StructField("peak_dbfs", T.DoubleType(), True),
        T.StructField("rms_dbfs", T.DoubleType(), True),
    ]
)


def _loudness(pcm: np.ndarray) -> tuple:
    x = np.abs(pcm.astype(np.float64))
    rms = float(np.sqrt((x * x).mean()))
    return len(x), int((x >= CLIP_LEVEL).sum()), _dbfs(x.max()), _dbfs(rms)


def audio_loudness_stats(clips: DataFrame) -> DataFrame:
    """(part_id, clip_id, decode_ok, n_samples, n_clipped, peak_dbfs,
    rms_dbfs) — one decode per payload, narrow rows out."""
    return _per_clip(clips, LOUDNESS_SCHEMA, _loudness)


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("dominant_bin", T.IntegerType(), True),
        T.StructField("spectral_centroid", T.DoubleType(), True),
    ]
)


def audio_spectral_features(clips: DataFrame) -> DataFrame:
    """Per-clip spectral features over the first ``SPECTRAL_N_FFT`` samples
    (zero-pad shorter clips): ``dominant_bin`` = argmax rFFT magnitude over
    bins 1..n_fft/2 (DC excluded) and ``spectral_centroid`` = magnitude-weighted
    mean bin. The cheap frequency-content screen: silence/DC-only uploads,
    band-limited junk, and sr-mislabel suspects (content above the declared
    Nyquist) all show up here without a full spectrogram pipeline.

    One Arrow pass, one small numpy rFFT per clip (O(n_fft log n_fft) —
    constant per row, independent of clip length), narrow rows out.
    """
    n_fft = SPECTRAL_N_FFT  # read on the driver: the kernel ships its value

    def _spec(pcm: np.ndarray) -> tuple:
        mag = np.abs(np.fft.rfft(_fft_window(pcm, n_fft)))[1:]  # drop DC
        if mag.sum() <= 0:
            return len(pcm), None, None  # silent: bins stay NULL
        k = np.arange(1, len(mag) + 1, dtype=np.float64)
        return len(pcm), int(mag.argmax()) + 1, float((k * mag).sum() / mag.sum())

    return _per_clip(clips, SPECTRAL_SCHEMA, _spec)


DC_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("dc_mean", T.DoubleType(), True),
    ]
)


def _dc(pcm: np.ndarray) -> tuple:
    return len(pcm), float(pcm.astype(np.float64).mean())


def audio_dc_offset(clips: DataFrame) -> DataFrame:
    """Per-clip DC-bias QA: ``dc_mean`` (mean sample value, full scale
    32768), ``dc_frac`` (= dc_mean/32768) and ``dc_suspect``
    (|dc_frac| > ``DC_SUSPECT_FRAC``, 2% of full scale — the usual
    mastering tolerance). A DC-biased upload (asymmetric preamp, bad
    ADC coupling) halves usable headroom and poisons every downstream
    energy/VAD/FFT stat, yet is invisible to peak/RMS checks because the
    bias hides inside the RMS; this is the third leg of the ingest QA
    trio next to loudness (audio_loudness_stats) and frequency content
    (audio_spectral_features).

    One Arrow pass; only the decode-requiring scalar (the mean) crosses
    the UDF boundary — the normalized fraction and the policy flag are
    native Column algebra so the threshold never forces a re-decode.
    Reference seam: Baskerville has no audio-signal operators (its
    features are request-set statistics, features/feature_*.py); this is
    a from-scratch extension for the audio graft cell, gated analytically
    (q131: square-wave clips around a known bias, exact closed-form mean).
    """
    out = _per_clip(clips, DC_SCHEMA, _dc)
    dc_frac = F.col("dc_mean") / F.lit(FULL_SCALE)
    return out.withColumn("dc_frac", dc_frac).withColumn(
        "dc_suspect", F.abs(F.col("dc_frac")) > F.lit(DC_SUSPECT_FRAC)
    )


def audio_resample(clips: DataFrame, target_sr: int) -> DataFrame:
    """Resample payloads to ``target_sr`` by linear interpolation over the
    new time grid (new_n = n·target/orig, floor) in one Arrow pass,
    re-encoding under each row's codec and updating ``sr_hz``. A missing
    ``sr_hz`` column raises (it would otherwise read as "no data"); rows
    with a NULL or non-positive rate drop.

    HONEST DSP NOTE: linear interpolation with no anti-alias low-pass —
    content above the new Nyquist aliases, exactly like naive decimation.
    Real pipelines put soxr/librosa behind this seam (absent in this
    container); the op's Spark shape (decode→transform→encode in one
    mapInArrow, payloads never crossing a shuffle) is what's being built
    and gated. Integer downsample ratios are EXACT (the grid hits original
    samples), which is what the q85 gate exploits.
    """

    def _res(pcm: np.ndarray, codec: str, sr: int | None) -> list[dict]:
        if not sr or sr <= 0:
            return []
        n = len(pcm)
        new_n = (n * target_sr) // int(sr)
        if new_n <= 0:
            return []
        src_t = np.arange(n, dtype=np.float64)
        dst_t = np.arange(new_n, dtype=np.float64) * (int(sr) / target_sr)
        res = np.interp(dst_t, src_t, pcm.astype(np.float64))
        out_pcm = np.clip(np.rint(res), -32768, 32767).astype(np.int16)
        return [{"bytes": audio.encode(out_pcm, codec), "sr_hz": target_sr}]

    return audio.map_payloads(clips, _res, args=("codec", "sr_hz"))


def audio_downmix(clips: DataFrame) -> DataFrame:
    """Downmix interleaved stereo PCM to mono (per-frame mean,
    round-half-even) in one decode→transform→encode Arrow pass, preserving
    metadata. A trailing partial frame (stream length not divisible by the
    channel count) is truncated — the standard tolerant-reader behavior
    for corrupt interleaving. Rows that fail to decode are dropped.

    The clip schema (BASELINE input_hint) is mono — this is the
    ingest-side normalizer that FEEDS that schema from stereo masters.
    """

    def _mix(pcm: np.ndarray, codec: str) -> list[dict]:
        if len(pcm) < 2:
            return []
        frames = len(pcm) // 2
        x = pcm[: frames * 2].astype(np.float64)
        mono = np.rint(x.reshape(frames, 2).mean(axis=1))
        out_pcm = np.clip(mono, -32768, 32767).astype(np.int16)
        return [{"bytes": audio.encode(out_pcm, codec)}]

    return audio.map_payloads(clips, _mix, args=("codec",))


def audio_trim_silence(clips: DataFrame) -> DataFrame:
    """Strip leading/trailing samples with |x| <= ``SILENCE_LEVEL`` (the
    classic pre-ASR silence trim) in one decode→slice→encode Arrow pass.
    All-silent clips are dropped (nothing left to keep). Interior silence
    is untouched — this is an endpoint trim, not a VAD."""

    def _trim(pcm: np.ndarray, codec: str) -> list[dict]:
        loud = _voiced(pcm)
        if len(loud) == 0:
            return []
        return [{"bytes": audio.encode(pcm[loud[0]: loud[-1] + 1], codec)}]

    return audio.map_payloads(clips, _trim, args=("codec",))


def audio_normalize(clips: DataFrame) -> DataFrame:
    """Peak-normalize each payload to a 20000 peak (gain staging before
    training): decode -> gain = target/peak -> round -> clip -> re-encode,
    one Arrow pass, schema preserved. All-silent clips (peak 0) are dropped
    — there is no gain that normalizes silence. Peaks already at target are
    re-encoded unchanged (gain 1.0 rounds to identity).

    float64 gain keeps the round-trip exact where it matters: for any
    sample at the old peak the output is exactly 20000 (relative
    double error ~1e-12 « the 0.5 rounding window) — which is what the
    q90 gate pins through the real decode→scale→encode pipeline.
    """

    def _norm(pcm: np.ndarray, codec: str) -> list[dict]:
        peak = int(np.abs(pcm.astype(np.int32)).max())
        if peak == 0:
            return []
        gain = 20000.0 / peak
        out_pcm = np.clip(
            np.rint(pcm.astype(np.float64) * gain), -32768, 32767
        ).astype(np.int16)
        return [{"bytes": audio.encode(out_pcm, codec)}]

    return audio.map_payloads(clips, _norm, args=("codec",))


def audio_overlay(clips: DataFrame, overlays: DataFrame) -> DataFrame:
    """Mix two payload tables sample-wise by ``clip_id`` (noise overlay /
    data augmentation): inner-join, then one Arrow pass doing
    decode(a) + decode(b) over the common prefix (min length), saturating
    to int16, re-encoded under the base row's codec. Base metadata columns
    are preserved; rows where either side fails to decode are dropped.

    Scale shape: this is the one audio op where payloads legitimately meet
    a join. Both sides hash-partition on clip_id — the payload shuffle is
    unavoidable for arbitrary layouts, and disappears entirely when both
    tables are bucketed / Iceberg-storage-partitioned on clip_id (the
    design layout at 10^12 rows); the mix itself is map-side after the
    join, same as every other decode pass.
    """
    base = clips.withColumnRenamed("bytes", "__bytes_a")
    # the overlay's OWN codec rides through the join: decoding the overlay
    # payload with the base row's codec mis-reads mixed-codec pairs (pcm
    # base + flac overlay) into garbage with no error — round-4 advisor
    # finding. Overlay tables without a codec column inherit the base's.
    over = overlays.select(
        F.col("clip_id"),
        F.col("bytes").alias("__bytes_b"),
        (
            F.col("codec") if "codec" in overlays.columns
            else F.lit(None).cast("string")
        ).alias("__codec_b"),
    )
    joined = base.join(over, "clip_id")

    def _mix(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            tbl = b.to_pydict()
            keep, new_payloads = [], []
            for i in range(len(b)):
                codec = tbl["codec"][i]
                codec_b = tbl["__codec_b"][i] or codec
                pa_bytes, pb_bytes = tbl["__bytes_a"][i], tbl["__bytes_b"][i]
                xa = audio.decode(pa_bytes, codec) if pa_bytes is not None else None
                xb = audio.decode(pb_bytes, codec_b) if pb_bytes is not None else None
                if xa is None or xb is None or len(xa) == 0 or len(xb) == 0:
                    continue
                n = min(len(xa), len(xb))
                mixed = np.clip(
                    xa[:n].astype(np.int32) + xb[:n].astype(np.int32),
                    -32768,
                    32767,
                ).astype(np.int16)
                keep.append(i)
                new_payloads.append(audio.encode(mixed, codec))
            out = {
                name: [tbl[name][i] for i in keep]
                for name in tbl
                if name not in ("__bytes_a", "__bytes_b", "__codec_b")
            }
            out["bytes"] = new_payloads
            out_schema = pa.schema(
                [f for f in b.schema
                 if f.name not in ("__bytes_a", "__bytes_b", "__codec_b")]
                + [pa.field("bytes", pa.binary())]
            )
            yield pa.RecordBatch.from_pydict(
                {f.name: out[f.name] for f in out_schema}, schema=out_schema
            )

    out_fields = [
        f for f in joined.schema.fields
        if f.name not in ("__bytes_a", "__bytes_b", "__codec_b")
    ]
    out_schema = T.StructType(out_fields + [T.StructField("bytes", T.BinaryType(), True)])
    return joined.mapInArrow(_mix, schema=out_schema)


PITCH_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("period_samples", T.IntegerType(), True),
    ]
)


def audio_pitch_period(clips: DataFrame) -> DataFrame:
    """Fundamental-period estimate per clip: exact int64 autocorrelation
    over the first 512 samples, argmax lag in [2, 64] (ties -> smallest
    lag, i.e. the fundamental, not a harmonic multiple). The screen for
    mislabeled sample rates and tone-like junk uploads. Clips of 2 samples
    or fewer have no lag to test and report ``decode_ok`` False.

    Cost is O(512 * 64) integer MACs per clip — constant per row,
    independent of clip length; at scale the FFT form (O(W log W) via
    rfft->|.|^2->irfft) is the drop-in when the lag range grows, same
    decode-once Arrow pass either way. int64 exactness is what lets the
    q92 gate pin the argmax against the planted square-wave period.
    """

    def _pitch(pcm: np.ndarray) -> tuple | None:
        if len(pcm) <= 2:
            return None
        x = pcm[:512].astype(np.int64)
        best_lag, best_r = None, None
        for lag in range(2, min(64, len(x) - 1) + 1):
            r = int(np.dot(x[:-lag], x[lag:]))
            if best_r is None or r > best_r:
                best_r, best_lag = r, lag
        return (best_lag,)

    return _per_clip(clips, PITCH_SCHEMA, _pitch)


SEGMENT_SCHEMA_SUFFIX = [
    T.StructField("seg_idx", T.IntegerType(), False),
    T.StructField("n_samples", T.LongType(), False),
]


def _emit_spans(clips: DataFrame, span_fn) -> DataFrame:
    """Shared fan-out for clip-side segmentation ops: ``span_fn(pcm) ->
    [(start, end_exclusive), ...]`` chooses the spans, and each becomes one
    OUTPUT ROW — metadata carried, ``seg_idx``/``n_samples`` appended, the
    span re-encoded under the row's codec. Undecodable rows and empty span
    lists drop. Data-dependent fan-out, still a narrow map-side op, no
    shuffle."""
    clash = {"seg_idx", "n_samples"} & set(clips.columns)
    if clash:
        # re-segmenting a segmenter's own output would otherwise build an
        # Arrow schema with duplicate field names — failing confusingly or
        # silently clobbering the originals (round-4 advisor finding).
        # Rename/drop the prior segmentation columns first.
        raise ValueError(
            f"input already carries segmentation columns {sorted(clash)}; "
            "rename or drop them before re-segmenting"
        )

    def _emit(pcm: np.ndarray, codec: str) -> list[dict]:
        return [
            {"bytes": audio.encode(pcm[s:e], codec), "seg_idx": k,
             "n_samples": len(pcm[s:e])}
            for k, (s, e) in enumerate(span_fn(pcm))
        ]

    out_schema = T.StructType(clips.schema.fields + SEGMENT_SCHEMA_SUFFIX)
    return audio.map_payloads(clips, _emit, out_schema, args=("codec",))


def audio_segment(clips: DataFrame, segment_samples: int) -> DataFrame:
    """Split each payload into fixed-length sample windows, one OUTPUT ROW
    per segment (clip-side chunking, the audio analog of
    packing.chunk_documents): all metadata columns are carried, plus
    ``seg_idx`` and the segment's ``n_samples`` (the last segment may be
    short). One decode pass; segments re-encode under the row's codec.
    Fan-out is data-dependent (ceil(n/segment)) — still a narrow map-side
    op, no shuffle."""

    def spans(pcm):
        return [
            (s, min(s + segment_samples, len(pcm)))
            for s in range(0, len(pcm), segment_samples)
        ]

    return _emit_spans(clips, spans)


def audio_split_on_silence(clips: DataFrame) -> DataFrame:
    """Interior silence splitting (VAD-style utterance segmentation, the
    step past audio_trim_silence): endpoints are trimmed, then the clip
    splits at every interior silence run of >= ``MIN_GAP`` samples;
    shorter interior pauses stay inside their segment. One output row per
    voiced segment (seg_idx, n_samples appended, payload re-encoded under
    the row's codec); all-silent clips drop. Same decode-once, map-side,
    data-dependent-fan-out shape as audio_segment."""

    def spans(pcm):
        voiced = _voiced(pcm)
        return _utterance_spans(voiced) if len(voiced) else []

    return _emit_spans(clips, spans)


def audio_concat_segments(segs: DataFrame) -> DataFrame:
    """Reassemble segmented clips (the inverse of audio_segment /
    audio_split_on_silence, and the training-time concat step): group by
    clip_id, order by seg_idx, decode each piece, concatenate, re-encode
    under the group's codec. The one audio op with a GROUPED payload
    shuffle — segments of a clip must meet — expressed as applyInPandas so
    each group is reassembled vectorized in one worker call; output is one
    row per clip. At 10^12 scale the shuffle carries exactly the payload
    bytes once (no amplification), and clips segmented by the same job are
    usually still partition-local (same input split), so AQE sees a
    near-no-op exchange."""
    meta_cols = [
        c for c in segs.columns if c not in ("bytes", "seg_idx", "n_samples")
    ]
    out_schema = T.StructType(
        [f for f in segs.schema.fields if f.name in meta_cols]
        + [
            T.StructField("bytes", T.BinaryType(), True),
            T.StructField("n_samples", T.LongType(), False),
        ]
    )

    def _concat(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seg_idx")
        codec = pdf["codec"].iloc[0]
        pieces = [
            audio.decode(bz, codec) for bz in pdf["bytes"] if bz is not None
        ]
        pieces = [p for p in pieces if p is not None]
        if not pieces:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        whole = np.concatenate(pieces)
        row = {c: [pdf[c].iloc[0]] for c in meta_cols}
        row["bytes"] = [audio.encode(whole, codec)]
        row["n_samples"] = [len(whole)]
        return pd.DataFrame(row)

    return segs.groupBy("clip_id").applyInPandas(_concat, schema=out_schema)


BANDWIDTH_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("rolloff_bin", T.IntegerType(), True),
        T.StructField("band_frac", T.DoubleType(), True),
    ]
)


def audio_bandwidth(clips: DataFrame) -> DataFrame:
    """Spectral rolloff per clip: the smallest rFFT bin (DC excluded) whose
    cumulative energy reaches 99% of the total, over the first
    ``BANDWIDTH_N_FFT`` samples (zero-padded). ``band_frac`` =
    rolloff/(BANDWIDTH_N_FFT/2) — occupied fraction of the declared band.

    The band-limit QA screen the spectral-features op doesn't give
    (dominant_bin sees the loudest component; rolloff sees where the
    energy STOPS): an 8 kHz recording upsampled and mislabeled 16 kHz
    rolls off at ~half the declared Nyquist, lowpass-transcoded junk rolls
    off early, genuine full-band content reaches the top bins. Same shape
    as every decode op: one Arrow pass, one O(n_fft log n_fft) rFFT per
    clip, narrow rows out; threshold/verdict joins stay Column algebra
    downstream. Silent clips keep NULL rolloff (no energy to place).
    """
    n_fft = BANDWIDTH_N_FFT  # read on the driver: the kernel ships its value
    half = n_fft // 2

    def _bw(pcm: np.ndarray) -> tuple:
        e = np.abs(np.fft.rfft(_fft_window(pcm, n_fft))[1:]) ** 2  # DC excluded
        total = e.sum()
        if total <= 0:
            return None, None  # silent: rolloff stays NULL
        j = int(np.searchsorted(np.cumsum(e), 0.99 * total)) + 1
        return j, j / half

    return _per_clip(clips, BANDWIDTH_SCHEMA, _bw)


VAD_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_utterances", T.IntegerType(), True),
        T.StructField("speech_samples", T.LongType(), True),
        T.StructField("speech_frac", T.DoubleType(), True),
        T.StructField("longest_gap", T.LongType(), True),
    ]
)


def audio_vad_stats(clips: DataFrame) -> DataFrame:
    """Per-clip VAD summary — the sampling/QA metrics WITHOUT the
    segmentation fan-out: utterance count, speech sample count/fraction,
    and the longest interior silence run. Semantics exactly shared with
    :func:`audio_split_on_silence` (voiced = |x| > SILENCE_LEVEL;
    utterances split at interior silence >= MIN_GAP; an utterance span
    runs voiced-to-voiced, so shorter pauses count as speech) — the
    summary a corpus curator filters/samples on (speech_frac < 0.3 =
    mostly silence; n_utterances = dialogue density) before paying the
    per-segment row explosion. One decode pass, one narrow row per clip;
    all-silent clips report zeros rather than dropping (unlike the
    splitter, a summary must account for every clip).
    """

    def _vad(pcm: np.ndarray) -> tuple:
        n = len(pcm)
        voiced = _voiced(pcm)
        if len(voiced) == 0:
            return n, 0, 0, 0.0, 0
        runs = np.diff(voiced) - 1  # interior silence lengths
        spans = _utterance_spans(voiced)
        speech = sum(e - s for s, e in spans)
        return n, len(spans), speech, speech / n, int(runs.max()) if len(runs) else 0

    return _per_clip(clips, VAD_SCHEMA, _vad)


BALANCE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("rms_l_dbfs", T.DoubleType(), True),
        T.StructField("rms_r_dbfs", T.DoubleType(), True),
        T.StructField("balance_db", T.DoubleType(), True),
        T.StructField("corr_lr", T.DoubleType(), True),
    ]
)


def audio_channel_balance(clips: DataFrame) -> DataFrame:
    """Stereo QA over interleaved two-channel payloads: per-clip L/R RMS
    (dBFS), ``balance_db`` (= rms_l_dbfs − rms_r_dbfs) and ``corr_lr``
    (Pearson correlation of the two channels). The stereo-ingest
    failure screen mono stats can't see: a dead/near-dead channel
    (balance_db blows up, rms NULL when silent), a polarity flip
    (corr ≈ −1), and fake stereo (mono duplicated into both channels,
    corr ≈ +1 with balance ≈ 0). A trailing partial frame is truncated
    (same tolerant-reader rule as audio_downmix); clips shorter than one
    frame report ``decode_ok`` False. Silent channels emit NULL dBFS
    (never −inf); zero-variance channels emit NULL corr (the statistic is
    undefined, not 0).

    One Arrow decode pass, narrow rows out. Reference seam: Baskerville
    has no audio-signal operators; from-scratch for the audio graft cell,
    gated analytically (q134: ±square-wave channel pairs whose RMS,
    balance and correlation are exact closed forms).
    """

    def _bal(pcm: np.ndarray) -> tuple | None:
        if len(pcm) < 2:
            return None
        nf = len(pcm) // 2
        x = pcm[: nf * 2].astype(np.float64).reshape(nf, 2)
        left, right = x[:, 0], x[:, 1]
        db_l = _dbfs(float(np.sqrt((left * left).mean())))
        db_r = _dbfs(float(np.sqrt((right * right).mean())))
        bal = db_l - db_r if db_l is not None and db_r is not None else None
        lc, rc = left - left.mean(), right - right.mean()
        den = float(np.sqrt((lc * lc).sum() * (rc * rc).sum()))
        corr = float((lc * rc).sum() / den) if den > 0 else None
        return nf, db_l, db_r, bal, corr

    return _per_clip(clips, BALANCE_SCHEMA, _bal)


# --------------------------------------------------------------------------
# q83: audio loudness / clipping QA vs analytic closed forms
# --------------------------------------------------------------------------


def q83_loudness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness QA gate: 300 synthesized constant-level (DC) clips whose
    exact peak/RMS dBFS and clipped-sample counts are closed-form
    (level v = min(500 + (i*613)%40000, 32767): peak = rms = v, clipped
    iff v hits full scale). The measurement path is the REAL one — encode
    to pcm_s16le, Arrow decode, per-clip stats (``audio_loudness_stats``) —
    and the gate emits exact integers plus |measured − analytic| < 1e-9
    booleans (the q46 bounded-verdict pattern); the oracle rebuilds the
    integer columns arithmetically and pins the booleans TRUE."""
    def plant(i):
        amp = 500 + (i * 613) % 40000
        v = min(amp, 32767)
        n = 100 + (i % 7) * 50
        return [planted_clip("dc", i, np.full(n, v, dtype="<i2"), level=v)]

    clips = rows_from_range(spark, 300, plant, PLANT_SCHEMA + ", level int")
    stats = audio_loudness_stats(clips).join(
        clips.select("clip_id", "level"), "clip_id"
    )
    expected_db = F.lit(20.0) * F.log10(F.col("level") / F.lit(32768.0))
    return stats.select(
        "clip_id",
        "n_samples",
        "n_clipped",
        (F.abs(F.col("peak_dbfs") - expected_db) < 1e-9).alias("ok_peak"),
        (F.abs(F.col("rms_dbfs") - expected_db) < 1e-9).alias("ok_rms"),
    )


Q83_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 299)) AS i)
SELECT printf('dc_%06d', i) AS clip_id,
       CAST(100 + (i % 7) * 50 AS BIGINT) AS n_samples,
       CAST(CASE WHEN 500 + (i * 613) % 40000 >= 32767
                 THEN 100 + (i % 7) * 50 ELSE 0 END AS BIGINT) AS n_clipped,
       TRUE AS ok_peak,
       TRUE AS ok_rms
FROM idx
"""


# --------------------------------------------------------------------------
# q84: spectral features vs exact-bin sines
# --------------------------------------------------------------------------


def q84_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-feature gate: 200 pure sines at exact FFT-bin frequencies
    (f = k · sr/n_fft with an integer number of periods per window, so the
    DFT is leakage-free and ALL energy lands in bin k). The measurement
    path is real (pcm encode → Arrow decode → rFFT); the gate pins the
    integer dominant_bin to its closed form and bounds the centroid
    (|centroid − k| < 1e-6 — leakage-free means numerically-zero mass
    elsewhere). Oracle rebuilds the integers arithmetically."""
    n_fft = SPECTRAL_N_FFT  # the tones sit on the bins of this window

    def plant(i):
        k = (i % 40) + 1                      # target bin 1..40
        n = n_fft + (i % 3) * 100             # >= one full window
        t = np.arange(n)
        pcm = (10000 * np.sin(2 * np.pi * k * t / n_fft)).astype("<i2")
        return [planted_clip("sine", i, pcm, bin_k=k)]

    clips = rows_from_range(spark, 200, plant, PLANT_SCHEMA + ", bin_k int")
    feats = audio_spectral_features(clips).join(
        clips.select("clip_id", "bin_k"), "clip_id"
    )
    return feats.select(
        "clip_id",
        "n_samples",
        "dominant_bin",
        (F.abs(F.col("spectral_centroid") - F.col("bin_k")) < 0.5).alias(
            "ok_centroid"
        ),
    )


Q84_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 199)) AS i)
SELECT printf('sine_%06d', i) AS clip_id,
       CAST(256 + (i % 3) * 100 AS BIGINT) AS n_samples,
       CAST((i % 40) + 1 AS INT) AS dominant_bin,
       TRUE AS ok_centroid
FROM idx
"""


# --------------------------------------------------------------------------
# q85: resample correctness via exact decimation
# --------------------------------------------------------------------------


def q85_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling gate: the q84 exact-bin sines (k cycles per 256 samples
    at 16 kHz) resampled to 8 kHz. An integer downsample ratio makes the
    linear-interp grid land exactly on original samples, so the result is
    pure decimation: output length = n//2 (closed form) and the tone is
    now 2k cycles per 256-sample window — dominant_bin doubles, an integer
    the oracle rebuilds arithmetically. Pipeline under test: decode →
    interp → re-encode → decode → rFFT, all Arrow passes."""
    n_fft = SPECTRAL_N_FFT  # the tones sit on the bins of this window

    def plant(i):
        k = (i % 20) + 1                      # keep 2k well under Nyquist
        n = n_fft * 2 + (i % 3) * 100
        t = np.arange(n)
        pcm = (10000 * np.sin(2 * np.pi * k * t / n_fft)).astype("<i2")
        return [planted_clip("rs", i, pcm, sr_hz=16000, bin_k=k)]

    clips = rows_from_range(
        spark, 150, plant, PLANT_SCHEMA + ", sr_hz int, bin_k int"
    )
    down = audio_resample(clips, target_sr=8000)
    feats = audio_spectral_features(down).join(
        clips.select("clip_id", "bin_k"), "clip_id"
    )
    return feats.select(
        "clip_id",
        "n_samples",
        "dominant_bin",
        (F.col("dominant_bin") == F.lit(2) * F.col("bin_k")).alias("ok_doubled"),
    )


Q85_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('rs_%06d', i) AS clip_id,
       CAST((512 + (i % 3) * 100) // 2 AS BIGINT) AS n_samples,
       CAST(2 * ((i % 20) + 1) AS INT) AS dominant_bin,
       TRUE AS ok_doubled
FROM idx
"""


# --------------------------------------------------------------------------
# q87: stereo downmix via exact channel identities
# --------------------------------------------------------------------------


def q87_downmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downmix gate: interleaved stereo masters where either L == R (mean
    is bit-identical to L) or R == 0 (mean = rint(L/2) — same tone, half
    amplitude). Both closed forms keep the tone's FFT bin: the gate pins
    frame counts (total//2, minus an odd-tail truncation case) and the
    dominant bin through the REAL decode → deinterleave → mean → encode →
    decode → rFFT pipeline."""
    n_fft = SPECTRAL_N_FFT  # the tones sit on the bins of this window

    def plant(i):
        k = (i % 30) + 1
        frames = n_fft + (i % 3) * 100
        t = np.arange(frames)
        left = (10000 * np.sin(2 * np.pi * k * t / n_fft)).astype("<i2")
        right = left if i % 2 == 0 else np.zeros(frames, dtype="<i2")
        stereo = np.empty(frames * 2, dtype="<i2")
        stereo[0::2] = left
        stereo[1::2] = right
        if i % 11 == 3:
            stereo = np.append(stereo, np.int16(7))  # odd tail: one orphan sample
        return [planted_clip("st", i, stereo, bin_k=k)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA + ", bin_k int")
    mono = audio_downmix(clips)
    feats = audio_spectral_features(mono).join(
        clips.select("clip_id", "bin_k"), "clip_id"
    )
    return feats.select(
        "clip_id",
        "n_samples",
        "dominant_bin",
        (F.col("dominant_bin") == F.col("bin_k")).alias("ok_bin"),
    )


Q87_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('st_%06d', i) AS clip_id,
       CAST(256 + (i % 3) * 100 AS BIGINT) AS n_samples,
       CAST((i % 30) + 1 AS INT) AS dominant_bin,
       TRUE AS ok_bin
FROM idx
"""


# --------------------------------------------------------------------------
# q88/q89: silence trim + fixed-window segmentation, closed-form plants
# --------------------------------------------------------------------------


def _q88_q89_clips(spark: SparkSession):
    """150 pcm clips with EXACT closed-form structure: lead = i%40 zero
    samples, body = (i%50)+1 samples of constant 5000, tail = i%25 zeros."""

    def plant(i):
        lead, body, tail = i % 40, (i % 50) + 1, i % 25
        pcm = np.concatenate(
            [
                np.zeros(lead, dtype="<i2"),
                np.full(body, 5000, dtype="<i2"),
                np.zeros(tail, dtype="<i2"),
            ]
        )
        return [planted_clip("tr", i, pcm)]

    return rows_from_range(spark, 150, plant, PLANT_SCHEMA)


def q88_trim_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Endpoint silence trim gate: planted (lead zeros | constant body |
    tail zeros) clips — the trimmed length must equal the body length
    EXACTLY, a pure integer the oracle rebuilds from the same mods. Runs
    the real decode → trim → encode → decode pipeline."""
    trimmed = audio_trim_silence(_q88_q89_clips(spark))
    return audio.decode_pass(
        trimmed.select("clip_id", "bytes", "codec"),
        T.StructType.fromDDL("clip_id string, trimmed_samples long"),
        lambda pcm: (len(pcm),),
    )


Q88_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('tr_%06d', i) AS clip_id,
       CAST((i % 50) + 1 AS BIGINT) AS trimmed_samples
FROM idx
"""


def q89_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window segmentation gate: every clip (n = lead+body+tail,
    closed form) split into 32-sample windows → per-clip segment count =
    ceil(n/32) and last-segment length = n mod 32 (or 32), both integers
    the oracle rebuilds arithmetically."""
    segs = audio_segment(_q88_q89_clips(spark), segment_samples=32)
    return segs.groupBy("clip_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.max(F.col("seg_idx")).cast("int").alias("max_idx"),
        F.min("n_samples").cast("long").alias("min_seg_len"),
        F.sum("n_samples").cast("long").alias("total_samples"),
    )


Q89_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i),
m AS (
  SELECT i, CAST(i % 40 + (i % 50) + 1 + i % 25 AS BIGINT) AS n FROM idx)
SELECT printf('tr_%06d', i) AS clip_id,
       (n + 31) // 32 AS n_segments,
       CAST((n - 1) // 32 AS INT) AS max_idx,
       CASE WHEN n % 32 = 0 THEN 32 ELSE n % 32 END AS min_seg_len,
       n AS total_samples
FROM m
"""


# --------------------------------------------------------------------------
# q90/q91/q92: gain normalization, overlay mixing, pitch detection —
# closed-form PCM plants through the real decode->transform->encode passes
# --------------------------------------------------------------------------


def _len_peak(df: DataFrame) -> DataFrame:
    """(clip_id, n_samples, peak |sample|) of every clip in ``df``."""
    return audio.decode_pass(
        df.select("clip_id", "bytes", "codec"),
        T.StructType.fromDDL("clip_id string, n_samples long, peak long"),
        lambda pcm: (len(pcm), int(abs(pcm.astype("int32")).max())),
    )


def q90_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-normalization gate: constant-amplitude plants (A_i closed-form,
    one-in-13 silent and therefore dropped) through the real decode ->
    gain -> round -> encode pass, alternating lossless codecs. The
    normalized peak must equal the target EXACTLY (integer), and lengths
    must survive unchanged — both rebuilt arithmetically by the oracle."""
    def plant(i):
        amp = 0 if i % 13 == 5 else (i % 317) * 197 + 123
        n = (i % 50) + 5
        codec = "pcm_s16le" if i % 2 == 0 else "flac"
        return [planted_clip("nm", i, np.full(n, amp, dtype="<i2"), codec)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA)
    return _len_peak(audio_normalize(clips))


Q90_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('nm_%06d', i) AS clip_id,
       CAST((i % 50) + 5 AS BIGINT) AS n_samples,
       CAST(20000 AS BIGINT) AS peak
FROM idx
WHERE i % 13 <> 5
"""


def q91_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay-mix gate: constant-amplitude base (A_i) + overlay (B_i)
    plants with different lengths, one-in-5 overlays missing (inner-join
    drop). Saturating int16 addition gives peak = LEAST(A+B, 32767) and
    length = LEAST(n_a, n_b) — pure integers the oracle rebuilds. Runs the
    real join -> decode both -> mix -> encode pipeline."""
    def base(i):
        pcm = np.full((i % 40) + 10, 25000 + (i % 8) * 1000, dtype="<i2")
        return [planted_clip("ov", i, pcm)]

    def over(i):
        if i % 5 == 2:
            return []  # missing overlay: the inner join drops the clip
        pcm = np.full((i % 33) + 5, (i % 10) * 1000 + 500, dtype="<i2")
        return [planted_clip("ov", i, pcm)]

    mixed = audio_overlay(
        rows_from_range(spark, 150, base, PLANT_SCHEMA),
        rows_from_range(spark, 150, over, PLANT_SCHEMA),
    )
    return _len_peak(mixed)


Q91_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('ov_%06d', i) AS clip_id,
       CAST(LEAST((i % 40) + 10, (i % 33) + 5) AS BIGINT) AS n_samples,
       CAST(LEAST(25000 + (i % 8) * 1000 + (i % 10) * 1000 + 500, 32767)
            AS BIGINT) AS peak
FROM idx
WHERE i % 5 <> 2
"""


def q92_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pitch-detection gate: 512-sample square waves with planted even
    periods p in [4, 42] — the exact-int64 autocorrelation argmax must
    recover p itself (not a harmonic: ties break to the smallest lag, and
    (W-p) > (W-2p) separates the fundamental from its multiples)."""
    def plant(i):
        p = 2 * ((i % 20) + 2)
        t = np.arange(512)
        pcm = np.where((t % p) < p // 2, 8000, -8000).astype("<i2")
        return [planted_clip("pt", i, pcm, planted_p=p)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA + ", planted_p int")
    periods = audio_pitch_period(clips)
    return periods.join(clips.select("clip_id", "planted_p"), "clip_id").select(
        "clip_id",
        "period_samples",
        (F.col("period_samples") == F.col("planted_p")).alias("ok_period"),
    )


Q92_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('pt_%06d', i) AS clip_id,
       CAST(2 * ((i % 20) + 2) AS INT) AS period_samples,
       TRUE AS ok_period
FROM idx
"""


# --------------------------------------------------------------------------
# q105: interior silence splitting
# --------------------------------------------------------------------------


def q105_split_on_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-split gate: planted (lead | tone a | gap g | tone b | tail)
    clips — when g >= min_gap (64) the clip must split into exactly the
    two tones with exact lengths; when g < 64 the interior pause stays
    inside one segment of length a+g+b. Pure integers from the plant mods,
    through the real decode → split → encode pipeline."""
    def plant(i):
        lead, a, g, b, tail = (
            i % 30, (i % 40) + 5, (i % 90) + 20, (i % 25) + 3, i % 50,
        )
        pcm = np.concatenate([
            np.zeros(lead, dtype="<i2"),
            np.full(a, 5000, dtype="<i2"),
            np.zeros(g, dtype="<i2"),
            np.full(b, 5000, dtype="<i2"),
            np.zeros(tail, dtype="<i2"),
        ])
        return [planted_clip("vd", i, pcm)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA)
    segs = audio_split_on_silence(clips)
    return segs.groupBy("clip_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.min("n_samples").cast("long").alias("min_len"),
        F.max("n_samples").cast("long").alias("max_len"),
        F.sum("n_samples").cast("long").alias("voiced_total"),
    )


Q105_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i),
m AS (
  SELECT i, CAST((i % 40) + 5 AS BIGINT) AS a,
         CAST((i % 90) + 20 AS BIGINT) AS g,
         CAST((i % 25) + 3 AS BIGINT) AS b
  FROM idx)
SELECT printf('vd_%06d', i) AS clip_id,
       CASE WHEN g >= 64 THEN 2 ELSE 1 END AS n_segments,
       CASE WHEN g >= 64 THEN LEAST(a, b) ELSE a + g + b END AS min_len,
       CASE WHEN g >= 64 THEN GREATEST(a, b) ELSE a + g + b END AS max_len,
       CASE WHEN g >= 64 THEN a + b ELSE a + g + b END AS voiced_total
FROM m
"""


# --------------------------------------------------------------------------
# q107: segment -> reassemble round trip (grouped payload shuffle)
# --------------------------------------------------------------------------


def q107_concat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassembly gate: the q88 closed-form clips are segmented into
    32-sample windows, shuffled apart, and reassembled via the grouped
    applyInPandas concat — the round trip must be LOSSLESS: reassembled
    length equals the closed-form original length, and the decoded content
    hash equals the original's (compared clip-by-clip through a join of
    the two fingerprint passes; `content_ok` must be all-true under the
    hash gate, lengths rebuilt arithmetically by the oracle)."""
    from baskerville_spark.gates.audio_dedup import audio_content_fingerprints

    clips = _q88_q89_clips(spark)
    rebuilt = audio_concat_segments(audio_segment(clips, segment_samples=32))
    fp_orig = audio_content_fingerprints(clips).select(
        "clip_id", F.col("content_md5").alias("md5_orig")
    )
    fp_re = audio_content_fingerprints(
        rebuilt.withColumn("part_id", F.lit(0))
    ).select("clip_id", F.col("content_md5").alias("md5_re"))
    return (
        rebuilt.select("clip_id", "n_samples")
        .join(fp_orig, "clip_id")
        .join(fp_re, "clip_id")
        .select(
            "clip_id",
            "n_samples",
            (F.col("md5_orig") == F.col("md5_re")).alias("content_ok"),
        )
    )


Q107_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('tr_%06d', i) AS clip_id,
       CAST(i % 40 + (i % 50) + 1 + i % 25 AS BIGINT) AS n_samples,
       TRUE AS content_ok
FROM idx
"""


# --------------------------------------------------------------------------
# q111: spectral-rolloff band-limit QA — WHERE the energy stops, the
# upsampled/lowpassed-junk screen q84's dominant-bin cannot express.
# --------------------------------------------------------------------------


def q111_bandwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-limit gate over exact-bin sine plants (256-sample clips,
    n_fft=256 — bin energies are closed-form, orthogonal bins don't leak):
    (a) low-band signal (bin 5+i%4, amp 8000) + a 100× weaker top-band
    component (bin 100, amp 80, 1e-4 of the energy) → rolloff must IGNORE
    the trace hf and read the low bin; (b) two EQUAL components (bins
    5+i%4 and 90+i%5) → 50% each, so the 0.99 threshold lands on the HIGH
    bin; (c) high-band only (bin 80+i%8) → that bin. band_frac =
    rolloff/128 exactly."""
    t = np.arange(256)

    def sine(k, amp):
        return amp * np.sin(2 * np.pi * k * t / 256.0)

    def plant(i):
        r = i % 3
        if r == 0:
            x = sine(5 + i % 4, 8000) + sine(100, 80)
        elif r == 1:
            x = sine(5 + i % 4, 6000) + sine(90 + i % 5, 6000)
        else:
            x = sine(80 + i % 8, 7000)
        return [planted_clip("bw", i, np.rint(x).astype("<i2"))]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA)
    return audio_bandwidth(clips).select(
        "clip_id", "rolloff_bin", "band_frac"
    )


Q111_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i),
r AS (
  SELECT i,
         CASE i % 3
           WHEN 0 THEN 5 + i % 4
           WHEN 1 THEN 90 + i % 5
           ELSE 80 + i % 8
         END AS rolloff_bin
  FROM idx)
SELECT printf('bw_%06d', i) AS clip_id,
       CAST(rolloff_bin AS INT) AS rolloff_bin,
       CAST(rolloff_bin AS DOUBLE) / 128 AS band_frac
FROM r
"""


# --------------------------------------------------------------------------
# q117: per-clip VAD summary (speech fraction / utterance count / longest
# gap) — the curator's sampling metrics without q105's per-segment fan-out.
# --------------------------------------------------------------------------


def q117_vad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-stats gate: (lead | tone m1 | gap g | tone m2 | tail) plants
    with g sweeping 0..128 around min_gap=64 — g >= 64 splits (2
    utterances, gap excluded from speech), 0 < g < 64 stays one utterance
    WITH the pause counted as speech, g = 0 is one contiguous tone; all
    integers closed-form, speech_frac = exact int/int IEEE division."""
    def plant(i):
        lead, tail = 30 + i % 10, 20 + i % 7
        m1, m2 = 150 + (i % 4) * 25, 100 + (i % 6) * 15
        g = (i % 5) * 32
        pcm = np.concatenate(
            [
                np.zeros(lead, dtype="<i2"),
                np.full(m1, 5000, dtype="<i2"),
                np.zeros(g, dtype="<i2"),
                np.full(m2, -4000, dtype="<i2"),
                np.zeros(tail, dtype="<i2"),
            ]
        )
        return [planted_clip("vd", i, pcm)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA)
    return audio_vad_stats(clips).select(
        "clip_id", "n_samples", "n_utterances", "speech_samples",
        "speech_frac", "longest_gap",
    )


Q117_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i),
p AS (
  SELECT i,
         30 + i % 10 AS lead_n, 20 + i % 7 AS tail_n,
         150 + (i % 4) * 25 AS m1, 100 + (i % 6) * 15 AS m2,
         (i % 5) * 32 AS g
  FROM idx),
s AS (
  SELECT i, lead_n + m1 + g + m2 + tail_n AS n,
         CASE WHEN g >= 64 THEN 2 ELSE 1 END AS utt,
         CASE WHEN g >= 64 OR g = 0 THEN m1 + m2
              ELSE m1 + g + m2 END AS sp,
         CAST(g AS BIGINT) AS lg
  FROM p)
SELECT printf('vd_%06d', i) AS clip_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(utt AS INT) AS n_utterances,
       CAST(sp AS BIGINT) AS speech_samples,
       CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS speech_frac,
       lg AS longest_gap
FROM s
"""


# --------------------------------------------------------------------------
# q131: audio DC-offset QA vs exact closed forms — the third leg of the
# ingest QA trio (levels q83, frequency content q84). 300 synthesized
# square-wave clips around a known integer bias v (samples alternate
# v+a / v−a over an even count, so the exact mean IS v); the measurement
# path is the REAL one — encode pcm_s16le, Arrow decode, per-clip mean
# (audio_dc_offset) — and v/32768 is exact in
# float64 (power-of-two denominator), so the gate emits the raw doubles
# and the oracle rebuilds them arithmetically; no tolerance booleans
# needed. dc_suspect is JVM-side Column algebra over dc_frac (the policy
# threshold never forces a re-decode).
# --------------------------------------------------------------------------


def q131_dc_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    def plant(i):
        v = -2000 + (i * 37) % 4001
        a = 100 + (i % 5) * 200
        n = 120 + (i % 6) * 40  # even: the ±a legs cancel exactly
        x = np.empty(n, dtype="<i2")
        x[0::2] = v + a
        x[1::2] = v - a
        return [planted_clip("bias", i, x)]

    clips = rows_from_range(spark, 300, plant, PLANT_SCHEMA)
    return audio_dc_offset(clips).select(
        "clip_id", "n_samples", "dc_mean", "dc_frac", "dc_suspect"
    )


Q131_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 299)) AS i)
SELECT printf('bias_%06d', i) AS clip_id,
       CAST(120 + (i % 6) * 40 AS BIGINT) AS n_samples,
       CAST(-2000 + (i * 37) % 4001 AS DOUBLE) AS dc_mean,
       CAST(-2000 + (i * 37) % 4001 AS DOUBLE) / 32768.0 AS dc_frac,
       ABS(CAST(-2000 + (i * 37) % 4001 AS DOUBLE) / 32768.0) > 0.02
         AS dc_suspect
FROM idx
"""


# --------------------------------------------------------------------------
# q134: stereo channel-balance QA vs exact closed forms — dead channels,
# polarity flips and fake stereo are invisible to every mono stat. 300
# synthesized interleaved ±square-wave channel pairs: constant magnitudes
# make RMS exact (sqrt(a^2)=a in IEEE), alternating signs make the means
# exactly zero, and the four planted cases have closed-form correlation
# (+1 in-phase, −1 inverted, 0 quadrature-square, NULL dead channel).
# The measurement path is the REAL one (encode pcm_s16le, Arrow decode,
# deinterleave, Pearson); correlation is ROUND(,6)-pinned to ±1/0 and the
# dB balance is a |measured−analytic|<1e-9 bounded verdict (libm log10
# may differ in the last ulp between numpy and the JVM — the q83 pattern).
# --------------------------------------------------------------------------


def q134_channel_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    def plant(i):
        a = 400 + (i * 31) % 2000
        b = 300 + (i * 17) % 1500
        nf = 160 + (i % 5) * 32  # divisible by 4: full ± periods
        s2 = np.tile(np.array([1, -1], np.int64), nf // 2)
        cs = i % 4
        left = a * s2
        if cs == 0:
            right = b * s2
        elif cs == 1:
            right = -b * s2
        elif cs == 2:
            right = b * np.tile(np.array([1, 1, -1, -1], np.int64), nf // 4)
        else:
            right = np.zeros(nf, np.int64)
        x = np.empty(nf * 2, dtype="<i2")
        x[0::2] = left
        x[1::2] = right
        return [planted_clip("st", i, x, a=a, b=b, cs=cs)]

    clips = rows_from_range(
        spark, 300, plant, PLANT_SCHEMA + ", a int, b int, cs int"
    )
    bal = audio_channel_balance(clips).join(
        clips.select("clip_id", "a", "b", "cs"), "clip_id"
    )
    expected = F.lit(20.0) * (
        F.log10(F.col("a") / F.lit(32768.0))
        - F.log10(F.col("b") / F.lit(32768.0))
    )
    return bal.select(
        "clip_id",
        "n_frames",
        F.round("corr_lr", 6).alias("corr_r6"),
        F.when(F.col("cs") == 3, F.lit(None).cast("boolean"))
        .otherwise(F.abs(F.col("balance_db") - expected) < 1e-9)
        .alias("ok_balance"),
    )


Q134_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 299)) AS i)
SELECT printf('st_%06d', i) AS clip_id,
       CAST(160 + (i % 5) * 32 AS BIGINT) AS n_frames,
       CAST(CASE i % 4 WHEN 0 THEN 1.0 WHEN 1 THEN -1.0
                       WHEN 2 THEN 0.0 ELSE NULL END AS DOUBLE) AS corr_r6,
       CASE WHEN i % 4 = 3 THEN NULL ELSE TRUE END AS ok_balance
FROM idx
"""
