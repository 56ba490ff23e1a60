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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark import audio

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
    import pandas as pd

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
