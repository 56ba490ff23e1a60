"""Content-based audio dedup (gates/audio_dedup.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from baskerville_spark import audio
from baskerville_spark.gates.audio_dedup import (
    audio_content_fingerprints,
    content_duplicate_pairs,
    envelope_fingerprint,
    reencode,
)


def test_envelope_fp_robust_and_selective():
    # robust: opus's 12-bit quantization never moves a 4-bit bucket here
    for i in range(30):
        cid = f"clip_{i:012d}"
        pcm = audio.synth_pcm(cid, 16000, 200 + i * 7)
        opus = audio.decode(audio.encode(pcm, "opus"), "opus")
        assert envelope_fingerprint(opus) == envelope_fingerprint(pcm)
    # selective: distinct clips overwhelmingly land in distinct buckets
    # (the length bits carry most of the split for varied durations; the
    # RMS/ZCR segments keep same-length clips apart only coarsely — this
    # is a CANDIDATE key, verified downstream, like MinHash buckets)
    fps = {
        envelope_fingerprint(audio.synth_pcm(f"clip_{i:012d}", 16000, 200 + i * 3))
        for i in range(100)
    }
    assert len(fps) > 90
    # degenerate inputs
    assert envelope_fingerprint(np.array([], dtype=np.int16)) == 0
    assert envelope_fingerprint(np.zeros(100, dtype=np.int16)) != 0  # length bits


def test_envelope_fp_long_clip_int64_safe(spark):
    """A clip with n % 65536 >= 32768 samples (2.5 s @ 16 kHz = 40000) used
    to set bit 63 under the old 16-bit length mask and crash the Arrow pass
    with OverflowError; the 15-bit mask keeps every fp in int64 range —
    exercised end-to-end through mapInArrow, not just the pure function."""
    import pyarrow as pa

    pcm = audio.synth_pcm("long_clip", 16000, 2500)  # 40000 samples
    assert len(pcm) % 65536 >= 32768
    fp = envelope_fingerprint(pcm)
    assert 0 <= fp < (1 << 63)
    pa.array([fp], pa.int64())  # must not raise
    rows = [
        Row(part_id=0, clip_id="long_clip",
            bytes=bytes(audio.encode(pcm, "pcm_s16le")), codec="pcm_s16le"),
    ]
    got = audio_content_fingerprints(spark.createDataFrame(rows)).collect()
    assert got[0]["decode_ok"] is True and got[0]["envelope_fp"] == fp


def test_content_pairs_cross_container(spark):
    pcm_a = audio.synth_pcm("a", 16000, 300)
    pcm_b = audio.synth_pcm("b", 16000, 300)
    rows = [
        Row(part_id=0, clip_id="a_raw", bytes=bytes(audio.encode(pcm_a, "pcm_s16le")),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="a_flac", bytes=bytes(audio.encode(pcm_a, "flac")),
            codec="flac"),
        Row(part_id=0, clip_id="b_raw", bytes=bytes(audio.encode(pcm_b, "pcm_s16le")),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="bad", bytes=b"\x00\x01", codec="flac"),  # undecodable
    ]
    df = spark.createDataFrame(rows)
    fps = audio_content_fingerprints(df)
    got = {r["clip_id"]: r for r in fps.collect()}
    assert got["bad"]["decode_ok"] is False and got["bad"]["content_md5"] is None
    # same content through different containers -> same md5; different -> different
    assert got["a_raw"]["content_md5"] == got["a_flac"]["content_md5"]
    assert got["a_raw"]["content_md5"] != got["b_raw"]["content_md5"]
    pairs = content_duplicate_pairs(fps).collect()
    assert [(p["clip_id_a"], p["clip_id_b"]) for p in pairs] == [("a_flac", "a_raw")]


def test_reencode_round_trip(spark):
    pcm = audio.synth_pcm("x", 8000, 400)
    rows = [
        Row(part_id=0, clip_id="x", bytes=bytes(audio.encode(pcm, "pcm_s16le")),
            codec="pcm_s16le", extra="kept"),
        Row(part_id=0, clip_id="broken", bytes=b"nope", codec="flac", extra="dropped"),
    ]
    df = spark.createDataFrame(rows)
    out = reencode(df, "flac").collect()
    assert [r["clip_id"] for r in out] == ["x"]          # undecodable row dropped
    r = out[0]
    assert r["codec"] == "flac" and r["extra"] == "kept"  # metadata preserved
    dec = audio.decode(bytes(r["bytes"]), "flac")
    assert np.array_equal(dec, pcm)                       # lossless transcode


def test_audio_loudness_stats(spark):
    from baskerville_spark.gates.audio_quality import audio_loudness_stats

    half = np.full(200, 16384, dtype=np.int16)          # -6.02 dBFS
    clipped = np.full(100, 32767, dtype=np.int16)       # full scale
    silent = np.zeros(50, dtype=np.int16)
    rows = [
        Row(part_id=0, clip_id="half", bytes=bytes(audio.encode(half, "flac")),
            codec="flac"),
        Row(part_id=0, clip_id="hot", bytes=bytes(audio.encode(clipped, "pcm_s16le")),
            codec="pcm_s16le"),
        Row(part_id=1, clip_id="silent", bytes=bytes(audio.encode(silent, "pcm_s16le")),
            codec="pcm_s16le"),
        Row(part_id=1, clip_id="bad", bytes=b"xx", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_loudness_stats(spark.createDataFrame(rows)).collect()}
    assert abs(out["half"]["peak_dbfs"] - 20 * np.log10(16384 / 32768)) < 1e-12
    assert out["half"]["n_clipped"] == 0
    assert out["hot"]["n_clipped"] == 100 and out["hot"]["n_samples"] == 100
    assert out["silent"]["decode_ok"] and out["silent"]["peak_dbfs"] is None
    assert out["bad"]["decode_ok"] is False and out["bad"]["n_samples"] is None


def test_audio_spectral_features(spark):
    from baskerville_spark.gates.audio_quality import audio_spectral_features

    n_fft, sr = 256, 16000
    t = np.arange(400)
    tone_k8 = (12000 * np.sin(2 * np.pi * 8 * t / n_fft)).astype(np.int16)
    silent = np.zeros(300, dtype=np.int16)
    rows = [
        Row(part_id=0, clip_id="tone8", bytes=bytes(audio.encode(tone_k8, "flac")),
            codec="flac"),
        Row(part_id=0, clip_id="silent", bytes=bytes(audio.encode(silent, "pcm_s16le")),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="bad", bytes=b"zz", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_spectral_features(spark.createDataFrame(rows)).collect()}
    assert out["tone8"]["dominant_bin"] == 8
    assert abs(out["tone8"]["spectral_centroid"] - 8) < 0.5
    assert out["silent"]["decode_ok"] and out["silent"]["dominant_bin"] is None
    assert out["bad"]["decode_ok"] is False


def test_audio_resample(spark):
    from baskerville_spark.gates.audio_quality import audio_resample

    pcm = audio.synth_pcm("r", 16000, 400)  # 6400 samples
    rows = [
        Row(part_id=0, clip_id="r", bytes=bytes(audio.encode(pcm, "pcm_s16le")),
            sr_hz=16000, codec="pcm_s16le"),
        Row(part_id=0, clip_id="bad", bytes=b"q", sr_hz=16000, codec="flac"),
    ]
    out = audio_resample(spark.createDataFrame(rows), target_sr=8000).collect()
    assert [r["clip_id"] for r in out] == ["r"]       # undecodable dropped
    r = out[0]
    assert r["sr_hz"] == 8000
    dec = audio.decode(bytes(r["bytes"]), "pcm_s16le")
    assert len(dec) == 3200                            # n * 8000 // 16000
    # integer ratio -> exact decimation: every output sample equals x[2j]
    assert np.array_equal(dec, pcm[::2])


def test_audio_downmix(spark):
    from baskerville_spark.gates.audio_quality import audio_downmix

    left = np.array([100, 200, -300, 32767], dtype=np.int16)
    right = np.array([300, -200, -300, 32767], dtype=np.int16)
    stereo = np.empty(8, dtype=np.int16)
    stereo[0::2] = left
    stereo[1::2] = right
    rows = [
        Row(part_id=0, clip_id="s", bytes=stereo.tobytes(), codec="pcm_s16le"),
        # odd tail: orphan half-frame is truncated, not an error
        Row(part_id=0, clip_id="odd", bytes=stereo.tobytes() + b"\x01\x00",
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="bad", bytes=b"z", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_downmix(spark.createDataFrame(rows)).collect()}
    assert "bad" not in out
    for cid in ("s", "odd"):
        dec = audio.decode(bytes(out[cid]["bytes"]), "pcm_s16le")
        assert np.array_equal(dec, np.array([200, 0, -300, 32767], dtype=np.int16))


def test_audio_trim_silence(spark):
    from baskerville_spark.gates.audio_quality import audio_trim_silence

    pcm = np.concatenate([
        np.zeros(10, dtype=np.int16),
        np.array([5000, 0, -5000], dtype=np.int16),   # interior silence kept
        np.zeros(7, dtype=np.int16),
    ])
    rows = [
        Row(part_id=0, clip_id="t", bytes=pcm.tobytes(), codec="pcm_s16le"),
        Row(part_id=0, clip_id="allsilent",
            bytes=np.zeros(50, dtype=np.int16).tobytes(), codec="pcm_s16le"),
    ]
    out = audio_trim_silence(spark.createDataFrame(rows)).collect()
    assert [r["clip_id"] for r in out] == ["t"]       # all-silent dropped
    dec = audio.decode(bytes(out[0]["bytes"]), "pcm_s16le")
    assert np.array_equal(dec, np.array([5000, 0, -5000], dtype=np.int16))


def test_audio_segment(spark):
    from baskerville_spark.gates.audio_quality import audio_segment

    pcm = audio.synth_pcm("seg", 16000, 100)  # 1600 samples
    rows = [Row(part_id=0, clip_id="seg",
                bytes=bytes(audio.encode(pcm, "flac")), codec="flac")]
    segs = audio_segment(spark.createDataFrame(rows), segment_samples=700).collect()
    assert [(r["seg_idx"], r["n_samples"]) for r in
            sorted(segs, key=lambda r: r["seg_idx"])] == [(0, 700), (1, 700), (2, 200)]
    # reassembling the decoded segments reproduces the original exactly
    joined = np.concatenate([
        audio.decode(bytes(r["bytes"]), "flac")
        for r in sorted(segs, key=lambda r: r["seg_idx"])
    ])
    assert np.array_equal(joined, pcm)
    assert all(r["codec"] == "flac" for r in segs)    # metadata carried


def test_audio_normalize(spark):
    from baskerville_spark.gates.audio_quality import audio_normalize

    rows = [
        # attenuation: peak 30000 -> 20000; zero sample stays zero
        Row(part_id=0, clip_id="down",
            bytes=np.array([30000, -15000, 0], dtype=np.int16).tobytes(),
            codec="pcm_s16le"),
        # amplification: peak 100 -> 20000, sign preserved
        Row(part_id=0, clip_id="up",
            bytes=np.array([100, -50], dtype=np.int16).tobytes(),
            codec="pcm_s16le"),
        # silence: no gain normalizes it -> dropped
        Row(part_id=0, clip_id="silent",
            bytes=np.zeros(10, dtype=np.int16).tobytes(), codec="pcm_s16le"),
        Row(part_id=0, clip_id="bad", bytes=b"x", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_normalize(spark.createDataFrame(rows)).collect()}
    assert set(out) == {"down", "up"}
    down = audio.decode(bytes(out["down"]["bytes"]), "pcm_s16le")
    assert np.array_equal(down, np.array([20000, -10000, 0], dtype=np.int16))
    up = audio.decode(bytes(out["up"]["bytes"]), "pcm_s16le")
    assert np.array_equal(up, np.array([20000, -10000], dtype=np.int16))


def test_audio_overlay(spark):
    from baskerville_spark.gates.audio_quality import audio_overlay

    base_rows = [
        Row(part_id=0, clip_id="a",
            bytes=np.array([30000, -30000, 5], dtype=np.int16).tobytes(),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="no_overlay",
            bytes=np.array([1, 2], dtype=np.int16).tobytes(),
            codec="pcm_s16le"),
    ]
    over_rows = [
        # longer than base: mix truncates to the common prefix
        Row(part_id=0, clip_id="a",
            bytes=np.array([5000, -5000, 7, 9], dtype=np.int16).tobytes(),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="orphan",
            bytes=np.array([1], dtype=np.int16).tobytes(), codec="pcm_s16le"),
    ]
    out = audio_overlay(
        spark.createDataFrame(base_rows), spark.createDataFrame(over_rows)
    ).collect()
    # inner-join semantics: unmatched rows on either side are dropped
    assert [r["clip_id"] for r in out] == ["a"]
    mixed = audio.decode(bytes(out[0]["bytes"]), "pcm_s16le")
    # saturating int16 add: 30000+5000 clips to 32767, -30000-5000 to -32768
    assert np.array_equal(mixed, np.array([32767, -32768, 12], dtype=np.int16))


def test_audio_overlay_mixed_codecs(spark):
    """pcm base + flac overlay: the overlay must be decoded with ITS OWN
    codec (the old code used the base row's codec, silently producing
    garbage mixes for mixed-codec pairs — round-4 advisor finding)."""
    from baskerville_spark.gates.audio_quality import audio_overlay

    base_pcm = np.array([100, -200, 300], dtype=np.int16)
    over_pcm = np.array([11, 22, -33], dtype=np.int16)
    base_rows = [
        Row(part_id=0, clip_id="m",
            bytes=bytes(audio.encode(base_pcm, "pcm_s16le")), codec="pcm_s16le"),
    ]
    over_rows = [
        Row(part_id=0, clip_id="m",
            bytes=bytes(audio.encode(over_pcm, "flac")), codec="flac"),
    ]
    out = audio_overlay(
        spark.createDataFrame(base_rows), spark.createDataFrame(over_rows)
    ).collect()
    assert len(out) == 1 and "__codec_b" not in out[0].asDict()
    mixed = audio.decode(bytes(out[0]["bytes"]), "pcm_s16le")
    assert np.array_equal(mixed, base_pcm + over_pcm)

    # an overlay table WITHOUT a codec column inherits the base codec
    out2 = audio_overlay(
        spark.createDataFrame(base_rows),
        spark.createDataFrame(
            [Row(clip_id="m", bytes=bytes(audio.encode(over_pcm, "pcm_s16le")))]
        ),
    ).collect()
    assert np.array_equal(
        audio.decode(bytes(out2[0]["bytes"]), "pcm_s16le"), base_pcm + over_pcm
    )


def test_resample_requires_sr_column(spark):
    from baskerville_spark.gates.audio_quality import audio_resample

    df = spark.createDataFrame(
        [Row(clip_id="x", bytes=b"\x00\x00", codec="pcm_s16le")]
    )
    import pytest

    with pytest.raises(ValueError, match="sr_hz"):
        audio_resample(df, target_sr=8000)


def test_segment_rejects_already_segmented_input(spark):
    from baskerville_spark.gates.audio_quality import audio_segment

    pcm = audio.synth_pcm("seg", 16000, 150)
    rows = [Row(part_id=0, clip_id="seg",
                bytes=bytes(audio.encode(pcm, "pcm_s16le")), codec="pcm_s16le")]
    segs = audio_segment(spark.createDataFrame(rows), segment_samples=700)
    import pytest

    with pytest.raises(ValueError, match="seg_idx"):
        audio_segment(segs, segment_samples=100)


def test_audio_pitch_period(spark):
    from baskerville_spark.gates.audio_quality import audio_pitch_period

    t = np.arange(512)
    rows = []
    for p in (4, 10, 42):
        sq = np.where((t % p) < p // 2, 8000, -8000).astype(np.int16)
        rows.append(Row(part_id=0, clip_id=f"p{p}", bytes=sq.tobytes(),
                        codec="pcm_s16le"))
    rows.append(Row(part_id=0, clip_id="bad", bytes=b"x", codec="flac"))
    out = {r["clip_id"]: r for r in
           audio_pitch_period(spark.createDataFrame(rows)).collect()}
    for p in (4, 10, 42):
        assert out[f"p{p}"]["decode_ok"] and out[f"p{p}"]["period_samples"] == p
    assert out["bad"]["decode_ok"] is False and out["bad"]["period_samples"] is None


def test_audio_split_on_silence(spark):
    from baskerville_spark.gates.audio_quality import audio_split_on_silence

    tone = np.full(10, 5000, dtype=np.int16)
    gap = np.zeros(64, dtype=np.int16)      # qualifying break
    pause = np.zeros(63, dtype=np.int16)    # sub-threshold pause: kept inside
    rows = [
        # three utterances separated by qualifying gaps
        Row(part_id=0, clip_id="three",
            bytes=np.concatenate([gap, tone, gap, tone, gap, tone, gap]).tobytes(),
            codec="pcm_s16le"),
        # short interior pause -> ONE segment spanning it
        Row(part_id=0, clip_id="pause",
            bytes=np.concatenate([tone, pause, tone]).tobytes(),
            codec="pcm_s16le"),
        Row(part_id=0, clip_id="silent",
            bytes=np.zeros(200, dtype=np.int16).tobytes(), codec="pcm_s16le"),
    ]
    segs = audio_split_on_silence(spark.createDataFrame(rows)).collect()
    by_clip = {}
    for r in segs:
        by_clip.setdefault(r["clip_id"], []).append((r["seg_idx"], r["n_samples"]))
    assert "silent" not in by_clip
    assert sorted(by_clip["three"]) == [(0, 10), (1, 10), (2, 10)]
    assert sorted(by_clip["pause"]) == [(0, 10 + 63 + 10)]
    # decoded segment content is the voiced span exactly
    three0 = next(r for r in segs if r["clip_id"] == "three" and r["seg_idx"] == 0)
    assert np.array_equal(audio.decode(bytes(three0["bytes"]), "pcm_s16le"), tone)


def test_audio_concat_segments_roundtrip(spark):
    from baskerville_spark.gates.audio_quality import (
        audio_concat_segments,
        audio_segment,
    )

    pcm = audio.synth_pcm("rt", 16000, 100)  # 1600 samples
    rows = [Row(part_id=0, clip_id="rt",
                bytes=bytes(audio.encode(pcm, "flac")), codec="flac")]
    rebuilt = audio_concat_segments(
        audio_segment(spark.createDataFrame(rows), segment_samples=700)
    ).collect()
    assert len(rebuilt) == 1
    r = rebuilt[0]
    assert r["n_samples"] == 1600 and r["codec"] == "flac"
    assert np.array_equal(audio.decode(bytes(r["bytes"]), "flac"), pcm)


def test_audio_align_offsets(spark):
    """Offset recovery: delay copies at frame and NON-frame offsets, a
    rescaled copy (exact rational ratio), a cross-codec twin, and the two
    drop contracts (shorter twin, silent base)."""
    from baskerville_spark.gates.audio_dedup import audio_align_offsets

    base = np.r_[
        np.full(100, 3000, dtype=np.int16),
        np.full(100, -2000, dtype=np.int16),
        np.full(120, 1000, dtype=np.int16),
    ]  # non-constant so alignment is content-driven, not just run-overlap
    rows = [
        Row(clip_id="b_main", bytes=audio.encode(base, "pcm_s16le"),
            codec="pcm_s16le"),
        Row(clip_id="b_zero",
            bytes=audio.encode(np.zeros(64, dtype=np.int16), "pcm_s16le"),
            codec="pcm_s16le"),
        # exact delay, frame multiple, stored as flac (per-side codec)
        Row(clip_id="t_128",
            bytes=audio.encode(
                np.r_[np.zeros(128, dtype=np.int16), base], "flac"),
            codec="flac"),
        # exact delay, off-grid offset → refine stage must find it
        Row(clip_id="t_37",
            bytes=audio.encode(
                np.r_[np.zeros(37, dtype=np.int16), base], "pcm_s16le"),
            codec="pcm_s16le"),
        # rescaled delay copy: ratio = 1.5 exactly (3000→4500 etc.)
        Row(clip_id="t_scaled",
            bytes=audio.encode(
                np.r_[np.zeros(64, dtype=np.int16),
                      (base.astype(np.int32) * 3 // 2).astype(np.int16)],
                "pcm_s16le"),
            codec="pcm_s16le"),
        # shorter than base: no valid placement → dropped
        Row(clip_id="t_short",
            bytes=audio.encode(base[:100], "pcm_s16le"), codec="pcm_s16le"),
        # twin for the silent base (ratio undefined) → dropped
        Row(clip_id="t_forzero",
            bytes=audio.encode(np.zeros(256, dtype=np.int16), "pcm_s16le"),
            codec="pcm_s16le"),
    ]
    clips = spark.createDataFrame(rows)
    cands = spark.createDataFrame(
        [
            Row(base_id="b_main", twin_id="t_128"),
            Row(base_id="b_main", twin_id="t_37"),
            Row(base_id="b_main", twin_id="t_scaled"),
            Row(base_id="b_main", twin_id="t_short"),
            Row(base_id="b_zero", twin_id="t_forzero"),
        ]
    )
    got = {
        r["twin_id"]: r
        for r in audio_align_offsets(clips, cands).collect()
    }
    assert set(got) == {"t_128", "t_37", "t_scaled"}
    assert got["t_128"]["offset_samples"] == 128
    assert got["t_128"]["match_ratio"] == 1.0
    assert got["t_37"]["offset_samples"] == 37
    assert got["t_37"]["match_ratio"] == 1.0
    assert got["t_scaled"]["offset_samples"] == 64
    assert got["t_scaled"]["match_ratio"] == 1.5


def test_audio_bandwidth(spark):
    """Rolloff: full-band vs band-limited vs silent vs short (zero-pad)."""
    from baskerville_spark.gates.audio_quality import audio_bandwidth

    t = np.arange(256)

    def sine(k, amp, n=256):
        return np.rint(amp * np.sin(2 * np.pi * k * np.arange(n) / 256.0)).astype(
            np.int16
        )

    rows = [
        Row(clip_id="low", bytes=audio.encode(sine(10, 8000), "pcm_s16le"),
            codec="pcm_s16le"),
        Row(clip_id="high", bytes=audio.encode(sine(120, 8000), "pcm_s16le"),
            codec="pcm_s16le"),
        Row(clip_id="silent",
            bytes=audio.encode(np.zeros(256, dtype=np.int16), "pcm_s16le"),
            codec="pcm_s16le"),
        # 128 samples: zero-padded to n_fft; a bin-10 sine over the first
        # half leaks across bins but stays low-band — rolloff must remain
        # far below Nyquist (the mislabeled-upsample signature)
        Row(clip_id="short", bytes=audio.encode(sine(10, 8000, 128), "pcm_s16le"),
            codec="pcm_s16le"),
    ]
    got = {
        r["clip_id"]: r
        for r in audio_bandwidth(spark.createDataFrame(rows)).collect()
    }
    assert got["low"]["rolloff_bin"] == 10
    assert got["low"]["band_frac"] == 10 / 128
    assert got["high"]["rolloff_bin"] == 120
    assert got["silent"]["decode_ok"] and got["silent"]["rolloff_bin"] is None
    assert got["short"]["rolloff_bin"] < 40  # leakage-bounded, still low-band


def test_payload_ops_fail_loudly_on_missing_columns(spark):
    """Round-5 review: pyarrow get_field_index(-1) + column(-1) silently
    binds the LAST column — every payload op must instead raise on a
    missing required column, and treat part_id as genuinely optional."""
    import pytest

    from baskerville_spark.gates.audio_dedup import audio_content_fingerprints
    from baskerville_spark.gates.audio_quality import (
        audio_bandwidth,
        audio_loudness_stats,
        audio_pitch_period,
        audio_spectral_features,
    )

    pcm = audio.encode(np.full(64, 1000, dtype=np.int16), "pcm_s16le")
    no_codec = spark.createDataFrame([("c1", bytearray(pcm))], "clip_id string, bytes binary")
    for op in (audio_bandwidth, audio_loudness_stats,
               audio_spectral_features, audio_pitch_period,
               audio_content_fingerprints):
        with pytest.raises(ValueError, match="missing required column"):
            op(no_codec)

    # part_id absent → typed NULLs, not a misbound column
    ok = spark.createDataFrame(
        [("c1", bytearray(pcm), "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    )
    row = audio_loudness_stats(ok).collect()[0]
    assert row["part_id"] is None and row["decode_ok"]


def test_audio_vad_stats(spark):
    """VAD summary: split vs kept pause, all-silent zeros (reported, not
    dropped), semantics shared with audio_split_on_silence."""
    from baskerville_spark.gates.audio_quality import (
        audio_split_on_silence,
        audio_vad_stats,
    )

    def clip(cid, *parts):
        return Row(clip_id=cid,
                   bytes=audio.encode(np.concatenate(parts), "pcm_s16le"),
                   codec="pcm_s16le")

    tone = lambda n, a=3000: np.full(n, a, dtype=np.int16)  # noqa: E731
    sil = lambda n: np.zeros(n, dtype=np.int16)             # noqa: E731
    clips = spark.createDataFrame([
        clip("split", sil(10), tone(100), sil(80), tone(50), sil(5)),
        clip("kept",  sil(10), tone(100), sil(30), tone(50)),
        clip("quiet", sil(200)),
    ])
    got = {r["clip_id"]: r
           for r in audio_vad_stats(clips).collect()}
    assert (got["split"]["n_utterances"], got["split"]["speech_samples"],
            got["split"]["longest_gap"]) == (2, 150, 80)
    assert (got["kept"]["n_utterances"], got["kept"]["speech_samples"],
            got["kept"]["longest_gap"]) == (1, 180, 30)
    assert (got["quiet"]["n_utterances"], got["quiet"]["speech_samples"],
            got["quiet"]["speech_frac"]) == (0, 0, 0.0)

    # utterance count agrees with the splitter's row fan-out per clip
    segs = audio_split_on_silence(clips)
    seg_counts = {r["clip_id"]: r["n"] for r in
                  segs.groupBy("clip_id").agg(F.count("*").alias("n")).collect()}
    assert seg_counts.get("split") == 2 and seg_counts.get("kept") == 1
    assert "quiet" not in seg_counts  # splitter drops, summary reports


def test_audio_dc_offset(spark, monkeypatch):
    from baskerville_spark.gates.audio_quality import audio_dc_offset

    # square wave around +1000: mean exactly 1000, suspect (1000/32768 > 2%)
    biased = np.empty(100, dtype=np.int16)
    biased[0::2], biased[1::2] = 1500, 500
    centered = np.array([700, -700] * 50, dtype=np.int16)  # mean exactly 0
    small = np.full(80, 300, dtype=np.int16)  # 300/32768 ≈ 0.9% — not suspect
    rows = [
        Row(part_id=0, clip_id="biased",
            bytes=bytes(audio.encode(biased, "flac")), codec="flac"),
        Row(part_id=0, clip_id="centered",
            bytes=bytes(audio.encode(centered, "pcm_s16le")), codec="pcm_s16le"),
        Row(part_id=1, clip_id="small",
            bytes=bytes(audio.encode(small, "pcm_s16le")), codec="pcm_s16le"),
        Row(part_id=1, clip_id="bad", bytes=b"xx", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_dc_offset(spark.createDataFrame(rows)).collect()}
    assert out["biased"]["dc_mean"] == 1000.0 and out["biased"]["dc_suspect"]
    assert out["centered"]["dc_mean"] == 0.0 and not out["centered"]["dc_suspect"]
    assert out["small"]["dc_mean"] == 300.0 and not out["small"]["dc_suspect"]
    assert abs(out["small"]["dc_frac"] - 300.0 / 32768.0) < 1e-18
    assert out["bad"]["decode_ok"] is False and out["bad"]["dc_mean"] is None

    # the policy threshold is a Column, not baked into the Arrow pass:
    # tightening it flips the verdict without touching the decode path
    from baskerville_spark.gates import audio_quality as AQ

    monkeypatch.setattr(AQ, "DC_SUSPECT_FRAC", 0.005)
    tight = {r["clip_id"]: r for r in
             audio_dc_offset(spark.createDataFrame(rows)).collect()}
    assert tight["small"]["dc_suspect"]

    # missing required column fails loudly at call time, for EVERY decode
    # op — the per-clip passes and the rewrite / fan-out ones alike
    # (shared audio.require_cols contract), never as a worker KeyError
    import pytest

    pcm = audio.encode(np.full(64, 1000, dtype=np.int16), "pcm_s16le")
    no_codec = spark.createDataFrame(
        [("c1", bytearray(pcm), 16000)], "clip_id string, bytes binary, sr_hz int")
    ops = (
        audio_dc_offset, AQ.audio_loudness_stats, AQ.audio_spectral_features,
        AQ.audio_pitch_period, AQ.audio_bandwidth, AQ.audio_vad_stats,
        AQ.audio_channel_balance, audio_content_fingerprints,
        lambda d: AQ.audio_resample(d, 8000), AQ.audio_downmix,
        AQ.audio_trim_silence, AQ.audio_normalize,
        lambda d: AQ.audio_segment(d, 32), AQ.audio_split_on_silence,
        lambda d: reencode(d, "flac"),
    )
    for op in ops:
        with pytest.raises(ValueError, match="missing required column"):
            op(no_codec)


def test_audio_channel_balance(spark):
    from baskerville_spark.gates.audio_quality import audio_channel_balance

    def interleave(l_ch, r_ch):
        x = np.empty(len(l_ch) * 2, dtype="<i2")
        x[0::2], x[1::2] = l_ch, r_ch
        return x.tobytes()

    s = np.tile(np.array([1, -1], np.int64), 50)
    rows = [
        # fake stereo: identical channels -> corr 1, balance exactly 0
        Row(part_id=0, clip_id="fake", bytes=interleave(1000 * s, 1000 * s),
            codec="pcm_s16le"),
        # polarity flip -> corr -1
        Row(part_id=0, clip_id="flip", bytes=interleave(1000 * s, -800 * s),
            codec="pcm_s16le"),
        # dead right channel -> rms_r/balance/corr all NULL
        Row(part_id=1, clip_id="dead",
            bytes=interleave(1000 * s, np.zeros(100, np.int64)),
            codec="pcm_s16le"),
        # trailing partial frame truncated (odd sample count)
        Row(part_id=1, clip_id="odd",
            bytes=interleave(500 * s, 500 * s)[:-2], codec="pcm_s16le"),
        Row(part_id=1, clip_id="bad", bytes=b"x", codec="flac"),
    ]
    out = {r["clip_id"]: r for r in
           audio_channel_balance(spark.createDataFrame(rows)).collect()}
    assert abs(out["fake"]["corr_lr"] - 1.0) < 1e-12
    assert out["fake"]["balance_db"] == 0.0
    assert abs(out["flip"]["corr_lr"] + 1.0) < 1e-12
    assert out["flip"]["balance_db"] > 0  # left louder than right
    assert out["dead"]["rms_l_dbfs"] is not None
    assert out["dead"]["rms_r_dbfs"] is None
    assert out["dead"]["balance_db"] is None and out["dead"]["corr_lr"] is None
    assert out["odd"]["n_frames"] == 99  # 199 samples -> 99 full frames
    assert out["bad"]["decode_ok"] is False

    import pytest

    no_codec = spark.createDataFrame(
        [("c1", bytearray(b"aa"))], "clip_id string, bytes binary")
    with pytest.raises(ValueError, match="missing required column"):
        audio_channel_balance(no_codec)


def test_conflicting_label_groups(spark):
    from baskerville_spark.gates.audio_dedup import conflicting_label_groups

    pcm_a = audio.synth_pcm("lblA", 8000, 80)
    pcm_b = audio.synth_pcm("lblB", 8000, 80)
    pcm_c, pcm_d, pcm_e = (
        audio.synth_pcm(k, 8000, 80) for k in ("lblC", "lblD", "lblE")
    )
    rows = [
        # same decoded content across containers, DISAGREEING labels
        ("c1", bytearray(audio.encode(pcm_a, "pcm_s16le")), "pcm_s16le", "hello"),
        ("c2", bytearray(audio.encode(pcm_a, "flac")), "flac", "goodbye"),
        # same content, SAME label -> consistent, not a conflict
        ("c3", bytearray(audio.encode(pcm_b, "pcm_s16le")), "pcm_s16le", "x y"),
        ("c4", bytearray(audio.encode(pcm_b, "flac")), "flac", "x y"),
        # undecodable payload never forms a group
        ("c5", bytearray(b"\x00\x01"), "mp3", "junk"),
        # a repeated clip_id over two different contents: each transcript
        # stays with its own payload, so no content has two labels
        ("d1", bytearray(audio.encode(pcm_c, "pcm_s16le")), "pcm_s16le", "hello"),
        ("d1", bytearray(audio.encode(pcm_d, "pcm_s16le")), "pcm_s16le", "world"),
        ("d2", bytearray(audio.encode(pcm_c, "flac")), "flac", "hello"),
        # a NULL transcript is no label: beside a labelled copy, no conflict
        ("n1", bytearray(audio.encode(pcm_e, "pcm_s16le")), "pcm_s16le", "lbl"),
        ("n2", bytearray(audio.encode(pcm_e, "flac")), "flac", None),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, transcript string"
    )
    out = sorted(
        (r["group_key"], r["clip_id"], r["n_labels"])
        for r in conflicting_label_groups(df).collect()
    )
    assert out == [("c1", "c1", 2), ("c1", "c2", 2)]


def test_conflicting_label_groups_caches_decode_pass(spark):
    """The labeled (content_md5, clip_id, transcript) frame is persisted:
    the member back-join must read the cache, not re-run the decode pass."""
    from baskerville_spark.gates.audio_dedup import conflicting_label_groups

    pcm = audio.synth_pcm("lblC", 8000, 80)
    df = spark.createDataFrame(
        [
            ("c1", bytearray(audio.encode(pcm, "pcm_s16le")), "pcm_s16le", "a"),
            ("c2", bytearray(audio.encode(pcm, "flac")), "flac", "b"),
        ],
        "clip_id string, bytes binary, codec string, transcript string",
    )
    out = conflicting_label_groups(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()
