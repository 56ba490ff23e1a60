"""Edge-case golden for every per-clip audio operator.

One small hand-made clip table exercises the decode corner cases no gate
plants: a NULL payload, empty payloads (pcm_s16le and mu-law), a flac with
a bad magic, an unknown codec, 1- and 2-sample clips, an all-zero clip and
a +/- square-wave stereo clip, plus the same table without ``part_id``.
Every operator's rows and output schema (nullability included) are pinned
to ``tests/data/audio_edge_golden.json``: the NULL-dBFS-on-silence rule,
the pitch (``len <= min_lag``) and balance (``len < n_channels``)
``decode_ok`` rules, and which rows the rewrite/fan-out ops drop.

Payload bytes are pinned by their decoded PCM (length + md5 under the
row's codec), floats to 1e-9 relative. ``PYTHONPATH=. python
tests/test_audio_golden.py`` rewrites the golden file from the current
code; review its diff row by row.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

import numpy as np
import pytest

from baskerville_spark import audio

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "audio_edge_golden.json")

_COLS = (
    "part_id int, clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)


def _edge_rows() -> list[tuple]:
    tone = audio.synth_pcm_n("tone", 16000, 640)
    gappy = np.concatenate(
        [audio.synth_pcm_n("gappy", 16000, 200), np.zeros(100, np.int16),
         audio.synth_pcm_n("gappy", 16000, 200)]
    )
    s = np.tile(np.array([1, 1, -1, -1], np.int16), 64)
    square = np.empty(2 * len(s), dtype=np.int16)
    square[0::2], square[1::2] = 1000 * s, -500 * s

    def enc(pcm, codec):
        return bytearray(audio.encode(np.asarray(pcm, np.int16), codec))

    return [
        (0, "tone", enc(tone, "opus"), 16000, 40, "opus", "hello"),
        (0, "gappy", enc(gappy, "pcm_s16le"), 16000, 31, "pcm_s16le", "gap"),
        (0, "square", enc(square, "pcm_s16le"), 16000, 32, "pcm_s16le", None),
        (0, "zeros", enc(np.zeros(300), "pcm_s16le"), 16000, 19, "pcm_s16le", "z"),
        (0, "mu", enc(audio.synth_pcm_n("mu", 8000, 160), "mulaw"), 8000, 20,
         "mulaw", "mu"),
        (1, "one", enc([1234], "pcm_s16le"), 16000, 0, "pcm_s16le", "one"),
        (1, "two", enc([-32768, 32767], "flac"), 16000, 0, "flac", "two"),
        (1, "null", None, 16000, 10, "pcm_s16le", "null"),
        (1, "badflac", bytearray(b"fLaX\x02\x00\x00\x00junk"), 16000, 10,
         "flac", "bad"),
        (1, "mp3", bytearray(b"ID3\x03\x00\x00\x00\x00\x00\x00\xff\xfb"), 16000,
         10, "mp3", "mp3"),
        (2, "empty", bytearray(b""), 16000, 0, "pcm_s16le", "e"),
        (2, "empty_mu", bytearray(b""), 8000, 0, "mulaw", "e"),
    ]


def _norm(v, codec):
    if isinstance(v, (bytes, bytearray)):
        pcm = audio.decode(bytes(v), codec)
        if pcm is None:
            return {"raw_len": len(v), "raw_md5": hashlib.md5(bytes(v)).hexdigest()}
        md5 = hashlib.md5(pcm.astype("<i2").tobytes()).hexdigest()
        return {"n": len(pcm), "pcm_md5": md5}
    if isinstance(v, Decimal):
        return str(v)
    return v


def _rows(df) -> list[dict]:
    out = []
    for r in df.collect():
        d = r.asDict()
        out.append({k: _norm(v, d.get("codec")) for k, v in d.items()})
    return sorted(out, key=lambda d: json.dumps(d, sort_keys=True, default=str))


def edge_outputs(spark) -> dict:
    """{operator label: {"schema": ..., "rows": [...]}} on the edge table."""
    from baskerville_spark.checks import audio_state as AS
    from baskerville_spark.checks import invariants as INV
    from baskerville_spark.functions import audio_dedup as AD
    from baskerville_spark.functions import audio_quality as AQ

    clips = spark.createDataFrame(_edge_rows(), _COLS)
    no_part = clips.drop("part_id")
    tref = spark.createDataFrame(
        [("tone", "hello"), ("gappy", "gap!"), ("zeros", "z"), ("one", "one")],
        "clip_id string, transcript_ref string",
    )
    per_clip = {
        "loudness": AQ.audio_loudness_stats,
        "spectral": lambda d: AQ.audio_spectral_features(d, n_fft=64),
        "dc_offset": AQ.audio_dc_offset,
        "pitch_period": AQ.audio_pitch_period,
        "bandwidth": lambda d: AQ.audio_bandwidth(d, n_fft=64),
        "vad_stats": AQ.audio_vad_stats,
        "channel_balance": AQ.audio_channel_balance,
        "fingerprints": AD.audio_content_fingerprints,
    }
    inv = INV.audio_invariant(clips, tref)
    frames = {
        "invariant": inv,
        "invariant_violations": INV.invariant_violations(inv),
        "decode_state": AS.decode_state(clips),
        "state_from_invariant": AS.state_from_per_clip(inv),
        "resample": AQ.audio_resample(clips, 8000),
        "downmix": AQ.audio_downmix(clips),
        "trim_silence": AQ.audio_trim_silence(clips),
        "normalize": AQ.audio_normalize(clips),
        "segment": AQ.audio_segment(clips, 128),
        "split_on_silence": AQ.audio_split_on_silence(clips),
        "reencode": AD.reencode(clips, "flac"),
    }
    for name, op in per_clip.items():
        frames[name] = op(clips)
        frames[name + "/no_part_id"] = op(no_part)
    return {
        name: {"schema": df.schema.jsonValue(), "rows": _rows(df)}
        for name, df in sorted(frames.items())
    }


def _same(got, want) -> bool:
    if isinstance(want, float) and isinstance(got, float):
        if math.isinf(want) or math.isnan(want):
            return got == want or (math.isnan(want) and math.isnan(got))
        return got == pytest.approx(want, rel=1e-9, abs=1e-12)
    if isinstance(want, dict) and isinstance(got, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
    if isinstance(want, list) and isinstance(got, list):
        return len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want))
    return got == want


def test_audio_operators_edge_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = json.loads(json.dumps(edge_outputs(spark)))
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name]["schema"] == want[name]["schema"], name
        assert _same(got[name]["rows"], want[name]["rows"]), (
            name, got[name]["rows"], want[name]["rows"])


def _write_golden(outputs: dict, path: str = GOLDEN) -> None:
    """One line per row, so a semantic change reads as a one-line diff."""
    lines = ["{"]
    for i, name in enumerate(sorted(outputs)):
        rows = outputs[name]["rows"]
        lines.append(f"{json.dumps(name)}: {{")
        schema = json.dumps(outputs[name]["schema"], sort_keys=True)
        lines.append(f' "schema": {schema},')
        lines.append(' "rows": [')
        lines += [f"  {json.dumps(r, sort_keys=True)}{',' if j < len(rows) - 1 else ''}"
                  for j, r in enumerate(rows)]
        lines.append(" ]}" + ("," if i < len(outputs) - 1 else ""))
    lines.append("}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    from baskerville_spark.session import get_session

    _write_golden(edge_outputs(get_session("audio-golden", master="local[4]")))
