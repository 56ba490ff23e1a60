"""Audio codec stand-ins + SNR math (driver- and executor-side numpy).

Real audio codecs (libflac/libopus via soundfile/av) are NOT in this
container, so the *codec layer* is a deterministic stand-in behind the same
interface, clearly marked. Everything Spark-side — schema (binary column),
Arrow batching, UDF signatures, partitioning — is real and is what matters
at 100 TB. Swapping in real codecs means replacing `encode`/`decode` bodies
only.

Stand-in codecs (all deterministic, all little-endian):
- ``pcm_s16le``: raw PCM16 — byte-identical round trip.
- ``flac``: zlib-compressed PCM16 with a 'fLaC'-tagged header — lossless
  round trip (models a lossless codec).
- ``opus``: PCM quantized to 12 bits then zlib-compressed, 'OggS'-tagged —
  lossy round trip at ~74 dB SNR (models a lossy codec that still clears
  the 30 dB invariant).

The per-row invariant (BASELINE.json input_hint): decoded PCM must be
allclose to the deterministically regenerated reference signal at
SNR >= 30 dB, plus exact transcript equality. If a real codec is wanted,
replace `decode` and raise NotImplementedError for unknown codecs.

Every Spark operator that reads payloads goes through the one Arrow
boundary at the end of this module: ``decode_pass`` (one narrow row per
clip) or ``map_payloads`` (rewrite / fan out rows, metadata carried). Both
share one ``for batch / for row / decode`` loop, so every operator agrees
on what a decodable clip is; an operator is a per-clip numpy kernel plus
one call.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Optional-dependency seam: with soundfile/libsndfile present (real
# clusters), payloads that are NOT the deterministic stand-in containers
# decode through libsndfile via the same `decode` entry point; absent (this
# container), unknown payloads stay structural violations. Probed once per
# process.
try:  # pragma: no cover - not installed in this container
    import soundfile as _soundfile
except ImportError:
    _soundfile = None

SNR_THRESHOLD_DB = 30.0

_FLAC_MAGIC = b"fLaC"
_OPUS_MAGIC = b"OggS"

KNOWN_CODECS = ("pcm_s16le", "flac", "opus", "mulaw")

# --------------------------------------------------------------------------
# ITU-T G.711 mu-law — a REAL codec, not a stand-in (pure integer spec,
# no external library): the telephony ingest format (RTP PCMU, .ul files,
# call-center corpora). 1 byte/sample, headerless, 8 log segments.
# --------------------------------------------------------------------------

_G711_BIAS = 0x84  # 132
_G711_CLIP = 32635


def mulaw_compress(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 G.711 mu-law (vectorized, bit-exact to the spec)."""
    x = pcm.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _G711_CLIP) + _G711_BIAS
    # exponent = floor(log2(mag)) - 7 in [0, 7]; np.frexp is exact on
    # integers (mag = m * 2^e, 0.5 <= m < 1 → e = floor(log2) + 1), unlike
    # float log2 whose rounding can cross a power-of-two boundary
    exp = np.clip(np.frexp(mag.astype(np.float64))[1] - 8, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def mulaw_expand(u: np.ndarray) -> np.ndarray:
    """uint8 G.711 mu-law → int16 PCM (exact inverse of the spec tables)."""
    c = (~u.astype(np.int32)) & 0xFF
    exp = (c >> 4) & 0x07
    mag = (((c & 0x0F) << 3) + _G711_BIAS << exp) - _G711_BIAS
    return np.where(c & 0x80, -mag, mag).astype(np.int16)


def clip_seed(clip_id: str) -> int:
    """Stable 64-bit seed from a clip_id (md5 prefix — any stable hash works)."""
    return int.from_bytes(hashlib.md5(clip_id.encode()).digest()[:8], "little")


def synth_pcm_n(clip_id: str, sr_hz: int, n: int) -> np.ndarray:
    """Deterministic PCM16 signal of exactly n samples: seeded sine + noise.

    Same recipe on generator and checker side, so the SNR check is exact;
    the checker infers n from the decoded payload length.
    """
    n = max(1, n)
    rng = np.random.default_rng(clip_seed(clip_id))
    t = np.arange(n, dtype=np.float64) / sr_hz
    f0 = 100.0 + rng.uniform(0, 1000.0)
    sig = 0.6 * np.sin(2 * np.pi * f0 * t) + 0.1 * rng.standard_normal(n)
    pcm = np.clip(sig * 16384.0, -32768, 32767).astype(np.int16)
    return pcm


def synth_pcm(clip_id: str, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Deterministic PCM16 signal for a clip of dur_ms milliseconds."""
    return synth_pcm_n(clip_id, sr_hz, int(sr_hz * dur_ms / 1000))


def encode(pcm: np.ndarray, codec: str) -> bytes:
    """Encode int16 PCM under the stand-in codec."""
    raw = pcm.astype("<i2").tobytes()
    if codec == "pcm_s16le":
        return raw
    if codec == "flac":
        return _FLAC_MAGIC + struct.pack("<I", len(pcm)) + zlib.compress(raw, 1)
    if codec == "opus":
        # 12-bit quantization: SNR ~ 6.02*12 + 1.76 ≈ 74 dB — lossy but well
        # above the 30 dB invariant for uncorrupted payloads.
        q = (pcm.astype(np.int32) >> 4).astype("<i2").tobytes()
        return _OPUS_MAGIC + struct.pack("<I", len(pcm)) + zlib.compress(q, 1)
    if codec == "mulaw":
        # real G.711: raw headerless stream, 1 byte/sample (RTP PCMU wire)
        return mulaw_compress(pcm).tobytes()
    raise NotImplementedError(f"unknown codec {codec!r}")


def _decode_standin(payload: bytes, codec: str) -> np.ndarray | None:
    """The deterministic stand-in containers only; None on any mismatch."""
    try:
        if codec == "pcm_s16le":
            if len(payload) % 2:
                return None
            return np.frombuffer(payload, dtype="<i2")
        if codec == "flac":
            if payload[:4] != _FLAC_MAGIC:
                return None
            (n,) = struct.unpack("<I", payload[4:8])
            raw = zlib.decompress(payload[8:])
            pcm = np.frombuffer(raw, dtype="<i2")
            return pcm if len(pcm) == n else None
        if codec == "opus":
            if payload[:4] != _OPUS_MAGIC:
                return None
            (n,) = struct.unpack("<I", payload[4:8])
            raw = zlib.decompress(payload[8:])
            q = np.frombuffer(raw, dtype="<i2")
            if len(q) != n:
                return None
            return (q.astype(np.int32) << 4).astype(np.int16)
        if codec == "mulaw":
            # headerless by spec: every byte is a sample (no structure to
            # validate — exactly like a raw PCMU capture)
            return mulaw_expand(np.frombuffer(payload, dtype=np.uint8))
        return None
    except Exception:
        return None


def decode(payload: bytes, codec: str) -> np.ndarray | None:
    """Decode to int16 PCM; None when the payload is structurally invalid.

    Stand-in containers decode directly; anything else (a REAL flac/opus/
    wav payload, or a codec the stand-ins don't model) goes through
    libsndfile when soundfile is importable — so the same call sites upgrade
    to real codecs on a cluster that has the library, with no plan change.
    """
    pcm = _decode_standin(payload, codec)
    if pcm is not None:
        return pcm
    if _soundfile is not None:  # pragma: no cover - real-codec seam
        try:
            data, _sr = _soundfile.read(io.BytesIO(payload), dtype="int16")
            return data if data.ndim == 1 else data[:, 0]
        except Exception:
            return None
    return None  # unknown codec → structural violation, not a crash


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of `test` against reference signal `ref` in dB."""
    if ref.shape != test.shape:
        return float("-inf")
    r = ref.astype(np.float64)
    e = r - test.astype(np.float64)
    p_sig = float(np.mean(r * r))
    p_err = float(np.mean(e * e))
    if p_err == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_err)


# --------------------------------------------------------------------------
# The Arrow boundary: one decode loop shared by every payload operator.
# --------------------------------------------------------------------------


def require_cols(df: DataFrame, names: Sequence[str]) -> None:
    """Fail loudly, at call time, on a missing input column — never as a
    KeyError inside a Python worker at action time, and never as
    pyarrow's ``column(-1)``, which silently binds the LAST column."""
    missing = [n for n in dict.fromkeys(names) if n not in df.columns]
    if missing:
        raise ValueError(
            f"missing required column(s) {missing}; frame has {df.columns}"
        )


def _decoded(
    b: pa.RecordBatch, args: Sequence[str]
) -> Iterator[tuple[np.ndarray | None, list]]:
    """(pcm, per-row ``args`` values) for each row of an Arrow batch; pcm
    is None for a NULL payload, a payload that does not decode, and one
    that decodes to zero samples — a clip with no samples has no content
    to measure, rewrite or check."""
    payloads = b.column("bytes").to_pylist()
    codecs = b.column("codec").to_pylist()
    extra = [b.column(a).to_pylist() for a in args]
    for i, payload in enumerate(payloads):
        pcm = decode(payload, codecs[i]) if payload is not None else None
        yield (pcm if pcm is not None and len(pcm) else None), [c[i] for c in extra]


def decode_pass(
    df: DataFrame,
    schema: T.StructType,
    kernel: Callable[..., tuple | None],
    args: Sequence[str] = (),
    fail: tuple | None = None,
) -> DataFrame:
    """One narrow ``schema`` row per input row, each payload decoded once.

    - Fields of ``schema`` that ``df`` carries pass through, cast to the
      declared type; a ``part_id`` that ``df`` lacks becomes typed NULLs.
      Callers hand in a projection, so a column that merely shares a
      metric's name cannot shadow the kernel's field.
    - ``decode_ok`` is set here: True when the payload is non-NULL,
      decodes, has samples, and ``kernel`` does not return None.
    - ``kernel(pcm, *row_values_of_args)`` returns the remaining fields,
      in schema order. Failed rows get ``fail`` (default: all NULL).

    ``args`` names input columns whose per-row values follow the PCM into
    the kernel (``clip_id``, ``sr_hz``); constants bind in the kernel's
    closure. Payload bytes never leave the Python side.
    """
    require_cols(df, ("bytes", "codec", *args))
    names = schema.names
    carried = [n for n in names if n in df.columns and n != "decode_ok"]
    computed = [n for n in names if n not in carried
                and n not in ("decode_ok", "part_id")]
    fail = (None,) * len(computed) if fail is None else tuple(fail)
    arrow = to_arrow_schema(schema)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            oks: list[bool] = []
            cols: list[list] = [[] for _ in computed]
            for pcm, row in _decoded(b, args):
                out = kernel(pcm, *row) if pcm is not None else None
                oks.append(out is not None)
                for col, v in zip(cols, fail if out is None else out):
                    col.append(v)
            by_name = dict(zip(computed, cols))
            arrays = []
            for f in arrow:
                if f.name == "decode_ok":
                    arrays.append(pa.array(oks, f.type))
                elif f.name in by_name:
                    arrays.append(pa.array(by_name[f.name], f.type))
                elif f.name in carried:
                    arrays.append(b.column(f.name).cast(f.type))
                else:  # part_id the input lacks
                    arrays.append(pa.nulls(len(b), f.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow)

    cols = list(dict.fromkeys([*carried, "bytes", "codec", *args]))
    return df.select(*cols).mapInArrow(_run, schema=schema)


def map_payloads(
    df: DataFrame,
    fn: Callable[..., list[dict]],
    out_schema: T.StructType | None = None,
    args: Sequence[str] = (),
) -> DataFrame:
    """Rewrite or fan out rows, every other column carried through.

    ``fn(pcm, *row_values_of_args)`` returns one dict of column
    replacements per OUTPUT row (``{"bytes": ..., "sr_hz": ...}``; new
    ``out_schema`` columns such as ``seg_idx`` go in the same dict, and
    every dict names the same columns); an empty list drops the row. Rows
    without decodable samples drop. Carried columns are Arrow ``take``s of
    the input batch — metadata never round-trips through Python objects.
    """
    require_cols(df, ("bytes", "codec", *args))
    out_schema = out_schema or df.schema
    new = to_arrow_schema(
        T.StructType([f for f in out_schema if f.name not in df.columns])
    )

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            keep: list[int] = []
            outs: list[dict] = []
            for i, (pcm, row) in enumerate(_decoded(b, args)):
                if pcm is None:
                    continue
                for d in fn(pcm, *row):
                    keep.append(i)
                    outs.append(d)
            idx = pa.array(keep, pa.int64())
            replaced = {k for d in outs for k in d}
            arrays, fields = [], []
            for name in out_schema.names:
                f = new.field(name) if name in new.names else b.schema.field(name)
                if name in new.names or name in replaced:
                    arrays.append(pa.array([d[name] for d in outs], f.type))
                else:
                    arrays.append(b.column(name).take(idx))
                fields.append(f)
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return df.mapInArrow(_run, schema=out_schema)
