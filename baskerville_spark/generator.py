"""Deterministic distributed synthetic clip-table generator.

Scale-first design: the table is generated *on the executors* with
``rows_from_range`` (``mapInPandas`` over ``spark.range(n)``) — no
driver-side row loop, so the same code generates 60k rows locally or 10^12
rows on a cluster (the range source splits into partitions; every row is a
pure function of its index).

Violation injection is deterministic by row index (FIXTURES.md §1):
- ``i % DUP_MOD == DUP_OFF``        → duplicate clip_id (copies row i-1's id)
- ``i % SNR_MOD == SNR_OFF``        → corrupted audio (heavy noise → SNR << 30 dB)
- ``i % TRANS_MOD == TRANS_OFF``    → transcript mutated vs reference
- ``i % NULL_MOD == NULL_OFF``      → dur_ms NULL
- ``i % RANGE_MOD == RANGE_OFF``    → dur_ms out of declared range
- ``i % RI_MOD == RI_OFF``          → clip_id absent from transcripts_ref dim
Partition 0 is kept fully clean (all-pass golden); the last partition gets a
drifted sr_hz distribution and an unseen 'mp3' codec (PSI/KS golden) —
mirrors the reference fixture style of literal rows with known expected
values (tests/unit/baskerville_tests/features_tests/test_feature_css_total.py:42-63).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, ClassVar, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from baskerville_spark import audio
from baskerville_spark.schema import CLIP_SCHEMA, DUR_MS_MAX, TRANSCRIPT_REF_SCHEMA

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu"
).split()

SR_CHOICES = np.array([8000, 16000, 22050, 44100, 48000])
SR_WEIGHTS = np.array([0.1, 0.4, 0.2, 0.2, 0.1])
SR_WEIGHTS_DRIFT = np.array([0.02, 0.08, 0.05, 0.05, 0.8])  # drifted partition
CODECS = np.array(["pcm_s16le", "flac", "opus"])
CODEC_WEIGHTS = np.array([0.5, 0.3, 0.2])

DUP_MOD, DUP_OFF = 199, 17
SNR_MOD, SNR_OFF = 211, 31
TRANS_MOD, TRANS_OFF = 223, 13
NULL_MOD, NULL_OFF = 227, 41
RANGE_MOD, RANGE_OFF = 229, 7
RI_MOD, RI_OFF = 233, 29
MP3_MOD, MP3_OFF = 5, 2  # drift-partition rows with an unseen codec


@dataclass(frozen=True)
class GenConfig:
    n_rows: int
    n_parts: int
    dur_min_ms: ClassVar[int] = 50
    dur_max_ms: ClassVar[int] = 500


def part_of(i: int, cfg: GenConfig) -> int:
    """Contiguous block partition assignment (stands in for Iceberg partition)."""
    return min(cfg.n_parts - 1, i * cfg.n_parts // max(1, cfg.n_rows))


def is_clean_part(i: int, cfg: GenConfig) -> bool:
    return part_of(i, cfg) == 0


def is_drift_part(i: int, cfg: GenConfig) -> bool:
    return cfg.n_parts > 1 and part_of(i, cfg) == cfg.n_parts - 1


def canonical_clip_id(i: int) -> str:
    return f"clip_{i:012d}"


def clip_id_of(i: int, cfg: GenConfig) -> str:
    if i > 0 and i % DUP_MOD == DUP_OFF and not is_clean_part(i, cfg) \
            and part_of(i, cfg) == part_of(i - 1, cfg):
        return canonical_clip_id(i - 1)  # injected duplicate
    return canonical_clip_id(i)


def canonical_transcript(clip_id: str) -> str:
    """The clip's reference transcript: 3 to 11 words of ``_WORDS``, seeded
    by ``clip_id``."""
    rng = np.random.default_rng(audio.clip_seed(clip_id) ^ 0xA5A5)
    k = int(rng.integers(3, 12))
    return " ".join(rng.choice(_WORDS, size=k))


def _row(i: int, cfg: GenConfig) -> dict:
    cid = clip_id_of(i, cfg)
    rng = np.random.default_rng(audio.clip_seed(cid) ^ i)
    clean = is_clean_part(i, cfg)
    drift = is_drift_part(i, cfg)

    sr = int(rng.choice(SR_CHOICES, p=SR_WEIGHTS_DRIFT if drift else SR_WEIGHTS))
    dur = int(rng.integers(cfg.dur_min_ms, cfg.dur_max_ms + 1))
    # mp3 never lands on an SNR-corrupted row so the snr / decode_error
    # golden counts stay independent. The selection is a DETERMINISTIC mod
    # (~20% of the drift partition, like the old rng draw) so the expected
    # pattern:codec / decode_error verdict counts are closed-form — the q21
    # DuckDB oracle reproduces them arithmetically (MP3_MOD/MP3_OFF below).
    if drift and i % SNR_MOD != SNR_OFF and i % MP3_MOD == MP3_OFF:
        codec = "mp3"  # unseen category → categorical PSI drift + decode violation
    else:
        codec = str(rng.choice(CODECS, p=CODEC_WEIGHTS))

    pcm = audio.synth_pcm(cid, sr, dur)
    if not clean and i % SNR_MOD == SNR_OFF:
        noise_rng = np.random.default_rng(audio.clip_seed(cid) ^ 0xBAD)
        noisy = pcm.astype(np.int32) + (
            noise_rng.standard_normal(len(pcm)) * 16384.0
        ).astype(np.int32)
        pcm = np.clip(noisy, -32768, 32767).astype(np.int16)

    payload = audio.encode(pcm, codec if codec in audio.KNOWN_CODECS else "pcm_s16le")

    transcript = canonical_transcript(cid)
    if not clean and i % TRANS_MOD == TRANS_OFF:
        transcript = transcript + " corrupted"

    dur_col: int | None = dur
    if not clean and i % NULL_MOD == NULL_OFF:
        dur_col = None
    elif not clean and i % RANGE_MOD == RANGE_OFF:
        dur_col = DUR_MS_MAX + int(rng.integers(1, 10_000_000))

    return {
        "clip_id": cid,
        "bytes": payload,
        "sr_hz": sr,
        "dur_ms": dur_col,
        "codec": codec,
        "transcript": transcript,
        "part_id": part_of(i, cfg),
    }


def _default_partitions(spark: SparkSession, cfg: GenConfig) -> int:
    # enough splits to keep every core busy even with uneven synth cost,
    # but never more than ~1 task per 50 rows: a 1000-row protocol fixture
    # on 64 splits paid ~60 near-empty mapInPandas task launches (python
    # worker + Arrow setup each) for ~0.5 core-seconds of synth — measured
    # 5.6 s wall, ~2.5 s at row-proportional split count. Large tables
    # (the 100k-clip bench, scaling runs) still get the full 2x-cores fan.
    wide = max(cfg.n_parts, spark.sparkContext.defaultParallelism * 2)
    return max(cfg.n_parts, min(wide, cfg.n_rows // 50 + 1))


#: Columns every planted gate fixture carries; gates append their own.
PLANT_SCHEMA = "part_id int, clip_id string, bytes binary, codec string"


def planted_clip(
    prefix: str, i: int, pcm: np.ndarray, codec: str = "pcm_s16le", **extra
) -> dict:
    """One ``PLANT_SCHEMA`` row (plus ``extra`` columns) of a planted gate
    fixture: clip ``{prefix}_{i:06d}`` on part ``i % 4``, ``pcm`` encoded
    under ``codec``."""
    return {"part_id": i % 4, "clip_id": f"{prefix}_{i:06d}",
            "bytes": audio.encode(pcm, codec), "codec": codec, **extra}


def rows_from_range(
    spark: SparkSession,
    n: int,
    rows: Callable[[int], list[dict]],
    schema: str | T.StructType,
    num_partitions: int | None = None,
) -> DataFrame:
    """``spark.range(n)`` → one ``mapInPandas`` that calls ``rows(i)`` for
    every index: the single "row index → rows" loop behind the generator
    and the gate fixtures.

    ``rows(i)`` returns a list of row dicts — ``[]`` drops the index, two
    dicts emit two rows. Every batch is built with the schema's column
    names, so a batch whose indices were all dropped is still well-typed.
    With ``num_partitions`` None the range keeps its default split.
    """
    names = (T.StructType.fromDDL(schema) if isinstance(schema, str) else schema).names

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                [r for i in b["id"] for r in rows(int(i))], columns=names
            )

    return spark.range(0, n, 1, num_partitions).mapInPandas(batch, schema=schema)


def generate_clips(spark: SparkSession, cfg: GenConfig) -> DataFrame:
    """Distributed generation; each row derived from its index."""
    return rows_from_range(
        spark, cfg.n_rows, lambda i: [_row(i, cfg)], CLIP_SCHEMA,
        _default_partitions(spark, cfg),
    )


def generate_transcript_ref(spark: SparkSession, cfg: GenConfig) -> DataFrame:
    """Authoritative transcript dim; RI-violation clip_ids deterministically absent."""

    def ref_rows(i: int) -> list[dict]:
        cid = clip_id_of(i, cfg)
        if cid != canonical_clip_id(i):
            return []  # duplicate rows share the original's ref entry
        if not is_clean_part(i, cfg) and i % RI_MOD == RI_OFF:
            return []  # injected referential-integrity violation
        return [{"clip_id": cid, "transcript_ref": canonical_transcript(cid)}]

    return rows_from_range(
        spark, cfg.n_rows, ref_rows, TRANSCRIPT_REF_SCHEMA,
        _default_partitions(spark, cfg),
    )


def expected_violation_indices(cfg: GenConfig) -> dict[str, list[int]]:
    """Ground truth for tests: row indices violating each check."""
    out: dict[str, list[int]] = {
        "uniqueness": [],
        "snr": [],
        "transcript_eq": [],
        "null_rate": [],
        "range": [],
        "ref_integrity": [],
        "decode_error": [],
    }
    for i in range(cfg.n_rows):
        if (
            is_drift_part(i, cfg)
            and i % SNR_MOD != SNR_OFF
            and i % MP3_MOD == MP3_OFF
        ):
            out["decode_error"].append(i)  # mp3 codec → pattern:codec too
        if is_clean_part(i, cfg):
            continue
        if i > 0 and i % DUP_MOD == DUP_OFF and part_of(i, cfg) == part_of(i - 1, cfg):
            out["uniqueness"].append(i)
        if i % SNR_MOD == SNR_OFF:
            out["snr"].append(i)
        if i % TRANS_MOD == TRANS_OFF:
            out["transcript_eq"].append(i)
        if i % NULL_MOD == NULL_OFF:
            out["null_rate"].append(i)
        elif i % RANGE_MOD == RANGE_OFF:
            out["range"].append(i)
        if i % RI_MOD == RI_OFF and clip_id_of(i, cfg) == canonical_clip_id(i):
            out["ref_integrity"].append(i)
    return out


def write_clips(spark: SparkSession, path: str, cfg: GenConfig) -> None:
    """Write partitioned by part_id.

    Generator range-splits are contiguous and part assignment is contiguous,
    so each task intersects at most two part values — file count stays
    ~n_tasks + n_parts without any shuffle (production: Iceberg
    write.target-file-size governs this).
    """
    generate_clips(spark, cfg).write.mode("overwrite").partitionBy("part_id").parquet(path)


def write_transcript_ref(spark: SparkSession, path: str, cfg: GenConfig) -> None:
    df = generate_transcript_ref(spark, cfg)
    n_files = max(4, cfg.n_rows // 100_000 + 1)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
