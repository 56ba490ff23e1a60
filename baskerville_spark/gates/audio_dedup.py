"""Content-based audio deduplication: decode-level fingerprints.

Byte-level dedup (md5 of the payload) misses the commonest audio dup of
all: the same recording stored under two containers (raw PCM vs a FLAC of
it) or re-encoded. These operators fingerprint the DECODED signal instead:

- ``content_md5``: md5 of the decoded PCM sample stream — exact content
  identity, invariant across lossless containers (pcm_s16le <-> flac here).
- ``envelope_fp``: a 64-bit robust fingerprint — sample count (exactly
  preserved by any honest transcode) in bits 48-62 (15 bits, keeping the
  int64 sign bit clear), plus 6 segments
  x (4-bit normalized RMS energy + 4-bit zero-crossing rate). Coarse
  enough to survive mild lossy re-encoding (the opus stand-in's 12-bit
  quantization perturbs samples by ~0.02%, far below a 4-bit bucket;
  measured 100/100 pcm<->opus matches), selective enough to separate
  distinct recordings (measured 1816 distinct keys over 2000 varied
  clips) — an LSH-style CANDIDATE key: verify bucket matches with
  content_md5 or an SNR cross-check, exactly like MinHash candidates.

Scale shape: ONE ``mapInArrow`` pass over the payload column (the same
discipline as the SNR invariant — decode each payload exactly once, emit
narrow rows); dedup is then a hash join/groupBy on the 16-byte/8-byte
fingerprint — payloads never shuffle. Reference seam: Baskerville has no
audio-content operator at all (its dedup is request-set key equality);
this is a from-scratch extension for the audio graft cell.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from baskerville_spark import audio
from baskerville_spark.gates.audio_quality import _per_clip
from baskerville_spark.gates.fixtures import _shared_clip_fixture
from baskerville_spark.generator import (
    PLANT_SCHEMA,
    GenConfig,
    generate_clips,
    planted_clip,
    rows_from_range,
)

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("envelope_fp", T.LongType(), True),
    ]
)

N_SEGMENTS = 6
ENVELOPE_BITS = 4


def envelope_fingerprint(pcm: np.ndarray) -> int:
    """64-bit robust candidate key: 15-bit sample count (bits 48-62) + 6
    segments x (4-bit normalized RMS + 4-bit zero-crossing rate).

    The count is masked to 15 bits (not 16) so bit 63 — the int64 sign
    bit — is never set: a 16-bit mask made any clip with
    ``n % 65536 >= 32768`` (e.g. 2.5 s @ 16 kHz) produce a Python int
    >= 2**63 that pa.int64() cannot store, crashing the whole fingerprint
    job on common clip lengths (round-4 advisor finding)."""
    x = pcm.astype(np.float64)
    n = len(x)
    if n == 0:
        return 0
    pad = (-n) % N_SEGMENTS
    if pad:
        x = np.concatenate([x, np.zeros(pad)])
    seg = x.reshape(N_SEGMENTS, -1)
    rms = np.sqrt((seg * seg).mean(axis=1))
    peak = rms.max()
    top = 1 << ENVELOPE_BITS
    qr = (
        np.minimum((rms / peak * top).astype(np.int64), top - 1)
        if peak > 0
        else np.zeros(N_SEGMENTS, dtype=np.int64)
    )
    if seg.shape[1] > 1:
        zc = (np.diff(np.signbit(seg), axis=1) != 0).mean(axis=1)
    else:
        zc = np.zeros(N_SEGMENTS)  # 1-sample segments have no crossings
    qz = np.clip((zc * top).astype(np.int64), 0, top - 1)
    fp = (n & 0x7FFF) << 48
    for i in range(N_SEGMENTS):
        fp |= int(qr[i]) << (i * 8)
        fp |= int(qz[i]) << (i * 8 + 4)
    return fp


def _content_md5(pcm: np.ndarray) -> str:
    return hashlib.md5(pcm.astype("<i2").tobytes()).hexdigest()


def _fingerprints(pcm: np.ndarray) -> tuple:
    return _content_md5(pcm), envelope_fingerprint(pcm)


def audio_content_fingerprints(clips: DataFrame) -> DataFrame:
    """(part_id, clip_id, codec, decode_ok, content_md5, envelope_fp) —
    one decode per payload, narrow rows out."""
    return _per_clip(clips, FINGERPRINT_SCHEMA, _fingerprints)


def reencode(clips: DataFrame, to_codec: str) -> DataFrame:
    """Transcode payloads to ``to_codec`` (decode -> encode) in one Arrow
    pass, preserving all metadata columns. Rows whose payload fails to
    decode are dropped (they have no content to transcode)."""

    def _reenc(pcm: np.ndarray) -> list[dict]:
        return [{"bytes": audio.encode(pcm, to_codec), "codec": to_codec}]

    return audio.map_payloads(clips, _reenc)


def content_duplicate_pairs(fps: DataFrame) -> DataFrame:
    """(clip_id_a, clip_id_b) pairs sharing a content_md5 (a < b): a
    bit-identical decoded signal, the lossless-container dups. Join
    carries only (fingerprint, id) — payloads and PCM never shuffle.
    """
    slim = fps.where(F.col("decode_ok") & F.col("content_md5").isNotNull()).select(
        F.col("content_md5").alias("k"), F.col("clip_id")
    )
    a = slim.select(F.col("k"), F.col("clip_id").alias("clip_id_a"))
    b = slim.select(F.col("k"), F.col("clip_id").alias("clip_id_b"))
    return (
        a.join(b, "k")
        .where(F.col("clip_id_a") < F.col("clip_id_b"))
        .select("clip_id_a", "clip_id_b")
        .distinct()
    )


ALIGN_SCHEMA = T.StructType(
    [
        T.StructField("base_id", T.StringType(), False),
        T.StructField("twin_id", T.StringType(), False),
        T.StructField("offset_samples", T.LongType(), False),
        T.StructField("match_ratio", T.DoubleType(), False),
    ]
)

def audio_align_offsets(clips: DataFrame, candidates: DataFrame) -> DataFrame:
    """Offset recovery for candidate dup pairs: where inside ``twin`` does
    ``base`` start? The padding/delay variant that content_md5 structurally
    cannot catch (k prepended silence samples change every byte of the
    stream), and the alignment primitive for transcript re-sync after
    editing. Reference seam: Baskerville has no audio operator at all
    (request-set key dedup only, src/baskerville/models/request_set_cache.py);
    from-scratch extension for the audio graft cell.

    ``clips``: (clip_id, bytes, codec, ...); ``candidates``: (base_id,
    twin_id) — produced by a bucketing key (envelope_fp, trimmed-content
    md5), NEVER all-pairs. Two hash joins attach both payloads to each
    candidate row; payloads meet a shuffle only for candidate pairs (the
    documented overlay/concat exception), then one Arrow pass per pair:

    1. coarse: abs-sum envelopes of 64-sample frames, exact int64
       cross-correlation (np.correlate) over frames → candidate frame lag;
    2. refine: exact int64 dot products over the ±1-frame sample window
       around the coarse lag, ties to the SMALLEST offset.

    Cost is O((n/frame)·(m/frame) + frame·m) per pair instead of O(n·m) —
    a 30 s 48 kHz pair aligns in ~8M integer ops. Returns (base_id,
    twin_id, offset_samples, match_ratio) where match_ratio =
    dot(twin[k:k+m], base)/dot(base, base) — exactly 1.0 for a planted
    delay copy, A_b/A_a for a rescaled one (both int64-exact before the
    final IEEE division). Pairs where either side fails to decode, the
    twin is shorter than the base, or the base is silent (zero energy,
    ratio undefined) are dropped.
    """
    frame = 64
    base_side = clips.select(
        F.col("clip_id").alias("base_id"),
        F.col("bytes").alias("__bytes_a"),
        F.col("codec").alias("__codec_a"),
    )
    twin_side = clips.select(
        F.col("clip_id").alias("twin_id"),
        F.col("bytes").alias("__bytes_b"),
        F.col("codec").alias("__codec_b"),
    )
    joined = (
        candidates.select("base_id", "twin_id")
        .join(base_side, "base_id")
        .join(twin_side, "twin_id")
    )
    arrow = to_arrow_schema(ALIGN_SCHEMA)

    def _align(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            tbl = b.to_pydict()
            rows: dict[str, list] = {
                "base_id": [], "twin_id": [],
                "offset_samples": [], "match_ratio": [],
            }
            for i in range(len(b)):
                pa_bytes, pb_bytes = tbl["__bytes_a"][i], tbl["__bytes_b"][i]
                xa = (
                    audio.decode(pa_bytes, tbl["__codec_a"][i])
                    if pa_bytes is not None else None
                )
                xb = (
                    audio.decode(pb_bytes, tbl["__codec_b"][i])
                    if pb_bytes is not None else None
                )
                if xa is None or xb is None or len(xa) == 0 or len(xa) > len(xb):
                    continue
                a = xa.astype(np.int64)
                t = xb.astype(np.int64)
                aa = int(np.dot(a, a))
                if aa == 0:
                    continue
                m, n = len(a), len(t)
                # coarse lag over abs-sum frame envelopes (int64-exact)
                pad_a = (-m) % frame
                pad_t = (-n) % frame
                env_a = np.abs(np.pad(a, (0, pad_a))).reshape(-1, frame).sum(axis=1)
                env_t = np.abs(np.pad(t, (0, pad_t))).reshape(-1, frame).sum(axis=1)
                c = np.correlate(env_t, env_a, mode="valid")
                j = int(np.argmax(c))  # first max = smallest coarse lag
                lo = min(max(0, (j - 1) * frame), n - m)
                hi = min(n - m, (j + 1) * frame)
                best_k, best_dot = lo, int(np.dot(t[lo:lo + m], a))
                for k in range(lo + 1, hi + 1):
                    d = int(np.dot(t[k:k + m], a))
                    if d > best_dot:  # strict: ties keep the smallest k
                        best_k, best_dot = k, d
                rows["base_id"].append(tbl["base_id"][i])
                rows["twin_id"].append(tbl["twin_id"][i])
                rows["offset_samples"].append(best_k)
                rows["match_ratio"].append(float(best_dot) / float(aa))
            yield pa.RecordBatch.from_pydict(rows, schema=arrow)

    return joined.mapInArrow(_align, schema=ALIGN_SCHEMA)


LABELED_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("transcript", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("content_md5", T.StringType(), True),
    ]
)


def conflicting_label_groups(clips: DataFrame) -> DataFrame:
    """Label-noise detection: clips whose DECODED audio content is
    identical but whose transcripts disagree — the training-data bug that
    uniqueness (same clip_id) and content dedup (same audio, any label)
    both structurally miss, and that silently teaches a model two answers
    for one input. Reference seam: Baskerville's closest notion is the
    duplicated request-set key check (models/request_set_cache.py); the
    cross-modal label-consistency check is a from-scratch extension for
    the audio graft cell.

    Plan shape (10^12-clip scale): one mapInArrow decode pass emits narrow
    (clip_id, transcript, content_md5) rows — payloads never shuffle, and
    each transcript rides with its own payload: ``clip_id`` is not a
    certain key (duplicate ids are what the uniqueness check finds), so a
    join back on it would pair one clip's content with another's label.
    One hash aggregate per content_md5 computes countDistinct(transcript);
    the conflicting-group set is bounded by the planted-noise rate, so the
    member back-join broadcasts it (AQE at real scale). Group sizes are
    bounded by the corpus duplication factor, never by corpus size, so
    the exact countDistinct cannot blow a reducer.

    A NULL transcript is no label: countDistinct skips it, so a NULL copy
    beside a labelled copy of the same content is not a conflict.

    Returns one violation row per MEMBER of a conflicting group:
    (group_key, clip_id, n_labels) with group_key = min(clip_id) of the
    group — a deterministic name both engines can derive.
    """
    audio.require_cols(clips, ("clip_id", "bytes", "codec", "transcript"))
    # persist the narrow labeled frame: both the group aggregate and the
    # member back-join derive from it — unpersisted, the DECODE pass (the
    # expensive leg) runs twice (persisted-intermediate convention; freed
    # by the session's LRU / clearCache)
    labeled = (
        audio.decode_pass(
            clips.select("clip_id", "transcript", "bytes", "codec"),
            LABELED_SCHEMA,
            lambda pcm: (_content_md5(pcm),),
        )
        .where(F.col("decode_ok"))
        .select("content_md5", "clip_id", "transcript")
        .persist()
    )
    groups = (
        labeled.groupBy("content_md5")
        .agg(
            F.min("clip_id").alias("group_key"),
            F.countDistinct("transcript").alias("n_labels"),
        )
        .where(F.col("n_labels") > 1)
    )
    return (
        labeled.join(F.broadcast(groups), "content_md5")
        .select("group_key", "clip_id", "n_labels")
    )


# --------------------------------------------------------------------------
# q82: content-based audio dedup (decode-level, cross-container)
# --------------------------------------------------------------------------


def q82_audio_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content dedup across containers: every 17th canonical clip is
    transcoded to flac under a new id ('xcopy_' prefix) and unioned in; the
    engine must recover EXACTLY the planted (original, copy) pairs by
    joining on md5 of the DECODED sample stream (byte-level hashing cannot
    see through the container change). One mapInArrow decode pass per
    payload; the pair join carries only (16-byte hash, id) rows.

    ORACLE: the planted set is closed-form over the generator's mod
    arithmetic — s%17==5 minus the dup-renamed ids (no clip_s row exists)
    and the mp3-codec drift rows (undecodable, so no transcode copy);
    recall 1.0 and zero false pairs are both under the hash."""
    cfg = GenConfig(n_rows=1000, n_parts=4)
    # session-shared generated fixture replaces generate+persist: the two
    # plan branches re-read cheap parquet instead of re-synthesizing audio
    clips_p, _ = _shared_clip_fixture(spark, cfg)
    clips = spark.read.parquet(clips_p)
    suffix = F.substring("clip_id", 6, 12).cast("int")
    plants = clips.where(suffix % 17 == 5)
    copies = reencode(plants, "flac").withColumn(
        "clip_id", F.concat(F.lit("xcopy_"), F.col("clip_id"))
    )
    corpus = clips.unionByName(copies)
    pairs = content_duplicate_pairs(audio_content_fingerprints(corpus))
    out = pairs.persist()
    out.count()
    return out


Q82_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 999)) AS s),
fl AS (
  SELECT s,
    least(3, (s*4)//1000) AS part,
    (s > 0 AND s % 199 = 17
       AND least(3, (s*4)//1000) = least(3, ((s-1)*4)//1000)
       AND least(3, (s*4)//1000) <> 0) AS dup_renamed,
    (least(3, (s*4)//1000) = 3 AND s % 211 <> 31 AND s % 5 = 2) AS mp3
  FROM idx)
SELECT printf('clip_%012d', s) AS clip_id_a,
       'xcopy_' || printf('clip_%012d', s) AS clip_id_b
FROM fl
WHERE s % 17 = 5 AND NOT dup_renamed AND NOT mp3
"""


# --------------------------------------------------------------------------
# q109: offset-invariant audio alignment — recover WHERE a base clip starts
# inside a delayed/padded twin (the dup variant content_md5 structurally
# misses: k prepended silence samples change every byte). Coarse int64
# envelope cross-correlation + exact-dot refinement, candidates-only.
# --------------------------------------------------------------------------


def q109_audio_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment gate: constant-amplitude bases (A_i, m_i samples) and
    planted twins = k_i zero samples ⊕ content. Three twin regimes under
    one gate: (a) exact delay copies → offset k_i, ratio exactly 1.0,
    every 3rd stored as flac (per-side codec decode); (b) rescaled copies
    (amp A_i+1000) → offset k_i, ratio (A_i+1000)/A_i — int64-exact dot
    algebra to the final IEEE division, bit-equal in both engines;
    (c) truncated twins (shorter than base: no valid placement) → dropped.
    k_i is a frame multiple except the i%5==2 stratum (k=100+i%3), which
    forces the ±1-frame exact-dot refinement off the coarse grid."""
    def plant(i):
        amp = 4000 + (i % 8) * 500
        m = 240 + (i % 5) * 48
        k = 100 + (i % 3) if i % 5 == 2 else 64 * ((i % 7) + 1)
        base = np.full(m, amp, dtype="<i2")
        r = i % 5
        if r == 1:  # truncated: shorter than base → dropped
            twin = np.full(m - 50, amp, dtype="<i2")
        elif r == 3:  # rescaled delay copy
            twin = np.concatenate(
                [np.zeros(k, dtype="<i2"),
                 np.full(m, amp + 1000, dtype="<i2")]
            )
        else:  # exact delay copy
            twin = np.concatenate([np.zeros(k, dtype="<i2"), base])
        codec = "flac" if (r in (0, 4) and i % 3 == 0) else "pcm_s16le"
        return [planted_clip("al", i, base), planted_clip("tw", i, twin, codec)]

    clips = rows_from_range(spark, 150, plant, PLANT_SCHEMA)
    cands = spark.range(150).select(
        F.format_string("al_%06d", "id").alias("base_id"),
        F.format_string("tw_%06d", "id").alias("twin_id"),
    )
    return audio_align_offsets(clips, cands)


Q109_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i)
SELECT printf('al_%06d', i) AS base_id,
       printf('tw_%06d', i) AS twin_id,
       CAST(CASE WHEN i % 5 = 2 THEN 100 + (i % 3)
                 ELSE 64 * ((i % 7) + 1) END AS BIGINT) AS offset_samples,
       CASE WHEN i % 5 = 3
            THEN CAST(4000 + (i % 8) * 500 + 1000 AS DOUBLE)
                 / CAST(4000 + (i % 8) * 500 AS DOUBLE)
            ELSE 1.0 END AS match_ratio
FROM idx
WHERE i % 5 <> 1
"""


# --------------------------------------------------------------------------
# q113: G.711 mu-law telephony codec — a REAL ITU-T codec (pure-integer
# spec, bit-exact vectorized implementation, audio.py:mulaw_compress/
# expand) under the hash gate via its closed-form segment arithmetic.
# --------------------------------------------------------------------------


def q113_mulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mu-law gate: constant-amplitude clips sweeping the int16 range (both
    signs, all 8 log segments, the ±32768→32635 clip case at i=0) are
    pcm→mulaw transcoded through the real reencode pipeline and decoded
    back; the quantized value must equal the G.711 segment arithmetic
    (sign·(((v>>(e+3) & 15)·8 + 132)<<e) − 132) restated in SQL."""
    def plant(i):
        xv = (i * 437) % 65536 - 32768
        return [planted_clip("mu", i, np.full(40, xv, dtype="<i2"))]

    mu = reencode(rows_from_range(spark, 150, plant, PLANT_SCHEMA), "mulaw")
    return audio.decode_pass(
        mu.select("clip_id", "bytes", "codec"),
        T.StructType.fromDDL(
            "clip_id string, mu_val long, n_samples long, uniform boolean"
        ),
        lambda x: (int(x[0]), len(x), bool((x == x[0]).all())),
    )


Q113_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 149)) AS i),
x AS (SELECT i, (i * 437) % 65536 - 32768 AS xv FROM idx),
g AS (SELECT i, xv, LEAST(ABS(xv), 32635) + 132 AS v FROM x),
e AS (SELECT i, xv, v,
             CASE WHEN v < 256 THEN 0 WHEN v < 512 THEN 1
                  WHEN v < 1024 THEN 2 WHEN v < 2048 THEN 3
                  WHEN v < 4096 THEN 4 WHEN v < 8192 THEN 5
                  WHEN v < 16384 THEN 6 ELSE 7 END AS ex
      FROM g),
d AS (SELECT i, xv,
             (((v // CAST(POW(2, ex + 3) AS BIGINT)) % 16) * 8 + 132)
               * CAST(POW(2, ex) AS BIGINT) - 132 AS mag
      FROM e)
SELECT printf('mu_%06d', i) AS clip_id,
       CAST(CASE WHEN xv < 0 THEN -mag ELSE mag END AS BIGINT) AS mu_val,
       CAST(40 AS BIGINT) AS n_samples,
       TRUE AS uniform
FROM d
"""


# --------------------------------------------------------------------------
# q141: cross-modal label-conflict detection — identical DECODED audio
# content carrying disagreeing transcripts (label noise). The corpus is the
# generator's all-clean partition 0 (every clip unique content, canonical
# transcript) plus a planted flac transcode of every 13th clip under a new
# id with a mutated transcript: the engine must recover EXACTLY the planted
# groups, keyed by min(clip_id), with both members as violation rows.
# Oracle: closed-form over the generator's mod arithmetic (a clean
# partition has no dup-renames, no mp3, no SNR rows — FIXTURES.md §1).
# --------------------------------------------------------------------------


def q141_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_rows=250/n_parts=1 is BYTE-IDENTICAL to partition 0 of the
    # 4-partition 1000-row table (row i is a pure function of its index
    # and clean-part status; both configs make 0..249 clean) but skips
    # synthesizing the 750 rows the gate would filter out.
    cfg = GenConfig(n_rows=250, n_parts=1)
    clips = generate_clips(spark, cfg).persist()
    suffix = F.substring("clip_id", 6, 12).cast("int")
    plants = clips.where(suffix % 13 == 5)
    variants = (
        reencode(plants, "flac")
        .withColumn("clip_id", F.concat(F.lit("lblv_"), F.col("clip_id")))
        .withColumn(
            "transcript", F.concat(F.col("transcript"), F.lit(" variant"))
        )
    )
    corpus = clips.unionByName(variants)
    out = conflicting_label_groups(corpus).persist()
    out.count()
    clips.unpersist()
    return out


Q141_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 249)) AS s),
g AS (SELECT s FROM idx WHERE s % 13 = 5)
SELECT printf('clip_%012d', s) AS group_key,
       CASE WHEN m = 1 THEN 'lblv_' || printf('clip_%012d', s)
            ELSE printf('clip_%012d', s) END AS clip_id,
       CAST(2 AS BIGINT) AS n_labels
FROM g CROSS JOIN (VALUES (0), (1)) AS v(m)
"""
