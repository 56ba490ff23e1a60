"""Typed schemas for the validation engine: clips, transcript reference
dim and baseline snapshots (the checkpoint manifest's schema lives with
its pyarrow commits in ``runtime/manifest.py``).

Unlike the reference's stringly ``features`` JSON blob
(src/baskerville/db/models.py:108), all metrics here are typed columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Input tables (BASELINE.json input_hint)
# --------------------------------------------------------------------------

#: Declared upper bound of ``dur_ms``: the validator's range check and the
#: generator's injected out-of-range durations both read it.
DUR_MS_MAX = 30000

#: Audio clip fact table. At design scale an Iceberg table partitioned by
#: bucket(clip_id) x days(ingested_at); `part_id` stands in for the Iceberg
#: partition id in this repo (parquet partitioned by part_id).
CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
        T.StructField("part_id", T.IntegerType(), False),
    ]
)

#: Referential-integrity dimension: authoritative transcript per clip.
TRANSCRIPT_REF_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("transcript_ref", T.StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Drift baselines
# --------------------------------------------------------------------------

#: Baseline snapshot for drift checks — the generalization of the reference's
#: per-target avg/stddev snapshot (src/baskerville/models/incident_detector.py:264-289).
BASELINE_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'numeric' | 'categorical'
        T.StructField("bin_edges", T.ArrayType(T.DoubleType()), True),
        T.StructField("categories", T.ArrayType(T.StringType()), True),
        T.StructField("bin_fractions", T.ArrayType(T.DoubleType()), False),
        T.StructField("quantiles", T.ArrayType(T.DoubleType()), True),
        T.StructField("n", T.LongType(), False),
    ]
)
