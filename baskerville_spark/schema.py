"""Typed schemas for the validation engine: clips, transcript reference
dim, baseline snapshots, and the checkpoint manifest.

Unlike the reference's stringly ``features`` JSON blob
(src/baskerville/db/models.py:108), all metrics here are typed columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Input tables (BASELINE.json input_hint)
# --------------------------------------------------------------------------

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
# Drift baselines and the checkpoint manifest
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

#: Checkpoint manifest: Runtime-ledger semantics (src/baskerville/db/models.py:41-75,
#: completion update base_spark.py:567-579) done idempotently per partition.
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # 'done'
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_violations", T.LongType(), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
        T.StructField("code_version", T.StringType(), True),
    ]
)
