"""Kafka-shaped Structured Streaming source (broker-free stand-in).

The reference consumes Kafka with ``readStream.format("kafka")`` and decodes
``from_json(value)`` against a declared schema
(src/baskerville/models/pipeline_tasks/tasks.py:304-352). No broker exists in
this sandbox, so this module provides a file-backed micro-batch stream with
the SAME wire schema Kafka presents —

    key binary, value binary, topic string, partition int, offset long,
    timestamp timestamp

— and the same downstream decode path. On a real cluster the swap is ONE
line (``spark.readStream.format("kafka").option("subscribe", ...)``); every
transformation after the source — the from_json decode, watermarks, windows,
dedup, sinks — is identical, which is the part this engine owns.

Scale notes: the decode is ``from_json`` on the value column — JVM-side,
no Python; ``maxFilesPerTrigger`` bounds micro-batch size the way
``maxOffsetsPerTrigger`` does for the real Kafka source.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark.gates.fixtures import _stream_shuffle, _t

KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
    ]
)
#: parquet files ``write_kafka_shaped`` writes: two micro-batches of two
N_FILES = 4


def write_kafka_shaped(
    df: DataFrame,
    path: str,
    topic: str,
    value_struct: F.Column,
    key_col: F.Column,
) -> None:
    """Serialize rows into the Kafka wire shape (value = JSON envelope) as
    ``N_FILES`` parquet files, so a maxFilesPerTrigger stream over ``path``
    replays them across several micro-batches."""
    wire = df.select(
        key_col.cast("string").cast("binary").alias("key"),
        F.to_json(value_struct).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    wire.repartition(N_FILES).write.mode("overwrite").parquet(path)


def read_kafka_shaped_stream(spark: SparkSession, path: str) -> DataFrame:
    """The broker-free stand-in for ``readStream.format("kafka")``: same
    columns, micro-batched two files at a time."""
    return (
        spark.readStream.schema(KAFKA_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def decode_json_values(stream: DataFrame, schema: str | T.StructType) -> DataFrame:
    """The reference's value-decode path (tasks.py:304-352): cast the binary
    value to string, from_json against the declared schema, flatten."""
    return stream.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j")
    ).select("j.*")


def q45_streaming_kafka_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-source Structured Streaming cell (SURVEY §2.1, reference
    tasks.py:304-352): a broker-free file-backed stream presenting the SAME
    wire schema as format('kafka') — key/value binary, topic, partition,
    offset, timestamp — decoded with from_json(value) against a declared
    schema, micro-batched by maxFilesPerTrigger (the file analog of
    maxOffsetsPerTrigger). On a real cluster only the source line changes.
    Oracle = the same aggregation over the original events table."""
    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="q45_kafka_")
    try:
        # 4 files / 2 per trigger = exactly 2 micro-batches: the minimum that
        # still proves incremental processing (assert below), since each
        # complete-mode micro-batch costs ~3-4 s of fixed local overhead.
        write_kafka_shaped(
            e, tmp, topic="events",
            value_struct=F.struct("event_id", "user_id", "event_type", "value"),
            key_col=F.col("user_id"),
        )
        name = f"q45_out_{uuid.uuid4().hex[:8]}"
        with _stream_shuffle(spark):
            stream = read_kafka_shaped_stream(spark, tmp)
            decoded = decode_json_values(
                stream, "event_id bigint, user_id bigint, event_type string, value double"
            )
            agg = decoded.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            # availableNow: drain everything in maxFilesPerTrigger-sized batches
            # and self-terminate. processAllAvailable() on an unbounded trigger
            # made wall time trigger-scheduling-dependent — identical code
            # measured 3.9-12.7 s across r04 captures under load (VERDICT item
            # #7); the bounded trigger runs exactly the planned batches and
            # stops, so timing tracks work, not poll sleeps.
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
                n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
            finally:
                q.stop()
        if n_batches < 2:  # not `assert`: python -O must not disable the gate
            raise RuntimeError(f"expected >=2 micro-batches, got {n_batches}")
        out = spark.table(name).persist()
        out.count()
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


Q45_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(CAST(SUM(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY event_type
"""
