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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
