"""Streaming stateful aggregation: the reference's hand-rolled two-layer
request-set cache (src/baskerville/models/request_set_cache.py:318-434 —
full_outer join + column coalesce + TTL + parquet rewrite per micro-batch)
re-expressed as Spark's native ``applyInPandasWithState``.

Semantics preserved:
- state keyed by group (reference: (target, ip); here: configurable key)
- incremental merge of per-batch aggregates with prior state
  (count/min/max/mean merge like updateable_features.py:46-141)

Scale: state lives in the state store (RocksDB on a real cluster), sharded
by key hash; each micro-batch touches only keys present in the batch —
exactly the pruning the reference did manually with a semi-join.
"""

from __future__ import annotations

import shutil
import tempfile
from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from baskerville_spark.gates.fixtures import _drain_to_memory, _split_events_mod3, _t

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_total", T.LongType(), False),
        T.StructField("n_batches", T.LongType(), False),
        T.StructField("min_value", T.DoubleType(), True),
        T.StructField("max_value", T.DoubleType(), True),
        T.StructField("mean_value", T.DoubleType(), True),
    ]
)

# applyInPandasWithState state is positional. History, for checkpoint
# operators: checkpoints written by an older layout — the 5-field one
# without n_values, or the interim one with n_values at position 1 — are
# incompatible with this one and must be discarded.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_total", T.LongType(), False),
        T.StructField("n_batches", T.LongType(), False),
        T.StructField("min_value", T.DoubleType(), True),
        T.StructField("max_value", T.DoubleType(), True),
        T.StructField("sum_value", T.DoubleType(), True),
        T.StructField("n_values", T.LongType(), True),
    ]
)

def _update(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        n, b, mn, mx, sm, nv = state.get
    else:
        n, b, mn, mx, sm, nv = 0, 0, None, None, 0.0, 0
    # ONE batch per invocation: Spark calls this function once per key
    # per micro-batch and `pdfs` iterates that batch's ARROW CHUNKS
    # (maxRecordsPerBatch-sized) — counting chunks overstated
    # subset_count as soon as a key's rows spanned >1 chunk (caught by
    # the q64 oracle at 10k-row batches; the reference counts buckets,
    # base_spark.py:849-852)
    b += 1
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(pdf)
        if len(vals):
            nv += len(vals)
            vmn, vmx, vsm = float(vals.min()), float(vals.max()), float(vals.sum())
            mn = vmn if mn is None else min(mn, vmn)
            mx = vmx if mx is None else max(mx, vmx)
            sm = (sm or 0.0) + vsm
    state.update((n, b, mn, mx, sm, nv))
    yield pd.DataFrame(
        [
            {
                "key": key[0],
                "n_total": n,
                "n_batches": b,
                "min_value": mn,
                "max_value": mx,
                # mean over the NON-NULL values only: n_total counts all
                # rows (the reference's request count), but a null value
                # must not drag the mean toward zero
                "mean_value": (sm / nv) if nv else None,
            }
        ]
    )


def incremental_group_stats(stream: DataFrame, key_col: str) -> DataFrame:
    """Stateful per-key incremental stats over a stream.

    Input stream needs columns (key_col, ``value``); output one row per key
    per batch with merged lifetime stats — the RequestSet incremental-update
    semantics (subset_count ≙ n_batches, base_spark.py:849-852). State has
    no timeout: a key's stats live as long as the query.
    """
    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col("value").cast("double").alias("value"),
    )
    return src.groupBy("key").applyInPandasWithState(
        _update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def q23_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg (SURVEY §2.10), driven to
    completion over the events parquet; result equals the batch oracle."""
    e_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(e_schema)
        .option("pathGlobFilter", "events.parquet")  # stream source needs a dir
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → event-time type
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = _drain_to_memory(spark, stream, "complete", "q23")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("bucket_epoch"),
        "event_type",
        "cnt",
    )


Q23_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_epoch,
       event_type, COUNT(*) AS cnt
FROM events GROUP BY 1, 2
"""


def q39_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming dropDuplicates with watermark (SURVEY §2.10
    exactly-once dedup shape): the deduped (user, type) stream aggregates to
    distinct-user counts per type, equal to the batch DISTINCT oracle."""
    e_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(e_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return (
        _drain_to_memory(spark, stream, "append", "q39")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


Q39_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q64 — stateful streaming stats (applyInPandasWithState; the reference's
#       two-layer request-set cache, request_set_cache.py:318-434, as a
#       native stateful operator)
# ---------------------------------------------------------------------------

def q64_stateful_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_group_stats` under the hash gate: events stream in as
    three micro-batches (event_id mod 3, one file per trigger) through the
    applyInPandasWithState operator; each key's FINAL emission must carry
    lifetime stats identical to DuckDB aggregating the undivided table.

    n_batches (the reference's subset_count, base_spark.py:849-852) is also
    hashed — closed form: COUNT(DISTINCT event_id % 3) per user. The mean
    is not hashed directly (2-dp data parks true means on rounding-boundary
    ties — see q62); the sum it encodes is recovered as mean·n and rounded
    where it is boundary-safe. min/max are exact doubles on both sides.
    """
    e = _t(spark, sf_dir, "events")
    # PRECONDITION for the sum recovery below: mean_value divides by the
    # NON-NULL count (nv) while n_total counts all rows, so
    # mean*n_total == SUM(value) only when the column is null-free —
    # fail loudly instead of hash-mismatching mysteriously
    if e.where(F.col("value").isNull()).limit(1).count() > 0:
        raise RuntimeError(
            "q64 requires a null-free value column (value_sum = mean*n_total)"
        )
    tmp = tempfile.mkdtemp(prefix="bsk_q64_")
    src = f"{tmp}/src"
    _split_events_mod3(e.select("event_id", "user_id", "value"), src)
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = incremental_group_stats(stream, key_col="user_id")
    rows = _drain_to_memory(spark, out, "update", "q64")

    shutil.rmtree(tmp, ignore_errors=True)  # result lives in the memory sink
    w = Window.partitionBy("key").orderBy(
        F.desc("n_batches"), F.desc("n_total")
    )
    last = rows.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    if last.where("n_batches < 2").limit(1).count() > 0:
        # every sf tier has >=7 rows per (user, batch): a key that never
        # merged across batches means the stream didn't micro-batch
        raise RuntimeError("a key saw fewer than 2 micro-batches")
    return last.select(
        "key",
        "n_total",
        "n_batches",
        "min_value",
        "max_value",
        F.round(F.col("mean_value") * F.col("n_total"), 4)
        .cast("float")
        .alias("value_sum"),
    )


Q64_SQL = """
SELECT CAST(user_id AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT event_id % 3) AS BIGINT) AS n_batches,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(ROUND(SUM(value), 4) AS REAL) AS value_sum
FROM events GROUP BY user_id
"""
