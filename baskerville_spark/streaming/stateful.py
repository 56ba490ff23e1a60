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

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

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
    from pyspark.sql import functions as F

    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col("value").cast("double").alias("value"),
    )
    return src.groupBy("key").applyInPandasWithState(
        _update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
