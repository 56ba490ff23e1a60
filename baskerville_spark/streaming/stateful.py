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
        # always false: no state timeout is set, so no key is ever evicted
        T.StructField("evicted", T.BooleanType(), False),
    ]
)

# applyInPandasWithState state is positional: fields ADDED to this schema go
# at the END so a checkpoint written with the older (shorter) 5-field layout
# (n_total, n_batches, min, max, sum) still reads its prefix correctly, and
# _update tolerates n_values being absent on first read after an upgrade.
# History, for checkpoint operators: one interim revision inserted n_values
# at position 1 (between n_total and n_batches) — checkpoints written by
# THAT layout are positionally incompatible with this one and must be
# discarded; pre-n_values and current checkpoints interoperate.
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
        got = state.get
        n, b, mn, mx, sm = got[:5]
        # tolerate a pre-n_values checkpoint (shorter layout): treat
        # every prior row as a counted value, the old behavior
        nv = got[5] if len(got) > 5 and got[5] is not None else n
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
                "evicted": False,
            }
        ]
    )


def incremental_group_stats(
    stream: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Stateful per-key incremental stats over a stream.

    Input stream needs columns (key_col, value_col); output one row per key
    per batch with merged lifetime stats — the RequestSet incremental-update
    semantics (subset_count ≙ n_batches, base_spark.py:849-852). State has
    no timeout: a key's stats live as long as the query.
    """
    from pyspark.sql import functions as F

    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return src.groupBy("key").applyInPandasWithState(
        _update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
