"""Streaming stateful aggregation: the reference's hand-rolled two-layer
request-set cache (src/baskerville/models/request_set_cache.py:318-434 —
full_outer join + column coalesce + TTL + parquet rewrite per micro-batch)
re-expressed as Spark's native ``applyInPandasWithState``.

Semantics preserved:
- state keyed by group (reference: (target, ip); here: configurable key)
- incremental merge of per-batch aggregates with prior state
  (count/min/max/mean merge like updateable_features.py:46-141)
- TTL expiry via state timeout (reference cache_expire_time,
  config.py:363-368)

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
        # true on the FINAL row a key emits when its state is TTL-evicted
        # (the streaming analog of the reference logging expired cache rows,
        # request_set_cache.py:404-411); normal update rows carry false
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

# processing-time TTL in ms applied when incremental_group_stats runs with
# ProcessingTimeTimeout — reference cache_expire_time is seconds
# (config.py:363-368), surfaced here per-call
DEFAULT_TTL_MS = 86_400_000


def _make_update(ttl_ms: int, event_time: bool = False):
    def _update(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            # idle key past TTL: emit a final evicted=true row with the
            # last-known stats, then drop the state (reference expire
            # semantics, request_set_cache.py:404-411) — the next batch
            # carrying this key starts from empty state
            got = state.get
            n, b, mn, mx, sm = got[:5]
            nv = got[5] if len(got) > 5 and got[5] is not None else n
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "key": key[0],
                        "n_total": n,
                        "n_batches": b,
                        "min_value": mn,
                        "max_value": mx,
                        "mean_value": (sm / nv) if nv else None,
                        "evicted": True,
                    }
                ]
            )
            return
        if state.exists:
            got = state.get
            n, b, mn, mx, sm = got[:5]
            # tolerate a pre-n_values checkpoint (shorter layout): treat
            # every prior row as a counted value, the old behavior
            nv = got[5] if len(got) > 5 and got[5] is not None else n
        else:
            n, b, mn, mx, sm, nv = 0, 0, None, None, 0.0, 0
        max_ts_ms = 0
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
            if event_time and "__ts" in pdf.columns and len(pdf):
                ts_max = pdf["__ts"].max()
                if pd.notna(ts_max):
                    max_ts_ms = max(max_ts_ms, int(ts_max.value // 1_000_000))
        state.update((n, b, mn, mx, sm, nv))
        if ttl_ms > 0:
            if event_time:
                # evict once the watermark passes ttl_ms after this key's
                # LATEST event time (not the current watermark: during the
                # first batch the watermark is still 0, which would expire
                # every first-batch key at the next trigger) — deterministic,
                # data-driven, unlike wall-clock timeouts
                base = max(state.getCurrentWatermarkMs(), max_ts_ms)
                state.setTimeoutTimestamp(base + ttl_ms)
            else:
                state.setTimeoutDuration(ttl_ms)
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

    return _update


def incremental_group_stats(
    stream: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
    timeout: str = GroupStateTimeout.NoTimeout,
    ttl_ms: int = DEFAULT_TTL_MS,
    ts_col: str | None = None,
) -> DataFrame:
    """Stateful per-key incremental stats over a stream.

    Input stream needs columns (key_col, value_col); output one row per key
    per batch with merged lifetime stats — the RequestSet incremental-update
    semantics (subset_count ≙ n_batches, base_spark.py:849-852).

    TTL eviction — the reference's cache_expire_time (config.py:363-368)
    applied to the streaming state store instead of the batch cache:
    - ``ProcessingTimeTimeout``: a key idle for ``ttl_ms`` WALL-CLOCK ms is
      evicted the next time any micro-batch fires.
    - ``EventTimeTimeout``: a key is evicted once the WATERMARK advances
      ``ttl_ms`` past its last update — fully data-driven, so tests and
      replays are deterministic. Requires the input stream to carry
      ``withWatermark`` on ``ts_col``, which is projected through so the
      watermark column survives into the stateful operator.
    Either way the key's final row goes out with evicted=true.
    """
    from pyspark.sql import functions as F

    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    ]
    if timeout == GroupStateTimeout.EventTimeTimeout:
        if ts_col is None:
            raise ValueError("EventTimeTimeout requires ts_col (watermarked column)")
        # keep the watermark column in scope, under the fixed name the
        # update function reads its per-key max event time from
        cols.append(F.col(ts_col).alias("__ts"))
    src = stream.select(*cols)
    if timeout == GroupStateTimeout.ProcessingTimeTimeout:
        fn = _make_update(ttl_ms)
    elif timeout == GroupStateTimeout.EventTimeTimeout:
        fn = _make_update(ttl_ms, event_time=True)
    else:
        fn = _make_update(0)
    return src.groupBy("key").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )
