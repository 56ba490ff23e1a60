"""The reference's client pipeline loop: per-micro-batch feature
generation feeding an incrementally-refreshed feature cache.

Reference shape (``src/baskerville/models/pipelines.py`` /
``client_pipeline.py:37-48``): each 120 s time bucket runs
``GenerateFeatures`` (the full vector funnel over the batch's raw rows),
merges the fresh vectors with the cached past vectors per key
(``base_spark.py:803-867`` driving ``features/updateable_features.py``),
and republishes the cache (``RefreshCache`` →
``request_set_cache.py:62-97`` A/B parquet flip).

Here the same loop is one ``foreachBatch`` body over Structured
Streaming (or a plain function the batch path calls per partition):

    batch rows ─ feature_vector ─┐
                                 ├─ update_feature_vector ─ union with
    cache.read ──────────────────┘   untouched keys ─→ cache.write (atomic)

Scale notes:

- The merge join and the untouched-key anti-join are both keyed on the
  group key; the fresh side arrives hash-partitioned from its groupBy.
  Honest plan shape: the merge is ``fresh LEFT OUTER cache``, and Spark
  can only broadcast the BUILD (cache) side of that join — so with a
  large cache every micro-batch sort-merge-shuffles the cache, and the
  per-batch cost is O(cache), not O(batch keys). The reference accepted
  exactly this (its cache was a full parquet rewrite per batch,
  request_set_cache.py:62-97). The way out at 10^12 keys is not a
  broadcast hint but storage layout: bucket/partition the cache by a
  key hash and rewrite only buckets the batch touches (dynamic
  partition overwrite — runner.py does this for verdicts), or Iceberg
  MERGE INTO, which implements the same pruning inside the commit.
- State rewrite cost is proportional to cache size, not stream volume —
  the reference accepted the same trade (its cache was a full parquet
  rewrite per batch, request_set_cache.py:62-97). For key cardinality
  beyond a single rewrite, partition the cache by a key bucket and
  rewrite only buckets with updates (dynamic partition overwrite —
  runtime/runner.py does this for verdicts).
- ``gates/stateful.py`` is the alternative when per-key state fits
  the applyInPandasWithState model; this loop is the one that matches
  the reference's cache semantics exactly.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.features import UpdateSpec, update_feature_vector
from baskerville_spark.gates.fixtures import (
    _gate_tmp_detach,
    _split_events_mod3,
    _stream_shuffle,
    _t,
)
from baskerville_spark.gates.state import StateStore


def refresh_feature_cache(
    fresh: DataFrame,
    store: StateStore,
    spark: SparkSession,
    keys: list[str],
    specs: list[UpdateSpec],
) -> DataFrame:
    """Merge one batch's fresh feature vectors into the persisted cache
    and atomically republish it. Returns the new cache DataFrame.

    ``fresh`` must carry ``keys`` + every column named in ``specs``.
    Untouched cache keys pass through unchanged. Variances merge as the
    textbook pooled variance (``square_variance=False``) — the
    incremental==batch invariant holds only for it.
    """
    past = store.read(spark)
    if past is None:
        new_state = fresh
    else:
        merged = update_feature_vector(
            fresh,
            past,
            keys,
            specs,
            square_variance=False,
        )
        untouched = past.join(
            fresh.select(*keys), on=keys, how="left_anti"
        )
        new_state = merged.unionByName(untouched)
    # cache() before write+return: the plan reads the CURRENT pointer's
    # parquet, and write() flips that pointer — without materialization a
    # later action on the returned frame would re-read a replaced version.
    new_state = new_state.cache()
    new_state.count()
    store.write(new_state)
    # once the new version is on disk the cache has served its purpose;
    # dropping it here keeps a long-running stream from accumulating one
    # full cached state copy per micro-batch. A later action on the
    # returned frame re-derives it from the PRIOR version dir (StateStore
    # keeps old versions, so that stays correct); the next batch reads the
    # new version via store.read().
    new_state.unpersist()
    return new_state


def run_feature_loop(
    spark: SparkSession,
    source_dir: str,
    schema,
    store: StateStore,
    keys: list[str],
    specs: list[UpdateSpec],
    vector_fn: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
):
    """Structured-Streaming form: one-file-per-micro-batch source (the same
    broker-free stand-in q45 uses — on a cluster only the source line
    changes to Kafka), ``vector_fn`` = the GenerateFeatures stage,
    ``refresh_feature_cache`` = the RefreshCache stage.

    Returns the StreamingQuery; callers awaitTermination/stop it.
    """

    def _batch(batch_df: DataFrame, _batch_id: int) -> None:
        fresh = vector_fn(batch_df)
        refresh_feature_cache(fresh, store, spark, keys, specs)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Q62 — incremental feature-cache loop == one-shot batch (client pipeline,
#       reference client_pipeline.py:37-48 / base_spark.py:803-867 /
#       request_set_cache.py:62-97)
# ---------------------------------------------------------------------------

def q62_feature_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The client-pipeline loop END-TO-END under the hash gate: events split
    into three deterministic micro-batches (event_id mod 3), streamed
    file-per-trigger through ``run_feature_loop`` (GenerateFeatures →
    merge-with-cache → atomic republish), and the
    FINAL cache must hash-equal a one-shot SQL computation over all events.

    This is the strongest claim about the merge algebra: q58 grades ONE
    merge step against closed form; this grades the whole loop — three
    groupBys, two update_feature_vector merges (textbook pooled variance,
    the exactness invariant refresh_feature_cache documents), untouched-key
    passthrough, and the versioned-pointer StateStore — against DuckDB
    aggregating the undivided table. Any loss, duplication, or pooling
    error in any batch breaks the hash. round(4)+float32 on both engines
    absorbs summation-order ulp noise exactly as q57/q58 do.

    The cache's pooled-mean column is NOT in the hashed row: the
    testdata's 2-dp values make many true means terminate exactly ON a
    4-dp rounding boundary (58.555750 = 4684.46/80; 55.683750 =
    3118.29/56), where engines legitimately disagree by one final digit
    (HALF_UP over the double's exact decimal vs scaled-double rounding).
    The mean is fully determined by (value_total, request_total), both
    hashed exactly, so omitting the division loses nothing; the pooled
    mean still gates the hash through the variance pool (its new_mean
    term) and is directly graded by q58.
    """
    e = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="bsk_q62_")
    src = f"{tmp}/src"
    _split_events_mod3(e, src)

    def vector_fn(batch: DataFrame) -> DataFrame:
        return batch.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("double").alias("request_total"),
            F.sum("value").alias("value_total"),
            F.max("value").alias("value_max"),
            F.min("value").alias("value_min"),
            F.avg("value").alias("value_avg"),
            # var_samp of a 1-row group is NULL; 0.0 keeps the pooled
            # algebra exact ((cn-1)*cv -> 0 either way)
            F.coalesce(F.var_samp("value"), F.lit(0.0)).alias("value_var"),
        )

    specs = [
        UpdateSpec("request_total", "total", ("request_total",)),
        UpdateSpec("value_total", "total", ("value_total",)),
        UpdateSpec("value_max", "maximum", ("value_max",)),
        UpdateSpec("value_min", "minimum", ("value_min",)),
        UpdateSpec("value_avg", "mean", ("value_avg", "request_total")),
        UpdateSpec(
            "value_var", "variance", ("value_var", "request_total", "value_avg")
        ),
    ]
    store = StateStore(f"{tmp}/cache")
    with _stream_shuffle(spark):
        q = run_feature_loop(
            spark,
            src,
            spark.read.parquet(src).schema,
            store,
            ["user_id"],
            specs,
            vector_fn,
            checkpoint_dir=f"{tmp}/ckpt",
        )
        q.awaitTermination()
    n_versions = len(
        [d for d in os.listdir(store.root) if d.startswith("v_")]
    )
    if n_versions < 3:  # one republish per micro-batch, else not incremental
        raise RuntimeError(f"expected >=3 cache versions, got {n_versions}")

    final = store.read(spark)
    return _gate_tmp_detach(final.select(
        "user_id",
        F.col("request_total").cast("long").alias("request_total"),
        *[
            F.round(F.col(c), 4).cast("float").alias(c)
            for c in ("value_total", "value_max", "value_min", "value_var")
        ],
    ), tmp)


Q62_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS request_total,
       CAST(ROUND(SUM(value), 4) AS REAL) AS value_total,
       CAST(ROUND(MAX(value), 4) AS REAL) AS value_max,
       CAST(ROUND(MIN(value), 4) AS REAL) AS value_min,
       CAST(ROUND(COALESCE(VAR_SAMP(value), 0), 4) AS REAL) AS value_var
FROM events GROUP BY user_id
"""
