"""Referential integrity of transcript keys: anti-join, broadcast or sort-merge.

This is the *correct* version of two reference patterns:
- the per-row MISP Postgres lookup UDF (src/baskerville/spark/udfs.py:233-253
  — a lookup join done one row at a time from executors), and
- the whitelist broadcast left_anti join
  (src/baskerville/models/pipeline_tasks/tasks.py:624-660).

Strategy selection: 'broadcast' hints the dim side (right for a dim that
fits in executor memory, e.g. <1-2 GB serialized); 'sortmerge' forces
shuffle-merge for a dim at fact scale; 'auto' leaves it to Catalyst + AQE.
Both strategies must produce identical verdicts (tested, FIXTURES.md §2).

Scale: the anti-join shuffles only (clip_id) pairs — project the fact side
to the key before joining so the multi-hundred-KB audio payload never rides
the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ref_integrity_violations(
    clips: DataFrame,
    transcript_ref: DataFrame,
    key: str = "clip_id",
    strategy: str = "auto",  # 'auto' | 'broadcast' | 'sortmerge'
) -> DataFrame:
    """Clip keys with no row in the reference dim → violation rows."""
    fact = clips.select("part_id", key)  # payload never shuffles
    dim = transcript_ref.select(key).distinct()
    if strategy == "broadcast":
        dim = F.broadcast(dim)
    elif strategy == "sortmerge":
        dim = dim.hint("merge")
    missing = fact.join(dim, on=key, how="left_anti")
    return missing.select(
        F.col("part_id").cast("int").alias("part_id"),
        F.col(key).alias("clip_id"),
        F.lit("ref_integrity").alias("check_name"),
        F.lit("clip_id missing from transcript_ref").alias("detail"),
    )
