"""Small-data reference implementations the property and golden tests
compare the engine's operators against."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from baskerville_spark.checks.drift import EPS


def naive_duplicate_keys(df: DataFrame) -> DataFrame:
    """Unsalted ``(part_id, clip_id, dup_count)`` oracle for
    ``uniqueness.duplicate_keys``."""
    return (
        df.groupBy("part_id", "clip_id")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def psi_py(p: list[float], q: list[float]) -> float:
    """Driver-side PSI over two fraction lists, clamped at ``drift.EPS``."""
    s = 0.0
    for pi, qi in zip(p, q):
        pi, qi = max(pi, EPS), max(qi, EPS)
        s += (pi - qi) * math.log(pi / qi)
    return s


def exact_duplicates_window(df: DataFrame, exemplar_k: int = 16) -> DataFrame:
    """Window-form oracle for ``dedup.exact_duplicates`` (same output over
    ``doc_id, text``): a row_number over (hash, id) on one task per hash."""
    hashed = df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id").alias("id"))
    counts = (
        hashed.groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )
    w = Window.partitionBy("text_hash").orderBy("id")
    exemplars = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= exemplar_k)
        .groupBy("text_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    return counts.join(exemplars, "text_hash").select("text_hash", "dup_count", "ids")
