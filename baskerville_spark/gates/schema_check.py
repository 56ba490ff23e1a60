"""Schema enforcement: required/default/null-drop semantics.

Reference parity (src/baskerville/models/log_parsers.py):
- missing required columns added with defaults via F.lit
  (check_for_missing_columns 219-235, add_missing_columns 203-217)
- per-column null filling from schema defaults (fillna, 173-201)
- row-drop filter: conjunction of isNotNull over configured columns
  (drop_if_missing_filter 237-250, applied base_spark.py:675-688)

The regex ``pattern`` checks live apart from this funnel, in the engine's
``checks/schema_check``. Everything is native expressions — no UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    dtype: str = "string"           # Spark SQL type name for F.lit cast
    required: bool = False           # add with default if absent
    default: Any = None              # fillna value (None → no fill)
    drop_if_missing: bool = False    # row dropped when null


def add_missing_columns(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """log_parsers.py:203-235 parity: lit(default) for absent required cols."""
    existing = set(df.columns)
    to_add = {
        s.name: F.lit(s.default).cast(s.dtype)
        for s in specs
        if s.required and s.name not in existing
    }
    return df.withColumns(to_add) if to_add else df


def fill_defaults(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """log_parsers.py:173-201 parity: per-column fillna from defaults."""
    out = df
    for s in specs:
        if s.default is not None and s.name in out.columns:
            out = out.na.fill({s.name: s.default})
    return out


def drop_if_missing(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """log_parsers.py:237-250 parity: conjunctive isNotNull row filter."""
    cond = None
    for s in specs:
        if s.drop_if_missing and s.name in df.columns:
            c = F.col(s.name).isNotNull()
            cond = c if cond is None else (cond & c)
    return df.where(cond) if cond is not None else df


def enforce_schema(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """Full enforcement funnel: add-missing → fill → drop-if-missing."""
    return drop_if_missing(fill_defaults(add_missing_columns(df, specs), specs), specs)


# ---------------------------------------------------------------------------
# Q49 — schema-enforcement funnel under the hash gate
# ---------------------------------------------------------------------------

def q49_schema_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ``enforce_schema`` funnel (add-missing → fill-defaults →
    drop-if-missing; reference log_parsers.py:173-250) under the hash gate.
    Fixture plants deterministic holes in documents: text NULLed for
    doc_id ≡ 0 (mod 19) — those rows must be DROPPED; lang NULLed for
    doc_id ≡ 0 (mod 13) — those must be FILLED with 'und'; and the spec
    requires an absent ``ingest_flag`` int column — added as lit(1) for
    every surviving row. The per-lang aggregate pins all three behaviors:
    fill shows up as the 'und' group, drop as the missing mod-19 rows in
    every count, add-missing as n_flag == n_docs."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit(None)).otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        "n_chars",
    )
    specs = [
        ColumnSpec("lang", default="und"),
        ColumnSpec("text", drop_if_missing=True),
        ColumnSpec("ingest_flag", dtype="int", required=True, default=1),
    ]
    return (
        enforce_schema(d, specs)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("ingest_flag").alias("n_flag"),
        )
    )


Q49_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 19 = 0 THEN NULL ELSE text END AS text,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         n_chars
  FROM documents),
f AS (
  SELECT COALESCE(lang, 'und') AS lang, n_chars, 1 AS ingest_flag
  FROM d WHERE text IS NOT NULL)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(ingest_flag) AS BIGINT) AS n_flag
FROM f GROUP BY lang
"""
