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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
