"""Schema enforcement: required/default/null-drop/pattern semantics.

Reference parity (src/baskerville/models/log_parsers.py):
- missing required columns added with defaults via F.lit
  (check_for_missing_columns 219-235, add_missing_columns 203-217)
- per-column null filling from schema defaults (fillna, 173-201)
- row-drop filter: conjunction of isNotNull over configured columns
  (drop_if_missing_filter 237-250, applied base_spark.py:675-688)
- regex ``pattern`` per field: DECLARED in the reference's schema doc
  (data/samples/log_schema.json: ipv4, http status ``[1-5][0-9][0-9]``,
  timestamp formats) but never enforced at runtime — SURVEY.md §1.2 flags
  this gap; here patterns ARE enforced, as native ``rlike`` predicates
  producing violation rows.

Everything is native expressions — no UDFs, fully pushdown/codegen friendly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from baskerville_spark.checks import sqltext


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    dtype: str = "string"           # Spark SQL type name for F.lit cast
    required: bool = False           # add with default if absent
    default: Any = None              # fillna value (None → no fill)
    drop_if_missing: bool = False    # row dropped when null
    pattern: str | None = None       # rlike regex, violation row when unmatched


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


def pattern_violations(
    df: DataFrame,
    specs: list[ColumnSpec],
    key: str = "clip_id",
) -> DataFrame | None:
    """Violation rows for declared-pattern mismatches (the check the
    reference declared but never ran).

    ONE scan for all pattern columns: per-row when(violates, struct) pieces →
    array_compact → explode (rows with no violations explode to nothing).
    The union-of-filtered-branches form this replaces scanned the fact table
    once per pattern column — and rlike predicates don't push down to
    parquet, so each of those scans was a FULL read."""
    pieces = []
    for s in specs:
        if s.pattern is None or s.name not in df.columns:
            continue
        c = sqltext.ident(s.name)
        v = f"CAST({c} AS STRING)"
        pieces.append(
            f"CASE WHEN {c} IS NOT NULL AND NOT {v} RLIKE {sqltext.lit(s.pattern)}"
            f" THEN named_struct('check_name', {sqltext.lit(f'pattern:{s.name}')},"
            f" 'detail', concat('value=', {v})) END"
        )
    if not pieces:
        return None
    # SQL text: one py4j call where Column algebra took dozens (checks/sqltext)
    return df.selectExpr(
        "CAST(part_id AS INT) AS part_id",
        f"{sqltext.ident(key)} AS clip_id",
        f"explode(array_compact(array({', '.join(pieces)}))) AS __v",
    ).select("part_id", "clip_id", "__v.*")


def enforce_schema(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """Full enforcement funnel: add-missing → fill → drop-if-missing."""
    return drop_if_missing(fill_defaults(add_missing_columns(df, specs), specs), specs)
