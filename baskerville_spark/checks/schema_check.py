"""Pattern enforcement: a regex per column, as violation rows.

The reference's schema doc DECLARES a regex ``pattern`` per field
(data/samples/log_schema.json: ipv4, http status ``[1-5][0-9][0-9]``,
timestamp formats) but never enforces it at runtime — SURVEY.md §1.2 flags
this gap; here patterns ARE enforced, as native ``rlike`` predicates
producing violation rows, from a ``{column: regex}`` mapping. The
required/default/null-drop funnel is ``gates/schema_check``.

Everything is native expressions — no UDFs, fully pushdown/codegen friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from baskerville_spark.checks import sqltext


def pattern_violations(
    df: DataFrame,
    patterns: dict[str, str],
    key: str = "clip_id",
) -> DataFrame:
    """Violation rows ``pattern:<column>`` for values that do not match
    their column's regex in ``patterns`` (the check the reference declared
    but never ran). A mapped column the frame lacks raises ValueError: a
    pattern that checks nothing must not read as a pass.

    ONE scan for all pattern columns: per-row when(violates, struct) pieces →
    array_compact → explode (rows with no violations explode to nothing).
    The union-of-filtered-branches form this replaces scanned the fact table
    once per pattern column — and rlike predicates don't push down to
    parquet, so each of those scans was a FULL read."""
    missing = [name for name in patterns if name not in df.columns]
    if missing:
        raise ValueError(
            f"pattern columns {missing} are not in the frame ({df.columns})"
        )
    pieces = []
    for name, regex in patterns.items():
        c = sqltext.ident(name)
        v = f"CAST({c} AS STRING)"
        pieces.append(
            f"CASE WHEN {c} IS NOT NULL AND NOT {v} RLIKE {sqltext.lit(regex)}"
            f" THEN named_struct('check_name', {sqltext.lit(f'pattern:{name}')},"
            f" 'detail', concat('value=', {v})) END"
        )
    # SQL text: one py4j call where Column algebra took dozens (checks/sqltext)
    return df.selectExpr(
        "CAST(part_id AS INT) AS part_id",
        f"{sqltext.ident(key)} AS clip_id",
        f"explode(array_compact(array({', '.join(pieces)}))) AS __v",
    ).select("part_id", "clip_id", "__v.*")
