"""Constraint suggestion (profile -> suite) and functional-dependency checks.

The reference hard-codes its data-quality rules per feature class
(src/baskerville/features/feature_*.py — each feature knows its own valid
range) and per model column (src/baskerville/db/models.py column types);
nothing in it can look at a NEW table and propose the rules. This module
adds the Deequ-style closing of that loop for the validation engine: profile
a table once, emit a deterministic set of suggested constraints in the
engine's own suite vocabulary (checks/suite.py), so a 10^12-row Iceberg
audio/transcript table can be onboarded by running the suggester on a slice
and reviewing the proposed suite instead of writing it from scratch.

Design (and the 100-TB story):

- **Pass 1 — one aggregate over the table.** count, per-column non-null
  count, exact distinct count, and min/max for numerics, all in a single
  ``df.agg(...)``: one scan, one (Expand-widened) exchange, ONE result row
  collected. Exact countDistinct is deliberate — the suggested thresholds
  become part of a hash-gated contract, and an HLL estimate is not
  reproducible across engines. At production scale you run the suggester on
  a bounded sample (it proposes rules; the *suite* then validates the full
  table), so the Expand cost is a sample cost, not a 10^12-row cost.
- **Pass 2 — value sets ONLY for columns pass 1 proved low-cardinality.**
  ``collect_set`` state is unbounded on a high-cardinality column, so the
  membership pass never runs blind: it scans once more, pruned to exactly
  the string columns whose verified distinct count is <= 20,
  and collects one bounded row. (Deequ's histogram pass has the same
  two-phase shape for the same reason.)
- The suggestion RULES are pure functions of the profile, so the whole
  output is restatable in ANSI SQL — which is what the q129 oracle does.

Functional dependencies (``functional_dependency``) close a different gap:
uniqueness (checks/uniqueness.py) proves a KEY, but "transcript rows with
the same clip_id must agree on codec" is an FD, not a key. The check is a
two-phase aggregate — dropDuplicates on (determinant, dependent) gives a
map-side-combinable first phase, then a count per determinant group — so
the exchange carries distinct pairs, never raw rows, and a skewed
determinant is bounded by its distinct dependent count, not its row count.
NULL dependents count as a value (two rows NULL/NULL agree; NULL/'x'
violate), matching SQL DISTINCT semantics in both engines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["suggest_constraints", "functional_dependency"]

_NUMERIC = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.DecimalType)

_SUGGEST_SCHEMA = T.StructType([
    T.StructField("col_name", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("threshold", T.DoubleType(), True),
    T.StructField("lo", T.DoubleType(), True),
    T.StructField("hi", T.DoubleType(), True),
    T.StructField("members", T.StringType(), True),
    T.StructField("n_rows", T.LongType(), False),
])


def _round6(v: float, edge: float, up: bool) -> float:
    """``round(v, 6)``, or one step further up (``up``) or down when that
    would cut ``edge``, the observed value the suggestion must admit.
    ``v`` lies on the admitting side of ``edge``, so one step suffices; a
    value with at most 6 decimals comes back unchanged."""
    r = round(v, 6)
    if (r < edge) if up else (r > edge):
        r = round(r + (1e-6 if up else -1e-6), 6)
    return r


def suggest_constraints(df: DataFrame) -> DataFrame:
    """Profile ``df`` (2 bounded passes) and return suggested-constraint rows.

    Rules, each a pure function of the profile:

    - ``completeness``: null_rate == 0 -> threshold 0.0; 0 < rate <=
      0.05 -> threshold round(rate * 1.25, 6) (headroom so the
      suite doesn't flap on the next batch), rounded up instead when
      nearest rounding falls below the observed rate; rate above that ->
      no completeness suggestion (the column is structurally sparse).
    - ``unique``: non-null count == row count == distinct count.
    - ``bounds`` (numeric columns): observed [min, max], rounded to 6
      decimals outward where nearest rounding would exclude min or max.
    - ``membership`` (string columns, 1 <= distinct <= 20):
      the sorted observed value set, comma-joined.

    Output schema: (col_name, kind, threshold, lo, hi, members, n_rows),
    sorted by (col_name, kind). lo/hi are NULL except for bounds; members
    is NULL except for membership.
    """
    cols = list(df.columns)
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
        if isinstance(dtypes[c], _NUMERIC):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__lo_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__hi_{c}"))
    prof = df.agg(*aggs).collect()[0]  # ONE row, bounded by column count
    n = int(prof["__n"])

    member_cols = [
        c for c in cols
        if isinstance(dtypes[c], T.StringType)
        and 1 <= int(prof[f"__nd_{c}"]) <= 20
    ]
    members: dict[str, str] = {}
    if member_cols:
        # second scan pruned to the PROVEN low-cardinality columns; state
        # bounded by 20 values per column.
        row = df.select(*member_cols).agg(*[
            F.array_join(F.sort_array(F.collect_set(F.col(c))), ",")
            .alias(f"__m_{c}")
            for c in member_cols
        ]).collect()[0]
        members = {c: row[f"__m_{c}"] for c in member_cols}

    out: list[tuple] = []
    for c in cols:
        nn, nd = int(prof[f"__nn_{c}"]), int(prof[f"__nd_{c}"])
        null_rate = (n - nn) / n if n else 0.0
        if null_rate == 0.0:
            out.append((c, "completeness", 0.0, None, None, None, n))
        elif null_rate <= 0.05:
            out.append((c, "completeness",
                        _round6(max(null_rate * 1.25, null_rate), null_rate,
                                True),
                        None, None, None, n))
        if n > 0 and nn == n and nd == n:
            out.append((c, "unique", 0.0, None, None, None, n))
        if isinstance(dtypes[c], _NUMERIC) and nn > 0:
            lo, hi = float(prof[f"__lo_{c}"]), float(prof[f"__hi_{c}"])
            out.append((c, "bounds", 0.0, _round6(lo, lo, False),
                        _round6(hi, hi, True), None, n))
        if c in members:
            out.append((c, "membership", 0.0, None, None, members[c], n))
    out.sort(key=lambda r: (r[0], r[1]))
    spark = df.sparkSession
    return spark.createDataFrame(out, _SUGGEST_SCHEMA)


def functional_dependency(
    df: DataFrame,
    fd_name: str,
    determinants: Sequence[str],
    dependent: str,
) -> DataFrame:
    """One summary row: does ``determinants -> dependent`` hold on ``df``?

    Two-phase plan (both map-side combinable, raw rows never cross the
    exchange twice): dropDuplicates on (determinants, dependent) — partial
    aggregation dedupes within each input partition before the shuffle —
    then count dependents per determinant group and fold to one row.
    """
    pairs = df.select(*determinants, dependent).dropDuplicates()
    grp = pairs.groupBy(*determinants).agg(
        F.count(F.lit(1)).alias("__n_dep"))
    return grp.agg(
        F.count(F.lit(1)).alias("__n_groups"),
        F.sum((F.col("__n_dep") > 1).cast("long")).alias("__n_viol"),
    ).select(
        F.lit(fd_name).alias("fd_name"),
        F.col("__n_groups").cast("long").alias("n_groups"),
        F.col("__n_viol").cast("long").alias("n_violating"),
        F.round(
            F.col("__n_viol") / F.greatest(F.col("__n_groups"), F.lit(1)), 6
        ).alias("violation_rate"),
        (F.col("__n_viol") == 0).alias("passed"),
    )
