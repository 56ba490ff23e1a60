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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark.gates.fixtures import _t

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


# --------------------------------------------------------------------------
# q129: constraint suggestion (suggest_constraints) — the Deequ-style
# profile->suite loop the reference cannot do (its rules are hard-coded per
# feature class, src/baskerville/features/feature_*.py). Profiles a derived
# orders frame (planted 2% NULL tag column with 30 distinct values, so the
# padded-completeness branch fires and the membership guard REJECTS a
# 30-value column) in two bounded passes and emits deterministic suggested
# constraints. The oracle restates every rule data-driven: guarded UNION ALL
# branches per (column x kind) whose WHERE clauses are the suggestion rules
# themselves, so a data change that flips a rule flips both engines.
# --------------------------------------------------------------------------

def q129_suggest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 50 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("c"), (F.col("o_orderkey") % 30).cast("string"))
        ).alias("o_tag"),
    )
    return suggest_constraints(src)


_Q129_COLS = [
    # (name, numeric, string)
    ("o_orderkey", True, False),
    ("o_custkey", True, False),
    ("o_orderstatus", False, True),
    ("o_totalprice", True, False),
    ("o_orderpriority", False, True),
    ("o_tag", False, True),
]

_Q129_PROFILE = ",\n".join(
    f"""    COUNT({c}) AS nn_{c}, COUNT(DISTINCT {c}) AS nd_{c}"""
    + (f""",
    CAST(MIN({c}) AS DOUBLE) AS lo_{c},
    CAST(MAX({c}) AS DOUBLE) AS hi_{c}""" if num else "")
    for c, num, _ in _Q129_COLS
)

_Q129_BRANCHES = "\nUNION ALL\n".join(
    b for c, num, s in _Q129_COLS for b in filter(None, [
        f"""SELECT '{c}' AS col_name, 'completeness' AS kind,
       CASE WHEN nn_{c} = n THEN CAST(0.0 AS DOUBLE)
            ELSE ROUND(CAST(n - nn_{c} AS DOUBLE) / n * 1.25, 6) END
         AS threshold,
       CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
       CAST(NULL AS VARCHAR) AS members, n AS n_rows
FROM p WHERE CAST(n - nn_{c} AS DOUBLE) / n <= 0.05""",
        f"""SELECT '{c}', 'unique', CAST(0.0 AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), n
FROM p WHERE nn_{c} = n AND nd_{c} = n""",
        (f"""SELECT '{c}', 'bounds', CAST(0.0 AS DOUBLE),
       ROUND(lo_{c}, 6), ROUND(hi_{c}, 6), CAST(NULL AS VARCHAR), n
FROM p WHERE nn_{c} > 0""" if num else None),
        (f"""SELECT '{c}', 'membership', CAST(0.0 AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       (SELECT string_agg(v, ',' ORDER BY v)
        FROM (SELECT DISTINCT {c} AS v FROM src WHERE {c} IS NOT NULL)), n
FROM p WHERE nd_{c} BETWEEN 1 AND 20""" if s else None),
    ])
)

Q129_SQL = f"""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         CASE WHEN o_orderkey % 50 = 0 THEN NULL
              ELSE 'c' || CAST(o_orderkey % 30 AS VARCHAR) END AS o_tag
  FROM orders),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
{_Q129_PROFILE}
  FROM src)
{_Q129_BRANCHES}
"""


# --------------------------------------------------------------------------
# q130: functional-dependency checks (functional_dependency). Uniqueness proves
# a KEY; an FD proves AGREEMENT — "transcript rows sharing a clip_id must
# agree on codec" is the audio-table shape. Three FDs: a holding one
# (o_orderkey -> o_orderstatus, key->attribute), a violated single-column
# one (l_orderkey -> l_returnflag), and a violated COMPOSITE determinant
# ((l_orderkey, l_linenumber) -> l_partkey). Two-phase plan per FD:
# map-side-combined dropDuplicates on (det, dep), then count per group —
# the exchange carries distinct pairs, never raw rows. NULL dependents
# count as a value (SQL DISTINCT semantics, identical in both engines).
# --------------------------------------------------------------------------

def q130_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        functional_dependency(o, "orders_key_status",
                              ["o_orderkey"], "o_orderstatus")
        .unionByName(functional_dependency(
            li, "lineitem_order_returnflag",
            ["l_orderkey"], "l_returnflag"))
        .unionByName(functional_dependency(
            li, "lineitem_orderline_partkey",
            ["l_orderkey", "l_linenumber"], "l_partkey"))
    )


Q130_SQL = """
WITH fd1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
  FROM (SELECT o_orderkey, COUNT(*) AS n_dep
        FROM (SELECT DISTINCT o_orderkey, o_orderstatus FROM orders)
        GROUP BY o_orderkey)),
fd2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
  FROM (SELECT l_orderkey, COUNT(*) AS n_dep
        FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
        GROUP BY l_orderkey)),
fd3 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
  FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS n_dep
        FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey
              FROM lineitem)
        GROUP BY l_orderkey, l_linenumber))
SELECT 'orders_key_status' AS fd_name, n_groups, n_viol AS n_violating,
       ROUND(CAST(n_viol AS DOUBLE) / GREATEST(n_groups, 1), 6)
         AS violation_rate,
       n_viol = 0 AS passed
FROM fd1
UNION ALL
SELECT 'lineitem_order_returnflag', n_groups, n_viol,
       ROUND(CAST(n_viol AS DOUBLE) / GREATEST(n_groups, 1), 6), n_viol = 0
FROM fd2
UNION ALL
SELECT 'lineitem_orderline_partkey', n_groups, n_viol,
       ROUND(CAST(n_viol AS DOUBLE) / GREATEST(n_groups, 1), 6), n_viol = 0
FROM fd3
"""
