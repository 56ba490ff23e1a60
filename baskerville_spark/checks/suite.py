"""Declarative constraint suite compiled to ONE aggregation pass.

The reference scatters its data-quality rules across per-feature pipeline
stages (features/feature_*.py one class per metric, each with its own pass
over the request set); a 10^12-row validation engine cannot afford one scan
per rule. This module is the Spark-first restatement: the user DECLARES a
list of constraints (completeness / bounds / regex / set membership /
arbitrary SQL predicate / mean window / approx-distinct floor) and
``run_suite`` compiles ALL of them into a single ``groupBy(...).agg(...)``
— one scan of the table, one exchange, map-side partial aggregation — then
unpivots the one aggregate row per group into the engine's standard verdict
shape (part/check/passed/metric/threshold/n_rows/n_violations), so suite
verdicts union directly with ``run_validation``'s grid (runtime/runner.py).

Scale properties (the 100-TB story):
- **One pass, always.** k constraints add k conditional-sum columns to a
  single hash aggregate; the scan count stays 1 whether k is 3 or 300.
  Catalyst prunes the scan to exactly the columns the constraints touch
  (ReadSchema shows only those), and every sum/min/max/HLL partial is
  combined map-side, so the exchange carries one row per (group × task).
- **Approx-distinct rides the same pass**: ``approx_count_distinct`` is a
  mergeable HLL partial, not a second distinct job — no Expand, no extra
  shuffle (contrast q57's deliberate exact multi-countDistinct Expand).
- **The unpivot is a Project, not a shuffle**: the tidy verdict rows are
  ``inline(array(struct(...)))`` over the finished aggregate — zero extra
  exchanges (plan-asserted in tests/test_checks.py).

Violation-rate semantics (uniform across rate kinds): each constraint
defines a *checkable* predicate (rows the rule applies to) and a *violated*
predicate; ``passed = violation_rate <= max_rate`` with
``rate = n_violations / max(n_checkable, 1)``. NULL handling is explicit
per kind (a NULL in a bounds/pattern/membership column is NOT a violation —
completeness is its own constraint; a NULL predicate result IS a violation,
because the rule could not be affirmed).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Constraint",
    "completeness",
    "bounds",
    "pattern",
    "membership",
    "predicate",
    "mean_between",
    "approx_distinct_min",
    "run_suite",
    "suite_from_json",
]


@dataclass(frozen=True)
class Constraint:
    """One declared rule. ``kind`` picks the compile strategy:

    - rate kinds (completeness/bounds/pattern/membership/predicate):
      checkable+violated predicates -> two conditional sums.
    - ``mean``: sum+count -> metric is the mean, passed = lo <= m <= hi.
    - ``approx_distinct``: HLL partial -> passed = estimate >= min_count;
      metric_value is NULL (an HLL estimate is not reproducible across
      engines, so it never enters a value-hashed column).
    """

    name: str
    kind: str
    column: Optional[str]
    threshold: float
    params: tuple = field(default=())

    # -- compile: aggregate expressions this constraint contributes --------
    def agg_exprs(self) -> list[Column]:
        p = f"__{self.name}"
        if self.kind in ("completeness", "bounds", "pattern",
                         "membership", "predicate"):
            checkable, violated = self._rate_predicates()
            return [
                F.sum(checkable.cast("long")).alias(p + "_n"),
                F.sum((checkable & violated).cast("long")).alias(p + "_v"),
            ]
        if self.kind == "mean":
            c = F.col(self.column)
            return [
                F.count(c).alias(p + "_n"),
                F.sum(c.cast("double")).alias(p + "_s"),
            ]
        if self.kind == "approx_distinct":
            return [
                F.count(F.col(self.column)).alias(p + "_n"),
                F.approx_count_distinct(self.column).alias(p + "_d"),
            ]
        raise ValueError(f"unknown constraint kind {self.kind!r}")

    def _rate_predicates(self) -> tuple[Column, Column]:
        c = F.col(self.column) if self.column else None
        if self.kind == "completeness":
            return F.lit(True), c.isNull()
        if self.kind == "bounds":
            lo, hi = self.params
            return c.isNotNull(), (c < F.lit(lo)) | (c > F.lit(hi))
        if self.kind == "pattern":
            (rx,) = self.params
            return c.isNotNull(), ~c.rlike(rx)
        if self.kind == "membership":
            (allowed,) = self.params
            return c.isNotNull(), ~c.isin(*allowed)
        # predicate: applies to every row; a NULL result means the rule
        # could not be affirmed -> violation.
        (expr,) = self.params
        return F.lit(True), ~F.coalesce(F.expr(expr), F.lit(False))

    # -- finish: verdict struct built from the aggregate row ---------------
    def verdict_struct(self) -> Column:
        p = f"__{self.name}"
        null_l = F.lit(None).cast("long")
        if self.kind in ("completeness", "bounds", "pattern",
                         "membership", "predicate"):
            n = F.coalesce(F.col(p + "_n"), F.lit(0))
            v = F.coalesce(F.col(p + "_v"), F.lit(0))
            rate = (v / F.greatest(n, F.lit(1))).cast("double")
            passed, metric = rate <= F.lit(self.threshold), rate
            n_rows, n_viol = n, v
        elif self.kind == "mean":
            lo, hi = self.params
            n = F.coalesce(F.col(p + "_n"), F.lit(0))
            m = (F.col(p + "_s") / F.greatest(n, F.lit(1))).cast("double")
            passed = (m >= F.lit(lo)) & (m <= F.lit(hi))
            metric, n_rows, n_viol = m, n, null_l
        else:  # approx_distinct
            n = F.coalesce(F.col(p + "_n"), F.lit(0))
            passed = F.col(p + "_d") >= F.lit(int(self.threshold))
            metric = F.lit(None).cast("double")
            n_rows, n_viol = n, null_l
        return F.struct(
            F.lit(self.name).alias("check_name"),
            F.lit(self.column).cast("string").alias("col_name"),
            F.coalesce(passed, F.lit(False)).alias("passed"),
            metric.alias("metric_value"),
            F.lit(float(self.threshold)).cast("double").alias("threshold"),
            n_rows.cast("long").alias("n_rows"),
            n_viol.alias("n_violations"),
        )


# -- declaration helpers ----------------------------------------------------

def completeness(name: str, column: str, max_null_rate: float) -> Constraint:
    return Constraint(name, "completeness", column, max_null_rate)


def bounds(name: str, column: str, lo, hi, max_rate: float) -> Constraint:
    return Constraint(name, "bounds", column, max_rate, (lo, hi))


def pattern(name: str, column: str, regex: str) -> Constraint:
    return Constraint(name, "pattern", column, 0.0, (regex,))


def membership(name: str, column: str, allowed: Sequence, max_rate: float) -> Constraint:
    return Constraint(name, "membership", column, max_rate, (tuple(allowed),))


def predicate(name: str, sql_expr: str, max_rate: float) -> Constraint:
    """Arbitrary boolean SQL over the row; rows where it is false OR NULL
    count as violations (the rule could not be affirmed)."""
    return Constraint(name, "predicate", None, max_rate, (sql_expr,))


def mean_between(name: str, column: str, lo: float, hi: float) -> Constraint:
    return Constraint(name, "mean", column, 0.0, (float(lo), float(hi)))


def approx_distinct_min(name: str, column: str, min_count: int) -> Constraint:
    """HLL-estimated distinct floor. Declare thresholds with margin well
    beyond the sketch rsd (~2.3% default) — the verdict is then
    deterministic even though the estimate is engine-specific, which is why
    metric_value is NULL for this kind."""
    return Constraint(name, "approx_distinct", column, float(min_count))


def run_suite(
    df: DataFrame, constraints: Sequence[Constraint], group_by: Sequence[str]
) -> DataFrame:
    """Compile every constraint into one aggregate over ``df``.

    Returns tidy verdict rows: the ``group_by`` columns then (check_name,
    col_name, passed, metric_value, threshold, n_rows, n_violations) —
    len(constraints) rows per group, produced by a single scan + single
    exchange. An empty ``group_by`` makes the whole table one group.
    """
    names = [c.name for c in constraints]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names: {names}")
    aggs = [e for c in constraints for e in c.agg_exprs()]
    verdicts = F.array(*[c.verdict_struct() for c in constraints])
    return df.groupBy(*group_by).agg(*aggs).select(*group_by, F.inline(verdicts))

# -- config round-trip --------------------------------------------------------
#
# The reference is configuration-driven end to end: a YAML file parsed and
# validated into typed sections with loud ConfigError reporting
# (src/baskerville/models/config.py:24,88-107). This is the constraint
# suite's equivalent — a versioned JSON form so suites live in config repos
# / Iceberg table properties rather than code, with the same
# fail-loud-on-bad-config discipline.

_SUITE_FORMAT = 1
_KINDS = (
    "completeness", "bounds", "pattern", "membership", "predicate",
    "mean", "approx_distinct",
)


def suite_from_json(doc: str) -> list[Constraint]:
    """Parse a suite document back into Constraints, loudly: unknown kinds,
    duplicate names, missing fields, and wrong param arity all raise
    ValueError with the offending constraint named (never a silent skip —
    a dropped rule is a validation hole nobody sees)."""
    import json

    d = json.loads(doc)
    if d.get("format") != _SUITE_FORMAT:
        raise ValueError(f"unsupported suite format {d.get('format')!r}")
    arity = {
        "completeness": 0, "bounds": 2, "pattern": 1, "membership": 1,
        "predicate": 1, "mean": 2, "approx_distinct": 0,
    }
    out: list[Constraint] = []
    seen: set[str] = set()
    for row in d.get("constraints", []):
        try:
            name, kind = row["name"], row["kind"]
            column, threshold = row["column"], float(row["threshold"])
            params = row.get("params", [])
        except (KeyError, TypeError) as e:
            raise ValueError(f"malformed constraint entry {row!r}") from e
        if kind not in _KINDS:
            raise ValueError(f"constraint {name!r}: unknown kind {kind!r}")
        if name in seen:
            raise ValueError(f"duplicate constraint name {name!r}")
        if len(params) != arity[kind]:
            raise ValueError(
                f"constraint {name!r}: kind {kind!r} takes {arity[kind]} "
                f"params, got {len(params)}"
            )
        seen.add(name)
        if kind == "membership":
            tup = (tuple(params[0]),)
        else:
            tup = tuple(params)
        out.append(Constraint(name, kind, column, threshold, tup))
    return out

