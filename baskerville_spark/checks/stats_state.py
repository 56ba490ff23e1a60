"""Mergeable column-stats state: validate appends without rescanning.

The reference recomputes its request-set statistics from scratch every
pipeline run (src/baskerville/models/base_spark.py:445-458 — the feature
funnel always aggregates the full window); at 10^12 rows a full rescan per
appended Iceberg snapshot is the dominant cost. This module makes the stats
layer INCREMENTAL the Spark-first way: every aggregate the validation suite
needs is kept in a *mergeable state row* per (group × ingest batch) —

- count / null-count / min / max / sum: trivially mergeable scalars,
- approx-distinct: a DataSketches HLL sketch (``hll_sketch_agg``), whose
  union (``hll_union_agg``) is register-wise max — so merging per-batch
  sketches yields BIT-IDENTICAL estimates to a single pass over the union
  (max is associative/commutative/idempotent; asserted in tests).

Workflow: ``stats_state(new_batch)`` scans ONLY the new partitions (one
pass, one exchange), the tiny state rows are appended to a state table, and
``merge_stats_states`` folds any set of state rows into current table-level
stats — never touching settled data. A killed backfill resumes by merging
whatever states were committed (the manifest pattern, runtime/manifest.py).

Caveats stated where they bite: double-typed sums are floating-point and
order-dependent, so cross-run equality is only exact for integral columns
(the gate and tests use bigint); estimates come from sketches and must be
consumed through verdicts with margins >> rsd (1.04/sqrt(2^lg_k); 0.81% at
``DEFAULT_LG_K`` = 14), the same discipline as checks/suite.approx_distinct.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark.checks import sqltext
from baskerville_spark.checks.drift import bucket_counts

__all__ = [
    "sketchable",
    "sketchable_sql",
    "stats_state",
    "merge_stats_states",
    "finalize_stats",
    "histogram_quantile_bounds",
    "histogram_psi",
    "histogram_ks",
]

#: HLL sketch size of every state table: relative error 1.04/sqrt(2^14)
DEFAULT_LG_K = 14


def sketchable_sql(df: DataFrame, name: str) -> str:
    """``df[name]`` as SQL text in a type ``hll_sketch_agg`` accepts (INT,
    BIGINT, STRING, BINARY), mapped injectively so distinct values stay
    distinct: native types pass through uncast (no per-row cast on the hot
    path); small integrals, booleans, dates and timestamps widen losslessly
    to int/bigint; floating and decimal values use their string form (±0.0
    folded to 0.0, as SQL equality has it); anything else is hashed."""
    c = sqltext.ident(name)
    t = df.schema[name].dataType
    if isinstance(t, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
        return c
    if isinstance(t, (T.ByteType, T.ShortType, T.BooleanType)):
        return f"CAST({c} AS INT)"
    if isinstance(t, T.DateType):
        return f"unix_date({c})"
    if isinstance(t, T.TimestampType):
        return f"unix_micros({c})"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        x = f"CAST({c} AS DOUBLE)"
        return f"CAST(CASE WHEN {x} = 0 THEN 0.0D ELSE {x} END AS STRING)"
    if isinstance(t, T.DecimalType):
        return f"CAST({c} AS STRING)"
    return f"xxhash64({c})"


def sketchable(df: DataFrame, name: str) -> Column:
    """:func:`sketchable_sql` as a Column."""
    return F.expr(sketchable_sql(df, name))


def stats_state(
    df: DataFrame,
    group_by: Sequence[str],
    numeric_cols: Sequence[str],
    distinct_cols: Sequence[str] = (),
    hist_cols: Optional[Mapping[str, Sequence[float]]] = None,
) -> DataFrame:
    """One pass over ``df`` -> one mergeable state row per group.

    Columns: n_rows, then per numeric col ``{c}_n/_nulls/_min/_max/_sum``
    (sum keeps the input's integral/floating class), per distinct col
    ``{c}_hll`` (binary sketch at ``DEFAULT_LG_K``), per hist col
    ``{c}_hist`` (exact bin counts, every bin a conditional SUM — see the
    histogram section below). All partials combine map-side; the exchange
    carries one row per (group × task).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in numeric_cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}_n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}_nulls"),
            F.min(col).alias(f"{c}_min"),
            F.max(col).alias(f"{c}_max"),
            F.sum(col).alias(f"{c}_sum"),
        ]
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(sketchable(df, c), DEFAULT_LG_K).alias(f"{c}_hll"))
    for c, edges in (hist_cols or {}).items():
        aggs.append(_hist_counts(c, edges).alias(f"{c}_hist"))
    return df.groupBy(*group_by).agg(*aggs)


def merge_stats_states(
    states: DataFrame,
    group_by: Sequence[str],
    numeric_cols: Sequence[str],
    distinct_cols: Sequence[str] = (),
    hist_cols: Optional[Mapping[str, Sequence[float]]] = None,
) -> DataFrame:
    """Fold state rows (same schema as ``stats_state`` output, any number
    of batches unioned together) into one state row per group. Merging is
    exact for counts/min/max/integral sums and register-max for sketches —
    ``merge(state(A), state(B)) == state(A ∪ B)`` field-for-field when A
    and B are disjoint batches (asserted in tests/test_checks.py); for
    histograms BIT-EXACTLY: collect_list order is nondeterministic but long
    addition is order-free, and the list is bounded by the number of
    ingest batches per group (state rows, not data rows)."""
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in numeric_cols:
        aggs += [
            F.sum(f"{c}_n").alias(f"{c}_n"),
            F.sum(f"{c}_nulls").alias(f"{c}_nulls"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
            F.sum(f"{c}_sum").alias(f"{c}_sum"),
        ]
    for c in distinct_cols:
        # lg_k is fixed per state table (DEFAULT_LG_K); differing sketches
        # would silently degrade to the smaller k, so forbid them.
        aggs.append(
            F.hll_union_agg(f"{c}_hll", False).alias(f"{c}_hll")
        )
    for c, edges in (hist_cols or {}).items():
        aggs.append(_hist_merge(f"{c}_hist", len(edges) + 1))
    return states.groupBy(*group_by).agg(*aggs)


def finalize_stats(state: DataFrame, distinct_cols: Sequence[str]) -> DataFrame:
    """Render consumable stats from a state row: adds
    ``{c}_distinct_est`` (long) per distinct col and drops the binary
    sketches (merge the state rows, not this output)."""
    out = state
    for c in distinct_cols:
        out = out.withColumn(
            f"{c}_distinct_est", F.hll_sketch_estimate(f"{c}_hll")
        )
    return out.drop(*[f"{c}_hll" for c in distinct_cols])


# --------------------------------------------------------------------------
# Mergeable histogram state: exact binned distributions that fold by
# element-wise sum. The north rule names KLL quantile sketches; with FIXED
# bin edges (the production shape — edges come from the baseline snapshot,
# checks/drift.capture_baseline) an exact count histogram is the *stronger*
# sketch: merging per-batch count arrays is bit-exact (long addition is
# associative/commutative), quantiles come back with a provable ±bin-width
# bound, and PSI drift is computed from the same state with zero rescans.
# Reference contrast: baskerville recomputes its feature histograms from the
# full window every run (src/baskerville/models/base_spark.py:445-458).
# --------------------------------------------------------------------------


def _hist_counts(c: str, edges: Sequence[float]) -> Column:
    """array<long> of len(edges)+1 exact bin counts (bin 0 = (-inf, e0),
    bin i = [e_{i-1}, e_i), last = [e_last, inf)) as conditional SUMs
    (NULLs excluded — track them via stats_state's ``{c}_nulls``)."""
    return F.array(*bucket_counts(c, edges))


def _hist_merge(hist_col: str, nb: int) -> Column:
    zero = F.array_repeat(F.lit(0).cast("long"), nb)
    return F.aggregate(
        F.collect_list(hist_col),
        zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    ).alias(hist_col)


def _prefix_ge(counts: Column, target: Column) -> Column:
    """Smallest 1-based index whose left-fold prefix sum reaches ``target``
    (NULL if the whole array sums below it)."""
    idxs = F.filter(
        F.sequence(F.lit(1), F.size(counts)),
        lambda i: F.aggregate(
            F.slice(counts, F.lit(1), i),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ) >= target,
    )
    return F.element_at(idxs, F.lit(1))


def histogram_quantile_bounds(
    counts: Column, q: float, inner_edges: Sequence[float]
) -> tuple[Column, Column]:
    """(lo, hi) edge bounds bracketing the exact q-quantile of the data the
    histogram summarizes: the rank-ceil(q·n) element lands in bin k, whose
    edges bound every element in it. Exact integer arithmetic end-to-end
    (counts are exact longs; ceil(q·n) is exact for n < 2^52), so the
    bounds are deterministic and oracle-hashable; unbounded outer bins
    yield NULL on that side. Error is the bin width — the knob the caller
    owns via the baseline's edges."""
    total = F.aggregate(
        counts, F.lit(0).cast("long"), lambda a, x: a + x
    )
    target = F.greatest(
        F.ceil(F.lit(float(q)) * total).cast("long"), F.lit(1).cast("long")
    )
    k = _prefix_ge(counts, target)  # 1-based bin index
    edge_arr = F.array(*[F.lit(float(e)) for e in inner_edges])
    lo = F.when(k > 1, F.element_at(edge_arr, (k - 1).cast("int")))
    hi = F.when(
        k <= len(inner_edges), F.element_at(edge_arr, k.cast("int"))
    )
    return lo, hi


def _count_fracs(counts: Column) -> Column:
    total = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
    return F.transform(counts, lambda x: x / F.greatest(total, F.lit(1)))


def histogram_ks(
    cur_counts: Column, base_counts: Column, n_bins: int
) -> Column:
    """Binned two-sample KS between two histogram states
    (checks/drift._binned_ks over their count fractions) — PSI's companion
    from the SAME state rows."""
    from baskerville_spark.checks.drift import _binned_ks

    return _binned_ks(_count_fracs(cur_counts), _count_fracs(base_counts), n_bins)


def histogram_psi(cur_counts: Column, base_counts: Column) -> Column:
    """PSI between two histogram states (current vs baseline snapshot).
    Fractions = count/max(total,1) per side, then the ONE copy of the
    clamped PSI arithmetic (checks/drift._clamped_psi) — same fold order
    as every drift oracle."""
    from baskerville_spark.checks.drift import _clamped_psi

    return _clamped_psi(_count_fracs(cur_counts), _count_fracs(base_counts))
