"""Per-partition column statistics in ONE aggregation pass.

Replaces the reference's per-feature agg-dict composition
(src/baskerville/models/base_spark.py:209-250 + groupBy funnel at 445-458)
with a single ``groupBy(part_id).agg(...)`` whose expressions are all
JVM-side built-ins:

- count / null_count          → F.count / F.sum(isnull)    (feature_request_total.py:25-27 analog)
- min / max                   → F.min / F.max              (base_feature.py:113-116 analog)
- approx_distinct             → hll_sketch_estimate(hll_sketch_agg) — a
  DataSketches HLL, the scale-safe replacement of the reference's exact
  F.countDistinct (features/feature_unique_ua_total.py:28); the north rule
  mandates HLL at 10^12. ``HLL_LG_K`` = 12 holds the relative error
  1.04/sqrt(2^12) under 0.02. It is the sketch stats_state keeps, so equal
  lg_k gives identical estimates.
- quantiles                   → percentile_approx (KLL-style sketch)

Why not ``approx_count_distinct``: Spark's HLL++ keeps its registers as
~410 long fields of the aggregation buffer at rsd 0.02, so five columns
make a ~2,050-field buffer, and every task regenerates and canonicalizes
projection code over it — that, not the rows, dominated this aggregate's
CPU. The DataSketches aggregate carries one binary field per column; it is
also exact at low cardinality.

Scale: one shuffle keyed on part_id; partial aggregation (map-side combine)
applies to every expression, including the HLL and quantile sketches, so the
reduce side sees one sketch per (partition, column) — no collect_list-style
scale traps (cf. reference fallback agg base_spark.py:236-239).
The long-format output is produced by exploding an array<struct> built from
the wide agg row — stays inside whole-stage codegen, no Python.

Driver side, every expression is SQL text (checks/sqltext): the JVM parses
each aggregate, and the whole melt and verdict grid, in one py4j call. As
Column algebra this layer made ~2,300 of the ~5,200 round trips of a
1,000-clip ``run_resumable``; latency-bound, they were the least steady
part of its wall time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from baskerville_spark.checks import sqltext
from baskerville_spark.checks.stats_state import sketchable_sql

DEFAULT_QUANTILES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
#: HLL sketch size of ``approx_distinct`` (relative error under 0.02)
HLL_LG_K = 12


def _stat(col: str, stat: str) -> str:
    """The wide aggregate row's field for one column's statistic."""
    return sqltext.ident(f"{col}__{stat}")


def _aggs_for(df: DataFrame, col: str, numeric: bool) -> list[str]:
    """One column's aggregates as SQL text (see ``sqltext``: the JVM parses
    each in one call, where the Column-algebra form cost ~40 py4j round
    trips per column)."""
    c = sqltext.ident(col)
    out = lambda stat: _stat(col, stat)  # noqa: E731
    aggs = [
        f"count({c}) AS {out('count')}",
        f"sum(CAST(isnull({c}) AS BIGINT)) AS {out('null_count')}",
        f"hll_sketch_estimate(hll_sketch_agg({sketchable_sql(df, col)}, {HLL_LG_K}))"
        f" AS {out('approx_distinct')}",
    ]
    if numeric:
        qs = ", ".join(sqltext.lit(float(q)) for q in DEFAULT_QUANTILES)
        aggs += [
            f"CAST(min({c}) AS DOUBLE) AS {out('min')}",
            f"CAST(max({c}) AS DOUBLE) AS {out('max')}",
            f"percentile_approx(CAST({c} AS DOUBLE), array({qs}), 10000)"
            f" AS {out('quantiles')}",
        ]
    return aggs


def column_stats(
    df: DataFrame,
    part_col: str | None = "part_id",
    *,
    numeric_cols: list[str],
    other_cols: list[str],
) -> DataFrame:
    """Long-format per-(partition, column) stats of ``numeric_cols`` and
    ``other_cols``: one shuffle total.

    Returns columns: part_id, column_name, count, null_count, min, max,
    approx_distinct, quantiles (array<double> at ``DEFAULT_QUANTILES``,
    numeric cols only). ``part_col=None`` computes whole-table stats
    (part_id = 0).
    """
    if part_col is None:
        df = df.withColumn("__whole_table", F.lit(0))
        part_col = "__whole_table"
    aggs: list[str] = []
    for c in numeric_cols:
        aggs += _aggs_for(df, c, True)
    for c in other_cols:
        aggs += _aggs_for(df, c, False)

    wide = df.groupBy(F.col(part_col).alias("part_id")).agg(*map(F.expr, aggs))

    structs = []
    for c in numeric_cols + other_cols:
        numeric = c in numeric_cols
        structs.append(
            f"named_struct('column_name', {sqltext.lit(c)},"
            f" 'count', {_stat(c, 'count')},"
            f" 'null_count', {_stat(c, 'null_count')},"
            f" 'min', {_stat(c, 'min') if numeric else 'CAST(NULL AS DOUBLE)'},"
            f" 'max', {_stat(c, 'max') if numeric else 'CAST(NULL AS DOUBLE)'},"
            f" 'approx_distinct', {_stat(c, 'approx_distinct')},"
            " 'quantiles', "
            f"{_stat(c, 'quantiles') if numeric else 'CAST(NULL AS ARRAY<DOUBLE>)'})"
        )

    return wide.selectExpr(
        "part_id", f"explode(array({', '.join(structs)})) AS s"
    ).select("part_id", "s.*")


def stats_verdicts(
    stats: DataFrame,
    null_rate_max: float,
    range_bounds: dict[str, tuple[float, float]],
) -> DataFrame:
    """Threshold stats into verdict rows (reference threshold-verdict shape,
    src/baskerville/models/pipeline_tasks/tasks.py:1784-1794).

    Emits one row per (part_id, check, column): null_rate check always;
    range check for columns with declared bounds.

    Structurally a SINGLE pass over ``stats``: every check row comes out of
    one explode(array_compact(...)) — not a union of a null-rate branch plus
    one filtered branch per bounded column. The union form re-executes the
    whole stats subtree (the one-shuffle aggregate over the fact table) once
    per branch whenever ``stats`` is not cached, because filter/column
    pruning specialize each branch's aggregate and defeat ReuseExchange
    (same pathology as drift_verdicts' old union — see docs/PLANS.md).
    """
    n_total = "(`count` + `null_count`)"
    null_rate = f"CAST(`null_count` / greatest({n_total}, 1) AS DOUBLE)"
    lit = sqltext.lit
    pieces = [
        "named_struct("
        "'check_name', concat('null_rate:', `column_name`),"
        f" 'passed', {null_rate} <= {lit(null_rate_max)},"
        f" 'metric_value', {null_rate},"
        f" 'threshold', {lit(null_rate_max)},"
        f" 'n_rows', {n_total},"
        " 'n_violations', `null_count`)"
    ]
    for col, (lo, hi) in range_bounds.items():
        # struct-or-NULL; array_compact drops the NULLs so the range verdict
        # only materializes on the matching column's stats row. coalesce: an
        # all-NULL partition has NULL min/max → vacuous pass (the null-rate
        # check flags it), never a NULL verdict a boolean filter downstream
        # silently drops
        pieces.append(
            f"CASE WHEN `column_name` = {lit(col)} THEN named_struct("
            "'check_name', concat('range:', `column_name`),"
            f" 'passed', coalesce(`min` >= {lit(lo)} AND `max` <= {lit(hi)}, TRUE),"
            " 'metric_value', `max`,"
            f" 'threshold', {lit(float(hi))},"
            f" 'n_rows', {n_total},"
            " 'n_violations', CAST(NULL AS BIGINT)) END"
        )
    return stats.selectExpr(
        "part_id", f"explode(array_compact(array({', '.join(pieces)}))) AS __v"
    ).select("part_id", "__v.*")


def benford_digits(df: DataFrame, col: str) -> DataFrame:
    """Benford first-significant-digit analysis of a numeric column: one
    row per digit 1..9 with observed count/fraction, the Benford
    expectation log10(1 + 1/d), and the absolute deviation. Fabricated or
    template-generated numeric columns (synthetic payments, copy-pasted
    measurements, unit-mangled durations) break the Benford curve long
    before their mean/stddev look wrong — the classic forensic screen,
    applicable when the column spans several orders of magnitude.

    The digit is extracted as the first [1-9] character of the value's
    string form — correct in plain AND scientific notation ('0.00123',
    '1.23E7', '-9.9e-5' all yield the right digit), sign-blind, and NULL
    for 0/NaN/Inf (excluded with n accounting). The numeric alternative,
    floor(x / 10^floor(log10 x)), returns digit 10 whenever log10 lands
    an ulp low on a power of ten — the string path has no such edge.

    Scale: ONE full-data pass (regexp + groupBy on a 9-value key); the
    digit frame is a literal 9-row join. Zero-observation digits still
    emit their row (a digit with expectation 30% and count 0 is the
    strongest possible signal — it must not vanish from the report).
    """
    digit = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    counts = (
        df.where(F.col(col).isNotNull() & (digit != ""))
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    # persist the 9-row frame: the total and the output both derive from
    # it — unpersisted, each branch is a separate full scan of the table
    full = digits.join(counts, "digit", "left").na.fill({"n_d": 0}).persist()
    total = full.agg(F.sum("n_d").alias("n_total"))
    out = full.crossJoin(F.broadcast(total))
    obs = F.col("n_d") / F.greatest(F.col("n_total"), F.lit(1))
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return out.select(
        "digit",
        F.col("n_d").cast("long").alias("n_d"),
        obs.cast("double").alias("obs_frac"),
        exp.alias("exp_frac"),
        F.abs(obs - exp).cast("double").alias("abs_dev"),
    )


ZIPF_TOP_K = 500  # most frequent tokens ``zipf_fit`` fits


def zipf_fit(df: DataFrame, text_col: str) -> DataFrame:
    """Zipf power-law fit over the corpus token-frequency curve: OLS of
    ln(freq) on ln(rank) over the ``ZIPF_TOP_K`` most frequent tokens
    (whitespace tokens of lower(trim(text)), the q80 vocab convention;
    ties ranked deterministically by (count DESC, token ASC)).

    One row out: ``(n_ranked, slope, intercept, r2)``. A healthy natural
    corpus fits ln f ≈ c − s·ln r with s ≈ 1 and high r² (Zipf's law);
    the fit degrades in ways each tail of the pipeline can cause —
    boilerplate/template floods flatten the head (s ≪ 1), broken dedup
    inflates it (s ≫ 1), and a low r² flags a mixture of mismatched
    sources — making this the one-number corpus-health screen next to
    the per-document quality features (quality_features) and the
    vocabulary audit (vocab_oov).

    Scale: the ONLY full-data pass is explode→groupBy(token) with
    map-side partial aggregation; the rank window runs AFTER a
    TakeOrdered-style ``orderBy().limit(ZIPF_TOP_K)``, so it orders a
    frame bounded by ``ZIPF_TOP_K``, never the vocabulary. The OLS sums
    are one aggregate over those rows.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = df.select(F.explode(toks).alias("token")).where(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.withColumn("r", F.row_number().over(w))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x > 0, cov_n / var_x)
    intercept = F.when(var_x > 0, (sy - (cov_n / var_x) * sx) / n)
    r2 = F.when((var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y))
    return s.select(
        n.cast("long").alias("n_ranked"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
