"""Distribution-drift checks: PSI + two-sample KS vs a baseline snapshot.

Generalizes the reference's incident detector — per-target avg/stddev over a
trailing window compared to the current bucket, anomaly when
``value > avg + sigma*stddev`` (src/baskerville/models/incident_detector.py:251-295,
baseline SQL at 264-275) — into proper distribution distances:

- **PSI** on histogram fractions (numeric: quantile-derived bin edges from
  the baseline; categorical: observed category set + OTHER bucket).
- **KS** approximated from the same binned CDFs. Exact two-sample KS needs a
  global sort — O(n log n) shuffle at 10^12 rows; the binned approximation
  bounds the error by the max bin mass and is one hash-aggregate instead
  (documented trade-off, SURVEY.md §7 "What's hard").

Scale: baseline snapshot is tiny (n_bins doubles per column) and rides into
executors as literal arrays (broadcast-by-closure); the per-partition pass
is ONE groupBy(part_id) over the fact table per column group, all JVM-side
(conditional-sum binning, F.aggregate/zip_with for PSI/KS math — no Python).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.schema import BASELINE_SCHEMA

EPS = 1e-4
PSI_THRESHOLD = 0.2
KS_THRESHOLD = 0.15
CRAMERS_V_THRESHOLD = 0.2
DEFAULT_BINS = 10
#: most frequent values a categorical baseline keeps (the rest fold into OTHER)
MAX_CATEGORIES = 32


# --------------------------------------------------------------------------
# Baseline capture
# --------------------------------------------------------------------------

def capture_baseline(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str],
) -> list[Row]:
    """Snapshot baseline distributions from (presumed clean) data: numeric
    columns as ``DEFAULT_BINS`` quantile bins, categorical columns as their
    ``MAX_CATEGORIES`` most frequent values.

    Returns driver-side rows (BASELINE_SCHEMA); persist with
    ``save_baseline``. The snapshot is tiny by construction, so a driver
    round-trip is correct even at 10^12 input rows — all heavy lifting is
    sketch aggregation on executors.
    """
    rows: list[Row] = []
    if numeric_cols:
        qs = [i / DEFAULT_BINS for i in range(DEFAULT_BINS + 1)]
        aggs = []
        for c in numeric_cols:
            aggs.append(F.percentile_approx(F.col(c).cast("double"), qs).alias(f"{c}__q"))
            aggs.append(F.count(F.col(c)).alias(f"{c}__n"))
        snap = df.agg(*aggs).collect()[0]  # pass 1: sketches for edges
        edges_by_col = {
            c: _dedupe_edges(list(snap[f"{c}__q"] or [])) for c in numeric_cols
        }
        # pass 2: ONE agg with conditional sums for every (column, bucket)
        frac_aggs = [
            s.alias(f"{c}__b{i}")
            for c, edges in edges_by_col.items()
            for i, s in enumerate(bucket_counts(c, edges[1:-1]))
        ]
        frow = df.agg(*frac_aggs).collect()[0]
        for c, edges in edges_by_col.items():
            counts = [frow[f"{c}__b{i}"] or 0 for i in range(len(edges) - 1)]
            total = sum(counts) or 1
            rows.append(
                Row(
                    column_name=c,
                    kind="numeric",
                    bin_edges=[float(e) for e in edges],
                    categories=None,
                    bin_fractions=[cnt / total for cnt in counts],
                    quantiles=[float(x) for x in (snap[f"{c}__q"] or [])],
                    n=int(snap[f"{c}__n"]),
                )
            )
    if categorical_cols:
        # ONE job for every categorical column: melt (col, value) pairs,
        # count, rank per column with a window, keep top MAX_CATEGORIES.
        # The per-column groupBy().orderBy().limit().collect() loop this
        # replaces ran one full scan PER column — N scans of a 100 TB table
        # where one suffices (same single-pass lesson as stats_verdicts).
        from pyspark.sql import Window

        melted = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("__name"),
                            F.col(c).cast("string").alias("__value"),
                        )
                        for c in categorical_cols
                    ]
                )
            ).alias("kv")
        ).select("kv.*")
        w = Window.partitionBy("__name").orderBy(
            F.desc("cnt"), F.asc_nulls_last("__value")
        )
        top_rows = (
            melted.groupBy("__name", "__value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= MAX_CATEGORIES)
            .collect()
        )
        by_col: dict[str, list[Row]] = {c: [] for c in categorical_cols}
        for r in sorted(top_rows, key=lambda r: (r["__name"], r["__rn"])):
            by_col[r["__name"]].append(r)
        for c in categorical_cols:
            top = by_col[c]
            cats = [r["__value"] for r in top if r["__value"] is not None]
            total = sum(r["cnt"] for r in top) or 1
            fr = {r["__value"]: r["cnt"] / total for r in top if r["__value"] is not None}
            fracs = [float(fr.get(cat, 0.0)) for cat in cats] + [0.0]  # trailing OTHER
            rows.append(
                Row(
                    column_name=c,
                    kind="categorical",
                    bin_edges=None,
                    categories=[str(x) for x in cats],
                    bin_fractions=fracs,
                    quantiles=None,
                    n=int(total),
                )
            )
    return rows


def _dedupe_edges(edges: list[float]) -> list[float]:
    out: list[float] = []
    for e in edges:
        if e is None:
            continue
        if not out or e > out[-1]:
            out.append(float(e))
    if len(out) < 2:  # degenerate constant column
        base = out[0] if out else 0.0
        out = [base - 0.5, base + 0.5]
    return out


def bucket_counts(
    c: str, inner_edges: Sequence[float] = (), categories: Sequence[str] | None = None
) -> list[Column]:
    """Non-null rows of column ``c`` per bucket: one conditional sum each,
    so every bucket of every column rides one aggregate (and composes
    under partial and micro-batch aggregation). The one copy of the
    binning the SQL oracles mirror.

    Numeric: bucket i counts values with exactly i of ``inner_edges`` at
    or below them (bucket 0 = (-inf, e0), last = [e_last, inf)), a
    JVM-side sum of casts. With ``categories``: bucket i is
    ``categories[i]``, the last bucket every other value.
    """
    col = F.col(c)
    if categories is None:
        bucket = F.lit(0)
        for e in inner_edges:
            bucket = bucket + (col.cast("double") >= F.lit(float(e))).cast("int")
        n = len(inner_edges) + 1
    else:
        bucket = F.coalesce(
            *[F.when(col == F.lit(cat), F.lit(i)) for i, cat in enumerate(categories)],
            F.lit(len(categories)),
        )
        n = len(categories) + 1
    notnull = col.isNotNull()
    return [F.sum((notnull & (bucket == i)).cast("long")) for i in range(n)]


def save_baseline(spark: SparkSession, rows: list[Row], path: str) -> None:
    spark.createDataFrame(rows, schema=BASELINE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_baseline(spark: SparkSession, path: str) -> list[Row]:
    return spark.read.parquet(path).collect()


# --------------------------------------------------------------------------
# Drift evaluation
# --------------------------------------------------------------------------

def _clamped_psi(cur_fracs: Column, base_fracs: Column) -> Column:
    """PSI between two fraction array columns: EPS-clamp both sides,
    zip_with the (p−q)·ln(p/q) terms, left-fold sum — the ONE copy of
    this arithmetic; every oracle mirrors its evaluation order."""
    clamped_p = F.transform(cur_fracs, lambda x: F.greatest(x, F.lit(EPS)))
    clamped_q = F.transform(base_fracs, lambda x: F.greatest(x, F.lit(EPS)))
    terms = F.zip_with(
        clamped_p, clamped_q, lambda p, q: (p - q) * F.log(p / q)
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def _cdf_at(fracs: Column, i: int) -> Column:
    """CDF prefix sum of the first i buckets (left fold, matching the SQL
    oracles' `b0 + b1 + ...` evaluation order)."""
    return F.aggregate(F.slice(fracs, 1, i), F.lit(0.0), lambda acc, x: acc + x)


def _binned_ks(cur_fracs: Column, base_fracs: Column, n_bins: int) -> Column:
    """Binned two-sample KS between two fraction array columns: max over
    bin prefixes of |CDF_cur − CDF_base|, each CDF a left-fold prefix sum
    (``_cdf_at``, the fold order of every drift oracle). PSI's companion:
    PSI weights tail moves by log-ratio, KS catches bulk CDF shifts PSI's
    clamping mutes. No EPS clamping (CDFs, not ratios)."""
    diffs = [
        F.abs(_cdf_at(cur_fracs, i) - _cdf_at(base_fracs, i))
        for i in range(1, n_bins + 1)
    ]
    return F.greatest(*diffs) if len(diffs) > 1 else diffs[0]


def _psi_ks_from_fracs(cur_fracs: Column, base_fracs: list[float]) -> tuple[Column, Column]:
    """PSI and binned-KS between a current fractions array column and a
    LITERAL baseline fractions array — computed with array built-ins
    (zip_with/aggregate), fully JVM-side. The baseline CDF is folded in
    Python (constant per bucket) — q44's oracle mirrors exactly that fold,
    so this literal path must NOT be collapsed into the column-vs-column
    one (_clamped_psi + _cdf_at), which folds both sides at runtime."""
    base = F.array(*[F.lit(float(x)) for x in base_fracs])
    psi = _clamped_psi(cur_fracs, base)

    n = len(base_fracs)
    # binned KS: max over prefix sums |P_cdf - Q_cdf|
    diffs = []
    base_cdf = 0.0
    for i in range(1, n + 1):
        base_cdf = sum(base_fracs[:i])
        diffs.append(F.abs(_cdf_at(cur_fracs, i) - F.lit(float(base_cdf))))
    ks = F.greatest(*diffs) if len(diffs) > 1 else diffs[0]
    return psi, ks


def _wide_bucket_agg(
    df: DataFrame, baseline_rows: list[Row]
) -> tuple[DataFrame, dict[str, int]]:
    """The ONE-scan/ONE-shuffle wide aggregate shared by drift_verdicts and
    psi_attribution: every (column, bucket) conditional sum plus the
    per-column non-null count, in a single groupBy(part_id).agg. The binning
    here is parity-critical — the SQL oracles mirror it — so it must exist
    exactly once."""
    aggs = []
    buckets: dict[str, int] = {}
    for row in baseline_rows:
        c = row["column_name"]
        if row["kind"] == "numeric":
            counts = bucket_counts(c, list(row["bin_edges"])[1:-1])
        else:
            counts = bucket_counts(c, categories=list(row["categories"]))
        buckets[c] = len(counts)
        aggs += [s.alias(f"{c}__b{i}") for i, s in enumerate(counts)]
        aggs.append(F.count(F.col(c)).alias(f"{c}__n"))
    wide = df.groupBy(F.col("part_id").cast("int").alias("part_id")).agg(*aggs)
    return wide, buckets


def drift_verdicts(
    df: DataFrame,
    baseline_rows: list[Row],
) -> DataFrame:
    """Verdict rows (part_id, check_name, passed, metric_value, threshold,
    n_rows, n_violations): psi:<col> and ks:<col> per partition,
    judged at ``PSI_THRESHOLD`` and ``KS_THRESHOLD``.

    ONE scan + ONE shuffle total: every column's per-bucket conditional sums
    are expressions in a single groupBy(part_id).agg(...); the PSI/KS math
    then runs on the tiny wide result. Verdict shape mirrors the reference's
    incident condition (incident_detector.py:285-289); callers AND the
    per-metric verdicts as needed.
    """
    if not baseline_rows:
        raise ValueError("empty baseline")

    wide, buckets = _wide_bucket_agg(df, baseline_rows)

    # ALL metric rows come out of ONE explode(array(struct...)) over the wide
    # aggregate — not a union of per-metric branches. A union looks harmless
    # but lets Catalyst column-prune each branch's aggregate down to just its
    # own column's buckets, making the branch exchanges non-identical: no
    # ReuseExchange, and the fact table is re-scanned once per metric (4x for
    # 2 columns; caught by test_drift_verdicts_single_scan_plan). The explode
    # form is structurally one scan + one shuffle regardless of column count.
    structs = []
    for row in baseline_rows:
        c = row["column_name"]
        fracs = F.array(
            *[
                (F.col(f"{c}__b{i}") / F.greatest(F.col(f"{c}__n"), F.lit(1))).cast("double")
                for i in range(buckets[c])
            ]
        )
        psi, ks = _psi_ks_from_fracs(fracs, list(row["bin_fractions"]))
        for metric, expr, thr in (
            ("psi", psi, PSI_THRESHOLD),
            ("ks", ks, KS_THRESHOLD),
        ):
            structs.append(
                F.struct(
                    F.lit(f"{metric}:{c}").alias("check_name"),
                    (expr <= thr).alias("passed"),
                    expr.cast("double").alias("metric_value"),
                    F.lit(float(thr)).alias("threshold"),
                    F.col(f"{c}__n").cast("long").alias("n_rows"),
                    F.lit(None).cast("long").alias("n_violations"),
                )
            )
    return wide.select(
        "part_id", F.explode(F.array(*structs)).alias("__v")
    ).select("part_id", "__v.*")


def rolling_bucket_aggs(value_col: str, bin_edges: list[float]) -> list[Column]:
    """The per-window bucket-count aggregate expressions (b0..b{nb-1}, n)
    shared by the batch rolling verdicts and their streaming counterpart
    (the exprs are incremental-safe: conditional sums compose under
    micro-batch partial aggregation)."""
    counts = bucket_counts(value_col, list(bin_edges)[1:-1])
    return [s.alias(f"b{i}") for i, s in enumerate(counts)] + [
        F.count(F.col(value_col)).alias("n")
    ]


def pair_window_counts(
    counts: DataFrame, n_buckets: int
) -> tuple[DataFrame, Column, Column]:
    """Self-join a (window_id, b0.., n) counts table w against w-1 (a
    |windows|-row join — tiny at any data scale; windows are
    time-bounded). Returns (joined, cur_fracs, prev_fracs); windows
    without a consecutive predecessor emit nothing (inner join),
    mirroring "no comparison possible"."""

    def fracs(pfx: str) -> Column:
        return F.array(
            *[
                (
                    F.col(f"{pfx}b{i}")
                    / F.greatest(F.col(f"{pfx}n"), F.lit(1))
                ).cast("double")
                for i in range(n_buckets)
            ]
        )

    # column-rename pairing, not DataFrame aliases: alias-scoped self-joins
    # fail to resolve on frames derived from memory-sink tables (the q104
    # streaming path), and renamed columns are unambiguous everywhere
    cur = counts.select(
        [F.col(c).alias(f"cur_{c}") for c in counts.columns]
    )
    prv = counts.select(
        [F.col(c).alias(f"prv_{c}") for c in counts.columns]
    )
    j = cur.join(
        prv,
        on=F.col("cur_window_id") == F.col("prv_window_id") + 1,
        how="inner",
    )
    return j, fracs("cur_"), fracs("prv_")


def _rolling_pairs(
    df: DataFrame, window_col: Column, value_col: str, bin_edges: list[float]
) -> tuple[DataFrame, Column, Column]:
    """Batch path: one conditional-sum aggregate (one scan, one narrow
    shuffle) then the w/w-1 pairing."""
    counts = df.groupBy(window_col.cast("int").alias("window_id")).agg(
        *rolling_bucket_aggs(value_col, bin_edges)
    )
    return pair_window_counts(counts, len(list(bin_edges)) - 1)


def _rolling_select(j: DataFrame, metric: Column, name: str, threshold: float) -> DataFrame:
    return j.select(
        F.col("cur_window_id").alias("window_id"),
        F.col("prv_window_id").alias("prev_window_id"),
        F.col("cur_n").cast("long").alias("n_rows"),
        metric.cast("double").alias(name),
        (metric <= F.lit(float(threshold))).alias("passed"),
    )


def rolling_psi_verdicts(
    df: DataFrame,
    window_col: Column,
    value_col: str,
    bin_edges: list[float],
) -> DataFrame:
    """Window-over-window drift: PSI of each time window's value
    distribution against the PREVIOUS consecutive window (w vs w-1) — the
    monitoring shape when there is no blessed baseline snapshot, only the
    stream's own recent past (the reference's incident detector compares
    a runtime window to trailing stats the same way,
    incident_detector.py:240-289; this is that check generalized to a
    whole distribution). Judged at ``PSI_THRESHOLD``. Plan shape: see
    _rolling_pairs."""
    j, cur_fracs, prv_fracs = _rolling_pairs(df, window_col, value_col, bin_edges)
    return _rolling_select(
        j, _clamped_psi(cur_fracs, prv_fracs), "psi", PSI_THRESHOLD
    )


def rolling_ks_verdicts(
    df: DataFrame,
    window_col: Column,
    value_col: str,
    bin_edges: list[float],
) -> DataFrame:
    """Window-over-window binned two-sample KS (``_binned_ks``) of each
    time window against the previous one. Same single-aggregate +
    |windows|-row self-join plan as rolling PSI. Judged at
    ``KS_THRESHOLD``."""
    j, cur_fracs, prv_fracs = _rolling_pairs(df, window_col, value_col, bin_edges)
    ks = _binned_ks(cur_fracs, prv_fracs, len(list(bin_edges)) - 1)
    return _rolling_select(j, ks, "ks", KS_THRESHOLD)


def rolling_chi2_verdicts(
    df: DataFrame,
    window_col: Column,
    value_col: str,
    bin_edges: list[float],
) -> DataFrame:
    """Window-over-window chi-squared homogeneity on the shared bucket
    counts, judged on Cramér's V (sqrt(chi2/N) for the 2xK table — the
    scale-free companion to rolling PSI/KS: PSI weights tail moves by
    log-ratio, KS sees bulk CDF shifts, chi2/V is the CALIBRATED effect
    size on the same counts, comparable across windows of different
    sizes). Cells empty in BOTH windows contribute exactly 0 (skipped —
    0/0 guards), mirroring chi2_homogeneity's zero-cell handling. Same
    single-aggregate + |windows|-row self-join plan as rolling PSI/KS;
    no EPS clamping (counts, not ratios). Judged at
    ``CRAMERS_V_THRESHOLD``."""
    j, _, _ = _rolling_pairs(df, window_col, value_col, bin_edges)
    nb = len(list(bin_edges)) - 1
    n_tot = (F.col("cur_n") + F.col("prv_n")).cast("double")
    chi2 = F.lit(0.0)
    for i in range(nb):
        c_i = F.col(f"cur_b{i}") + F.col(f"prv_b{i}")
        e_cur = F.col("cur_n") * c_i / n_tot
        e_prv = F.col("prv_n") * c_i / n_tot
        chi2 = chi2 + F.when(
            c_i > 0,
            (F.col(f"cur_b{i}") - e_cur) ** 2 / e_cur
            + (F.col(f"prv_b{i}") - e_prv) ** 2 / e_prv,
        ).otherwise(F.lit(0.0))
    v = F.when(
        (F.col("cur_n") > 0) & (F.col("prv_n") > 0), F.sqrt(chi2 / n_tot)
    )
    return _rolling_select(j, v, "cramers_v", CRAMERS_V_THRESHOLD)


# --------------------------------------------------------------------------
# Drift attribution: WHY did a psi:<col> alarm fire
# --------------------------------------------------------------------------

def psi_attribution(
    df: DataFrame,
    baseline_rows: list[Row],
) -> DataFrame:
    """Per-bin PSI contribution rows — the explanation attached to a
    psi:<col> verdict: which bins moved, by how much, and what share of
    the total PSI each movement carries.

    PSI is a sum of non-negative per-bin terms (p−q)·ln(p/q) (both sides
    EPS-clamped, identical to ``_clamped_psi`` — every term keeps the sign
    of its own log ratio times its own mass delta, hence ≥ 0), so the terms
    ARE an exact additive attribution: ``share`` sums to 1 per (partition,
    column). The reference's incident detector reports only the aggregate
    anomaly score (src/baskerville/models/incident_detector.py:285-289);
    this operator is the drill-down a triage loop actually needs ("sr_hz
    drift is 91% the new 8 kHz telephony bin, not a broad shift").

    Plan shape: the SAME one-scan/one-shuffle wide aggregate as
    ``drift_verdicts`` (all (column, bucket) conditional sums in one
    ``groupBy(part).agg``); bins explode from the wide result, so
    attribution costs nothing beyond the verdicts it explains.

    When total PSI < EPS (no drift — nothing to attribute), the share
    denominator is EPS-guarded, so shares are ≈0 rather than 0/0; they sum
    to 1 only when there is an alarm to explain.
    """
    if not baseline_rows:
        raise ValueError("empty baseline")

    wide, buckets = _wide_bucket_agg(df, baseline_rows)

    structs = []
    for row in baseline_rows:
        c = row["column_name"]
        base = list(row["bin_fractions"])
        n = F.greatest(F.col(f"{c}__n"), F.lit(1))
        terms = []
        for i in range(buckets[c]):
            p_raw = (F.col(f"{c}__b{i}") / n).cast("double")
            p = F.greatest(p_raw, F.lit(EPS))
            q = float(max(base[i], EPS))
            terms.append(((p - F.lit(q)) * F.log(p / F.lit(q)), p_raw))
        total = None
        for t, _ in terms:
            total = t if total is None else total + t
        total = F.greatest(total, F.lit(EPS))
        for i, (t, p_raw) in enumerate(terms):
            structs.append(
                F.struct(
                    F.lit(f"psi:{c}").alias("check_name"),
                    F.lit(i).alias("bin_idx"),
                    p_raw.alias("cur_frac"),
                    F.lit(float(base[i])).alias("base_frac"),
                    t.cast("double").alias("contribution"),
                    (t / total).cast("double").alias("share"),
                )
            )
    return wide.select(
        "part_id", F.explode(F.array(*structs)).alias("__a")
    ).select("part_id", "__a.*")


# --------------------------------------------------------------------------
# Classical two-sample tests: chi-squared homogeneity + Mann-Whitney U
# --------------------------------------------------------------------------

def chi2_homogeneity(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group chi-squared homogeneity test: does group g's categorical
    mix differ from the REST of the table (a proper two-sample 2xK
    contingency test, not group-vs-whole, which double-counts the group)?

    Output per group: ``(group, chi2, dof, n_group, n_rest, cramers_v)`` —
    chi2 = sum over the 2xK cells of (O-E)^2/E with E = row_total *
    col_total / N; dof = K-1. Groups with an empty complement emit NULL
    chi2 (the test is undefined, not "passed").

    Complements the distribution-distance family (PSI q44, KS q97): chi2
    is the calibrated classical test for categorical mix shift, e.g. the
    codec mix of one ingest batch vs the settled corpus.

    Scale: the ONLY full-data pass is groupBy(group, cat).count(); the
    contingency algebra runs on the G*K cell frame (bounded by
    cardinalities, not rows). Zero cells are restored with a tiny
    cross-join so absent categories still contribute their expected mass
    — the classic silent-underflow bug in naive SQL restatements.

    Reference seam: generalizes the incident detector's per-target
    baseline comparison (incident_detector.py:251-295) to a calibrated
    categorical test the reference lacks.
    """
    # persist the cell frame (bounded by |G|x|K|, tiny): four frames
    # derive from it (cat/group totals, N, the join probe) and without a
    # materialization each branch re-scans the FACT table — 4 full scans
    # at 100 TB where one suffices (plan-pinned in pytest; freed by the
    # session's LRU / clearCache, the uniqueness.py persisted-intermediate
    # convention)
    cells = df.groupBy(
        F.col(group_col).alias("g2"), F.col(cat_col).alias("c2")
    ).agg(F.count(F.lit(1)).alias("o")).persist()
    cat_tot = cells.groupBy(F.col("c2").alias("c")).agg(
        F.sum("o").alias("c_tot")
    )
    grp_tot = cells.groupBy(F.col("g2").alias("g")).agg(
        F.sum("o").alias("n_group")
    )
    n_all = cells.agg(F.sum("o").alias("n_all"))
    # null-safe (<=>) join back to the cells: groupBy made NULL a group /
    # category, and a plain equi-join would zero NULL-keyed cells while
    # the totals still count them — inflating chi2 for every NULL group
    # (the same silent-drop class the mutual_info NULL test caught)
    full = (
        grp_tot.crossJoin(F.broadcast(cat_tot))
        .join(
            cells,
            F.col("g").eqNullSafe(F.col("g2"))
            & F.col("c").eqNullSafe(F.col("c2")),
            "left",
        )
        .na.fill({"o": 0})
        .crossJoin(F.broadcast(n_all))
    )
    n_rest = F.col("n_all") - F.col("n_group")
    e_g = F.col("n_group") * F.col("c_tot") / F.col("n_all")
    e_r = n_rest * F.col("c_tot") / F.col("n_all")
    o_r = F.col("c_tot") - F.col("o")
    term = F.when(
        (F.col("n_group") > 0) & (n_rest > 0),
        (F.col("o") - e_g) ** 2 / e_g + (o_r - e_r) ** 2 / e_r,
    )
    return full.groupBy("g", "n_group", "n_all").agg(
        F.sum(term).alias("chi2"),
        (F.count(F.lit(1)) - F.lit(1)).cast("int").alias("dof"),
    ).select(
        F.col("g").alias(group_col),
        "chi2",
        "dof",
        F.col("n_group").cast("long").alias("n_group"),
        (F.col("n_all") - F.col("n_group")).cast("long").alias("n_rest"),
        # Cramér's V: scale-free effect size — for a 2xK table
        # min(rows,cols)-1 = 1 when K >= 2, so V = sqrt(chi2/N); a chi2
        # that is "significant" at 10^12 rows but V ~ 0 is noise, not drift
        F.when(
            F.col("dof") > 0, F.sqrt(F.col("chi2") / F.col("n_all"))
        ).alias("cramers_v"),
    )


def _prefix_counts(vtot: DataFrame) -> DataFrame:
    """Append ``cnt_lt`` (count of occurrences with a strictly smaller
    value) to a ``(v, cnt_eq)`` value-count frame — the average-rank
    ingredient shared by the rank statistics (2*avg_rank(v) = 2*cnt_lt +
    cnt_eq + 1, integer).

    Two-phase distributed prefix sum: ONE job over the range exchange
    collects per-block totals AND per-block max-value bounds; block
    membership of the returned frame is then a deterministic function of
    v (never a second, possibly differently sampled, range exchange —
    the functions/packing.py round-4 advisor lesson). NO single-task
    global window, so an unbounded/continuous value domain still works.
    """
    from pyspark.sql import Window

    n_blocks = vtot.sparkSession.sparkContext.defaultParallelism
    ranged = vtot.repartitionByRange(n_blocks, "v").withColumn(
        "block", F.spark_partition_id()
    )
    stats = sorted(
        ranged.groupBy("block")
        .agg(F.sum("cnt_eq").alias("t"), F.max("v").alias("max_v"))
        .collect(),
        key=lambda r: r["block"],
    )
    offsets: list[int] = []
    acc = 0
    for r in stats:
        offsets.append(acc)
        acc += int(r["t"] or 0)
    bounds = [r["max_v"] for r in stats[:-1]]
    if bounds:
        block = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]), lambda b: b < F.col("v")
            )
        )
    else:
        block = F.lit(0)
    off = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for i, o in enumerate(offsets) for x in (i, o)]
            ),
            F.col("block"),
        )
        if offsets
        else F.lit(0)
    )
    w = (
        Window.partitionBy("block")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        vtot.withColumn("block", block)
        .withColumn(
            "cnt_lt",
            (off + F.coalesce(F.sum("cnt_eq").over(w), F.lit(0))).cast("long"),
        )
        .drop("block")
    )


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Mann-Whitney U (Wilcoxon rank-sum) of the group's values
    vs the REST of the table, ties handled by average ranks with the
    standard tie-corrected normal approximation.

    Output per group: ``(group, u2, n_group, n_rest, z)`` where ``u2`` is
    the EXACT integer 2*U (average ranks end in .5, so U itself may be a
    half-integer; 2U = sum over group values of cnt_g(v) * (2*cnt_lt(v)
    + cnt_eq(v) + 1) - n_g*(n_g+1) is pure bigint arithmetic — no float
    in the statistic) and ``z`` = (U - n_g*n_r/2) / sigma with
    sigma^2 = n_g*n_r/12 * ((N+1) - sum(t^3-t)/(N*(N-1))).

    The rank-based mean-shift test for ordinal/heavy-tailed columns where
    a t-test's normality assumption fails (dur_ms, bytes-per-second) —
    the classical complement to the binned KS (which tests shape, with
    binning error) on exact ranks.

    Scale: ranks are NEVER materialized per row — the pass is
    groupBy(value) conditional counts (one shuffle on the value domain),
    then cumulative counts over the (value,) cell frame. A 10^12-row
    table with a bounded value domain (durations in ms, sample rates)
    reduces to |domain| cells; the value-domain prefix sum itself is the
    two-phase distributed form (range blocks + collected block offsets,
    the functions/packing.py pattern — deterministic block membership
    from collected max-value bounds, NO single-task global window), so a
    continuous column with ~n distinct values still works: quantize first
    only if you want fewer cells, not because the plan requires it.
    """
    # persist the cell frame: the value-total branch, the prefix-sum
    # collect job, and the rank join all derive from it — unpersisted,
    # each is a separate full scan of the fact table (plan-pinned)
    cells = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"), F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("o"))
        .persist()
    )
    vtot = _prefix_counts(
        cells.groupBy("v").agg(F.sum("o").alias("cnt_eq"))
    ).persist()
    # 2*rank_avg(v) = 2*cnt_lt + cnt_eq + 1  (integer)
    # plain join, not broadcast: the docstring promises continuous value
    # domains (~n distinct values) work, and broadcasting the whole rank
    # map would OOM the driver there (r05 review); when the domain IS
    # tiny, AQE converts this to a broadcast join on its own
    joined = cells.join(vtot, "v")
    # rank sums reach ~N^2: the PER-CELL product must already be decimal —
    # casting after a long*long multiply launders a silently wrapped value
    # (ANSI off is the repo default); decimal(38,0) is exact and loud on
    # overflow. The final u2 column is long — past ~3e9 rows/group use z,
    # the calibrated form.
    per_group = joined.groupBy("g").agg(
        F.sum("o").alias("n_group"),
        F.sum(
            F.col("o").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cnt_lt") + F.col("cnt_eq") + F.lit(1)).cast(
                "decimal(38,0)"
            )
        ).alias("two_r"),
    )
    n_all = vtot.agg(
        F.sum("cnt_eq").alias("n_all"),
        # tie correction in double: cnt_eq^3 exceeds bigint past ~2e6 rows
        # per tied value, and the correction feeds only the (rounded) z
        F.sum(
            F.col("cnt_eq").cast("double") ** 3 - F.col("cnt_eq").cast("double")
        ).alias("tie_sum"),
    )
    out = per_group.crossJoin(F.broadcast(n_all))
    n_g, n_r = F.col("n_group"), F.col("n_all") - F.col("n_group")
    u2dec = (
        F.col("two_r")
        - n_g.cast("decimal(38,0)") * (n_g + F.lit(1)).cast("decimal(38,0)")
    )
    u2 = u2dec.cast("long")
    mu2 = n_g.cast("double") * n_r.cast("double")  # 2*mean(U); double: n_g*n_r overflows bigint at 10^12
    var = (
        n_g.cast("double") * n_r.cast("double") / F.lit(12.0)
        * (
            (F.col("n_all") + F.lit(1)).cast("double")
            - F.col("tie_sum").cast("double")
            / (F.col("n_all").cast("double") * (F.col("n_all") - F.lit(1)).cast("double"))
        )
    )
    z = F.when(
        (n_g > 0) & (n_r > 0) & (var > 0),
        (u2dec.cast("double") - mu2) / (F.lit(2.0) * F.sqrt(var)),
    )
    return out.select(
        F.col("g").alias(group_col),
        u2.alias("u2"),
        n_g.cast("long").alias("n_group"),
        n_r.cast("long").alias("n_rest"),
        z.alias("z"),
    )


def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Spearman rank correlation of two numeric columns (average ranks
    for ties — the exact tie-correct form, not the n(n²−1)/6 shortcut,
    which is wrong under ties).

    One row out: ``(n, rho)``. The metadata-consistency association
    check: monotone physical relationships (dur_ms vs payload bytes,
    n_samples vs dur_ms) must hold in RANKS regardless of codec
    compression curves — a weak rho flags mislabeled codecs or corrupt
    metadata where Pearson (distorted by the nonlinearity itself) and
    per-row bounds (blind to association) both miss.

    Plan: rows with either side NULL are excluded (pairwise-complete).
    The ONLY full-data pass is ONE groupBy on the joint (a, b) cell —
    the minimal sufficient statistic for any rank correlation — and the
    cell frame is persisted (plan-pinned: one fact scan) because both
    marginal rank maps and the weighted Pearson aggregate derive from
    it. Each marginal gets the shared two-phase prefix sum
    (_prefix_counts — no single-task window); the integer 2*avg_rank
    maps join back onto the CELLS (not the rows) and the final aggregate
    weights by the cell count, in double (rank sums reach ~n³ — past
    bigint at 10^12 rows; rho is a ratio, so double is the honest
    accumulator at every scale).
    """
    cells = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
        .persist()
    )
    # eager fill FIRST: the two marginal prefix-sum jobs below run
    # concurrently, and without a materialized cache they would race to
    # compute the cell fold twice (the one full-data pass)
    cells.count()

    def _rank_map(side: str) -> DataFrame:
        vtot = _prefix_counts(
            cells.groupBy(F.col(side).alias("v")).agg(
                F.sum("__o").alias("cnt_eq")
            )
        )
        # 2*avg_rank(v): exact integer; Pearson is scale-invariant, so
        # correlating the doubled ranks gives rho exactly
        return vtot.select(
            F.col("v").alias(side),
            (F.lit(2) * F.col("cnt_lt") + F.col("cnt_eq") + F.lit(1))
            .cast("double")
            .alias(f"r{side}"),
        )

    # the two marginals are independent block-stat jobs over the cached
    # cell frame (each _prefix_counts runs a driver collect) — overlap
    # them so one's task tail back-fills the other (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(_rank_map, "__a")
        fb = pool.submit(_rank_map, "__b")
        ranks = {"__a": fa.result(), "__b": fb.result()}
    ranked = cells.join(ranks["__a"], "__a").join(ranks["__b"], "__b")
    ra, rb = F.col("r__a"), F.col("r__b")
    o = F.col("__o").cast("double")
    s = ranked.agg(
        F.sum(o).cast("double").alias("n"),
        F.sum(o * ra).alias("sa"),
        F.sum(o * rb).alias("sb"),
        F.sum(o * ra * rb).alias("sab"),
        F.sum(o * ra * ra).alias("saa"),
        F.sum(o * rb * rb).alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    cov_n = n * sab - sa * sb
    var_a = n * saa - sa * sa
    var_b = n * sbb - sb * sb
    rho = F.when((var_a > 0) & (var_b > 0), cov_n / F.sqrt(var_a * var_b))
    return s.select(n.cast("long").alias("n"), rho.alias("rho"))


def mutual_info(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns, in nats, plus
    the marginal entropies and the normalized form
    ``nmi = mi / sqrt(h_a * h_b)`` (NULL when either marginal is
    deterministic — NMI is undefined, not 0).

    One row out: ``(n, mi, h_a, h_b, nmi)``. The categorical association
    screen: a validation column that should be independent of a pipeline
    partition (codec vs shard, verdict vs ingest host) showing NMI >> 0
    means the pipeline is leaking structure into the data; conversely a
    supposedly-derived pair (codec vs container) with NMI ~ 0 flags
    corrupt metadata. Complements chi2_homogeneity (significance/effect
    of ONE group's mix) with a symmetric whole-table dependence measure.

    Zero cells contribute exactly 0 (the p·ln p limit), so only OBSERVED
    (a, b) cells are touched — no cross-join. NULLs count as a category
    (SQL GROUP BY semantics), so NULL-correlation is measured, not
    silently dropped. Scale: ONE groupBy(a, b) full-data pass; marginals
    and the MI fold run on the |A|x|B| observed-cell frame.
    """
    # persist the cell frame: both marginals, N, and the join probe all
    # derive from it — unpersisted, each branch re-scans the fact table
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o")).persist()
    a_tot = cells.groupBy(F.col("a").alias("a2")).agg(F.sum("o").alias("na"))
    b_tot = cells.groupBy(F.col("b").alias("b2")).agg(F.sum("o").alias("nb"))
    # null-safe (<=>) joins: groupBy made NULL a category, so a plain
    # equi-join would silently drop every NULL-keyed cell and understate
    # MI — exactly the "NULL-correlation measured, not dropped" contract
    joined = (
        cells.join(F.broadcast(a_tot), F.col("a").eqNullSafe(F.col("a2")))
        .join(F.broadcast(b_tot), F.col("b").eqNullSafe(F.col("b2")))
        .crossJoin(F.broadcast(cells.agg(F.sum("o").alias("n"))))
    )
    nd = F.col("n").cast("double")
    p_ab = F.col("o").cast("double") / nd
    mi_term = p_ab * F.log(
        F.col("o").cast("double") * nd
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    # marginal entropy terms would double-count across the cell frame, so
    # fold them weighted by the cell's share of its marginal: sum over
    # cells of (o/na)*(na/n)*ln(n/na) = sum over distinct a of
    # (na/n)*ln(n/na) — exact, and it keeps everything in ONE aggregate
    h_a_term = (F.col("o").cast("double") / nd) * F.log(
        nd / F.col("na").cast("double")
    )
    h_b_term = (F.col("o").cast("double") / nd) * F.log(
        nd / F.col("nb").cast("double")
    )
    s = joined.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(mi_term).alias("mi"),
        F.sum(h_a_term).alias("h_a"),
        F.sum(h_b_term).alias("h_b"),
    )
    nmi = F.when(
        (F.col("h_a") > 0) & (F.col("h_b") > 0),
        F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b")),
    )
    return s.select("n", "mi", "h_a", "h_b", nmi.alias("nmi"))


# --------------------------------------------------------------------------
# Wasserstein-1 (earth-mover) drift on a fixed equi-width binning
# --------------------------------------------------------------------------

def wasserstein_binned(
    df: DataFrame,
    value_col: str,
    side_col: Column,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int,
    threshold: float,
) -> DataFrame:
    """Two-sample Wasserstein-1 distance per group over fixed equi-width
    bins: W1 = sum_bins |CDF_a - CDF_b| * bin_width — the INTEGRAL drift
    metric that completes the family (PSI = divergence, KS = supremum):
    PSI and KS are blind to *how far* mass moved, W1 charges a shift of
    one bin and a shift of ten bins differently. Same trailing-window
    lineage as the reference's incident rule
    (src/baskerville/models/incident_detector.py:251-295), upgraded to a
    proper transport distance.

    Determinism discipline (the hash gate demands bit-equality with the
    SQL oracle): the per-bin CDF difference is kept as the EXACT integer
    |cum_a * tot_b - cum_b * tot_a| in decimal(38,0) — bigint would
    overflow at 10^12 rows where cum*tot ~ 1e24 — and summed exactly
    (order-free), so the ONLY float op is the single final
    width * num / (tot_a * tot_b) division, which is one IEEE expression
    both engines evaluate identically. A float-per-bin formulation would
    hash-diverge on Spark's unordered double SUM.

    Plan shape at scale: ONE map-side-combined hash aggregate over the
    fact table (groupBy group+bin, conditional sums — the only shuffle
    that sees data); missing bins are RESTORED via a groups x sequence()
    cross join (a CDF gap still contributes |cdf_a - cdf_b| on every bin
    it spans — the chi2 zero-cell discipline, opposite of MI's skip);
    the prefix sum runs per-group (partitioned window, no single-task
    global sort) over a frame bounded by |groups| * n_bins, not rows.

    ``side_col`` must be a boolean Column (True = sample A). Values are
    clamped into [lo, hi) bins, NULLs dropped. Returns per group:
    (group_cols..., n_a, n_b, w1, drift) with w1 rounded to 6 dp.
    """
    from pyspark.sql import Window

    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_c = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    # persist the binned-count frame (bounded by |groups| * n_bins, tiny):
    # the grid branch derives from it and without a materialization it
    # re-scans the FACT table — 2 full scans at 100 TB where one suffices
    # (the chi2/MI persisted-cell-frame convention, plan-pinned in pytest;
    # freed by the session's LRU / clearCache)
    counts = (
        df.where(v.isNotNull())
        .groupBy(*group_cols, bin_c.alias("bin"))
        .agg(
            F.sum(F.when(side_col, 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(side_col, 0).otherwise(1)).alias("c_b"),
        )
        .persist()
    )
    grid = (
        counts.select(*group_cols)
        .distinct()
        .withColumn("bin", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))))
    )
    full = grid.join(counts, [*group_cols, "bin"], "left").select(
        *group_cols,
        "bin",
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = full.select(
        *group_cols,
        F.sum("c_a").over(w).cast("decimal(19,0)").alias("cum_a"),
        F.sum("c_b").over(w).cast("decimal(19,0)").alias("cum_b"),
    )
    tot_w = Window.partitionBy(*group_cols)
    with_tot = cum.select(
        *group_cols,
        "cum_a",
        "cum_b",
        F.max("cum_a").over(tot_w).alias("tot_a"),
        F.max("cum_b").over(tot_w).alias("tot_b"),
    )
    term = F.abs(
        F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")
    )
    agg = with_tot.groupBy(*group_cols).agg(
        F.sum(term).alias("num"),
        F.max("tot_a").alias("tot_a"),
        F.max("tot_b").alias("tot_b"),
    )
    w1 = F.round(
        F.lit(width)
        * F.col("num").cast("double")
        / (F.col("tot_a").cast("double") * F.col("tot_b").cast("double")),
        6,
    )
    return agg.where((F.col("tot_a") > 0) & (F.col("tot_b") > 0)).select(
        *group_cols,
        F.col("tot_a").cast("long").alias("n_a"),
        F.col("tot_b").cast("long").alias("n_b"),
        w1.alias("w1"),
        (w1 > F.lit(threshold)).alias("drift"),
    )
