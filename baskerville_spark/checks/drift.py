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
    gates/drift.psi_attribution: every (column, bucket) conditional sum plus the
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


# --------------------------------------------------------------------------
# Classical tests: chi-squared homogeneity, Spearman, mutual information
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
    the gates/packing.py round-4 advisor lesson). NO single-task
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
