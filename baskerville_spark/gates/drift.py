"""Gate-only drift operators: window-over-window PSI, KS and chi-squared
verdicts, per-bin PSI attribution, Mann-Whitney U and binned Wasserstein-1.

They fold with the engine's parity-critical helpers in ``checks/drift``
(``_clamped_psi``, ``_binned_ks``, ``_wide_bucket_agg``, ``_prefix_counts``),
so each fold the SQL oracles mirror exists exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from baskerville_spark.checks.drift import (
    EPS,
    KS_THRESHOLD,
    PSI_THRESHOLD,
    _binned_ks,
    _clamped_psi,
    _prefix_counts,
    _wide_bucket_agg,
    bucket_counts,
)

CRAMERS_V_THRESHOLD = 0.2


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
# Classical two-sample test: Mann-Whitney U
# --------------------------------------------------------------------------

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
    the gates/packing.py pattern — deterministic block membership
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
