"""Gate-only drift operators: window-over-window PSI, KS and chi-squared
verdicts, per-bin PSI attribution, Mann-Whitney U and binned Wasserstein-1.

They fold with the engine's parity-critical helpers in ``checks/drift``
(``_clamped_psi``, ``_binned_ks``, ``_wide_bucket_agg``, ``_prefix_counts``),
so each fold the SQL oracles mirror exists exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
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
from baskerville_spark.gates.fixtures import (
    DRIFT_VALUE_EDGES,
    _DRIFT_COLS,
    _drain_to_memory,
    _drift_agg_sql,
    _drift_fixture,
    _drift_frac,
    _t,
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


# --------------------------------------------------------------------------
# q96: window-over-window rolling PSI (drift vs the stream's own recent
# past — no blessed baseline required)
# --------------------------------------------------------------------------


def q96_rolling_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-drift gate: day-of-month windows over the events table,
    each day's value distribution PSI'd against the previous day. One scan
    + one narrow shuffle (per-day conditional-sum buckets), then a
    |days|-row self-join. The oracle restates the clamped PSI arithmetic
    in SQL from the same literal edges (q44's proven recipe, but with BOTH
    sides of the comparison data-derived)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = rolling_psi_verdicts(
        e, F.dayofmonth(F.col("ts")), "value", DRIFT_VALUE_EDGES
    )
    return v.select(
        "window_id",
        "prev_window_id",
        "n_rows",
        F.round("psi", 6).alias("psi"),
        F.col("passed").cast("int").alias("passed"),
    )


def _rolling_day_counts_cte(
    window_expr: str = "CAST(EXTRACT(day FROM ts) AS INT)",
) -> tuple[str, int]:
    """The per-day bucket-count CTE shared by the q96/q97/q104 oracles —
    ONE builder so they can never bin differently from each other (or
    from the _rolling_pairs aggregate they mirror; q62/q64's shared-fixture
    rule applied to SQL). ``window_expr``: day-of-month for the batch
    gates, epoch-day for the streaming gate (month-boundary-safe)."""
    inner = DRIFT_VALUE_EDGES[1:-1]
    nb = len(inner) + 1
    vbucket = " + ".join(
        f"(CASE WHEN value >= {repr(e)} THEN 1 ELSE 0 END)" for e in inner
    )
    sums = ",\n    ".join(
        f"SUM(CASE WHEN value IS NOT NULL AND ({vbucket}) = {i} THEN 1 ELSE 0 END) AS b{i}"
        for i in range(nb)
    )
    cte = f"""
WITH c AS (
  SELECT {window_expr} AS window_id,
    {sums},
    COUNT(value) AS n
  FROM events GROUP BY 1)"""
    return cte, nb


def _q96_sql(window_expr: str = "CAST(EXTRACT(day FROM ts) AS INT)") -> str:
    cte, nb = _rolling_day_counts_cte(window_expr)

    def frac(side: str, i: int) -> str:
        return f"GREATEST({side}.b{i} * 1.0 / GREATEST({side}.n, 1), {repr(EPS)})"

    terms = " + ".join(
        f"(({frac('cur', i)}) - ({frac('prv', i)}))"
        f" * LN(({frac('cur', i)}) / ({frac('prv', i)}))"
        for i in range(nb)
    )
    return f"""{cte}
SELECT cur.window_id AS window_id,
       prv.window_id AS prev_window_id,
       CAST(cur.n AS BIGINT) AS n_rows,
       ROUND({terms}, 6) AS psi,
       CASE WHEN ({terms}) <= {PSI_THRESHOLD} THEN 1 ELSE 0 END AS passed
FROM c cur JOIN c prv ON cur.window_id = prv.window_id + 1
"""


Q96_SQL = _q96_sql()


# --------------------------------------------------------------------------
# q97: window-over-window rolling binned KS (PSI's companion)
# --------------------------------------------------------------------------


def q97_rolling_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-KS gate: the q96 day-over-day windows, graded with the
    binned two-sample KS statistic instead of PSI (max |CDF_w − CDF_{w−1}|
    over bucket prefix sums; catches bulk CDF shifts PSI's EPS clamping
    mutes). Same one-aggregate + |days|-row self-join plan."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = rolling_ks_verdicts(
        e, F.dayofmonth(F.col("ts")), "value", DRIFT_VALUE_EDGES
    )
    return v.select(
        "window_id",
        "prev_window_id",
        "n_rows",
        F.round("ks", 6).alias("ks"),
        F.col("passed").cast("int").alias("passed"),
    )


def _q97_sql() -> str:
    cte, nb = _rolling_day_counts_cte()

    def cdf(side: str, i: int) -> str:
        return " + ".join(
            f"{side}.b{j} * 1.0 / GREATEST({side}.n, 1)" for j in range(i)
        )

    diffs = ", ".join(
        f"ABS(({cdf('cur', i)}) - ({cdf('prv', i)}))" for i in range(1, nb + 1)
    )
    ks = f"GREATEST({diffs})"
    return f"""{cte}
SELECT cur.window_id AS window_id,
       prv.window_id AS prev_window_id,
       CAST(cur.n AS BIGINT) AS n_rows,
       ROUND({ks}, 6) AS ks,
       CASE WHEN ({ks}) <= {KS_THRESHOLD} THEN 1 ELSE 0 END AS passed
FROM c cur JOIN c prv ON cur.window_id = prv.window_id + 1
"""


Q97_SQL = _q97_sql()


# --------------------------------------------------------------------------
# q104: STREAMING rolling PSI — the q96 monitor as a live stream
# --------------------------------------------------------------------------


def q104_streaming_rolling_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of the q96 rolling-drift monitor: the events table
    streams through a watermarked 1-day tumbling-window aggregate whose
    exprs are the SAME rolling_bucket_aggs the batch path uses
    (conditional sums compose under micro-batch partial aggregation), then
    the day-over-day pairing + clamped PSI run on the (tiny) materialized
    counts. Windows key on EPOCH DAY (datediff from 1970-01-01), not
    day-of-month — tumbling windows are true calendar days, so a fixture
    spanning a month boundary must not alias Jan 5 onto Feb 5. The oracle
    is the q96 arithmetic over the same epoch-day windows — streaming
    incrementality cannot change the numbers."""
    e_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(e_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"))
        .agg(*rolling_bucket_aggs("value", DRIFT_VALUE_EDGES))
    )
    sink = _drain_to_memory(spark, stream, "complete", "q104")
    counts = sink.select(
        F.datediff(F.col("window.start"), F.lit("1970-01-01"))
        .cast("int")
        .alias("window_id"),
        *[c for c in sink.columns if c != "window"],
    )
    j, cur_fracs, prv_fracs = pair_window_counts(
        counts, len(DRIFT_VALUE_EDGES) - 1
    )
    psi = _clamped_psi(cur_fracs, prv_fracs)
    return j.select(
        F.col("cur_window_id").alias("window_id"),
        F.col("prv_window_id").alias("prev_window_id"),
        F.col("cur_n").cast("long").alias("n_rows"),
        F.round(psi, 6).alias("psi"),
        (psi <= F.lit(float(PSI_THRESHOLD))).cast("int").alias("passed"),
    )


Q104_SQL = _q96_sql(
    window_expr="CAST(date_diff('day', DATE '1970-01-01',"
    " CAST(ts AS DATE)) AS INT)"
)


# --------------------------------------------------------------------------
# q127: PSI drift attribution — the drill-down behind a q44 psi:<col>
# alarm. PSI is a sum of non-negative per-bin terms, so the terms are an
# exact additive attribution ("which bins moved, what share of the alarm
# each carries"). Same ONE-scan/ONE-shuffle wide aggregate as q44; rows
# explode from the wide result. The reference reports only the aggregate
# anomaly score (incident_detector.py:285-289) — it cannot say WHY.
# --------------------------------------------------------------------------


def q127_psi_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = psi_attribution(*_drift_fixture(spark, sf_dir))
    return a.select(
        "part_id",
        "check_name",
        "bin_idx",
        F.round("cur_frac", 6).alias("cur_frac"),
        F.round("base_frac", 6).alias("base_frac"),
        F.round("contribution", 6).alias("contribution"),
        F.round("share", 6).alias("share"),
    )


def _q127_sql() -> str:
    """Per-bin PSI terms restated in SQL from the same literals — identical
    clamp, identical left-assoc term sum, identical EPS total guard."""
    def term(pfx: str, i: int, n: str, base: list[float]) -> str:
        p = f"GREATEST({_drift_frac(pfx, i, n)}, {repr(EPS)})"
        q = repr(max(base[i], EPS))
        return f"((({p}) - {q}) * LN(({p}) / {q}))"

    blocks = []
    for col, pfx, n, base in _DRIFT_COLS:
        nb = len(base)
        total = "GREATEST(" + " + ".join(
            term(pfx, i, n, base) for i in range(nb)
        ) + f", {repr(EPS)})"
        for i in range(nb):
            t = term(pfx, i, n, base)
            blocks.append(f"""
SELECT part_id, 'psi:{col}' AS check_name, CAST({i} AS INT) AS bin_idx,
       ROUND({_drift_frac(pfx, i, n)}, 6) AS cur_frac,
       CAST({repr(float(base[i]))} AS DOUBLE) AS base_frac,
       ROUND({t}, 6) AS contribution,
       ROUND(({t}) / ({total}), 6) AS share
FROM agg""")
    union = "\nUNION ALL\n".join(blocks)
    return f"{_drift_agg_sql()}\n{union}\n"


Q127_SQL = _q127_sql()


def q133_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = mannwhitney_u(li, "l_returnflag", "l_quantity")
    return out.select(
        "l_returnflag", "u2", "n_group", "n_rest",
        F.round("z", 6).alias("z"),
    )


Q133_SQL = """
WITH x AS (
  SELECT l_returnflag AS g, l_quantity AS v
  FROM lineitem WHERE l_quantity IS NOT NULL),
vtot AS (SELECT v, COUNT(*) AS cnt_eq FROM x GROUP BY v),
vtot2 AS (
  SELECT v, cnt_eq,
         COALESCE(SUM(cnt_eq) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt
  FROM vtot),
cells AS (SELECT g, v, COUNT(*) AS o FROM x GROUP BY g, v),
pg AS (
  SELECT g, SUM(o) AS n_group,
         SUM(o * (2 * cnt_lt + cnt_eq + 1)) AS two_r
  FROM cells JOIN vtot2 USING (v) GROUP BY g),
tot AS (
  SELECT SUM(cnt_eq) AS n_all,
         SUM(POWER(CAST(cnt_eq AS DOUBLE), 3) - cnt_eq) AS tie_sum
  FROM vtot)
SELECT g AS l_returnflag,
       CAST(two_r - n_group * (n_group + 1) AS BIGINT) AS u2,
       CAST(n_group AS BIGINT) AS n_group,
       CAST(n_all - n_group AS BIGINT) AS n_rest,
       ROUND(
         (CAST(two_r - n_group * (n_group + 1) AS DOUBLE)
          - CAST(n_group AS DOUBLE) * CAST(n_all - n_group AS DOUBLE))
         / (2.0 * SQRT(
             CAST(n_group AS DOUBLE) * CAST(n_all - n_group AS DOUBLE) / 12.0
             * ((n_all + 1)
                - tie_sum / (CAST(n_all AS DOUBLE) * (n_all - 1))))),
         6) AS z
FROM pg CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# q139: window-over-window rolling chi2 / Cramér's V — completes the
# rolling family (PSI q96 weights tail moves by log-ratio, KS q97 sees
# bulk CDF shifts, chi2/V is the calibrated scale-free effect size on the
# SAME bucket counts, comparable across windows of different sizes).
# Identical one-aggregate + |days|-row self-join plan; the oracle reuses
# the one shared day-counts CTE builder (q96/q97/q104's shared-fixture
# rule) so the three gates can never bin differently, and restates the
# 2xK contingency algebra with the same zero-cell skip and term order.
# --------------------------------------------------------------------------


def q139_rolling_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = rolling_chi2_verdicts(
        e, F.dayofmonth(F.col("ts")), "value", DRIFT_VALUE_EDGES
    )
    return v.select(
        "window_id",
        "prev_window_id",
        "n_rows",
        F.round("cramers_v", 6).alias("cramers_v"),
        F.col("passed").cast("int").alias("passed"),
    )


def _q139_sql() -> str:
    cte, nb = _rolling_day_counts_cte()
    terms = []
    for i in range(nb):
        c_i = f"(cur.b{i} + prv.b{i})"
        e_cur = f"(cur.n * {c_i} / CAST(cur.n + prv.n AS DOUBLE))"
        e_prv = f"(prv.n * {c_i} / CAST(cur.n + prv.n AS DOUBLE))"
        terms.append(
            f"CASE WHEN {c_i} > 0 THEN "
            f"POWER(cur.b{i} - {e_cur}, 2) / {e_cur} "
            f"+ POWER(prv.b{i} - {e_prv}, 2) / {e_prv} ELSE 0.0 END"
        )
    chi2 = " + ".join(terms)
    return f"""{cte}
SELECT cur.window_id AS window_id,
       prv.window_id AS prev_window_id,
       CAST(cur.n AS BIGINT) AS n_rows,
       ROUND(CASE WHEN cur.n > 0 AND prv.n > 0 THEN
         SQRT(({chi2}) / CAST(cur.n + prv.n AS DOUBLE)) END, 6) AS cramers_v,
       CAST(CASE WHEN cur.n > 0 AND prv.n > 0 THEN
         SQRT(({chi2}) / CAST(cur.n + prv.n AS DOUBLE)) END <= 0.2 AS INT)
         AS passed
FROM c cur JOIN c prv ON cur.window_id = prv.window_id + 1
"""


Q139_SQL = _q139_sql()


# --------------------------------------------------------------------------
# q142: Wasserstein-1 (earth-mover) drift per event_type over fixed
# equi-width bins — the integral member of the drift family (PSI q44 =
# divergence, KS q10 = supremum): a one-bin shift and a ten-bin shift cost
# PSI/KS the same, W1 charges the transport distance. Sample A = even
# event_ids, sample B = odd, with a planted +75 shift on B's 'error' rows
# so exactly that group crosses the threshold. The per-bin CDF difference
# stays the EXACT integer |cum_a*tot_b - cum_b*tot_a| (decimal(38,0)
# Spark-side — bigint overflows at 10^12 rows) and only the single final
# width*num/(tot_a*tot_b) division is float, so Spark's unordered double
# SUM can never hash-diverge from the oracle's ordered one.
# --------------------------------------------------------------------------


def q142_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    side = (F.col("event_id") % 2) == 0
    shifted = F.col("value") + F.when(
        (~side) & (F.col("event_type") == "error"), F.lit(75.0)
    ).otherwise(F.lit(0.0))
    df = ev.select(
        "event_type", shifted.alias("v"), side.alias("sa")
    )
    return wasserstein_binned(
        df, "v", F.col("sa"), ["event_type"],
        lo=0.0, hi=500.0, n_bins=20, threshold=10.0,
    )


Q142_SQL = """
WITH x AS (
  SELECT event_type,
         CAST(value AS DOUBLE)
           + CASE WHEN event_id % 2 <> 0 AND event_type = 'error'
                  THEN 75.0 ELSE 0.0 END AS v,
         (event_id % 2 = 0) AS sa
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type,
         CAST(least(greatest(CAST(floor(v / 25.0) AS BIGINT), 0), 19) AS INT)
           AS bin,
         SUM(CASE WHEN sa THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN sa THEN 0 ELSE 1 END) AS c_b
  FROM x GROUP BY 1, 2),
grid AS (
  SELECT event_type, bin
  FROM (SELECT DISTINCT event_type FROM b)
  CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS bin)),
f AS (
  SELECT grid.event_type, grid.bin,
         COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
  FROM grid LEFT JOIN b USING (event_type, bin)),
c AS (
  SELECT event_type, bin,
         SUM(c_a) OVER w AS cum_a, SUM(c_b) OVER w AS cum_b
  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c2 AS (
  SELECT event_type, cum_a, cum_b,
         MAX(cum_a) OVER (PARTITION BY event_type) AS tot_a,
         MAX(cum_b) OVER (PARTITION BY event_type) AS tot_b
  FROM c),
agg AS (
  SELECT event_type,
         SUM(ABS(cum_a * tot_b - cum_b * tot_a)) AS num,
         MAX(tot_a) AS tot_a, MAX(tot_b) AS tot_b
  FROM c2 GROUP BY 1)
SELECT event_type,
       CAST(tot_a AS BIGINT) AS n_a,
       CAST(tot_b AS BIGINT) AS n_b,
       ROUND(25.0 * CAST(num AS DOUBLE)
             / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)), 6) AS w1,
       ROUND(25.0 * CAST(num AS DOUBLE)
             / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)), 6) > 10.0
         AS drift
FROM agg
WHERE tot_a > 0 AND tot_b > 0
"""
