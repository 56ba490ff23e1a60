"""The reference's complete feature-vector funnel and its incremental
update algebra, re-expressed as native Column expressions.

Two surfaces:

- :func:`feature_vector` — the full ``GenerateFeatures`` computation
  (reference ``src/baskerville/models/base_spark.py:445-458`` composing the
  39 feature classes under ``src/baskerville/features/``): per-row
  projections (``pre_group_by_calcs``), ONE ``groupBy().agg(*)`` of named
  aggregates (the feature manager's hand-rolled CSE,
  ``models/feature_manager.py:150-205``), then post-aggregation ratio/rate
  columns (``post_group_by_calcs``). The reference runs this per
  (target, ip) request set; here the group key is ``user_id``.

- :func:`update_feature_vector` — the updateable-feature merge applied when
  a batch's fresh vector meets the cached past vector
  (``features/updateable_features.py:13-149`` /
  ``features/helpers.py:13-52``, driven from ``base_spark.py:803-867``):
  total, mean, variance, rate, ratio, maximum, minimum, replace.

Scale design (10^12 rows):

- In ``feature_vector`` the lag window hash-partitions by the group key;
  the per-(key, type) count window then needs only
  ClusteredDistribution([key, type]), which HashPartitioning(key) already
  satisfies (a sort, no exchange) — this replaces the reference's
  top-page self-join (``features/feature_top_page_total.py:30-48``) — and
  the final ``groupBy(key)`` reuses the same partitioning. The exact
  distinct counts (the reference's own semantics,
  ``feature_unique_ua_total.py:28`` etc.) add Spark's multi-distinct
  Expand (the input replicated 4×) and two exchanges; at 10^12 rows use
  the HLL form exactly as the stats profile does (q08/q46,
  ``checks/stats.py``) — one sketch per group, single exchange.
- ``update_feature_vector`` is a left join of the batch's vectors against
  the cache keyed the same way — broadcast when the batch is small,
  sort-merge otherwise; every update expression is pure Column algebra.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t


# ---------------------------------------------------------------------------
# Full-vector computation
# ---------------------------------------------------------------------------

def feature_vector(events: DataFrame) -> DataFrame:
    """Per-``user_id`` feature vector of an events table (``user_id``,
    ``ts``, ``event_id``, ``event_type``, ``value``, ``props``) covering
    every reference feature family.

    Column ↔ reference-class map (all under ``src/baskerville/features/``):

    ==========================  ==============================================
    request_total               feature_request_total.py:25-27 (count)
    view/click/signup/
    purchase/error_total        feature_css/html/js/image/response4xx_total
                                (conditional counts over a category column)
    err5_total                  feature_response5xx_total.py:25-27
    minutes_total               feature_minutes_total.py + base_feature.py:126
                                ((last-first)/60, float minutes)
    request_rate                feature_request_rate.py:35-41 (default 1 when
                                dt == 0)
    view_to_click_ratio etc.    feature_css_to_html_ratio.py:44-50 (the /0.01
                                zero-denominator fallback, verbatim)
    error_rate, err5_rate       feature_response4xx/5xx_rate.py
    error_to_request_ratio      feature_response4xx_to_request_ratio.py:39-45
                                (straight division, no guard — the group
                                always has >=1 request)
    unique_type/k/val_total     feature_unique_ua/path/query_total (exact
                                countDistinct; HLL at 10^12 per q08/q46)
    unique_*_rate / *_ratio     feature_unique_*_rate / *_to_request_ratio
    unique_val_to_unique_k      feature_unique_query_to_unique_path_ratio
    depth_avg / depth_var       feature_path_depth_average/variance
    payload_avg / payload_log   feature_payload_size_average/_log_average
                                (avg(0.001·v), avg(ln(v+1)))
    interval_avg / interval_var feature_request_interval_average/variance
                                (lag over (key, order) window)
    top_type_total / _ratio     feature_top_page_total/_to_request_ratio —
                                window count, NOT the reference self-join
    ==========================  ==============================================

    First-value features (country/host/host_country/geo_time: ``first()``
    over the group) are deliberately not duplicated here — the engine's
    deterministic forms are q33 (window first/last) and q37 (geo localize);
    the reference's bare ``F.first`` is order-dependent.

    The path depth is ``get_json_object(props, '$.k')`` cast to int (the
    events table's path-depth analog).

    The distinct counts are the reference's exact ``countDistinct``, so
    Spark plans the multi-distinct Expand: the input is replicated 4× and
    TWO extra exchanges appear (one on the expanded (key, col, gid) tuple,
    one back to the key). At 10^12 rows the HLL form of the stats profile
    (q08/q46, ``checks/stats.py``) is the one-exchange alternative.
    """
    key = "user_id"
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))

    w_lag = Window.partitionBy(key).orderBy("ts", "event_id")
    w_type = Window.partitionBy(key, "event_type")
    pre = events.select(
        key,
        "event_type",
        "value",
        ts_us.alias("__ts_us"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("__k"),
        ((ts_us - F.lag(ts_us).over(w_lag)) / F.lit(1e6)).alias("__interval_s"),
        F.count(F.lit(1)).over(w_type).alias("__type_count"),
    )

    t = F.col("event_type")
    val = F.col("value")
    cat_counts = [
        F.count(F.when(t == name, 1)).alias(f"{name}_total")
        for name in ("view", "click", "signup", "purchase", "error")
    ]
    vec = pre.groupBy(key).agg(
        F.count(F.lit(1)).alias("request_total"),
        *cat_counts,
        F.count(F.when((t == "error") & (F.col("__k") >= 50), 1)).alias(
            "err5_total"
        ),
        F.countDistinct(t).alias("unique_type_total"),
        F.countDistinct(F.col("__k")).alias("unique_k_total"),
        F.countDistinct(F.floor(val)).alias("unique_val_total"),
        F.avg(F.col("__k")).alias("__depth_avg"),
        F.var_samp(F.col("__k")).alias("__depth_var"),
        F.avg(val * F.lit(0.001)).alias("__payload_avg"),
        F.avg(F.log(F.greatest(val, F.lit(0.0)) + F.lit(1.0))).alias(
            "__payload_log_avg"
        ),
        F.avg("__interval_s").alias("__interval_avg"),
        F.var_samp("__interval_s").alias("__interval_var"),
        F.max("__type_count").alias("top_type_total"),
        F.min("__ts_us").alias("__first_us"),
        F.max("__ts_us").alias("__last_us"),
    )

    dt = (F.col("__last_us") - F.col("__first_us")) / F.lit(1e6) / F.lit(60.0)
    req = F.col("request_total").cast("double")

    def _rate(total: Column, default: float) -> Column:
        # feature_request_rate.py:35-41: default when dt == 0
        return F.when(dt != 0.0, total.cast("double") / dt).otherwise(
            F.lit(default)
        )

    def _pair_ratio(num: Column, den: Column) -> Column:
        # feature_css_to_html_ratio.py:44-50: /0.01 fallback at zero denom
        return F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(num.cast("double") / F.lit(0.01))

    post: dict[str, Column] = {
        "minutes_total": dt,
        "request_rate": _rate(F.col("request_total"), 1.0),
        "view_to_click_ratio": _pair_ratio(
            F.col("view_total"), F.col("click_total")
        ),
        "purchase_to_click_ratio": _pair_ratio(
            F.col("purchase_total"), F.col("click_total")
        ),
        "signup_to_click_ratio": _pair_ratio(
            F.col("signup_total"), F.col("click_total")
        ),
        "error_rate": _rate(F.col("error_total"), 0.0),
        "err5_rate": _rate(F.col("err5_total"), 0.0),
        "error_to_request_ratio": F.col("error_total").cast("double") / req,
        "err5_to_request_ratio": F.col("err5_total").cast("double") / req,
        "top_type_to_request_ratio": F.col("top_type_total").cast("double")
        / req,
        "unique_type_rate": _rate(F.col("unique_type_total"), 0.0),
        "unique_type_to_request_ratio": F.col("unique_type_total").cast(
            "double"
        )
        / req,
        "unique_k_rate": _rate(F.col("unique_k_total"), 0.0),
        "unique_k_to_request_ratio": F.col("unique_k_total").cast("double")
        / req,
        "unique_val_rate": _rate(F.col("unique_val_total"), 0.0),
        "unique_val_to_unique_k_ratio": _pair_ratio(
            F.col("unique_val_total"), F.col("unique_k_total")
        ),
        "depth_avg": F.col("__depth_avg"),
        "depth_var": F.col("__depth_var"),
        "payload_avg": F.col("__payload_avg"),
        "payload_log_avg": F.col("__payload_log_avg"),
        "interval_avg": F.col("__interval_avg"),
        "interval_var": F.col("__interval_var"),
    }
    keep = [key, "request_total"] + [
        f"{n}_total" for n in ("view", "click", "signup", "purchase", "error")
    ] + [
        "err5_total",
        "unique_type_total",
        "unique_k_total",
        "unique_val_total",
        "top_type_total",
    ]
    # round + float32 cast: the reference casts every feature to 'float'
    # (e.g. feature_request_rate.py:38-41), and float32 is also what makes
    # the output hash-stable — a variance can reach 1e9+, where 4-decimal
    # rounding of a double demands 14 significant digits and summation-order
    # ulp noise flips the last one; float32's 1e-7 relative spacing absorbs
    # it identically in any engine.
    return vec.select(
        *keep,
        *[
            F.round(c, 4).cast("float").alias(name)
            for name, c in post.items()
        ],
    )


# ---------------------------------------------------------------------------
# Incremental update algebra
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class UpdateSpec:
    """One output column of the merge. ``kind`` selects the updater;
    ``cols`` name its inputs (feature columns present in both sides):

    - total / maximum / minimum / replace: cols = (feature,)
    - rate:     cols = (total_feature, minutes_feature)   — helpers.py:30-34
    - ratio:    cols = (numerator, denominator)           — helpers.py:45-49
    - mean:     cols = (mean_feature, count_feature)      — helpers.py:13-14
    - variance: cols = (var_feature, count_feature, mean_feature)
                                                          — helpers.py:17-23
    """

    name: str
    kind: str
    cols: tuple[str, ...]


def _updated(spec: UpdateSpec, p, c, square_variance: bool) -> Column:
    """The merge expression for one feature, past-side present.

    ``p(col)`` / ``c(col)`` resolve the past/current column.
    Formulas are verbatim from ``features/updateable_features.py`` /
    ``features/helpers.py`` (cited per branch).
    """
    kind = spec.kind
    if kind == "total":  # UpdaterTotal, updateable_features.py:13-23
        return p(spec.cols[0]) + c(spec.cols[0])
    if kind == "maximum":  # UpdaterMaximum, :46-53
        return F.greatest(p(spec.cols[0]), c(spec.cols[0]))
    if kind == "minimum":  # UpdaterMinimum, :56-63
        return F.least(p(spec.cols[0]), c(spec.cols[0]))
    if kind == "replace":  # UpdaterReplace, :66-76
        return c(spec.cols[0])
    if kind == "rate":  # update_rate, helpers.py:30-34: the zero-dt branch
        # returns the CURRENT TOTAL (reference comment: "total_cur will hold
        # the default value") — reproduced verbatim, quirk included.
        tot, minutes = spec.cols
        return F.when(
            c(minutes) > 0, (p(tot) + c(tot)) / c(minutes)
        ).otherwise(c(tot))
    if kind == "ratio":  # UpdaterRatio, :79-96 / helpers.py:45-49
        num, den = spec.cols
        s_num = p(num) + c(num)
        s_den = p(den) + c(den)
        return F.when(s_den > 0, s_num / s_den).otherwise(s_num / F.lit(0.01))
    if kind == "mean":  # UpdaterMean, :99-113 — count-weighted
        mean, n = spec.cols
        return (p(n) * p(mean) + c(n) * c(mean)) / (p(n) + c(n))
    if kind == "variance":  # UpdaterVariance, :116-149 / helpers.py:17-23
        var, n, mean = spec.cols
        pv, cv = p(var), c(var)
        pn, cn = p(n), c(n)
        pm, cm = p(mean), c(mean)
        new_mean = (pn * pv + cn * cv) / (pn + cn)  # sic — helpers.py:18
        if square_variance:
            # The reference squares the stored variance ((n-1)·v², both
            # implementations agree: helpers.py:19-20 AND
            # updateable_features.py:131-137) — correct only if v held a
            # standard deviation, which the variance features do not.
            # Default reproduces the reference verbatim for parity.
            tp, tc = (pn - 1) * F.pow(pv, 2), (cn - 1) * F.pow(cv, 2)
        else:
            # square_variance=False is the textbook pooled sample variance
            # (exact: equals var_samp over the concatenated batches when the
            # means are the true sub-batch means).
            new_mean = (pn * pm + cn * cm) / (pn + cn)
            tp, tc = (pn - 1) * pv, (cn - 1) * cv
        return (
            tp
            + tc
            + pn * F.pow(pm - new_mean, 2)
            + cn * F.pow(cm - new_mean, 2)
        ) / (pn + cn - 1)
    raise ValueError(f"unknown update kind: {kind}")


def update_feature_vector(
    current: DataFrame,
    past: DataFrame,
    keys: list[str],
    specs: list[UpdateSpec],
    square_variance: bool = True,
) -> DataFrame:
    """Merge a batch's fresh feature vectors with the cached past vectors.

    Left join from ``current`` (only this batch's keys are updated — cache
    refresh for untouched keys is ``gates/state.upsert_state``'s job,
    mirroring the reference split between ``base_spark.py:803-867`` and
    ``request_set_cache.py:370-400``). Keys absent from ``past`` pass the
    current value through unchanged (the ``subset_count == 0`` branch of
    ``features/helpers.py:80-90``).

    ``square_variance=True`` reproduces the reference's variance update
    verbatim (it squares the stored variance — see :func:`_updated`);
    ``False`` computes the textbook pooled sample variance.

    Scale: one equi-join on the group keys; AQE picks the strategy
    (sort-merge at 10^12 keys, both sides already hash-partitioned by key
    from their groupBys).
    """
    p_df = past.select(
        *[F.col(k).alias(f"__p_{k}") for k in keys],
        *[
            F.col(c).cast("double").alias(f"__p_{c}")
            for c in sorted({c for s in specs for c in s.cols})
        ],
        F.lit(1).alias("__p_present"),
    )
    cond = None
    for k in keys:
        piece = F.col(k).eqNullSafe(F.col(f"__p_{k}"))
        cond = piece if cond is None else (cond & piece)
    joined = current.join(p_df, cond, "left_outer")

    def p(col: str) -> Column:
        return F.col(f"__p_{col}")

    def c(col: str) -> Column:
        return F.col(col).cast("double")

    out_cols: list[Column] = [F.col(k) for k in keys]
    for spec in specs:
        upd = F.when(
            F.col("__p_present").isNull(), c(spec.cols[0])
        ).otherwise(_updated(spec, p, c, square_variance))
        out_cols.append(upd.alias(spec.name))
    return joined.select(*out_cols)


# ---------------------------------------------------------------------------
# Q53/Q54 — feature-prep operators the reference delegated to Spark ML,
#           expressed natively: standard scaling and frequency string
#           indexing (closes two former §2.11 non-goal rows with oracles)
# ---------------------------------------------------------------------------

def q53_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler semantics ((x − mean)/stddev_samp per column;
    reference anomaly_model.py StandardScaler stage) as native expressions:
    ONE aggregate computes every column's moments, rides back via a
    broadcast-able crossJoin of the 1-row stats, and the scaled projection
    stays in whole-stage codegen — no ML pipeline object, no VectorUDT
    round-trip. Output pinned to the 100 smallest (orderkey, linenumber)
    rows with rounded values so the gate hashes stably."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    stats = li.agg(
        *[F.avg(F.col(c)).alias(f"{c}__mu") for c in cols],
        *[F.stddev_samp(F.col(c)).alias(f"{c}__sd") for c in cols],
    )
    scaled = li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.round(
                (F.col(c) - F.col(f"{c}__mu")) / F.col(f"{c}__sd"), 6
            ).alias(f"{c}_scaled")
            for c in cols
        ],
    )
    return scaled.orderBy("l_orderkey", "l_linenumber").limit(100)


Q53_SQL = """
WITH s AS (
  SELECT AVG(l_quantity) AS mu_q, STDDEV_SAMP(l_quantity) AS sd_q,
         AVG(l_extendedprice) AS mu_e, STDDEV_SAMP(l_extendedprice) AS sd_e,
         AVG(l_discount) AS mu_d, STDDEV_SAMP(l_discount) AS sd_d
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       ROUND((l_quantity - mu_q) / sd_q, 6) AS l_quantity_scaled,
       ROUND((l_extendedprice - mu_e) / sd_e, 6) AS l_extendedprice_scaled,
       ROUND((l_discount - mu_d) / sd_d, 6) AS l_discount_scaled
FROM lineitem, s
ORDER BY l_orderkey, l_linenumber LIMIT 100
"""


def q54_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringIndexer semantics (labels indexed by DESCENDING frequency,
    deterministic value tie-break; reference anomaly_model.py
    StringIndexer stage) as a plain aggregate + window: one shuffle for
    the counts, a window over the tiny label table for the index. The
    label→index map is exactly what the ML stage would learn, minus the
    opaque model object — and at 10^12 rows the counts aggregate is the
    only full-data pass."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy(F.col("event_type").alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("label"))
    return counts.select(
        "label", "n", (F.row_number().over(w) - 1).cast("int").alias("label_index")
    )


Q54_SQL = """
SELECT event_type AS label, COUNT(*) AS n,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type ASC) - 1
            AS INTEGER) AS label_index
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q57 — the COMPLETE reference feature vector in one funnel
#       (GenerateFeatures: base_spark.py:445-458 composing the 39 feature
#        classes; SURVEY §2.4/§2.8 — see ``feature_vector`` for the
#        per-column reference-class map)
# ---------------------------------------------------------------------------

def q57_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every reference feature family over the events table, per user:
    pre-row projections -> ONE groupBy(user_id) agg -> post-agg
    ratio/rate columns — the reference's pre/group/post structure
    (feature_manager.py:150-205) with its exact guard semantics (rate
    default at dt=0: feature_request_rate.py:35-41; the /0.01
    zero-denominator ratio fallback: feature_css_to_html_ratio.py:44-50).

    Plan: the lag window partitions by user_id; the per-(user, type)
    count window and the final groupBy both reuse that partitioning
    (HashPartitioning(user) satisfies ClusteredDistribution(user, type))
    — the reference's top-page self-join (feature_top_page_total.py:
    30-48) costs an extra shuffle; the window form doesn't. The gate
    keeps the reference's EXACT countDistinct semantics, whose
    multi-distinct Expand adds two exchanges; the HLL form
    (exact_distinct=False, graded by q46) is the single-exchange
    10^12-row configuration — plan pinned in tests/test_features.py."""
    return feature_vector(_t(spark, sf_dir, "events"))


Q57_SQL = """
WITH pre AS (
  SELECT user_id, event_type, value,
         epoch_us(ts) AS ts_us,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS interval_s,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS type_count
  FROM events),
vec AS (
  SELECT user_id,
         COUNT(*) AS request_total,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_total,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_total,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_total,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_total,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_total,
         COUNT(CASE WHEN event_type = 'error' AND k >= 50 THEN 1 END) AS err5_total,
         COUNT(DISTINCT event_type) AS unique_type_total,
         COUNT(DISTINCT k) AS unique_k_total,
         COUNT(DISTINCT FLOOR(value)) AS unique_val_total,
         AVG(k) AS depth_avg_raw,
         VAR_SAMP(k) AS depth_var_raw,
         AVG(value * 0.001) AS payload_avg_raw,
         AVG(LN(GREATEST(value, 0.0) + 1.0)) AS payload_log_avg_raw,
         AVG(interval_s) AS interval_avg_raw,
         VAR_SAMP(interval_s) AS interval_var_raw,
         MAX(type_count) AS top_type_total,
         MIN(ts_us) AS first_us,
         MAX(ts_us) AS last_us
  FROM pre GROUP BY user_id)
SELECT user_id, request_total, view_total, click_total, signup_total,
       purchase_total, error_total, err5_total,
       unique_type_total, unique_k_total, unique_val_total, top_type_total,
       CAST(ROUND((last_us - first_us) / 1e6 / 60.0, 4) AS REAL) AS minutes_total,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN request_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 1.0 END, 4) AS REAL) AS request_rate,
       CAST(ROUND(CASE WHEN click_total > 0
                  THEN view_total::DOUBLE / click_total
                  ELSE view_total / 0.01 END, 4) AS REAL) AS view_to_click_ratio,
       CAST(ROUND(CASE WHEN click_total > 0
                  THEN purchase_total::DOUBLE / click_total
                  ELSE purchase_total / 0.01 END, 4) AS REAL) AS purchase_to_click_ratio,
       CAST(ROUND(CASE WHEN click_total > 0
                  THEN signup_total::DOUBLE / click_total
                  ELSE signup_total / 0.01 END, 4) AS REAL) AS signup_to_click_ratio,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN error_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 0.0 END, 4) AS REAL) AS error_rate,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN err5_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 0.0 END, 4) AS REAL) AS err5_rate,
       CAST(ROUND(error_total::DOUBLE / request_total, 4) AS REAL) AS error_to_request_ratio,
       CAST(ROUND(err5_total::DOUBLE / request_total, 4) AS REAL) AS err5_to_request_ratio,
       CAST(ROUND(top_type_total::DOUBLE / request_total, 4) AS REAL) AS top_type_to_request_ratio,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN unique_type_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 0.0 END, 4) AS REAL) AS unique_type_rate,
       CAST(ROUND(unique_type_total::DOUBLE / request_total, 4) AS REAL) AS unique_type_to_request_ratio,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN unique_k_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 0.0 END, 4) AS REAL) AS unique_k_rate,
       CAST(ROUND(unique_k_total::DOUBLE / request_total, 4) AS REAL) AS unique_k_to_request_ratio,
       CAST(ROUND(CASE WHEN (last_us - first_us) / 1e6 / 60.0 <> 0.0
                  THEN unique_val_total / ((last_us - first_us) / 1e6 / 60.0)
                  ELSE 0.0 END, 4) AS REAL) AS unique_val_rate,
       CAST(ROUND(CASE WHEN unique_k_total > 0
                  THEN unique_val_total::DOUBLE / unique_k_total
                  ELSE unique_val_total / 0.01 END, 4) AS REAL) AS unique_val_to_unique_k_ratio,
       CAST(ROUND(depth_avg_raw, 4) AS REAL) AS depth_avg,
       CAST(ROUND(depth_var_raw, 4) AS REAL) AS depth_var,
       CAST(ROUND(payload_avg_raw, 4) AS REAL) AS payload_avg,
       CAST(ROUND(payload_log_avg_raw, 4) AS REAL) AS payload_log_avg,
       CAST(ROUND(interval_avg_raw, 4) AS REAL) AS interval_avg,
       CAST(ROUND(interval_var_raw, 4) AS REAL) AS interval_var
FROM vec
"""


# ---------------------------------------------------------------------------
# Q58 — updateable-feature merge algebra (cache refresh:
#       updateable_features.py:13-149, helpers.py:13-52, driven from
#       base_spark.py:803-867; SURVEY §2.9 udf_update_features row)
# ---------------------------------------------------------------------------

def q58_feature_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Past/current vectors from a deterministic split of events (past =
    odd event_ids of users not divisible by 7, so some users exercise the
    no-cache passthrough; current = even event_ids), merged with every
    updater type: total, maximum, minimum, replace, rate, ratio,
    count-weighted mean, and the reference's variance pool — VERBATIM,
    including its squaring of the stored variance (helpers.py:17-23 ==
    UpdaterVariance:116-149; see ``update_feature_vector``). One equi-join on
    the group key; both sides arrive hash-partitioned by it from their
    groupBys."""
    e = _t(spark, sf_dir, "events")

    def half_vector(cond) -> DataFrame:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        return e.where(cond).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("request_total"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "error_total"
            ),
            ((F.max(ts_us) - F.min(ts_us)) / F.lit(1e6) / F.lit(60.0)).alias(
                "minutes_total"
            ),
            F.avg("value").alias("mean_value"),
            F.var_samp("value").alias("var_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )

    current = half_vector(F.col("event_id") % 2 == 0)
    past = half_vector(
        (F.col("event_id") % 2 == 1) & (F.col("user_id") % 7 != 0)
    )
    specs = [
        UpdateSpec("upd_request_total", "total", ("request_total",)),
        UpdateSpec("upd_max_value", "maximum", ("max_value",)),
        UpdateSpec("upd_min_value", "minimum", ("min_value",)),
        UpdateSpec("upd_minutes_total", "replace", ("minutes_total",)),
        UpdateSpec(
            "upd_request_rate", "rate", ("request_total", "minutes_total")
        ),
        UpdateSpec(
            "upd_error_ratio", "ratio", ("error_total", "request_total")
        ),
        UpdateSpec("upd_mean_value", "mean", ("mean_value", "request_total")),
        UpdateSpec(
            "upd_var_value",
            "variance",
            ("var_value", "request_total", "mean_value"),
        ),
    ]
    # The pooled MEAN is emitted as the pooled SUM (mean x merged count):
    # 2-dp source data parks pooled means exactly on 4-dp rounding-tie
    # boundaries where ulp-differing engine doubles legitimately round
    # apart (the q62 lesson), while the scaled form lands on the 2-dp
    # grid, 5e-5 from any boundary. The mean updater itself is still what
    # computes it (raw, scaled afterwards).
    m = update_feature_vector(current, past, ["user_id"], specs)
    return m.select(
        "user_id",
        *[
            F.round(F.col(c), 4).alias(c)
            for c in (
                "upd_request_total",
                "upd_max_value",
                "upd_min_value",
                "upd_minutes_total",
                "upd_request_rate",
                "upd_error_ratio",
            )
        ],
        F.round(
            F.col("upd_mean_value") * F.col("upd_request_total"), 4
        ).alias("upd_value_sum"),
        F.round(F.col("upd_var_value"), 4).alias("upd_var_value"),
    )


Q58_SQL = """
WITH cur AS (
  SELECT user_id,
         COUNT(*)::DOUBLE AS request_total,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE AS error_total,
         (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1e6 / 60.0 AS minutes_total,
         AVG(value) AS mean_value,
         VAR_SAMP(value) AS var_value,
         MAX(value) AS max_value,
         MIN(value) AS min_value
  FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
pst AS (
  SELECT user_id,
         COUNT(*)::DOUBLE AS request_total,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE AS error_total,
         (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1e6 / 60.0 AS minutes_total,
         AVG(value) AS mean_value,
         VAR_SAMP(value) AS var_value,
         MAX(value) AS max_value,
         MIN(value) AS min_value
  FROM events WHERE event_id % 2 = 1 AND user_id % 7 <> 0 GROUP BY user_id)
SELECT c.user_id,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.request_total
                  ELSE p.request_total + c.request_total END, 4)
         AS upd_request_total,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.max_value
                  ELSE GREATEST(p.max_value, c.max_value) END, 4)
         AS upd_max_value,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.min_value
                  ELSE LEAST(p.min_value, c.min_value) END, 4)
         AS upd_min_value,
       ROUND(c.minutes_total, 4) AS upd_minutes_total,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.request_total
                  WHEN c.minutes_total > 0
                    THEN (p.request_total + c.request_total) / c.minutes_total
                  ELSE c.request_total END, 4) AS upd_request_rate,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.error_total
                  WHEN (p.request_total + c.request_total) > 0
                    THEN (p.error_total + c.error_total)
                         / (p.request_total + c.request_total)
                  ELSE (p.error_total + c.error_total) / 0.01 END, 4)
         AS upd_error_ratio,
       ROUND((CASE WHEN p.user_id IS NULL THEN c.mean_value
                   ELSE (p.request_total * p.mean_value
                         + c.request_total * c.mean_value)
                        / (p.request_total + c.request_total) END)
             * (CASE WHEN p.user_id IS NULL THEN c.request_total
                     ELSE p.request_total + c.request_total END), 4)
         AS upd_value_sum,
       ROUND(CASE WHEN p.user_id IS NULL THEN c.var_value
                  ELSE ((p.request_total - 1) * POWER(p.var_value, 2)
                        + (c.request_total - 1) * POWER(c.var_value, 2)
                        + p.request_total * POWER(p.mean_value -
                            (p.request_total * p.var_value
                             + c.request_total * c.var_value)
                            / (p.request_total + c.request_total), 2)
                        + c.request_total * POWER(c.mean_value -
                            (p.request_total * p.var_value
                             + c.request_total * c.var_value)
                            / (p.request_total + c.request_total), 2))
                       / (p.request_total + c.request_total - 1) END, 4)
         AS upd_var_value
FROM cur c LEFT JOIN pst p ON c.user_id = p.user_id
"""
