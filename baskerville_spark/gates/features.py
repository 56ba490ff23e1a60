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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
