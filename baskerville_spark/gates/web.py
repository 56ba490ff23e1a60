"""Web-log attack verdicts as Column algebra: the reference's low-rate-attack
predicate and its Challenge task's command flow (SURVEY.md §2.9), which the
reference ran row at a time on the driver."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.classify import classify_anomalies
from baskerville_spark.gates.fixtures import EVENT_TYPES, _t


#: (request floor, duration floor in s) per low-rate tier (tasks.py:1711-1716)
LOW_RATE_TIERS = ((70.0, 3600.0), (85.0, 60.0))
#: verdict columns whose value 1 marks an attack (get_attack_filter)
ATTACK_COLS = ("prediction", "low_rate_attack")


def low_rate_attack(request_total: Column, duration_s: Column) -> Column:
    """The two-tier low-rate-attack predicate (tasks.py:1711-1716,
    detect_low_rate_attack at 1796-1817): a key attacks "low and slow"
    when its request volume exceeds a tier's floor AND it has been active
    longer than that tier's duration floor, for ANY tier. Pure Column
    algebra — the reference wraps the same expression in a feature-json
    unwrap."""
    cond = None
    for req_floor, dur_floor in LOW_RATE_TIERS:
        piece = (request_total > F.lit(req_floor)) & (duration_s > F.lit(dur_floor))
        cond = piece if cond is None else (cond | piece)
    return cond


def challenge_commands(
    verdicts: DataFrame,
    whitelist: DataFrame,
    key: str,
) -> DataFrame:
    """The Challenge task's flow (tasks.py:1836-1960) as one declarative
    chain: OR-composed attack filter over the verdict columns
    (get_attack_filter, :1902-1909), host whitelist as a broadcast
    left_anti (the reference joins a whitelist frame then filters the
    flag NULL — same result, :1925-1933), and the banjax command wire
    message json.dumps({'name': cmd_name, 'value': key}) built with
    to_json (:1952-1956) — the reference loops a KafkaProducer row by row
    on the driver; here the rows are a DataFrame any sink (kafka_shaped,
    real Kafka) writes distributed. The IP-cache "don't re-challenge"
    dedup is left to callers that persist challenge history."""
    attack = None
    for c in ATTACK_COLS:
        piece = F.col(c) == 1
        attack = piece if attack is None else (attack | piece)
    return (
        verdicts.where(attack)
        .join(F.broadcast(whitelist.select(key).distinct()), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(c) for c in ATTACK_COLS],
            F.to_json(
                F.struct(
                    F.lit("challenge_ip").alias("name"),
                    F.col(key).cast("string").alias("value"),
                )
            ).alias("command"),
        )
    )


# ---------------------------------------------------------------------------
# Q1 — request-set aggregation funnel (reference core: one groupBy().agg(*)
#       over composed named aggs, base_spark.py:445-458 / SURVEY §2.4)
# ---------------------------------------------------------------------------

def q01_request_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("first_ts"),
        F.unix_timestamp(F.max("ts")).alias("last_ts"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
    )


Q01_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_ts,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_ts,
       COUNT(DISTINCT event_type) AS n_types,
       ROUND(AVG(value), 4) AS avg_value,
       ROUND(VAR_SAMP(value), 4) AS var_value,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Q2 — window functions: lag intervals per user (feature_request_interval_*,
#       SURVEY §2.5)
# ---------------------------------------------------------------------------

def q02_request_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; cast to session-TZ (UTC) timestamp for epoch math
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    iv = ((ts_us - prev_us) / 1e6).alias("interval_s")
    per_row = e.select("user_id", iv)
    return per_row.groupBy("user_id").agg(
        F.round(F.avg("interval_s"), 4).alias("avg_interval_s"),
        F.round(F.var_samp("interval_s"), 4).alias("var_interval_s"),
        F.count("interval_s").alias("n_intervals"),
    )


Q02_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6
           AS interval_s
  FROM events)
SELECT user_id,
       ROUND(AVG(interval_s), 4) AS avg_interval_s,
       ROUND(VAR_SAMP(interval_s), 4) AS var_interval_s,
       COUNT(interval_s) AS n_intervals
FROM iv GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Q3 — top-k per group via row_number (top-page feature done right,
#       SURVEY §2.6: window instead of self-join)
# ---------------------------------------------------------------------------

def q03_top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event"), "cnt")
    )


Q03_SQL = """
WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
r AS (SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) rn
      FROM c)
SELECT user_id, event_type AS top_event, cnt FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Q4 — pivot: anomaly/normal-per-host pattern (base_spark.py:494-504)
# ---------------------------------------------------------------------------

def q04_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


Q04_SQL = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Q5/Q6 — anti / semi joins (whitelist anti-join tasks.py:624-660; cache host
#          filter request_set_cache.py:146-147)
# ---------------------------------------------------------------------------

def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name", "c_mktsegment")


Q05_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q06_building_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_semi",
        )
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


Q06_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


# ---------------------------------------------------------------------------
# Q7 — range-predicate join (attack-window interval join, labeler.py:80-88)
# ---------------------------------------------------------------------------

def q07_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 21 DAYS"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_late"),
            F.round(F.avg(F.col("l_extendedprice")), 4).alias("avg_price"),
        )
    )


Q07_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_late,
       ROUND(AVG(l_extendedprice), 4) AS avg_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 21 DAY
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q10 — incident/drift detection: per-type hourly buckets vs avg+2σ baseline
#        (incident_detector.py:251-295 semantics)
# ---------------------------------------------------------------------------

def q10_incident_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    buckets = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type")
    flagged = buckets.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        "cnt",
        F.round(F.avg("cnt").over(w), 4).alias("mean_cnt"),
        F.round(F.stddev_samp("cnt").over(w), 4).alias("std_cnt"),
        (F.col("cnt") > F.avg("cnt").over(w) + 2 * F.stddev_samp("cnt").over(w)).alias("__flag"),
    )
    return flagged.where("__flag").drop("__flag")


Q10_SQL = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(floor(epoch(bucket)) AS BIGINT) AS bucket_epoch,
         cnt,
         AVG(cnt) OVER (PARTITION BY event_type) AS m,
         STDDEV_SAMP(cnt) OVER (PARTITION BY event_type) AS sd
  FROM b)
SELECT event_type, bucket_epoch, cnt,
       ROUND(m, 4) AS mean_cnt, ROUND(sd, 4) AS std_cnt
FROM s WHERE cnt > m + 2 * sd
"""


# ---------------------------------------------------------------------------
# Q17/Q18 — TPC-H-style multi-agg + join pipelines
# ---------------------------------------------------------------------------

def q17_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q17_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q18_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "AUTOMOBILE")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q18_SQL = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q24-Q27 — sessionization, JSON, rollup, as-of join
# ---------------------------------------------------------------------------

def q24_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag + cumsum over gap>30min (SURVEY §2.10 /
    pyspark-guide sessionization pattern)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    prev_s = F.unix_micros(F.lag("ts").over(w).cast("timestamp")) / 1e6
    new_sess = F.when(prev_s.isNull() | ((ts_s - prev_s) > 1800), 1).otherwise(0)
    sess = e.select("user_id", "ts", "event_id", new_sess.alias("ns"))
    sess = sess.withColumn(
        "session_id", F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_ts"),
        F.unix_timestamp(F.max("ts")).alias("end_ts"),
    )


Q24_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts - LAG(ts) OVER w) / 1e6 > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_ts,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS end_ts
FROM s GROUP BY user_id, session_id
"""


def q25_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling: from_json on the props blob (reference
    to_json/from_json usage, spark/helpers.py:68-82)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        F.from_json("props", "k int").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


Q25_SQL = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def q26_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


Q26_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q27_asof_prev_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a running 'last matching' window — each error
    event matched to the user's most recent prior click (guide: as-of join
    via window; replaces reference's per-row lookup pattern)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("prev_click_ts", click_ts)
        .where(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp(F.col("ts")).alias("error_ts"),
            F.unix_timestamp(F.col("prev_click_ts")).alias("prev_click_ts"),
        )
    )


Q27_SQL = """
WITH m AS (
  SELECT event_id, user_id, ts, event_type,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click
  FROM events)
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS error_ts,
       CAST(floor(epoch(prev_click)) AS BIGINT) AS prev_click_ts
FROM m WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# Q30-Q31 — cube, set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------

def q30_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.cube("event_type", F.date_format("ts", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


Q30_SQL = """
SELECT event_type, strftime(ts, '%Y-%m') AS month, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
"""


def q31_heavy_both_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (SURVEY §2.7): users with >12 views INTERSECT users with >12
    clicks, EXCEPT users with >15 errors — intersect/except as DataFrame ops."""
    e = _t(spark, sf_dir, "events")

    def heavy(t):
        return (
            e.where(F.col("event_type") == t)
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            .where("n > 12").select("user_id")
        )

    err_users = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .where("n > 15").select("user_id")
    )
    # EXCEPT == left_anti here because intersect() already dedupes: one
    # derivation of the heavy-users subtree instead of the old
    # exceptAll(intersect(...)) form that built it twice
    return heavy("view").intersect(heavy("click")).join(
        err_users, on="user_id", how="left_anti"
    )


Q31_SQL = """
WITH hv AS (SELECT user_id FROM events WHERE event_type = 'view'
            GROUP BY user_id HAVING COUNT(*) > 12),
hc AS (SELECT user_id FROM events WHERE event_type = 'click'
       GROUP BY user_id HAVING COUNT(*) > 12),
err AS (SELECT user_id FROM events WHERE event_type = 'error'
       GROUP BY user_id HAVING COUNT(*) > 15)
SELECT user_id FROM hv INTERSECT SELECT user_id FROM hc
EXCEPT SELECT user_id FROM err
"""


def q33_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.first / F.last aggregation over an ordered full-frame window
    (reference: F.first for country/host per request set,
    features/feature_country.py:21-23, tasks.py:992 — made deterministic
    here by explicit ordering)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.round(
                F.first(
                    F.when(F.col("event_type") == "purchase", F.col("value")),
                    ignorenulls=True,
                ).over(w),
                4,
            ).alias("first_purchase_value"),
        )
        .distinct()
    )


Q33_SQL = """
WITH w AS (
  SELECT user_id,
         FIRST_VALUE(event_type) OVER win AS first_type,
         LAST_VALUE(event_type) OVER win AS last_type,
         FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER win AS fpv
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
SELECT DISTINCT user_id, first_type, last_type, ROUND(fpv, 4) AS first_purchase_value
FROM w
"""


def q34_map_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType column ops (reference feature-map blob, base_spark.py:818-829):
    create_map literal for per-type weights, element_at lookups, and a
    map_from_entries-built map column aggregated per user."""
    e = _t(spark, sf_dir, "events")
    weights = F.create_map(
        F.lit("click"), F.lit(1.0),
        F.lit("view"), F.lit(0.5),
        F.lit("purchase"), F.lit(5.0),
        F.lit("signup"), F.lit(3.0),
        F.lit("error"), F.lit(0.0),
    )
    scored = e.select(
        "user_id", "event_type", F.element_at(weights, F.col("event_type")).alias("w")
    )
    counts = scored.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("w").alias("wsum")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts"),
        F.round(F.sum("wsum"), 2).alias("engagement"),
    )
    return m.select(
        "user_id",
        F.size("type_counts").alias("n_types"),
        F.coalesce(F.element_at("type_counts", F.lit("click")), F.lit(0)).alias("clicks"),
        F.coalesce(F.element_at("type_counts", F.lit("purchase")), F.lit(0)).alias("purchases"),
        "engagement",
    )


Q34_SQL = """
SELECT user_id,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
       ROUND(CAST(SUM(CASE event_type WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
                      WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
                      ELSE 0.0 END) AS DOUBLE), 2) AS engagement
FROM events GROUP BY user_id
"""


def q36_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window (SURVEY §2.10) in batch mode — same gap
    semantics as the manual lag-cumsum in q24 (a gap of exactly 30 min
    starts a NEW session under session_window, hence >= in the oracle)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("ts2", F.col("ts").cast("timestamp"))
        .groupBy("user_id", F.session_window("ts2", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min("ts2")).alias("start_ts"),
            F.unix_timestamp(F.max("ts2")).alias("end_ts"),
        )
        .select("user_id", "n_events", "start_ts", "end_ts")
    )


Q36_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts - LAG(ts) OVER w) / 1e6 >= 1800
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, COUNT(*) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_ts,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS end_ts
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# Q43 — single-shuffle first/last
# ---------------------------------------------------------------------------

def q43_first_last_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shuffle variant of q33: first/last-touch via min_by/max_by
    aggregation instead of window + distinct. The window form costs a sort
    shuffle THEN an aggregate shuffle; this is ONE partial-aggregating
    shuffle — the form to use when only per-key firsts are needed (window
    when the firsts must ride alongside the detail rows). Same oracle as
    q33. min_by/max_by skip NULL ordering keys, so the conditional ordering
    column implements FIRST(... ) FILTER (purchase)."""
    e = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    pord = F.when(F.col("event_type") == "purchase", ordk)
    return e.groupBy("user_id").agg(
        F.min_by("event_type", ordk).alias("first_type"),
        F.max_by("event_type", ordk).alias("last_type"),
        F.round(F.min_by(F.col("value"), pord), 4).alias("first_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Q60 — the Challenge flow end-to-end (AttackDetection -> Challenge,
#       tasks.py:1676-1960): attack filter, whitelist anti-join, banjax
#       command wire messages
# ---------------------------------------------------------------------------

def q60_challenge_commands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the reference's flagship pipeline: per-user verdicts
    (dual-threshold prediction from q59's semantics + the two-tier
    low-rate-attack predicate, tasks.py:1711-1716) feed the Challenge
    task's flow — OR attack filter, broadcast-anti whitelist (users
    divisible by 13), and the exact banjax command JSON
    ({"name":"challenge_ip","value":<key>}, tasks.py:1952-1956) that the
    kafka_shaped sink (q45) would carry to the broker."""
    e = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("request_total"),
        (
            F.count(F.when(F.col("event_type") == "error", 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
            * 2.0
        ).alias("score"),
        ((F.max(ts_us) - F.min(ts_us)) / F.lit(1e6)).alias("duration_s"),
    )
    incidents = per_user.where(F.col("score") / 2.0 > 0.21).select("user_id")
    verdicts = classify_anomalies(per_user, incidents, "user_id").withColumn(
        "low_rate_attack",
        low_rate_attack(
            F.col("request_total").cast("double"), F.col("duration_s")
        ).cast("int"),
    )
    whitelist = per_user.where(F.col("user_id") % 13 == 0).select("user_id")
    return challenge_commands(verdicts, whitelist, "user_id")


Q60_SQL = """
WITH per_user AS (
  SELECT user_id,
         COUNT(*) AS request_total,
         2.0 * (COUNT(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE
                / COUNT(*)::DOUBLE) AS score,
         (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1e6 AS duration_s
  FROM events GROUP BY user_id),
verdicts AS (
  SELECT user_id,
         CAST(CASE WHEN score > (CASE WHEN score / 2.0 > 0.21
                                      THEN 0.35 ELSE 0.45 END)
                   THEN 1 ELSE 0 END AS INTEGER) AS prediction,
         CAST(CASE WHEN (request_total > 70 AND duration_s > 3600)
                     OR (request_total > 85 AND duration_s > 60)
                   THEN 1 ELSE 0 END AS INTEGER) AS low_rate_attack
  FROM per_user)
SELECT user_id, prediction, low_rate_attack,
       '{"name":"challenge_ip","value":"' || CAST(user_id AS VARCHAR) || '"}'
         AS command
FROM verdicts
WHERE (prediction = 1 OR low_rate_attack = 1) AND user_id % 13 <> 0
"""


def q66_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min duration, 5 min slide) over the
    events table: every event lands in exactly duration/slide = 2
    epoch-aligned windows. F.window with slide < duration expands each
    row JVM-side (Expand node) before ONE hash aggregate — no self-union,
    no Python. The oracle materializes the same two windows per event via
    a 2-row constant cross join. value_sum is round-then-float32 (the
    cross-engine float-stability rule, cf. q64)."""
    e = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).cast("float").alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_epoch"),
            "event_type",
            "cnt",
            "value_sum",
        )
    )


Q66_SQL = """
SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 * offs.k AS BIGINT) AS bucket_epoch,
       event_type, COUNT(*) AS cnt,
       CAST(ROUND(SUM(value), 4) AS REAL) AS value_sum
FROM events, (VALUES (0), (1)) AS offs(k)
GROUP BY 1, 2
"""
