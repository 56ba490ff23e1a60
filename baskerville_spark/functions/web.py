"""Web-log attack verdicts as Column algebra: the reference's low-rate-attack
predicate and its Challenge task's command flow (SURVEY.md §2.9), which the
reference ran row at a time on the driver."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
