"""Web-log attack verdicts: the reference's Challenge flow and low-rate
predicate (SURVEY §2.9)."""

from __future__ import annotations


def test_challenge_commands_flow(spark):
    """Challenge-task parity: OR attack filter, whitelist anti-join, and
    the banjax wire message byte-equal to the reference's
    json.dumps({'name': ..., 'value': ip}) modulo its spaces
    (tasks.py:1952-1956 — json.dumps adds ', '/': ' separators;
    to_json is the compact form; both parse identically)."""
    import json

    from pyspark.sql import functions as F

    from baskerville_spark.gates.web import (
        challenge_commands,
        low_rate_attack,
    )

    verdicts = spark.createDataFrame(
        [
            ("10.0.0.1", 1, 0),  # predicted
            ("10.0.0.2", 0, 1),  # low-rate only
            ("10.0.0.3", 0, 0),  # clean -> excluded
            ("10.0.0.4", 1, 1),  # whitelisted -> excluded
        ],
        "ip string, prediction int, low_rate_attack int",
    )
    wl = spark.createDataFrame([("10.0.0.4",)], "ip string")
    out = challenge_commands(verdicts, wl, "ip")
    rows = {r["ip"]: r for r in out.collect()}
    assert set(rows) == {"10.0.0.1", "10.0.0.2"}
    parsed = json.loads(rows["10.0.0.2"]["command"])
    assert parsed == {"name": "challenge_ip", "value": "10.0.0.2"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    # two-tier low-rate predicate truth table (tasks.py:1711-1716)
    df = spark.createDataFrame(
        [(100.0, 4000.0), (100.0, 100.0), (75.0, 100.0), (75.0, 4000.0)],
        "req double, dur double",
    ).withColumn(
        "lra", low_rate_attack(F.col("req"), F.col("dur")).cast("int")
    )
    got = [r["lra"] for r in df.collect()]
    # (req>70 & dur>3600) | (req>85 & dur>60):
    assert got == [1, 1, 0, 1]
