"""State cache (enrich/upsert/StateStore) + streaming stateful."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from baskerville_spark.gates.state import (
    StateStore,
    enrich_with_state,
    upsert_state,
)


def _dfs(spark):
    state = spark.createDataFrame(
        [("a", 10, 100.0), ("b", 20, 100.0)], "k string, n int, updated_at double"
    )
    updates = spark.createDataFrame(
        [("b", 25, 200.0), ("c", 5, 200.0)], "k string, n int, updated_at double"
    )
    return state, updates


def test_upsert_new_wins_old_survives(spark):
    state, updates = _dfs(spark)
    merged = {r["k"]: (r["n"], r["updated_at"]) for r in
              upsert_state(state, updates, ["k"], ["n"]).collect()}
    assert merged == {"a": (10, 100.0), "b": (25, 200.0), "c": (5, 200.0)}


def test_upsert_per_column_null_coalescing(spark):
    """The reference merges PER COLUMN (request_set_cache.py:370-400): an
    update row with a NULL in one value column refreshes the other columns
    without clobbering the old value of the null one."""
    state = spark.createDataFrame(
        [("a", 10, 1.5, 100.0)], "k string, n int, score double, updated_at double"
    )
    updates = spark.createDataFrame(
        [("a", None, 9.9, 200.0)], "k string, n int, score double, updated_at double"
    )
    r = upsert_state(state, updates, ["k"], ["n", "score"]).collect()[0]
    assert (r["n"], r["score"], r["updated_at"]) == (10, 9.9, 200.0)


def test_enrich_and_prune(spark):
    state, _ = _dfs(spark)
    batch = spark.createDataFrame([("b", 1.0), ("c", 2.0)], "k string, x double")
    enriched = {r["k"]: r["old_n"] for r in
                enrich_with_state(batch, state, ["k"], ["n"]).collect()}
    assert enriched == {"b": 20, "c": None}


def test_state_store_atomic_flip(spark, tmp_path):
    store = StateStore(str(tmp_path / "store"))
    assert store.read(spark) is None
    df1 = spark.createDataFrame([("a", 1)], "k string, n int")
    store.write(df1)
    assert store.read(spark).collect()[0]["n"] == 1
    df2 = spark.createDataFrame([("a", 2)], "k string, n int")
    store.write(df2)
    assert store.read(spark).collect()[0]["n"] == 2


def test_streaming_incremental_stats(spark, tmp_path):
    """Drive the applyInPandasWithState op with a file stream: two files
    arriving as separate micro-batches must merge state across batches."""
    import json
    import os

    from baskerville_spark.gates.stateful import incremental_group_stats

    src = tmp_path / "stream_src"
    os.makedirs(src)
    with open(src / "batch1.json", "w") as f:
        for row in [{"key": "x", "value": 1.0}, {"key": "x", "value": 3.0},
                    {"key": "y", "value": 10.0}]:
            f.write(json.dumps(row) + "\n")

    stream = (
        spark.readStream.schema("key string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = incremental_group_stats(stream, key_col="key")
    name = f"inc_{int(time.time() * 1000)}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src / "batch2.json", "w") as f:
            f.write(json.dumps({"key": "x", "value": 5.0}) + "\n")
            # null value: counts toward n_total, must NOT drag the mean
            f.write(json.dumps({"key": "y", "value": None}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # memory sink in update mode appends; take the LAST row per key
    last = {}
    for r in rows:
        last[r["key"]] = r
    x = last["x"]
    assert x["n_total"] == 3 and x["n_batches"] == 2
    assert x["min_value"] == 1.0 and x["max_value"] == 5.0
    assert abs(x["mean_value"] - 3.0) < 1e-9
    y = last["y"]
    assert y["n_total"] == 2 and y["mean_value"] == 10.0


def test_streaming_session_window(spark, tmp_path):
    """Native F.session_window in an ACTUAL stream (SURVEY §2.10): events in
    two micro-batches; the watermark closes finished sessions and append
    mode emits them with merged extents across batches."""
    import json
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "sess_src"
    os.makedirs(src)
    rows1 = [
        {"user": "u1", "ts": "2024-01-01 10:00:00"},
        {"user": "u1", "ts": "2024-01-01 10:10:00"},   # same session (gap 10m)
        {"user": "u2", "ts": "2024-01-01 10:00:00"},
    ]
    with open(src / "b1.json", "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("user string, ts string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy("user", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user", F.col("sw.start").alias("start"), "n_events")
    )
    name = f"sess_{int(time.time() * 1000)}"
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: u1 extends the open session; a late event far ahead moves
        # the watermark past every open session so they all emit
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps({"user": "u1", "ts": "2024-01-01 10:20:00"}) + "\n")
            f.write(json.dumps({"user": "u3", "ts": "2024-01-01 14:00:00"}) + "\n")
        q.processAllAvailable()
        with open(src / "b3.json", "w") as f:
            f.write(json.dumps({"user": "u3", "ts": "2024-01-01 18:00:00"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["user"], str(r["start"])): r["n_events"]
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    # u1's three events merged into ONE session spanning both micro-batches
    assert got[("u1", "2024-01-01 10:00:00")] == 3
    assert got[("u2", "2024-01-01 10:00:00")] == 1


def test_kafka_shaped_stream_microbatches(spark, tmp_path):
    """The broker-free Kafka-shaped source must (a) present the Kafka wire
    schema, (b) replay across >= 2 micro-batches under maxFilesPerTrigger,
    and (c) decode from_json(value) to exactly the rows that went in."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.kafka_shaped import (
        KAFKA_WIRE_SCHEMA, decode_json_values, read_kafka_shaped_stream,
        write_kafka_shaped,
    )

    src = spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "CAST(id * 1.5 AS DOUBLE) AS amount"
    )
    path = str(tmp_path / "wire")
    write_kafka_shaped(
        src, path, topic="t",
        value_struct=F.struct("id", "grp", "amount"), key_col=F.col("grp"),
    )
    wire = spark.read.parquet(path)
    assert set(wire.columns) == {f.name for f in KAFKA_WIRE_SCHEMA.fields}
    assert wire.count() == 100

    stream = read_kafka_shaped_stream(spark, path)
    decoded = decode_json_values(stream, "id bigint, grp int, amount double")
    q = (
        decoded.writeStream.outputMode("append")
        .format("memory").queryName("kafka_shaped_t").start()
    )
    try:
        q.processAllAvailable()
        batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    assert batches >= 2, batches
    got = {(r["id"], r["grp"], r["amount"]) for r in spark.table("kafka_shaped_t").collect()}
    want = {(r["id"], r["grp"], r["amount"]) for r in src.collect()}
    assert got == want


def test_sensitive_split_merge_roundtrip(spark, tmp_path):
    """CacheSensitiveData -> predict -> MergeWithSensitiveData parity
    (tasks.py:1291-1428): the prediction leg never sees ip/target, the
    merge restores them exactly, and the merge report carries the
    reference's lost-rows warning as data."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.sensitive import (
        cache_sensitive,
        merge_sensitive,
    )
    from baskerville_spark.gates.state import StateStore

    df = spark.createDataFrame(
        [
            ("c1", "rs1", "1.2.3.4", "example.org", 0.9),
            ("c1", "rs2", "5.6.7.8", "example.net", 0.1),
        ],
        "id_client string, uuid_request_set string, "
        "ip string, target string, score double",
    )
    keys = ["id_client", "uuid_request_set"]
    store = StateStore(str(tmp_path / "stash"))
    anonymized = cache_sensitive(df, store, keys, ["ip", "target"])
    assert "ip" not in anonymized.columns
    assert "target" not in anonymized.columns

    preds = anonymized.withColumn(
        "prediction", (F.col("score") > 0.5).cast("int")
    )
    merged, rep = merge_sensitive(preds, store, spark, keys)
    rows = {r["uuid_request_set"]: r for r in merged.collect()}
    assert rows["rs1"]["ip"] == "1.2.3.4" and rows["rs1"]["prediction"] == 1
    assert rows["rs2"]["target"] == "example.net"
    assert rep.before == 2 and rep.after == 2 and rep.lost == 0

    # predictions for keys the stash never saw: the reference's warning case
    strangers = preds.withColumn("uuid_request_set", F.lit("rs9"))
    _, rep2 = merge_sensitive(strangers, store, spark, keys)
    assert rep2.after == 0 and rep2.lost == 2


def test_sensitive_stash_accumulates_across_batches(spark, tmp_path):
    """The reference's merge-loss scenario (tasks.py:1411-1420): batch B
    stashes AFTER batch A but BEFORE A's predictions return — A's rows
    must still be in the stash (per-key accumulate, newest-write-wins)."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.sensitive import (
        cache_sensitive,
        merge_sensitive,
    )
    from baskerville_spark.gates.state import StateStore

    store = StateStore(str(tmp_path / "stash"))
    keys = ["uuid_request_set"]

    batch_a = spark.createDataFrame(
        [("rs1", "1.1.1.1", 0.9), ("rs2", "2.2.2.2", 0.3)],
        "uuid_request_set string, ip string, score double",
    )
    batch_b = spark.createDataFrame(
        [("rs3", "3.3.3.3", 0.7), ("rs2", "9.9.9.9", 0.4)],  # rs2 updated
        "uuid_request_set string, ip string, score double",
    )
    anon_a = cache_sensitive(batch_a, store, keys, ["ip"])
    cache_sensitive(batch_b, store, keys, ["ip"])

    # A's predictions return after B stashed: rs1 must still resolve
    preds_a = anon_a.withColumn("prediction", F.lit(1))
    merged, rep = merge_sensitive(preds_a, store, spark, keys)
    rows = {r["uuid_request_set"]: r for r in merged.collect()}
    assert rows["rs1"]["ip"] == "1.1.1.1"  # survived batch B's write
    assert rows["rs2"]["ip"] == "9.9.9.9"  # newest write wins
    assert rep.lost == 0


def test_stateful_update_counts_batches_not_chunks():
    """Regression for the q64-caught bug: one invocation of the
    applyInPandasWithState update function == ONE micro-batch, however many
    Arrow chunks deliver the key's rows. n_batches must increment once per
    invocation, not once per chunk."""
    import pandas as pd

    from baskerville_spark.gates.stateful import _update as fn

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    state = _FakeState()
    # one micro-batch, delivered as THREE chunks
    chunks = [pd.DataFrame({"value": [1.0, 2.0]}),
              pd.DataFrame({"value": [3.0]}),
              pd.DataFrame({"value": [4.0, 5.0]})]
    (row,) = list(fn(("k",), iter(chunks), state))
    assert row["n_batches"].iloc[0] == 1
    assert row["n_total"].iloc[0] == 5
    assert row["mean_value"].iloc[0] == 3.0
    # a second micro-batch (single chunk) -> 2
    (row2,) = list(fn(("k",), iter([pd.DataFrame({"value": [9.0]})]), state))
    assert row2["n_batches"].iloc[0] == 2
    assert row2["n_total"].iloc[0] == 6


def test_encrypt_decrypt_columns(spark):
    """Field-level AES-GCM (reference util/crypto.py via Spark-native
    expressions): round-trip identity, GCM wire shape, per-value IV
    freshness, AAD binding, and the permissive NULL contract."""
    from pyspark.sql import Row

    from baskerville_spark.gates.sensitive import (
        decrypt_columns,
        encrypt_columns,
    )

    key = "0123456789abcdef0123456789abcdef"
    df = spark.createDataFrame(
        [Row(rid="r1", ip="10.0.0.1"), Row(rid="r2", ip="10.0.0.1")]
    )
    enc = encrypt_columns(df, ["ip"], key, aad_col="rid").collect()
    by_rid = {r["rid"]: r["ip"] for r in enc}
    # wire shape iv(12) + ct(8) + tag(16); fresh IV → same plaintext,
    # different ciphertext per row
    assert all(len(v) == 36 for v in by_rid.values())
    assert by_rid["r1"] != by_rid["r2"]

    enc_df = spark.createDataFrame(
        [Row(rid=k, ip=bytearray(v)) for k, v in by_rid.items()]
    )
    dec = decrypt_columns(enc_df, ["ip"], key, aad_col="rid").collect()
    assert {r["ip"] for r in dec} == {"10.0.0.1"}

    # AAD binding: r1's ciphertext replayed under r2's id must not decrypt
    swapped = spark.createDataFrame([Row(rid="r2", ip=bytearray(by_rid["r1"]))])
    out = decrypt_columns(swapped, ["ip"], key, aad_col="rid",
                          permissive=True).collect()
    assert out[0]["ip"] is None
    # ... and the default mode fails loudly (reference InvalidTag behavior)
    import pytest

    with pytest.raises(Exception):
        decrypt_columns(swapped, ["ip"], key, aad_col="rid").collect()


def test_render_prometheus():
    from baskerville_spark.runtime.metrics import render_prometheus

    txt = render_prometheus(
        {"n_violations": 5, "rate": 0.25, "empty": None, "bad": float("nan"), "p-99": 1}
    )
    lines = txt.strip().split("\n")
    # skipped: None and NaN; rendered: sorted, prefixed, sanitized
    assert lines == [
        "# TYPE baskerville_n_violations gauge",
        "baskerville_n_violations 5",
        "# TYPE baskerville_p_99 gauge",
        "baskerville_p_99 1",
        "# TYPE baskerville_rate gauge",
        "baskerville_rate 0.25",
    ]
    assert render_prometheus({}) == ""


def test_render_prometheus_numpy_scalars():
    """Round-5 review: numpy int64/float32 metrics (toPandas-derived dicts)
    must render, not silently vanish from the exposition output."""
    import numpy as np

    from baskerville_spark.runtime.metrics import render_prometheus

    txt = render_prometheus({"n_rows": np.int64(5), "rate": np.float32(0.5)})
    assert "baskerville_n_rows 5" in txt
    assert "baskerville_rate 0.5" in txt
