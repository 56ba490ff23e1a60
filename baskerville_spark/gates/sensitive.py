"""Sensitive-data split / re-merge around an anonymized prediction leg.

Reference: ``models/pipeline_tasks/tasks.py:1291-1428`` —
``CacheSensitiveData`` stashes the full row (keyed by uuid, TTL'd) in
Redis or a Kafka topic so only anonymized features travel to the
prediction service; ``MergeWithSensitiveData`` inner-joins the returning
predictions back on (id_client, uuid) and warns when the merge loses
rows (postprocessing lag). The client/server split exists so the
prediction service never sees IPs or hostnames.

Here the stash is a :class:`~baskerville_spark.gates.state.StateStore`
(the same versioned-parquet + atomic-pointer store the feature cache
uses; Redis's ``key.column`` maps to ``keys``). No caller sets a TTL, so
the stash keeps every key until a later batch rewrites it. On a cluster
the stash write is one line —
the kafka_shaped sink or a Redis writer — with identical split/merge
semantics.

Scale: the merge is an equi-join on the uuid keys; the sensitive side
grows with the distinct keys stashed, the prediction side with the batch — both
narrow (no payloads). The count-mismatch check costs two count() jobs
exactly like the reference's; callers that cannot afford them at 10^12
rows can skip with ``report=False`` (the reference always pays them).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _gate_tmp_detach, _t
from baskerville_spark.gates.state import StateStore


def split_sensitive(
    df: DataFrame,
    keys: list[str],
    sensitive_cols: list[str],
) -> tuple[DataFrame, DataFrame]:
    """(anonymized, sensitive): the anonymized frame drops the sensitive
    columns; the sensitive frame carries keys + sensitive columns only
    (tasks.py:1302-1312 minus the to_json round-trip Redis needed)."""
    anonymized = df.drop(*sensitive_cols)
    sensitive = df.select(*keys, *sensitive_cols)
    return anonymized, sensitive


def cache_sensitive(
    df: DataFrame,
    store: StateStore,
    keys: list[str],
    sensitive_cols: list[str],
) -> DataFrame:
    """Stash the sensitive slice and return the anonymized frame for the
    prediction leg.

    The stash ACCUMULATES across batches, per key — a Redis SET per uuid
    does the same — so predictions lagging a batch or three behind
    (the reference's explicit merge-loss scenario, tasks.py:1411-1420)
    still find their rows. Each write keeps: this batch's rows, plus every
    prior key this batch didn't touch; each version is a full rewrite
    (Iceberg: MERGE INTO).
    """
    anonymized, fresh = split_sensitive(df, keys, sensitive_cols)
    prior = store.read(df.sparkSession)
    if prior is not None:
        untouched = prior.join(fresh.select(*keys), on=keys, how="left_anti")
        fresh = fresh.unionByName(untouched)
    # materialize before the pointer flip: the plan reads the CURRENT
    # version that write() is about to replace
    fresh = fresh.cache()
    fresh.count()
    store.write(fresh)
    fresh.unpersist()
    return anonymized


@dataclass(frozen=True)
class MergeReport:
    before: int
    after: int

    @property
    def lost(self) -> int:
        return self.before - self.after


def merge_sensitive(
    predictions: DataFrame,
    store: StateStore,
    spark: SparkSession,
    keys: list[str],
) -> tuple[DataFrame, MergeReport]:
    """Inner-join predictions back onto their stashed sensitive rows
    (tasks.py:1405-1408). Returns (merged, report); ``report.lost > 0``
    reproduces the reference's merge-loss warning (tasks.py:1411-1420) as
    data instead of log noise."""
    stash = store.read(spark)
    if stash is None:
        raise ValueError("no sensitive stash has been written")
    merged = predictions.join(stash, on=keys, how="inner")
    return merged, MergeReport(before=predictions.count(), after=merged.count())


# --------------------------------------------------------------------------
# Field-level AES-GCM encryption of sensitive columns
# --------------------------------------------------------------------------
#
# Reference: ``util/crypto.py:17-72`` (AES-GCM encrypt/decrypt with
# associated data; random 96-bit IV per value) wired through
# ``util/baskerville_tools.py:67-84`` to field-encrypt sensitive values
# (IPs, hostnames) with ``database.encryption_key`` before they land in
# storage. The reference runs this per value in driver-side Python; here it
# is Spark's NATIVE aes_encrypt/aes_decrypt expressions (JVM, codegen,
# zero Python in the path). Wire shape matches: GCM mode emits
# iv(12) || ciphertext(len(plain)) || tag(16) — the same (iv, ct, tag)
# triple the reference returns, concatenated.


def encrypt_columns(
    df: DataFrame,
    cols: list[str],
    key: str,
    aad_col: str,
) -> DataFrame:
    """AES-GCM-encrypt ``cols`` in place (values become binary).

    ``key`` must be 16/24/32 bytes (the reference derives a 32-byte key via
    sha256(passphrase) — do the same upstream). ``aad_col`` binds each
    ciphertext to another column (e.g. the clip/run id): the reference's
    ``associated_data`` — decryption then fails loudly if a ciphertext is
    replayed onto a different row.
    """
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.aes_encrypt(
                F.col(c).cast("string").cast("binary"),
                F.lit(key),
                F.lit("GCM"),
                F.lit("DEFAULT"),
                F.lit(b""),  # empty IV literal → random 96-bit IV per value
                F.col(aad_col).cast("string"),
            ),
        )
    return out


def decrypt_columns(
    df: DataFrame,
    cols: list[str],
    key: str,
    aad_col: str,
    permissive: bool = False,
) -> DataFrame:
    """Invert :func:`encrypt_columns` (values come back as string); the
    same ``aad_col`` must be given.

    ``permissive=True`` uses try_aes_decrypt: wrong-key / tampered / AAD-
    mismatched values decrypt to NULL instead of failing the job — the
    quarantine-friendly mode; default is the reference's fail-loud
    InvalidTag behavior (crypto.py:60-72).
    """
    fn = F.try_aes_decrypt if permissive else F.aes_decrypt
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            fn(
                F.col(c),
                F.lit(key),
                F.lit("GCM"),
                F.lit("DEFAULT"),
                F.col(aad_col).cast("string"),
            ).cast("string"),
        )
    return out


# ---------------------------------------------------------------------------
# Q63 — sensitive-data split / lagging re-merge (CacheSensitiveData →
#       MergeWithSensitiveData, tasks.py:1291-1428)
# ---------------------------------------------------------------------------

def q63_sensitive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy split under the hash gate: events are split into two
    micro-batches (event_id parity); each batch's sensitive columns
    (user_id, props) are stashed in the versioned StateStore and the
    prediction leg sees ONLY the anonymized frame. Batch 1's predictions
    merge back AFTER batch 2 has been stashed — the reference's
    predictions-lag-the-stash scenario (tasks.py:1411-1420) — so the gate
    fails unless the stash ACCUMULATES per key across batches (the Redis
    SET-per-uuid semantics) instead of being replaced by the newest write.
    MergeReport.lost must be 0 for both legs (raised, not logged), the
    anonymized frames must provably not carry the sensitive columns, and
    the restored rows — key, prediction, and the exact sensitive strings —
    must hash-equal DuckDB computing the same over the undivided table.
    """
    e = _t(spark, sf_dir, "events")
    sensitive_cols = ["user_id", "props"]
    tmp = tempfile.mkdtemp(prefix="bsk_q63_")
    store = StateStore(f"{tmp}/stash")
    b1 = e.where(F.col("event_id") % 2 == 0)
    b2 = e.where(F.col("event_id") % 2 == 1)
    anon1 = cache_sensitive(b1, store, ["event_id"], sensitive_cols)
    # batch 2 lands in the stash BEFORE batch 1's predictions return
    anon2 = cache_sensitive(b2, store, ["event_id"], sensitive_cols)
    for anon in (anon1, anon2):
        leaked = set(anon.columns) & set(sensitive_cols)
        if leaked:  # the anonymized leg must never carry sensitive columns
            raise RuntimeError(f"sensitive columns leaked: {leaked}")

    def predict(anon: DataFrame) -> DataFrame:
        return anon.select(
            "event_id",
            F.when(F.col("event_type") == "error", 1)
            .otherwise(0).cast("int").alias("prediction"),
        )

    out = []
    for anon in (anon1, anon2):
        merged, rep = merge_sensitive(predict(anon), store, spark, ["event_id"])
        if rep.lost != 0:  # reference logs this; we fail loudly
            raise RuntimeError(f"merge lost {rep.lost} prediction rows")
        out.append(merged.select("event_id", "prediction", *sensitive_cols))
    return _gate_tmp_detach(out[0].unionByName(out[1]), tmp)


Q63_SQL = """
SELECT event_id,
       CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS INTEGER)
         AS prediction,
       user_id, props
FROM events
"""


# --------------------------------------------------------------------------
# q110: field-level AES-GCM crypto on sensitive columns (reference
# util/crypto.py:17-72 via baskerville_tools.py:67-84) — Spark-native
# aes_encrypt/aes_decrypt, gated through the decrypt∘encrypt identity plus
# the GCM wire-shape (iv12‖ct‖tag16) and an AAD-tamper probe.
# --------------------------------------------------------------------------

_Q110_KEY = "0123456789abcdef0123456789abcdef"  # 32-byte AES-256 test key


def q110_sensitive_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto gate: a stand-in sensitive string per event is AES-GCM
    encrypted bound to its event_id (AAD), then (a) decrypted back —
    identity under the hash; (b) length-checked against the GCM wire shape
    iv(12)‖ct(len)‖tag(16) — deterministic though the IV is random;
    (c) tamper-probed — permissive decrypt under a DIFFERENT AAD must
    yield NULL (ciphertexts cannot be replayed onto other rows)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % 20 == 0)
        .select(
            "event_id",
            F.concat(F.lit("ip-10-0-"), F.col("user_id")).alias("secret"),
        )
    )
    ev = ev.withColumn("__plain_len", F.octet_length("secret"))
    enc = encrypt_columns(ev, ["secret"], _Q110_KEY, aad_col="event_id")
    # GCM wire shape: iv(12) ‖ ciphertext(len(plain)) ‖ tag(16)
    enc = enc.withColumn(
        "len_ok", F.octet_length("secret") == F.col("__plain_len") + 28
    )
    # both decrypts ride the SAME linear plan (a second column, not a
    # self-join): one scan, zero shuffles, whole-stage codegen end to end
    enc = enc.withColumn(
        "secret_tampered", F.col("secret")
    ).withColumn("__wrong_aad", F.concat(F.lit("x"), "event_id"))
    enc = decrypt_columns(
        enc, ["secret_tampered"], _Q110_KEY,
        aad_col="__wrong_aad", permissive=True,
    )
    dec = decrypt_columns(enc, ["secret"], _Q110_KEY, aad_col="event_id")
    return dec.select(
        "event_id",
        F.col("secret").alias("secret_roundtrip"),
        "len_ok",
        F.col("secret_tampered").isNull().alias("tamper_null"),
    )


Q110_SQL = """
SELECT event_id,
       'ip-10-0-' || CAST(user_id AS VARCHAR) AS secret_roundtrip,
       TRUE AS len_ok,
       TRUE AS tamper_null
FROM events
WHERE event_id % 20 = 0
"""
