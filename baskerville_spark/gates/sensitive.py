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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
