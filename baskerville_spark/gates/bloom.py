"""Bloom-filter pre-filtered semi-join: referential checks when the
dimension is too big to broadcast raw but its bloom filter fits.

The engine's referential-integrity check (checks/referential.py) picks
broadcast vs sort-merge by dimension size — this module adds the third
regime the north rule's 10^12-row design point needs: a 10^9-key dimension
whose raw key set is tens of GB (un-broadcastable) but whose m-bit bloom
bitmap is a few hundred MB is distilled into ONE bitmap, broadcast once,
and applied map-side to the fact table BEFORE any shuffle. Matching rows
(a tiny fraction under referential violation hunting) then pay the exact
verify join; the fact table as a whole never shuffles on the bloom pass.

All hashing is JVM-side (two `xxhash64` base hashes per key; the k
positions derive from them Kirsch-Mitzenmacher style with zero Python in
the row path); Python touches only the final bitmap lookup, vectorized as
numpy gathers per Arrow batch. False positives are removed by an exact
left-semi verify join over the candidates, so the composed operator equals
a plain semi-join bit-for-bit (the q93 gate proves it against DuckDB's
`IN` subquery) while scanning the dimension exactly twice (build + verify)
and the fact exactly once.

Reference seam: Baskerville cross-references IPs against the MISP table
per-row (src/baskerville/features/helpers.py-style lookups); the engine's
broadcast anti-join replaced that, and this is the same check re-shaped
for dimensions beyond broadcast size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

N_HASHES = 5  # bloom bit positions per key
M_BITS = 1 << 16  # bloom bitmap size of ``bloom_semi_join``


def _base_hashes(col: F.Column) -> tuple[F.Column, F.Column]:
    """Two independent JVM-side 64-bit hashes of the key; the k bloom
    positions derive from them Kirsch-Mitzenmacher style
    (pos_j = (h1 mod m + j*(h2 mod m)) mod m), so the probe-side pandas UDF
    needs only two fixed long columns (pandas UDFs reject varargs). The
    mod-first form keeps every intermediate under k*m — no int64 overflow,
    which ANSI mode (Spark 4 default) would otherwise reject — and both
    ``pmod`` and numpy ``%`` return non-negative for positive m, so the
    JVM build side and the numpy probe side compute identical positions.

    Casting the key to string first keeps the hash layout type-stable
    across build and probe sides even if their key columns differ in
    integer width.
    """
    key = col.cast("string")
    return F.xxhash64(key, F.lit(1)), F.xxhash64(key, F.lit(2))


def _positions(col: F.Column, n_hashes: int, m_bits: int) -> list[F.Column]:
    """k bloom bit positions for a key column, all JVM-side."""
    h1, h2 = _base_hashes(col)
    m = F.lit(m_bits)
    r1, r2 = F.pmod(h1, m), F.pmod(h2, m)
    return [
        F.pmod(r1 + F.lit(j) * r2, m).cast("long") for j in range(n_hashes)
    ]


def build_bloom_bitmap(
    dim: DataFrame, key: str, m_bits: int, n_hashes: int
) -> np.ndarray:
    """One boolean numpy bitmap (m_bits packed bits via np.packbits would
    halve memory 8x; kept as bool[] for O(1) vectorized gather) covering
    every key in ``dim``.

    The driver receives at most min(n_hashes * |dim|, m_bits) DISTINCT
    positions — bounded by m_bits regardless of dimension cardinality, the
    same driver-bound discipline as the capped IVF trainer
    (similarity.py). The build is one distinct-aggregate job over the
    dimension's positions.
    """
    pos_col = F.explode(F.array(*_positions(F.col(key), n_hashes, m_bits)))
    rows = (
        dim.where(F.col(key).isNotNull())
        .select(pos_col.alias("pos"))
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m_bits, dtype=bool)
    if rows:
        bitmap[np.fromiter((r.pos for r in rows), dtype=np.int64, count=len(rows))] = True
    return bitmap


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """``fact`` rows whose ``fact_key`` exists in ``dim[dim_key]`` —
    exactly a left-semi join, computed as bloom-prune (map-side, no fact
    shuffle) -> exact left-semi verify over the surviving candidates.

    The verify join removes bloom false positives; at production scale it
    runs over the candidate subset only (|matches| + fp_rate * |fact|
    rows), which is what turns an all-fact sort-merge join into a
    candidates-only one. NULL fact keys never match (semi-join semantics).
    """
    m_bits = M_BITS  # read on the driver: the UDF ships its value
    spark = fact.sparkSession
    bitmap_bc = spark.sparkContext.broadcast(
        build_bloom_bitmap(dim, dim_key, m_bits, N_HASHES)
    )

    @F.pandas_udf("boolean")
    def _might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bm = bitmap_bc.value
        m = np.int64(m_bits)
        r1 = h1.to_numpy(dtype=np.int64) % m
        r2 = h2.to_numpy(dtype=np.int64) % m
        ok = np.ones(len(r1), dtype=bool)
        for j in range(N_HASHES):
            ok &= bm[(r1 + np.int64(j) * r2) % m]
        return pd.Series(ok)

    h1, h2 = _base_hashes(F.col(fact_key))
    candidates = fact.where(F.col(fact_key).isNotNull()).where(
        _might_contain(h1, h2)
    )
    return candidates.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        on=fact_key,
        how="left_semi",
    )


# --------------------------------------------------------------------------
# q93: bloom-filter pre-filtered referential semi-join over testdata
# --------------------------------------------------------------------------


def q93_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join gate: orders restricted to a deterministic customer
    subset (c_custkey % 7 == 0) through bloom-prune -> exact verify; the
    composition must equal DuckDB's plain IN-subquery bit-for-bit (bloom
    false positives all removed by the verify join)."""
    orders = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0)
    out = bloom_semi_join(orders, dim, fact_key="o_custkey", dim_key="c_custkey")
    return out.select("o_orderkey", "o_custkey")


Q93_SQL = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
"""
