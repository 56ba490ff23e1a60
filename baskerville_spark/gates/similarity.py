"""Similarity search over the ``embedding`` column (array<float>) of a
table keyed by ``vec_id``.

- ``cosine_topk``: brute-force top-k against a query vector. The dot product
  is ``F.zip_with`` + ``F.aggregate`` — JVM-side array math, no Python. The
  top-k is an orderBy+limit, which Spark executes as per-partition TakeOrdered
  + driver merge (no global sort shuffle).
- ``hyperplane_lsh_pairs``: the scale path for all-pairs similarity —
  random-hyperplane (SRP) signatures bucket vectors so the self-join touches
  only same-bucket candidates, verified with exact cosine. Planes are
  deterministic (seeded numpy) and enter the plan as literal arrays
  (broadcast-by-literal; a few KB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from baskerville_spark.gates.fixtures import _t
from baskerville_spark.gates.sampling import hash_threshold_keep

TOP_K = 10  # rows ``cosine_topk`` and ``ivf_topk`` return
BATCH_TOP_K = 5  # rows per query ``cosine_topk_batched`` returns
LSH_DIM = 64  # embedding dimension ``hyperplane_lsh_pairs`` expects
LSH_N_PLANES = 12  # hyperplanes (signature bits) per LSH table
LSH_N_TABLES = 4  # independent LSH tables
LSH_MIN_COSINE = 0.9  # least cosine of a ``hyperplane_lsh_pairs`` pair
BRUTE_FORCE_MIN_COSINE = 0.45  # least cosine of a ``brute_force_pairs`` pair
IVF_N_CENTROIDS = 8  # coarse-quantizer cells ``train_ivf_centroids`` fits
IVF_SAMPLE_MOD = 3  # ``train_ivf_centroids`` samples about 1 in IVF_SAMPLE_MOD rows
IVF_NPROBE = 2  # cells ``ivf_topk`` probes


def _stack_valid(emb: pd.Series, expected_dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(mask, matrix) from a Series of array cells: NULL rows are masked out
    instead of crashing the vstack; ragged / wrong-dimension vectors raise a
    descriptive ValueError rather than an opaque Python-worker failure.
    ``expected_dim`` catches raggedness even when the bad rows land in
    different Arrow batches (a batch is internally consistent by accident)."""
    cells = emb.to_numpy()
    mask = np.array([c is not None for c in cells], dtype=bool)
    valid = [np.asarray(c, dtype=np.float64) for c in cells[mask]]
    if not valid:
        return mask, np.empty((0, expected_dim or 0))
    dims = {v.shape[0] for v in valid}
    if expected_dim is not None:
        dims.add(int(expected_dim))
    if len(dims) > 1:
        raise ValueError(
            f"embedding column has mixed dimensions {sorted(dims)}; "
            "fix or filter the ragged rows before similarity ops"
        )
    return mask, np.vstack(valid)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _with_norms(df: DataFrame) -> DataFrame:
    """(id, v, n): ``vec_id``, the embedding as doubles and its L2 norm."""
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(F.col("vec_id").alias("id"), emb.alias("v")).withColumn(
        "n", _norm(F.col("v"))
    )


def _pair_sides(base: DataFrame) -> list[DataFrame]:
    """``_with_norms`` rows renamed to the a and b sides of a pair join."""
    return [
        base.select(F.col("id").alias(f"id_{s}"), F.col("v").alias(f"v_{s}"), F.col("n").alias(f"n_{s}"))
        for s in "ab"
    ]


def _cosine_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine_sim) of the joined sides' pairs whose cosine
    (one array pass: the norms are precomputed) reaches ``threshold``."""
    return pairs.select(
        "id_a",
        "id_b",
        (_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
        .cast("double")
        .alias("cosine_sim"),
    ).where(F.col("cosine_sim") >= threshold)


def cosine_topk(df: DataFrame, query_vec: list[float]) -> DataFrame:
    """Top-``TOP_K`` rows by cosine similarity to a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        df.select(
            F.col("vec_id").alias("id"),
            cosine(emb, q).cast("double").alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(TOP_K)
    )


def hyperplane_lsh_pairs(df: DataFrame) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= ``LSH_MIN_COSINE``): SRP
    buckets → candidate self-join → exact cosine verify. ``LSH_N_TABLES``
    independent sets of ``LSH_N_PLANES`` planes (seeded, over
    ``LSH_DIM``-dim vectors) trade recall for join fan-out.

    Plan shape (the banded-LSH pattern, same as MinHash): ALL tables'
    bucket ids are computed in one pass and exploded to slim
    (id, table, bucket) rows, so there is ONE candidate equi-join carrying
    two ids — vectors and norms are fetched by id joins only for the
    deduplicated candidate pairs. Wide rows never enter the self-join or
    the distinct."""
    dim, n_planes, n_tables = LSH_DIM, LSH_N_PLANES, LSH_N_TABLES  # the UDF ships these values
    rng = np.random.default_rng(42)
    # one (n_tables*n_planes, dim) matrix; same draw order as per-table calls
    planes = np.vstack([rng.standard_normal((n_planes, dim)) for _ in range(n_tables)])
    bit_weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def srp_buckets(emb: pd.Series) -> pd.Series:
        # Arrow-batched sign-random-projection: ONE BLAS matmul per batch
        # instead of n_tables*n_planes literal-array dot expressions (whose
        # codegen alone costs more than the data at any scale). NULL vectors
        # null-propagate (no buckets) instead of failing the task.
        mask, x = _stack_valid(emb, expected_dim=dim)
        out: list = [None] * len(mask)
        if len(x):
            signs = (x @ planes.T) > 0                              # (n, T*P)
            b = signs.reshape(len(x), n_tables, n_planes) @ bit_weights  # (n, T)
            b = b.astype(np.int64)
            for j, i in enumerate(np.flatnonzero(mask)):
                out[i] = b[j]
        return pd.Series(out)

    base = _with_norms(df)
    buckets = base.select(
        "id", F.posexplode(srp_buckets(F.col("v"))).alias("table", "bucket")
    )
    a = buckets.select(F.col("id").alias("id_a"), "table", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    va, vb = _pair_sides(base)
    return _cosine_at_least(cand.join(va, "id_a").join(vb, "id_b"), LSH_MIN_COSINE)


def ivf_training_sample(df: DataFrame, sample_mod: int, max_train_rows: int) -> DataFrame:
    """Deterministic, HARD-CAPPED training sample for the IVF quantizer.

    Keep-decision is an md5-threshold on the id (the q28 stratified-sampling
    trick): uniform, independent of any cluster/key structure in the ids
    (unlike ``id % sample_mod``, which biases the sample whenever ids encode
    cluster membership), and deterministic for a fixed corpus. The threshold
    targets ``min(1/sample_mod, 0.9·max_train_rows/n)`` of the corpus — the
    0.9 headroom makes the binomial sample exceed the cap only at >4σ — and
    ``limit(max_train_rows)`` is the hard backstop, so the driver NEVER
    receives more than ``max_train_rows`` vectors regardless of corpus size
    (the old uncapped ``id % sample_mod`` filter collected a fixed fraction:
    a guaranteed driver OOM at 10^12 rows).

    Costs one column-pruned count() of the corpus to size the threshold.
    """
    base = df.where(F.col("embedding").isNotNull())
    n = base.count()
    frac = min(1.0 / sample_mod, 0.9 * max_train_rows / max(n, 1))
    keep = hash_threshold_keep(F.col("vec_id"), frac)
    return base.where(keep).select("embedding").limit(max_train_rows)


def train_ivf_centroids(df: DataFrame) -> np.ndarray:
    """``IVF_N_CENTROIDS`` coarse-quantizer centroids for IVF: 10 Lloyd
    iterations on a deterministic hash-threshold sample of about 1 in
    ``IVF_SAMPLE_MOD`` rows, trained driver-side.

    The sample is HARD-BOUNDED by 256·n_centroids rows (standard IVF
    practice: the quantizer trains on a bounded sample; assignment is the
    distributed part). See ``ivf_training_sample`` for the bound guarantee.
    Deterministic: fixed sample, fixed init, fixed iteration count — unlike
    parallel k-means, whose result depends on partitioning.
    """
    n_centroids = IVF_N_CENTROIDS
    sample_rows = [
        np.asarray(r[0], dtype=np.float64)
        for r in ivf_training_sample(df, IVF_SAMPLE_MOD, 256 * n_centroids).collect()
    ]
    if len(sample_rows) < n_centroids:
        raise ValueError(
            f"IVF training sample has {len(sample_rows)} vectors < "
            f"IVF_N_CENTROIDS={n_centroids}; lower IVF_SAMPLE_MOD or IVF_N_CENTROIDS"
        )
    sample = np.vstack(sample_rows)
    # Farthest-point (max-min) seeding: fully deterministic given the sample
    # and spreads one seed per natural cluster, where a random draw routinely
    # drops several seeds into one dense cluster and leaves others unseeded —
    # Lloyd can't recover from that (it refines, it doesn't migrate seeds).
    chosen = [0]
    d2min = ((sample - sample[0]) ** 2).sum(1)
    for _i in range(1, n_centroids):
        nxt = int(d2min.argmax())
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((sample - sample[nxt]) ** 2).sum(1))
    cent = sample[chosen].copy()
    for _ in range(10):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(0)
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(id, v, cluster): nearest-centroid assignment via ONE Arrow-batched
    matmul per batch (argmin ||x−c||² = argmax x·c − ½|c|²)."""
    cent = np.asarray(centroids, dtype=np.float64)
    half_norms = 0.5 * (cent * cent).sum(1)

    @F.pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        mask, x = _stack_valid(emb, expected_dim=cent.shape[1])  # NULL → NULL cluster
        out = pd.array([pd.NA] * len(mask), dtype="Int32")
        if len(x):
            scores = x @ cent.T - half_norms
            out[mask] = scores.argmax(1).astype(np.int32)
        return pd.Series(out)

    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(
        F.col("vec_id").alias("id"), emb.alias("v")
    ).withColumn("cluster", assign(F.col("v")))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
) -> DataFrame:
    """IVF approximate top-``TOP_K``: probe only the ``IVF_NPROBE`` clusters
    nearest the query, brute-force cosine inside them. At scale the assignment is a
    write-once index column (partition/cluster-prune the scan); the probe
    filter is a pushed-down ``cluster IN (...)`` predicate, so the scan
    touches IVF_NPROBE/n_centroids of the data instead of all of it."""
    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    probe = np.argsort(((cent - q) ** 2).sum(1))[:IVF_NPROBE].tolist()
    assigned = ivf_assign(df, cent)
    cand = assigned.where(F.col("cluster").isin([int(p) for p in probe]))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return (
        cand.select(
            "id", cosine(F.col("v"), qcol).cast("double").alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(TOP_K)
    )


def brute_force_pairs(df: DataFrame) -> DataFrame:
    """O(n²) all-pairs cosine >= ``BRUTE_FORCE_MIN_COSINE`` — the exact
    baseline (LSH is the scale path).

    Norms are precomputed per vector BEFORE the join, so each pair costs one
    array pass (the dot product) instead of three.
    """
    a, b = _pair_sides(_with_norms(df))
    return _cosine_at_least(
        a.crossJoin(b).where(F.col("id_a") < F.col("id_b")), BRUTE_FORCE_MIN_COSINE
    )


def cosine_topk_batched(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Batch retrieval: exact cosine top-``BATCH_TOP_K`` PER QUERY VECTOR
    (query_id, id, rank, cosine_sim) — the evaluation-harness shape
    (recall@k sweeps, dedup-vs-eval probes) where ``cosine_topk``'s single
    constant vector doesn't fit.

    Plan shape: the query set is broadcast (eval batches are small); the
    corpus streams map-side through ONE BroadcastNestedLoopJoin scoring
    every (row, query) pair with JVM array math — norms precomputed per
    side BEFORE the join. Only narrow (query_id, id, score) rows reach the
    per-query rank shuffle. At extreme corpus scale insert a per-input-
    partition local top-k before the global rank (same two-phase shape as
    pack_sequences) or route through the IVF index (ivf_topk) instead of
    exact scoring.
    """
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = _with_norms(df)
    qs = queries.select(
        F.col("vec_id").alias("query_id"), emb.alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))

    scored = base.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "id",
        (_dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")))
        .cast("double")
        .alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BATCH_TOP_K)
        .select("query_id", "id", "rank", F.col("cos").alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# Q14/Q22 — similarity search
# ---------------------------------------------------------------------------

def q14_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    top = cosine_topk(emb, qvec)
    return top.select(F.col("id").alias("vec_id"), F.round("cosine_sim", 4).alias("cosine_sim"))


Q14_SQL = """
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
SELECT b.vec_id,
       ROUND(
         list_sum(list_transform(generate_series(1, len(b.embedding)),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         4) AS cosine_sim
FROM embeddings b, q
ORDER BY cosine_sim DESC, b.vec_id ASC
LIMIT 10
"""


def q22_vector_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition: the testdata table is one parquet file -> one scan task,
    # which would serialize the O(n^2) pair loop on a single core
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    p = brute_force_pairs(emb)
    return p.select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))


Q22_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(
         list_sum(list_transform(generate_series(1, len(a.embedding)),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         4) AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      >= 0.45
"""


# ---------------------------------------------------------------------------
# Q32 — SRP-LSH ANN pairs
# ---------------------------------------------------------------------------

def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic near-duplicate twins: every 10th vector
    gets a twin (id + 1_000_000) with odd-index components scaled by 0.95
    (cosine ≈ 0.9997 to its base; background pairs top out ≈ 0.66). The
    perturbation is plain arithmetic so the DuckDB oracle reproduces it.
    Repartitioned: the single-file testdata scan would otherwise serialize
    signature computation on one core."""
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twins = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i % 2 == 1, x.cast("double") * 0.95).otherwise(
                x.cast("double")
            ),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def q32_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs vector near-dup detection on the SCALE path: SRP/hyperplane
    LSH buckets → candidate equi-join → exact-cosine verify. The oracle is
    the brute-force SQL — a green row proves LSH output == exact at this
    threshold (recall 1.0 on the fixture), making q22 the baseline it
    claims to be."""
    aug = _augmented_embeddings(spark, sf_dir)
    p = hyperplane_lsh_pairs(aug)
    return p.select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))


Q32_SQL = """
WITH aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i % 2 = 0 THEN CAST(embedding[i] AS DOUBLE) * 0.95
                                  ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 0),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))
         / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
            * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS c
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(c, 4) AS cosine_sim FROM p WHERE c >= 0.9
"""


def _clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-cluster fixture for the IVF gate: vector i is scaled-down
    noise (×0.05) plus the one-hot-comb center of cluster (vec_id % 8) —
    component j gets +1.0 when j ≡ vec_id (mod 8). Centers are ~4.0 apart
    while the noise norm is ~0.4, so the corpus has the cluster structure
    real embedding corpora have (the structure-free raw fixture was the
    coarse quantizer's worst case). Plain arithmetic → the DuckDB oracle
    reproduces the corpus exactly."""
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    planted = F.transform(
        "embedding",
        lambda x, j: x.cast("double") * 0.05
        + F.when(j % 8 == F.col("vec_id") % 8, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return emb.select("vec_id", planted.alias("embedding"))


def q38_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the ANN scale path besides LSH):
    deterministic Lloyd-trained coarse quantizer → Arrow-batched cluster
    assignment → probe-limited brute force over nprobe=2 of 8 centroids
    (≤25% of the corpus scanned; selectivity plan-asserted in
    test_functions.test_ivf_probe_prunes_clusters). Oracle = the exact
    top-k SQL over the same planted-cluster corpus, so a green row proves
    recall 1.0 while the probe filter genuinely prunes — the round-2 gate
    probed 12/16 on structure-free vectors, which proved little.

    At scale the assignment is a write-once index column: the ``cluster IN
    (probe set)`` predicate partition/cluster-prunes the scan."""
    emb = _clustered_embeddings(spark, sf_dir)
    # the md5-threshold sampler is independent of the vec_id%8 cluster key
    # (the old id%sample_mod filter had to be coprime with it), and the
    # driver-side sample is hard-capped at 256·n_centroids vectors
    cent = train_ivf_centroids(emb)
    qvec = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    top = ivf_topk(emb, qvec, cent)
    return top.select(F.col("id").alias("vec_id"), F.round("cosine_sim", 4).alias("cosine_sim"))


Q38_SQL = """
WITH t AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(embedding)),
             j -> CAST(embedding[j] AS DOUBLE) * 0.05
                  + CASE WHEN (j - 1) % 8 = vec_id % 8 THEN 1.0 ELSE 0.0 END) AS e
  FROM embeddings),
q AS (SELECT e AS qe FROM t WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, len(e)), j -> e[j] * qe[j]))
         / (sqrt(list_sum(list_transform(e, x -> x * x)))
            * sqrt(list_sum(list_transform(qe, x -> x * x)))) AS c
  FROM t, q)
SELECT vec_id, ROUND(c, 4) AS cosine_sim
FROM scored ORDER BY c DESC, vec_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# q86: batched top-k retrieval
# --------------------------------------------------------------------------


def q86_batched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval gate: every 50th embedding is a query; exact cosine
    top-5 per query over the disjoint corpus. Broadcast query set, one
    map-side scoring join, per-query rank — ties broken by id so the row
    set is deterministic; ranking happens on RAW doubles (identical
    arithmetic both engines, proven by q14/q22), rounding only on output."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 7)
    corpus = emb.where(F.col("vec_id") % 50 != 7)
    out = cosine_topk_batched(corpus, queries)
    return out.select(
        "query_id",
        F.col("id").alias("vec_id"),
        "rank",
        F.round("cosine_sim", 4).alias("cosine_sim"),
    )


Q86_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS e FROM embeddings WHERE vec_id % 50 = 7),
c AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 7),
s AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(generate_series(1, len(c.embedding)),
                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cos
  FROM c, q),
r AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM s)
SELECT query_id, vec_id, CAST(rn AS INT) AS rank, ROUND(cos, 4) AS cosine_sim
FROM r WHERE rn <= 5
"""
