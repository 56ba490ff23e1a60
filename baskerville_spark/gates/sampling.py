"""Deterministic hash-threshold sampling — the shared keep-predicate.

The q28 stratified-sampling trick generalized: an md5 bucket of the id is
uniform over [0, 1e6) and independent of any structure the ids encode
(unlike ``id % k``, which biases the sample whenever ids encode cluster or
partition membership), so ``bucket < frac*1e6`` keeps a deterministic,
reproducible ~``frac`` of the rows with no RNG and no extra shuffle.

Single source of truth for the expression: ``gates/iforest.training_sample``
and ``gates/similarity.ivf_training_sample`` both build their HARD-
capped driver samples from this predicate (cap = 0.9-headroom threshold +
``limit`` backstop); keeping one copy means their documented "same bound
contract" cannot silently diverge (round-4 review).

Reference seam: the reference samples with seeded ``F.rand`` / ``sampleBy``
(spark/helpers.py:232-234, tasks.py:1493-1499) — engine-private draws the
DuckDB oracle cannot replay; the hash threshold is the oracle-checkable
equivalent (q28, q38, q55 all ride it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

#: bucket space for the keep threshold; 1e6 gives ppm granularity
N_BUCKETS = 1_000_000


def hash_bucket(id_expr: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Uniform deterministic bucket in [0, n_buckets) from an id column:
    md5 → first 15 hex digits (60 bits, within bigint) → pmod."""
    return F.pmod(
        F.conv(F.substring(F.md5(id_expr.cast("string")), 1, 15), 16, 10)
        .cast("bigint"),
        F.lit(n_buckets),
    )


def hash_threshold_keep(id_expr: Column, frac: float) -> Column:
    """Keep-predicate selecting ~``frac`` of rows deterministically.

    The +1 rounds the threshold UP so frac>0 never selects zero buckets;
    callers that must bound the absolute sample size add their own
    ``limit`` backstop after this filter.
    """
    return hash_bucket(id_expr) < F.lit(int(frac * N_BUCKETS) + 1)


def mixture_sample(df, target_weights: dict[str, float]):
    """Downsample to a target ``source`` mixture WITHOUT upsampling — the
    pretraining domain-rebalancing pass (e.g. "make the mix 40% web /
    25% books / ..."): find the largest total T achievable given each
    group's population (T = min_g n_g / w_g), then keep each group at
    rate_g = w_g * T / n_g via the deterministic hash-threshold predicate.

    Scale: ONE tiny groupBy(group) count (the only shuffle; group
    cardinality ~ dozens of domains), rates computed driver-side from
    those few rows, then a pure map-side filter over the corpus — no
    second shuffle, no RNG, reproducible across engines and
    partitionings. Groups absent from ``target_weights`` are dropped
    (their target share is zero).
    """
    counts = {
        r[0]: r[1] for r in df.groupBy("source").count().collect()
    }
    present = {g: w for g, w in target_weights.items() if counts.get(g)}
    if not present:
        raise ValueError("no target group present in the data")
    total = min(counts[g] / w for g, w in present.items())
    thr_map = {
        g: int(((w * total) / counts[g]) * N_BUCKETS) + 1
        for g, w in present.items()
    }
    thr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(thr_map.items()) for x in kv]),
        F.col("source"),
    )
    return df.where(hash_bucket(F.col("doc_id")) < thr)


def train_val_test_split() -> Column:
    """80/10/10 train/val/test assignment column: deterministic,
    engine-portable (the md5 hash_bucket variate over 1000 buckets),
    disjoint and exhaustive by construction — the cumulative thresholds
    800 and 900 carve [0, 1000) into one interval per split. A pure
    map-side expression over ``doc_id`` alone (no DataFrame parameter —
    nothing else feeds the assignment): no shuffle, no state, stable across
    runs/partitionings/engines, so a doc can never leak between train and
    eval splits when the corpus is re-processed."""
    b = hash_bucket(F.col("doc_id"), 1000)
    return (
        F.when(b < F.lit(800), F.lit("train"))
        .when(b < F.lit(900), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split")
    )


def select_within_token_budget(
    df,
    id_col: str,
    tokens_col: str,
    budget: int,
    priority_col: str,
):
    """Greedy prefix selection under a global token budget: order the
    corpus by ``(priority_col ASC, id_col ASC)`` (deterministic — ties
    broken by id) and mark each document ``selected`` while the running
    token total stays within ``budget`` (standard training-mix
    composition: "the best documents up to N tokens"; pass a quality
    score, a sampling hash like md5(id) for an unbiased shuffle, or a
    domain weight as the priority).

    Output: every input row with ``cum_tokens`` (running total INCLUDING
    the row, exact bigint) and ``selected`` (cum_tokens <= budget — the
    greedy prefix, never a partially-counted document).

    Scale: the global running sum is the packing.py two-phase form —
    ONE job over a range exchange on the (priority, id) sort key collects
    per-block token totals and per-block max sort keys; block membership
    of the returned frame is then a deterministic function of the row's
    own key compared against the collected COMPOSITE bounds (struct
    comparison in Column algebra), so the returned plan never re-runs a
    possibly differently-sampled range exchange. The only per-row state
    is a within-block window cumsum — no single-task global window, no
    driver-side data beyond P (parallelism) bound rows.
    """
    base = df.withColumn("__pri", F.col(priority_col)).withColumn(
        "__tok", F.col(tokens_col).cast("long")
    )
    n_blocks = base.sparkSession.sparkContext.defaultParallelism
    ranged = base.repartitionByRange(
        n_blocks, F.col("__pri").asc(), F.col(id_col).asc()
    ).withColumn("__block", F.spark_partition_id())
    stats = sorted(
        ranged.groupBy("__block")
        .agg(
            F.sum("__tok").alias("t"),
            F.max(F.struct(F.col("__pri"), F.col(id_col).alias("__id"))).alias(
                "mx"
            ),
        )
        .collect(),
        key=lambda r: r["__block"],
    )
    # a block's offset is the SQL SUM of every earlier block: NULL while
    # all earlier tokens are NULL (a block's own sum is NULL iff all its
    # tokens are)
    offsets: list[int | None] = []
    acc = None
    for r in stats:
        offsets.append(acc)
        if r["t"] is not None:
            acc = (acc or 0) + int(r["t"])
    bounds = [r["mx"] for r in stats[:-1]]
    if bounds:
        barr = F.array(
            *[
                F.struct(
                    F.lit(b["__pri"]).alias("__pri"),
                    F.lit(b["__id"]).alias("__id"),
                )
                for b in bounds
            ]
        )
        row_key = F.struct(
            F.col("__pri").alias("__pri"), F.col(id_col).alias("__id")
        )
        # structs compare lexicographically: #bounds strictly below this
        # row's key IS its block index (same law as packing.py's scalar
        # bounds, lifted to the composite sort key)
        block = F.size(F.filter(barr, lambda b: b < row_key))
    else:
        block = F.lit(0)
    off = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for i, o in enumerate(offsets) for x in (i, o)]
            ),
            block,
        ).cast("long")
        if offsets
        else F.lit(None).cast("long")
    )
    w = (
        Window.partitionBy("__block")
        .orderBy(F.col("__pri").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        base.withColumn("__block", block)
        # SUM OVER (ROWS UNBOUNDED PRECEDING) across blocks: NULL only when
        # both the earlier blocks and this block's prefix are all NULL
        .withColumn("__in", F.sum("__tok").over(w))
        .withColumn(
            "cum_tokens", F.coalesce(off + F.col("__in"), off, F.col("__in"))
        )
        .withColumn("selected", F.col("cum_tokens") <= F.lit(int(budget)))
        .drop("__pri", "__tok", "__block", "__in")
    )
    return out


#: per-stratum sampling fractions as hex-byte thresholds over md5(event_id):
#: a row is sampled when the first two hex chars of its md5 are < threshold
#: (n/256 resolution). md5 is identical across engines, so the "random"
#: variate is deterministic and the DuckDB oracle reproduces the exact
#: sample — unlike seedful sampleBy, whose Bernoulli draw is engine-private
#: (sampleBy itself stays demonstrated in test_checks.py).
SAMPLE_THRESHOLDS = {
    "click": "40",     # 64/256  = 0.25
    "view": "19",      # 25/256  ≈ 0.10
    "purchase": "80",  # 128/256 = 0.50
    "signup": "33",    # 51/256  ≈ 0.20
    "error": "0c",     # 12/256  ≈ 0.05
}


def q28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling (the oracle-checkable
    form of the reference's sampleBy, tasks.py:1486-1499): md5(event_id) is
    the uniform variate; each stratum keeps rows under its hex threshold.
    Scale: a pure map-side filter — no shuffle, no state, reproducible
    across engines, runs, and partitionings (sampleBy's seed is only stable
    for a fixed partitioning)."""
    e = _t(spark, sf_dir, "events")
    thr = F.create_map(
        *[F.lit(x) for kv in SAMPLE_THRESHOLDS.items() for x in kv]
    )
    variate = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    return (
        e.where(variate < F.element_at(thr, F.col("event_type")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


def _q28_sql() -> str:
    cases = " ".join(
        f"WHEN '{t}' THEN '{h}'" for t, h in SAMPLE_THRESHOLDS.items()
    )
    return f"""
SELECT event_type, COUNT(*) AS n_sampled
FROM events
WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2)
      < (CASE event_type {cases} END)
GROUP BY event_type
"""


Q28_SQL = _q28_sql()


# --------------------------------------------------------------------------
# q78: domain-mixture rebalancing sample
# --------------------------------------------------------------------------

_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.25, "src2": 0.2, "src3": 0.1, "src4": 0.05}


def q78_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining domain rebalancing: downsample `documents` to the target
    source mixture (40/25/20/10/5) without upsampling — T = min_g n_g/w_g,
    per-group deterministic md5-threshold keep (``mixture_sample``).
    ONE tiny group-count shuffle + a map-side filter; the oracle recomputes
    the group counts, the same IEEE-double rates, and the same 60-bit md5
    bucket, so the exact sampled row SET is under the hash."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample(d, _MIX_WEIGHTS)


def _q78_sql() -> str:
    vals = ", ".join(
        f"('{g}', CAST({w} AS DOUBLE))" for g, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(source, w) AS (VALUES {vals}),
n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT MIN(n.n / w.w) AS total FROM n JOIN w USING (source)),
thr AS (
  SELECT n.source,
         CAST(floor(((w.w * t.total) / n.n) * 1000000) AS BIGINT) + 1 AS thr
  FROM n JOIN w USING (source), t)
SELECT d.doc_id, d.source
FROM documents d JOIN thr USING (source)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
      < thr.thr
"""


Q78_SQL = _q78_sql()


def q100_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split gate: the full (doc_id -> train/val/test) assignment is under
    the hash — deterministic md5-bucket thresholds (80/10/10), disjoint
    and exhaustive by construction, reproducible across engines and
    repartitionings (the leak-proofness property seedful randomSplit lacks)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", train_val_test_split())


Q100_SQL = """
SELECT doc_id,
       CASE WHEN b < 800 THEN 'train'
            WHEN b < 900 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS b
  FROM documents)
"""


# --------------------------------------------------------------------------
# q140: budget-constrained corpus selection — "the greedy prefix of the
# corpus, in priority order, up to N tokens" (training-mix composition).
# Priority here is md5(doc_id) — an unbiased deterministic shuffle both
# engines spell identically (lowercase hex of the decimal string) — and
# the running total is the packing.py two-phase distributed prefix sum
# lifted to a COMPOSITE (priority, id) sort key: per-block totals + max
# struct bounds collected in ONE job, block membership re-derived from
# the row's own key (struct comparison), within-block window cumsum.
# cum_tokens is exact bigint; selected = cum_tokens <= budget. Oracle:
# one SQL cumulative window over the identical ordering.
# --------------------------------------------------------------------------


def q140_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != "",
        )
    )
    base = docs.select(
        "doc_id",
        toks.cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("pri"),
    )
    out = select_within_token_budget(
        base, "doc_id", "n_tokens", budget=20000, priority_col="pri"
    )
    return out.select("doc_id", "n_tokens", "cum_tokens", "selected")


Q140_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS pri
  FROM documents)
SELECT doc_id,
       n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY pri ASC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       SUM(n_tokens) OVER (ORDER BY pri ASC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 20000
         AS selected
FROM t
"""
