"""Sequence packing: assign documents to fixed-size context-window bins.

Pretraining pipelines concatenate documents (in a deterministic order) into
one token stream and cut it into fixed-length context windows; each document
is attributed to the window where it STARTS. That attribution is a global
prefix sum over token counts — trivial in one process, but the naive Spark
form (``Window.orderBy(id)`` with no partitionBy) coalesces the whole table
into ONE task, which is exactly the kind of plan that works at 60k rows and
dies at 100 TB.

``pack_sequences`` implements the classic two-phase distributed prefix sum:

1. ``repartitionByRange(id)`` gives contiguous, ordered id blocks (range
   partition i holds strictly smaller ids than partition i+1 — the same
   layout a sorted Iceberg table already has, in which case the shuffle is
   free).
2. ONE tiny aggregate computes per-block token totals (P rows, P = number
   of range partitions) which the driver cumulates into per-block start
   offsets — O(P) driver work, bounded by parallelism, never by data.
3. The offsets re-enter the plan as a literal map keyed on the range
   partition id; the within-block running sum is a per-partition window
   (partitionBy block), so no task ever sees more than one block.

Token counting is whitespace tokens of ``text`` (`F.split(trim, '\\s+')`)
— identical to quality_features' token_count_ws; documents are keyed by
``doc_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t

BIN_TOKENS = 512  # context-window length of ``pack_sequences``
CHUNK_TOKENS = 100  # window length of ``chunk_documents``
CHUNK_STRIDE = 80  # tokens between consecutive chunk starts


def pack_sequences(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, start_offset, bin_id): the context window each
    doc starts in when docs are concatenated in ``doc_id`` order and split
    every ``BIN_TOKENS`` tokens.

    ``n_tokens`` counts the whitespace tokens of ``text``. Ids must be
    unique (they are the concatenation order). The ids are range-split
    into P = default-parallelism blocks; the literal offset map holds
    P entries — fine into the thousands; beyond that, broadcast-join a tiny
    (block, offset) frame instead (same plan shape).
    """
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    base = df.select(F.col("doc_id").alias("id"), tok.cast("long").alias("n_tokens"))
    ranged = (
        base.repartitionByRange(base.sparkSession.sparkContext.defaultParallelism, "id")
        .withColumn("block", F.spark_partition_id())
    )
    # phase 1: ONE job over the range exchange collects per-block totals AND
    # per-block id upper bounds (P rows; bounded by parallelism, not data).
    # RangePartitioner derives its sample seed from the RDD id, which differs
    # per compiled plan — so at scale (partial sampling) running the exchange
    # a second time for the returned frame could put a row near a boundary in
    # a DIFFERENT block than the one whose offset it was credited to,
    # silently corrupting start_offset (round-4 advisor finding). The
    # collected max_id bounds make block membership a deterministic function
    # of id, so the returned frame never re-runs the range exchange at all.
    stats = sorted(
        ranged.groupBy("block")
        .agg(F.sum("n_tokens").alias("t"), F.max("id").alias("max_id"))
        .collect(),
        key=lambda r: r["block"],
    )
    if not stats:
        return base.select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.lit(0).cast("bigint").alias("start_offset"),
            F.lit(0).cast("bigint").alias("bin_id"),
        )
    offsets: list[int] = []
    acc = 0
    for r in stats:
        offsets.append(acc)
        acc += int(r["t"] or 0)
    # block = number of collected block-max bounds strictly below this id —
    # O(P) codegen work per row with P = parallelism; past a few thousand
    # blocks, broadcast-join a tiny (block, offset) frame instead.
    bounds = [r["max_id"] for r in stats[:-1]]
    if bounds:
        block = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda b: b < F.col("id"),
            )
        )
    else:
        block = F.lit(0)
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for i, o in enumerate(offsets) for x in (i, o)]
        ),
        F.col("block"),
    )
    # phase 2: within-block running sum — partitioned window (hash shuffle
    # on block, the only exchange in the returned plan), no global sort
    w = (
        Window.partitionBy("block")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (off + F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    return base.withColumn("block", block).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / F.lit(BIN_TOKENS)).cast("bigint").alias("bin_id"),
    )


def packed_bin_summary(packed: DataFrame) -> DataFrame:
    """Per-bin rollup of ``pack_sequences`` output: doc count, token mass,
    id span — the shape a packing job reports for mix auditing."""
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def chunk_documents(df: DataFrame) -> DataFrame:
    """Sliding-window chunking: split each document into token windows of
    ``CHUNK_TOKENS`` starting every ``CHUNK_STRIDE`` tokens (overlapping)
    — the RAG / long-document preprocessing step.

    Pure Column algebra: split -> sequence of starts -> posexplode ->
    slice; one narrow projection, no shuffle, whole-stage codegen
    end-to-end. The chunk text is re-joined with single spaces (the
    tokenizer's inverse for whitespace tokens); chunk_md5 fingerprints it
    so content — not just counts — is under any downstream comparison.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("__toks"), F.col("start_tok") + 1, CHUNK_TOKENS)
    return (
        df.select(
            "doc_id",
            toks.alias("__toks"),
            n.alias("__n"),
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            F.least(F.lit(CHUNK_TOKENS), F.col("__n") - F.col("start_tok"))
            .cast("int")
            .alias("n_tokens_chunk"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
    )


def q77_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: concatenate docs in doc_id order, cut every
    512 tokens, report per-bin doc count / token mass / id span. The global
    prefix sum is the two-phase distributed form (range partition -> P-row
    block-total agg -> literal offset map -> per-block window): no
    single-task global Window.orderBy — see ``pack_sequences``."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return packed_bin_summary(pack_sequences(d))


Q77_SQL = """
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_offset
  FROM t)
SELECT CAST(start_offset // 512 AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# q79: document chunking
# --------------------------------------------------------------------------


def q79_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (100-token windows every 80 tokens): the
    RAG / long-doc preprocessing split. Pure Column algebra (split ->
    sequence -> posexplode -> slice), no shuffle; chunk content is under
    the hash via md5 of the re-joined window."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d)


Q79_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(0, greatest(len(toks) - 1, 0), 80)) AS start_tok
  FROM t)
SELECT doc_id,
       CAST(start_tok // 80 AS INT) AS chunk_idx,
       CAST(start_tok AS INT) AS start_tok,
       CAST(least(100, n - start_tok) AS INT) AS n_tokens_chunk,
       md5(array_to_string(toks[start_tok + 1 : start_tok + 100], ' ')) AS chunk_md5
FROM s
"""
