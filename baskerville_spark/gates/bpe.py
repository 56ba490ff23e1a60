"""Distributed BPE merge training — the tokenizer-training step.

Reference seam: Baskerville has no tokenizer machinery (its text ops are
request-URL features); this is a from-scratch extension for the
training-data brief (the brief's "BPE-ish" token counting is the
INFERENCE side, gates/text.py — this is the TRAINING side that
produces the merge table those tokenizers run).

Shape (the one real BPE trainers use, distributed): the corpus collapses
to a WORD-FREQUENCY table in one pass (explode + groupBy — at 100 TB the
distinct-word table is ~10^8 rows, thousands of times smaller than the
corpus, and the corpus is never touched again). Each merge round is then:

1. one aggregate over the word table — adjacent-symbol pairs via
   zip_with(slice, slice) weighted by word count, summed map-side; the
   argmax row (ONE row) comes to the driver (bounded collect, like the
   IForest model — the merge list IS the model);
2. one pure-Column rewrite — ``F.aggregate``'s fold applies the merge
   leftmost-non-overlapping per word (no Python in the path), prefiltered
   by array_contains so untouched words skip the fold.

Rounds checkpoint through the same ``_Ckpt`` protocol as the connected-
components loops (runtime/checkpoint.py): persist-before-checkpoint,
superseded files deleted, lineage truncated — n_merges=32k rounds must not build a 32k-step
plan. Words that shrink to one symbol stop producing pairs, and training
stops when the best pair occurs only once (noise, not a merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark.runtime.checkpoint import _Ckpt

MERGES_SCHEMA = "merge_rank int, lsym string, rsym string, pair_count long"


def word_frequencies(docs: DataFrame) -> DataFrame:
    """(sym: array<string> of characters, cnt) per distinct whitespace word."""
    return (
        docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            # split-on-lookahead leaves a trailing "" element — drop it
            F.filter(
                F.split("w", "(?!^)"), lambda x: x != F.lit("")
            ).alias("sym"),
            "cnt",
        )
    )


def _apply_merge(words: DataFrame, l: str, r: str) -> DataFrame:
    """Rewrite each word's symbol array with (l, r) → l+r, leftmost-first
    non-overlapping (the fold re-reads its own output, so 'aaa' under
    (a,a) becomes [aa, a], not [aa, aa])."""
    fold = F.aggregate(
        "sym",
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (x == F.lit(r)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(l + r))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    touched = F.array_contains("sym", l) & F.array_contains("sym", r)
    return words.select(
        F.when(touched, fold).otherwise(F.col("sym")).alias("sym"), "cnt"
    )


def train_bpe_merges(docs: DataFrame, n_merges: int) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges; returns (merge_rank, lsym,
    rsym, pair_count), deterministic: pair count desc, then (lsym, rsym)
    lexicographic on ties."""
    spark = docs.sparkSession
    ckpt = _Ckpt()
    words = ckpt(word_frequencies(docs))
    merges: list[tuple[int, str, str, int]] = []
    pending = False
    for rank in range(1, n_merges + 1):
        pairs = (
            words.where(F.size("sym") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "zip_with(slice(sym, 1, size(sym) - 1),"
                        " slice(sym, 2, size(sym) - 1),"
                        " (l, r) -> struct(l, r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.desc("total"), F.asc("l"), F.asc("r"))
        )
        best = pairs.first()  # the action that materializes this round
        if pending:
            ckpt.committed(words)
            pending = False
        if best is None or best["total"] < 2:
            break
        l, r, total = best["l"], best["r"], int(best["total"])
        merges.append((rank, l, r, total))
        if rank < n_merges:  # the last merge never needs applying
            words = ckpt.lazy(_apply_merge(words, l, r))
            pending = True
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def apply_bpe(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Tokenize with a trained merge table (the inference side of
    :func:`train_bpe_merges`; gates/text.py's token_count_bpe is the
    regex APPROXIMATION — this is the real thing).

    The merge list is a model, not data: bounded by n_merges (32k for a
    GPT-2-class vocab, ~1 MB), collected once and broadcast inside an
    Arrow-batched pandas UDF that applies merges per word in rank order —
    the standard tokenizer hot loop, genuinely per-row compute (like
    decode), so the one sanctioned Python path. Word-level results are
    memoized per batch (Zipf makes the hit rate high). Appends
    ``bpe_tokens`` (array<string>) tokenizing the ``text`` column;
    whitespace splitting mirrors word_frequencies.
    """
    ranked = [
        (r["lsym"], r["rsym"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    rank_of = {pair: i for i, pair in enumerate(ranked)}
    docs_schema = docs.schema

    out_schema = T.StructType(
        docs_schema.fields
        + [T.StructField("bpe_tokens", T.ArrayType(T.StringType()), True)]
    )

    def _tok(batches):
        cache: dict[str, list[str]] = {}

        def word_tokens(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            sym = list(w)
            while len(sym) >= 2:
                # lowest-rank adjacent pair present, leftmost occurrence
                best_rank, best_i = None, None
                for i in range(len(sym) - 1):
                    rk = rank_of.get((sym[i], sym[i + 1]))
                    if rk is not None and (best_rank is None or rk < best_rank):
                        best_rank, best_i = rk, i
                if best_i is None:
                    break
                sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
            cache[w] = sym
            return sym

        for pdf in batches:
            toks = [
                None
                if t is None
                else [s for w in t.split() for s in word_tokens(w)]
                for t in pdf["text"]
            ]
            pdf["bpe_tokens"] = toks
            yield pdf

    return docs.mapInPandas(_tok, schema=out_schema)


# --------------------------------------------------------------------------
# q114: distributed BPE merge training — the tokenizer-TRAINING step
# (``train_bpe_merges``): corpus → word-frequency table once, then per round
# one pair aggregate + one pure-Column fold rewrite, _Ckpt-truncated.
# --------------------------------------------------------------------------


def q114_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE gate: 12 planted two-letter words over DISJOINT alphabets with
    strictly decreasing frequencies (word j = chr(97+2j)chr(97+2j+1)
    repeated 100−4j times) — merges must come out in exact frequency
    order with exact pair counts; merged words collapse to one symbol and
    stop producing pairs, so ranks never interfere."""
    docs = spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.array_repeat(
                F.concat(
                    F.char(97 + F.col("id") * 2),
                    F.char(97 + F.col("id") * 2 + 1),
                ),
                (100 - F.col("id").cast("int") * 4),
            ),
            " ",
        ).alias("text"),
    )
    return train_bpe_merges(docs, n_merges=12)


Q114_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 11)) AS j)
SELECT CAST(j + 1 AS INT) AS merge_rank,
       chr(CAST(97 + 2 * j AS INT)) AS lsym,
       chr(CAST(97 + 2 * j + 1 AS INT)) AS rsym,
       CAST(100 - 4 * j AS BIGINT) AS pair_count
FROM idx
"""


# --------------------------------------------------------------------------
# q115: BPE apply — tokenize with the trained merge table (train→apply
# loop closed; the regex token_count_bpe of gates/text.py is the
# approximation, this is the real rank-priority tokenizer).
# --------------------------------------------------------------------------


def q115_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on the q114 corpus (12 disjoint pairs, strictly ordered
    frequencies) + one rare word 'zq' whose pair count (2) never wins a
    round — then tokenize: trained words collapse to ONE token each
    (n_tokens = repeat count), the untrained word stays characters
    (2 tokens per occurrence)."""
    docs = spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.array_repeat(
                F.concat(
                    F.char(97 + F.col("id") * 2),
                    F.char(97 + F.col("id") * 2 + 1),
                ),
                (100 - F.col("id").cast("int") * 4),
            ),
            " ",
        ).alias("text"),
    ).unionByName(
        spark.createDataFrame([(12, "zq zq")], "doc_id long, text string")
    )
    merges = train_bpe_merges(docs, n_merges=12)
    toks = apply_bpe(docs, merges)
    return toks.select(
        "doc_id",
        F.size("bpe_tokens").alias("n_tokens"),
        F.element_at("bpe_tokens", 1).alias("first_token"),
    )


Q115_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 11)) AS j)
SELECT CAST(j AS BIGINT) AS doc_id,
       CAST(100 - 4 * j AS INT) AS n_tokens,
       chr(CAST(97 + 2 * j AS INT)) || chr(CAST(97 + 2 * j + 1 AS INT))
         AS first_token
FROM idx
UNION ALL
SELECT 12, 4, 'z'
"""
