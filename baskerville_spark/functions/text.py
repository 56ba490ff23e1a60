"""Text analysis: token stats, quality scoring, language ID, fingerprinting.

All pure Column algebra (split/regexp/array built-ins) — whole-stage codegen
end to end, no Python in the hot path. The per-document operators read a
``doc_id`` and a ``text`` column and emit ``id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language stopword sets for the n-gram/stopword-overlap heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans", "que"],
    "es": ["el", "la", "los", "de", "y", "en", "es", "un", "una", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality metrics: token counts, ratios, mean word length.

    token_count_ws: whitespace tokens; token_count_bpe: BPE-ish regex pieces
    (word fragments of <=4 chars, digits, punctuation — a cheap stand-in for
    a real tokenizer's piece count).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chars = F.length(F.col("text"))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?'\"()\[\]{}-]", ""))
    n_digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    bpe_pieces = F.regexp_count(
        F.lower(F.col("text")), F.lit(r"[a-z0-9]{1,4}|[^a-z0-9\s]")
    )
    stop_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    low_toks = F.transform(toks, lambda t: F.lower(t))
    stop_ratio = F.size(F.array_intersect(F.array_distinct(low_toks), stop_en)) / F.greatest(
        F.size(F.array_distinct(low_toks)), F.lit(1)
    )
    return df.select(
        F.col("doc_id").alias("id"),
        F.size(toks).cast("long").alias("token_count_ws"),
        bpe_pieces.cast("long").alias("token_count_bpe"),
        n_chars.cast("long").alias("n_chars"),
        (n_alpha / F.greatest(n_chars, F.lit(1))).cast("double").alias("alpha_ratio"),
        (n_punct / F.greatest(n_chars, F.lit(1))).cast("double").alias("punct_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1))).cast("double").alias("digit_ratio"),
        (n_chars / F.greatest(F.size(toks), F.lit(1))).cast("double").alias("mean_token_len"),
        stop_ratio.cast("double").alias("stopword_ratio_en"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-overlap language ID: argmax over per-language hit counts.

    Counts occurrences (not distinct) of each language's stopwords among the
    tokens; ties broken by language code order for determinism.
    """
    toks = F.transform(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct orders by (hits, lang); invert lang for asc tie-break
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col("doc_id").alias("id"),
        best["lang"].alias("pred_lang"),
        best["hits"].cast("long").alias("lang_hits"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Canonical-form fingerprint: sorted distinct lowercase tokens → md5.

    The classic 'fingerprint clustering' key (lowercase, strip punctuation,
    sort-unique tokens, hash) — robust to token reordering and duplication.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " ")
    toks = F.filter(F.split(norm, r"\s+"), lambda t: t != "")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    return df.select(
        F.col("doc_id").alias("id"),
        F.md5(canon).alias("fingerprint"),
    )


def repetition_metrics(df):
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 repetition filters) — a standard LLM training-data quality
    gate the reference has no analogue for:

    - dup_token_frac  = 1 − |distinct tokens| / |tokens|
    - dup_2gram_frac  = 1 − |distinct 2-grams| / |2-grams|
    - top_2gram_frac  = occurrences of the most frequent 2-gram / |2-grams|

    The two *_frac ratios are pure array algebra (size/array_distinct —
    whole-stage codegen, zero explode, zero shuffle); only the top-2-gram
    share needs an explode + two aggregates, both map-side-combining on
    (doc, gram). Single-token docs emit 0.0 for the 2-gram metrics
    (nothing to repeat), matching the SQL oracle's coalesce.
    """
    from pyspark.sql import functions as F

    toks = F.split(F.lower(F.col("text")), r"\s+")
    k = F.size(toks) - 1
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        F.col("doc_id").alias("id"),
        toks.alias("toks"),
        grams.alias("grams"),
    )
    ratios = base.select(
        "id",
        (
            1.0 - F.size(F.array_distinct("toks")) / F.size("toks")
        ).alias("dup_token_frac"),
        F.when(
            F.size("grams") > 0,
            1.0 - F.size(F.array_distinct("grams")) / F.size("grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
    )
    top = (
        base.select("id", F.size("grams").alias("n_g"), F.explode_outer("grams").alias("g"))
        .groupBy("id", "n_g", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id", "n_g")
        .agg(F.max(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(0)).alias("top_c"))
        .select(
            "id",
            F.when(F.col("n_g") > 0, F.col("top_c") / F.col("n_g"))
            .otherwise(F.lit(0.0))
            .alias("top_2gram_frac"),
        )
    )
    return ratios.join(top, "id")


def char_entropy(df):
    """Per-document Shannon entropy (nats) of the character distribution
    — the CCNet-family quality signal that separates natural text
    (entropy ~ 2.5-3.2 nats over lowercase ASCII) from degenerate
    payloads: repeated filler collapses toward 0, base64/hex blobs and
    mojibake spike above it. Entirely JVM-side Column algebra: the text
    is exploded to characters ONCE, then two map-side-combining
    aggregates — no Python, no UDF, and the (doc, char) key space is
    bounded by |alphabet| per doc, so the shuffle is tiny regardless of
    document length. Empty/NULL texts emit 0.0.
    """
    from pyspark.sql import functions as F

    chars = df.select(
        F.col("doc_id").alias("id"),
        F.explode_outer(F.split(F.coalesce(F.col("text"), F.lit("")), "")).alias(
            "ch"
        ),
    ).where(F.col("ch") != "")
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    # -Σ (c/n)·ln(c/n) = ln n − (Σ c·ln c)/n: both sums land in ONE
    # aggregate, no per-id window pass
    ent = (
        counts.groupBy("id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log("c")).alias("s"),
        )
        .select("id", (F.log("n") - F.col("s") / F.col("n")).alias("entropy"))
    )
    ids = df.select(F.col("doc_id").alias("id")).distinct()
    return ids.join(ent, "id", "left").select(
        "id", F.coalesce("entropy", F.lit(0.0)).alias("entropy")
    )


_PII_PATTERNS = {
    # ordered most- to least-specific; each value is (regex, replacement)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
        "<IP>",
    ),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    "phone": (
        r"\b(?:\+?1[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b",
        "<PHONE>",
    ),
}


def pii_scrub(df):
    """PII detection + scrubbing — the redaction pass every
    training-data pipeline runs before release (emails, IPv4 addresses,
    SSN-shaped and US-phone-shaped numbers; the pattern set is the
    deliberately-conservative regex family — a production deployment
    swaps in its compliance team's patterns through ``_PII_PATTERNS``
    without touching the plan shape).

    Pure Column algebra: one ``regexp_count`` per pattern for the
    counts and a chained ``regexp_replace`` for the scrubbed text — all
    inside whole-stage codegen, zero Python, one projection, no
    shuffle at all. Emits (id, <kind>_count ..., pii_total, scrubbed).
    Replacement order is most-specific-first so an SSN is not half-eaten
    by the phone pattern.
    """
    from pyspark.sql import functions as F

    text = F.coalesce(F.col("text"), F.lit(""))
    counts = [
        F.regexp_count(text, F.lit(rx)).alias(f"{kind}_count")
        for kind, (rx, _) in _PII_PATTERNS.items()
    ]
    scrubbed = text
    for rx, repl in _PII_PATTERNS.values():
        scrubbed = F.regexp_replace(scrubbed, rx, repl)
    out = df.select(F.col("doc_id").alias("id"), *counts, scrubbed.alias("scrubbed"))
    total = sum(
        (F.col(f"{k}_count") for k in _PII_PATTERNS), F.lit(0)
    )
    return out.withColumn("pii_total", total)


#: tokens ``vocab_top_tokens`` keeps
VOCAB_SIZE = 500


def vocab_top_tokens(df: DataFrame) -> DataFrame:
    """Top-``VOCAB_SIZE`` tokens by corpus frequency (ties broken by token
    order for determinism): (token, cnt, rank).

    Scale: explode -> ONE count aggregate (map-side combine absorbs token
    skew: each task emits at most |local vocab| partial counts regardless
    of how hot a token is) -> orderBy+limit, which Spark executes as
    per-partition TakeOrdered + driver merge of VOCAB_SIZE rows — no
    global sort shuffle.
    """
    toks = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    counts = (
        df.select(toks)
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_SIZE)
        .withColumn("rank", F.row_number().over(w))
    )


def oov_rate(df: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-document out-of-vocabulary rate against a (token, ...) vocab
    frame: (id, n_tokens, n_oov, oov_ratio).

    The vocab is broadcast (it is vocab_size rows by construction); tokens
    stream map-side through the broadcast left join, and the only shuffle
    is the per-doc count — the tokenizer-coverage audit run before
    committing to a vocab.
    """
    toks = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    exploded = df.select(F.col("doc_id").alias("id"), toks).where(F.col("token") != "")
    marked = exploded.join(
        F.broadcast(vocab.select("token").withColumn("__in_v", F.lit(1))),
        "token",
        "left",
    )
    return marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.isnull("__in_v").cast("long")).alias("n_oov"),
        F.round(
            F.sum(F.isnull("__in_v").cast("long")) / F.count(F.lit(1)), 6
        ).alias("oov_ratio"),
    )


ZIPF_TOP_K = 500  # most frequent tokens ``zipf_fit`` fits


def zipf_fit(df: DataFrame, text_col: str) -> DataFrame:
    """Zipf power-law fit over the corpus token-frequency curve: OLS of
    ln(freq) on ln(rank) over the ``ZIPF_TOP_K`` most frequent tokens
    (whitespace tokens of lower(trim(text)), the q80 vocab convention;
    ties ranked deterministically by (count DESC, token ASC)).

    One row out: ``(n_ranked, slope, intercept, r2)``. A healthy natural
    corpus fits ln f ≈ c − s·ln r with s ≈ 1 and high r² (Zipf's law);
    the fit degrades in ways each tail of the pipeline can cause —
    boilerplate/template floods flatten the head (s ≪ 1), broken dedup
    inflates it (s ≫ 1), and a low r² flags a mixture of mismatched
    sources — making this the one-number corpus-health screen next to
    the per-document quality features (quality_features) and the
    vocabulary audit (vocab_oov).

    Scale: the ONLY full-data pass is explode→groupBy(token) with
    map-side partial aggregation; the rank window runs AFTER a
    TakeOrdered-style ``orderBy().limit(ZIPF_TOP_K)``, so it orders a
    frame bounded by ``ZIPF_TOP_K``, never the vocabulary. The OLS sums
    are one aggregate over those rows.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = df.select(F.explode(toks).alias("token")).where(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.withColumn("r", F.row_number().over(w))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x > 0, cov_n / var_x)
    intercept = F.when(var_x > 0, (sy - (cov_n / var_x) * sx) / n)
    r2 = F.when((var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y))
    return s.select(
        n.cast("long").alias("n_ranked"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
