"""Text analysis: token stats, quality scoring, language ID, fingerprinting.

All pure Column algebra (split/regexp/array built-ins) — whole-stage codegen
end to end, no Python in the hot path. The per-document operators read a
``doc_id`` and a ``text`` column and emit ``id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _scan_par, _t

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


# ---------------------------------------------------------------------------
# Q11-Q13 — text analysis
# ---------------------------------------------------------------------------

def q11_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return fingerprint(d).select(F.col("id").alias("doc_id"), "fingerprint")


Q11_SQL = """
SELECT doc_id,
       md5(array_to_string(
         list_sort(list_distinct(
           list_filter(
             string_split_regex(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
             x -> x <> ''))),
         ' ')) AS fingerprint
FROM documents
"""


def q12_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    q = quality_features(d)
    return q.select(
        F.col("id").alias("doc_id"),
        "token_count_ws",
        "token_count_bpe",
        "n_chars",
        F.round("alpha_ratio", 4).alias("alpha_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("stopword_ratio_en", 4).alias("stopword_ratio_en"),
    )


Q12_SQL = """
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(text) AS n_chars
  FROM documents)
SELECT doc_id,
       len(toks) AS token_count_ws,
       len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}|[^a-z0-9\\s]')) AS token_count_bpe,
       n_chars,
       ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
       ROUND(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(n_chars, 1), 4) AS digit_ratio,
       ROUND(n_chars * 1.0 / greatest(len(toks), 1), 4) AS mean_token_len,
       ROUND(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                                ['the','and','of','to','a','in','is','it','that','was'])) * 1.0
             / greatest(len(list_distinct(list_transform(toks, x -> lower(x)))), 1), 4)
         AS stopword_ratio_en
FROM t
"""


def q13_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return lang_id(d).select(F.col("id").alias("doc_id"), "pred_lang", "lang_hits")


def _langid_sql() -> str:
    score = {
        lang: (
            "len(list_filter(string_split_regex(lower(text), '\\s+'), "
            f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS[lang])}], x)))"
        )
        for lang in STOPWORDS
    }
    langs_desc = sorted(STOPWORDS, reverse=True)  # matches Spark struct-max tie-break
    cases = []
    for i, lang in enumerate(langs_desc):
        others = langs_desc[i + 1 :]
        if others:
            cond = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
            cases.append(f"WHEN {cond} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in sorted(STOPWORDS)) + ")"
    scores_sql = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
WITH s AS (SELECT doc_id, {scores_sql} FROM documents)
SELECT doc_id, {case_sql} AS pred_lang, {greatest} AS lang_hits FROM s
"""


Q13_SQL = _langid_sql()


def q52_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: top-20 whitespace tokens by document
    frequency — the vocabulary/stop-word probe every text pipeline runs
    before filtering. explode(split) → one hash aggregate (map-side
    combined: token counts are algebraic, immune to hot tokens) →
    TakeOrdered 20 with a deterministic (count desc, token asc) tie-break;
    no global sort materializes."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


Q52_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q71 — Gopher-style repetition quality metrics
#       (repetition_metrics)
# ---------------------------------------------------------------------------

def q71_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition signals over documents plus a planted
    pathological tail: every 8th doc is cloned (+800000) with its first
    4 words repeated 10 times appended — driving all three metrics up in
    a way the oracle recomputes exactly. The *_frac ratios are pure
    array algebra (no explode); only top_2gram_frac pays an explode +
    two map-side-combining aggregates."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = F.array_join(
        F.flatten(
            F.array_repeat(F.slice(F.split(F.col("text"), "\\s+"), 1, 4), 10)
        ),
        " ",
    )
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 8 == 0).select(
            (F.col("doc_id") + 800_000).alias("doc_id"),
            F.concat("text", F.lit(" "), rep).alias("text"),
        )
    )
    m = repetition_metrics(corpus)
    return m.select(
        F.col("id").alias("doc_id"),
        F.round("dup_token_frac", 6).alias("dup_token_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
    )


Q71_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 800000,
         text || ' ' ||
         array_to_string(flatten([ (string_split_regex(text, '\\s+'))[1:4]
                                   FOR _ IN range(10) ]), ' ')
  FROM documents WHERE doc_id % 8 = 0),
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM corpus),
grams AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 2
              THEN [array_to_string(t[i:i+1], ' ')
                    FOR i IN range(1, len(t))]
              ELSE [] END AS g
  FROM toks),
ratios AS (
  SELECT doc_id,
         1.0 - len(list_distinct(t)) * 1.0 / len(t) AS dup_token_frac,
         CASE WHEN len(g) > 0
              THEN 1.0 - len(list_distinct(g)) * 1.0 / len(g)
              ELSE 0.0 END AS dup_2gram_frac,
         g
  FROM grams),
topg AS (
  SELECT doc_id,
         CASE WHEN len(g) > 0
              THEN (SELECT MAX(c) FROM (
                      SELECT COUNT(*) AS c FROM unnest(g) AS u(x) GROUP BY x
                   )) * 1.0 / len(g)
              ELSE 0.0 END AS top_2gram_frac
  FROM ratios)
SELECT r.doc_id,
       ROUND(r.dup_token_frac, 6) AS dup_token_frac,
       ROUND(r.dup_2gram_frac, 6) AS dup_2gram_frac,
       ROUND(t.top_2gram_frac, 6) AS top_2gram_frac
FROM ratios r JOIN topg t ON r.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# Q72 — per-document character entropy (char_entropy)
# ---------------------------------------------------------------------------

def q72_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-family quality signal: Shannon entropy (nats) of each doc's
    character distribution, with planted degenerate docs — every 9th doc
    cloned (+900000) as 200 repeats of one character (entropy exactly 0)
    — that any entropy floor filter must catch. ONE explode + ONE
    aggregate via the ln(n) − Σc·ln(c)/n identity (no per-id window);
    the (doc, char) key space is alphabet-bounded so the shuffle is tiny
    at any document length."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 900_000).alias("doc_id"),
            F.repeat(F.lit("a"), 200).alias("text"),
        )
    )
    return char_entropy(corpus).select(
        F.col("id").alias("doc_id"),
        F.round("entropy", 4).cast("float").alias("entropy"),
    )


Q72_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 900000, repeat('a', 200) FROM documents WHERE doc_id % 9 = 0),
chars AS (
  SELECT doc_id AS id, c.ch
  FROM corpus, unnest(string_split(coalesce(text, ''), '')) AS c(ch)
  WHERE c.ch <> ''),
counts AS (SELECT id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
ent AS (
  SELECT id, ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) AS entropy
  FROM counts GROUP BY id),
ids AS (SELECT DISTINCT doc_id AS id FROM corpus)
SELECT ids.id AS doc_id,
       CAST(ROUND(coalesce(ent.entropy, 0.0), 4) AS REAL) AS entropy
FROM ids LEFT JOIN ent USING (id)
"""


# ---------------------------------------------------------------------------
# Q73 — PII detection + scrubbing (pii_scrub)
# ---------------------------------------------------------------------------

_PII_TAIL = (
    " contact bob.smith@example.com from 192.168.1.77"
    " call 555-123-4567 ssn 123-45-6789"
)


def q73_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-release redaction pass: every 10th doc (+1000000) gets an
    appended PII payload (email, IPv4, US-phone, SSN shapes). Counts are
    one regexp_count per pattern and the scrub one chained
    regexp_replace — a single whole-stage-codegen projection, zero
    shuffle; the oracle re-runs the identical regex family (RE2/Java
    common subset — no backreferences, no lookaround) and md5s the
    scrubbed text, so replacement ORDER (most-specific first: an SSN
    must not be half-eaten by the phone pattern) is under the hash."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(_PII_TAIL)).alias("text"),
        )
    )
    out = pii_scrub(corpus)
    return out.select(
        F.col("id").alias("doc_id"),
        "email_count",
        "ipv4_count",
        "ssn_count",
        "phone_count",
        "pii_total",
        F.md5("scrubbed").alias("scrubbed_md5"),
    )


Q73_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         text || ' contact bob.smith@example.com from 192.168.1.77' ||
                 ' call 555-123-4567 ssn 123-45-6789'
  FROM documents WHERE doc_id % 10 = 0),
pat AS (
  SELECT
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}' AS email,
    '\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\b' AS ipv4,
    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b' AS ssn,
    '\\b(?:\\+?1[-. ]?)?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b' AS phone)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, email)) AS INT) AS email_count,
       CAST(len(regexp_extract_all(t, ipv4)) AS INT) AS ipv4_count,
       CAST(len(regexp_extract_all(t, ssn)) AS INT) AS ssn_count,
       CAST(len(regexp_extract_all(t, phone)) AS INT) AS phone_count,
       CAST(len(regexp_extract_all(t, email)) + len(regexp_extract_all(t, ipv4))
          + len(regexp_extract_all(t, ssn)) + len(regexp_extract_all(t, phone))
          AS INT) AS pii_total,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, email, '<EMAIL>', 'g'),
                 ipv4, '<IP>', 'g'),
               ssn, '<SSN>', 'g'),
             phone, '<PHONE>', 'g')) AS scrubbed_md5
FROM (SELECT doc_id, coalesce(text, '') AS t FROM corpus), pat
"""


def q80_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: top-500 corpus tokens by frequency
    (deterministic tie-break), then per-document OOV rate against that
    vocab. Count agg with map-side combine absorbs token skew; the vocab
    is TakeOrdered'd (no global sort) and broadcast into the coverage
    join, so the corpus tokens never shuffle by token twice."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = vocab_top_tokens(d)
    return oov_rate(d, vocab).select(
        F.col("id").alias("doc_id"), "n_tokens", "n_oov", "oov_ratio"
    )


Q80_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token)
  ORDER BY cnt DESC, token ASC LIMIT 500)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS oov_ratio
FROM tok2 t LEFT JOIN vocab v USING (token)
GROUP BY t.doc_id
"""


def q106_transcript_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance transcript QA: the graded form of the reference's
    exact transcript equality (a near-miss ASR transcript scores a small
    CER instead of a binary fail). Two deterministic corruption channels
    over the documents table — substitutions (e→a) and a 10-char prefix
    deletion — scored with the native JVM levenshtein (no Python) and
    normalized to a character error rate; DuckDB's levenshtein must agree
    on every row."""
    # _scan_par: three O(len_a * len_b) levenshtein DPs per row — the one
    # query in the suite where per-row CPU dwarfs everything else; on the
    # single-file scan it all ran on one core (guide §2.5)
    d = _scan_par(
        spark, _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    )
    sub = F.regexp_replace(F.col("text"), "e", "a")
    cut = F.substring(F.col("text"), 11, 1_000_000)
    ref_len = F.greatest(F.length("text"), F.lit(1))
    return d.select(
        "doc_id",
        F.levenshtein(F.col("text"), sub).cast("long").alias("dist_sub"),
        F.levenshtein(F.col("text"), cut).cast("long").alias("dist_cut"),
        F.round(F.levenshtein(F.col("text"), sub) / ref_len, 6).alias("cer_sub"),
        (F.levenshtein(F.col("text"), sub) <= ref_len * 0.3).cast("int").alias("pass_sub"),
    )


Q106_SQL = """
SELECT doc_id,
       CAST(levenshtein(text, replace(text, 'e', 'a')) AS BIGINT) AS dist_sub,
       CAST(levenshtein(text, substring(text, 11)) AS BIGINT) AS dist_cut,
       ROUND(levenshtein(text, replace(text, 'e', 'a'))
             * 1.0 / GREATEST(length(text), 1), 6) AS cer_sub,
       CASE WHEN levenshtein(text, replace(text, 'e', 'a'))
                 <= GREATEST(length(text), 1) * 0.3
            THEN 1 ELSE 0 END AS pass_sub
FROM documents WHERE text IS NOT NULL
"""
