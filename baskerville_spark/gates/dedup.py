"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
They read a ``doc_id`` and a ``text`` column.

Scale design notes (the whole point of these over naive pairwise):
- **exact**: hash-groupBy on md5(text) — never shuffles the text itself,
  only (hash, id). Exemplar ids are bounded by a salted three-level
  collect_list, so a pathological text duplicated 10^9 times never
  materializes a 10^9-element array on one reducer.
- **n-gram Jaccard**: inverted-index self-join on shingles. The classic
  quadratic blowup is bounded by dropping shingles with document frequency
  > max_df (a stop-shingle filter) — standard trick; without it one common
  shingle joins the whole corpus to itself. Document sizes are computed
  over the SAME filtered shingle set as the pair counts, so the reported
  metric is exactly Jaccard over the max_df-filtered shingle space (equal
  to true Jaccard whenever no shingle exceeds max_df).
- **MinHash+LSH**: k hash functions h_i(s) = xxhash64(i || shingle), min per
  doc per i → signature; band hashes → bucket join → candidates; verified
  with exact Jaccard computed on the CANDIDATE DOCS ONLY (shingles are
  left-semi-joined to candidate ids before the pair join), so the verify
  cost is O(candidates), not O(corpus^2). All hashing via the built-in
  xxhash64 — zero Python.
- **SimHash**: 60 per-bit conditional sums over md5 token hashes in ONE
  groupBy.agg — wide but JVM-side; near-dup candidates via band equality on
  15-bit chunks (Hamming <= 3 ⇒ at least one of 4 chunks equal), then an
  exact popcount(xor) filter — see ``simhash_near_dups``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _scan_par, _t
from baskerville_spark.gates.graph import dedup_clusters
from baskerville_spark.gates.uniqueness import salted_exemplars

MINHASH_NUM_HASHES = 32  # signature length
MINHASH_BANDS = 8  # LSH bands of MINHASH_NUM_HASHES // MINHASH_BANDS rows
SHINGLE_N = 3  # words per shingle of the Jaccard, MinHash and containment pairs
JACCARD_THRESHOLD = 0.8  # least shingle Jaccard of a near-dup pair
JACCARD_MAX_DF = 20  # stop-shingle document frequency of ``ngram_jaccard_pairs``
CONTAINMENT_MAX_DF = 50  # stop-shingle document frequency of ``shingle_containment_pairs``
TFIDF_MIN_COSINE = 0.0  # least cosine ``tfidf_cosine_pairs`` emits
TFIDF_MAX_DF = 400  # stop-term document frequency of ``tfidf_cosine_pairs``
SIMHASH_BITS = 60  # bits of an md5 token hash, and of a SimHash fingerprint


def _tokens():
    return F.split(F.lower(F.col("text")), r"\s+")


def word_shingles(df: DataFrame, n: int) -> DataFrame:
    """Distinct word n-gram shingles per ``doc_id``: (id, shingle)."""
    toks = _tokens()
    k = F.size(toks) - (n - 1)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return (
        df.where(F.size(toks) >= n)
        .select(F.col("doc_id").alias("id"), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    exemplar_k: int = 16,
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, dup_count, ids).

    ``ids`` holds at most ``exemplar_k`` exemplar ``doc_id``s (the smallest
    by sort order), aggregated by ``gates.uniqueness.salted_exemplars``
    (three bounded levels, 64 salts; see its docstring for the buffer
    bound). Never ships text — only (hash, id).

    COUNT-FIRST pre-filter: an algebraic count per hash (map-side combined,
    skew-immune) finds the duplicated hashes, and a left_semi join restricts
    the list machinery to THOSE rows only. On real corpora duplicates are a
    small fraction, so the expensive collect_list levels see a sliver of the
    data; a pathological hot hash concentrates the semi join's probe side,
    which AQE skew-join splitting handles (joins split fine — unbounded
    aggregation buffers were the hazard). Measured at 20M rows / 10% hot
    key: the pre-filter pays for itself (bench.py --skew records it).

    NULL texts never form a duplicate group (the semi join's equality drops
    them) — a null payload is a schema-check concern, not a dedup one.
    """
    hashed = df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id").alias("id"))
    dup_hashes = (
        hashed.groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where("__c > 1")
        .select("text_hash")
    )
    hashed = hashed.join(dup_hashes, "text_hash", "left_semi")
    return salted_exemplars(hashed, "text_hash", "id", exemplar_k, 64).withColumnRenamed(
        "exemplar_ids", "ids"
    )


def _jaccard_pairs_over(sh: DataFrame, candidates: DataFrame | None) -> DataFrame:
    """Pairs with Jaccard >= ``JACCARD_THRESHOLD`` from a (id, shingle)
    table; sizes and intersections use
    the SAME shingle set so the metric is internally consistent.

    ``candidates`` (id_a, id_b), when given, restricts the pair join to
    candidate docs (left-semi on the shingle table) and the output to
    candidate pairs — the LSH verify path.

    Plan shape: doc sizes ride along as a window count over ``id`` (bounded
    per-partition by a document's shingle count — never a skew trap) instead
    of two post-aggregation joins, so the a/b join branches are canonically
    identical and ReuseExchange computes the shingle subtree ONCE.
    """
    if candidates is not None:
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = sh.join(cand_ids, "id", "left_semi")
    sized = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    a = sized.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = sized.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        common = common.join(candidates, ["id_a", "id_b"], "left_semi")
    return (
        common.select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("double").alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Document pairs with shingle-Jaccard >= ``JACCARD_THRESHOLD``.

    inverted index → pair counts → |A∩B| / (|A|+|B|−|A∩B|). Shingles with
    document frequency > ``JACCARD_MAX_DF`` are dropped BEFORE both the pair
    join and the size computation (stop-shingle guard against the quadratic
    join blowup at corpus scale); the metric is Jaccard over the filtered
    shingle space — identical to true Jaccard when nothing is filtered.
    """
    return _jaccard_pairs_over(_low_df_shingles(df, JACCARD_MAX_DF), candidates=None)


def _low_df_shingles(df: DataFrame, max_df: int) -> DataFrame:
    """``SHINGLE_N``-word shingles minus the stop shingles: those in more
    than ``max_df`` documents."""
    sh = word_shingles(df, SHINGLE_N)
    low_df = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") <= max_df)
        .select("shingle")
    )
    return sh.join(low_df, "shingle", "left_semi")


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signature of the ``SHINGLE_N``-word
    shingles — one groupBy, xxhash64-based."""
    sh = word_shingles(df, SHINGLE_N)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(MINHASH_NUM_HASHES)
    ]
    wide = sh.groupBy("id").agg(*mins)
    return wide.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(MINHASH_NUM_HASHES)]).alias("sig")
    )


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs via banded MinHash, verified with exact shingle
    Jaccard >= ``JACCARD_THRESHOLD`` on the candidates ONLY (the
    cheap-then-exact pattern): shingles are left-semi-joined to candidate
    ids before the verify pair join, so the exact pass costs O(candidate
    docs), never the full-corpus quadratic join."""
    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    sigs = minhash_signatures(df)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_pairs_over(word_shingles(df, SHINGLE_N), candidates=cand)


def _token_hash(col):
    """The ``SIMHASH_BITS``-bit hash of a token column: the top 15 hex chars
    of md5, always non-negative. It is SQL-PORTABLE: DuckDB reproduces it
    bit-exactly as ``('0x' || substr(md5(tok), 1, 15))::BIGINT``, which lets
    the q20/q35 gates be hash-checked against an independent oracle. 60 bits
    so the value fits signed BIGINT in both engines with identical string
    representation.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame) -> DataFrame:
    """(id, simhash: bigint, chunks: array<int>) ``SIMHASH_BITS``-bit
    SimHash over md5 token hashes.

    Per-bit weighted sums as n_bits conditional-sum aggregates in one pass;
    the four (n_bits/4)-wide chunks support banded Hamming-neighbour joins.
    """
    n_bits = SIMHASH_BITS
    tok = (
        df.select(F.col("doc_id").alias("id"), F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .select("id", _token_hash(F.col("tok")).alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    wide = tok.groupBy("id").agg(*bit_sums)
    sim = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    out = wide.select("id", sim.alias("simhash"))
    w = n_bits // 4
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), w * c).bitwiseAND(F.lit((1 << w) - 1)).cast("int")
            for c in range(4)
        ]
    )
    return out.select("id", "simhash", chunks.alias("chunks"))


def simhash_near_dups(df: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash Hamming distance <= 3.

    Pigeonhole banding: Hamming <= 3 over 60 bits implies at least one of
    the four 15-bit chunks is EQUAL, so the candidate join is an equi-join
    on (band, chunk) — never all-pairs (and lossless only up to distance
    3). Candidates are then filtered with the exact popcount of the XOR.
    """
    s = simhash(df)
    exploded = s.select(
        "id", "simhash", F.posexplode("chunks").alias("band", "chunk")
    )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "chunk"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "chunk"
    )
    cand = (
        a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
        )
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def tfidf_cosine_pairs(df: DataFrame) -> DataFrame:
    """Document pairs with TF-IDF cosine similarity >= ``TFIDF_MIN_COSINE`` — sparse
    lexical similarity with NO embeddings, via an inverted term index
    (the prefix-filtering family; a from-scratch extension, the reference
    has no similarity operator at all).

    tf = per-(doc, term) count; idf = ln(N / df) over distinct-doc term
    frequency; weight = tf·idf; cosine = Σ w_a·w_b / (‖a‖·‖b‖), computed
    by joining the index on term and aggregating per pair — a sparse dot
    product that touches only co-occurring terms, never a dense matmul.

    Scale design mirrors ``ngram_jaccard_pairs``: terms with document
    frequency > ``TFIDF_MAX_DF`` are dropped BEFORE the pair join AND before
    the norms (stop-word guard against the quadratic fan-out of hot
    terms; the metric is cosine over the filtered term space — identical
    to true cosine when nothing is filtered, and the filtered terms are
    exactly the least-informative ones: idf ≈ 0 contributes ≈ nothing).
    Norms ride along via a window over ``id`` (bounded per-partition by
    a doc's term count), keeping the a/b branches ReuseExchange-identical.
    N (corpus size) is a scalar crossJoin of a 1-row aggregate, not a
    collected literal — no driver round-trip, plan stays resumable.
    """
    terms = df.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: F.length(t) > 1,
            )
        ).alias("term"),
    )
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(
        F.countDistinct(F.col("doc_id")).cast("double").alias("n_docs")
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") <= TFIDF_MAX_DF)
    )
    weighted = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df_"))).alias("w"),
        )
    )
    normed = weighted.withColumn(
        "norm",
        F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("id"))),
    )
    a = normed.select(
        F.col("id").alias("id_a"), F.col("w").alias("w_a"),
        F.col("norm").alias("norm_a"), "term",
    )
    b = normed.select(
        F.col("id").alias("id_b"), F.col("w").alias("w_b"),
        F.col("norm").alias("norm_b"), "term",
    )
    return (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "norm_a", "norm_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
        .select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= TFIDF_MIN_COSINE)
    )


def shingle_containment_pairs(df: DataFrame) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A⊆B) = |A∩B| / |A| — the metric
    that catches a document plus its truncation/excerpt, which Jaccard
    structurally under-scores (a 10%-length excerpt of a clean doc has
    containment 1.0 but Jaccard 0.1, sailing under any Jaccard
    threshold). Standard in training-data pipelines for prefix/suffix
    and quote dedup; a from-scratch extension (the reference dedups
    exact keys only).

    Emits (id_a, id_b, containment_a, containment_b) over word 3-gram
    shingles for pairs where EITHER direction >= 0.8 — both directions ride
    the same pair aggregate, no second join. Same scale shape as
    ``ngram_jaccard_pairs``: inverted shingle index, ``CONTAINMENT_MAX_DF`` stop-shingle
    guard applied before the join AND the sizes (the metric is
    containment over the filtered space), window-carried sizes keeping
    the a/b branches ReuseExchange-identical.
    """
    sized = _low_df_shingles(df, CONTAINMENT_MAX_DF).withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    a = sized.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = sized.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "id_a",
            "id_b",
            (F.col("n_common") / F.col("n_a")).cast("double").alias("containment_a"),
            (F.col("n_common") / F.col("n_b")).cast("double").alias("containment_b"),
        )
        .where(
            (F.col("containment_a") >= 0.8)
            | (F.col("containment_b") >= 0.8)
        )
    )


def decontaminate(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    8-gram with an evaluation/benchmark corpus (the GPT-3/Llama-style
    8-to-13-gram overlap filter run before every pretraining mix; the
    reference has no analog — its dedup is exact-key only).

    Scale shape: the benchmark side is tiny relative to a 100-TB training
    corpus (an eval suite is ~1e5 docs), so its DISTINCT shingle set is
    broadcast and the training corpus streams map-side through a broadcast
    LEFT SEMI join — the only shuffle is the per-doc hit count, keyed on
    doc id, carrying (id) rows for matched shingles only. Training text is
    never shuffled. For benchmark suites too large to broadcast, drop the
    ``broadcast`` hint and the same plan runs as a shuffled semi-join.

    Returns (doc_id, n_contaminated_shingles) for contaminated docs only —
    the count is of DISTINCT shared n-grams (word_shingles dedupes per doc).
    """
    bench_sh = word_shingles(benchmark, 8).select("shingle").distinct()
    train_sh = word_shingles(df, 8)
    hits = train_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
    return (
        hits.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
        .select(F.col("id").alias("doc_id"), "n_contaminated_shingles")
    )


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    quality: Column,
) -> tuple[DataFrame, DataFrame]:
    """Dedup EXECUTION: one survivor per cluster — argmax ``quality``
    (evaluated over the doc columns), smallest-id tie-break — and the rest
    drop. The step after detection/clustering that actually shrinks a
    training corpus, keeping the best copy (longest text, highest quality
    score, ...) rather than an arbitrary min-id one.

    Returns (survivors, winners): survivors = docs rows that remain;
    winners = one narrow row per cluster (cluster_id, keep_id,
    cluster_size) for lineage. Docs ABSENT from the cluster map survive as
    their own singleton clusters (cluster_id = own id via coalesce after a
    left join) — a fingerprint relation that drops rows (NULL text, short
    docs) must never cause keep_canonical to delete unique documents. A
    synthetic singleton label can't collide with a real cluster label: a
    real cluster labeled X contains X, so X would be mapped, not synthetic.

    Plan: one left join of docs with the narrow cluster map
    (co-partitionable on id), one min_by aggregate per cluster (single
    shuffle — the struct(-quality, id) ordering makes the tie-break part
    of the same reduction, q43's min_by/max_by idiom: minimal NEGATED
    quality = maximal quality, then minimal id — the negation lives on
    the numeric quality, never on the id, so string ids work (negating a
    string id would cast-fail under ANSI); ``quality`` must be numeric.
    Then a semi-join back. winners is one row per cluster — O(distinct
    docs) once singletons are counted, so it is NOT broadcast-hinted (a
    100M-doc corpus would blow the broadcast limit); AQE picks the join
    strategy.
    """
    cmap = clusters.select(F.col("id").alias("doc_id"), "cluster_id")
    j = docs.join(cmap, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    winners = j.groupBy("cluster_id").agg(
        F.min_by(
            F.col("doc_id"),
            F.struct((-quality).alias("neg_q"), F.col("doc_id").alias("id")),
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    survivors = docs.join(
        winners.select(F.col("keep_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    return survivors, winners


def dedup_lines(docs: DataFrame) -> DataFrame:
    """Cross-document line dedup (C4-style boilerplate removal): every
    line keeps exactly ONE occurrence corpus-wide — the (smallest doc id,
    smallest line number) one — and loses all others; empty lines are
    exempt (blank separators are structure, not boilerplate). Returns (id,
    text_out, n_lines_kept, n_lines_removed); documents whose every line was owned elsewhere
    disappear (the C4 empty-doc drop).

    Shape: posexplode → ONE window keyed on the line text itself (the row
    carries the line for reassembly anyway, so hashing the key would
    shuffle the same bytes and add collision risk for zero savings) picks
    the min-(id, line_no) owner; survivors re-assemble with ONE
    groupBy(id) whose collect_list buffer is bounded by a single
    document's line count. Two shuffles total, no joins, no driver state.
    """
    ln = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    )
    w = Window.partitionBy("line")
    owner = F.min(F.struct("doc_id", "line_no")).over(w)
    keep = (F.length("line") < 1) | (
        F.struct(F.col("doc_id"), F.col("line_no")) == owner
    )
    kept = ln.select(
        "doc_id", "line_no", "line", keep.alias("__keep")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_out"),
            F.sum(F.col("__keep").cast("long")).alias("n_lines_kept"),
            F.sum((~F.col("__keep")).cast("long")).alias("n_lines_removed"),
        )
        .where(F.col("n_lines_kept") > 0)
        .select("doc_id", "text_out", "n_lines_kept", "n_lines_removed")
    )


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, scan-parallelized for explode/regex-heavy pipelines."""
    return _scan_par(spark, _t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Q15/Q16 — dedup
# ---------------------------------------------------------------------------

def q15_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir)
    # max_df=20: the stop-shingle guard is ACTIVE at bench scale (sf0.1 max
    # 3-gram df is 25) and a no-op at the sf0.01 gate (max df 7) — the
    # exercised plan is the bounded one, not the quadratic one.
    p = ngram_jaccard_pairs(d)
    return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


Q15_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks WHERE len(t) >= 3),
sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 20),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
"""


def q16_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d).select("text_hash", "dup_count")


Q16_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS dup_count FROM documents
GROUP BY md5(text) HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# Q19/Q20 — MinHash/SimHash sketches
# ---------------------------------------------------------------------------

def q19_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified candidates-only. The oracle is
    the EXACT (unguarded) Jaccard pair SQL — a green row proves the banded
    MinHash misses no true pair at this threshold on the fixture (recall
    1.0), while the Spark plan touches only candidate docs."""
    d = _docs_wide(spark, sf_dir)
    p = minhash_lsh_pairs(d)
    return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


Q19_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
"""


def q20_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash fingerprints (SURVEY §2.8 bit ops / LLM-dedup).

    ORACLE-CHECKED since round 3: simhash's only hasher is the SQL-portable
    60-bit md5 (dedup._token_hash), so DuckDB reproduces every bit of the
    fingerprint — token hash = ('0x' || substr(md5(tok),1,15))::BIGINT,
    then the same 60 conditional bit-sums."""
    d = _docs_wide(spark, sf_dir)
    return simhash(d).select(F.col("id").alias("doc_id"), "simhash")


def _simhash_cte() -> str:
    """CTEs computing the 60-bit md5 SimHash per document in DuckDB —
    bit-exact mirror of dedup.simhash."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    recon = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tok WHERE tok <> ''
), bits AS (
  SELECT doc_id, {bit_sums}
  FROM h GROUP BY doc_id
), sim AS (
  SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM bits
)"""


Q20_SQL = _simhash_cte() + "\nSELECT doc_id, simhash FROM sim"


def q35_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-neighbour pairs via the 15-bit chunk pigeonhole join
    (exercises dedup.simhash_near_dups's banded equi-join — never all-pairs).

    ORACLE-CHECKED since round 3 via the md5 hasher (see q20): the oracle
    recomputes every fingerprint and brute-forces all pairs in DuckDB, so a
    hash match proves the banded equi-join finds EXACTLY the Hamming<=3 set
    (pigeonhole losslessness demonstrated on real data, not just the planted
    pytest pairs)."""
    d = _docs_wide(spark, sf_dir)
    return simhash_near_dups(d)


Q35_SQL = _simhash_cte() + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# Q51 — normalization-aware near-exact dedup (a training-data staple
#       beyond byte-identical dedup)
# ---------------------------------------------------------------------------

def q51_normalized_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup through TEXT NORMALIZATION (lowercase, strip
    non-alphanumerics, collapse whitespace) — the standard first rung of a
    training-data dedup ladder above byte-identical (q16) and below
    MinHash (q19). Fixture plants case/punctuation variants: every 7th
    document is cloned (doc_id + 100000) as UPPER(text) + ' !!!', raw-byte
    distinct but normalization-equal, so each planted pair MUST collapse to
    one group. Runs through the same count-first salted
    ``exact_duplicates`` machinery on the normalized column; ids ride out
    as a comma-joined string (array-hashing hazard — see check_oracle)."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    clones = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!!")).alias("text"),
    )
    normed = d.unionByName(clones).select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        ).alias("norm_text"),
    )
    groups = exact_duplicates(normed, text_col="norm_text", exemplar_k=8)
    return groups.select(
        "text_hash",
        "dup_count",
        F.concat_ws(",", F.transform("ids", lambda x: x.cast("string"))).alias("ids"),
    )


Q51_SQL = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) || ' !!!' FROM documents WHERE doc_id % 7 = 0),
normed AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM base),
grp AS (
  -- norm_text IS NOT NULL mirrors the engine's documented rule (a NULL
  -- text never forms a duplicate group — the equi semi-join drops it);
  -- without it DuckDB would emit a (NULL, n) group the engine never does
  SELECT md5(norm_text) AS text_hash, COUNT(*) AS dup_count,
         (array_agg(doc_id ORDER BY doc_id))[1:8] AS id_list
  FROM normed WHERE norm_text IS NOT NULL
  GROUP BY md5(norm_text) HAVING COUNT(*) > 1)
SELECT text_hash, dup_count, array_to_string(id_list, ',') AS ids FROM grp
"""


# ---------------------------------------------------------------------------
# Q69 — TF-IDF cosine similarity pairs via an inverted term index
#       (tfidf_cosine_pairs — sparse lexical similarity,
#       no embeddings; the max_df stop-term guard is ACTIVE: the
#       generator's tiny shared vocabulary appears in ~every doc and is
#       dropped wholesale, which is exactly the guard's job at scale)
# ---------------------------------------------------------------------------

def q69_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc gets an 8-word doc-unique tail; every 5th doc is cloned
    (+500000) keeping 6 of the 8 tail words and adding 2 clone-unique
    ones. After the df > 400 stop-term guard drops the generator's
    shared vocabulary (each word appears in ~all 600 docs — raw pairwise
    cosine on this table reaches 0.95 BECAUSE of that vocabulary, which
    is why the guard is load-bearing), the surviving term space is
    doc-unique tails only: the emitted pairs are EXACTLY the planted
    clone pairs, at a cosine mixing df=2 shared-tail weights with df=1
    singleton weights — the oracle recomputes the full tf·ln(N/df)
    algebra, not a count. Threshold applied to the round-4 value in both
    engines (cross-engine float-stability rule)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")

    def tail(letters: str, prefix: str = "u") -> F.Column:
        return F.concat_ws(
            " ", *[F.concat(F.lit(prefix), did, F.lit(ch)) for ch in letters]
        )

    corpus = d.select(
        "doc_id", F.concat("text", F.lit(" "), tail("abcdefgh")).alias("text")
    ).unionByName(
        d.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 500_000).alias("doc_id"),
            F.concat(
                "text", F.lit(" "), tail("abcdef"), F.lit(" "), tail("ab", "v")
            ).alias("text"),
        )
    )
    pairs = tfidf_cosine_pairs(corpus)
    return pairs.select(
        "id_a",
        "id_b",
        F.round("cosine", 4).cast("float").alias("cosine"),
    ).where(F.round("cosine", 4) >= 0.3)


Q69_SQL = """
WITH corpus AS (
  SELECT doc_id, text || ' ' ||
         'u'||doc_id||'a u'||doc_id||'b u'||doc_id||'c u'||doc_id||'d ' ||
         'u'||doc_id||'e u'||doc_id||'f u'||doc_id||'g u'||doc_id||'h' AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 500000, text || ' ' ||
         'u'||doc_id||'a u'||doc_id||'b u'||doc_id||'c u'||doc_id||'d ' ||
         'u'||doc_id||'e u'||doc_id||'f ' ||
         'v'||doc_id||'a v'||doc_id||'b' AS text
  FROM documents WHERE doc_id % 5 = 0),
terms AS (
  SELECT doc_id AS id, t.term
  FROM corpus, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE length(t.term) > 1),
tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM corpus),
dfq AS (SELECT term, COUNT(*) AS df_ FROM tf GROUP BY 1
        HAVING COUNT(*) <= 400),
w AS (SELECT id, tf.term, tf.tf * ln(n_docs / df_) AS w
      FROM tf JOIN dfq USING (term) CROSS JOIN nd),
nrm AS (SELECT id, term, w,
               sqrt(SUM(w * w) OVER (PARTITION BY id)) AS norm
        FROM w),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         ANY_VALUE(a.norm) AS na, ANY_VALUE(b.norm) AS nb,
         SUM(a.w * b.w) AS dot
  FROM nrm a JOIN nrm b ON a.term = b.term AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(ROUND(dot / (na * nb), 4) AS REAL) AS cosine
FROM pairs
WHERE ROUND(dot / (na * nb), 4) >= 0.3
"""


# ---------------------------------------------------------------------------
# Q70 — asymmetric containment dedup (doc ⊇ excerpt):
#       shingle_containment_pairs
# ---------------------------------------------------------------------------

def q70_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 6th doc gets a planted EXCERPT (+700000: its first 20
    words). Excerpt→original shingle containment is ~1.0 while Jaccard
    is ~|excerpt|/|doc| ≈ 0.3 — the asymmetric-duplicate class the q15
    Jaccard gate structurally cannot flag. Both containment directions
    ride one pair aggregate; the division is exact small-int rational
    math, identical across engines (no float-stability dance needed
    beyond round-6 output)."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 700_000).alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), "\\s+"), 1, 20), " "
            ).alias("text"),
        )
    )
    p = shingle_containment_pairs(corpus)
    return p.select(
        "id_a",
        "id_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


Q70_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 700000,
         array_to_string((string_split_regex(text, '\\s+'))[1:20], ' ')
  FROM documents WHERE doc_id % 6 = 0),
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM corpus),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  FROM toks WHERE len(t) >= 3),
sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 50),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(c * 1.0 / sa.n, 6) AS containment_a,
       ROUND(c * 1.0 / sb.n, 6) AS containment_b
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE c * 1.0 / sa.n >= 0.8 OR c * 1.0 / sb.n >= 0.8
"""


def q76_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (8-gram overlap): benchmark = docs with
    doc_id%10==7, training = the rest; flag training docs sharing any
    8-gram with the benchmark. Broadcast semi-join on the benchmark's
    distinct shingles — the training corpus never shuffles its text."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = d.where(F.col("doc_id") % 10 == 7)
    train = d.where(F.col("doc_id") % 10 != 7)
    return decontaminate(train, bench)


Q76_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
  FROM toks WHERE len(t) >= 8),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle FROM idx),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 7)
SELECT s.doc_id, COUNT(*) AS n_contaminated_shingles
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 10 <> 7
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
# q99: dedup survivor selection
# --------------------------------------------------------------------------


def q99_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-execution gate: every 10th document is cloned (+500000) with a
    LONGER text (an appended tail), the corpus is clustered on a 32-char
    prefix fingerprint, and keep_canonical must retain the highest-quality
    copy per cluster — i.e. the CLONE beats its min-id original wherever a
    clone exists, proving selection is quality-driven, not min-id. The
    oracle re-derives every cluster (prefix groups) and its
    length-then-min-id winner with a window."""
    base = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.length("text") >= 32))
        .select("doc_id", "text")
    )
    clones = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra quality tail")).alias("text"),
    )
    corpus = base.unionByName(clones)
    membership = corpus.select(
        F.col("doc_id").alias("id"),
        F.xxhash64(F.substring("text", 1, 32)).alias("bucket"),
    )
    clusters = dedup_clusters(membership)
    survivors, winners = keep_canonical(corpus, clusters, F.length("text"))
    return survivors.join(
        winners.select(F.col("keep_id").alias("doc_id"), "cluster_size"),
        "doc_id",
    ).select("doc_id", "cluster_size")


Q99_SQL = """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) >= 32),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, text || ' zzz extra quality tail' AS text
  FROM base WHERE doc_id % 10 = 0),
g AS (
  SELECT doc_id, text, substr(text, 1, 32) AS pfx,
         ROW_NUMBER() OVER (
           PARTITION BY substr(text, 1, 32)
           ORDER BY length(text) DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY substr(text, 1, 32)) AS cluster_size
  FROM corpus)
SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
FROM g WHERE rk = 1
"""


# --------------------------------------------------------------------------
# q116: C4-style cross-document line dedup (boilerplate removal) — every
# line keeps exactly one corpus-wide occurrence, min-(doc, line) owner.
# --------------------------------------------------------------------------


def q116_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-dedup gate: 40 docs share a header and footer line around two
    unique lines each — the owner doc (0) keeps all 4 lines, every other
    doc loses exactly the 2 boilerplate lines, and the reassembled text
    preserves original line order (closed form in both engines)."""
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.lit("shared header boilerplate"),
            F.format_string("unique line %d alpha", "id"),
            F.lit("shared footer boilerplate"),
            F.format_string("unique line %d beta", "id"),
        ).alias("text"),
    )
    return dedup_lines(docs)


Q116_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 39)) AS i)
SELECT CAST(i AS BIGINT) AS doc_id,
       CASE WHEN i = 0 THEN
         'shared header boilerplate' || chr(10) ||
         printf('unique line %d alpha', i) || chr(10) ||
         'shared footer boilerplate' || chr(10) ||
         printf('unique line %d beta', i)
       ELSE
         printf('unique line %d alpha', i) || chr(10) ||
         printf('unique line %d beta', i)
       END AS text_out,
       CAST(CASE WHEN i = 0 THEN 4 ELSE 2 END AS BIGINT) AS n_lines_kept,
       CAST(CASE WHEN i = 0 THEN 0 ELSE 2 END AS BIGINT) AS n_lines_removed
FROM idx
"""
