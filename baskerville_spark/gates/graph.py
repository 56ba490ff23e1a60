"""Connected-components dedup clustering — the transitive-closure rung of
the training-data dedup ladder.

Every similarity relation in this repo (byte-identical q16, normalization-
equal q51, MinHash q19, SimHash q20) emits PAIRS; a real pipeline must
then group pairs transitively (A~B via case-folding, B~C via a shared
fingerprint => {A,B,C} is ONE duplicate cluster) and keep one canonical
document per cluster. The reference has no graph operator at all — its
dedup is per-key groupBy (src/baskerville/spark/helpers.py:54-75 drops
exact duplicates only) — so this module is a from-scratch extension, not
a port: the standard MapReduce connected-components formulation
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
re-expressed as DataFrame joins.

Scale design:
- Bucket cliques are NEVER materialized: a similarity bucket of n members
  implies n*(n-1)/2 clique edges but only n-1 STAR edges to the bucket
  minimum, with identical connectivity (``star_edges``). The min comes
  from a groupBy aggregate (map-side partial — a 10^9-member hot bucket
  combines per-partition, never sorts on one task the way a window min
  would).
- Label propagation (``connected_components``) only ever LOWERS labels,
  so a decimal-summed label total is a strict-decrease convergence
  witness: one cheap scan per round instead of a self-join diff.
- Per-round checkpointing truncates the lineage chain — without it
  round k replays rounds 1..k-1 and the plan grows without bound (the
  classic iterative-Spark trap). Reliable ``checkpoint()`` when the
  session has a checkpoint dir (cluster runs: localCheckpoint blocks
  die with a lost executor, killing an hours-long job), else
  ``localCheckpoint`` (single-JVM local mode) — see ``_Ckpt``, which
  also persists-before-checkpoint (no double compute) and deletes the
  superseded round's files (no unbounded checkpoint growth).
- Rounds = graph diameter. Dedup-cluster graphs built from star edges
  have tiny diameter (every bucket member is 1 hop from the bucket min;
  chains only grow through docs shared across relations), so min-label
  propagation converges in a handful of rounds; for adversarial
  long-path graphs ``connected_components_bigstar`` implements the
  large-star/small-star alternation of the same paper, converging in
  O(log n) rounds regardless of diameter — ``LABEL_MAX_ITERS`` exhaustion on
  the label path is a loud failure pointing at the swap, never a silent
  wrong answer.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _scan_par, _t
from baskerville_spark.runtime.checkpoint import _Ckpt


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_integral_ids(vertices: DataFrame, edges: DataFrame) -> None:
    """Loud guard: both CC algorithms need integral ids. The decimal-sum
    witness casts ids; on string ids ANSI mode crashes mid-loop and
    non-ANSI silently yields NULL sums that compare equal from round one
    (= premature convergence, wrong answer), and even numeric STRINGS
    order lexicographically (min('9','12') = '12'). Hash string keys
    through F.xxhash64 before clustering."""
    for df, cols in ((vertices, ["id"]), (edges, ["src", "dst"])):
        dt = dict(df.dtypes)
        for c in cols:
            if c in dt and dt[c] not in _INTEGRAL_TYPES:
                raise ValueError(
                    f"connected components require integral ids; column {c!r} "
                    f"is {dt[c]!r} — hash string keys with F.xxhash64 first"
                )


def star_edges(buckets: DataFrame, id_col: str) -> DataFrame:
    """(id, bucket) membership rows -> (src, dst) star edges to each
    bucket's minimum id.

    Connectivity-equivalent to the within-bucket all-pairs clique at
    linear (not quadratic) edge count. The bucket min is a groupBy
    aggregate + equi-join rather than a window min: partial aggregation
    absorbs hot buckets map-side, and AQE's skew-join split handles the
    rejoin, whereas a window would sort an entire hot bucket on one task.
    Multi-relation membership (same pair in several buckets) dedups via
    the final distinct over narrow (long, long) rows.
    """
    roots = buckets.groupBy("bucket").agg(F.min(id_col).alias("__root"))
    return (
        buckets.join(roots, "bucket")
        .where(F.col(id_col) != F.col("__root"))
        .select(F.col(id_col).alias("src"), F.col("__root").alias("dst"))
        .distinct()
    )


#: Round caps of the two connected-components loops.
LABEL_MAX_ITERS = 25
BIGSTAR_MAX_ITERS = 30


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    init_labels: DataFrame,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (id, cluster_id) with cluster_id = the minimum vertex id
    reachable from ``id`` (isolated vertices keep their own id). The
    symmetrized edge list is checkpointed ONCE before the loop (a
    one-off ``_Ckpt`` — every round joins against it, and without the
    materialization each round would replay the whole upstream
    edge-derivation plan: Spark shares no stages across jobs). Each
    round is then one join + one aggregate over narrow long columns;
    labels are checkpointed per round (``_Ckpt``: reliable when a dir is
    set, superseded rounds' files deleted) and the
    label SUM — strictly decreasing while any label moves — is the
    convergence check, a single scan with no self-join diff. Raises
    RuntimeError after ``LABEL_MAX_ITERS`` non-converged rounds (diameter
    exceeded: switch the caller to ``connected_components_bigstar``
    rather than raising the cap past ~O(log n) expectations).

    Ids must be an integral type (the decimal-sum witness and min-label
    semantics both require numeric ordering; hash string keys through
    ``F.xxhash64`` first) — enforced with a loud ValueError, because
    with ANSI off a string id would silently mis-converge (NULL sums
    compare equal from round one).

    ``init_labels`` (id, label) seeds each vertex below its own id —
    correct iff every seed is the id of a vertex in the SAME component
    (propagation converges to the component min of the seeds; a
    same-component seed keeps that min = the true vertex min). A vertex
    without a seed starts at its own id, so identity seeds give plain
    propagation. ``dedup_clusters`` seeds with bucket roots, pre-folding
    the first propagation round into the bucket-root aggregate it has
    already paid for.
    """
    _require_integral_ids(vertices, edges)
    ckpt = _Ckpt()
    # one-off instance: the shared ckpt would delete sym's files on the
    # first labels commit while rounds 2+ still read them; released in
    # the finally once nothing references sym anymore
    sym_ckpt = _Ckpt()
    sym = sym_ckpt(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    verts = vertices.select("id").distinct()
    seeds = init_labels.select("id", F.col("label").alias("__seed"))
    labels = ckpt.lazy(
        verts.join(seeds, "id", "left").select(
            "id",
            F.least(F.col("id"), F.coalesce("__seed", "id")).alias("label"),
        )
    )
    # decimal(38,0): a sum of 10^12 labels each up to ~10^12 overflows
    # long; the witness must stay exact or "unchanged" could be a wrap.
    # This aggregate is ALSO the action that materializes the lazy
    # checkpoint above (see _Ckpt.lazy for the per-path job accounting).
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    ckpt.committed(labels)
    try:
        for _ in range(LABEL_MAX_ITERS):
            nbr_min = (
                sym.join(labels, sym["a"] == labels["id"])
                .groupBy(F.col("b").alias("nid"))
                .agg(F.min("label").alias("nbr_label"))
            )
            labels = ckpt.lazy(
                labels.join(nbr_min, labels["id"] == nbr_min["nid"], "left").select(
                    "id",
                    F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                        "label"
                    ),
                )
            )
            new_sum = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).collect()[0][0]
            ckpt.committed(labels)
            if new_sum == prev_sum:
                return labels.select("id", F.col("label").alias("cluster_id"))
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {LABEL_MAX_ITERS} rounds — "
            "graph diameter exceeds the dedup-cluster expectation; use a "
            "large-star/small-star contraction for adversarial graphs"
        )
    finally:
        sym_ckpt.release()


def _edge_checksum(e: DataFrame) -> tuple:
    """(count, sum u, sum v) in exact decimal — the fixed-point witness
    for the big-star loop. Alternation only ever contracts edges toward
    component minima, so an unchanged checksum round-over-round means the
    edge set itself is the converged star forest (the per-round total of
    edge endpoints strictly decreases while any edge still moves)."""
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
    ).collect()[0]
    return (row["c"], row["su"], row["sv"])


def connected_components_bigstar(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14 §3) — the O(log n)-round alternation for graphs whose
    diameter defeats per-hop min-label propagation (a diameter-d path
    costs ``connected_components`` d rounds but this ~log2 d).

    Each round is two groupBy-min + join passes over a narrow (u, v)
    edge list, every operation shuffle-partitioned on the grouping key:

    - large-star: for every node u with neighbor-min m = min(N(u) ∪ u),
      re-point every LARGER neighbor v > u at m — long paths halve.
    - small-star: on edges oriented u > v, re-point every smaller
      neighbor (and u itself) at u's minimum neighbor — stars flatten.

    Per-round ``_Ckpt`` checkpointing truncates lineage exactly as the label
    path does. Converges when the edge checksum is a fixed point, at
    which moment the edge set IS a star forest (u, component_min); the
    labels come from one left join, isolated vertices keeping their own
    id. Integral ids required (same guard and reason as the label
    path). Raises after ``BIGSTAR_MAX_ITERS`` rounds (paper bound is O(log^2 n)
    w.h.p.; 30 rounds covers n ~ 10^12 with a wide margin, so hitting
    the cap means a malformed edge list, not a bigger graph).
    """
    _require_integral_ids(vertices, edges)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # orient larger-first for the first small-star input shape
    e = (
        sym.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    ckpt = _Ckpt()
    e = ckpt.lazy(e)
    prev = _edge_checksum(e)  # materializes the lazy checkpoint
    ckpt.committed(e)
    for _ in range(BIGSTAR_MAX_ITERS):
        cur_sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = cur_sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            cur_sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(smins, "u")
        e = ckpt.lazy(
            joined.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        cur = _edge_checksum(e)  # materializes the lazy checkpoint
        ckpt.committed(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_bigstar did not converge in {BIGSTAR_MAX_ITERS} "
            "rounds — edge list is likely malformed (self-referential or "
            "non-id-typed keys); the paper bound is O(log^2 n) w.h.p."
        )
    # The checksum is a heuristic fixed-point witness (exact sums, but a
    # permuted edge set could in principle collide) — so PROVE the star
    # forest before emitting labels: every node has exactly one root, and
    # no root is itself re-pointed. One aggregate + one self-join, both
    # on the final (tiny-per-component) edge list; failure raises rather
    # than silently mislabeling.
    stars = e.groupBy("u").agg(
        F.min("v").alias("root"), F.countDistinct("v").alias("nroots")
    )
    # the two probes are independent tiny jobs over the final edge list —
    # run them concurrently (guide §2.6) instead of back-to-back
    with ThreadPoolExecutor(2) as pool:
        f_bad = pool.submit(stars.where(F.col("nroots") > 1).limit(1).count)
        f_deep = pool.submit(
            e.alias("a")
            .join(e.alias("b"), F.col("a.v") == F.col("b.u"))
            .limit(1)
            .count
        )
        bad, deep = f_bad.result(), f_deep.result()
    if bad or deep:
        raise RuntimeError(
            "bigstar fixed point is not a star forest (checksum collision)"
        )
    return (
        vertices.select("id")
        .distinct()
        .join(stars, F.col("id") == F.col("u"), "left")
        .select("id", F.coalesce("root", "id").alias("cluster_id"))
    )


def dedup_clusters(
    membership: DataFrame,
    id_col: str = "id",
    vertices: DataFrame | None = None,
    algorithm: str = "label",
) -> DataFrame:
    """Bucket membership -> per-document cluster verdicts.

    Output: (id, cluster_id, cluster_size, is_canonical) — cluster_id is
    the min member (the canonical survivor a keep-one-per-cluster filter
    retains), cluster_size via one count aggregate re-joined on
    cluster_id (broadcast-sized: one row per cluster). ``vertices``
    (one ``id_col`` per corpus document) widens the output to documents
    that appear in no bucket — e.g. NULL-text docs a fingerprint relation
    drops — which come out as singleton clusters; default is the
    membership ids themselves. ``algorithm``: 'label' (default) is
    min-label propagation — optimal for the tiny-diameter graphs bucket
    relations produce; 'bigstar' is the large-star/small-star alternation
    — O(log n) rounds on adversarial long-chain graphs where per-hop
    propagation would exhaust ``LABEL_MAX_ITERS``.
    """
    if algorithm not in ("label", "bigstar"):
        raise ValueError(f"algorithm must be 'label' or 'bigstar', got {algorithm!r}")
    if vertices is None:
        verts = membership.select(F.col(id_col).alias("id")).distinct()
    else:
        verts = vertices.select(F.col(id_col).alias("id")).distinct()
    edges = star_edges(membership, id_col)
    if algorithm == "bigstar":
        labels = connected_components_bigstar(verts, edges)
    else:
        # Seed each member with the min bucket root it touches: that IS
        # round one of propagation, folded into a groupBy the star-edge
        # derivation already shapes — bucket graphs then converge in
        # half the rounds (seeds are bucket minima, i.e. same-component
        # vertex ids, satisfying the init_labels contract).
        #
        # The star-edge and seed jobs each evaluate ``membership`` once
        # (they run as separate jobs; Spark shares no stages across jobs).
        # When the membership derivation is expensive (regex/hash over
        # text), the CALLER should persist+count the narrow (id, bucket)
        # frame before calling and unpersist after — the CC loop
        # checkpoints its labels, so nothing re-reads membership once this
        # function returns. Persisting unconditionally here costs an extra
        # job that measurably hurts the cheap-membership callers.
        roots = membership.groupBy("bucket").agg(F.min(id_col).alias("__root"))
        seeds = (
            membership.join(roots, "bucket")
            .groupBy(F.col(id_col).alias("id"))
            .agg(F.min("__root").alias("label"))
        )
        labels = connected_components(verts, edges, init_labels=seeds)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "id",
        "cluster_id",
        "cluster_size",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def prior_label_membership(labels: DataFrame, id_col: str) -> DataFrame:
    """Fold a previous clustering run's (id, cluster_id) labels into
    bucket-membership rows — term (b) of ``incremental_membership``'s
    recipe, exposed separately for pipelines that assemble their own
    union. Each old cluster becomes one ``prior:<cluster>`` bucket
    (prefixed so it can never collide with a fingerprint bucket), which
    is connectivity-equivalent to the old component. Output columns are
    (``id_col``, ``bucket``) so the result unions cleanly with membership
    tables whose id column has another name.
    """
    return labels.select(
        F.col(id_col).alias(id_col),
        F.concat(F.lit("prior:"), F.col("cluster_id").cast("string")).alias("bucket"),
    )


def incremental_membership(
    new_membership: DataFrame,
    prior_labels: DataFrame,
    retained_index: DataFrame,
    id_col: str,
) -> DataFrame:
    """The full three-term membership for INCREMENTAL ``dedup_clusters``
    — at 10^12 rows a new ingest batch never re-fingerprints or
    re-clusters the settled corpus:

    (a) ``new_membership``: the new batch's fingerprint rows;
    (b) the prior labels folded to one bucket per old cluster
        (``prior_label_membership``) — the settled corpus's internal
        connectivity without its internal edges;
    (c) the bridge: ``retained_index`` rows (the append-only, narrow
        (id, bucket) index of ALL fingerprints ever emitted) whose
        bucket also appears in (a), found with a left_semi join on the
        new batch's distinct buckets. Without this term an old doc that
        shares a content-derived bucket with a new doc contributes no
        row for it and the old↔new merge is silently missed — the one
        silent-wrong-answer mode of the naive (a)∪(b) union.

    Clustering this union equals clustering every relation ever seen
    (proven in tests/test_graph.py, including a case where the naive
    two-term union provably misses the merge). The left_semi probe side
    is the new batch's distinct buckets — broadcast-sized relative to
    the 10^12-row index, so (c) costs one broadcast semi-join over the
    index scan, never a shuffle of the index.
    """
    bridge = retained_index.select(id_col, "bucket").join(
        new_membership.select("bucket").distinct(), "bucket", "left_semi"
    )
    return (
        new_membership.select(id_col, "bucket")
        .unionByName(bridge)
        .unionByName(prior_label_membership(prior_labels, id_col=id_col))
    )


# ---------------------------------------------------------------------------
# Q65 — transitive dedup clustering (connected components over a UNION of
#       similarity relations — a from-scratch extension: the reference
#       dedups per-key only, spark/helpers.py:54-75)
# ---------------------------------------------------------------------------

def q65_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-relation dedup clustering: three fingerprint relations over
    the documents table — full normalized text, first-64-normalized-chars
    prefix, last-64 suffix — are unioned into one bucket-membership list;
    star edges + min-label connected components (``dedup_clusters``) give
    every document a cluster_id = min reachable doc, the canonical
    survivor of keep-one-per-cluster dedup.

    Fixture plants a 4-document component per every-10th doc: a case/
    punctuation clone (+100000, joins via the FULL relation), a
    prefix-preserving truncation with a unique tail (+300000, joins ONLY
    via the prefix relation), and a suffix-preserving clone with a unique
    head (+400000, ONLY the suffix relation) — the truncation and the
    suffix clone share no relation with each other, so their membership
    in one cluster is provable only transitively through the base doc:
    exactly the closure the pairwise gates (q16/q19/q20/q51) cannot
    express. The DuckDB oracle recomputes the closure with a recursive
    CTE; prefix/suffix fingerprints are defined only for docs with >= 64
    normalized chars (both engines filter identically)."""
    d = _scan_par(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    did = F.col("doc_id").cast("string")
    tenth = F.col("doc_id") % 10 == 0
    # Corpus and membership as SINGLE-branch conditional explodes instead of
    # 4- and 3-way unions: the union form evaluated the scan + normalization
    # 12 branch-combinations deep (each union leg is its own stage fan-out
    # of tiny tasks, and the regex normalization ran once per leg); the
    # explode computes each row's variants and bucket list in ONE pass —
    # same multiset of (doc_id, text) and (doc_id, bucket) rows (the
    # when()-guards restate each leg's filter; array_compact drops the
    # non-matching legs), and downstream groupBys are order-insensitive.
    variant = F.array_compact(
        F.array(
            F.struct(F.col("doc_id"), F.col("text")),
            F.when(
                tenth,
                F.struct(
                    (F.col("doc_id") + 100_000).alias("doc_id"),
                    F.concat(F.upper("text"), F.lit(" !!!")).alias("text"),
                ),
            ),
            F.when(
                tenth,
                F.struct(
                    (F.col("doc_id") + 300_000).alias("doc_id"),
                    F.concat(
                        F.left("text", F.lit(120)), F.lit(" qq unique tail "), did
                    ).alias("text"),
                ),
            ),
            F.when(
                tenth,
                F.struct(
                    (F.col("doc_id") + 400_000).alias("doc_id"),
                    F.concat(
                        F.lit("zq head "), did, F.lit(" "), F.right("text", F.lit(160))
                    ).alias("text"),
                ),
            ),
        )
    )
    corpus = d.select(F.explode(variant).alias("v")).select("v.doc_id", "v.text")
    nt = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    normed = corpus.select("doc_id", nt.alias("nt"))
    ntc = F.col("nt")
    long_enough = F.length("nt") >= 64
    buckets = F.array_compact(
        F.array(
            F.when(
                ntc.isNotNull(), F.concat(F.lit("f:"), F.md5("nt"))
            ),
            F.when(
                long_enough, F.concat(F.lit("p:"), F.md5(F.left("nt", F.lit(64))))
            ),
            F.when(
                long_enough, F.concat(F.lit("s:"), F.md5(F.right("nt", F.lit(64))))
            ),
        )
    )
    membership = normed.select("doc_id", F.explode(buckets).alias("bucket"))
    # Persist the narrow (doc_id, bucket) rows: the star-edge and seed jobs
    # inside dedup_clusters each evaluate membership once, and each
    # evaluation replays the normalization regex over the corpus. The CC
    # loop checkpoints its labels, so the cache can be dropped on return.
    membership = membership.persist()
    membership.count()
    out = dedup_clusters(
        membership, id_col="doc_id", vertices=corpus
    ).select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size", "is_canonical"
    )
    membership.unpersist()
    return out


Q65_SQL = """
WITH RECURSIVE
tenth AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) || ' !!!' FROM tenth
  UNION ALL
  SELECT doc_id + 300000,
         left(text, 120) || ' qq unique tail ' || CAST(doc_id AS VARCHAR)
  FROM tenth
  UNION ALL
  SELECT doc_id + 400000,
         'zq head ' || CAST(doc_id AS VARCHAR) || ' ' || right(text, 160)
  FROM tenth),
normed AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM corpus),
rel AS (
  SELECT doc_id, 'f:' || md5(nt) AS h FROM normed WHERE nt IS NOT NULL
  UNION ALL
  SELECT doc_id, 'p:' || md5(left(nt, 64)) FROM normed WHERE length(nt) >= 64
  UNION ALL
  SELECT doc_id, 's:' || md5(right(nt, 64)) FROM normed WHERE length(nt) >= 64),
star AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS root FROM rel),
edges AS (SELECT DISTINCT doc_id AS a, root AS b FROM star WHERE doc_id <> root),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
walk(id, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id),
cc AS (SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id)
SELECT id AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (id = cluster_id) AS is_canonical
FROM cc
"""


# ---------------------------------------------------------------------------
# Q67 — adversarial-diameter dedup clustering: large-star/small-star CC
#       (connected_components_bigstar) on chain graphs
#       whose diameter defeats per-hop label propagation
# ---------------------------------------------------------------------------

def q67_chain_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-case cluster topology for label propagation: consecutive
    doc_ids within each 100-id block are linked pairwise (doc i shares a
    bucket with i+1), so every component is a PATH of diameter ~99 — the
    regime where q65's min-label algorithm needs one round per hop and
    its max_iters guard fires. connected_components_bigstar (the
    large-star/small-star alternation, Kiveris et al. SoCC'14) converges
    in O(log n) rounds independent of diameter, and — because rounds
    depend on diameter, not row count — runs the SAME ~10 rounds at sf0.01
    and at 10^12 rows. The closed-form oracle needs no recursion: path
    components over consecutive ids are gaps-and-islands (island =
    doc_id - row_number within block), robust to any doc_id gaps."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    membership = d.where(F.col("doc_id") % 100 != 99).select(
        "doc_id", F.col("doc_id").alias("bucket")
    ).unionByName(
        d.where(F.col("doc_id") % 100 != 0).select(
            "doc_id", (F.col("doc_id") - 1).alias("bucket")
        )
    )
    return dedup_clusters(
        membership,
        id_col="doc_id",
        vertices=d,
        algorithm="bigstar",
    ).select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size", "is_canonical"
    )


Q67_SQL = """
WITH i AS (
  SELECT doc_id, doc_id // 100 AS g,
         doc_id - ROW_NUMBER() OVER (PARTITION BY doc_id // 100
                                     ORDER BY doc_id) AS isl
  FROM documents)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY g, isl) AS cluster_id,
       COUNT(*) OVER (PARTITION BY g, isl) AS cluster_size,
       doc_id = MIN(doc_id) OVER (PARTITION BY g, isl) AS is_canonical
FROM i
"""


# ---------------------------------------------------------------------------
# Q68 — incremental dedup clustering protocol: batch-1 clusters + the
#       three-term incremental_membership for batch 2 must reproduce the
#       SAME closed-form chain clusters as a from-scratch run (q67),
#       without re-clustering batch 1's internal edges
# ---------------------------------------------------------------------------

def q68_incremental_chain_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-reclustering protocol (incremental_membership) under the hash gate. The q67 chain corpus is
    ingested in TWO batches — even doc_ids first, odd second; each doc
    emits only ITS OWN fingerprint rows ((d, d) links-to-next and
    (d, d-1) links-to-prev within its 100-id block), so batch 2 carries
    NO rows for the settled even docs. Batch 1 is clustered alone
    (even-doc pairs); batch 2 then goes through the three-term union —
    its own rows, the prior labels folded to one bucket per old cluster,
    and the retained index's rows semi-joined on batch-2 buckets (the
    bridge without which every odd doc strands as a singleton) — and the
    final clusters must hash-match the SAME gaps-and-islands oracle as
    the from-scratch q67 run. Both legs use the large-star/small-star
    algorithm (the final graph has diameter ~99)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    # bucket as string: the prior-label leg emits "prior:<cluster>"
    # string buckets, and the three-term union must be type-consistent
    emit = d.where(F.col("doc_id") % 100 != 99).select(
        "doc_id", F.col("doc_id").cast("string").alias("bucket")
    ).unionByName(
        d.where(F.col("doc_id") % 100 != 0).select(
            "doc_id", (F.col("doc_id") - 1).cast("string").alias("bucket")
        )
    )
    b1 = emit.where(F.col("doc_id") % 2 == 0)
    b2 = emit.where(F.col("doc_id") % 2 == 1)
    prior = dedup_clusters(
        b1,
        id_col="doc_id",
        vertices=d.where(F.col("doc_id") % 2 == 0),
        algorithm="bigstar",
    ).select("id", "cluster_id")
    inc_m = incremental_membership(
        b2,
        prior.withColumnRenamed("id", "doc_id"),
        retained_index=b1,
        id_col="doc_id",
    )
    return dedup_clusters(
        inc_m,
        id_col="doc_id",
        vertices=d,
        algorithm="bigstar",
    ).select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size", "is_canonical"
    )
