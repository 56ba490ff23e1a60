"""Gates over the engine's own checks and runner: column stats,
uniqueness, drift verdicts, sketches, referential integrity,
patterns, the constraint suite, mergeable states, the resumable
runtime and quarantine routing, and the classical two-sample and
correlation tests of ``checks/``."""

from __future__ import annotations

import os
import tempfile
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import baskerville_spark.generator as g
from baskerville_spark.checks import stats_state as SS
from baskerville_spark.checks import suite as S
from baskerville_spark.checks.drift import (
    EPS,
    KS_THRESHOLD,
    PSI_THRESHOLD,
    chi2_homogeneity,
    drift_verdicts,
    mutual_info,
    spearman_corr,
)
from baskerville_spark.checks.referential import ref_integrity_violations
from baskerville_spark.checks.schema_check import pattern_violations
from baskerville_spark.checks.stats import benford_digits, column_stats, zipf_fit
from baskerville_spark.checks.uniqueness import duplicate_keys
from baskerville_spark.gates.fixtures import (
    _DRIFT_COLS,
    _drift_agg_sql,
    _drift_fixture,
    _drift_frac,
    _gate_tmp_detach,
    _q21_sql,
    _shared_clip_fixture,
    _split_events_mod3,
    _stream_shuffle,
    _t,
    _verdict_grid,
)
from baskerville_spark.generator import GenConfig
from baskerville_spark.runtime import manifest as manifest_mod
from baskerville_spark.runtime.runner import (
    ValidationConfig,
    route_quarantine,
    run_resumable,
    run_validation,
    table_stats_from_states,
)


# ---------------------------------------------------------------------------
# Q8 — column-stats profile (engine operator; checks/stats.py)
# ---------------------------------------------------------------------------

_Q08_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q08_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    st = column_stats(li, part_col=None, numeric_cols=_Q08_COLS, other_cols=[])
    return st.select(
        "column_name",
        "count",
        "null_count",
        F.round("min", 4).alias("min_v"),
        F.round("max", 4).alias("max_v"),
    )


Q08_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS column_name, COUNT({c}) AS count,
        COUNT(*) - COUNT({c}) AS null_count,
        ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS min_v,
        ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS max_v FROM lineitem"""
    for c in _Q08_COLS
)


# ---------------------------------------------------------------------------
# Q9 — salted two-phase uniqueness (checks/uniqueness.py; north-rule skew op)
# ---------------------------------------------------------------------------

def q09_duplicate_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return duplicate_keys(o, key="o_custkey", scope_per_partition=False)


Q09_SQL = """
SELECT o_custkey, COUNT(*) AS dup_count FROM orders
GROUP BY o_custkey HAVING COUNT(*) > 1
"""


def q21_clip_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship engine suite: synthetic clip table → per-partition verdicts.

    Audio bytes can't live in the shared testdata, so the table is
    synthesized deterministically in-session (seeded; FIXTURES.md §1).

    ORACLE-CHECKED: every injected violation is a closed-form mod of the row
    index (generator.py DUP/SNR/TRANS/NULL/RANGE/RI/MP3 constants), so the
    expected verdict grid — (part, check) → passed + violation count — is
    reproduced arithmetically by ``_q21_sql()`` in DuckDB. The projection
    drops the one non-closed-form column (range checks' metric_value is the
    observed max, which rides the generator's rng) and keeps everything the
    north rule grades: per-partition pass/fail + violation counts + rates.
    """
    cfg = GenConfig(n_rows=1000, n_parts=4)
    # session-shared generated fixture: reading parquet replaces the old
    # generate+persist pair (no per-scan re-synthesis, no cache blocks)
    clips_p, tref_p = _shared_clip_fixture(spark, cfg)
    clips = spark.read.parquet(clips_p)
    tref = spark.read.parquet(tref_p)
    res = run_validation(spark, clips, tref, cfg=ValidationConfig())
    verdicts = _verdict_grid(res.verdicts)
    # materialize the (tiny) verdicts while the upstream caches are alive,
    # then release everything so repeated queries() runs in one session
    # (the driver harness, bench.py) don't accumulate cached blocks
    out = verdicts.persist()
    out.count()
    res.unpersist()
    return out


Q21_SQL = _q21_sql()


def q44_drift_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI + binned-KS drift verdicts against a LITERAL baseline snapshot
    (checks/drift.py math, previously pytest-only — this gate oracle-checks
    the numerics). Partitions are week-of-month slices of the events table;
    the baseline is a declared reference distribution (fixed bin edges +
    fractions), the production shape where the snapshot comes from a
    baseline table rather than percentile sketches (whose internals are
    engine-private and belong to capture_baseline's own tests).
    ONE scan + ONE shuffle: all buckets of both columns are conditional
    sums in a single groupBy(part).agg(...)."""
    v = drift_verdicts(*_drift_fixture(spark, sf_dir))
    return v.select(
        "part_id",
        "check_name",
        F.col("passed").cast("int").alias("passed"),
        F.round("metric_value", 6).alias("metric"),
        "threshold",
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def _q44_sql() -> str:
    """The PSI/KS arithmetic restated in SQL from the same literals —
    clamp-at-EPS PSI terms and prefix-sum binned KS, matching
    checks/drift.py's fold-left evaluation order exactly."""
    def psi_expr(pfx: str, n: str, base: list[float], nb: int) -> str:
        terms = []
        for i in range(nb):
            p = f"GREATEST({_drift_frac(pfx, i, n)}, {repr(EPS)})"
            q = repr(max(base[i], EPS))
            terms.append(f"(({p}) - {q}) * LN(({p}) / {q})")
        return " + ".join(terms)

    def ks_expr(pfx: str, n: str, base: list[float], nb: int) -> str:
        diffs = []
        for i in range(1, nb + 1):
            pcdf = " + ".join(_drift_frac(pfx, j, n) for j in range(i))
            qcdf = repr(sum(base[:i]))  # same Python fold as drift_verdicts
            diffs.append(f"ABS(({pcdf}) - {qcdf})")
        return "GREATEST(" + ", ".join(diffs) + ")" if len(diffs) > 1 else diffs[0]

    blocks = []
    for col, pfx, n, base in _DRIFT_COLS:
        for metric, expr_fn, thr in (
            ("psi", psi_expr, PSI_THRESHOLD),
            ("ks", ks_expr, KS_THRESHOLD),
        ):
            m = expr_fn(pfx, n, base, len(base))
            blocks.append(f"""
SELECT part_id, '{metric}:{col}' AS check_name,
       CAST(({m}) <= {repr(thr)} AS INT) AS passed,
       ROUND(({m}), 6) AS metric,
       CAST({repr(thr)} AS DOUBLE) AS threshold,
       CAST({n} AS BIGINT) AS n_rows
FROM agg""")
    union = "\nUNION ALL\n".join(blocks)
    return f"{_drift_agg_sql()}\n{union}\n"


Q44_SQL = _q44_sql()


# ---------------------------------------------------------------------------
# Q46 — sketch-accuracy gate: the approximate aggregates (HLL distinct,
#       KLL-style quantiles) graded against exact answers with their
#       published error bounds
# ---------------------------------------------------------------------------

def q46_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grade the two sketch operators that previously had only toy
    pytest coverage: ``approx_count_distinct`` (HLL++ — the north rule's
    scale substitute for the reference's exact countDistinct,
    src/baskerville/features/feature_unique_ua_total.py:28) and
    ``percentile_approx`` (KLL-style quantile sketch used by
    checks.stats.column_stats).

    Emits one verdict row per (column, check): the EXACT value (reproducible
    in DuckDB) plus passed=1 when the sketch landed inside its error bound —
    |approx_distinct − exact|/exact ≤ 3·rsd for HLL, and for each quantile q
    the approx value's rank interval [count(<v), count(≤v)]/n must overlap
    [q − slack, q + slack] with slack = 2/accuracy + 1/n (the sketch's rank
    guarantee is 1/accuracy). The oracle emits the same exact values with
    passed=1 literally, so a sketch outside its bound breaks the hash gate.

    Plan: THREE single-pass aggregations over lineitem, none of them
    Expanded. Sketches + quantiles ride one ordinary agg (HLL and
    percentile sketches are regular aggregates — no Expand). The exact
    multi-column COUNT(DISTINCT) deliberately does NOT share that agg: a
    multi-distinct agg plans as an Expand (one input copy per distinct
    column — measured 10.6 s vs 6 s at sf0.1), so the exact counts come
    from a melt instead — explode the columns to (name, value) rows and
    two hash-aggregate levels, one scan for every column. The rank pass
    sends O(#columns) scalars to the driver, never rows. The exact-distinct
    cost lives only in this audit query — the production stats path
    (checks/stats.py) carries ONLY the sketches for exactly that reason.
    """
    dcols = ["l_orderkey", "l_partkey", "l_suppkey"]
    qcols = ["l_quantity", "l_extendedprice", "l_discount"]
    # project to the six audited columns BEFORE the repartition: the
    # exchange previously shuffled all 16 lineitem columns (guide §2.3,
    # "project before the exchange")
    li = _t(spark, sf_dir, "lineitem").select(*dcols, *qcols).repartition(
        spark.sparkContext.defaultParallelism  # single-file scan artifact
    )
    qs = [0.25, 0.5, 0.75]
    rsd, acc = 0.02, 10_000

    aggs = []
    for c in dcols:
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"{c}__apx"))
    for c in qcols:
        cd = F.col(c).cast("double")
        aggs += [
            F.percentile_approx(cd, [float(x) for x in qs], acc).alias(f"{c}__apxq"),
            F.percentile(cd, [float(x) for x in qs]).alias(f"{c}__exq"),
            F.count(cd).alias(f"{c}__n"),
        ]
    melted = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("n"), F.col(c).cast("bigint").alias("v"))
                    for c in dcols
                ]
            )
        ).alias("kv")
    ).select("kv.*")
    melted_agg = melted.groupBy("n").agg(F.count_distinct("v").alias("exact"))

    # the sketch pass and the exact-distinct melt are independent scans —
    # collect them CONCURRENTLY so one's task tail back-fills the other
    # (guide §2.6); the rank pass below genuinely depends on row1.

    with ThreadPoolExecutor(2) as pool:
        f_row1 = pool.submit(lambda: li.agg(*aggs).collect()[0])
        f_exact = pool.submit(melted_agg.collect)
        row1 = f_row1.result()
        exact_d = {r["n"]: r["exact"] for r in f_exact.result()}

    rank_aggs = []
    for c in qcols:
        cd = F.col(c).cast("double")
        for i in range(len(qs)):
            v = float(row1[f"{c}__apxq"][i])
            rank_aggs += [
                F.sum((cd <= v).cast("long")).alias(f"{c}__le{i}"),
                F.sum((cd < v).cast("long")).alias(f"{c}__lt{i}"),
            ]
    row2 = li.agg(*rank_aggs).collect()[0]

    out = []
    for c in dcols:
        apx, exact = row1[f"{c}__apx"], exact_d[c]
        passed = abs(apx - exact) / exact <= 3 * rsd
        out.append((c, "approx_distinct", float(exact), int(passed)))
    for c in qcols:
        n = row1[f"{c}__n"]
        slack = 2.0 / acc + 1.0 / n
        for i, q in enumerate(qs):
            exact_v = round(float(row1[f"{c}__exq"][i]), 4)
            lo, hi = row2[f"{c}__lt{i}"] / n, row2[f"{c}__le{i}"] / n
            passed = (lo <= q + slack) and (hi >= q - slack)
            out.append((c, f"quantile_{int(q * 100)}", exact_v, int(passed)))
    return spark.createDataFrame(
        out, "column_name string, check_name string, exact_value double, passed int"
    )


def _q46_sql() -> str:
    dcols = ["l_orderkey", "l_partkey", "l_suppkey"]
    qcols = ["l_quantity", "l_extendedprice", "l_discount"]
    qs = [0.25, 0.5, 0.75]
    parts = [
        f"SELECT '{c}' AS column_name, 'approx_distinct' AS check_name, "
        f"CAST(COUNT(DISTINCT {c}) AS DOUBLE) AS exact_value, 1 AS passed "
        f"FROM lineitem"
        for c in dcols
    ]
    for c in qcols:
        for q in qs:
            parts.append(
                f"SELECT '{c}', 'quantile_{int(q * 100)}', "
                f"ROUND(CAST(quantile_cont(CAST({c} AS DOUBLE), {q}) AS DOUBLE), 4), 1 "
                f"FROM lineitem"
            )
    return "\nUNION ALL\n".join(parts)


Q46_SQL = _q46_sql()


# ---------------------------------------------------------------------------
# Q48 — referential-integrity check under the hash gate: broadcast anti-join
#       violation rows over a fixture with deterministically planted orphans
# ---------------------------------------------------------------------------

def q48_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Puts ``checks.referential.ref_integrity_violations`` (the engine's FK
    check — the correct form of the reference's per-row MISP lookup UDF,
    src/baskerville/spark/udfs.py:233-253, and whitelist broadcast anti-join,
    tasks.py:624-660) under the DuckDB hash gate. Fixture: orders is the
    fact table keyed on o_custkey, customer the dim; every order with
    o_orderkey ≡ 0 (mod 97) gets its custkey shifted by +1,000,000 — a
    deterministic orphan the oracle reproduces with the same arithmetic.
    The violation rows (part_id, key, check_name, detail) must match
    exactly: a green row proves the broadcast left_anti returns precisely
    the orphaned keys, partition attribution included. The fact side is
    projected to (part, key) before the join — payloads never shuffle."""
    fact = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).cast("int").alias("part_id"),
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 1_000_000
        ).otherwise(F.col("o_custkey")).alias("fk"),
    )
    dim = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("fk"))
    return ref_integrity_violations(
        fact, dim, key="fk", strategy="broadcast"
    ).withColumnRenamed("clip_id", "fk")


Q48_SQL = """
WITH fact AS (
  SELECT CAST(o_orderkey % 4 AS INTEGER) AS part_id,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
              ELSE o_custkey END AS fk
  FROM orders)
SELECT part_id, fk, 'ref_integrity' AS check_name,
       'clip_id missing from transcript_ref' AS detail
FROM fact ANTI JOIN customer ON fact.fk = customer.c_custkey
"""


def q50_pattern_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pattern_violations`` under the hash gate: the check the reference
    DECLARED in its schema doc but never ran (log_schema.json patterns —
    SURVEY §1.2 gap, enforced here as native rlike). Fixture plants
    deterministic mismatches: source corrupted to 'bad <source>' for
    doc_id ≡ 0 (mod 17) against pattern ^src[0-9]+$, lang uppercased for
    doc_id ≡ 0 (mod 23) against ^[a-z]{2}$. Single scan for BOTH pattern
    columns (when→struct→array_compact→explode — docs/PLANS.md); the
    oracle brute-forces each pattern as a separate filtered SELECT, so a
    green row proves the one-scan form emits exactly the per-column
    violation rows."""
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("part_id"),
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.lit("bad "), F.col("source"))
        ).otherwise(F.col("source")).alias("source"),
        F.when(F.col("doc_id") % 23 == 0, F.upper(F.col("lang")))
        .otherwise(F.col("lang")).alias("lang"),
    )
    patterns = {"source": "^src[0-9]+$", "lang": "^[a-z]{2}$"}
    return pattern_violations(d, patterns, key="doc_id")


Q50_SQL = """
WITH d AS (
  SELECT CAST(doc_id % 4 AS INTEGER) AS part_id, doc_id,
         CASE WHEN doc_id % 17 = 0 THEN 'bad ' || source ELSE source END AS source,
         CASE WHEN doc_id % 23 = 0 THEN upper(lang) ELSE lang END AS lang
  FROM documents)
SELECT part_id, doc_id AS clip_id, 'pattern:source' AS check_name,
       'value=' || source AS detail
FROM d WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')
UNION ALL
SELECT part_id, doc_id, 'pattern:lang', 'value=' || lang
FROM d WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$')
"""


# ---------------------------------------------------------------------------
# Q61 — resumable runtime under the hash gate (north rule: "resumable from
#       checkpoint with per-partition lineage"; reference Runtime ledger
#       db/models.py:41-75, completion update base_spark.py:567-579)
# ---------------------------------------------------------------------------

def q61_resume_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21's closed-form verdict grid, produced across TWO interrupted runs
    of the resumable runtime plus an idempotence probe.

    tests/test_resume.py is the unit version of this protocol; the gate puts
    it under the DuckDB hash oracle:
      1. partitions {2,3} are planted as done in the manifest, so run A's
         pending set is {0,1} — only the pending ``part_id=N`` directories
         are read, so finished parts never enter the scan.
      2. the planted marks are removed — the "crash": those two partitions
         never actually committed.
      3. run B resumes and must validate exactly {2,3}.
      4. run C must find nothing pending (idempotence).
    The union of the two runs' persisted verdict partitions must equal the
    same closed-form oracle as q21 — a resumed job loses nothing and
    duplicates nothing. The split can't change any verdict: every check
    aggregates within a partition (uniqueness is keyed (part_id, clip_id);
    stats/null-rate/range/SNR/RI/pattern are per-part by construction), so
    validating {0,1} and {2,3} in separate jobs is the same grid as one job.
    """
    cfg = GenConfig(n_rows=1000, n_parts=4)
    tmp = tempfile.mkdtemp(prefix="bsk_q61_")
    # clip table + transcript dim come from the session-shared read-only
    # fixture; this gate's mutable state (manifest, out) stays private
    clips_p, tref_p = _shared_clip_fixture(spark, cfg)
    man_p, out_p = f"{tmp}/manifest", f"{tmp}/out"

    started = datetime.now(timezone.utc)
    for p in (2, 3):
        manifest_mod.commit_partition(man_p, p, 0, 0, started)
    run_a = run_resumable(spark, clips_p, man_p, out_p, tref_p,
                          cfg=ValidationConfig())
    if run_a != [0, 1]:
        raise RuntimeError(f"run A expected [0, 1], got {run_a}")
    for p in (2, 3):  # the crash: planted commits never really happened
        os.remove(os.path.join(man_p, f"part-{p:05d}.parquet"))
    run_b = run_resumable(spark, clips_p, man_p, out_p, tref_p,
                          cfg=ValidationConfig())
    if run_b != [2, 3]:
        raise RuntimeError(f"run B expected [2, 3], got {run_b}")
    run_c = run_resumable(spark, clips_p, man_p, out_p, tref_p,
                          cfg=ValidationConfig())
    if run_c:
        raise RuntimeError(f"run C expected [], got {run_c}")

    verdicts = spark.read.parquet(f"{out_p}/verdicts")
    return _gate_tmp_detach(_verdict_grid(verdicts), tmp)


# --------------------------------------------------------------------------
# q98: quarantine routing — clean/quarantine split with reason codes
# --------------------------------------------------------------------------


def q98_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing gate over the q21 fixture: run the validation suite, split
    the input into clean vs quarantine around the violations table, and
    summarize per partition — n_clean + n_quarantined must exactly
    partition the 250 rows (every physical copy of a duplicated key routes
    to quarantine), and n_multi_reason counts quarantined rows whose key
    violated ≥2 checks (mp3 rows always: pattern:codec + decode_error;
    plus any mod-class overlaps). The oracle rebuilds the violating-id set
    from the generator's mods, maps each physical row through the dup-id
    aliasing (a dup row shares its predecessor's id, so it inherits that
    id's reasons), and recounts."""
    cfg = GenConfig(n_rows=1000, n_parts=4)
    # session-shared generated fixture (read-only parquet; no re-synthesis)
    clips_p, tref_p = _shared_clip_fixture(spark, cfg)
    clips = spark.read.parquet(clips_p)
    tref = spark.read.parquet(tref_p)
    res = run_validation(spark, clips, tref, cfg=ValidationConfig())
    clean, quar = route_quarantine(clips, res.violations)
    summary = (
        clean.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_clean"))
        .join(
            quar.groupBy("part_id").agg(
                F.count(F.lit(1)).alias("n_quarantined"),
                F.sum((F.size("reasons") >= 2).cast("long")).alias("n_multi_reason"),
            ),
            "part_id",
            "full_outer",
        )
        .select(
            F.col("part_id").cast("int").alias("part_id"),
            F.coalesce("n_clean", F.lit(0)).cast("long").alias("n_clean"),
            F.coalesce("n_quarantined", F.lit(0)).cast("long").alias("n_quarantined"),
            F.coalesce("n_multi_reason", F.lit(0)).cast("long").alias("n_multi_reason"),
            (F.coalesce("n_clean", F.lit(0)) + F.coalesce("n_quarantined", F.lit(0)))
            .cast("long")
            .alias("n_rows"),
        )
    )
    out = summary.persist()
    out.count()
    res.unpersist()
    return out


# Violating-id set from the generator mods (same flag algebra as
# _q21_sql), pushed through the dup-id aliasing to physical rows.
Q98_SQL = f"""
WITH idx AS (SELECT unnest(generate_series(0, 999)) AS i),
fl AS (
  SELECT i,
    CAST(least(3, (i*4)//1000) AS INT) AS part_id,
    (least(3, (i*4)//1000) = 0) AS clean,
    (i > 0 AND i % {g.DUP_MOD} = {g.DUP_OFF}
       AND least(3, (i*4)//1000) <> 0
       AND least(3, (i*4)//1000) = least(3, ((i-1)*4)//1000)) AS dup,
    (i % {g.SNR_MOD} = {g.SNR_OFF}) AS snr_m,
    (i % {g.TRANS_MOD} = {g.TRANS_OFF}) AS trans_m,
    (i % {g.RI_MOD} = {g.RI_OFF}) AS ri_m,
    (least(3, (i*4)//1000) = 3 AND i % {g.SNR_MOD} <> {g.SNR_OFF}
       AND i % {g.MP3_MOD} = {g.MP3_OFF}) AS mp3
  FROM idx),
fl2 AS (
  SELECT i, part_id,
    CASE WHEN dup THEN i - 1 ELSE i END AS cid,
    dup,
    (NOT clean AND snr_m) AS snr_eff,
    (NOT clean AND trans_m AND NOT (ri_m AND NOT dup)) AS trans_eff,
    (NOT clean AND ri_m AND NOT dup) AS ri_eff,
    mp3
  FROM fl),
ids AS (
  SELECT part_id, cid,
    MAX(CASE WHEN dup THEN 1 ELSE 0 END)
      + MAX(CASE WHEN snr_eff THEN 1 ELSE 0 END)
      + MAX(CASE WHEN trans_eff THEN 1 ELSE 0 END)
      + MAX(CASE WHEN ri_eff THEN 1 ELSE 0 END)
      + 2 * MAX(CASE WHEN mp3 THEN 1 ELSE 0 END) AS n_reasons
  FROM fl2 GROUP BY part_id, cid),
rows_q AS (
  SELECT f.part_id,
    (d.n_reasons > 0) AS quarantined,
    (d.n_reasons >= 2) AS multi
  FROM fl2 f JOIN ids d ON f.part_id = d.part_id AND f.cid = d.cid)
SELECT part_id,
       CAST(SUM(CASE WHEN NOT quarantined THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(CASE WHEN quarantined AND multi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_reason,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM rows_q GROUP BY part_id
"""


# --------------------------------------------------------------------------
# q118: declarative constraint suite — k rules, ONE aggregation pass
# (checks/suite.py). The reference runs one pipeline stage per quality rule
# (src/baskerville/features/feature_*.py, one class+pass per metric); here
# eight constraints of six kinds (completeness / bounds / regex / set
# membership / SQL predicate / mean window / two HLL distinct floors)
# compile into a single groupBy(part).agg(...) — one scan, one exchange,
# verdicts unpivoted by a Project (plan-asserted in test_checks.py).
# --------------------------------------------------------------------------


def q118_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suite gate over documents with planted violations: doc_id%19 text
    nulls (completeness), doc_id%23 'EN-US' lang (regex + membership),
    natural n_chars spread (bounds/predicate/mean). The two approx-distinct
    floors sit >=37% from any per-part cardinality at every sf, far beyond
    the HLL rsd (~2.3%), so their verdicts are deterministic and the raw
    estimate never enters a hashed column (metric_value NULL by design)."""
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("part_id"),
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") % 19 == 0, F.lit(None))
        .otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 23 == 0, F.lit("EN-US"))
        .otherwise(F.col("lang")).alias("lang"),
    )
    cons = [
        S.completeness("text_complete", "text", max_null_rate=0.10),
        S.bounds("chars_bounds", "n_chars", 100, 600, max_rate=0.25),
        S.pattern("lang_2letter", "lang", "^[a-z]{2}$"),
        S.membership("lang_known", "lang",
                     ["en", "zh", "es", "de", "fr"], max_rate=0.30),
        S.predicate("long_docs", "n_chars >= 100", max_rate=0.9),
        S.mean_between("chars_mean", "n_chars", 100.0, 400.0),
        S.approx_distinct_min("doc_distinct", "doc_id", 5),
        S.approx_distinct_min("doc_distinct_impossible", "doc_id", 10**9),
    ]
    return S.run_suite(d, cons, group_by=["part_id"])


Q118_SQL = """
WITH d AS (
  SELECT CAST(doc_id % 4 AS INT) AS part_id, doc_id, n_chars,
         CASE WHEN doc_id % 19 = 0 THEN NULL ELSE text END AS text,
         CASE WHEN doc_id % 23 = 0 THEN 'EN-US' ELSE lang END AS lang
  FROM documents),
a AS (
  SELECT part_id,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_compl,
         CAST(SUM(CASE WHEN n_chars < 100 OR n_chars > 600 THEN 1 ELSE 0 END) AS BIGINT) AS v_bounds,
         CAST(COUNT(lang) AS BIGINT) AS n_lang,
         CAST(SUM(CASE WHEN lang IS NOT NULL
                        AND NOT regexp_matches(lang, '^[a-z]{2}$')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_pat,
         CAST(SUM(CASE WHEN lang IS NOT NULL
                        AND lang NOT IN ('en','zh','es','de','fr')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_memb,
         CAST(SUM(CASE WHEN NOT COALESCE(n_chars >= 100, FALSE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_pred,
         CAST(COUNT(n_chars) AS BIGINT) AS n_chars_n,
         CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
  FROM d GROUP BY part_id)
SELECT part_id, 'text_complete' AS check_name, 'text' AS col_name,
       (CAST(v_compl AS DOUBLE) / greatest(n_all, 1)) <= 0.10 AS passed,
       CAST(v_compl AS DOUBLE) / greatest(n_all, 1) AS metric_value,
       CAST(0.10 AS DOUBLE) AS threshold, n_all AS n_rows, v_compl AS n_violations
FROM a
UNION ALL
SELECT part_id, 'chars_bounds', 'n_chars',
       (CAST(v_bounds AS DOUBLE) / greatest(n_all, 1)) <= 0.25,
       CAST(v_bounds AS DOUBLE) / greatest(n_all, 1), CAST(0.25 AS DOUBLE), n_all, v_bounds
FROM a
UNION ALL
SELECT part_id, 'lang_2letter', 'lang',
       (CAST(v_pat AS DOUBLE) / greatest(n_lang, 1)) <= 0.0,
       CAST(v_pat AS DOUBLE) / greatest(n_lang, 1), CAST(0.0 AS DOUBLE), n_lang, v_pat
FROM a
UNION ALL
SELECT part_id, 'lang_known', 'lang',
       (CAST(v_memb AS DOUBLE) / greatest(n_lang, 1)) <= 0.30,
       CAST(v_memb AS DOUBLE) / greatest(n_lang, 1), CAST(0.30 AS DOUBLE), n_lang, v_memb
FROM a
UNION ALL
SELECT part_id, 'long_docs', CAST(NULL AS VARCHAR),
       (CAST(v_pred AS DOUBLE) / greatest(n_all, 1)) <= 0.9,
       CAST(v_pred AS DOUBLE) / greatest(n_all, 1), CAST(0.9 AS DOUBLE), n_all, v_pred
FROM a
UNION ALL
SELECT part_id, 'chars_mean', 'n_chars',
       (CAST(chars_sum AS DOUBLE) / greatest(n_chars_n, 1)) >= 100.0
         AND (CAST(chars_sum AS DOUBLE) / greatest(n_chars_n, 1)) <= 400.0,
       CAST(chars_sum AS DOUBLE) / greatest(n_chars_n, 1), CAST(0.0 AS DOUBLE), n_chars_n,
       CAST(NULL AS BIGINT)
FROM a
UNION ALL
SELECT part_id, 'doc_distinct', 'doc_id',
       n_distinct >= 5, CAST(NULL AS DOUBLE), CAST(5.0 AS DOUBLE), n_chars_n,
       CAST(NULL AS BIGINT)
FROM a
UNION ALL
SELECT part_id, 'doc_distinct_impossible', 'doc_id',
       n_distinct >= 1000000000, CAST(NULL AS DOUBLE), CAST(1000000000.0 AS DOUBLE),
       n_chars_n, CAST(NULL AS BIGINT)
FROM a
"""


# --------------------------------------------------------------------------
# q119: mergeable stats state (checks/stats_state.py) — table-level stats
# assembled by merging per-batch state rows instead of rescanning settled
# data. The gate splits documents into 3 ingest batches, computes one state
# per batch, merges, and must reproduce the full-scan stats EXACTLY for
# every scalar field; the HLL distinct estimate is consumed as a verdict
# with 12-sigma margin (10% window vs 0.81% rsd at lg_k=14) so the hashed
# row is deterministic. Reference contrast: base_spark.py:445-458 always
# re-aggregates the whole window.
# --------------------------------------------------------------------------


def q119_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("part_id"),
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit(None))
        .otherwise(F.col("n_chars")).alias("n_chars"),
    )
    # three disjoint ingest batches, one tiny state row-set each
    states = None
    for i in range(3):
        s = SS.stats_state(
            d.filter(F.col("doc_id") % 3 == i),
            ["part_id"], ["n_chars"], ["doc_id"],
        )
        states = s if states is None else states.unionByName(s)
    merged = SS.merge_stats_states(states, ["part_id"], ["n_chars"], ["doc_id"])
    fin = SS.finalize_stats(merged, ["doc_id"])
    exact = d.groupBy("part_id").agg(F.countDistinct("doc_id").alias("nd"))
    return fin.join(exact, "part_id").select(
        "part_id", "n_rows", "n_chars_n", "n_chars_nulls",
        "n_chars_min", "n_chars_max", "n_chars_sum",
        (
            (F.col("doc_id_distinct_est") >= 0.9 * F.col("nd"))
            & (F.col("doc_id_distinct_est") <= 1.1 * F.col("nd"))
        ).alias("distinct_ok"),
    )


Q119_SQL = """
WITH d AS (
  SELECT CAST(doc_id % 4 AS INT) AS part_id, doc_id,
         CASE WHEN doc_id % 19 = 0 THEN NULL ELSE n_chars END AS n_chars
  FROM documents)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(n_chars) AS BIGINT) AS n_chars_n,
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_chars_nulls,
       MIN(n_chars) AS n_chars_min,
       MAX(n_chars) AS n_chars_max,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
       TRUE AS distinct_ok
FROM d GROUP BY part_id
"""


# --------------------------------------------------------------------------
# q120: mergeable histogram state (checks/stats_state.py) — exact binned
# distributions that fold by element-wise long sum, so quantile bounds and
# PSI drift come from per-batch states with ZERO rescans of settled data
# (the incremental complement of q44's full-scan drift). Baseline = ingest
# batch 0's state; current = batches 1+2 merged. Bin counts are exact longs
# (hash-exact), p50 bounds are integer-arithmetic-exact, PSI is rounded to
# 6dp with the SQL restating checks/drift._clamped_psi's fold order (the
# q44 convention). The top [800,inf) bin is empty at test SF — the EPS
# clamp path is live. Reference contrast: base_spark.py:445-458 always
# re-aggregates the whole window.
# --------------------------------------------------------------------------

_Q120_EDGES = [100.0, 200.0, 300.0, 400.0, 800.0]


def q120_histogram_drift_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    hc = {"n_chars": _Q120_EDGES}
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("part_id"),
        "doc_id", "n_chars",
    )
    # batch 0 is the baseline snapshot's state; 1 and 2 arrive later and
    # are folded WITHOUT touching batch-0 rows again.
    st = [
        SS.stats_state(
            d.filter(F.col("doc_id") % 3 == i), ["part_id"], [], hist_cols=hc
        )
        for i in range(3)
    ]
    base = st[0].select(
        "part_id", F.col("n_chars_hist").alias("base_hist")
    )
    cur = SS.merge_stats_states(
        st[1].unionByName(st[2]), ["part_id"], [], hist_cols=hc
    )
    lo, hi = SS.histogram_quantile_bounds(
        F.col("n_chars_hist"), 0.5, _Q120_EDGES
    )
    j = cur.join(base, "part_id")
    nb = len(_Q120_EDGES) + 1
    return j.select(
        "part_id",
        F.col("n_rows").alias("cur_rows"),
        *[
            F.element_at("n_chars_hist", i + 1).alias(f"bin_{i}")
            for i in range(nb)
        ],
        lo.alias("p50_lo"),
        hi.alias("p50_hi"),
        F.round(
            SS.histogram_psi(F.col("n_chars_hist"), F.col("base_hist")), 6
        ).alias("psi"),
        F.round(
            SS.histogram_ks(F.col("n_chars_hist"), F.col("base_hist"), nb), 6
        ).alias("ks"),
    )


def _q120_sql() -> str:
    edges = _Q120_EDGES
    nb = len(edges) + 1
    bucket = " + ".join(
        f"(CASE WHEN n_chars >= {repr(e)} THEN 1 ELSE 0 END)" for e in edges
    )

    def sums(pfx: str) -> str:
        return ",\n    ".join(
            f"CAST(SUM(CASE WHEN n_chars IS NOT NULL AND ({bucket}) = {i}"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS {pfx}{i}"
            for i in range(nb)
        )

    cur_total = " + ".join(f"c{i}" for i in range(nb))
    base_total = " + ".join(f"b{i}" for i in range(nb))
    # smallest k (1-based) whose prefix sum reaches ceil(0.5*total)
    k_cases = " ".join(
        f"WHEN {' + '.join(f'c{j}' for j in range(i + 1))} >= t THEN {i + 1}"
        for i in range(nb)
    )
    hi_cases = " ".join(
        f"WHEN k = {i + 1} THEN CAST({repr(edges[i])} AS DOUBLE)"
        for i in range(len(edges))
    )
    psi_terms = []
    for i in range(nb):
        p = f"GREATEST(c{i} * 1.0 / GREATEST(ct, 1), {repr(EPS)})"
        q = f"GREATEST(b{i} * 1.0 / GREATEST(bt, 1), {repr(EPS)})"
        psi_terms.append(f"(({p}) - ({q})) * LN(({p}) / ({q}))")
    psi = " + ".join(psi_terms)
    # binned KS: same left-fold prefix order as stats_state.histogram_ks
    ks_diffs = []
    for i in range(1, nb + 1):
        cur_cdf = " + ".join(
            f"(c{j} * 1.0 / GREATEST(ct, 1))" for j in range(i)
        )
        base_cdf = " + ".join(
            f"(b{j} * 1.0 / GREATEST(bt, 1))" for j in range(i)
        )
        ks_diffs.append(f"ABS(({cur_cdf}) - ({base_cdf}))")
    ks = f"GREATEST({', '.join(ks_diffs)})"
    bins = ",\n       ".join(f"c{i} AS bin_{i}" for i in range(nb))
    return f"""
WITH d AS (
  SELECT CAST(doc_id % 4 AS INT) AS part_id, doc_id, n_chars FROM documents),
cur AS (
  SELECT part_id, CAST(COUNT(*) AS BIGINT) AS cur_rows,
    {sums('c')}
  FROM d WHERE doc_id % 3 IN (1, 2) GROUP BY part_id),
base AS (
  SELECT part_id,
    {sums('b')}
  FROM d WHERE doc_id % 3 = 0 GROUP BY part_id),
kd AS (
  SELECT cur.*, base.* EXCLUDE (part_id),
         {cur_total} AS ct, {base_total} AS bt,
         GREATEST(CAST(CEIL(0.5 * ({cur_total})) AS BIGINT), 1) AS t
  FROM cur JOIN base USING (part_id)),
kk AS (
  SELECT *, CASE {k_cases} END AS k FROM kd)
SELECT part_id, cur_rows,
       {bins},
       CASE WHEN k > 1 THEN (CASE {' '.join(f'WHEN k - 1 = {i + 1} THEN CAST({repr(edges[i])} AS DOUBLE)' for i in range(len(edges)))} END) END AS p50_lo,
       CASE WHEN k <= {len(edges)} THEN (CASE {hi_cases} END) END AS p50_hi,
       ROUND({psi}, 6) AS psi,
       ROUND({ks}, 6) AS ks
FROM kk
"""


Q120_SQL = _q120_sql()


# --------------------------------------------------------------------------
# q121: runner-integrated mergeable states — the resumable protocol itself
# (plant-done → crash → resume, q61's shape) now WRITES per-partition state
# rows ({out}/states, ValidationConfig.state_hist_edges), and
# table_stats_from_states folds them into table-level stats without ever
# rescanning settled partitions. Unlike q61's closed-form oracle, the clip
# table here is DERIVED deterministically from the documents testdata, so
# DuckDB recomputes every stat from the source rows — a data-dependent
# oracle over the full protocol: two interrupted runs' states must fold to
# exactly the one-scan answer. HLL distinct is consumed as a 10%-margin
# verdict (0.81% rsd at lg_k=14). Reference contrast: baskerville re-runs
# its full stats window per pipeline cycle (base_spark.py:445-458).
# --------------------------------------------------------------------------

_Q121_EDGES = [1000.0, 2000.0, 4000.0]


def _q121_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        (F.col("doc_id") % 4).cast("int").alias("part_id"),
        F.concat(F.lit("clip_"), F.col("doc_id")).alias("clip_id"),
        (F.lit(8000) + (F.col("doc_id") % 5) * 8000).cast("int").alias("sr_hz"),
        F.when(F.col("doc_id") % 19 == 0, F.lit(None))
        .otherwise(F.col("n_chars") * 10).cast("int").alias("dur_ms"),
        F.lit("pcm16").alias("codec"),
        F.col("text").alias("transcript"),
    )


def q121_state_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="bsk_q121_")
    clips_p, man_p, out_p = f"{tmp}/clips", f"{tmp}/manifest", f"{tmp}/out"
    _q121_clips(spark, sf_dir).write.partitionBy("part_id").parquet(clips_p)

    cfg = ValidationConfig(
        check_audio=False,
        state_hist_edges={"dur_ms": _Q121_EDGES},
    )
    started = datetime.now(timezone.utc)
    for p in (2, 3):
        manifest_mod.commit_partition(man_p, p, 0, 0, started)
    run_a = run_resumable(spark, clips_p, man_p, out_p, cfg=cfg)
    if run_a != [0, 1]:
        raise RuntimeError(f"run A expected [0, 1], got {run_a}")
    for p in (2, 3):  # the crash: planted commits never really happened
        os.remove(os.path.join(man_p, f"part-{p:05d}.parquet"))
    run_b = run_resumable(spark, clips_p, man_p, out_p, cfg=cfg)
    if run_b != [2, 3]:
        raise RuntimeError(f"run B expected [2, 3], got {run_b}")
    if run_resumable(spark, clips_p, man_p, out_p, cfg=cfg):
        raise RuntimeError("run C expected no pending partitions")

    folded = table_stats_from_states(spark, out_p, cfg)
    exact = _q121_clips(spark, sf_dir).agg(
        F.countDistinct("clip_id").alias("nd")
    )
    nb = len(_Q121_EDGES) + 1
    res = folded.crossJoin(exact).select(
        "n_rows",
        "sr_hz_n", "sr_hz_nulls", "sr_hz_min", "sr_hz_max", "sr_hz_sum",
        "dur_ms_n", "dur_ms_nulls", "dur_ms_min", "dur_ms_max", "dur_ms_sum",
        *[
            F.element_at("dur_ms_hist", i + 1).alias(f"bin_{i}")
            for i in range(nb)
        ],
        (
            (F.col("clip_id_distinct_est") >= 0.9 * F.col("nd"))
            & (F.col("clip_id_distinct_est") <= 1.1 * F.col("nd"))
        ).alias("distinct_ok"),
    )
    return _gate_tmp_detach(res, tmp)


def _q121_sql() -> str:
    edges = _Q121_EDGES
    nb = len(edges) + 1
    bucket = " + ".join(
        f"(CASE WHEN dur_ms >= {repr(e)} THEN 1 ELSE 0 END)" for e in edges
    )
    bins = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dur_ms IS NOT NULL AND ({bucket}) = {i}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS bin_{i}"
        for i in range(nb)
    )
    return f"""
WITH c AS (
  SELECT CAST(8000 + (doc_id % 5) * 8000 AS INT) AS sr_hz,
         CASE WHEN doc_id % 19 = 0 THEN NULL
              ELSE CAST(n_chars * 10 AS INT) END AS dur_ms
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(sr_hz) AS BIGINT) AS sr_hz_n,
       CAST(SUM(CASE WHEN sr_hz IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS sr_hz_nulls,
       MIN(sr_hz) AS sr_hz_min, MAX(sr_hz) AS sr_hz_max,
       CAST(SUM(sr_hz) AS BIGINT) AS sr_hz_sum,
       CAST(COUNT(dur_ms) AS BIGINT) AS dur_ms_n,
       CAST(SUM(CASE WHEN dur_ms IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS dur_ms_nulls,
       MIN(dur_ms) AS dur_ms_min, MAX(dur_ms) AS dur_ms_max,
       CAST(SUM(dur_ms) AS BIGINT) AS dur_ms_sum,
       {bins},
       TRUE AS distinct_ok
FROM c
"""


Q121_SQL = _q121_sql()


# --------------------------------------------------------------------------
# q123: continuous-ingest state maintenance — the streaming leg of the
# q119-q122 mergeable-state family. Each micro-batch appends ONE tiny
# stats_state row set via foreachBatch (batch_id stamped on every row:
# per-batch lineage; a production sink keys the write path by batchId so
# replayed batches overwrite instead of double-append — manifest.py's
# idempotence pattern); folding every appended state reproduces the
# whole-table stats EXACTLY. The measured column is floor(value*1000)
# (long) because double sums are order-dependent — the stats_state module
# doc's integral-columns discipline. >=2 real micro-batches asserted
# (maxFilesPerTrigger=1 + availableNow over 3 split files, q45's idiom).
# --------------------------------------------------------------------------


def q123_streaming_state_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.floor(F.col("value") * 1000).alias("value_mils"),
    )
    tmp = tempfile.mkdtemp(prefix="bsk_q123_")
    src, states_p = f"{tmp}/src", f"{tmp}/states"
    _split_events_mod3(e, src)

    seen_batches: list[int] = []

    def _append_state(batch: DataFrame, batch_id: int) -> None:
        st = SS.stats_state(
            batch, ["event_type"], ["value_mils"], ["user_id"]
        ).withColumn("batch_id", F.lit(batch_id))
        st.write.mode("append").parquet(states_p)
        seen_batches.append(int(batch_id))

    with _stream_shuffle(spark):
        stream = (
            spark.readStream.schema(
                "event_id long, event_type string, user_id long, value_mils long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_append_state)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(seen_batches) < 2:
        raise RuntimeError(
            f"expected >=2 micro-batches, saw {sorted(seen_batches)}"
        )

    states = spark.read.parquet(states_p)
    merged = SS.merge_stats_states(
        states, ["event_type"], ["value_mils"], ["user_id"]
    )
    fin = SS.finalize_stats(merged, ["user_id"])
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd")
    )
    res = fin.join(exact, "event_type").select(
        "event_type",
        "n_rows",
        "value_mils_n",
        "value_mils_nulls",
        "value_mils_min",
        "value_mils_max",
        "value_mils_sum",
        (
            (F.col("user_id_distinct_est") >= 0.9 * F.col("nd"))
            & (F.col("user_id_distinct_est") <= 1.1 * F.col("nd"))
        ).alias("distinct_ok"),
    )
    return _gate_tmp_detach(res, tmp)


Q123_SQL = """
WITH e AS (
  SELECT event_type, user_id,
         CAST(FLOOR(value * 1000) AS BIGINT) AS value_mils
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value_mils) AS BIGINT) AS value_mils_n,
       CAST(SUM(CASE WHEN value_mils IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS value_mils_nulls,
       MIN(value_mils) AS value_mils_min,
       MAX(value_mils) AS value_mils_max,
       CAST(SUM(value_mils) AS BIGINT) AS value_mils_sum,
       TRUE AS distinct_ok
FROM e GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q132 (q133 lives in gates/drift.py): classical two-sample tests —
# chi-squared homogeneity of a
# group's categorical mix vs the REST of the table, and Mann-Whitney U
# (tie-corrected rank-sum) of a group's numeric values vs the rest. The
# calibrated complements to the distance family (PSI q44, binned KS q97):
# chi2 for categorical mix shift (codec mix of one ingest batch vs the
# settled corpus), rank-sum for mean shift on heavy-tailed columns where
# a t-test's normality assumption fails. Spark plans: ONE full-data
# groupBy each; all contingency/rank algebra runs on the tiny cell frames
# (chi2: G*K cells with zero-cells restored by cross-join; U: value-domain
# cells with a TWO-PHASE distributed prefix sum — range blocks + collected
# block offsets, no single-task global window). 2U is exact bigint
# arithmetic (average ranks end in .5, so the gate hashes an integer, not
# a float); chi2 and z are ROUND(,6) in both engines.
# --------------------------------------------------------------------------


def q132_chi2_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = chi2_homogeneity(li, "l_linenumber", "l_returnflag")
    return out.select(
        "l_linenumber",
        F.round("chi2", 6).alias("chi2"),
        "dof",
        "n_group",
        "n_rest",
        F.round("cramers_v", 6).alias("cramers_v"),
    )


Q132_SQL = """
WITH cells AS (
  SELECT l_linenumber AS g, l_returnflag AS c, COUNT(*) AS o
  FROM lineitem GROUP BY 1, 2),
cat_tot AS (SELECT c, SUM(o) AS c_tot FROM cells GROUP BY c),
grp_tot AS (SELECT g, SUM(o) AS n_group FROM cells GROUP BY g),
n AS (SELECT SUM(o) AS n_all FROM cells),
filled AS (
  SELECT gt.g, ct.c, gt.n_group, ct.c_tot, n.n_all,
         COALESCE(cells.o, 0) AS o
  FROM grp_tot gt CROSS JOIN cat_tot ct CROSS JOIN n
  LEFT JOIN cells ON cells.g = gt.g AND cells.c = ct.c),
raw AS (
  SELECT g, n_group, n_all,
         SUM(
           POWER(o - n_group * c_tot / CAST(n_all AS DOUBLE), 2)
             / (n_group * c_tot / CAST(n_all AS DOUBLE))
           + POWER((c_tot - o)
                   - (n_all - n_group) * c_tot / CAST(n_all AS DOUBLE), 2)
             / ((n_all - n_group) * c_tot / CAST(n_all AS DOUBLE))
         ) AS chi2,
         CAST(COUNT(*) - 1 AS INT) AS dof
  FROM filled
  GROUP BY g, n_group, n_all)
SELECT g AS l_linenumber,
       ROUND(chi2, 6) AS chi2,
       dof,
       CAST(n_group AS BIGINT) AS n_group,
       CAST(n_all - n_group AS BIGINT) AS n_rest,
       ROUND(SQRT(chi2 / n_all), 6) AS cramers_v
FROM raw
"""


# --------------------------------------------------------------------------
# q135: Zipf power-law fit of the corpus token-frequency curve — the
# one-number corpus-health screen (template floods flatten the slope,
# broken dedup steepens it, low r² flags mismatched source mixtures).
# Spark plan: ONE explode→groupBy(token) full-data pass (map-side
# combined), TakeOrdered top-k, then the rank window + OLS sums run on a
# frame bounded by top_k — never the vocabulary. Oracle: the identical
# OLS restated in SQL over the identical deterministic ranking
# (count DESC, token ASC); slope/intercept/r2 ROUND(,6) in both engines
# (float sum order across the 500 fit points differs; ln() libm may
# differ in the last ulp — 1e-6 rounding absorbs both).
# --------------------------------------------------------------------------


def q135_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = zipf_fit(docs, "text")
    return out.select(
        "n_ranked",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


Q135_SQL = """
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tok2 AS (SELECT token FROM tok WHERE token <> ''),
top AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS r
  FROM (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token)
  ORDER BY cnt DESC, token ASC LIMIT 500),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(LN(r)) AS sx, SUM(LN(cnt)) AS sy,
         SUM(LN(r) * LN(cnt)) AS sxy,
         SUM(LN(r) * LN(r)) AS sxx,
         SUM(LN(cnt) * LN(cnt)) AS syy
  FROM top)
SELECT CAST(n AS BIGINT) AS n_ranked,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


# --------------------------------------------------------------------------
# q136: Spearman rank correlation (average-rank tie handling) — the
# metadata-consistency association check: monotone physical relationships
# (dur_ms vs payload bytes; here quantity vs extended price) must hold in
# RANKS regardless of the nonlinearity, so a weak rho flags mislabeled
# codecs/corrupt metadata that Pearson (distorted by the curve itself)
# and per-row bounds (blind to association) both miss. Spark plan: one
# value-domain count aggregate per column + the SHARED two-phase prefix
# sum (_prefix_counts), integer 2*avg_rank maps joined back, ONE Pearson
# aggregate over rank pairs. Oracle: identical average-rank construction
# in SQL; at gate scale every rank sum is an exact integer in float64,
# ROUND(,6) absorbs engine-side expression-shape differences.
# --------------------------------------------------------------------------


def q136_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select("n", F.round("rho", 6).alias("rho"))


Q136_SQL = """
WITH x AS (
  SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
ra AS (
  SELECT v, 2 * cnt_lt + cnt_eq + 1 AS r2 FROM (
    SELECT v, cnt_eq,
           COALESCE(SUM(cnt_eq) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt
    FROM (SELECT a AS v, COUNT(*) AS cnt_eq FROM x GROUP BY a))),
rb AS (
  SELECT v, 2 * cnt_lt + cnt_eq + 1 AS r2 FROM (
    SELECT v, cnt_eq,
           COALESCE(SUM(cnt_eq) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt
    FROM (SELECT b AS v, COUNT(*) AS cnt_eq FROM x GROUP BY b))),
j AS (
  SELECT CAST(ra.r2 AS DOUBLE) AS xa, CAST(rb.r2 AS DOUBLE) AS xb
  FROM x JOIN ra ON x.a = ra.v JOIN rb ON x.b = rb.v),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(xa) AS sa, SUM(xb) AS sb, SUM(xa * xb) AS sab,
         SUM(xa * xa) AS saa, SUM(xb * xb) AS sbb
  FROM j)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((n * sab - sa * sb)
             / SQRT((n * saa - sa * sa) * (n * sbb - sb * sb)), 6) AS rho
FROM s
"""


# --------------------------------------------------------------------------
# q137: mutual information between two categorical columns — the symmetric
# whole-table dependence screen next to q132's per-group chi2: a column
# that should be independent of a pipeline partition (codec vs shard)
# showing NMI >> 0 means the pipeline leaks structure into the data; a
# supposedly-derived pair with NMI ~ 0 flags corrupt metadata. ONE
# groupBy(a,b) full-data pass; marginals + the MI/entropy fold run on the
# observed |A|x|B| cell frame (zero cells contribute exactly 0 — no
# cross-join needed, unlike chi2). Oracle: identical construction in SQL;
# mi/h/nmi ROUND(,6) both sides (float sum order over the cell frame).
# --------------------------------------------------------------------------


def q137_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = mutual_info(li, "l_returnflag", "l_linestatus")
    return out.select(
        "n",
        F.round("mi", 6).alias("mi"),
        F.round("h_a", 6).alias("h_a"),
        F.round("h_b", 6).alias("h_b"),
        F.round("nmi", 6).alias("nmi"),
    )


Q137_SQL = """
WITH cells AS (
  SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS o
  FROM lineitem GROUP BY 1, 2),
a_tot AS (SELECT a, SUM(o) AS na FROM cells GROUP BY a),
b_tot AS (SELECT b, SUM(o) AS nb FROM cells GROUP BY b),
tot AS (SELECT SUM(o) AS n FROM cells),
s AS (
  SELECT MAX(n) AS n,
         SUM((o / CAST(n AS DOUBLE))
             * LN(o * CAST(n AS DOUBLE) / (CAST(na AS DOUBLE) * nb))) AS mi,
         SUM((o / CAST(n AS DOUBLE)) * LN(CAST(n AS DOUBLE) / na)) AS h_a,
         SUM((o / CAST(n AS DOUBLE)) * LN(CAST(n AS DOUBLE) / nb)) AS h_b
  FROM cells JOIN a_tot USING (a) JOIN b_tot USING (b) CROSS JOIN tot)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(mi, 6) AS mi,
       ROUND(h_a, 6) AS h_a,
       ROUND(h_b, 6) AS h_b,
       ROUND(CASE WHEN h_a > 0 AND h_b > 0
                  THEN mi / SQRT(h_a * h_b) END, 6) AS nmi
FROM s
"""


# --------------------------------------------------------------------------
# q138: Benford first-significant-digit screen — fabricated/template
# numeric columns break the Benford curve before their moments look
# wrong. The digit comes from the FIRST [1-9] CHARACTER of the value's
# string form, correct in plain and scientific notation in BOTH engines
# (the numeric floor(x/10^floor(log10 x)) alternative emits digit 10
# whenever log10 lands an ulp low on a power of ten). One full-data
# regexp+groupBy pass; a literal 9-row frame restores zero-count digits
# (expectation 30% with count 0 is the loudest signal — it must not
# vanish). Fractions ROUND(,6); counts exact.
# --------------------------------------------------------------------------


def q138_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = benford_digits(li, "l_extendedprice")
    return out.select(
        "digit",
        "n_d",
        F.round("obs_frac", 6).alias("obs_frac"),
        F.round("exp_frac", 6).alias("exp_frac"),
        F.round("abs_dev", 6).alias("abs_dev"),
    )


Q138_SQL = """
WITH d AS (
  SELECT CAST(regexp_extract(CAST(l_extendedprice AS VARCHAR),
                             '[1-9]', 0) AS INT) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]', 0) <> ''),
counts AS (SELECT digit, COUNT(*) AS n_d FROM d GROUP BY digit),
digits AS (
  SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit),
full_d AS (
  SELECT digits.digit, COALESCE(counts.n_d, 0) AS n_d
  FROM digits LEFT JOIN counts USING (digit)),
tot AS (SELECT SUM(n_d) AS n_total FROM full_d)
SELECT digit,
       CAST(n_d AS BIGINT) AS n_d,
       ROUND(n_d / CAST(GREATEST(n_total, 1) AS DOUBLE), 6) AS obs_frac,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS exp_frac,
       ROUND(ABS(n_d / CAST(GREATEST(n_total, 1) AS DOUBLE)
                 - LOG10(1.0 + 1.0 / digit)), 6) AS abs_dev
FROM full_d CROSS JOIN tot
"""
