"""Validation runner: the built-in checks run into verdicts + violations +
stats, and the resumable run around it.

Query-lifecycle parity with the reference's fixed step DAG
``preprocessing → group_by → feature_calculation → label_or_predict → save``
(src/baskerville/models/base_spark.py:82-97) re-expressed as declarative
DataFrame plans:

  slim projection → [stats agg | uniqueness agg | RI anti-join | pattern |
                     drift agg | audio-invariant mapInArrow] → verdicts/violations

``run_validation`` builds each check in turn; projections are SQL text
(``checks/sqltext``). Each violation frame joins one union together with
the check names it owns, which form the pass/fail grid; each verdict frame
joins one verdict union. Every metadata check and the stats read the slim
projection, which is persisted: it is the one large intermediate and its
lineage is a single scan. The stats and the violation union are narrow,
but their plans are not (the union carries the ``mapInArrow`` decode, the
scans and the aggregates), and a cached frame keeps that lineage: every
task that reads a cache deserializes the whole plan that built it. So
both are checkpointed (``runtime/checkpoint._Ckpt``) and every later
consumer (stats verdicts, verdict grid, sinks, manifest metrics) reads a
plain RDD scan. Only the invariant check decodes payloads, once per clip.
Adding a check means a few lines in ``run_validation`` plus one test.

Scale design (100 TB):
- ONE payload-free projection of the fact table is materialized and feeds
  every metadata check (stats/uniqueness/RI/pattern/drift); only the decode
  pass scans ``bytes``. Column pruning alone is NOT enough when blobs are
  colocated in the same files — the pruned scan still seeks around the blob
  chunks (measured 6x slower than a slim table). The projection is a few %
  of table size; on a cluster it persists MEMORY_AND_DISK or lands in a
  temp table.
- Exactly one shuffle per aggregate check, keyed on part_id (or (part_id,
  clip_id) for uniqueness), with map-side partial aggregation. Verdict and
  violation outputs are tiny relative to input; their unions are cheap.
- Resume: partition pruning via a ``part_id IN (pending)`` predicate — with
  parquet `partitionBy(part_id)` layout (or Iceberg partition specs) the
  done partitions are never read at all.
- Sinks are rebalanced on part_id before their writes, so AQE sizes the
  write tasks by output volume instead of inheriting the inputs' partition
  counts. The manifest's per-partition metrics come from the verdict plan
  over the checkpoints, never from a read-back of the written sink.
- Executor loss: a local checkpoint cannot be recomputed, so a lost
  executor fails the run instead of replaying the decode. On a cluster
  the session sets a checkpoint dir and ``_Ckpt`` writes reliable
  checkpoints; either way no partition is marked done before its sinks
  are written, so a failed run is retried from the manifest.
"""

from __future__ import annotations

import json
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import reduce
from typing import ClassVar

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.checks import drift as drift_mod
from baskerville_spark.checks import invariants as inv_mod
from baskerville_spark.checks import referential, sqltext, stats, uniqueness
from baskerville_spark.checks import stats_state as stats_state_mod
from baskerville_spark.checks import suite as suite_mod
from baskerville_spark.checks.schema_check import pattern_violations
from baskerville_spark.runtime import manifest as manifest_mod
from baskerville_spark.runtime.checkpoint import _Ckpt
from baskerville_spark.schema import DUR_MS_MAX

#: Value patterns of the clip table, checked as ``pattern:<column>``
#: violation rows: the reference declares such patterns in its log schema
#: (data/samples/log_schema.json) but never checks them.
CLIP_SPECS = {
    "clip_id": r"^clip_[0-9]{12}$",
    "codec": r"^(pcm_s16le|flac|opus)$",
}

#: the payload-free projection every metadata check reads
META_COLS = ("part_id", "clip_id", "sr_hz", "dur_ms", "codec", "transcript")
#: columns whose HLL sketch rides the mergeable state rows
STATE_DISTINCT_COLS = ("clip_id",)


@dataclass(frozen=True)
class ValidationConfig:
    # the thresholds and columns every run checks (no caller sets others)
    null_rate_max: ClassVar[float] = 0.05
    range_bounds: ClassVar[dict] = {
        "dur_ms": (1.0, float(DUR_MS_MAX)), "sr_hz": (8000.0, 48000.0)
    }
    n_salt: ClassVar[int] = 64
    numeric_cols: ClassVar[tuple] = ("sr_hz", "dur_ms")

    check_audio: bool = True
    # mergeable per-partition state rows (checks/stats_state.py): written to
    # {out_dir}/states so table-level stats fold from tiny state rows
    # instead of rescanning settled partitions. Maps a column to its
    # histogram bin edges ({} for none); None writes no states sink.
    state_hist_edges: dict | None = None
    # user-declared constraint suite (checks/suite.py Constraints, e.g. from
    # suite_from_json): ONE extra aggregate over the slim projection, as
    # suite:<name> verdict rows. Constraints may reference only META_COLS —
    # a payload reference fails resolution loudly.
    extra_suite: tuple = ()


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    stats: DataFrame
    states: DataFrame | None
    slim: DataFrame
    ckpts: tuple

    def unpersist(self) -> None:
        """Release the persisted slim projection and the stats and
        violation checkpoints: the local checkpoint's blocks and the
        reliable checkpoint's files. Call after the outputs are
        materialized — long-lived sessions (bench loops, the driver
        harness) otherwise accumulate blocks until executor storage memory
        is exhausted. Every output reads the checkpoints, so none can be
        recomputed afterwards."""
        self.slim.unpersist()
        for df in (self.stats, self.violations):
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        for ckpt in self.ckpts:
            ckpt.release()


def _violation_verdicts(
    violations: DataFrame, part_rows: DataFrame, check_names: list[str]
) -> DataFrame:
    """(part × check) grid left-joined with violation counts → pass/fail rows.

    The grid explodes the check names, as SQL literals, over ``part_rows``:
    no Python-side DataFrame, so no Python RDD job or broadcast just to ship
    a few strings. ``explode_outer`` keeps ``check_name`` nullable, as the
    verdict schema has it; the array is never empty, so it emits the same
    rows as ``explode``.
    """
    names = ", ".join(sqltext.lit(c) for c in check_names)
    grid = part_rows.selectExpr(
        "part_id", "n_rows", f"explode_outer(array({names})) AS check_name"
    )
    counts = violations.groupBy("part_id", "check_name").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    return (
        grid.join(counts, ["part_id", "check_name"], "left")
        .selectExpr(
            "CAST(part_id AS INT) AS part_id",
            "check_name",
            "coalesce(n_violations, 0) = 0 AS passed",
            "CAST(coalesce(n_violations, 0) / greatest(n_rows, 1) AS DOUBLE)"
            " AS metric_value",
            "0.0D AS threshold",
            "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(coalesce(n_violations, 0) AS BIGINT) AS n_violations",
        )
    )


def run_validation(
    spark: SparkSession,
    clips: DataFrame,
    transcript_ref: DataFrame | None = None,
    baseline_rows: list[Row] | None = None,
    *,
    cfg: ValidationConfig,
) -> ValidationResult:
    """The verdict / violation / stats (and states) plans of the built-in
    checks.

    The slim projection is persisted and filled first; the NARROW stats
    and violation rows (tiny relative to input) are checkpointed and
    filled eagerly, so materializing the outputs re-runs neither the scans
    nor the audio decode, and no task that reads them deserializes the
    plan that built them. Slim stays a cache: it is the large frame at
    scale and its lineage is only a scan, so a checkpoint would copy it
    for nothing. A local checkpoint lost with its executor fails the run
    loudly (it is not recomputable); with a checkpoint dir set ``_Ckpt``
    writes reliable checkpoints, and ``run_resumable`` commits nothing
    before its sinks are written, so a failed run resumes from the
    manifest.
    """
    # slim fills first, so the stats and the checks read its cache
    slim = clips.select(*[c for c in META_COLS if c in clips.columns]).persist()
    slim.count()
    st = stats.column_stats(
        slim, numeric_cols=list(cfg.numeric_cols),
        other_cols=["clip_id", "codec", "transcript"],
    )

    # each violation frame with the check names it owns, in union order
    frames = [uniqueness.uniqueness_violations(slim, n_salt=cfg.n_salt)]
    names = ["uniqueness"]
    if transcript_ref is not None:
        frames.append(referential.ref_integrity_violations(slim, transcript_ref))
        names.append("ref_integrity")
    frames.append(pattern_violations(slim, CLIP_SPECS))
    names += [f"pattern:{c}" for c in CLIP_SPECS]
    if cfg.check_audio:
        frames.append(inv_mod.invariant_violations(
            inv_mod.audio_invariant(clips, transcript_ref)))
        names += ["snr", "decode_error", "transcript_eq"]

    # both checkpoints filled CONCURRENTLY, so each job back-fills the
    # other's task tail (guide §2.6); every consumer below reads them
    ckpts = (_Ckpt(), _Ckpt())
    with ThreadPoolExecutor(max_workers=2) as pool:
        st, violations = pool.map(
            lambda ckpt, df: ckpt(df),
            ckpts, (st, reduce(DataFrame.unionByName, frames)),
        )

    verdicts = [stats.stats_verdicts(st, cfg.null_rate_max, cfg.range_bounds)]
    if baseline_rows:
        verdicts.append(drift_mod.drift_verdicts(slim, baseline_rows))
    if cfg.extra_suite:
        verdicts.append(
            suite_mod.run_suite(slim, list(cfg.extra_suite), group_by=["part_id"]).selectExpr(
                "CAST(part_id AS INT) AS part_id",
                "concat('suite:', check_name) AS check_name",
                "passed", "metric_value", "threshold", "n_rows", "n_violations",
            )
        )
    part_rows = st.where("column_name = 'clip_id'").selectExpr(
        "part_id", "`count` + null_count AS n_rows"
    )  # per-partition row counts from stats: no extra scan of the fact
    verdicts.append(_violation_verdicts(violations, part_rows, names))
    states = None
    if cfg.state_hist_edges is not None:
        states = stats_state_mod.stats_state(
            slim, ["part_id"], list(cfg.numeric_cols),
            [c for c in STATE_DISTINCT_COLS if c in slim.columns],
            hist_cols=cfg.state_hist_edges,
        )
    return ValidationResult(
        verdicts=reduce(DataFrame.unionByName, verdicts), violations=violations,
        stats=st, states=states, slim=slim, ckpts=ckpts,
    )


def _partition_values(clips: DataFrame) -> set[int] | None:
    """part_id values of a hive-partitioned (``part_id=N`` directory) clip
    table, read from the scan's file list — DRIVER-side metadata the reader
    has already listed, so resume discovery costs no Spark job. The value
    comes from each file's OWN directory (the last path segment): an
    ancestor directory that happens to be named ``part_id=N`` must not
    collapse every file onto N. None when any file is outside that layout
    (caller falls back to a distinct scan: partition values then genuinely
    live in the data)."""
    import re

    try:
        files = clips.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    out: set[int] = set()
    for f in files:
        m = re.search(r"[/\\]part_id=(-?\d+)[/\\][^/\\]+$", f)
        if m is None:
            return None
        out.add(int(m.group(1)))
    return out


def _delete_pending_sink_dirs(
    spark: SparkSession, out_dir: str, sink_names: tuple, pending: list
) -> None:
    """Remove ``{out_dir}/{sink}/part_id={p}`` for every pending partition
    via the Hadoop FileSystem API (portable across file/hdfs/s3a schemes).

    Every JVM call is a py4j round trip, so the cost is bounded by
    what exists, not by the pending count: an absent sink directory (a
    fresh run) costs one call, and a present one is listed once, its child
    paths rendered to one string on the JVM side, and only the pending
    children that exist are deleted."""
    import re

    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = Path(out_dir).getFileSystem(hconf)  # one lookup: every sink shares it
    wanted = {int(p) for p in pending}
    for sink in sink_names:
        sink_dir = Path(f"{out_dir}/{sink}")
        if not fs.exists(sink_dir):
            continue
        listing = jvm.org.apache.commons.lang3.ArrayUtils.toString(
            jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(sink_dir))
        )  # "{<dir>/part_id=0,<dir>/_SUCCESS,...}"
        present = {
            int(m) for m in re.findall(r"/part_id=(-?\d+)(?=[,}])", listing)
        }
        for p in present & wanted:
            fs.delete(Path(f"{out_dir}/{sink}/part_id={p}"), True)


def run_resumable(
    spark: SparkSession,
    clips_path: str,
    manifest_path: str,
    out_dir: str,
    transcript_ref_path: str | None = None,
    baseline_path: str | None = None,
    *,
    cfg: ValidationConfig,
) -> list[int]:
    """Resumable run over a partitioned clip table.

    Reads the manifest, prunes finished partitions via a pushed-down
    ``part_id IN (...)`` predicate (partition pruning on the parquet/Iceberg
    layout), validates the rest in ONE Spark job, then commits a manifest
    row per partition. Returns the list of partitions processed this run.
    """
    started = datetime.now(timezone.utc)
    # commits write local files: refuse a remote manifest before any read,
    # not after every partition is validated and every sink written
    manifest_mod._local_dir(manifest_path)

    clips = spark.read.parquet(clips_path)
    all_parts = _partition_values(clips)
    if all_parts is None:  # non-partitioned layout: pay the distinct
        all_parts = {
            r["part_id"] for r in clips.select("part_id").distinct().collect()
        }
    if None in all_parts:
        # a NULL part_id lands in the __HIVE_DEFAULT_PARTITION__ directory;
        # the manifest ledger keys on an int part_id and cannot commit it
        raise ValueError(
            f"clip table {clips_path!r} has rows with a NULL part_id (the "
            "__HIVE_DEFAULT_PARTITION__ partition); assign every clip a "
            "part_id before a resumable run"
        )
    done = manifest_mod.done_partitions(spark, manifest_path)
    pending = sorted(all_parts - done)
    if not pending:
        return []

    clips = clips.where(F.col("part_id").isin(pending))
    tref = (
        spark.read.parquet(transcript_ref_path) if transcript_ref_path else None
    )
    baseline_rows = (
        drift_mod.load_baseline(spark, baseline_path) if baseline_path else None
    )

    res = run_validation(spark, clips, tref, baseline_rows, cfg=cfg)

    from baskerville_spark.runtime.metrics import observe_violations

    # Each sink is rebalanced on part_id before the write, so AQE sizes
    # the write tasks by data volume (one task for a small run) instead of
    # the inputs' partition counts, where every task pays a fixed closure
    # deserialization for a handful of rows and one partition scatters
    # over several files. repartition("part_id") would not do it: over an
    # input already hash-partitioned on part_id the optimizer drops it.
    # The violation metrics are observed ABOVE the rebalance: below it,
    # when a run has no violations, AQE's empty-relation propagation
    # drops the observing node together with the empty shuffle stage and
    # the observation never completes.
    observed, obs = observe_violations(
        res.violations.hint("rebalance", "part_id")
    )
    # Idempotent, fully distributed outputs: partitionBy(part_id) with
    # DYNAMIC partition overwrite, so a partition retried after a crash
    # between these writes and the manifest commit REPLACES its previous
    # files instead of appending duplicate rows. Verdicts never round-trip
    # through the driver — at 10^6 partitions × ~14 checks a collect() in
    # the write path is a driver materialization.
    #
    # Dynamic overwrite only replaces partitions PRESENT in the new data; a
    # retried partition whose re-run now yields zero rows for a sink (config
    # change, partial file set from a mid-write crash) would otherwise keep
    # its stale files. Deleting the pending partitions' sink subdirectories
    # first makes retry semantics replace-always, not replace-if-nonempty.
    # Driver-side metadata calls against the FS only — no data moves.
    sinks = [("violations", observed)] + [
        (n, getattr(res, n).hint("rebalance", "part_id"))
        for n in ("stats", "verdicts", "states") if getattr(res, n) is not None
    ]
    _delete_pending_sink_dirs(
        spark, out_dir, tuple(name for name, _ in sinks), pending
    )

    # The sink writes are independent jobs over the checkpointed narrow
    # intermediates — run them CONCURRENTLY so each write's task tail
    # back-fills the others (guide §2.6); FIFO scheduling keeps this a
    # latency overlap, not a resource fight. Job descriptions/groups are
    # thread-local, so the UI labels stay per-sink.
    def _write(item: tuple) -> None:
        name, df = item
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(f"{out_dir}/{name}")
        )

    # Per-partition manifest metrics from the verdict plan itself, which
    # reads only the checkpoints; it runs in the same pool as
    # the writes instead of reading the verdicts sink back afterwards.
    def _manifest_metrics() -> list:
        return (
            res.verdicts.groupBy("part_id")
            .agg(F.max("n_rows"), F.sum("n_violations"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=len(sinks) + 1) as pool:
        per_part_rows = pool.submit(_manifest_metrics)
        list(pool.map(_write, sinks))
        per_part = {
            int(p): (n_rows or 0, n_viol or 0)
            for p, n_rows, n_viol in per_part_rows.result()
        }
    run_metrics = dict(obs.get)  # side effect of the violations write

    for p in pending:
        n_rows, n_viol = per_part.get(int(p), (0, 0))
        manifest_mod.commit_partition(
            manifest_path, int(p), int(n_rows), int(n_viol), started
        )
    res.unpersist()
    processed = [int(p) for p in pending]
    print(
        json.dumps({"processed": processed, "metrics": run_metrics}),
        file=sys.stderr,
    )
    return processed


def table_stats_from_states(
    spark: SparkSession, out_dir: str, cfg: ValidationConfig
) -> DataFrame:
    """Current TABLE-level stats folded from the tiny per-partition state
    rows the resumable runs wrote to ``{out_dir}/states`` — settled
    partitions are never rescanned (at 10^12 rows the state table is
    O(partitions), not O(clips)). Exact for counts/nulls/min/max/integral
    sums and histogram bins; distinct comes back as the HLL union estimate
    (consume through a margin, see stats_state's module doc)."""
    st = spark.read.parquet(f"{out_dir}/states")
    distinct = [c for c in STATE_DISTINCT_COLS if f"{c}_hll" in st.columns]
    merged = stats_state_mod.merge_stats_states(
        st,
        [],
        list(cfg.numeric_cols),
        distinct,
        hist_cols=cfg.state_hist_edges,
    )
    return stats_state_mod.finalize_stats(merged, distinct)


def route_quarantine(
    clips: DataFrame,
    violations: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Split the input into (clean, quarantine) around the violations
    table — the routing step that keeps bad rows out of a training corpus
    while preserving them (with machine-readable reasons) for triage, the
    engine-native form of the reference's anomalous-request quarantining
    (its predictions mark rows for the challenge path rather than
    deletion).

    quarantine carries ``reasons`` = the sorted set of violated check
    names per key (bounded by the check count — collect_set can't blow
    up). Joins are on (part_id, clip_id): violations are per-partition
    facts, and keys are only guaranteed unique within a partition. The reasons side
    is O(violating keys) — usually tiny (AQE broadcasts it), but a
    pathological table can have violations on most rows, so no broadcast
    is FORCED; the joins degrade to co-partitioned sort-merge. clean ∪
    quarantine is an exact partition of the input: every row whose key is
    listed is quarantined — including ALL physical copies of a duplicated
    key.
    """
    keys = ["part_id", "clip_id"]
    reasons = violations.groupBy(*keys).agg(
        F.sort_array(F.collect_set("check_name")).alias("reasons")
    )
    quarantine = clips.join(reasons, keys, "inner")
    clean = clips.join(reasons.select(*keys), keys, "left_anti")
    return clean, quarantine
