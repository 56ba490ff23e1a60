"""Validation runner: one table of built-in checks compiled into verdicts +
violations + stats, and the resumable run around it.

Query-lifecycle parity with the reference's fixed step DAG
``preprocessing → group_by → feature_calculation → label_or_predict → save``
(src/baskerville/models/base_spark.py:82-97) re-expressed as declarative
DataFrame plans:

  schema-enforce → [stats agg | uniqueness agg | RI anti-join |
                    drift agg | audio-invariant mapInArrow] → verdicts/violations

The check table: ``CHECKS`` holds one row per built-in check — the verdict
check names (or the sink) it owns, the inputs it reads, when it is enabled
(a predicate on the config and the caller's frames) and its builder, whose
projection is SQL text (``checks/sqltext``). ``run_validation`` compiles it:
every violation row joins one union whose check names form the pass/fail
grid, every verdict row one verdict union. The inputs are the caller's
clips, transcript dimension and baseline, the slim projection and its
stats. Every metadata check and the stats read the slim projection, and
the stats sink and the verdict grid read the stats, so both are persisted
and filled eagerly; only the invariant row decodes payloads, once per
clip. Adding a check means one row in ``CHECKS`` plus one test.

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
  counts. The manifest's per-partition metrics come from the in-memory
  verdict plan, never from a read-back of the written sink.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.checks import drift as drift_mod
from baskerville_spark.checks import invariants as inv_mod
from baskerville_spark.checks import referential, sqltext, stats, uniqueness
from baskerville_spark.checks import stats_state as stats_state_mod
from baskerville_spark.checks import suite as suite_mod
from baskerville_spark.checks.schema_check import ColumnSpec, pattern_violations
from baskerville_spark.runtime import manifest as manifest_mod

#: Schema spec for the clip table: the enforced version of the reference's
#: declared-but-unenforced log schema (data/samples/log_schema.json).
CLIP_SPECS = [
    ColumnSpec("clip_id", "string", required=True, drop_if_missing=True,
               pattern=r"^clip_[0-9]{12}$"),
    ColumnSpec("codec", "string", pattern=r"^(pcm_s16le|flac|opus)$"),
    ColumnSpec("sr_hz", "int"),
    ColumnSpec("dur_ms", "int"),
    ColumnSpec("transcript", "string"),
]

#: the payload-free projection every metadata check reads
META_COLS = ("part_id", "clip_id", "sr_hz", "dur_ms", "codec", "transcript")
#: columns whose HLL sketch rides the mergeable state rows
STATE_DISTINCT_COLS = ("clip_id",)


@dataclass(frozen=True)
class ValidationConfig:
    null_rate_max: float = 0.05
    range_bounds: dict = field(
        default_factory=lambda: {"dur_ms": (1.0, 30000.0), "sr_hz": (8000.0, 48000.0)}
    )
    n_salt: int = 64
    check_audio: bool = True
    numeric_cols: tuple = ("sr_hz", "dur_ms")
    # mergeable per-partition state rows (checks/stats_state.py): written to
    # {out_dir}/states so table-level stats fold from tiny state rows
    # instead of rescanning settled partitions. Off by default — existing
    # verdict grids and sink layouts are unchanged.
    emit_states: bool = False
    state_hist_edges: dict = field(default_factory=dict)  # col -> bin edges
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
    states: DataFrame | None = None
    persisted: list = field(default_factory=list)

    def unpersist(self) -> None:
        """Release every DataFrame run_validation persisted. Call after the
        outputs are materialized — long-lived sessions (bench loops, the
        driver harness) otherwise accumulate cached blocks until executor
        storage memory is exhausted."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


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


@dataclass(frozen=True)
class Check:
    """One built-in check: a row of ``CHECKS``."""

    owns: tuple          # verdict check names (exact for violation rows) or the sink
    sink: str            # violations | verdicts | states
    reads: tuple         # inputs handed to ``build`` after cfg
    enabled: Callable[[ValidationConfig, dict], bool]  # (cfg, inputs by name)
    build: Callable[..., DataFrame]


def _suite(cfg: ValidationConfig, slim: DataFrame) -> DataFrame:
    return suite_mod.run_suite(slim, list(cfg.extra_suite), group_by=["part_id"]).selectExpr(
        "CAST(part_id AS INT) AS part_id",
        "concat('suite:', check_name) AS check_name",
        "passed", "metric_value", "threshold", "n_rows", "n_violations",
    )


def _states(cfg: ValidationConfig, slim: DataFrame) -> DataFrame:
    return stats_state_mod.stats_state(
        slim, ["part_id"], list(cfg.numeric_cols),
        [c for c in STATE_DISTINCT_COLS if c in slim.columns],
        hist_cols=dict(cfg.state_hist_edges) or None,
    )


#: Every built-in check, in union order.
CHECKS: tuple[Check, ...] = (
    Check(("null_rate:*", "range:*"), "verdicts", ("stats",), lambda cfg, i: True,
          lambda cfg, st: stats.stats_verdicts(st, cfg.null_rate_max, cfg.range_bounds)),
    Check(("uniqueness",), "violations", ("slim",), lambda cfg, i: True,
          lambda cfg, slim: uniqueness.uniqueness_violations(slim, n_salt=cfg.n_salt)),
    Check(("ref_integrity",), "violations", ("slim", "tref"),
          lambda cfg, i: i["tref"] is not None,
          lambda cfg, slim, tref: referential.ref_integrity_violations(slim, tref)),
    Check(tuple(f"pattern:{s.name}" for s in CLIP_SPECS if s.pattern),
          "violations", ("slim",),
          lambda cfg, i: any(s.pattern and s.name in i["clips"].columns
                             for s in CLIP_SPECS),
          lambda cfg, slim: pattern_violations(slim, CLIP_SPECS)),
    Check(("snr", "decode_error", "transcript_eq"), "violations", ("clips", "tref"),
          lambda cfg, i: cfg.check_audio,
          lambda cfg, clips, tref: inv_mod.invariant_violations(
              inv_mod.audio_invariant(clips, tref))),
    Check(("psi:*", "ks:*"), "verdicts", ("slim", "baseline"),
          lambda cfg, i: bool(i["baseline"]),
          lambda cfg, slim, base: drift_mod.drift_verdicts(slim, base)),
    Check(("suite:*",), "verdicts", ("slim",), lambda cfg, i: bool(cfg.extra_suite), _suite),
    Check(("states",), "states", ("slim",), lambda cfg, i: cfg.emit_states, _states),
)


def _fill(dfs: list[DataFrame]) -> None:
    """Fill persisted frames eagerly: a cache first executed as a subtree
    of a larger plan does not reliably populate (observed under AQE). Frames
    filled together run CONCURRENTLY, so independent jobs back-fill each
    other's task tails (guide §2.6)."""
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        list(pool.map(lambda df: df.count(), dfs))


def run_validation(
    spark: SparkSession,
    clips: DataFrame,
    transcript_ref: DataFrame | None = None,
    baseline_rows: list[Row] | None = None,
    *,
    cfg: ValidationConfig,
) -> ValidationResult:
    """Compile ``CHECKS`` into the verdict / violation / stats plans.

    Shared inputs and the NARROW violation rows (tiny relative to input)
    are cached and filled eagerly, so materializing verdicts and violations
    does not re-run the expensive scans (in particular the audio decode).
    At cluster scale the equivalent is writing these intermediates to the
    results table and reading back — same O(output) cost.
    """
    # slim fills first, so the stats and the checks read its cache
    slim = clips.select(*[c for c in META_COLS if c in clips.columns]).persist()
    _fill([slim])
    st = stats.column_stats(
        slim, numeric_cols=list(cfg.numeric_cols),
        other_cols=["clip_id", "codec", "transcript"],
    ).persist()
    inputs = {"clips": clips, "tref": transcript_ref, "baseline": baseline_rows,
              "slim": slim, "stats": st}
    rows = [c for c in CHECKS if c.enabled(cfg, inputs)]

    out: dict[str, list[DataFrame]] = defaultdict(list)
    for c in rows:
        out[c.sink].append(c.build(cfg, *(inputs[n] for n in c.reads)))
    violations = reduce(DataFrame.unionByName, out["violations"]).persist()
    _fill([st, violations])

    part_rows = st.where("column_name = 'clip_id'").selectExpr(
        "part_id", "`count` + null_count AS n_rows"
    )  # per-partition row counts from stats: no extra scan of the fact
    names = [n for c in rows if c.sink == "violations" for n in c.owns]
    out["verdicts"].append(_violation_verdicts(violations, part_rows, names))

    def sink(name: str) -> DataFrame | None:
        return reduce(DataFrame.unionByName, out[name]) if out[name] else None

    return ValidationResult(
        verdicts=sink("verdicts"), violations=violations, stats=st,
        states=sink("states"), persisted=[slim, st, violations],
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

    observed, obs = observe_violations(res.violations)
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
        (n, getattr(res, n)) for n in ("stats", "verdicts", "states")
        if getattr(res, n) is not None
    ]
    _delete_pending_sink_dirs(
        spark, out_dir, tuple(name for name, _ in sinks), pending
    )

    # The sink writes are independent jobs over already-persisted narrow
    # intermediates — run them CONCURRENTLY so each write's task tail
    # back-fills the others (guide §2.6); FIFO scheduling keeps this a
    # latency overlap, not a resource fight. Job descriptions/groups are
    # thread-local, so the UI labels stay per-sink.
    #
    # Each sink is rebalanced on part_id before the write, so AQE sizes
    # the write tasks by data volume (one task for a small run) instead of
    # the inputs' partition counts, where every task pays a fixed closure
    # deserialization for a handful of rows and one partition scatters
    # over several files. repartition("part_id") would not do it: over a
    # cache already hash-partitioned on part_id the optimizer drops it.
    def _write(item: tuple) -> None:
        name, df = item
        (
            df.hint("rebalance", "part_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(f"{out_dir}/{name}")
        )

    # Per-partition manifest metrics from the verdict plan itself, which
    # reads only the persisted intermediates; it runs in the same pool as
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
        hist_cols=dict(cfg.state_hist_edges) or None,
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
