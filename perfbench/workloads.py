"""The benchmark's workloads: seeded inputs, one operation, its output check,
and the traced layer decomposition.

Each workload drives the engine from outside through its public entry points
and checks every operation's output against ground truth computed
independently of the engine:

* ``validate_cold``: ``runtime.runner.run_resumable`` (the ``validate`` CLI
  path) over a generated clip table, from an empty manifest and out dir, with
  the default checks (audio decode + SNR on) and no transcript dimension or
  drift baseline. Checked against ``generator.expected_violation_indices``.
* ``gates_slow``: one pass over oracle-gated ``__spark_entry__.queries()``
  entries on generated tables, each result compared with its ``oracle_sql()``
  in DuckDB through ``scripts/check_oracle.py``'s comparison.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import sys
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.spans import COUNTERS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Generated inputs that are reused across runs.
CACHE = os.path.join(ROOT, ".perfbench", "cache")

# The program under test. Imported eagerly so a checkout without it fails
# before any work starts.
import __spark_entry__ as entry  # noqa: E402
from baskerville_spark import generator  # noqa: E402
from baskerville_spark.checks import invariants, stats, uniqueness  # noqa: E402
from baskerville_spark.checks.schema_check import pattern_violations  # noqa: E402
from baskerville_spark.runtime import manifest  # noqa: E402
from baskerville_spark.runtime import runner  # noqa: E402


def _load_check_oracle():
    """``scripts/check_oracle.py`` by file path; it prepends a fixed source
    directory to ``sys.path`` on import, which is undone here."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


#: Span names of the validation path, in ``run_resumable``'s call order.
VALIDATE_LAYERS = (
    "runner.run_resumable",
    "manifest.done_partitions",
    "runner.slim_scan",
    "checks.stats",
    "checks.uniqueness",
    "checks.schema_check",
    "checks.invariants",
    "runner.run_validation",
    "manifest.commit_partition",
)
#: Layers the composed ``run_validation`` is made of; their sum is reported
#: next to the composed call.
VALIDATION_PARTS = VALIDATE_LAYERS[2:7]
#: The manifest layers run no Spark job unless they fall back to a Spark read.
MANIFEST_COUNTERS = ("wall_s", "jobs")
GATE_COUNTERS = ("wall_s", "jobs", "tasks", "exec_run_s", "shuffle_write_bytes")

#: The gates of one timed ``gates_slow`` operation, each mapped to the
#: generated table it reads. A cold first gate costs a fresh JVM 15-30 s, so
#: one benchmark run has room for one gate's warm-up, not a pass over the
#: seven slowest gates.
PASS_GATES = {"q136_spearman": "lineitem"}
#: Gates timed in the traced run: the pass, then the stateful streaming gate.
TRACED_GATES = ("q136_spearman", "q64_stateful_stream_stats")


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = []
    for layer in VALIDATE_LAYERS:
        counters = MANIFEST_COUNTERS if layer.startswith("manifest.") else COUNTERS
        names += [f"{layer}.{c}" for c in counters]
    names += [
        "runner.run_resumable.self_s",
        "runner.layers_sum_s",
    ]
    for g in TRACED_GATES:
        names += [f"gates.{g}.{c}" for c in GATE_COUNTERS]
    names.append("trace.overhead_s")
    return names


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Outcome:
    """One operation's handle: what the check needs, and what to clean up."""

    op_id: int
    value: object = None
    dirs: list = field(default_factory=list)


class ValidateCold:
    """``run_resumable`` over a fresh manifest and out dir."""

    name = "validate_cold"
    composed_span = "runner.run_resumable"
    #: operations before timing starts (part of setup_s), and timed
    #: operations per run, at least: the first timed one is still settling,
    #: and the median of three skips it
    warmup_ops = 1
    min_ops = 3

    def __init__(self, spark, work: str, seed: int, tiny: bool = False) -> None:
        self.spark = spark
        self.work = work
        # the seed picks one of four row counts, which shifts every
        # partition boundary and every injected violation; they differ by
        # at most 3%, so rows_per_s stays comparable across seeds
        n0, parts = (600, 4) if tiny else (1000, 4)
        self.cfg = generator.GenConfig(n_rows=n0 + 10 * (seed % 4), n_parts=parts)
        self.vcfg = runner.ValidationConfig()
        self.rows_in_scope = self.cfg.n_rows
        self._expected = None

    # -- inputs (not program work: excluded from setup_s) -------------------
    def prepare(self) -> None:
        """The clip table, generated once per table shape and generator
        source and then reused."""
        digest = hashlib.sha256(repr(self.cfg).encode())
        for mod in ("generator.py", "audio.py", "schema.py"):
            with open(os.path.join(os.path.dirname(generator.__file__), mod), "rb") as f:
                digest.update(f.read())
        d = os.path.join(CACHE, f"clips-{digest.hexdigest()[:16]}")
        if not os.path.isdir(d):
            tmp = f"{d}.tmp{os.getpid()}"
            self._generate(tmp)
            try:
                os.replace(tmp, d)
            except OSError:  # another run published the same table first
                shutil.rmtree(tmp, ignore_errors=True)
        self.clips_p = f"{d}/clips"
        self._expected = expected_outputs(self.cfg)

    def _generate(self, d: str) -> None:
        generator.write_clips(self.spark, f"{d}/clips", self.cfg)

    # -- one operation ------------------------------------------------------
    def run_op(self, op_id: int) -> Outcome:
        d = f"{self.work}/op{op_id}"
        processed = runner.run_resumable(
            self.spark, self.clips_p, f"{d}/manifest", f"{d}/out", cfg=self.vcfg,
        )
        return Outcome(op_id, processed, [d])

    def check(self, out: Outcome) -> list[str]:
        d = out.dirs[0]
        return compare_outputs(
            self._expected, out.value, f"{d}/out", f"{d}/manifest"
        )

    # -- traced decomposition -------------------------------------------------
    def trace_op(self, tracer: Tracer, op_id: int) -> tuple[Outcome, dict]:
        """The composed call under one span, then each layer's public call on
        its own over the same inputs, in ``run_resumable``'s order."""
        spark, vcfg = self.spark, self.vcfg
        with tracer.span(self.composed_span, op_id):
            out = self.run_op(op_id)

        d = f"{self.work}/layers{op_id}"
        out.dirs.append(d)
        with tracer.span("manifest.done_partitions", op_id):
            manifest.done_partitions(spark, f"{d}/manifest")
        clips = spark.read.parquet(self.clips_p)
        meta = ["part_id", "clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
        with tracer.span("runner.slim_scan", op_id):
            slim = clips.select(*meta).persist()
            slim.count()
        with tracer.span("checks.stats", op_id):
            st = stats.column_stats(
                slim, numeric_cols=list(vcfg.numeric_cols),
                other_cols=["clip_id", "codec", "transcript"],
            )
            _materialize(stats.stats_verdicts(st, vcfg.null_rate_max, vcfg.range_bounds))
        with tracer.span("checks.uniqueness", op_id):
            _materialize(uniqueness.uniqueness_violations(slim, n_salt=vcfg.n_salt))
        with tracer.span("checks.schema_check", op_id):
            _materialize(pattern_violations(slim, runner.CLIP_SPECS))
        with tracer.span("checks.invariants", op_id):
            _materialize(invariants.invariant_violations(
                invariants.audio_invariant(clips)))
        slim.unpersist()
        with tracer.span("runner.run_validation", op_id):
            res = runner.run_validation(spark, clips, cfg=vcfg)
            _materialize(res.verdicts)
            res.unpersist()
        started = datetime.now(timezone.utc)
        with tracer.span("manifest.commit_partition", op_id):
            for p in range(self.cfg.n_parts):
                manifest.commit_partition(f"{d}/manifest", p, 0, 0, started)

        composed = tracer.last("runner.run_resumable")
        validation = tracer.last("runner.run_validation")
        extra = {
            "runner.run_resumable.self_s": composed.wall_s - validation.wall_s,
            "runner.layers_sum_s": sum(
                tracer.last(n).wall_s for n in VALIDATION_PARTS
            ),
        }
        return out, extra


def expected_outputs(cfg) -> dict:
    """Ground truth for one full validation of the generated table, derived
    from the generator's injection rules (not from the engine). Without a
    transcript dimension the referential and transcript checks find nothing."""
    exp = generator.expected_violation_indices(cfg)
    viol = {k: len(exp[k]) for k in ("uniqueness", "snr", "decode_error")}
    # the injected mp3 rows also fail the codec pattern
    viol["pattern:codec"] = len(exp["decode_error"])
    return {
        "parts": list(range(cfg.n_parts)),
        "violations": {k: v for k, v in viol.items() if v},
        "null_dur": len(exp["null_rate"]),
        "range_failed_parts": sorted({generator.part_of(i, cfg) for i in exp["range"]}),
        "part_rows": dict(Counter(generator.part_of(i, cfg) for i in range(cfg.n_rows))),
    }


def compare_outputs(expected: dict, processed, out_dir: str, manifest_dir: str) -> list[str]:
    """Mismatches between one ``run_resumable`` call's outputs and ground
    truth: processed partitions, violation counts per check, the null-rate
    and range verdicts, and exactly one done-row per partition with its row
    count in the manifest."""
    errs = []
    if processed != expected["parts"]:
        errs.append(f"processed {processed}, expected {expected['parts']}")
    viol = pq.read_table(f"{out_dir}/violations", columns=["check_name"])
    got = dict(Counter(viol.column("check_name").to_pylist()))
    if got != expected["violations"]:
        errs.append(f"violation counts {got}, expected {expected['violations']}")
    verdicts = pq.read_table(
        f"{out_dir}/verdicts", columns=["part_id", "check_name", "passed", "n_violations"]
    ).to_pylist()
    null_dur = sum(v["n_violations"] for v in verdicts if v["check_name"] == "null_rate:dur_ms")
    if null_dur != expected["null_dur"]:
        errs.append(f"null dur_ms {null_dur}, expected {expected['null_dur']}")
    range_failed = sorted(
        v["part_id"] for v in verdicts
        if v["check_name"] == "range:dur_ms" and not v["passed"]
    )
    if range_failed != expected["range_failed_parts"]:
        errs.append(f"range failed in {range_failed}, expected {expected['range_failed_parts']}")
    rows = pq.read_table(manifest_dir, columns=["part_id", "status", "n_rows"]).to_pylist()
    done = {r["part_id"]: r["n_rows"] for r in rows if r["status"] == "done"}
    if len(rows) != len(done) or done != expected["part_rows"]:
        errs.append(f"manifest rows {sorted(done.items())}, expected {sorted(expected['part_rows'].items())}")
    return errs


# -- gate tables ----------------------------------------------------------

def write_gate_tables(sf_dir: str, seed: int, tiny: bool = False) -> dict[str, int]:
    """Seeded tables in the shape of the shared testdata (one file, one row
    group each) with the columns the slow gates read. Returns row counts."""
    rng = np.random.default_rng(seed)
    n_events, n_items = (3000, 6000) if tiny else (10_000, 60_000)
    os.makedirs(sf_dir, exist_ok=True)

    n_users = max(10, n_events // 67)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(entry.EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    qty = rng.integers(1, 51, n_items).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_items // 4, n_items), pa.int64()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_items), 2)),
    })

    counts = {}
    for name, t in (("events", events), ("lineitem", lineitem)):
        pq.write_table(t, f"{sf_dir}/{name}.parquet", row_group_size=t.num_rows)
        counts[name] = t.num_rows
    return counts


class GatesSlow:
    """One pass over ``PASS_GATES`` on seeded tables; each result is
    collected and the cache cleared after each gate."""

    name = "gates_slow"
    composed_span = "gates.pass"
    #: a pass is short, and the first few still speed up, so more of them
    #: run before timing starts
    warmup_ops = 3
    min_ops = 3

    def __init__(self, spark, work: str, seed: int, tiny: bool = False) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.order = list(PASS_GATES)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.check_oracle = _load_check_oracle()

    def prepare(self) -> None:
        import duckdb

        self.sf_dir = f"{self.work}/sf"
        counts = write_gate_tables(self.sf_dir, self.seed, self.tiny)
        self.rows_in_scope = sum(counts[PASS_GATES[g]] for g in self.order)
        self.con = duckdb.connect()
        for t in counts:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.expected = {}

    def run_gate(self, name: str):
        df = self.queries[name](self.spark, self.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        self.spark.catalog.clearCache()
        return df.columns, df.dtypes, rows

    def run_op(self, op_id: int) -> Outcome:
        return Outcome(op_id, {g: self.run_gate(g) for g in self.order})

    def check_gate(self, name: str, result) -> list[str]:
        """``check_oracle``'s type rules and order-insensitive comparison."""
        scols, sdtypes, srows = result
        if name not in self.expected:
            res = self.con.sql(self.oracles[name])
            self.expected[name] = (
                list(res.columns), [str(t) for t in res.types], res.fetchall()
            )
        ocols, otypes, orows = self.expected[name]
        errs = self.check_oracle.type_check(name, scols, sdtypes, ocols, otypes)
        sc, sr = self.check_oracle.norm_rows(scols, srows)
        oc, orw = self.check_oracle.norm_rows(ocols, orows)
        if sc != oc:
            errs.append(f"columns {sc} != oracle {oc}")
        elif sr != orw:
            bad = sum(a != b for a, b in zip(sr, orw)) + abs(len(sr) - len(orw))
            errs.append(f"{bad} of {len(orw)} rows differ from the oracle")
        return [f"{name}: {e}" for e in errs]

    def check(self, out: Outcome) -> list[str]:
        return [e for g, r in out.value.items() for e in self.check_gate(g, r)]

    def trace_op(self, tracer: Tracer, op_id: int) -> tuple[Outcome, dict]:
        """Every traced gate under its own span: the pass gates first, as in
        a timed operation, then the others."""
        results = {}
        with tracer.span(self.composed_span, op_id):
            for g in self.order:
                with tracer.span(f"gates.{g}", op_id):
                    results[g] = self.run_gate(g)
        for g in TRACED_GATES:
            if g not in results:
                with tracer.span(f"gates.{g}", op_id):
                    results[g] = self.run_gate(g)
        return Outcome(op_id, results), {}


WORKLOADS = {w.name: w for w in (ValidateCold, GatesSlow)}


def cleanup(out: Outcome) -> None:
    for d in out.dirs:
        shutil.rmtree(d, ignore_errors=True)
