"""Benchmark harness. Each mode prints JSON lines on stdout (Spark's
progress bars go to stderr); an unknown flag exits 2 with usage before any
Spark session starts.

python bench.py
    Times every queries() gate of __spark_entry__ at $SPARK_GRAFT_SF_DIR
    (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], then the
    clip pass: the full validation suite over a generated table of
    BENCH_CLIPS (100,000) clips in BENCH_PARTS (16) partitions, median of
    BENCH_TRIALS (3) timed trials with per-trial loadavg (module constants).
    Prints two lines: the per-gate map
      {"queries": {name: sec}, "failed": [...], "clip_bench": {...},
       "sf": ..., "cpus": ...}
    and then the compact headline
      {"metric": "...", "value": <total sec>, "unit": "sec", ...}
    last, so a consumer that keeps only the stdout tail still gets it whole.

python bench.py --only NAME...
    Times just the named gates and prints {"queries": ..., "failed": ...}.
    An unknown name is an error.

Honesty measures (this box hosts co-tenants and timings vary 2-6x):
- an untimed warm-up absorbs JVM C2/codegen + python-worker spawn before
  ANY timed work, for the gates and for the clip pass alike;
- spark.catalog.clearCache() between gates so persisted intermediates from
  one gate never occupy executor storage during the next.

A gate that raises is timed -1.0 and named in "failed", and the run exits 1
after printing its lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
# same clip count as the BASELINE.md table so the numbers are comparable
BENCH_CLIPS = 100000
BENCH_PARTS = 16
BENCH_TRIALS = 3


def _materialize(df) -> int:
    """Force full execution without driver-side transfer (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def write_table(spark, root: str, cfg) -> None:
    """The clip table a clip pass reads: ``{root}/clips`` and its
    transcript dimension ``{root}/tref``."""
    from baskerville_spark.generator import write_clips, write_transcript_ref

    write_clips(spark, f"{root}/clips", cfg)
    write_transcript_ref(spark, f"{root}/tref", cfg)


def _timed_suite(spark, clips, tref, baseline) -> float:
    """One timed pass of the whole check suite; returns elapsed seconds."""
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    t0 = time.time()
    res = run_validation(spark, clips, tref, baseline, cfg=ValidationConfig())
    res.verdicts.count()
    res.violations.count()
    res.unpersist()
    return time.time() - t0


def clip_pass(spark, root: str, trials: int) -> dict:
    """Validated clips/sec over the table ``write_table`` left at ``root``.

    The timed window is the check suite reading from disk — the production
    shape; generation is not timed. Reports the MEDIAN of ``trials`` timed
    passes with per-trial loadavg, so one co-tenant burst doesn't define
    the number.
    """
    from baskerville_spark.checks.drift import capture_baseline

    clips = spark.read.parquet(f"{root}/clips")
    tref = spark.read.parquet(f"{root}/tref")
    n_clips = clips.count()
    baseline = capture_baseline(
        clips.where("part_id = 0"), ["sr_hz", "dur_ms"], ["codec"]
    )

    # untimed warm-up on a slice: JIT/codegen + python-worker spawn are
    # one-time JVM costs, not per-job throughput (production clusters are
    # warm); the repartition makes sure EVERY core's python worker spawns.
    par = spark.sparkContext.defaultParallelism
    warm_slice = clips.where("part_id = 0").repartition(par)
    _timed_suite(spark, warm_slice, tref, baseline)

    runs = []
    for _ in range(max(1, trials)):
        load0 = os.getloadavg()[0]
        el = _timed_suite(spark, clips, tref, baseline)
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
        "elapsed_s": round(med, 3),
        "clips_per_sec": round(n_clips / med, 1),
        "clips_per_sec_min": min(rates),
        "clips_per_sec_max": max(rates),
        "trials": runs,
    }


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


def _emit(*lines: dict) -> None:
    """Print each dict as one JSON line, then exit 1 if any gate failed."""
    for line in lines:
        print(json.dumps(line, separators=(",", ":")), flush=True)
    if lines[-1]["failed"]:
        sys.exit(1)


def run_default(only: list[str] | None = None) -> None:
    import __spark_entry__ as entry_mod
    from baskerville_spark.generator import GenConfig
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

    with tempfile.TemporaryDirectory(prefix="bench_clips_") as root:
        write_table(spark, root, GenConfig(n_rows=BENCH_CLIPS, n_parts=BENCH_PARTS))
        clip = clip_pass(spark, root, BENCH_TRIALS)
    # headline = queries + ONE logical clip pass (the median trial), so the
    # value is comparable across rounds regardless of BENCH_TRIALS; the
    # per-trial detail lives in clip_bench. metric_version marks the change
    # (r2's JSON summed all trials).
    total = sum(v for v in per_query.values() if v > 0) + clip["elapsed_s"]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    slow5 = dict(
        sorted(per_query.items(), key=lambda kv: -kv[1])[:5]
    )
    # Round-4 lesson: the 107-entry per-query map made the metric line longer
    # than the driver's stdout tail capture, truncating the leading
    # '{"metric":...' and leaving BENCH_r04.json parsed:null. The fat map
    # goes on its own line first; the FINAL stdout line is a compact
    # headline the driver can always capture whole.
    _emit(
        {"queries": per_query, "failed": failed, "clip_bench": clip,
         "sf": sf, "cpus": int(CPUS)},
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
            "cpus": int(CPUS),
            "loadavg": round(os.getloadavg()[0], 1),
        },
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        allow_abbrev=False,
        description="Gate timings + clip-validation throughput (default), "
        "or just the named gates (--only)."
    )
    p.add_argument("--only", nargs="+", metavar="NAME",
                   help="time just the named gates; no clip pass")
    args = p.parse_args(argv)
    run_default(args.only)


if __name__ == "__main__":
    main()
