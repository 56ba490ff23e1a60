"""CLI entry point — spark-submit friendly.

Reference parity: main.py argparse → config → engine → run
(src/baskerville/main.py:80-120); our pipeline steps map to subcommands.

Cluster usage (the north-rule packaging contract):

    scripts/package.sh      # builds dist/baskerville_spark.zip
    spark-submit --py-files dist/baskerville_spark.zip \
        baskerville_spark/main.py validate \
        --clips s3://bucket/clips --transcripts s3://bucket/tref \
        --baseline s3://bucket/baseline \
        --manifest s3://bucket/manifest --out s3://bucket/results

Local smoke:

    python -m baskerville_spark.main generate --out /tmp/demo --n-rows 5000
    python -m baskerville_spark.main baseline --clips /tmp/demo/clips --out /tmp/demo/baseline
    python -m baskerville_spark.main validate --clips /tmp/demo/clips \
        --transcripts /tmp/demo/tref --baseline /tmp/demo/baseline \
        --manifest /tmp/demo/manifest --out /tmp/demo/results
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from baskerville_spark.session import get_session

    return get_session("baskerville-spark", master=args.master)


def cmd_generate(args) -> int:
    from baskerville_spark.generator import GenConfig, write_clips, write_transcript_ref

    spark = _spark(args)
    cfg = GenConfig(n_rows=args.n_rows, n_parts=args.n_parts)
    write_clips(spark, f"{args.out}/clips", cfg)
    write_transcript_ref(spark, f"{args.out}/tref", cfg)
    print(json.dumps({"written": args.out, "n_rows": args.n_rows, "n_parts": args.n_parts}))
    return 0


def cmd_baseline(args) -> int:
    from baskerville_spark.checks.drift import capture_baseline, save_baseline

    spark = _spark(args)
    df = spark.read.parquet(args.clips)
    if args.clean_part is not None:
        df = df.where(f"part_id = {int(args.clean_part)}")
    rows = capture_baseline(
        df,
        numeric_cols=args.numeric_cols.split(","),
        categorical_cols=args.categorical_cols.split(","),
    )
    save_baseline(spark, rows, args.out)
    print(json.dumps({"baseline": args.out, "columns": len(rows)}))
    return 0


def cmd_validate(args) -> int:
    from baskerville_spark.runtime.runner import ValidationConfig, run_resumable

    spark = _spark(args)
    extra_suite = ()
    if args.suite:
        from baskerville_spark.checks.suite import suite_from_json

        with open(args.suite) as fh:
            extra_suite = tuple(suite_from_json(fh.read()))
    t0 = time.time()
    processed = run_resumable(
        spark,
        clips_path=args.clips,
        manifest_path=args.manifest,
        out_dir=args.out,
        transcript_ref_path=args.transcripts,
        baseline_path=args.baseline,
        cfg=ValidationConfig(
            check_audio=not args.skip_audio, extra_suite=extra_suite
        ),
    )
    elapsed = time.time() - t0
    n_rows = 0
    if processed:
        import pyarrow.compute as pc

        from baskerville_spark.runtime.manifest import read_manifest

        # the per-partition row counts this run committed: no second scan
        # of the clip table
        ledger = read_manifest(args.manifest)
        n_rows = pc.sum(
            ledger.filter(pc.field("part_id").isin(processed))["n_rows"]
        ).as_py()
    print(
        json.dumps(
            {
                "partitions_processed": processed,
                "elapsed_s": round(elapsed, 2),
                "rows": n_rows,
                "clips_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else None,
            }
        )
    )
    return 0


def cmd_profile(args) -> int:
    """Statistical profile of a clip table: the association/forensic
    screens that need no baseline — per-partition categorical-mix chi2
    (Cramér's V), codec↔partition mutual information, duration↔payload
    Spearman rank consistency, Benford first-digit forensics, and (when
    a transcript column exists) the Zipf corpus-health fit. Each report
    lands as parquet under --out/<screen>; one compact JSON summary line
    on stdout (the validate-report convention)."""
    from pyspark.sql import functions as F

    from baskerville_spark.checks.drift import (
        chi2_homogeneity,
        mutual_info,
        spearman_corr,
    )
    from baskerville_spark.checks.stats import benford_digits
    from baskerville_spark.checks.stats import zipf_fit

    spark = _spark(args)
    df = spark.read.parquet(args.clips)
    out = args.out
    summary: dict = {"profiled": args.clips}

    # every screen is guarded on its columns: a table without a codec or
    # partition column skips those screens (recorded as absent keys), it
    # doesn't die in AnalysisException after spinning up Spark
    if args.part_col in df.columns and args.cat_col in df.columns:
        mix = chi2_homogeneity(df, args.part_col, args.cat_col)
        mix.write.mode("overwrite").parquet(f"{out}/chi2_{args.cat_col}")
        row = mix.agg(F.max("cramers_v").alias("v")).first()
        summary["max_cramers_v"] = (
            round(float(row["v"]), 6) if row["v"] is not None else None
        )

        mi = mutual_info(df, args.cat_col, args.part_col)
        mi.write.mode("overwrite").parquet(f"{out}/mi_{args.cat_col}")
        r = mi.first()
        summary["nmi_cat_vs_part"] = (
            round(float(r["nmi"]), 6) if r["nmi"] is not None else None
        )

    if "bytes" in df.columns and args.dur_col in df.columns:
        sp = spearman_corr(
            df.withColumn("__blen", F.length("bytes")), args.dur_col, "__blen"
        )
        sp.write.mode("overwrite").parquet(f"{out}/spearman_{args.dur_col}_bytes")
        r = sp.first()
        summary["spearman_dur_vs_bytes"] = (
            round(float(r["rho"]), 6) if r["rho"] is not None else None
        )

    if args.dur_col in df.columns:
        bf = benford_digits(df, args.dur_col)
        bf.write.mode("overwrite").parquet(f"{out}/benford_{args.dur_col}")
        r = bf.agg(F.max("abs_dev").alias("d")).first()
        summary["benford_max_abs_dev"] = (
            round(float(r["d"]), 6) if r["d"] is not None else None
        )

    if args.text_col in df.columns:
        # zipf_fit persists nothing internally — without this persist the
        # summary .first() would re-run the full explode+groupBy corpus
        # scan the write just paid (r05 review)
        zf = zipf_fit(df, args.text_col).persist()
        zf.write.mode("overwrite").parquet(f"{out}/zipf_{args.text_col}")
        r = zf.first()
        summary["zipf_slope"] = (
            round(float(r["slope"]), 6) if r["slope"] is not None else None
        )
        summary["zipf_r2"] = (
            round(float(r["r2"]), 6) if r["r2"] is not None else None
        )
        zf.unpersist()

    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="baskerville_spark")
    p.add_argument("--master", default=None, help="Spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a synthetic clip table")
    g.add_argument("--out", required=True)
    g.add_argument("--n-rows", type=int, default=10000)
    g.add_argument("--n-parts", type=int, default=16)
    g.set_defaults(fn=cmd_generate)

    b = sub.add_parser("baseline", help="capture a drift baseline snapshot")
    b.add_argument("--clips", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--clean-part", default=0)
    b.add_argument("--numeric-cols", default="sr_hz,dur_ms")
    b.add_argument("--categorical-cols", default="codec")
    b.set_defaults(fn=cmd_baseline)

    v = sub.add_parser("validate", help="resumable validation run")
    v.add_argument("--clips", required=True)
    v.add_argument("--transcripts", default=None)
    v.add_argument("--baseline", default=None)
    v.add_argument("--manifest", required=True)
    v.add_argument("--out", required=True)
    v.add_argument("--skip-audio", action="store_true")
    v.add_argument("--suite", default=None,
                   help="JSON constraint-suite file (checks/suite.py "
                        "suite_from_json); verdicts appear as suite:<name>")
    v.set_defaults(fn=cmd_validate)

    pr = sub.add_parser(
        "profile",
        help="baseline-free statistical screens (chi2/V, MI, Spearman, "
             "Benford, Zipf) → parquet reports + JSON summary",
    )
    pr.add_argument("--clips", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--part-col", default="part_id")
    pr.add_argument("--cat-col", default="codec")
    pr.add_argument("--dur-col", default="dur_ms")
    pr.add_argument("--text-col", default="transcript")
    pr.set_defaults(fn=cmd_profile)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
