"""CLI (spark-submit entry) smoke: generate → baseline → validate via
main(argv), in-process (getOrCreate reuses the test session)."""

from __future__ import annotations

import json

from baskerville_spark.main import main


def test_cli_generate_baseline_validate(spark, tmp_path, capsys):
    out = str(tmp_path)
    assert main([
        "generate", "--out", f"{out}/demo", "--n-rows", "400", "--n-parts", "4",
    ]) == 0
    assert main([
        "baseline", "--clips", f"{out}/demo/clips", "--out", f"{out}/baseline",
    ]) == 0
    assert main([
        "validate",
        "--clips", f"{out}/demo/clips",
        "--transcripts", f"{out}/demo/tref",
        "--baseline", f"{out}/baseline",
        "--manifest", f"{out}/manifest",
        "--out", f"{out}/results",
        "--skip-audio",
    ]) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    report = json.loads(lines[-1])
    assert report["partitions_processed"] == [0, 1, 2, 3]
    assert report["rows"] == 400

    verdicts = spark.read.parquet(f"{out}/results/verdicts")
    assert verdicts.where("part_id = 0").count() > 0

    # second invocation: resumable — nothing pending
    assert main([
        "validate",
        "--clips", f"{out}/demo/clips",
        "--manifest", f"{out}/manifest",
        "--out", f"{out}/results",
        "--skip-audio",
    ]) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert json.loads(lines[-1])["partitions_processed"] == []


def test_cli_validate_reads_clips_once(spark, tmp_path, capsys, monkeypatch):
    """validate reports `rows` from the row counts the run committed to
    the manifest: the clip table is read once, by the run itself (one
    reader call, over paths under the table)."""
    from pyspark.sql.readwriter import DataFrameReader

    from baskerville_spark.generator import GenConfig, write_clips

    clips = str(tmp_path / "clips")
    write_clips(spark, clips, GenConfig(n_rows=120, n_parts=3))
    reads = []
    parquet = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        reads.append(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    assert main([
        "validate", "--clips", clips, "--manifest", str(tmp_path / "manifest"),
        "--out", str(tmp_path / "results"), "--skip-audio",
    ]) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    report = json.loads(lines[-1])
    assert report["partitions_processed"] == [0, 1, 2]
    assert report["rows"] == 120
    assert len(reads) == 1
    assert all(p.startswith(f"{clips}/") for p in reads[0])


def test_py_files_zip_importable(tmp_path):
    """The spark-submit --py-files contract end to end: scripts/package.sh
    must produce a zip whose root-level package dir resolves via zipimport —
    exactly how executors import --py-files archives. Import in a FRESH
    interpreter so the already-imported repo package can't mask a bad zip."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    built = subprocess.run(
        ["bash", str(repo / "scripts" / "package.sh")],
        capture_output=True, text=True, cwd=repo,
    )
    assert built.returncode == 0, built.stderr
    zpath = repo / "dist" / "baskerville_spark.zip"
    assert zpath.is_file()
    probe = subprocess.run(
        [
            sys.executable, "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "import baskerville_spark.checks.drift as d; "
            "import baskerville_spark.gates.dedup; "
            "import baskerville_spark.gates.iforest; "
            "import baskerville_spark.runtime.runner; "
            "assert 'baskerville_spark.zip' in d.__file__, d.__file__; "
            "print(d.PSI_THRESHOLD)",
            str(zpath),
        ],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert probe.returncode == 0, probe.stderr
    assert probe.stdout.strip() == "0.2"


def test_setuptools_build_ships_every_subpackage(tmp_path):
    """A setuptools build of the package carries every subpackage. Build a
    copy of the sources (the build writes egg-info beside them), then
    import one module of each subpackage from the build directory in a
    fresh interpreter whose cwd holds no source tree."""
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    src, lib = tmp_path / "src", tmp_path / "lib"
    shutil.copytree(repo / "baskerville_spark", src / "baskerville_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(repo / "pyproject.toml", src)
    built = subprocess.run(
        [sys.executable, "-c", "import setuptools; setuptools.setup()",
         "build", "--build-lib", str(lib)],
        capture_output=True, text=True, cwd=src,
    )
    assert built.returncode == 0, built.stderr
    modules = ["checks.drift", "gates.dedup", "gates.iforest", "runtime.runner"]
    probe = subprocess.run(
        [sys.executable, "-c",
         "import importlib, sys; sys.path.insert(0, sys.argv[1]); "
         "print('\\n'.join(importlib.import_module('baskerville_spark.' + m).__file__ "
         "for m in sys.argv[2:]))",
         str(lib), *modules],
        capture_output=True, text=True, cwd=tmp_path,
    )
    assert probe.returncode == 0, probe.stderr
    files = probe.stdout.split()
    assert len(files) == len(modules)
    assert all(f.startswith(str(lib)) for f in files), files


def test_spark_submit_py_files_e2e(spark, tmp_path):
    """The north-rule packaging contract EXECUTED: a real ``spark-submit
    --py-files dist/baskerville_spark.zip`` validate run in a fresh driver
    JVM, launched from a cwd outside the repo so the engine can only come
    from the zip. Asserts the run validates every partition and that the
    persisted verdicts match the generator's golden (partition 0 all-pass).
    """
    import json
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    import pytest

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH in this environment")

    from baskerville_spark.generator import (
        GenConfig,
        write_clips,
        write_transcript_ref,
    )

    cfg = GenConfig(n_rows=300, n_parts=3)
    write_clips(spark, str(tmp_path / "clips"), cfg)
    write_transcript_ref(spark, str(tmp_path / "tref"), cfg)

    repo = Path(__file__).resolve().parents[1]
    built = subprocess.run(
        ["bash", str(repo / "scripts" / "package.sh")],
        capture_output=True, text=True, cwd=repo,
    )
    assert built.returncode == 0, built.stderr
    zpath = repo / "dist" / "baskerville_spark.zip"
    main_copy = tmp_path / "main.py"  # outside the repo: zip-only imports
    main_copy.write_bytes((repo / "baskerville_spark" / "main.py").read_bytes())

    env = dict(os.environ)
    env.update({"SPARK_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2"})
    env.pop("PYTHONPATH", None)  # nothing from the repo may leak in
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    r = subprocess.run(
        [
            submit, "--master", "local[2]",
            # must be a spark-submit flag: the driver JVM is launched before
            # session.py's spark.driver.memory conf could apply
            "--driver-memory", "2g",
            "--py-files", str(zpath),
            str(main_copy), "validate",
            "--clips", str(tmp_path / "clips"),
            "--transcripts", str(tmp_path / "tref"),
            "--manifest", str(tmp_path / "manifest"),
            "--out", str(tmp_path / "out"),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["partitions_processed"] == [0, 1, 2]
    assert report["rows"] == 300

    verdicts = spark.read.parquet(str(tmp_path / "out" / "verdicts")).collect()
    assert {v["part_id"] for v in verdicts} == {0, 1, 2}
    p0 = [v for v in verdicts if v["part_id"] == 0]
    assert p0 and all(v["passed"] for v in p0)


def test_cli_validate_with_json_suite(spark, tmp_path, capsys):
    """Config-driven validation end-to-end: a JSON suite file adds
    suite:<name> rows to the verdict grid of a normal resumable run."""
    out = str(tmp_path)
    assert main([
        "generate", "--out", f"{out}/demo", "--n-rows", "200", "--n-parts", "2",
    ]) == 0
    doc = json.dumps({"format": 1, "constraints": [
        {"name": "sr_plausible", "kind": "bounds", "column": "sr_hz",
         "threshold": 0.5, "params": [8000, 48000]},
        {"name": "transcript_present", "kind": "completeness",
         "column": "transcript", "threshold": 0.9},
        {"name": "dur_positive", "kind": "predicate", "column": None,
         "threshold": 0.0, "params": ["dur_ms > 0"]},
    ]})
    suite_path = f"{out}/suite.json"
    with open(suite_path, "w") as fh:
        fh.write(doc)
    assert main([
        "validate",
        "--clips", f"{out}/demo/clips",
        "--manifest", f"{out}/manifest",
        "--out", f"{out}/results",
        "--skip-audio",
        "--suite", suite_path,
    ]) == 0
    capsys.readouterr()
    v = spark.read.parquet(f"{out}/results/verdicts")
    suite_rows = v.where("check_name LIKE 'suite:%'").collect()
    names = {r["check_name"] for r in suite_rows}
    assert names == {"suite:sr_plausible", "suite:transcript_present",
                     "suite:dur_positive"}
    # one row per (partition, constraint), same grid shape as built-ins
    assert len(suite_rows) == 2 * 3
    assert all(r["passed"] is not None for r in suite_rows)


def test_cli_profile(spark, tmp_path, capsys):
    """profile: baseline-free statistical screens end to end — parquet
    reports per screen + one JSON summary line, on the generated fixture
    (whose drifted last partition must dominate max_cramers_v)."""
    out = str(tmp_path)
    assert main([
        "generate", "--out", f"{out}/demo", "--n-rows", "400", "--n-parts", "4",
    ]) == 0
    assert main([
        "profile", "--clips", f"{out}/demo/clips", "--out", f"{out}/profile",
    ]) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines()
             if l.startswith("{")]
    rep = json.loads(lines[-1])
    assert rep["max_cramers_v"] is not None and rep["max_cramers_v"] > 0.2
    assert rep["spearman_dur_vs_bytes"] is not None
    assert 0 <= rep["benford_max_abs_dev"] <= 1
    assert rep["zipf_slope"] is not None and rep["zipf_slope"] < 0

    mix = spark.read.parquet(f"{out}/profile/chi2_codec")
    assert mix.count() == 4 and "cramers_v" in mix.columns
    bf = spark.read.parquet(f"{out}/profile/benford_dur_ms")
    assert bf.count() == 9


def test_cli_profile_skips_missing_columns(spark, tmp_path, capsys):
    """A table without the categorical/partition/duration/text columns
    skips those screens (absent summary keys) instead of dying in
    AnalysisException (r05 review)."""
    out = str(tmp_path)
    spark.createDataFrame([(1.0,), (2.0,)], "x double").write.parquet(
        f"{out}/bare"
    )
    assert main(["profile", "--clips", f"{out}/bare", "--out", f"{out}/p"]) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines()
             if l.startswith("{")]
    rep = json.loads(lines[-1])
    for k in ("max_cramers_v", "nmi_cat_vs_part", "spearman_dur_vs_bytes",
              "benford_max_abs_dev", "zipf_slope"):
        assert k not in rep
