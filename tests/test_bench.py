"""bench.py: a failing gate is loud, never faster; the modes parse
strictly; each mode prints the lines its consumers read."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

import bench

BENCH = Path(bench.__file__)


def test_time_gates_returns_failed_gate(monkeypatch):
    # stub session: clearing the real session's cache would drop the
    # cached fixtures other tests' plans rely on
    cleared = []
    spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: cleared.append(1))
    )
    monkeypatch.setattr(bench, "_materialize", lambda df: None)

    def ok(spark, sf_dir):
        return "df"

    def boom(spark, sf_dir):
        raise RuntimeError("broken gate")

    per_query, failed = bench.time_gates(spark, {"ok": ok, "boom": boom})
    assert failed == ["boom"]
    assert per_query["boom"] == -1.0
    assert per_query["ok"] >= 0.0
    assert len(cleared) == 2  # after every gate, failed or not


def test_emit_exits_1_after_printing_failed_gates(capsys):
    bench._emit({"value": 1.0, "failed": []})
    with pytest.raises(SystemExit) as exc:
        bench._emit({"value": 1.0, "failed": ["boom"]})
    assert exc.value.code == 1
    lines = capsys.readouterr().out.splitlines()
    assert [json.loads(x)["failed"] for x in lines] == [[], ["boom"]]


def test_only_rejects_unknown_gate():
    with pytest.raises(SystemExit, match="q00_missing"):
        bench.run_default(["q21_clip_validation", "q00_missing"])


def test_default_scaling_pair_fits_the_host():
    assert bench.default_scaling_pair(4) == (1, 4)
    assert bench.default_scaling_pair(32) == (8, 32)


@pytest.mark.parametrize(
    "argv", [["--skew"], ["--scalling"], ["--scal"], ["--help-me"], ["--only"]]
)
def test_unknown_flag_exits_2_before_spark(monkeypatch, argv):
    from baskerville_spark import session

    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session started")

    monkeypatch.setattr(session, "get_session", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code == 2


def test_default_run_prints_map_line_then_headline(monkeypatch, capsys):
    """Stubbed session, gates and clip pass: the real session's clearCache
    would drop the cached fixtures other tests' plans rely on."""
    import __spark_entry__ as entry_mod
    from baskerville_spark import session

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )
    monkeypatch.setattr(session, "get_session", lambda *a, **k: spark)

    def ok(spark, sf_dir):
        return "df"

    def boom(spark, sf_dir):
        raise RuntimeError("broken gate")

    monkeypatch.setattr(entry_mod, "queries", lambda: {"ok": ok, "boom": boom})
    monkeypatch.setattr(bench, "_materialize", lambda df: None)
    monkeypatch.setattr(bench, "write_table", lambda spark, root, cfg: None)
    suites = []
    clip = {"elapsed_s": 2.0, "clips_per_sec": 50.0,
            "clips_per_sec_min": 40.0, "clips_per_sec_max": 60.0}

    def clip_pass(spark, root, trials, suite):
        suites.append(suite)
        return clip

    monkeypatch.setattr(bench, "clip_pass", clip_pass)
    with pytest.raises(SystemExit) as exc:
        bench.main([])
    assert exc.value.code == 1
    map_line, headline = [
        json.loads(x) for x in capsys.readouterr().out.splitlines()
    ]
    assert suites == ["full"]
    assert sorted(map_line) == ["clip_bench", "cpus", "failed", "queries", "sf"]
    assert map_line["queries"]["boom"] == -1.0
    assert list(map_line["queries"]) == ["ok", "boom"]
    assert map_line["failed"] == headline["failed"] == ["boom"]
    assert map_line["clip_bench"] == clip
    assert headline["metric"] == "validation_suite_plus_queries_wall"
    assert headline["n_queries"] == 2
    assert "per_query_file" not in headline


def test_clips_only_times_an_existing_table(spark, tmp_path):
    from baskerville_spark.generator import GenConfig

    bench.write_table(spark, str(tmp_path), GenConfig(n_rows=200, n_parts=2))
    out = subprocess.run(
        [sys.executable, str(BENCH), "--clips-only", "1", str(tmp_path)],
        capture_output=True,
        text=True,
        env={**os.environ, "BENCH_TRIALS": "1"},
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1
    clip = json.loads(lines[0])
    assert clip["n_clips"] == 200
    assert clip["suite"] == "decode"
    assert clip["cpus"] == 1
    assert len(clip["trials"]) == 1
