"""bench.py: a failing gate is loud, never faster; the modes parse
strictly; each mode prints the lines its consumers read."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

import bench


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
    passes = []
    clip = {"elapsed_s": 2.0, "clips_per_sec": 50.0,
            "clips_per_sec_min": 40.0, "clips_per_sec_max": 60.0}

    def clip_pass(spark, root, trials):
        passes.append(trials)
        return clip

    monkeypatch.setattr(bench, "clip_pass", clip_pass)
    with pytest.raises(SystemExit) as exc:
        bench.main([])
    assert exc.value.code == 1
    map_line, headline = [
        json.loads(x) for x in capsys.readouterr().out.splitlines()
    ]
    assert passes == [bench.BENCH_TRIALS]
    assert sorted(map_line) == ["clip_bench", "cpus", "failed", "queries", "sf"]
    assert map_line["queries"]["boom"] == -1.0
    assert list(map_line["queries"]) == ["ok", "boom"]
    assert map_line["failed"] == headline["failed"] == ["boom"]
    assert map_line["clip_bench"] == clip
    assert headline["metric"] == "validation_suite_plus_queries_wall"
    assert headline["n_queries"] == 2
    assert "per_query_file" not in headline

