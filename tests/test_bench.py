"""bench.py's gate timing loop: a failing gate is loud, never faster."""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


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
