"""The benchmark's own tests: a tiny-size smoke of each workload through the
CLI, the traced run's span counters, failure accounting, and the refusal to
run without the program.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(several minutes: every CLI run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _cli(workload: str, trace: int, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p, None


def _assert_result(res: dict, kind: str) -> dict:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload):
    p, res = _cli(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    m = _assert_result(res, "end_to_end")
    assert all(v > 0 for v in m.values())
    assert m["op_p50_s"] < m["setup_s"]


def test_trace_validate_spans_carry_counters():
    p, res = _cli("validate_cold", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    m = _assert_result(res, "per_layer")
    for layer in ("runner.run_resumable", "runner.slim_scan", "checks.stats",
                  "checks.uniqueness", "checks.schema_check", "checks.invariants",
                  "runner.run_validation"):
        assert m[f"{layer}.jobs"] > 0 and m[f"{layer}.tasks"] > 0, layer
        assert m[f"{layer}.wall_s"] > 0, layer
    assert m["checks.uniqueness.shuffle_write_bytes"] > 0
    assert m["runner.run_validation.jobs"] < m["runner.run_resumable.jobs"]
    assert all(m[k] == 0 for k in m if k.startswith("gates."))

    with open(os.path.join(ROOT, ".perfbench", "spans-validate_cold-seed3.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert {s["name"] for s in spans} >= {"runner.run_resumable", "checks.uniqueness"}
    assert all(s["start"] <= s["end"] and s["op_id"] == spans[0]["op_id"] for s in spans)


def test_trace_gates_spans_carry_counters():
    p, res = _cli("gates_slow", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    m = _assert_result(res, "per_layer")
    from perfbench.workloads import TRACED_GATES

    for g in TRACED_GATES:
        assert m[f"gates.{g}.jobs"] > 0 and m[f"gates.{g}.wall_s"] > 0, g
    assert m["runner.run_resumable.jobs"] == 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, res = _cli("validate_cold", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert res is None


class _Raising:
    def run_op(self, op_id):
        raise RuntimeError("engine failure")

    def check(self, out):
        return []


def test_raising_op_is_counted_not_fatal():
    from perfbench.run import Runner

    r = Runner(_Raising())
    assert len(r.loop(0)) == 1
    assert r.failed == 1 and "engine failure" in r.ops[0]["errors"][0]


def _bump_null_count(verdicts_dir: str) -> None:
    """Add one to the first non-zero null-rate violation count on disk."""
    for d, _, files in os.walk(verdicts_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(d, f)
            t = pq.read_table(path, partitioning=None)
            rows = t.to_pylist()
            for r in rows:
                if r["check_name"] == "null_rate:dur_ms" and r["n_violations"]:
                    r["n_violations"] += 1
                    pq.write_table(type(t).from_pylist(rows, schema=t.schema), path)
                    return
    raise AssertionError("no null-rate violation to corrupt")


def test_corrupted_verdict_count_is_a_failed_op(tmp_path):
    from perfbench import run, workloads

    spark, _ = run.start_session("perfbench-test", 2, str(tmp_path / "work"))
    try:
        wl = workloads.ValidateCold(spark, str(tmp_path / "data"), seed=3, tiny=True)
        wl.prepare()
        real = wl.run_op

        def corrupted(op_id):
            out = real(op_id)
            _bump_null_count(f"{out.dirs[0]}/out/verdicts")
            return out

        r = run.Runner(wl)
        r.one()
        assert r.failed == 0
        wl.run_op = corrupted
        r.one()
        assert r.failed == 1
        assert "null dur_ms" in r.ops[1]["errors"][0]
    finally:
        run.stop_session(spark)
