"""Golden sinks of ``run_validation`` for every flag combination the tests use.

One small generated clip table (500 clips, 4 partitions: every injected
violation kind lands in partitions 1-3, partition 3 is the drifted one) is
validated under each pinned ``ValidationConfig``, with and without the
transcript dimension and a drift baseline captured from partition 0. The
sorted rows and the ``StructType`` (nullability included) of ``verdicts``,
``violations``, ``stats`` and ``states`` are pinned to
``tests/data/runner_golden.json``. Each partition holds 125 rows, so
``percentile_approx`` is exact and the stats rows are stable.

HLL sketches are pinned by their estimate, decimals as strings, floats to
1e-9 relative. ``PYTHONPATH=. python tests/test_runner_golden.py`` rewrites
the golden file from the current code; review its diff row by row.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

from pyspark.sql import functions as F

from baskerville_spark.checks import suite
from baskerville_spark.generator import GenConfig, generate_clips, generate_transcript_ref

from test_audio_golden import _same, _write_golden

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "runner_golden.json")

CFG = GenConfig(n_rows=500, n_parts=4)

#: (label, ValidationConfig kwargs, with transcript dim, with baseline)
CASES = [
    ("default", {}, True, False),
    ("default/no_tref", {}, False, False),
    ("no_audio", {"check_audio": False}, True, False),
    ("no_audio/states", {"check_audio": False,
                         "state_hist_edges": {"dur_ms": [500.0, 1500.0, 3000.0]}},
     False, False),
    ("suite_baseline", {"check_audio": False,
                        "extra_suite": (suite.completeness("dur_ok", "dur_ms", 0.01),)},
     True, True),
    ("all", {"state_hist_edges": {},
             "extra_suite": (suite.bounds("sr_ok", "sr_hz", 8000, 44100, 0.0),)},
     True, True),
]

SINKS = ("verdicts", "violations", "stats", "states")


def _rows(df) -> list[dict]:
    binary = [f.name for f in df.schema.fields if f.dataType.typeName() == "binary"]
    # an HLL sketch's bytes depend on merge order; its estimate does not
    df = df.withColumns({c: F.hll_sketch_estimate(c) for c in binary})
    out = []
    for r in df.collect():
        out.append({k: str(v) if isinstance(v, Decimal) else v
                    for k, v in r.asDict(recursive=True).items()})
    return sorted(out, key=lambda d: json.dumps(d, sort_keys=True, default=str))


def runner_outputs(spark) -> dict:
    """{"<case>/<sink>": {"schema": ..., "rows": [...]}} over CASES."""
    from baskerville_spark.checks.drift import capture_baseline
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    clips = generate_clips(spark, CFG).cache()
    tref = generate_transcript_ref(spark, CFG).cache()
    baseline = capture_baseline(
        clips.where("part_id = 0"), ["sr_hz", "dur_ms"], ["codec"]
    )
    out = {}
    try:
        for label, kw, with_tref, with_base in CASES:
            res = run_validation(
                spark, clips, tref if with_tref else None,
                baseline if with_base else None, cfg=ValidationConfig(**kw),
            )
            for sink in SINKS:
                df = getattr(res, sink)
                if df is not None:
                    out[f"{label}/{sink}"] = {
                        "schema": df.schema.jsonValue(), "rows": _rows(df),
                    }
            res.unpersist()
    finally:
        clips.unpersist()
        tref.unpersist()
    return out


def test_run_validation_sinks_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = json.loads(json.dumps(runner_outputs(spark)))
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name]["schema"] == want[name]["schema"], name
        assert _same(got[name]["rows"], want[name]["rows"]), name


def test_reliable_checkpoint_path_matches_golden(spark, tmp_path):
    """With a checkpoint dir set, run_validation's checkpoints are reliable
    files: its sinks equal the golden ``default`` case, and unpersist()
    deletes every file. The session-global dir is unset afterwards (the
    JVM setter accepts null) so later tests keep the local path."""
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    with open(GOLDEN) as f:
        want = json.load(f)
    ckdir = tmp_path / "ck"
    sc = spark.sparkContext
    clips = generate_clips(spark, CFG).cache()
    tref = generate_transcript_ref(spark, CFG).cache()
    sc.setCheckpointDir(str(ckdir))
    try:
        res = run_validation(spark, clips, tref, cfg=ValidationConfig())
        assert [p for p in ckdir.rglob("*") if p.is_file()]
        for sink in ("verdicts", "violations", "stats"):
            df = getattr(res, sink)
            name = f"default/{sink}"
            assert df.schema.jsonValue() == want[name]["schema"], name
            got = json.loads(json.dumps(_rows(df)))
            assert _same(got, want[name]["rows"]), name
        res.unpersist()
        assert [p for p in ckdir.rglob("*") if p.is_file()] == []
    finally:
        sc._jsc.sc().setCheckpointDir(None)
        clips.unpersist()
        tref.unpersist()
    assert sc.getCheckpointDir() is None


if __name__ == "__main__":
    from baskerville_spark.session import get_session

    spark = get_session("runner-golden", master="local[4]", shuffle_partitions=8)
    _write_golden(runner_outputs(spark), GOLDEN)
