"""Checkpoint manifest + resumable runner (Runtime-ledger parity:
reference db/models.py:41-75 / base_spark.py:567-579, per-partition and
idempotent here)."""

from __future__ import annotations

import json
from datetime import datetime, timezone

from baskerville_spark.generator import GenConfig, write_clips, write_transcript_ref
from baskerville_spark.runtime.manifest import commit_partition, done_partitions
from baskerville_spark.runtime.runner import ValidationConfig, run_resumable

CFG = GenConfig(n_rows=400, n_parts=4)


def _paths(tmp_path):
    return (
        str(tmp_path / "clips"),
        str(tmp_path / "tref"),
        str(tmp_path / "manifest"),
        str(tmp_path / "out"),
    )


def test_resume_skips_done_partitions(spark, tmp_path):
    clips_p, tref_p, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    write_transcript_ref(spark, tref_p, CFG)

    # pretend partitions 0 and 2 already finished (killed-job scenario)
    now = datetime.now(timezone.utc)
    commit_partition(man_p, 0, 100, 0, now)
    commit_partition(man_p, 2, 100, 5, now)

    processed = run_resumable(
        spark, clips_p, man_p, out_p, tref_p, cfg=ValidationConfig(check_audio=False)
    )
    assert processed == [1, 3]
    assert done_partitions(spark, man_p) == {0, 1, 2, 3}

    # idempotent: nothing pending on re-run
    assert run_resumable(
        spark, clips_p, man_p, out_p, tref_p, cfg=ValidationConfig(check_audio=False)
    ) == []


def test_fresh_run_processes_all(spark, tmp_path, capsys):
    clips_p, tref_p, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    write_transcript_ref(spark, tref_p, CFG)
    processed = run_resumable(
        spark, clips_p, man_p, out_p, tref_p, cfg=ValidationConfig(check_audio=False)
    )
    assert processed == [0, 1, 2, 3]
    # the run's summary is one JSON line on stderr
    summary = json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert summary["processed"] == [0, 1, 2, 3]
    assert set(summary["metrics"]) == {
        "n_violations", "n_violating_clips", "n_failing_checks",
    }
    assert summary["metrics"]["n_violations"] > 0
    verdicts = spark.read.parquet(f"{out_p}/verdicts")
    assert verdicts.where("part_id = 0").count() > 0
    m = done_partitions(spark, man_p)
    assert m == {0, 1, 2, 3}


def test_retry_replaces_not_duplicates(spark, tmp_path):
    """Crash between output writes and manifest commit: the retried
    partition's output rows must be REPLACED (dynamic partition overwrite),
    never appended twice."""
    import os

    clips_p, tref_p, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    write_transcript_ref(spark, tref_p, CFG)
    run_resumable(spark, clips_p, man_p, out_p, tref_p,
                  cfg=ValidationConfig(check_audio=False))
    v1 = spark.read.parquet(f"{out_p}/verdicts").count()
    s1 = spark.read.parquet(f"{out_p}/stats").count()

    # simulate the crash: partition 1's outputs are on disk but its
    # manifest commit never happened
    os.remove(f"{man_p}/part-00001.parquet")
    assert run_resumable(spark, clips_p, man_p, out_p, tref_p,
                         cfg=ValidationConfig(check_audio=False)) == [1]

    assert spark.read.parquet(f"{out_p}/verdicts").count() == v1
    assert spark.read.parquet(f"{out_p}/stats").count() == s1
    assert done_partitions(spark, man_p) == {0, 1, 2, 3}


def test_sink_contract(spark, tmp_path):
    """Each sink writes one file per partition directory, and the manifest's
    per-partition metrics agree with the verdicts sink."""
    import glob

    import pyspark.sql.functions as F

    clips_p, tref_p, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    assert run_resumable(spark, clips_p, man_p, out_p, cfg=ValidationConfig()) == [0, 1, 2, 3]

    for sink in ("violations", "stats", "verdicts"):
        part_dirs = glob.glob(f"{out_p}/{sink}/part_id=*")
        assert part_dirs, sink
        for d in part_dirs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    expected = {
        r["part_id"]: (r["n_rows"], r["n_viol"])
        for r in spark.read.parquet(f"{out_p}/verdicts")
        .groupBy("part_id")
        .agg(F.max("n_rows").alias("n_rows"), F.sum("n_violations").alias("n_viol"))
        .collect()
    }
    manifest = {
        r["part_id"]: (r["n_rows"], r["n_violations"])
        for r in spark.read.parquet(man_p).collect()
    }
    assert manifest == expected
    assert sum(n for n, _ in manifest.values()) == CFG.n_rows


def _foreign_rdd_leaves(df, ckpts) -> list[str]:
    """The RDD leaves of ``df``'s plan that are not one of the ``ckpts``
    frames' checkpoints, or that ship Python-side rows (a ``PythonRDD`` or
    ``ParallelCollectionRDD`` in their lineage): one debug string each."""
    own = {c._jdf.queryExecution().logical().rdd().id() for c in ckpts}
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        lineage = leaf.rdd().toDebugString()
        if (leaf.rdd().id() not in own or "PythonRDD" in lineage
                or "ParallelCollectionRDD" in lineage):
            out.append(lineage)
    return out


def test_verdict_plan_schema_and_no_python_rdd(spark, tmp_path):
    """The verdict grid keeps its schema, nullability included, and its plan
    ships no Python-side DataFrame: every RDD scan in it reads one of
    run_validation's checkpoints. The outputs read the checkpoints, not the
    plans that filled them (no decode, no cache of one)."""
    from baskerville_spark.runtime.runner import run_validation

    clips_p = str(tmp_path / "clips")
    write_clips(spark, clips_p, CFG)
    res = run_validation(spark, spark.read.parquet(clips_p), cfg=ValidationConfig())
    assert [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in res.verdicts.schema.fields
    ] == [
        ("part_id", "int", True),
        ("check_name", "string", True),
        ("passed", "boolean", True),
        ("metric_value", "double", True),
        ("threshold", "double", False),
        ("n_rows", "bigint", True),
        ("n_violations", "bigint", True),
    ]
    for name in ("verdicts", "violations", "stats"):
        plan = getattr(res, name)._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in plan and "InMemoryRelation" not in plan, name
    ckpts = (res.stats, res.violations)
    assert _foreign_rdd_leaves(res.verdicts, ckpts) == []
    # negative control: a grid shipped from the driver is a foreign leaf
    grid = spark.createDataFrame([(0, "uniqueness")], "part_id int, check_name string")
    foreign = _foreign_rdd_leaves(res.verdicts.join(grid, ["part_id", "check_name"]), ckpts)
    assert len(foreign) == 1 and "PythonRDD" in foreign[0]
    res.unpersist()


def test_lost_checkpoint_fails_loudly_and_resumes(spark, tmp_path, monkeypatch):
    """A violations checkpoint lost after run_validation (an executor loss)
    fails the run with Spark's checkpoint error and commits nothing; the
    next run redoes every partition and writes what a clean run writes."""
    import pytest

    from baskerville_spark.runtime import runner
    from test_runner_golden import _rows

    clips_p, _, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    cfg = ValidationConfig(check_audio=False)
    real, lost = runner.run_validation, []

    def losing(*args, **kwargs):
        res = real(*args, **kwargs)
        res.violations._jdf.queryExecution().logical().rdd().unpersist(True)
        lost.append(res)
        return res

    monkeypatch.setattr(runner, "run_validation", losing)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        run_resumable(spark, clips_p, man_p, out_p, cfg=cfg)
    lost[0].unpersist()
    assert done_partitions(spark, man_p) == set()
    monkeypatch.undo()

    assert run_resumable(spark, clips_p, man_p, out_p, cfg=cfg) == [0, 1, 2, 3]
    clean_man, clean_out = str(tmp_path / "clean_man"), str(tmp_path / "clean_out")
    assert run_resumable(spark, clips_p, clean_man, clean_out, cfg=cfg) == [0, 1, 2, 3]
    for sink in ("violations", "stats", "verdicts"):
        assert _rows(spark.read.parquet(f"{out_p}/{sink}")) == _rows(
            spark.read.parquet(f"{clean_out}/{sink}")), sink

    def ledger(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path)
            .select("part_id", "n_rows", "n_violations").collect()
        )

    assert ledger(man_p) == ledger(clean_man)


def test_no_leaked_blocks(spark, tmp_path):
    """run_resumable, and run_validation followed by unpersist(), leave the
    session's persisted-RDD count where they found it."""
    from baskerville_spark.runtime.runner import run_validation

    clips_p, _, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert run_resumable(spark, clips_p, man_p, out_p, cfg=ValidationConfig()) == [0, 1, 2, 3]
    assert jsc.getPersistentRDDs().size() == before
    res = run_validation(spark, spark.read.parquet(clips_p), cfg=ValidationConfig())
    res.verdicts.count()
    res.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_delete_pending_sink_dirs(spark, tmp_path):
    """Only the pending partitions' sink directories go; a sink directory
    that does not exist is skipped."""
    from baskerville_spark.runtime.runner import _delete_pending_sink_dirs

    for p in (0, 1, 10):
        (tmp_path / "verdicts" / f"part_id={p}").mkdir(parents=True)
    (tmp_path / "verdicts" / "_SUCCESS").touch()
    _delete_pending_sink_dirs(
        spark, str(tmp_path), ("verdicts", "stats"), [1, 2]
    )
    assert sorted(x.name for x in (tmp_path / "verdicts").iterdir()) == [
        "_SUCCESS", "part_id=0", "part_id=10",
    ]
    assert not (tmp_path / "stats").exists()


def test_recommit_overwrites(tmp_path, spark):
    man_p = str(tmp_path / "m")
    now = datetime.now(timezone.utc)
    commit_partition(man_p, 7, 10, 1, now)
    commit_partition(man_p, 7, 12, 0, now)  # retry same partition
    rows = spark.read.parquet(man_p).where("part_id = 7").collect()
    assert len(rows) == 1 and (rows[0]["n_rows"], rows[0]["n_violations"]) == (12, 0)


def test_ancestor_dir_named_part_id_is_not_a_partition(spark, tmp_path):
    """Partition discovery reads each file's own ``part_id=N`` directory:
    a table stored under an ancestor directory that happens to be named
    ``part_id=9`` must still validate and commit its own partitions."""
    root = tmp_path / "part_id=9"
    clips_p, tref_p, man_p, out_p = _paths(root)
    write_clips(spark, clips_p, CFG)
    write_transcript_ref(spark, tref_p, CFG)
    processed = run_resumable(
        spark, clips_p, man_p, out_p, tref_p, cfg=ValidationConfig(check_audio=False)
    )
    assert processed == [0, 1, 2, 3]
    assert done_partitions(spark, man_p) == {0, 1, 2, 3}
    n_rows = spark.read.parquet(man_p).groupBy().sum("n_rows").collect()[0][0]
    assert n_rows == CFG.n_rows


def test_done_partitions_file_uri(spark, tmp_path):
    man_p = tmp_path / "m"
    now = datetime.now(timezone.utc)
    commit_partition(f"file://{man_p}", 3, 10, 0, now)
    commit_partition(str(man_p), 5, 10, 0, now)
    assert done_partitions(spark, f"file://{man_p}") == {3, 5}
    assert done_partitions(spark, str(man_p)) == {3, 5}


def test_done_partitions_foreign_schema_falls_back_to_spark(spark, tmp_path):
    """A parquet file pyarrow cannot read as a manifest row (no ``status``
    column) sends the read to Spark, which still returns the done-marks of
    the well-formed files instead of crashing or returning nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    man_p = tmp_path / "m"
    now = datetime.now(timezone.utc)
    commit_partition(str(man_p), 0, 10, 0, now)
    commit_partition(str(man_p), 2, 10, 0, now)
    pq.write_table(
        pa.table({"part_id": pa.array([1], pa.int32()), "state": ["done"]}),
        str(man_p / "foreign.parquet"),
    )
    assert done_partitions(spark, str(man_p)) == {0, 2}


def test_done_partitions_remote_uri_raises(spark):
    """A non-local URI raises the commit path's error; it never
    short-circuits to an empty set (which would force a full recompute)."""
    import pytest

    with pytest.raises(ValueError, match="manifest commits write local files"):
        done_partitions(spark, "s3a://bucket/manifest")


def test_remote_manifest_fails_before_any_work(spark, tmp_path, monkeypatch):
    """Manifest commits write local files, so a remote manifest URI must
    fail before the clips are read, not after every partition was validated
    and every sink written."""
    import pytest

    from baskerville_spark.runtime import manifest as M

    clips_p, _, _, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    monkeypatch.setattr(M, "done_partitions", lambda spark_, path: set())
    with pytest.raises(ValueError, match="manifest commits write local files"):
        run_resumable(
            spark, clips_p, "s3a://bucket/manifest", out_p,
            cfg=ValidationConfig(check_audio=False),
        )
    assert not (tmp_path / "out").exists()


def test_route_quarantine_partitions_input(spark):
    from pyspark.sql import Row

    from baskerville_spark.runtime.runner import route_quarantine

    clips = spark.createDataFrame(
        [
            Row(part_id=0, clip_id="a", codec="flac"),
            Row(part_id=0, clip_id="dup", codec="flac"),
            Row(part_id=0, clip_id="dup", codec="flac"),  # both copies route out
            Row(part_id=0, clip_id="ok", codec="flac"),
            Row(part_id=1, clip_id="a", codec="flac"),    # same id, other part: clean
        ]
    )
    violations = spark.createDataFrame(
        [
            Row(part_id=0, clip_id="a", check_name="snr", detail=""),
            Row(part_id=0, clip_id="a", check_name="decode_error", detail=""),
            Row(part_id=0, clip_id="a", check_name="snr", detail="again"),
            Row(part_id=0, clip_id="dup", check_name="uniqueness", detail=""),
        ]
    )
    clean, quar = route_quarantine(clips, violations)
    clean_rows = clean.collect()
    quar_rows = quar.collect()
    assert len(clean_rows) + len(quar_rows) == 5     # exact partition of input
    assert sorted((r.part_id, r.clip_id) for r in clean_rows) == [
        (0, "ok"), (1, "a"),
    ]
    by_id = {(r.part_id, r.clip_id): r for r in quar_rows}
    assert list(by_id[(0, "a")]["reasons"]) == ["decode_error", "snr"]  # deduped, sorted
    assert sum(1 for r in quar_rows if r.clip_id == "dup") == 2


def test_states_fold_across_interrupted_runs(spark, tmp_path):
    """state_hist_edges: per-partition mergeable state rows written by TWO
    separate resumable runs fold (table_stats_from_states) to exactly the
    stats of one full scan — settled partitions are never rescanned."""
    import pyspark.sql.functions as F

    from baskerville_spark.runtime.runner import table_stats_from_states

    clips_p, tref_p, man_p, out_p = _paths(tmp_path)
    write_clips(spark, clips_p, CFG)
    cfg = ValidationConfig(
        check_audio=False,
        state_hist_edges={"dur_ms": [500.0, 1500.0, 3000.0]},
    )
    now = datetime.now(timezone.utc)
    commit_partition(man_p, 2, 0, 0, now)
    commit_partition(man_p, 3, 0, 0, now)
    assert run_resumable(spark, clips_p, man_p, out_p, cfg=cfg) == [0, 1]
    import os
    for p in (2, 3):
        os.remove(os.path.join(man_p, f"part-{p:05d}.parquet"))
    assert run_resumable(spark, clips_p, man_p, out_p, cfg=cfg) == [2, 3]

    got = table_stats_from_states(spark, out_p, cfg).collect()[0]
    clips = spark.read.parquet(clips_p)
    exp = clips.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("sr_hz").alias("sr_min"), F.max("sr_hz").alias("sr_max"),
        F.sum("sr_hz").alias("sr_sum"),
        F.count("dur_ms").alias("dur_n"), F.min("dur_ms").alias("dur_min"),
        F.max("dur_ms").alias("dur_max"), F.sum("dur_ms").alias("dur_sum"),
        F.countDistinct("clip_id").alias("nd"),
    ).collect()[0]
    assert got["n_rows"] == exp["n_rows"]
    assert got["sr_hz_min"] == exp["sr_min"]
    assert got["sr_hz_max"] == exp["sr_max"]
    assert got["sr_hz_sum"] == exp["sr_sum"]
    assert (got["dur_ms_n"], got["dur_ms_min"], got["dur_ms_max"],
            got["dur_ms_sum"]) == (
        exp["dur_n"], exp["dur_min"], exp["dur_max"], exp["dur_sum"])
    assert sum(got["dur_ms_hist"]) == exp["dur_n"]
    assert abs(got["clip_id_distinct_est"] - exp["nd"]) <= 0.1 * exp["nd"]


def test_null_part_id_raises_named_error(spark, tmp_path):
    """A NULL part_id lands in __HIVE_DEFAULT_PARTITION__; the resumable
    run names it instead of failing on an int/None sort."""
    import pytest
    import pyspark.sql.functions as F

    src, clips_p = str(tmp_path / "src"), str(tmp_path / "clips_null")
    write_clips(spark, src, GenConfig(n_rows=40, n_parts=2))
    df = spark.read.parquet(src)
    null_part = df.limit(1).withColumn("part_id", F.lit(None).cast("int"))
    df.unionByName(null_part).write.partitionBy("part_id").parquet(clips_p)
    man_p, out_p = str(tmp_path / "man"), str(tmp_path / "out")
    with pytest.raises(ValueError, match="NULL part_id.*__HIVE_DEFAULT_PARTITION__"):
        run_resumable(spark, clips_p, man_p, out_p, cfg=ValidationConfig())
