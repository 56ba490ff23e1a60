"""End-to-end smoke: generate → validate → verdicts/violations sanity."""

from __future__ import annotations

from baskerville_spark.generator import expected_violation_indices
from baskerville_spark.runtime.runner import ValidationConfig, run_validation


def test_generator_counts(t1_clips, t1_cfg):
    assert t1_clips.count() == t1_cfg.n_rows
    parts = {r["part_id"] for r in t1_clips.select("part_id").distinct().collect()}
    assert parts == set(range(t1_cfg.n_parts))


def test_end_to_end_verdicts(spark, t1_clips, t1_tref, t1_cfg):
    res = run_validation(spark, t1_clips, t1_tref, cfg=ValidationConfig())
    verdicts = res.verdicts.collect()
    assert len(verdicts) > 0
    # partition 0 is the all-clean golden: every verdict for it passes
    p0 = [v for v in verdicts if v["part_id"] == 0]
    assert p0 and all(v["passed"] for v in p0)

    exp = expected_violation_indices(t1_cfg)
    viol = res.violations.collect()
    got_by_check: dict[str, int] = {}
    for v in viol:
        got_by_check[v["check_name"]] = got_by_check.get(v["check_name"], 0) + 1
    # duplicates produce `dup_count` rows but one violation row per key
    assert got_by_check.get("uniqueness", 0) == len(exp["uniqueness"])
    assert got_by_check.get("ref_integrity", 0) == len(exp["ref_integrity"])
    assert got_by_check.get("transcript_eq", 0) == len(exp["transcript_eq"])
    # snr violations: injected noise clips; mp3 clips are decode_error instead
    assert got_by_check.get("snr", 0) == len(exp["snr"])


def test_ml_prep_semantics(spark):
    """q53/q54: StandardScaler and StringIndexer semantics expressed
    natively must satisfy the stages' defining properties — the label
    index is a dense 0..n-1 permutation ordered by (count desc, label asc),
    and scaled values are finite standardized magnitudes."""
    import math
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    idx = m.q54_string_index(spark, sf).collect()
    by_rank = sorted(idx, key=lambda r: r["label_index"])
    assert [r["label_index"] for r in by_rank] == list(range(len(by_rank)))
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a["n"], b["label"]) >= (b["n"], a["label"])  # freq desc, label asc

    scaled = m.q53_standard_scale(spark, sf).collect()
    assert len(scaled) == 100
    for r in scaled:
        for c in ("l_quantity_scaled", "l_extendedprice_scaled", "l_discount_scaled"):
            assert r[c] is not None and math.isfinite(r[c]) and abs(r[c]) < 10


def test_feature_loop_gate_invariants(spark):
    """q62 end-to-end at t1 scale: the streamed 3-batch loop must emit one
    cache row per user (no loss, no duplication) — the hash-level parity
    vs DuckDB is the driver gate's job; this pins the loop mechanics in
    the pytest suite."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    out = m.q62_feature_loop(spark, "/root/testdata/sf0.001").collect()
    users = {r["user_id"] for r in out}
    assert len(out) == len(users) > 0
    assert all(r["request_total"] > 0 for r in out)


def test_sensitive_roundtrip_gate(spark):
    """q63 at t1 scale: every event row must come back from the
    split/stash/merge loop exactly once with its sensitive columns."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    out = m.q63_sensitive_roundtrip(spark, "/root/testdata/sf0.001")
    n = out.count()
    assert n == 1000
    assert out.select("event_id").distinct().count() == n


def test_verdicts_invariant_to_parallelism(spark, t1_clips, t1_tref):
    """FIXTURES §6's distributed-correctness property, pinned: the verdict
    grid must not depend on input partitioning or shuffle width. Catches
    accidental uses of partition-local state (spark_partition_id leaks,
    first() without ordering, per-partition limits) in any check."""
    from baskerville_spark.runtime.runner import ValidationConfig, run_validation

    cfg = ValidationConfig(check_audio=False)

    def grid(df, shuffle_parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
        try:
            res = run_validation(spark, df, t1_tref, cfg=cfg)
            rows = sorted(
                (
                    r["part_id"],
                    r["check_name"],
                    r["passed"],
                    round(r["metric_value"], 9),
                    r["n_rows"],
                    r["n_violations"],
                )
                for r in res.verdicts.collect()
            )
            res.unpersist()
            return rows
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    a = grid(t1_clips.repartition(3), 4)
    b = grid(t1_clips.repartition(17), 32)
    assert a == b and len(a) > 0


def test_default_driver_mem_is_half_of_ram(tmp_path):
    """Local mode runs every task inside the driver JVM, so the default heap
    is about RAM/2, clamped to [2g, 16g]."""
    from baskerville_spark.session import _default_driver_mem

    def mem(kib: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       {kib} kB\nMemFree:  1 kB\n")
        return _default_driver_mem(str(p))

    gib = 1024 * 1024
    assert mem(15 * gib + gib // 2) == "7g"
    assert mem(2 * gib) == "2g"
    assert mem(128 * gib) == "16g"
    assert _default_driver_mem(str(tmp_path / "missing")) == "8g"
