"""Operator-level tests: uniqueness, referential integrity, stats, schema.

Property invariants from FIXTURES.md §6: salted == naive uniqueness,
broadcast == sort-merge RI verdicts, approx distinct within rsd bound.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from baskerville_spark.checks import sqltext
from baskerville_spark.checks.referential import ref_integrity_violations
from baskerville_spark.checks.schema_check import (
    ColumnSpec,
    enforce_schema,
    pattern_violations,
)
from baskerville_spark.checks.stats import column_stats
from baskerville_spark.checks.uniqueness import duplicate_keys
from baskerville_spark.generator import expected_violation_indices
from oracles import naive_duplicate_keys


def test_salted_equals_naive_uniqueness(t1_clips):
    salted = {
        (r["part_id"], r["clip_id"], r["dup_count"])
        for r in duplicate_keys(t1_clips).collect()
    }
    naive = {
        (r["part_id"], r["clip_id"], r["dup_count"])
        for r in naive_duplicate_keys(t1_clips).collect()
    }
    assert salted == naive and len(salted) > 0


def test_duplicate_exemplars_bounded_under_skew(spark, monkeypatch):
    from pyspark.sql import functions as F

    from baskerville_spark.checks import uniqueness
    from baskerville_spark.checks.uniqueness import duplicate_exemplars

    # one key duplicated 50k times + unique tail
    df = spark.range(60_000).select(
        F.when(F.col("id") < 50_000, F.lit("hot")).otherwise(
            F.concat(F.lit("u"), F.col("id"))
        ).alias("clip_id"),
        F.col("id").alias("row_id"),
    )
    # HOT_THRESHOLD below the planted 50k dup_count forces the three-level
    # salted branch (the adaptive default would take the cold single-shuffle
    # path at this size — both must agree exactly)
    monkeypatch.setattr(uniqueness, "HOT_THRESHOLD", 10_000)
    rows = duplicate_exemplars(df, key="clip_id", id_col="row_id").collect()
    monkeypatch.undo()
    assert len(rows) == 1
    r = rows[0]
    assert r["dup_count"] == 50_000
    assert r["exemplar_ids"] == [0, 1, 2, 3, 4]  # smallest k, exact
    assert len(r["exemplar_ids"]) == 5
    cold = duplicate_exemplars(df, key="clip_id", id_col="row_id").collect()
    assert [tuple(x) for x in cold] == [tuple(x) for x in rows]


def test_ri_broadcast_equals_sortmerge(t1_clips, t1_tref, t1_cfg):
    bc = {tuple(r) for r in ref_integrity_violations(t1_clips, t1_tref, strategy="broadcast").collect()}
    sm = {tuple(r) for r in ref_integrity_violations(t1_clips, t1_tref, strategy="sortmerge").collect()}
    assert bc == sm
    exp = expected_violation_indices(t1_cfg)["ref_integrity"]
    assert len(bc) == len(exp)


def test_column_stats_values(spark):
    df = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (0, None), (0, 4.0), (1, 10.0)],
        "part_id int, x double",
    )
    st = {r["column_name"]: r for r in column_stats(df, numeric_cols=["x"], other_cols=[]).where("part_id = 0").collect()}
    r = st["x"]
    assert r["count"] == 3 and r["null_count"] == 1
    assert r["min"] == 1.0 and r["max"] == 4.0
    assert r["quantiles"][3] == 2.0  # median of {1,2,4} via percentile_approx


def test_approx_distinct_within_rsd(t1_clips):
    st = column_stats(
        t1_clips, part_col=None, numeric_cols=[], other_cols=["clip_id"]
    ).collect()[0]
    exact = t1_clips.select("clip_id").distinct().count()
    assert abs(st["approx_distinct"] - exact) / exact < 0.1


def _typed_frame(spark):
    """One column per type ``column_stats`` must sketch, with cardinalities
    both below and well above the sketch's exact range."""
    return spark.range(0, 6000).select(
        (F.col("id") % 3).cast("int").alias("part_id"),
        (F.col("id") % 1997 / 7).cast("double").alias("d"),
        (F.col("id") % 501 / 3).cast("float").alias("f"),
        (F.col("id") % 333).cast("decimal(10,2)").alias("dec"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 400).cast("int")).alias("dt"),
        F.timestamp_seconds(F.col("id") % 777).alias("ts"),
        (F.col("id") % 2 == 0).alias("b"),
        (F.col("id") % 90).cast("smallint").alias("sm"),
        F.when(F.col("id") % 5 == 0, F.lit(-0.0)).otherwise(F.lit(0.0)).alias("z"),
    )


def test_approx_distinct_all_types_within_rsd(spark):
    df = _typed_frame(spark)
    cols = [c for c in df.columns if c != "part_id"]
    got = {
        (r["part_id"], r["column_name"]): r["approx_distinct"]
        for r in column_stats(
            df, numeric_cols=["d", "f", "dec", "sm", "z"], other_cols=["dt", "ts", "b"]
        ).collect()
    }
    exact = df.groupBy("part_id").agg(
        *[F.countDistinct(c).alias(c) for c in cols]
    ).collect()
    assert len(got) == 3 * len(cols)
    for r in exact:
        for c in cols:
            est, n = got[(r["part_id"], c)], r[c]
            assert abs(est - n) <= 0.02 * n, (r["part_id"], c, est, n)
            if n < 100:  # sketch is exact at low cardinality
                assert est == n, (r["part_id"], c, est, n)


def test_column_stats_and_stats_state_share_one_sketch(spark, monkeypatch):
    """At equal lg_k, column_stats and stats_state build the same
    DataSketches HLL and report identical estimates per partition."""
    from baskerville_spark.checks import stats
    from baskerville_spark.checks import stats_state as SS

    monkeypatch.setattr(SS, "DEFAULT_LG_K", stats.HLL_LG_K)
    df = _typed_frame(spark)
    cols = ["d", "dec", "ts", "sm"]
    cs = {
        (r["part_id"], r["column_name"]): r["approx_distinct"]
        for r in column_stats(df, numeric_cols=[], other_cols=cols).collect()
    }
    ss = SS.finalize_stats(SS.stats_state(df, ["part_id"], [], cols), cols).collect()
    assert len(ss) == 3
    for r in ss:
        for c in cols:
            assert cs[(r["part_id"], c)] == r[f"{c}_distinct_est"], (r["part_id"], c)


def test_column_stats_plan_has_no_hll_plus_plus(t1_clips):
    st = column_stats(t1_clips, numeric_cols=["sr_hz", "dur_ms"], other_cols=["codec"])
    st.collect()
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" not in plan.lower(), plan[:2000]
    assert "hll_sketch_agg" in plan, plan[:2000]


def test_schema_enforcement(spark):
    specs = [
        ColumnSpec("a", "string", required=True, default="dflt"),
        ColumnSpec("b", "int", default=0, drop_if_missing=False),
        ColumnSpec("c", "string", drop_if_missing=True),
    ]
    df = spark.createDataFrame(
        [(1, "x", "200"), (None, None, "999"), (2, "y", "abc"), (3, None, None)],
        "b int, c string, code string",
    )
    out = enforce_schema(df, specs)
    rows = out.collect()
    # the two rows with null c dropped; missing col a added with default
    assert len(rows) == 2
    assert all(r["a"] == "dflt" for r in rows)
    assert {r["b"] for r in rows} == {1, 2}

    pv = pattern_violations(
        df.withColumn("part_id", F.lit(0)).withColumn("clip_id", F.col("c")),
        {"code": r"^[1-5][0-9][0-9]$"},
    )
    bad = {r["detail"] for r in pv.collect()}
    assert bad == {"value=999", "value=abc"}


def test_sqltext_literals_type_like_f_lit(spark):
    """``sqltext.lit`` gives each Python scalar the value and type ``F.lit``
    does, including the int32 edges and non-finite floats, and ``ident``
    keeps spaces, dots and backquotes inside one column name."""
    vals = [0, -5, 2**31 - 1, -(2**31), 2**31, -(2**40), 0.05, -0.0, 1e-05,
            1e300, float("inf"), float("-inf"), "it's a \\d+ 'x'"]
    got = spark.range(1).selectExpr(
        *[f"{sqltext.lit(v)} AS c{i}" for i, v in enumerate(vals)]
    )
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
    assert got.dtypes == want.dtypes
    assert got.collect() == want.collect()
    nan = spark.range(1).selectExpr(f"isnan({sqltext.lit(float('nan'))}) AS n").first()
    assert nan["n"] is True

    df = spark.createDataFrame([(1, 2, 3)], "`a b` int, `x.y` int, `q``t` int")
    sums = df.selectExpr(*[f"{sqltext.ident(c)} + 0 AS s{i}" for i, c in enumerate(df.columns)])
    assert tuple(sums.first()) == (1, 2, 3)


def test_pattern_violations_regex_escapes(spark):
    """Patterns reach RLIKE verbatim: backslash classes and quotes survive
    the SQL-text rendering."""
    df = spark.createDataFrame(
        [(0, "k1", "ab12"), (0, "k2", "ab"), (1, "k3", "it's"), (1, "k4", None)],
        "part_id int, clip_id string, v string",
    )
    pv = pattern_violations(df, {"v": r"^(ab\d+|it's)$"})
    assert {(r["clip_id"], r["detail"]) for r in pv.collect()} == {("k2", "value=ab")}


def test_pattern_violations_missing_column_raises(spark):
    """A mapped column the frame lacks is an error naming the column, not a
    pattern that silently checks nothing."""
    df = spark.createDataFrame([(0, "k1", "x")], "part_id int, clip_id string, v string")
    with pytest.raises(ValueError, match="'codec'"):
        pattern_violations(df, {"v": "^x$", "codec": "^flac$"})


def test_stats_single_shuffle_plan(t1_clips):
    """The stats plan must contain exactly one exchange (one shuffle)."""
    st = column_stats(t1_clips, numeric_cols=["sr_hz", "dur_ms"], other_cols=["codec"])
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("exchange") <= 2  # partial/final pair of one agg


@pytest.mark.parametrize("strategy,fragment", [("broadcast", "BroadcastHashJoin")])
def test_ri_plan_uses_broadcast(t1_clips, t1_tref, strategy, fragment):
    v = ref_integrity_violations(t1_clips, t1_tref, strategy=strategy)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert fragment in plan


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling (the runtime complement to salting): one hot
    key dominating the left side must be split across tasks — the executed
    adaptive plan marks the sort-merge join with skew=true."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pay"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = fact.join(dim, "k")
        # execute j's OWN QueryExecution so its adaptive plan finalizes
        # (count() would plan separately and leave this one unexecuted)
        assert len(j.collect()) == 190_000  # only the hot key matches the dim
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_sampleby_seeded_stratified(spark):
    """Seeded sampleBy (the reference's stratified sampler, tasks.py:1486-
    1499) kept demonstrated here; the oracle-checkable gate (q28) uses the
    deterministic md5-threshold form instead because sampleBy's Bernoulli
    draw is engine-private."""
    df = spark.range(10_000).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS stratum"
    )
    got = df.sampleBy("stratum", {"a": 0.2, "b": 0.5}, seed=7).groupBy(
        "stratum"
    ).count()
    counts = {r["stratum"]: r["count"] for r in got.collect()}
    assert abs(counts["a"] / 5_000 - 0.2) < 0.05
    assert abs(counts["b"] / 5_000 - 0.5) < 0.05
    # same seed + same partitioning → reproducible within an engine
    again = {
        r["stratum"]: r["count"]
        for r in df.sampleBy("stratum", {"a": 0.2, "b": 0.5}, seed=7)
        .groupBy("stratum").count().collect()
    }
    assert again == counts


def test_first_last_agg_single_shuffle_plan(spark):
    """min_by/max_by first/last-touch (q43's shape) must be ONE
    partial-aggregating shuffle — the reason it beats the window form
    (sort exchange + agg exchange) when only per-key results are needed."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 1, 1.0), (1, "b", 2, 2.0), (2, "c", 3, None)],
        "user_id int, event_type string, event_id int, value double",
    )
    ordk = F.struct("event_id")
    out = df.groupBy("user_id").agg(
        F.min_by("event_type", ordk).alias("first_type"),
        F.max_by("event_type", ordk).alias("last_type"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("exchange") <= 1


def test_drift_verdicts_single_scan_plan(t1_clips):
    """All drift metrics for all columns must come from ONE aggregate over
    the fact table: reused exchange, not one scan per metric branch."""
    from pyspark.sql import Row

    from baskerville_spark.checks.drift import drift_verdicts

    baseline = [
        Row(column_name="sr_hz", kind="numeric",
            bin_edges=[8000.0, 16000.0, 44100.0, 48000.0], categories=None,
            bin_fractions=[0.4, 0.4, 0.2], quantiles=None, n=100),
        Row(column_name="codec", kind="categorical", bin_edges=None,
            categories=["pcm_s16le", "flac", "opus"],
            bin_fractions=[0.5, 0.3, 0.2, 0.0], quantiles=None, n=100),
    ]
    v = drift_verdicts(t1_clips, baseline)
    v.collect()  # AQE finalizes stage shapes at runtime, not at planning
    # AQE's toString prints the Final Plan then repeats the Initial Plan;
    # count stages in the final section only.
    plan = v._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # 4 metric rows (psi/ks x 2 cols) but they explode out of ONE wide
    # aggregate: exactly one shuffle exchange and one scan of the fact
    # table. The union-of-branches form this guards against lets column
    # pruning specialize each branch's aggregate -> 4 scans.
    exchanges = plan.count("Exchange hashpartitioning")
    scans = plan.count("Scan ")
    assert exchanges == 1, plan[:2000]
    assert scans == 1, plan[:2000]


def test_duplicate_exemplars_reports_null_keys(spark, monkeypatch):
    """A duplicated NULL key is a data-quality violation this check must
    report: groupBy treats NULL as one group, and the count-first semi
    join is null-safe (a plain equi semi-join would silently drop it)."""
    from baskerville_spark.checks import uniqueness
    from baskerville_spark.checks.uniqueness import duplicate_exemplars

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (None, 3), ("a", 4), ("a", 5), ("b", 6)],
        "clip_id string, row_id long",
    )
    # BOTH adaptive branches must report the NULL group: the cold path via
    # plain groupBy, the hot path via the null-safe semi join
    for thr in (200_000, 1):
        monkeypatch.setattr(uniqueness, "HOT_THRESHOLD", thr)
        rows = {
            r["clip_id"]: r
            for r in duplicate_exemplars(df, key="clip_id", id_col="row_id").collect()
        }
        assert rows[None]["dup_count"] == 3
        assert sorted(rows[None]["exemplar_ids"]) == [1, 2, 3]
        assert rows["a"]["dup_count"] == 2
    assert "b" not in rows


def test_snapshot_diff_statuses(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from baskerville_spark.checks.snapshot import (
        partitions_to_revalidate,
        snapshot_diff,
    )

    a = spark.createDataFrame(
        [
            Row(part=0, k=1, v="x"), Row(part=0, k=2, v="y"),
            Row(part=1, k=3, v="z"),
            Row(part=2, k=4, v="w"),
            # duplicate rows with even multiplicity: xor alone would cancel
            # them; the modular sum must still mark the partition changed
            # when one copy disappears
            Row(part=3, k=5, v="d"), Row(part=3, k=5, v="d"),
        ]
    )
    b = spark.createDataFrame(
        [
            Row(part=0, k=1, v="x"), Row(part=0, k=2, v="y"),  # unchanged
            Row(part=1, k=3, v="Z"),                           # changed value
            # part 2 removed
            Row(part=3, k=5, v="d"),                           # one dup dropped
            Row(part=4, k=9, v="new"),                         # added
        ]
    )
    d = {r["partition"]: r for r in snapshot_diff(a, b, "part", ["k", "v"]).collect()}
    assert d[0]["status"] == "unchanged"
    assert d[1]["status"] == "changed"
    assert d[2]["status"] == "removed" and d[2]["n_rows_b"] is None
    assert d[3]["status"] == "changed"  # count differs even though xor matches
    assert d[4]["status"] == "added" and d[4]["n_rows_a"] is None
    assert partitions_to_revalidate(a, b, "part", ["k", "v"]) == [1, 3, 4]


def test_manifest_invalidate_partitions(spark, tmp_path):
    from datetime import datetime, timezone

    from baskerville_spark.runtime import manifest as m

    man = str(tmp_path / "man")
    t0 = datetime.now(timezone.utc)
    for p in (0, 1, 2):
        m.commit_partition(man, p, 10, 0, t0)
    assert m.done_partitions(spark, man) == {0, 1, 2}
    # invalidating a changed part + a never-committed part is idempotent
    m.invalidate_partitions(man, [1, 7])
    m.invalidate_partitions(man, [1])
    assert m.done_partitions(spark, man) == {0, 2}


# -- declarative constraint suite (checks/suite.py) --------------------------


def _suite_df(spark):
    from pyspark.sql import Row

    rows = [
        # part 0: clean
        Row(part=0, k="a1", lang="en", n=100, ok=True),
        Row(part=0, k="a2", lang="fr", n=200, ok=True),
        # part 1: one null lang, one out-of-bounds n, one failed predicate
        Row(part=1, k="b1", lang=None, n=100, ok=True),
        Row(part=1, k="b2", lang="EN", n=9999, ok=False),
        Row(part=1, k="b3", lang="de", n=150, ok=None),  # NULL predicate
    ]
    return spark.createDataFrame(rows)


def test_suite_values_and_null_semantics(spark):
    """Exact metrics per kind; NULL column value is NOT a bounds/pattern
    violation (completeness owns nulls) but a NULL predicate result IS one."""
    from baskerville_spark.checks import suite as S

    cons = [
        S.completeness("lang_complete", "lang", max_null_rate=0.0),
        S.bounds("n_bounds", "n", 50, 500, max_rate=0.0),
        S.pattern("lang_lower", "lang", "^[a-z]{2}$"),
        S.membership("lang_known", "lang", ["en", "fr", "de"], max_rate=0.0),
        S.predicate("ok_rate", "ok", max_rate=0.5),
        S.mean_between("n_mean", "n", 100.0, 200.0),
        S.approx_distinct_min("k_distinct", "k", 2),
    ]
    out = S.run_suite(_suite_df(spark), cons, group_by=["part"])
    got = {(r["part"], r["check_name"]): r for r in out.collect()}
    assert len(got) == 2 * len(cons)

    p0 = got[(0, "lang_complete")]
    assert p0["passed"] and p0["metric_value"] == 0.0 and p0["n_rows"] == 2
    p1 = got[(1, "lang_complete")]
    assert not p1["passed"] and abs(p1["metric_value"] - 1 / 3) < 1e-12
    assert p1["n_violations"] == 1

    # bounds: NULL lang row's n=100 in range; b2 9999 out -> 1/3 violation
    b1 = got[(1, "n_bounds")]
    assert not b1["passed"] and b1["n_violations"] == 1 and b1["n_rows"] == 3
    # pattern/membership: NULL lang row NOT checkable (n_rows=2), "EN" fails
    pt = got[(1, "lang_lower")]
    assert pt["n_rows"] == 2 and pt["n_violations"] == 1 and not pt["passed"]
    mb = got[(1, "lang_known")]
    assert mb["n_rows"] == 2 and mb["n_violations"] == 1
    # predicate: False and NULL both violate -> 2/3 > 0.5 max_rate
    pr = got[(1, "ok_rate")]
    assert pr["n_rows"] == 3 and pr["n_violations"] == 2 and not pr["passed"]
    assert got[(0, "ok_rate")]["passed"]
    # mean: part0 mean 150 in [100,200]; part1 mean (100+9999+150)/3 out
    m0, m1 = got[(0, "n_mean")], got[(1, "n_mean")]
    assert m0["passed"] and abs(m0["metric_value"] - 150.0) < 1e-9
    assert not m1["passed"] and m1["n_violations"] is None
    # approx distinct: >= 2 everywhere; metric_value NULL by design
    d0 = got[(0, "k_distinct")]
    assert d0["passed"] and d0["metric_value"] is None


def test_suite_single_pass_plan(spark):
    """All constraints — including the HLL distinct — must compile into ONE
    hash aggregate: exactly one exchange and one scan, unpivot is a Project."""
    from baskerville_spark.checks import suite as S

    df = _suite_df(spark)
    cons = [
        S.completeness("c", "lang", max_null_rate=0.0),
        S.bounds("b", "n", 0, 1000, max_rate=0.0),
        S.predicate("p", "ok", max_rate=0.0),
        S.mean_between("m", "n", 0, 1000),
        S.approx_distinct_min("d", "k", 1),
    ]
    out = S.run_suite(df, cons, group_by=["part"])
    # assert on the pre-execution plan string (AQE executed plans embed the
    # initial plan and double every count)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert plan.count("Scan ") == 1, plan[:2000]
    # no grouping columns: the table is one group, one SinglePartition
    # exchange, still one scan
    g = S.run_suite(df, cons, group_by=[])
    gplan = g._jdf.queryExecution().executedPlan().toString()
    assert gplan.lower().count("exchange") == 1, gplan[:2000]
    assert g.count() == len(cons)


def test_suite_duplicate_names_rejected(spark):
    import pytest as _pytest

    from baskerville_spark.checks import suite as S

    with _pytest.raises(ValueError, match="duplicate"):
        S.run_suite(_suite_df(spark), [S.completeness("x", "lang", 0.0),
                                       S.bounds("x", "n", 0, 1, 0.0)], ["part"])


# -- mergeable stats state (checks/stats_state.py) ---------------------------


def test_stats_state_merge_equals_direct(spark):
    """state(A) ∪ state(B) merged == state(A ∪ B), field-for-field —
    including BIT-IDENTICAL HLL estimates (register-max merge)."""
    from baskerville_spark.checks import stats_state as SS

    df = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("part"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") * 3).alias("v"),
        F.concat(F.lit("k"), (F.col("id") % 700).cast("string")).alias("k"),
    )
    a, b = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    sa = SS.stats_state(a, ["part"], ["v"], ["k"])
    sb = SS.stats_state(b, ["part"], ["v"], ["k"])
    merged = SS.merge_stats_states(sa.unionByName(sb), ["part"], ["v"], ["k"])
    direct = SS.stats_state(df, ["part"], ["v"], ["k"])

    fm = {r["part"]: r for r in SS.finalize_stats(merged, ["k"]).collect()}
    fd = {r["part"]: r for r in SS.finalize_stats(direct, ["k"]).collect()}
    assert set(fm) == set(fd) == {0, 1, 2, 3}
    for p in fd:
        for fld in ("n_rows", "v_n", "v_nulls", "v_min", "v_max", "v_sum",
                    "k_distinct_est"):
            assert fm[p][fld] == fd[p][fld], (p, fld, fm[p][fld], fd[p][fld])


def test_stats_state_incremental_append(spark):
    """Appending a third batch updates stats by merging ONE new small state
    row set — the settled batches are never rescanned (their states are
    reused as-is)."""
    from baskerville_spark.checks import stats_state as SS

    full = spark.range(0, 3000).select(
        F.lit(0).alias("part"), F.col("id").alias("v"),
        (F.col("id") % 97).cast("string").alias("k"),
    )
    b0 = full.filter("id < 1000")
    b1 = full.filter("id >= 1000 and id < 2000")
    b2 = full.filter("id >= 2000")
    settled = SS.stats_state(b0, ["part"], ["v"], ["k"]).unionByName(
        SS.stats_state(b1, ["part"], ["v"], ["k"])
    )
    # settled states could have been read back from parquet; only b2 scans
    appended = settled.unionByName(SS.stats_state(b2, ["part"], ["v"], ["k"]))
    got = SS.finalize_stats(
        SS.merge_stats_states(appended, ["part"], ["v"], ["k"]), ["k"]
    ).collect()[0]
    assert got["n_rows"] == 3000 and got["v_min"] == 0 and got["v_max"] == 2999
    assert got["v_sum"] == 3000 * 2999 // 2
    assert got["k_distinct_est"] == 97  # sketch is exact at tiny cardinality


def test_stats_state_single_pass_plan(spark):
    from baskerville_spark.checks import stats_state as SS

    df = spark.range(100).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("v"),
        F.col("id").cast("string").alias("k"),
    )
    st = SS.stats_state(df, ["part"], ["v"], ["k"])
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    # the HLL partial must combine map-side like every other field
    assert "partial_hll_sketch_agg" in plan, plan[:2000]


# -- mergeable histogram state (checks/stats_state.py) -----------------------


_EDGES = [100.0, 400.0, 900.0, 1600.0]


def test_histogram_state_merge_equals_direct(spark):
    """Element-wise long sum makes histogram merge BIT-EXACT:
    merge(state(A), state(B)) == state(A ∪ B) per bin, with NULLs excluded
    from every bin and empty bins staying 0."""
    from baskerville_spark.checks import stats_state as SS

    df = spark.range(0, 4000).select(
        (F.col("id") % 3).alias("part"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id")).alias("v"),
    )
    hc = {"v": _EDGES}
    parts = [df.filter(f"id % 4 = {i}") for i in range(4)]
    states = parts[0].sparkSession.createDataFrame([], "x int")
    st = SS.stats_state(parts[0], ["part"], [], hist_cols=hc)
    for p in parts[1:]:
        st = st.unionByName(SS.stats_state(p, ["part"], [], hist_cols=hc))
    merged = {r["part"]: r for r in
              SS.merge_stats_states(st, ["part"], [], hist_cols=hc).collect()}
    direct = {r["part"]: r for r in
              SS.stats_state(df, ["part"], [], hist_cols=hc).collect()}
    assert set(merged) == set(direct) == {0, 1, 2}
    for p in direct:
        assert merged[p]["v_hist"] == direct[p]["v_hist"]
        assert merged[p]["n_rows"] == direct[p]["n_rows"]
        # NULLs excluded: bins sum to non-null count, not n_rows
        nn = 4000 // 3 + (1 if p < 4000 % 3 else 0)
        assert sum(direct[p]["v_hist"]) < nn


def test_histogram_quantile_bounds_bracket_exact(spark):
    """The (lo, hi) bounds from the merged histogram bracket the EXACT
    quantile for every q and every group — the ±bin-width guarantee."""
    from baskerville_spark.checks import stats_state as SS

    rows = [(i % 2, float((i * 37) % 2000)) for i in range(3000)]
    df = spark.createDataFrame(rows, "part int, v double")
    hc = {"v": _EDGES}
    st = SS.merge_stats_states(
        SS.stats_state(df, ["part"], [], hist_cols=hc), ["part"], [], hist_cols=hc
    )
    import math
    for q in (0.1, 0.5, 0.9):
        lo, hi = SS.histogram_quantile_bounds(F.col("v_hist"), q, _EDGES)
        got = {r["part"]: (r["lo"], r["hi"]) for r in
               st.select("part", lo.alias("lo"), hi.alias("hi")).collect()}
        for part in (0, 1):
            vals = sorted(v for p, v in rows if p == part)
            exact = vals[max(math.ceil(q * len(vals)), 1) - 1]
            lo_v, hi_v = got[part]
            assert lo_v is None or lo_v <= exact, (q, part, lo_v, exact)
            assert hi_v is None or exact < hi_v, (q, part, hi_v, exact)


def test_histogram_psi_matches_driver_fold(spark):
    """histogram_psi on two states == psi_py on the same fractions; PSI of
    a state against itself is exactly 0."""
    from baskerville_spark.checks import stats_state as SS
    from baskerville_spark.checks.drift import EPS
    from oracles import psi_py

    df_a = spark.createDataFrame(
        [(0, float(v)) for v in (50, 150, 150, 500, 1000)], "part int, v double")
    df_b = spark.createDataFrame(
        [(0, float(v)) for v in (150, 500, 500, 500, 2000)], "part int, v double")
    hc = {"v": _EDGES}
    sa = SS.stats_state(df_a, ["part"], [], hist_cols=hc).select(
        "part", F.col("v_hist").alias("a"))
    sb = SS.stats_state(df_b, ["part"], [], hist_cols=hc).select(
        "part", F.col("v_hist").alias("b"))
    j = sa.join(sb, "part")
    got = j.select(
        SS.histogram_psi(F.col("a"), F.col("b")).alias("psi"),
        SS.histogram_psi(F.col("a"), F.col("a")).alias("self_psi"),
    ).collect()[0]
    ca, cb = [1, 2, 1, 1, 0], [0, 1, 3, 0, 1]
    pa = [max(c / 5, EPS) for c in ca]
    pb = [max(c / 5, EPS) for c in cb]
    assert got["self_psi"] == 0.0
    assert abs(got["psi"] - psi_py(pa, pb)) < 1e-12


def test_histogram_state_single_pass_plan(spark):
    from baskerville_spark.checks import stats_state as SS

    df = spark.range(1000).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("v"))
    st = SS.stats_state(df, ["part"], [], hist_cols={"v": _EDGES})
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "partial_sum" in plan or "partial sum" in plan.lower(), plan[:2000]


# -- mergeable decode state (checks/audio_state.py) ---------------------------


def _clip_rows(spark):
    """Tiny deterministic clip table: 60 synth clips across 2 partitions,
    with 6 planted undecodable payloads and 2 planted full-scale (clipped)
    clips whose exact clipped-sample counts are known."""
    import numpy as np

    from baskerville_spark import audio as A

    rows = []
    for i in range(60):
        cid = f"t_{i:04d}"
        sr = 8000
        if i % 10 == 3:  # undecodable: codec lies about the container
            payload, codec = b"\x00" * 11, "flac"
        elif i in (7, 21):  # planted digital clipping: exactly 5 rail samples
            pcm = A.synth_pcm_n(cid, sr, 400)
            pcm[:5] = 32767
            pcm[5:400] = np.clip(pcm[5:400], -32000, 32000)
            payload, codec = A.encode(pcm, "pcm_s16le"), "pcm_s16le"
        else:
            payload, codec = A.encode(A.synth_pcm_n(cid, sr, 320), "pcm_s16le"), "pcm_s16le"
        rows.append((i % 2, cid, bytearray(payload), sr, 40, codec))
    return spark.createDataFrame(
        rows, "part_id int, clip_id string, bytes binary, sr_hz int, "
        "dur_ms int, codec string")


def test_decode_state_merge_equals_direct(spark):
    """state(batch 0) + state(batch 1) + state(batch 2) folds BIT-EXACTLY
    to the one-pass state — every field including the decimal sum_abs."""
    from baskerville_spark.checks import audio_state as AS

    clips = _clip_rows(spark)
    batches = [
        AS.decode_state(
            clips.where(F.pmod(F.xxhash64("clip_id"), F.lit(3)) == i)
        )
        for i in (0, 1, 2)
    ]
    st = batches[0]
    for b in batches[1:]:
        st = st.unionByName(b)
    merged = {r["part_id"]: r for r in AS.merge_decode_states(st).collect()}
    direct = {r["part_id"]: r for r in AS.decode_state(clips).collect()}
    assert set(merged) == set(direct) == {0, 1}
    for p in direct:
        for f in ("n_clips", "n_decoded", "n_failed", "total_samples",
                  "clipped_samples", "sum_abs"):
            assert merged[p][f] == direct[p][f], (p, f)


def test_decode_state_exact_integers(spark):
    """Planted invariants: 6 undecodable rows; exactly 10 planted rail
    samples on the two clipped clips (synth amplitude is clipped at
    16384·(0.6+noise) — rails only where planted); total_samples counts
    only decoded clips (58·~samples)."""
    from baskerville_spark.checks import audio_state as AS

    parts = AS.decode_state(_clip_rows(spark)).collect()
    assert sorted(r["part_id"] for r in parts) == [0, 1]
    got = {f: sum(r[f] for r in parts) for f in
           ("n_clips", "n_failed", "n_decoded", "total_samples",
            "clipped_samples", "sum_abs")}
    assert got["n_clips"] == 60
    assert got["n_failed"] == 6
    assert got["n_decoded"] == 54
    # 2 planted clips at 400 samples, 52 clean at 320
    assert got["total_samples"] == 2 * 400 + 52 * 320
    assert got["clipped_samples"] == 10
    assert got["sum_abs"] > 0


def test_decode_state_plan_no_payload_shuffle(spark):
    """Payload bytes must never cross an exchange: the only shuffle is the
    narrow post-decode aggregate."""
    from baskerville_spark.checks import audio_state as AS

    st = AS.decode_state(_clip_rows(spark))
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    import re
    exchanges = re.findall(r"Exchange hashpartitioning[^\n]*", plan)
    assert all("bytes" not in e for e in exchanges), exchanges


def test_histogram_ks_matches_driver_fold(spark):
    """histogram_ks == max prefix |CDF diff| computed driver-side; KS of a
    state against itself is exactly 0."""
    from baskerville_spark.checks import stats_state as SS

    df_a = spark.createDataFrame(
        [(0, float(v)) for v in (50, 150, 150, 500, 1000)], "part int, v double")
    df_b = spark.createDataFrame(
        [(0, float(v)) for v in (150, 500, 500, 500, 2000)], "part int, v double")
    hc = {"v": _EDGES}
    sa = SS.stats_state(df_a, ["part"], [], hist_cols=hc).select(
        "part", F.col("v_hist").alias("a"))
    sb = SS.stats_state(df_b, ["part"], [], hist_cols=hc).select(
        "part", F.col("v_hist").alias("b"))
    got = sa.join(sb, "part").select(
        SS.histogram_ks(F.col("a"), F.col("b"), len(_EDGES) + 1).alias("ks"),
        SS.histogram_ks(F.col("a"), F.col("a"), len(_EDGES) + 1).alias("self_ks"),
    ).collect()[0]
    ca, cb = [1, 2, 1, 1, 0], [0, 1, 3, 0, 1]
    exp = 0.0
    cum_a = cum_b = 0.0
    for i in range(5):
        cum_a += ca[i] / 5
        cum_b += cb[i] / 5
        exp = max(exp, abs(cum_a - cum_b))
    assert got["self_ks"] == 0.0
    assert abs(got["ks"] - exp) < 1e-12


# --- schema evolution (checks/evolution.py) --------------------------------


def test_schema_evolution_all_change_classes(spark):
    from pyspark.sql import types as T

    from baskerville_spark.checks.evolution import schema_evolution_report

    old = T.StructType(
        [
            T.StructField("a_widen", T.IntegerType(), True),
            T.StructField("b_narrow", T.LongType(), True),
            T.StructField("c_drop", T.StringType(), True),
            T.StructField("d_same", T.StringType(), True),
            T.StructField("e_opt", T.DoubleType(), False),
            T.StructField("f_req", T.DoubleType(), True),
            T.StructField("g_dec", T.DecimalType(10, 2), True),
        ]
    )
    new = T.StructType(
        [
            T.StructField("a_widen", T.LongType(), True),
            T.StructField("b_narrow", T.IntegerType(), True),
            T.StructField("d_same", T.StringType(), True),
            T.StructField("e_opt", T.DoubleType(), True),
            T.StructField("f_req", T.DoubleType(), False),
            T.StructField("g_dec", T.DecimalType(14, 2), True),
            T.StructField("h_add_opt", T.StringType(), True),
            T.StructField("i_add_req", T.IntegerType(), False),
        ]
    )
    rep = {r["column_name"]: r for r in schema_evolution_report(old, new)}
    assert rep["a_widen"]["change"] == "widened" and rep["a_widen"]["compatible"]
    assert rep["b_narrow"]["change"] == "retyped" and not rep["b_narrow"]["compatible"]
    assert rep["c_drop"]["change"] == "dropped" and not rep["c_drop"]["compatible"]
    assert "d_same" not in rep  # unchanged column is silence
    assert rep["e_opt"]["change"] == "made_optional" and rep["e_opt"]["compatible"]
    assert rep["f_req"]["change"] == "made_required" and not rep["f_req"]["compatible"]
    assert rep["g_dec"]["change"] == "widened"  # decimal precision growth
    assert rep["h_add_opt"]["change"] == "added_optional"
    assert rep["i_add_req"]["change"] == "added_required"
    assert len(rep) == 8


def test_schema_evolution_df_empty_and_no_jobs(spark):
    from pyspark.sql import types as T

    from baskerville_spark.checks.evolution import schema_evolution_df

    s = T.StructType([T.StructField("x", T.IntegerType(), True)])
    df = schema_evolution_df(spark, s, s)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "column_name", "change", "from_type", "to_type", "compatible",
    ]


# --- partition completeness (checks/completeness.py) ------------------------


def _mk_events(spark, rows):
    return spark.createDataFrame(rows, "part int, v int, ts timestamp")


def test_completeness_verdict_classes(spark):
    import datetime as dt

    from baskerville_spark.checks.completeness import (
        completeness_verdicts,
        expected_from_snapshot,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    late = t0 + dt.timedelta(hours=6)
    base_rows = [
        # part 1: 4 rows; part 2: 4 rows; part 3: 4 rows ending late
        *[(1, i, t0) for i in range(4)],
        *[(2, i, t0) for i in range(4)],
        *[(3, i, late if i == 3 else t0) for i in range(4)],
    ]
    baseline = _mk_events(spark, base_rows)
    expected = expected_from_snapshot(baseline, "part", "ts")
    cur_rows = [
        *[(2, i, t0) for i in range(1)],          # part 2 thinned: 1/4 < 50%
        *[(3, i, t0) for i in range(4)],          # part 3 fresh-count but stale ts
        *[(4, i, t0) for i in range(2)],          # part 4 not in manifest
        # part 1 entirely absent
    ]
    cur = _mk_events(spark, cur_rows)
    out = {
        r["partition"]: r
        for r in completeness_verdicts(cur, expected, "part", "ts").collect()
    }
    assert out[1]["status"] == "missing_partition" and out[1]["n_rows"] == 0
    assert out[2]["status"] == "row_count_low"
    assert out[3]["status"] == "stale_partition"  # lags 6 h > 3 h bound
    assert out[4]["status"] == "unexpected_partition"
    assert out[4]["expected_rows"] is None
    assert len(out) == 4


def test_completeness_count_low_precedes_stale_and_ok_is_ok(spark):
    import datetime as dt

    from baskerville_spark.checks.completeness import (
        completeness_verdicts,
        expected_from_snapshot,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    late = t0 + dt.timedelta(hours=6)
    baseline = _mk_events(spark, [(1, i, late if i == 3 else t0) for i in range(4)]
                          + [(2, i, t0) for i in range(3)])
    expected = expected_from_snapshot(baseline, "part", "ts")
    # part 1 both thinned AND stale -> row_count_low wins (checked first);
    # part 2 identical to baseline -> ok
    cur = _mk_events(spark, [(1, 0, t0)] + [(2, i, t0) for i in range(3)])
    out = {
        r["partition"]: r
        for r in completeness_verdicts(cur, expected, "part", "ts").collect()
    }
    assert out[1]["status"] == "row_count_low"
    assert out[2]["status"] == "ok" and out[2]["n_rows"] == 3


# --- row-level snapshot diff (checks/snapshot.py) ---------------------------


def test_row_level_diff_statuses_and_churn_bound(spark):
    from baskerville_spark.checks.snapshot import row_level_diff

    a = spark.createDataFrame(
        [(1, 10, "x", 1.0), (1, 11, "y", 2.0), (2, 20, "z", 3.0), (2, 21, "w", 4.0)],
        "part int, k int, s string, v double",
    )
    b = spark.createDataFrame(
        [
            (1, 10, "x", 1.0),      # unchanged -> absent from output
            (1, 11, "y", 99.0),     # modified
            (2, 21, "w", 4.0),      # unchanged; 20 removed
            (2, 22, "new", 5.0),    # added
        ],
        "part int, k int, s string, v double",
    )
    out = {
        (r["partition"], r["k"]): r["status"]
        for r in row_level_diff(a, b, "part", ["k"], changed_parts=[1, 2]).collect()
    }
    assert out == {(1, 11): "modified", (2, 20): "removed", (2, 22): "added"}


def test_row_level_diff_prunes_partitions_on_disk(spark, tmp_path):
    """changed_parts must reach the scan as a partition filter when the
    table is physically partitioned — the stage-2 pruning contract."""
    from baskerville_spark.checks.snapshot import row_level_diff

    rows = [(p, k, float(k)) for p in range(4) for k in range(5)]
    df = spark.createDataFrame(rows, "part int, k int, v double")
    pa_, pb_ = str(tmp_path / "a"), str(tmp_path / "b")
    df.write.partitionBy("part").parquet(pa_)
    df.withColumn(
        "v", F.when((F.col("part") == 1) & (F.col("k") == 0), 9.9).otherwise(F.col("v"))
    ).write.partitionBy("part").parquet(pb_)
    a, b = spark.read.parquet(pa_), spark.read.parquet(pb_)
    d = row_level_diff(a, b, "part", ["k"], changed_parts=[1])
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan
    out = d.collect()
    assert [(r["partition"], r["k"], r["status"]) for r in out] == [(1, 0, "modified")]


def test_row_level_diff_composite_key(spark):
    from baskerville_spark.checks.snapshot import row_level_diff

    a = spark.createDataFrame(
        [(1, 1, 1, "p"), (1, 1, 2, "q")], "part int, k1 int, k2 int, s string"
    )
    b = spark.createDataFrame(
        [(1, 1, 1, "p"), (1, 1, 2, "Q")], "part int, k1 int, k2 int, s string"
    )
    out = row_level_diff(a, b, "part", ["k1", "k2"], changed_parts=[1]).collect()
    assert len(out) == 1 and out[0]["k2"] == 2 and out[0]["status"] == "modified"


# --- suite JSON round-trip (checks/suite.py) ---------------------------------


def test_suite_json_roundtrip_and_equivalence(spark):
    import json

    import pytest

    from baskerville_spark.checks import suite as S

    cons = [
        S.completeness("c1", "text", max_null_rate=0.10),
        S.bounds("c2", "n_chars", 100, 600, max_rate=0.25),
        S.pattern("c3", "lang", "^[a-z]{2}$"),
        S.membership("c4", "lang", ["en", "zh"], max_rate=0.3),
        S.predicate("c5", "n_chars >= 100", max_rate=0.9),
        S.mean_between("c6", "n_chars", 100.0, 400.0),
        S.approx_distinct_min("c7", "doc_id", 5),
    ]
    doc = json.dumps({"format": 1, "constraints": [
        {"name": "c1", "kind": "completeness", "column": "text",
         "threshold": 0.10, "params": []},
        {"name": "c2", "kind": "bounds", "column": "n_chars",
         "threshold": 0.25, "params": [100, 600]},
        {"name": "c3", "kind": "pattern", "column": "lang",
         "threshold": 0.0, "params": ["^[a-z]{2}$"]},
        {"name": "c4", "kind": "membership", "column": "lang",
         "threshold": 0.3, "params": [["en", "zh"]]},
        {"name": "c5", "kind": "predicate", "column": None,
         "threshold": 0.9, "params": ["n_chars >= 100"]},
        {"name": "c6", "kind": "mean", "column": "n_chars",
         "threshold": 0.0, "params": [100.0, 400.0]},
        {"name": "c7", "kind": "approx_distinct", "column": "doc_id",
         "threshold": 5.0, "params": []},
    ]})
    back = S.suite_from_json(doc)
    assert back == cons  # frozen dataclasses: exact structural equality

    # parsed suite compiles to the identical verdicts
    df = spark.createDataFrame(
        [(i, f"t{i}", "en" if i % 3 else None, 150 + i) for i in range(30)],
        "doc_id long, text string, lang string, n_chars long",
    ).withColumn("part_id", (F.col("doc_id") % 2).cast("int"))
    a = {(r["part_id"], r["check_name"]): (r["passed"], r["n_violations"])
         for r in S.run_suite(df, cons, group_by=["part_id"]).collect()}
    b = {(r["part_id"], r["check_name"]): (r["passed"], r["n_violations"])
         for r in S.run_suite(df, back, group_by=["part_id"]).collect()}
    assert a == b and len(a) == 14

    # loud failures: unknown kind, duplicate name, wrong arity, bad format
    d = json.loads(doc)
    d["constraints"][0]["kind"] = "nope"
    with pytest.raises(ValueError, match="unknown kind"):
        S.suite_from_json(json.dumps(d))
    d = json.loads(doc)
    d["constraints"][1]["name"] = "c1"
    with pytest.raises(ValueError, match="duplicate"):
        S.suite_from_json(json.dumps(d))
    d = json.loads(doc)
    d["constraints"][1]["params"] = [100]
    with pytest.raises(ValueError, match="takes 2 params"):
        S.suite_from_json(json.dumps(d))
    with pytest.raises(ValueError, match="unsupported suite format"):
        S.suite_from_json('{"format": 99, "constraints": []}')


# ---------------------------------------------------------------------------
# Metrics history + run-over-run anomaly detection (checks/history.py)
# ---------------------------------------------------------------------------

def _hist_rows(spark, series, part_id=0, column_name="c", metric_name="m"):
    """Helper: a metric series indexed by run_id 0..n-1."""
    return spark.createDataFrame(
        [(i, part_id, column_name, metric_name, float(v))
         for i, v in enumerate(series)],
        "run_id long, part_id int, column_name string, metric_name string,"
        " metric_value double",
    )


def test_metric_history_melt_from_column_stats(spark, t1_clips):
    """The history metrics come straight off ``column_stats`` rows: a
    numeric column carries min/max, a non-numeric one leaves them NULL
    (a metric that does not exist is not a zero), and the null rate is a
    fraction of each partition's rows."""
    stats = column_stats(t1_clips, numeric_cols=["sr_hz"], other_cols=["codec"]).collect()
    by_col = {}
    for r in stats:
        by_col.setdefault(r["column_name"], []).append(r)
    assert set(by_col) == {"sr_hz", "codec"}
    assert all(r["min"] is not None and r["max"] is not None for r in by_col["sr_hz"])
    assert all(r["min"] is None and r["max"] is None for r in by_col["codec"])
    for r in stats:
        total = r["count"] + r["null_count"]
        assert total > 0 and 0.0 <= r["null_count"] / total <= 1.0


def test_anomaly_flat_history_then_jump(spark):
    from baskerville_spark.checks.history import detect_metric_anomalies

    # stddev of a flat series is 0 — the k-sigma rule alone would divide
    # into the floor; the rel-change rule must catch the jump.
    hist = _hist_rows(spark, [100.0, 100.0, 100.0, 100.0, 160.0])
    rep = {r["run_id"]: r for r in detect_metric_anomalies(hist).collect()}
    assert [rep[i]["anomaly"] for i in range(5)] == [
        False, False, False, False, True
    ]
    assert rep[4]["trailing_n"] == 4
    assert rep[4]["trailing_mean"] == 100.0
    assert rep[4]["trailing_stddev"] == 0.0


def test_anomaly_min_history_warmup_never_flags(spark):
    from baskerville_spark.checks.history import detect_metric_anomalies

    # a violent jump at run 1 is NOT flagged: only 1 prior run (< min 3)
    hist = _hist_rows(spark, [100.0, 500.0, 100.0])
    rep = {r["run_id"]: r for r in detect_metric_anomalies(hist).collect()}
    assert not any(rep[i]["anomaly"] for i in range(3))
    # warm-up rows still report their trailing columns for audit
    assert rep[1]["trailing_n"] == 1 and rep[1]["trailing_mean"] == 100.0
    assert rep[0]["trailing_n"] == 0 and rep[0]["trailing_mean"] is None


def test_anomaly_arithmetic_ramp_stays_in_band(spark):
    from baskerville_spark.checks.history import detect_metric_anomalies

    # steady growth is NOT an anomaly under the 3-sigma band: for an
    # arithmetic ramp the deviation from the trailing mean is (n+1)/2 steps
    # while the trailing stddev is sqrt(n(n+1)/12) steps — ratio < 3 for all n
    hist = _hist_rows(spark, [float(100 + 5 * i) for i in range(10)])
    rep = detect_metric_anomalies(hist).collect()
    assert not any(r["anomaly"] for r in rep)


def test_anomaly_series_are_independent_per_key(spark):
    from baskerville_spark.checks.history import detect_metric_anomalies

    a = _hist_rows(spark, [10.0, 10.0, 10.0, 10.0, 30.0], metric_name="m_a")
    b = _hist_rows(spark, [10.0, 10.0, 10.0, 10.0, 10.0], metric_name="m_b")
    rep = detect_metric_anomalies(a.unionByName(b)).collect()
    flagged = {(r["metric_name"], r["run_id"]) for r in rep if r["anomaly"]}
    assert flagged == {("m_a", 4)}


# -- constraint suggestion + functional dependencies (checks/suggest.py) ----


def _suggest_frame(spark):
    rows = [
        # id unique no-null; grp 3-value string; val numeric; tag 2% nulls
        (i, ["a", "b", "c"][i % 3], float(i) / 7.0,
         None if i % 50 == 0 else f"t{i % 30}")
        for i in range(1000)
    ]
    return spark.createDataFrame(rows, "id long, grp string, val double, tag string")


def test_suggest_constraints_rules(spark):
    from baskerville_spark.checks.suggest import suggest_constraints

    out = {(r["col_name"], r["kind"]): r
           for r in suggest_constraints(_suggest_frame(spark)).collect()}
    # id: key column -> completeness(0) + unique + bounds [0, 999]
    assert out[("id", "completeness")]["threshold"] == 0.0
    assert ("id", "unique") in out
    assert (out[("id", "bounds")]["lo"], out[("id", "bounds")]["hi"]) == (0.0, 999.0)
    # grp: 3-value string -> sorted membership, not unique
    assert out[("grp", "membership")]["members"] == "a,b,c"
    assert ("grp", "unique") not in out
    # val: numeric, 1000 distinct -> bounds but no membership
    assert ("val", "bounds") in out and ("val", "membership") not in out
    # tag: 2% nulls -> padded completeness (0.02 * 1.25), 30 distinct > 20
    # -> membership guard rejects
    assert out[("tag", "completeness")]["threshold"] == pytest.approx(0.025)
    assert ("tag", "membership") not in out and ("tag", "unique") not in out


def test_suggest_structurally_sparse_column_gets_no_completeness(spark):
    from baskerville_spark.checks.suggest import suggest_constraints

    df = spark.range(100).select(
        "id", F.when(F.col("id") % 2 == 0, F.lit(None))
        .otherwise(F.col("id")).alias("sparse"))
    kinds = {(r["col_name"], r["kind"])
             for r in suggest_constraints(df).collect()}
    assert ("sparse", "completeness") not in kinds  # 50% nulls: no rule
    assert ("sparse", "bounds") in kinds  # bounds still suggested (nn > 0)


def test_suggested_suite_roundtrip_all_pass(spark):
    """The Deequ property: every suggested constraint passes on the table
    it was profiled from — suggestions are the observed envelope, also
    where 6-decimal rounding would cut it (a min and a max with 7
    decimals; a null rate below 4e-7, which rounds to 0.0)."""
    from baskerville_spark.checks import suite as S
    from baskerville_spark.checks.suggest import suggest_constraints

    def suite_from_suggestions(df):
        # 'unique' has no single-pass suite kind; it is left out
        make = {
            "completeness": lambda n, r: S.completeness(n, r["col_name"], r["threshold"]),
            "bounds": lambda n, r: S.bounds(n, r["col_name"], r["lo"], r["hi"], 0.0),
            "membership": lambda n, r: S.membership(
                n, r["col_name"], r["members"].split(","), 0.0),
        }
        return [
            make[r["kind"]](f"{r['col_name']}_{r['kind']}", r)
            for r in suggest_constraints(df).collect()
            if r["kind"] in make
        ]

    frames = [
        _suggest_frame(spark),
        spark.createDataFrame([(0.1234567,), (0.5,), (1.0000004,)], "x double"),
        spark.range(3_000_000).select(
            F.when(F.col("id") == 0, F.lit(None)).otherwise(F.col("id"))
            .alias("rare_null")
        ),
    ]
    for df in frames:
        cons = suite_from_suggestions(df)
        assert len(cons) >= (6 if df is frames[0] else 2)
        verdicts = S.run_suite(df, cons, group_by=[]).collect()
        assert len(verdicts) == len(cons)
        assert all(r["passed"] for r in verdicts), verdicts


def test_functional_dependency_holds_violates_and_nulls(spark):
    from baskerville_spark.checks.suggest import functional_dependency

    df = spark.createDataFrame(
        [(1, "x", "a"), (1, "x", "a"),     # duplicate rows agree
         (2, "y", "a"), (2, "z", "a"),     # k=2 disagrees on dep1
         (3, None, "b"), (3, None, "b"),   # NULL dep counts as ONE value
         (4, None, "c"), (4, "w", "c")],   # NULL vs 'w' -> violation
        "k int, dep1 string, dep2 string")
    r1 = functional_dependency(df, "k_dep1", ["k"], "dep1").collect()[0]
    assert (r1["n_groups"], r1["n_violating"], r1["passed"]) == (4, 2, False)
    assert r1["violation_rate"] == pytest.approx(0.5)
    r2 = functional_dependency(df, "k_dep2", ["k"], "dep2").collect()[0]
    assert (r2["n_violating"], r2["passed"]) == (0, True)


def test_functional_dependency_composite_determinant(spark):
    from baskerville_spark.checks.suggest import functional_dependency

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "a"),  # all agree per (k1,k2)
         (2, 2, "x"), (2, 2, "y")],              # (2,2) disagrees
        "k1 int, k2 int, dep string")
    r = functional_dependency(df, "fd", ["k1", "k2"], "dep").collect()[0]
    assert (r["n_groups"], r["n_violating"], r["passed"]) == (4, 1, False)


def test_benford_digits(spark):
    import math

    from baskerville_spark.checks.stats import benford_digits

    df = spark.createDataFrame(
        [(1.0,), (0.00123,), (-9.9e-5,), (150.0,), (0.0,), (None,),
         (12300000.0,), (2000.0,)],
        "x double",
    )
    out = {r["digit"]: r for r in benford_digits(df, "x").collect()}
    # all nine digit rows exist, zero-count digits included
    assert sorted(out) == list(range(1, 10))
    # 1.0, 0.00123, 150.0, 1.23e7 -> digit 1 (plain, sub-one and
    # scientific string forms); -9.9e-5 -> 9 (sign-blind); 2000 -> 2;
    # 0.0 and NULL excluded from the denominator
    assert out[1]["n_d"] == 4 and out[2]["n_d"] == 1 and out[9]["n_d"] == 1
    assert out[3]["n_d"] == 0
    assert abs(out[1]["obs_frac"] - 4 / 6) < 1e-12
    assert abs(out[1]["exp_frac"] - math.log10(2)) < 1e-12
    assert abs(out[3]["abs_dev"] - math.log10(1 + 1 / 3)) < 1e-12


def test_wasserstein_binned_closed_form(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.checks.drift import wasserstein_binned

    # side A: one row at bin 0; side B: one row at bin 2 (width 1, 4 bins)
    # CDFs: A = 1,1,1,1  B = 0,0,1,1 -> |diff| = 1,1,0,0 -> W1 = 2.0
    df = spark.createDataFrame(
        [("g", 0.5, True), ("g", 2.5, False)], "grp string, v double, sa boolean"
    )
    r = wasserstein_binned(
        df, "v", F.col("sa"), ["grp"], lo=0.0, hi=4.0, n_bins=4, threshold=1.0
    ).collect()[0]
    assert (r["n_a"], r["n_b"], r["w1"], r["drift"]) == (1, 1, 2.0, True)


def test_wasserstein_binned_identical_sides_and_clamping(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.checks.drift import wasserstein_binned

    # identical samples on both sides -> W1 exactly 0; values outside
    # [lo, hi) clamp into the edge bins instead of vanishing
    rows = [("g", v, s) for v in (-5.0, 1.5, 99.0) for s in (True, False)]
    df = spark.createDataFrame(rows, "grp string, v double, sa boolean")
    r = wasserstein_binned(
        df, "v", F.col("sa"), ["grp"], lo=0.0, hi=4.0, n_bins=4, threshold=0.1
    ).collect()[0]
    assert (r["n_a"], r["n_b"], r["w1"], r["drift"]) == (3, 3, 0.0, False)


def test_decode_state_agrees_with_invariant_on_empty_payload(spark):
    """An empty payload decodes to zero samples: the decode state counts
    it as failed and the invariant reports it with decode_ok = false, so
    both passes apply one decode rule."""
    from baskerville_spark import audio as A
    from baskerville_spark.checks import audio_state as AS
    from baskerville_spark.checks.invariants import audio_invariant

    ok = A.encode(A.synth_pcm_n("c0", 16000, 320), "pcm_s16le")
    clips = spark.createDataFrame(
        [(0, "c0", bytearray(ok), 16000, 20, "pcm_s16le", "t"),
         (0, "c1", bytearray(b""), 16000, 20, "pcm_s16le", "t")],
        "part_id int, clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    (state,) = AS.decode_state(clips).collect()
    assert (state["n_clips"], state["n_decoded"], state["n_failed"]) == (2, 1, 1)
    inv = {r["clip_id"]: r["decode_ok"] for r in audio_invariant(clips).collect()}
    assert inv == {"c0": True, "c1": False}
