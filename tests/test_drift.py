"""Drift checks: PSI/KS self-zero, drifted-partition detection, thresholds."""

from __future__ import annotations

from baskerville_spark.checks import drift
from baskerville_spark.checks.drift import capture_baseline, drift_verdicts
from oracles import psi_py


def test_psi_self_is_zero():
    p = [0.1, 0.2, 0.3, 0.4]
    assert psi_py(p, p) == 0.0


def test_baseline_self_drift_zero(spark, t1_clips):
    clean = t1_clips.where("part_id = 0")
    rows = capture_baseline(clean, ["sr_hz", "dur_ms"], ["codec"])
    v = drift_verdicts(clean, rows).collect()
    assert all(r["passed"] for r in v)
    for r in v:
        assert abs(r["metric_value"]) < 1e-9


def test_drift_partition_flagged(spark, t1_clips, t1_cfg):
    clean = t1_clips.where("part_id = 0")
    rows = capture_baseline(clean, ["sr_hz", "dur_ms"], ["codec"])
    v = drift_verdicts(t1_clips, rows).collect()
    drift_part = t1_cfg.n_parts - 1
    # drifted partition: sr_hz distribution shifted + unseen 'mp3' codec
    sr_psi = {r["part_id"]: r for r in v if r["check_name"] == "psi:sr_hz"}
    codec_psi = {r["part_id"]: r for r in v if r["check_name"] == "psi:codec"}
    assert not sr_psi[drift_part]["passed"]
    assert not codec_psi[drift_part]["passed"]
    assert sr_psi[0]["passed"] and codec_psi[0]["passed"]
    # middle partitions share the clean distribution
    assert sr_psi[1]["passed"] and sr_psi[2]["passed"]
    # KS flags the numeric shift too
    sr_ks = {r["part_id"]: r for r in v if r["check_name"] == "ks:sr_hz"}
    assert not sr_ks[drift_part]["passed"] and sr_ks[1]["passed"]


def test_baseline_roundtrip(spark, t1_clips, tmp_path):
    from baskerville_spark.checks.drift import load_baseline, save_baseline

    clean = t1_clips.where("part_id = 0")
    rows = capture_baseline(clean, ["sr_hz"], ["codec"])
    save_baseline(spark, rows, str(tmp_path / "baseline"))
    loaded = load_baseline(spark, str(tmp_path / "baseline"))
    by_col = {r["column_name"]: r for r in loaded}
    orig = {r["column_name"]: r for r in rows}
    for c in orig:
        assert list(by_col[c]["bin_fractions"]) == list(orig[c]["bin_fractions"])


def test_capture_baseline_categorical_single_job(spark, monkeypatch):
    """The categorical path must be ONE Spark job for ALL columns (melt →
    count → window → one collect), not one groupBy/collect per column — the
    per-column loop was N full scans of the fact table. Pinned by counting
    DataFrame.collect() calls, and the captured fractions must be exact."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("a", None), ("c", "y")],
        "c1 string, c2 string",
    )
    # patch the RUNTIME class (pyspark 4's classic DataFrame overrides
    # collect, so patching the pyspark.sql.DataFrame base intercepts nothing)
    cls = type(df)
    calls = {"n": 0}
    orig = cls.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    monkeypatch.setattr(drift, "MAX_CATEGORIES", 2)
    rows = capture_baseline(df, [], ["c1", "c2"])
    assert calls["n"] == 1  # one job total, regardless of column count
    by_col = {r["column_name"]: r for r in rows}
    # c1: a=3, b=1 (c dropped by MAX_CATEGORIES=2; deterministic tie-break
    # picks 'b' before 'c'); fractions over the KEPT rows + trailing OTHER
    assert by_col["c1"]["categories"] == ["a", "b"]
    assert by_col["c1"]["bin_fractions"] == [0.75, 0.25, 0.0]
    # c2: y=3, x=1, null excluded from categories but ranked
    assert by_col["c2"]["categories"] == ["y", "x"]
    assert by_col["c2"]["bin_fractions"] == [0.75, 0.25, 0.0]


def test_rolling_psi_verdicts(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.gates.drift import rolling_psi_verdicts

    # windows 1,2: identical uniform-ish values; window 3: hard shift into
    # the top bucket; window 5 has no consecutive predecessor -> no row
    rows = []
    for w in (1, 2):
        rows += [(w, float(v)) for v in (1.0, 10.0, 50.0, 200.0) * 25]
    rows += [(3, 900.0)] * 100
    rows += [(5, 1.0)] * 100
    df = spark.createDataFrame(rows, "w int, value double")
    out = {
        r["window_id"]: r
        for r in rolling_psi_verdicts(
            df, F.col("w"), "value", [0.0, 5.0, 25.0, 100.0, 500.0]
        ).collect()
    }
    assert set(out) == {2, 3}            # w=1 has no predecessor; w=5 gap
    assert out[2]["prev_window_id"] == 1
    assert out[2]["psi"] < 1e-12 and out[2]["passed"]
    assert out[3]["psi"] > 0.2 and not out[3]["passed"]
    assert out[3]["n_rows"] == 100


def test_rolling_ks_verdicts(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.gates.drift import rolling_ks_verdicts

    rows = [(1, float(v)) for v in (1.0, 10.0, 50.0, 200.0) * 25]
    rows += [(2, float(v)) for v in (1.0, 10.0, 50.0, 200.0) * 25]
    rows += [(3, 900.0)] * 100   # everything jumps to the top bucket
    df = spark.createDataFrame(rows, "w int, value double")
    out = {
        r["window_id"]: r
        for r in rolling_ks_verdicts(
            df, F.col("w"), "value", [0.0, 5.0, 25.0, 100.0, 500.0]
        ).collect()
    }
    assert out[2]["ks"] < 1e-12 and out[2]["passed"]
    # CDF gap at every interior edge is 0.75 (uniform quarters vs all-top)
    assert abs(out[3]["ks"] - 0.75) < 1e-9 and not out[3]["passed"]


def test_psi_attribution_terms_sum_to_verdict_psi(spark):
    """Per-bin contributions must sum (within fp) to the drift_verdicts PSI,
    and shares must sum to 1 per (partition, column)."""
    import math

    from pyspark.sql import Row

    from baskerville_spark.checks.drift import drift_verdicts
    from baskerville_spark.gates.drift import psi_attribution

    df = spark.createDataFrame(
        [(p, float(v % 10)) for p in (0, 1) for v in range(200)],
        "part_id int, x double",
    )
    baseline = [
        Row(column_name="x", kind="numeric", bin_edges=[0.0, 2.0, 5.0, 10.0],
            categories=None, bin_fractions=[0.5, 0.25, 0.25], quantiles=None, n=100)
    ]
    att = psi_attribution(df, baseline).collect()
    psi = {
        r["part_id"]: r["metric_value"]
        for r in drift_verdicts(df, baseline).collect()
        if r["check_name"] == "psi:x"
    }
    for p in (0, 1):
        rows = [r for r in att if r["part_id"] == p]
        assert len(rows) == 3
        assert math.isclose(sum(r["contribution"] for r in rows), psi[p],
                            rel_tol=1e-9, abs_tol=1e-12)
        assert math.isclose(sum(r["share"] for r in rows), 1.0, rel_tol=1e-6)
        assert all(r["contribution"] >= 0 for r in rows)


def test_psi_attribution_top_k_and_plan(spark):
    from pyspark.sql import Row

    from baskerville_spark.gates.drift import psi_attribution

    # part 0: all mass lands in the last bin -> it must dominate
    df = spark.createDataFrame(
        [(0, 9.0)] * 50 + [(0, 1.0)] * 5, "part_id int, x double"
    )
    baseline = [
        Row(column_name="x", kind="numeric", bin_edges=[0.0, 2.0, 5.0, 10.0],
            categories=None, bin_fractions=[0.6, 0.3, 0.1], quantiles=None, n=100)
    ]
    full = psi_attribution(df, baseline)
    top = max(full.collect(), key=lambda r: r["contribution"])
    # the emptied 30%-mass bin (idx 1, cur_frac 0 -> EPS clamp) carries the
    # largest term — a vanished bin out-scores even a 10%->91% grown bin
    assert top["bin_idx"] == 1
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # one partial/final agg pair, no union fan-out


def test_chi2_homogeneity(spark):
    from baskerville_spark.checks.drift import chi2_homogeneity

    # identical mixes in every group -> chi2 exactly 0
    same = spark.createDataFrame(
        [("g1", "x")] * 2 + [("g1", "y")] * 2
        + [("g2", "x")] * 2 + [("g2", "y")] * 2,
        "g string, c string",
    )
    out = {r["g"]: r for r in chi2_homogeneity(same, "g", "c").collect()}
    assert out["g1"]["chi2"] == 0.0 and out["g2"]["chi2"] == 0.0
    assert out["g1"]["dof"] == 1

    # zero-cell restoration: g1 never shows 'y' — the absent cell must
    # still contribute its expected mass. 2x2 table [[4,0],[2,2]]:
    # chi2 = 1/3 + 1 + 1/3 + 1 = 8/3 (hand-computed), symmetric for both.
    skew = spark.createDataFrame(
        [("g1", "x")] * 4 + [("g2", "x")] * 2 + [("g2", "y")] * 2,
        "g string, c string",
    )
    out = {r["g"]: r for r in chi2_homogeneity(skew, "g", "c").collect()}
    assert abs(out["g1"]["chi2"] - 8.0 / 3.0) < 1e-12
    assert abs(out["g2"]["chi2"] - 8.0 / 3.0) < 1e-12
    assert out["g1"]["n_group"] == 4 and out["g1"]["n_rest"] == 4


def test_mannwhitney_u(spark):
    from baskerville_spark.gates.drift import mannwhitney_u

    # no ties: A=[1,2,3] B=[4,5,6] -> U_A=0 (A never wins), U_B=9;
    # u2 is 2*U exactly; z antisymmetric and negative for the low group
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0),
         ("B", 4.0), ("B", 5.0), ("B", 6.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in mannwhitney_u(df, "g", "v").collect()}
    assert out["A"]["u2"] == 0 and out["B"]["u2"] == 18
    assert out["A"]["n_group"] == 3 and out["A"]["n_rest"] == 3
    assert out["A"]["z"] < 0 < out["B"]["z"]
    assert abs(out["A"]["z"] + out["B"]["z"]) < 1e-12

    # ties via average ranks: A=[1,1,2] B=[1,2,2] -> U_A = #(a>b) + ties/2
    # = 1 + 4/2 = 3 (hand-enumerated 9 pairs), so u2_A=6; U_A+U_B=n1*n2=9
    ties = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0), ("A", 2.0),
         ("B", 1.0), ("B", 2.0), ("B", 2.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in mannwhitney_u(ties, "g", "v").collect()}
    assert out["A"]["u2"] == 6 and out["B"]["u2"] == 12

    # NULL values are excluded from ranking, not ranked as a value
    withnull = spark.createDataFrame(
        [("A", 1.0), ("A", None), ("B", 2.0)], "g string, v double"
    )
    out = {r["g"]: r for r in mannwhitney_u(withnull, "g", "v").collect()}
    assert out["A"]["n_group"] == 1 and out["A"]["u2"] == 0


def test_spearman_corr(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from baskerville_spark.checks.drift import spearman_corr

    # strictly monotone (nonlinear) -> rho exactly 1; reversed -> -1
    mono = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 40.0), (3.0, 90.0), (4.0, 1000.0)],
        "a double, b double",
    )
    r = spearman_corr(mono, "a", "b").collect()[0]
    assert r["n"] == 4 and abs(r["rho"] - 1.0) < 1e-12
    rev = spearman_corr(
        mono.withColumn("b", -F.col("b")), "a", "b").collect()[0]
    assert abs(rev["rho"] + 1.0) < 1e-12

    # ties via average ranks: numpy cross-check of the exact tie-correct
    # form (pearson of average ranks), not the n(n^2-1)/6 shortcut
    a = [1.0, 1.0, 2.0, 3.0, 3.0, 4.0]
    b = [5.0, 7.0, 7.0, 9.0, 8.0, 8.0]
    def avg_ranks(xs):
        xs = np.asarray(xs)
        return np.array(
            [(xs < x).sum() + ((xs == x).sum() + 1) / 2.0 for x in xs])
    ra, rb = avg_ranks(a), avg_ranks(b)
    expected = np.corrcoef(ra, rb)[0, 1]
    ties = spark.createDataFrame(list(zip(a, b)), "a double, b double")
    out = spearman_corr(ties, "a", "b").collect()[0]
    assert abs(out["rho"] - expected) < 1e-12

    # pairwise-complete: NULL on either side drops the pair; constant
    # column -> zero rank variance -> rho NULL (undefined, not 0)
    withnull = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (None, 3.0), (4.0, 2.0)],
        "a double, b double",
    )
    out = spearman_corr(withnull, "a", "b").collect()[0]
    assert out["n"] == 2 and abs(out["rho"] - 1.0) < 1e-12
    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "a double, b double")
    out = spearman_corr(const, "a", "b").collect()[0]
    assert out["rho"] is None


def test_chi2_cramers_v(spark):
    from baskerville_spark.checks.drift import chi2_homogeneity

    # hand-computed: chi2 = 8/3 over N=8 -> V = sqrt(chi2/N) = sqrt(1/3)
    skew = spark.createDataFrame(
        [("g1", "x")] * 4 + [("g2", "x")] * 2 + [("g2", "y")] * 2,
        "g string, c string",
    )
    out = {r["g"]: r for r in chi2_homogeneity(skew, "g", "c").collect()}
    import math
    assert abs(out["g1"]["cramers_v"] - math.sqrt(1.0 / 3.0)) < 1e-12
    # identical mixes -> zero effect size
    same = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", "x"), ("g2", "y")],
        "g string, c string",
    )
    out = {r["g"]: r for r in chi2_homogeneity(same, "g", "c").collect()}
    assert out["g1"]["cramers_v"] == 0.0


def test_mutual_info(spark):
    import math

    from baskerville_spark.checks.drift import mutual_info

    # perfect dependence on a uniform binary pair: MI = H = ln 2, NMI = 1
    dep = spark.createDataFrame(
        [("x", "x"), ("x", "x"), ("y", "y"), ("y", "y")], "a string, b string"
    )
    r = mutual_info(dep, "a", "b").collect()[0]
    assert r["n"] == 4
    assert abs(r["mi"] - math.log(2)) < 1e-12
    assert abs(r["h_a"] - math.log(2)) < 1e-12
    assert abs(r["nmi"] - 1.0) < 1e-12

    # independence (uniform 2x2) -> MI exactly 0
    ind = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")], "a string, b string"
    )
    r = mutual_info(ind, "a", "b").collect()[0]
    assert abs(r["mi"]) < 1e-12 and abs(r["nmi"]) < 1e-12

    # NULL is a category: a NULL perfectly predicts b='p'
    withnull = spark.createDataFrame(
        [(None, "p"), (None, "p"), ("x", "q")], "a string, b string"
    )
    r = mutual_info(withnull, "a", "b").collect()[0]
    h = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert abs(r["mi"] - h) < 1e-12 and abs(r["nmi"] - 1.0) < 1e-12

    # deterministic marginal: H(A)=0 -> MI 0, NMI undefined (NULL)
    const = spark.createDataFrame(
        [("k", "p"), ("k", "q")], "a string, b string"
    )
    r = mutual_info(const, "a", "b").collect()[0]
    assert abs(r["mi"]) < 1e-12 and r["h_a"] == 0.0 and r["nmi"] is None


def test_rolling_chi2_verdicts(spark):
    import math

    from pyspark.sql import functions as F

    from baskerville_spark.gates.drift import rolling_chi2_verdicts

    # identical windows -> chi2 exactly 0 -> V 0; hard shift flags
    rows = [(1, float(v)) for v in (1.0, 10.0, 50.0, 200.0) * 25]
    rows += [(2, float(v)) for v in (1.0, 10.0, 50.0, 200.0) * 25]
    rows += [(3, 900.0)] * 100
    df = spark.createDataFrame(rows, "w int, value double")
    out = {
        r["window_id"]: r
        for r in rolling_chi2_verdicts(
            df, F.col("w"), "value", [0.0, 5.0, 25.0, 100.0, 500.0]
        ).collect()
    }
    assert out[2]["cramers_v"] == 0.0 and out[2]["passed"]
    # window 3: all 100 rows land in the TOP bucket (outer edges are
    # dropped by rolling_bucket_aggs, so 200.0 and 900.0 share bucket 3 of
    # 4). 2x4 table [[0,0,0,100],[25,25,25,25]]: chi2 = 3*25 + 45 = 120,
    # V = sqrt(120/200)
    cur = [0, 0, 0, 100]
    prv = [25, 25, 25, 25]
    N = 200
    chi2 = 0.0
    for o_c, o_p in zip(cur, prv):
        c = o_c + o_p
        if c == 0:
            continue
        e_c, e_p = 100 * c / N, 100 * c / N
        chi2 += (o_c - e_c) ** 2 / e_c + (o_p - e_p) ** 2 / e_p
    assert chi2 == 120.0
    assert abs(out[3]["cramers_v"] - math.sqrt(chi2 / N)) < 1e-12
    assert not out[3]["passed"]


def test_chi2_homogeneity_null_category(spark):
    """NULL is a category: identical (x, NULL) mixes in both groups must
    give chi2 exactly 0 — a plain equi-join back to the cell frame zeroes
    the NULL cells while the totals still count them, inflating chi2
    (the silent-drop class the mutual_info NULL test caught)."""
    from baskerville_spark.checks.drift import chi2_homogeneity

    df = spark.createDataFrame(
        [("g1", "x"), ("g1", None), ("g2", "x"), ("g2", None)],
        "g string, c string",
    )
    out = {r["g"]: r for r in chi2_homogeneity(df, "g", "c").collect()}
    assert out["g1"]["chi2"] == 0.0 and out["g2"]["chi2"] == 0.0
    assert out["g1"]["dof"] == 1  # two categories: x and NULL


def test_stat_operators_cache_cell_frames(spark, tmp_path):
    """The classical-statistics operators persist their post-aggregation
    cell frames: every derived branch (marginals, totals, join probes)
    must read the cache (InMemoryTableScan in the executed plan), not
    re-scan the fact table — unpersisted, chi2/MI cost FOUR full scans
    and the rank ops six. Pinned so a dropped .persist() regresses
    loudly."""
    from baskerville_spark.checks.drift import chi2_homogeneity, mutual_info, spearman_corr
    from baskerville_spark.gates.drift import mannwhitney_u
    from baskerville_spark.checks.stats import benford_digits

    df = spark.createDataFrame(
        [("g1", "x", 1.0, 10.0), ("g1", "y", 2.0, 20.0),
         ("g2", "x", 3.0, 30.0), ("g2", "y", 4.0, 40.0)],
        "g string, c string, a double, b double",
    )
    frames = [
        chi2_homogeneity(df, "g", "c"),
        mutual_info(df, "g", "c"),
        mannwhitney_u(df, "g", "a"),
        spearman_corr(df, "a", "b"),
        benford_digits(df, "a"),
    ]
    for frame in frames:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_wasserstein_caches_cell_frame(spark):
    """wasserstein_binned persists its binned-count frame: the bin-grid
    branch must read the cache, not re-scan the fact table (same pin as
    test_stat_operators_cache_cell_frames)."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.drift import wasserstein_binned

    df = spark.createDataFrame(
        [("g", 1.0, True), ("g", 2.0, False)], "grp string, v double, sa boolean"
    )
    out = wasserstein_binned(df, "v", F.col("sa"), ["grp"], 0.0, 4.0, 4, 0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()
