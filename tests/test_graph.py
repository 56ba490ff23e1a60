"""Connected-components dedup clustering (gates/graph.py).

The oracle gate (q65) proves end-to-end parity on hash-bucket graphs
whose star edges all point one hop from the cluster min; these tests pin
the properties that fixture cannot reach: multi-hop label propagation on
adverse id orderings, star-vs-clique connectivity equivalence, the
non-convergence guard, and singleton widening via explicit vertices.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from baskerville_spark.gates import graph
from baskerville_spark.gates.graph import (
    connected_components,
    connected_components_bigstar,
    dedup_clusters,
    star_edges,
)


def _labels(df) -> dict[int, int]:
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def _unseeded(verts, edges):
    """``connected_components`` from identity seeds: every vertex starts at
    its own id."""
    return connected_components(verts, edges, verts.select("id", F.col("id").alias("label")))


def test_path_graph_needs_multiple_rounds(spark, monkeypatch):
    # Path 9-7-5-3-1 with the min at the far end: label 1 must walk the
    # path hop by hop, so convergence takes >1 round — the regime the
    # q65 star-edge fixture (diameter 2) never enters.
    verts = spark.createDataFrame([(9,), (7,), (5,), (3,), (1,)], ["id"])
    edges = spark.createDataFrame(
        [(9, 7), (7, 5), (5, 3), (3, 1)], ["src", "dst"]
    )
    # exactly 4 hops of propagation + 1 confirming round
    monkeypatch.setattr(graph, "LABEL_MAX_ITERS", 5)
    assert _labels(_unseeded(verts, edges)) == {1: 1, 3: 1, 5: 1, 7: 1, 9: 1}
    monkeypatch.setattr(graph, "LABEL_MAX_ITERS", 4)
    with pytest.raises(RuntimeError, match="did not converge in 4 rounds"):
        _unseeded(verts, edges)


def test_two_components_and_isolated_vertex(spark):
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    edges = spark.createDataFrame(
        [(2, 4), (4, 6), (1, 3), (3, 5)], ["src", "dst"]
    )
    got = _labels(_unseeded(verts, edges))
    assert got == {1: 1, 3: 1, 5: 1, 2: 2, 4: 2, 6: 2, 7: 7}


def test_star_edges_match_clique_connectivity(spark):
    # Buckets {1,5,9} and {9,12} chain through 9; star edges must yield
    # the same components as the explicit all-pairs cliques.
    membership = spark.createDataFrame(
        [(1, "a"), (5, "a"), (9, "a"), (9, "b"), (12, "b"), (20, "c")],
        ["id", "bucket"],
    )
    verts = membership.select("id").distinct()
    stars = star_edges(membership, "id")
    # star edge count is linear: (3-1) + (2-1) + 0 singleton
    assert stars.count() == 3
    cliques = spark.createDataFrame(
        [(1, 5), (1, 9), (5, 9), (9, 12)], ["src", "dst"]
    )
    assert _labels(_unseeded(verts, stars)) == _labels(
        _unseeded(verts, cliques)
    )


def test_nonconvergence_raises(spark, monkeypatch):
    verts = spark.createDataFrame([(9,), (7,), (5,), (3,), (1,)], ["id"])
    edges = spark.createDataFrame(
        [(9, 7), (7, 5), (5, 3), (3, 1)], ["src", "dst"]
    )
    monkeypatch.setattr(graph, "LABEL_MAX_ITERS", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        _unseeded(verts, edges)


def test_bigstar_long_chain_converges_sublinearly(spark, monkeypatch):
    # Diameter-100 path 0-1-2-...-100: min-label propagation needs ~100
    # rounds (it would exhaust its cap); the large-star/small-star
    # alternation must land the correct single component in O(log n)
    # rounds. This is exactly the adversarial regime the q67 gate drives.
    n = 100
    verts = spark.createDataFrame([(i,) for i in range(n + 1)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    # ~log2(100) + slack rounds, nowhere near the diameter
    monkeypatch.setattr(graph, "BIGSTAR_MAX_ITERS", 12)
    out = connected_components_bigstar(verts, edges)
    assert _labels(out) == {i: 0 for i in range(n + 1)}

    monkeypatch.setattr(graph, "LABEL_MAX_ITERS", 10)
    with pytest.raises(RuntimeError, match="did not converge"):
        _unseeded(verts, edges)


def test_bigstar_matches_label_on_mixed_graph(spark):
    # Two components + an isolated vertex, adverse id ordering: both
    # algorithms must emit identical labels (and the shared shapes:
    # isolated node keeps its id, mins win).
    verts = spark.createDataFrame([(i,) for i in range(1, 10)], ["id"])
    edges = spark.createDataFrame(
        [(9, 7), (7, 5), (2, 4), (4, 6), (6, 8), (8, 1)], ["src", "dst"]
    )
    a = _labels(_unseeded(verts, edges))
    b = _labels(connected_components_bigstar(verts, edges))
    assert a == b
    assert b[9] == 5 and b[2] == 1 and b[3] == 3


def test_seeded_labels_halve_rounds_same_answer(spark, monkeypatch):
    # Chained buckets {1,5,9},{9,12},{12,15}: unseeded propagation walks
    # root-to-root; seeding each member with its min bucket root (the
    # dedup_clusters fast path) pre-folds round one, so convergence takes
    # strictly fewer rounds and the labels are identical.
    membership = spark.createDataFrame(
        [(1, "a"), (5, "a"), (9, "a"), (9, "b"), (12, "b"), (12, "c"), (15, "c")],
        ["id", "bucket"],
    )
    verts = membership.select("id").distinct()
    edges = star_edges(membership, "id")
    plain = _unseeded(verts, edges)
    roots = membership.groupBy("bucket").agg(F.min("id").alias("__root"))
    seeds = (
        membership.join(roots, "bucket")
        .groupBy("id")
        .agg(F.min("__root").alias("label"))
    )
    seeded = connected_components(verts, edges, init_labels=seeds)
    assert _labels(plain) == _labels(seeded) == {i: 1 for i in (1, 5, 9, 12, 15)}
    # plain propagation needs 4 rounds (3 moving + 1 confirming); seeding
    # pre-folds the first, so 3 rounds suffice for it alone
    monkeypatch.setattr(graph, "LABEL_MAX_ITERS", 3)
    assert _labels(connected_components(verts, edges, init_labels=seeds)) == _labels(plain)
    with pytest.raises(RuntimeError, match="did not converge"):
        _unseeded(verts, edges)


def test_dedup_clusters_bigstar_dispatch(spark):
    membership = spark.createDataFrame(
        [(3, "x"), (7, "x"), (7, "y"), (11, "y")], ["id", "bucket"]
    )
    out = dedup_clusters(membership, algorithm="bigstar")
    rows = {r["id"]: r for r in out.collect()}
    assert {rows[i]["cluster_id"] for i in (3, 7, 11)} == {3}
    assert rows[3]["cluster_size"] == 3 and rows[3]["is_canonical"] is True
    with pytest.raises(ValueError, match="algorithm"):
        dedup_clusters(membership, algorithm="nope")


def test_dedup_clusters_vertices_widen_to_singletons(spark):
    membership = spark.createDataFrame(
        [(1, "x"), (2, "x")], ["doc", "bucket"]
    )
    verts = spark.createDataFrame([(1,), (2,), (3,)], ["doc"])
    out = dedup_clusters(
        membership, id_col="doc", vertices=verts
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[3]["cluster_id"] == 3 and rows[3]["cluster_size"] == 1
    assert rows[3]["is_canonical"] is True
    assert rows[1]["cluster_size"] == 2 and rows[2]["cluster_id"] == 1
    assert rows[2]["is_canonical"] is False
    # canonical survivors: exactly one per cluster
    assert (
        out.where("is_canonical").count()
        == out.select("cluster_id").distinct().count()
    )


def test_star_edges_plan_is_partial_agg_no_window(spark):
    """The hot-bucket defense is IN THE PLAN: bucket minima come from a
    partial-then-final hash aggregate (combines 10^9-member buckets
    map-side), never a Window (which would sort a whole hot bucket on one
    task)."""
    membership = spark.createDataFrame(
        [(1, "a"), (5, "a"), (9, "b")], ["id", "bucket"]
    )
    plan = star_edges(membership, "id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side partial aggregation of the root


def test_reliable_checkpoint_used_when_dir_configured(spark, tmp_path):
    # With a dir configured, _Ckpt must switch from executor-local blocks
    # to reliable checkpoint() (cluster fault-tolerance path) — evidenced
    # by RDD checkpoint files landing in the dir — labels unchanged, and
    # superseded rounds' files deleted (PeriodicCheckpointer protocol):
    # only ONE checkpointed RDD dir may remain, the final round's. The
    # session-global dir is restored to unset afterwards (the JVM setter
    # accepts null) so later tests keep the localCheckpoint path.
    import os

    ckdir = str(tmp_path / "ck")
    sc = spark.sparkContext
    sc.setCheckpointDir(ckdir)
    try:
        verts = spark.createDataFrame([(9,), (7,), (5,), (3,), (1,)], ["id"])
        edges = spark.createDataFrame(
            [(9, 7), (7, 5), (5, 3), (3, 1)], ["src", "dst"]
        )
        got = _labels(_unseeded(verts, edges))
        assert got == {1: 1, 3: 1, 5: 1, 7: 1, 9: 1}
        rdd_dirs = [
            os.path.join(d, f)
            for d, fs, _ in os.walk(ckdir)
            for f in fs
            if f.startswith("rdd-")
        ]
        assert len(rdd_dirs) == 1, (
            f"expected exactly the final round's checkpoint, got {rdd_dirs}"
        )
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_incremental_clustering_equals_from_scratch(spark):
    # Batch 1: buckets {1,5} (a) and {9,12} (b). Batch 2 fingerprints
    # ONLY its own new docs: 20 lands in old content bucket "b" and 21
    # in old bucket "a" — batch 2 carries no rows for the old docs in
    # those buckets; reconstructing them from the retained index is the
    # bridge term's job. incremental_membership must recover both
    # old↔new merges, and the naive (a)∪(b) union must provably MISS
    # them (stranded singletons).
    from baskerville_spark.gates.graph import (
        incremental_membership,
        prior_label_membership,
    )

    b1 = spark.createDataFrame(
        [(1, "a"), (5, "a"), (9, "b"), (12, "b")], ["id", "bucket"]
    )
    # batch 2 = ONLY new docs' fingerprints (the honest incremental shape)
    b2 = spark.createDataFrame([(20, "b"), (21, "a")], ["id", "bucket"])
    prior = dedup_clusters(b1).select("id", "cluster_id")
    full_membership = b1.unionByName(b2)

    inc_m = incremental_membership(b2, prior, retained_index=full_membership, id_col="id")
    incremental = dedup_clusters(inc_m)
    scratch = dedup_clusters(full_membership)
    inc = {r["id"]: (r["cluster_id"], r["cluster_size"]) for r in incremental.collect()}
    full = {r["id"]: (r["cluster_id"], r["cluster_size"]) for r in scratch.collect()}
    assert inc == full
    assert inc[20] == (9, 3) and inc[21] == (1, 3)

    # the naive two-term union (no bridge) silently misses both merges —
    # the exact failure mode the bridge term exists to prevent
    naive = dedup_clusters(b2.unionByName(prior_label_membership(prior, "id")))
    nv = {r["id"]: r["cluster_id"] for r in naive.collect()}
    assert nv[20] == 20 and nv[21] == 21  # stranded singletons


def test_string_ids_raise_loudly(spark):
    verts = spark.createDataFrame([("a",), ("b",)], ["id"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="xxhash64"):
        _unseeded(verts, edges)
    with pytest.raises(ValueError, match="xxhash64"):
        connected_components_bigstar(verts, edges)
