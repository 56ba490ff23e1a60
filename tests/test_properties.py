"""Hypothesis property tests (FIXTURES.md §6 style): pure-python decoder
properties run many examples; Spark-backed properties run few (each example
is a Spark job)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from baskerville_spark.gates.multimodal import _ahash64, _decode_bmp, make_bmp


@given(
    w=st.integers(1, 64),
    h=st.integers(1, 64),
    rgb=st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
)
@settings(max_examples=50, deadline=None)
def test_bmp_roundtrip_property(w, h, rgb):
    img = _decode_bmp(make_bmp(w, h, rgb))
    assert img.shape == (h, w, 3)
    assert (img[0, 0] == rgb).all() and (img[-1, -1] == rgb).all()
    # solid color → no thumbnail cell exceeds the mean → ahash is exactly 0
    assert _ahash64(img) == 0


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=15, max_size=60), min_size=2, max_size=6
    )
)
@settings(max_examples=5, deadline=None)
def test_jaccard_pair_invariants(spark, texts):
    from unittest import mock

    from baskerville_spark.gates import dedup
    from baskerville_spark.gates.dedup import ngram_jaccard_pairs
    docs = [(i, t) for i, t in enumerate(texts)] + [(100, texts[0]), (101, texts[0])]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    with mock.patch.multiple(dedup, SHINGLE_N=2, JACCARD_THRESHOLD=0.0, JACCARD_MAX_DF=1 << 30):
        rows = ngram_jaccard_pairs(df).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]                      # canonical ordering
        assert 0.0 < r["jaccard"] <= 1.0 + 1e-12          # bounded metric
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    if (100, 101) in by_pair:                             # identical docs
        assert abs(by_pair[(100, 101)] - 1.0) < 1e-12


@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet="xyz", min_size=0, max_size=3)),
        min_size=2,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
@settings(max_examples=5, deadline=None)
def test_exact_duplicates_forms_agree(spark, texts, k):
    """The count-first three-level salted form and the row_number-window
    form must return IDENTICAL (hash, dup_count, ids) groups on arbitrary
    inputs — including null texts (neither form groups them: NULL payloads
    are a schema-check concern) and duplicate counts straddling k."""
    from baskerville_spark.gates.dedup import exact_duplicates
    from oracles import exact_duplicates_window

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string").repartition(4)
    norm = lambda out: sorted(  # noqa: E731
        (r["text_hash"], r["dup_count"], tuple(r["ids"])) for r in out.collect()
    )
    a = norm(exact_duplicates(df, exemplar_k=k))
    b = norm(exact_duplicates_window(df, exemplar_k=k))
    assert a == b


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=4,
        max_size=24,
    ),
    cut=st.integers(2, 22),
)
@settings(max_examples=5, deadline=None)
def test_pooled_merge_equals_recompute_property(spark, vals, cut):
    """For ANY values and ANY split point, merging the two halves'
    (n, mean, var_samp, max, min) through the pooled algebra
    (square_variance=False) reproduces the whole-batch statistics —
    the invariant that lets the incremental cache (gates/feature_loop)
    replace recomputation at 10^12 rows."""
    import statistics

    from baskerville_spark.gates.features import (
        UpdateSpec,
        update_feature_vector,
    )

    cut = min(cut, len(vals) - 2)
    a, b = vals[:cut], vals[cut:]

    def vec(v):
        return (
            1,
            float(len(v)),
            statistics.fmean(v),
            statistics.variance(v),
            max(v),
            min(v),
        )

    schema = (
        "user_id long, n double, mean_value double, var_value double, "
        "max_value double, min_value double"
    )
    cur = spark.createDataFrame([vec(a)], schema)
    past = spark.createDataFrame([vec(b)], schema)
    specs = [
        UpdateSpec("n", "total", ("n",)),
        UpdateSpec("mean_value", "mean", ("mean_value", "n")),
        UpdateSpec("var_value", "variance", ("var_value", "n", "mean_value")),
        UpdateSpec("max_value", "maximum", ("max_value",)),
        UpdateSpec("min_value", "minimum", ("min_value",)),
    ]
    row = update_feature_vector(
        cur, past, ["user_id"], specs, square_variance=False
    ).collect()[0]
    union = a + b
    scale = max(abs(statistics.variance(union)), 1.0)
    assert row["n"] == len(union)
    assert row["max_value"] == max(union) and row["min_value"] == min(union)
    assert abs(row["mean_value"] - statistics.fmean(union)) <= 1e-9 * max(
        abs(statistics.fmean(union)), 1.0
    )
    assert abs(row["var_value"] - statistics.variance(union)) <= 1e-7 * scale


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=30,
    ),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_connected_components_match_union_find(spark, edges, data):
    """Both CC algorithms vs a driver-side union-find oracle on random
    graphs (self-loops, duplicate and reversed edges, isolated vertices
    all allowed). Few examples: each is several Spark jobs."""
    from unittest import mock

    from baskerville_spark.gates import graph
    from baskerville_spark.gates.graph import (
        connected_components,
        connected_components_bigstar,
    )

    n_verts = data.draw(st.integers(25, 30))
    # union-find oracle
    parent = list(range(n_verts))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n_verts)}
    # min-label invariant: root of each component must be its min member
    mins: dict[int, int] = {}
    for i, r in expected.items():
        mins[r] = min(mins.get(r, i), i)
    expected = {i: mins[r] for i, r in expected.items()}

    verts = spark.createDataFrame([(i,) for i in range(n_verts)], ["id"])
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], ["src", "dst"]
    )
    seeds = verts.select("id", verts["id"].alias("label"))  # identity: unseeded
    # a random path can outlast the default round cap; raise it here
    with mock.patch.object(graph, "LABEL_MAX_ITERS", 40):
        got_label = {
            r["id"]: r["cluster_id"]
            for r in connected_components(verts, e, seeds).collect()
        }
    got_star = {
        r["id"]: r["cluster_id"]
        for r in connected_components_bigstar(verts, e).collect()
    }
    assert got_label == expected
    assert got_star == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 8)),
        min_size=1,
        max_size=25,
    ),
    split_mod=st.integers(2, 3),
)
@settings(max_examples=3, deadline=None)
def test_incremental_clustering_theorem(spark, rows, split_mod):
    """The incremental recipe's equivalence theorem on RANDOM membership
    tables and splits: cluster(batch1) + incremental_membership(batch2,
    prior, retained_index) == cluster(everything). Three Spark
    clusterings per example — few examples."""
    from baskerville_spark.gates.graph import (
        dedup_clusters,
        incremental_membership,
    )

    membership = spark.createDataFrame(
        [(i, f"b{b}") for i, b in set(rows)], "id int, bucket string"
    )
    b1 = membership.where(f"id % {split_mod} != 0")
    b2 = membership.where(f"id % {split_mod} = 0")
    prior = dedup_clusters(b1).select("id", "cluster_id")
    inc = dedup_clusters(
        incremental_membership(b2, prior, retained_index=membership, id_col="id")
    )
    scratch = dedup_clusters(membership)
    to_map = lambda df: {  # noqa: E731
        r["id"]: (r["cluster_id"], r["cluster_size"]) for r in df.collect()
    }
    assert to_map(inc) == to_map(scratch)


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
)
@settings(max_examples=50, deadline=None)
def test_audio_fingerprint_codec_invariance_property(samples):
    """Content identity survives the lossless container; the robust envelope
    key survives BOTH containers (flac exactly; the int16 payload is the
    same signal)."""
    import hashlib

    import numpy as np

    from baskerville_spark import audio
    from baskerville_spark.gates.audio_dedup import envelope_fingerprint

    pcm = np.asarray(samples, dtype=np.int16)
    back = audio.decode(audio.encode(pcm, "flac"), "flac")
    assert np.array_equal(back, pcm)
    assert (
        hashlib.md5(back.astype("<i2").tobytes()).hexdigest()
        == hashlib.md5(pcm.astype("<i2").tobytes()).hexdigest()
    )
    assert envelope_fingerprint(back) == envelope_fingerprint(pcm)
    # length rides in bits 48-62: any honest transcode preserves it; the
    # 15-bit mask keeps the value int64-storable for every clip length
    assert (envelope_fingerprint(pcm) >> 48) == (len(pcm) & 0x7FFF)
    assert 0 <= envelope_fingerprint(pcm) < (1 << 63)


@given(
    n=st.integers(1, 5000),
    sr=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    target=st.sampled_from([8000, 16000, 24000]),
)
@settings(max_examples=100, deadline=None)
def test_resample_length_formula_property(n, sr, target):
    """Output length is exactly n*target//sr for every (n, sr, target) —
    the closed form the q85 oracle relies on — and integer-ratio
    downsampling is pure decimation."""
    import numpy as np

    from baskerville_spark import audio as au

    rng = np.random.default_rng(n * 7 + sr)
    pcm = rng.integers(-32768, 32767, size=n).astype(np.int16)
    new_n = (n * target) // sr
    src_t = np.arange(n, dtype=np.float64)
    dst_t = np.arange(new_n, dtype=np.float64) * (sr / target)
    res = np.interp(dst_t, src_t, pcm.astype(np.float64))
    assert len(res) == new_n
    if sr % target == 0 and new_n:
        step = sr // target
        assert np.array_equal(
            np.clip(np.rint(res), -32768, 32767).astype(np.int16),
            pcm[: new_n * step : step],
        )
    _ = au  # imported for parity with the operator's helpers


def test_fixture_mod_classes_disjoint_for_gate_shapes():
    """The q21/q61/q95 closed-form oracles count RI violations as
    `ri_m AND NOT dup` and transcript violations as needing a ref row —
    valid only if no duplicate row's predecessor is itself RI-skipped (the
    dup would silently inherit the missing ref) and no dup chains occur.
    Re-assert that for every fixture shape a gate uses."""
    import baskerville_spark.generator as g

    for n_rows, n_parts in ((1000, 4), (1250, 5)):
        def part(i):
            return min(n_parts - 1, i * n_parts // n_rows)

        def dup(i):
            return (
                i > 0
                and i % g.DUP_MOD == g.DUP_OFF
                and part(i) != 0
                and part(i) == part(i - 1)
            )

        for i in range(1, n_rows):
            if not dup(i):
                continue
            j = i - 1
            assert not dup(j), f"chained dup at {i} for {n_rows}x{n_parts}"
            assert not (
                j % g.RI_MOD == g.RI_OFF and part(j) != 0 and not dup(j)
            ), f"dup {i} inherits RI-skipped ref for {n_rows}x{n_parts}"


@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 2),          # key
            st.integers(0, 12),         # slot index (x step)
            st.floats(-10, 10, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(max_examples=5, deadline=None)
def test_gap_fill_matches_pandas_reference(spark, obs):
    """Property: gap_fill == the pandas reindex+ffill textbook form, for
    any observation multiset (per-key grids, latest-in-slot collapse,
    forward-carried values capped at MAX_FILL slots per gap, is_observed
    marking)."""
    import pandas as pd

    from baskerville_spark.gates.timegrid import MAX_FILL, gap_fill

    step = 10
    rows = [
        {"k": k, "slot": s * step, "oid": i, "v": float(v)}
        for i, (k, s, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        (r["k"], r["grid_slot"]): (r["v"], r["is_observed"])
        for r in gap_fill(df, ["k"], "slot", ["v"], step, "oid").collect()
    }

    pdf = pd.DataFrame(rows)
    expect = {}
    for k, g in pdf.groupby("k"):
        # latest oid wins per slot, then reindex to the full grid + ffill;
        # slots past the fill cap stay absent
        g = g.sort_values("oid").drop_duplicates("slot", keep="last")
        g = g.set_index("slot").sort_index()
        grid = range(int(g.index.min()), int(g.index.max()) + step, step)
        filled = g["v"].reindex(grid).ffill(limit=MAX_FILL).dropna()
        for slot, v in filled.items():
            expect[(k, slot)] = (float(v), slot in g.index)
    assert got == expect


# --- schema evolution properties (gates/evolution.py) ----------------------

_TYPE_POOL = ["byte", "short", "integer", "long", "float", "double", "string"]


@given(
    st.dictionaries(
        st.sampled_from([f"c{i}" for i in range(6)]),
        st.tuples(st.sampled_from(_TYPE_POOL), st.booleans()),
        min_size=1, max_size=6,
    ),
    st.dictionaries(
        st.sampled_from([f"c{i}" for i in range(6)]),
        st.tuples(st.sampled_from(_TYPE_POOL), st.booleans()),
        min_size=1, max_size=6,
    ),
)
@settings(max_examples=60, deadline=None)
def test_schema_evolution_properties(old_spec, new_spec):
    """(1) self-diff is empty; (2) drops in A->B are adds in B->A and
    widenings/narrowings mirror; (3) every changed column is reported
    exactly once; (4) compatible widenings are exactly the _WIDENINGS
    closure (no symmetric pair is compatible both ways except none)."""
    from pyspark.sql import types as T

    from baskerville_spark.gates.evolution import (
        _WIDENINGS,
        schema_evolution_report,
    )

    def mk(spec):
        m = {
            "byte": T.ByteType(), "short": T.ShortType(),
            "integer": T.IntegerType(), "long": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "string": T.StringType(),
        }
        return T.StructType(
            [T.StructField(k, m[t], nullable) for k, (t, nullable) in sorted(spec.items())]
        )

    a, b = mk(old_spec), mk(new_spec)
    assert schema_evolution_report(a, a) == []
    fwd_rows = schema_evolution_report(a, b)
    rev_rows = schema_evolution_report(b, a)
    fwd = {r["column_name"]: r for r in fwd_rows}
    rev = {r["column_name"]: r for r in rev_rows}
    # one row per changed column (the raw list has no duplicate columns)
    assert len(fwd_rows) == len(fwd) and len(rev_rows) == len(rev)

    for name, r in fwd.items():
        if r["change"] == "dropped":
            assert rev[name]["change"] in ("added_optional", "added_required")
        if r["change"] == "widened":
            # the reverse direction must be a breaking narrow
            assert rev[name]["change"] == "retyped" and not rev[name]["compatible"]
        if r["change"] == "made_optional":
            assert rev[name]["change"] == "made_required"
    # a column in both schemas with identical field is reported by neither
    both = set(old_spec) & set(new_spec)
    for c in both:
        if old_spec[c] == new_spec[c]:
            assert c not in fwd and c not in rev
    # sanity on the widening table itself: no pair is legal both ways
    assert not any((b_, a_) in _WIDENINGS for (a_, b_) in _WIDENINGS)
