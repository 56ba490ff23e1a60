"""Training-data pipeline ops: dedup, text, similarity, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from baskerville_spark.gates import dedup
from baskerville_spark.gates.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from baskerville_spark.gates import similarity
from baskerville_spark.gates.similarity import (
    brute_force_pairs,
    cosine_topk,
    hyperplane_lsh_pairs,
)
from baskerville_spark.gates.text import fingerprint, lang_id, quality_features

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3, "completely different words about spark query engines and column pruning"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5, "der hund ist nicht zu der von und den mit"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2 and groups[0]["ids"] == [1, 4]


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_lsh_recalls_exact_and_near(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 4) in pairs  # identical docs always collide
    assert (1, 2) in pairs  # ~0.8 jaccard: expected with 8 bands of 4


def test_simhash_near_dups_close(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    ham_12 = bin((sh[1] ^ sh[2]) & (2**64 - 1)).count("1")
    ham_13 = bin((sh[1] ^ sh[3]) & (2**64 - 1)).count("1")
    assert sh[1] == sh[4]
    assert ham_12 < ham_13


def test_fingerprint_token_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha alpha"), (3, "delta")],
        "doc_id int, text string",
    )
    fps = {r["id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_lang_id(docs):
    langs = {r["id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert langs[1] == "en" and langs[5] == "de"


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "Hello world 42!")], "doc_id int, text string")
    r = quality_features(df).collect()[0]
    assert r["token_count_ws"] == 3
    assert r["n_chars"] == 15
    assert abs(r["digit_ratio"] - 2 / 15) < 1e-9


def _vec_df(spark, n=60, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    # make pairs (i, i+1) near-duplicates for even i < 20
    for i in range(0, 20, 2):
        base[i + 1] = base[i] + 0.05 * rng.standard_normal(dim)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_cosine_topk_self_first(spark, monkeypatch):
    monkeypatch.setattr(similarity, "TOP_K", 3)
    df = _vec_df(spark)
    q = [float(x) for x in df.where("vec_id = 0").first()["embedding"]]
    top = cosine_topk(df, q).collect()
    assert top[0]["id"] == 0 and abs(top[0]["cosine_sim"] - 1.0) < 1e-6
    assert top[1]["id"] == 1  # injected near-duplicate


def test_lsh_recall_vs_brute_force(spark, monkeypatch):
    monkeypatch.setattr(similarity, "LSH_DIM", 16)
    monkeypatch.setattr(similarity, "LSH_N_PLANES", 8)
    monkeypatch.setattr(similarity, "BRUTE_FORCE_MIN_COSINE", 0.95)
    monkeypatch.setattr(similarity, "LSH_MIN_COSINE", 0.95)
    df = _vec_df(spark)
    exact = {(r["id_a"], r["id_b"]) for r in brute_force_pairs(df).collect()}
    assert len(exact) >= 8  # the injected near-dup pairs
    approx = {(r["id_a"], r["id_b"]) for r in hyperplane_lsh_pairs(df).collect()}
    assert approx.issubset(exact | approx)  # verify step keeps only >= threshold
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.75, (recall, exact - approx)


def test_ivf_topk_matches_brute_force(spark, monkeypatch):
    from baskerville_spark.gates.similarity import ivf_topk, train_ivf_centroids

    df = _vec_df(spark, n=120, dim=16)
    monkeypatch.setattr(similarity, "IVF_SAMPLE_MOD", 2)
    cent = train_ivf_centroids(df)
    assert cent.shape == (8, 16)
    q = [float(x) for x in df.where("vec_id = 0").first()["embedding"]]
    monkeypatch.setattr(similarity, "TOP_K", 5)
    exact = [r["id"] for r in cosine_topk(df, q).collect()]
    # probing every cluster is exhaustive → must equal exact
    monkeypatch.setattr(similarity, "IVF_NPROBE", 8)
    approx = [r["id"] for r in ivf_topk(df, q, cent).collect()]
    assert approx == exact
    # probing fewer clusters still finds the query vector itself + its twin
    monkeypatch.setattr(similarity, "TOP_K", 2)
    monkeypatch.setattr(similarity, "IVF_NPROBE", 2)
    few = [r["id"] for r in ivf_topk(df, q, cent).collect()]
    assert few[0] == 0 and few[1] == 1


def test_exact_duplicates_bounded_exemplars(spark):
    """A 10^5-copy duplicate must not materialize a 10^5-element id array."""
    n = 100_000
    df = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"), F.lit("same text always").alias("text")
    )
    rows = exact_duplicates(df, exemplar_k=8).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == n
    assert rows[0]["ids"] == list(range(8))

    # the salted two-phase form must equal the window form exactly —
    # including on a mixed corpus with unique + duplicated texts
    from oracles import exact_duplicates_window

    mixed = spark.range(500).select(
        F.col("id").cast("int").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "hot text")
        .otherwise(F.concat(F.lit("uniq"), F.col("id").cast("string")))
        .alias("text"),
    )
    salted = {
        (r["text_hash"], r["dup_count"], tuple(r["ids"]))
        for r in exact_duplicates(mixed, exemplar_k=4).collect()
    }
    window = {
        (r["text_hash"], r["dup_count"], tuple(r["ids"]))
        for r in exact_duplicates_window(mixed, exemplar_k=4).collect()
    }
    assert salted == window and len(salted) == 1


def test_ngram_guard_bounds_ubiquitous_shingle(spark, monkeypatch):
    """One shingle shared by every doc must not join the corpus to itself."""
    n = 200
    docs = [(i, f"common shingle here unique{i} tail{i} words{i}") for i in range(n)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    # every doc contains the 3-gram 'common shingle here' (df = 200)
    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.0)
    monkeypatch.setattr(dedup, "JACCARD_MAX_DF", 1 << 30)
    unguarded = ngram_jaccard_pairs(df).count()
    monkeypatch.setattr(dedup, "JACCARD_MAX_DF", 50)
    guarded = ngram_jaccard_pairs(df).count()
    assert unguarded == n * (n - 1) // 2  # quadratic without the guard
    assert guarded == 0  # stop-shingle filter removes the only shared shingle


def test_minhash_verify_is_candidates_only(docs):
    """The exact-Jaccard verify must key on LSH candidates (left-semi join),
    not recompute the full-corpus pair join."""
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().toString()
    assert "LeftSemi" in plan


def test_simhash_near_dups_planted(spark):
    from baskerville_spark.gates.dedup import simhash_near_dups

    base = " ".join(f"tok{i}" for i in range(400))
    docs = [
        (1, base),
        (2, base + " lambda"),          # one extra token among 400: Hamming 2
        (3, base),                       # exact dup of 1: Hamming 0
        (4, "totally different content about query engines and shuffles"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(df).collect()}
    assert pairs[(1, 3)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert not any(4 in p for p in pairs)
    # md5 is the only token hasher: its fingerprints are 60-bit, always
    # non-negative (BIGINT-safe in both Spark and DuckDB — the property the
    # q20/q35 oracles' value hash relies on)
    for r in simhash(df).collect():
        assert 0 <= r["simhash"] < 2**60


def test_geo_localize_lookup(spark):
    from baskerville_spark.gates.geo import localize_events

    rows = [
        (1, 0, "2024-01-01 12:00:00"),     # UTC offset 0 → hour 12, not night
        (2, -180, "2024-01-01 12:00:00"),  # offset -12 → hour 0, night
        (3, 52, "2024-01-01 01:00:00"),    # offset 3 → hour 4, night
        (3, 52, "2024-01-01 10:00:00"),    # offset 3 → hour 13
    ]
    df = spark.createDataFrame(rows, "user_id int, lon int, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["user_id"]: r for r in localize_events(df).collect()}
    assert out[1]["tz_offset"] == 0 and out[1]["n_night_events"] == 0
    assert out[2]["tz_offset"] == -12 and out[2]["n_night_events"] == 1
    assert out[3]["tz_offset"] == 3 and out[3]["n_night_events"] == 1


def test_multimodal_image_plumbing(spark):
    from baskerville_spark.gates.multimodal import image_features, make_bmp

    w, h = 4, 3
    payload = (
        w.to_bytes(4, "little") + h.to_bytes(4, "little") + bytes(range(w * h))
    )
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    df = spark.createDataFrame(
        [
            ("a", bytearray(payload), "rawgray"),
            ("b", bytearray(b"xx"), "jpeg"),
            ("c", bytearray(make_bmp(6, 5, (30, 60, 90))), "bmp"),
            ("d", bytearray(ppm), "ppm"),
        ],
        "item_id string, payload binary, fmt string",
    )
    out = {r["item_id"]: r for r in image_features(df).collect()}
    assert out["a"]["decode_ok"] and out["a"]["width"] == 4 and out["a"]["height"] == 3
    assert abs(out["a"]["mean_luma"] - np.mean(range(12))) < 1e-9
    assert not out["b"]["decode_ok"]  # jpeg decode is stubbed NotImplemented
    assert out["c"]["decode_ok"] and (out["c"]["width"], out["c"]["height"]) == (6, 5)
    assert abs(out["c"]["mean_luma"] - 60.0) < 1e-9  # mean of (30,60,90)
    assert out["c"]["ahash"] == 0  # solid color: no cell exceeds the mean
    assert out["d"]["decode_ok"] and (out["d"]["width"], out["d"]["height"]) == (2, 2)
    assert abs(out["d"]["mean_luma"] - 65.0) < 1e-9


def test_video_frame_sampling(spark):
    from baskerville_spark.gates.multimodal import sample_frames

    w, h, n = 4, 2, 25
    frames = b"".join(bytes([min(i * 10, 255)]) * (w * h) for i in range(n))
    payload = (
        w.to_bytes(4, "little") + h.to_bytes(4, "little") + n.to_bytes(4, "little") + frames
    )
    df = spark.createDataFrame(
        [
            ("v1", bytearray(payload), "rawgray_video"),
            ("v2", bytearray(b"\x00\x00mp4garbage"), "mp4"),
        ],
        "item_id string, payload binary, fmt string",
    )
    rows = sample_frames(df).collect()
    v1 = sorted(
        (r["frame_idx"], r["mean_luma"]) for r in rows if r["item_id"] == "v1"
    )
    assert v1 == [(0, 0.0), (5, 50.0), (10, 100.0), (15, 150.0), (20, 200.0)]  # every 5th
    v2 = [r for r in rows if r["item_id"] == "v2"]
    assert len(v2) == 1 and not v2[0]["decode_ok"]  # mp4 honestly stubbed


def test_bmp_decode_and_ahash_pattern():
    import numpy as np

    from baskerville_spark.gates.multimodal import _ahash64, _decode_bmp, make_bmp

    img = _decode_bmp(make_bmp(16, 16, (255, 0, 0)))
    assert img.shape == (16, 16, 3)
    assert (img[:, :, 0] == 255).all() and (img[:, :, 1] == 0).all()

    # left half dark, right half bright → ahash bits set exactly where
    # the 8x8 thumbnail column index >= 4
    grad = np.zeros((16, 16, 3), dtype=np.uint8)
    grad[:, 8:, :] = 255
    expected = sum(1 << i for i in range(64) if (i % 8) >= 4)
    if expected >= 1 << 63:  # same signed-int64 wrap as the implementation
        expected -= 1 << 64
    assert _ahash64(grad) == expected


def test_geo_tz_offset_edge_inputs(spark):
    """Library-robustness guards: lon=180 and NULL must not fail the task;
    fractional negative lon follows the floor-based nautical formula."""
    from baskerville_spark.gates.geo import tz_offset_udf

    udf = tz_offset_udf(spark)
    rows = [(1, 180.0), (2, None), (3, -7.9), (4, 7.4), (5, -180.0)]
    df = spark.createDataFrame(rows, "id int, lon double")
    out = {r["id"]: r["off"] for r in df.select("id", udf("lon").alias("off")).collect()}
    assert out[1] == 12          # clipped onto the table's last zone (+12)
    assert out[2] is None        # NULL propagates, task survives
    assert out[3] == -1          # floor(-7.9) = -8 → zone -1 (not 0)
    assert out[4] == 0
    assert out[5] == -12


def test_similarity_null_and_ragged_guards(spark, monkeypatch):
    """NULL embeddings null-propagate through SRP/IVF-assign instead of
    crashing the Python worker; ragged dims raise a descriptive error."""
    from baskerville_spark.gates.similarity import (
        hyperplane_lsh_pairs, ivf_assign, train_ivf_centroids,
    )

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.01, 0.0, 0.0]), (2, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    monkeypatch.setattr(similarity, "LSH_DIM", 4)
    monkeypatch.setattr(similarity, "LSH_N_PLANES", 4)
    pairs = hyperplane_lsh_pairs(df)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}  # null row contributed no buckets, no crash

    cent = np.asarray([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])
    assigned = ivf_assign(df, cent)
    by_id = {r["id"]: r["cluster"] for r in assigned.collect()}
    assert by_id[0] == 0 and by_id[2] is None

    with pytest.raises(Exception, match="mixed dimensions"):
        ragged = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "vec_id int, embedding array<float>"
        )
        ivf_assign(ragged, cent).collect()

    with pytest.raises(ValueError, match="IVF_N_CENTROIDS"):
        train_ivf_centroids(df)


def test_ivf_probe_prunes_clusters(spark):
    """The IVF probe filter must genuinely prune: on a planted-cluster
    corpus, nprobe=2 of 8 centroids scans <= 30% of the rows while still
    matching exact top-k (recall 1.0) - the property that makes IVF the
    scale path (cluster IN (...) prunes the scan at 10^12 rows)."""
    from baskerville_spark.gates.similarity import (
        ivf_assign, ivf_topk, train_ivf_centroids,
    )

    n, dim, k_clusters = 400, 32, 8
    rng = np.random.default_rng(3)
    noise = rng.standard_normal((n, dim)) * 0.05
    rows = []
    for i in range(n):
        v = noise[i].copy()
        v[i % k_clusters :: k_clusters] += 1.0  # one-hot comb center
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    # IVF_SAMPLE_MOD = 3 is coprime with k_clusters: an even mod would
    # sample only the even combs and leave half the clusters unseeded
    cent = train_ivf_centroids(df)
    q = [float(x) for x in rows[0][1]]
    exact = [r["id"] for r in cosine_topk(df, q).collect()]
    appr = [r["id"] for r in ivf_topk(df, q, cent).collect()]
    assert appr == exact  # recall 1.0 at low nprobe

    # selectivity: the probed clusters hold <= 30% of the corpus
    probe = np.argsort(((cent - np.asarray(q)) ** 2).sum(1))[:2].tolist()
    assigned = ivf_assign(df, cent)
    probed_rows = assigned.where(F.col("cluster").isin(probe)).count()
    assert probed_rows / n <= 0.30, probed_rows


def test_ivf_training_sample_hard_cap(spark, monkeypatch):
    """The quantizer's driver-side sample is HARD-bounded by max_train_rows
    no matter how large the corpus or how loose sample_mod is — the uncapped
    id%mod filter this replaces collected a fixed corpus fraction."""
    from baskerville_spark.gates.similarity import (
        ivf_training_sample,
        train_ivf_centroids,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5).cast("double"), (F.col("id") % 3).cast("double")
        ).alias("embedding"),
    )
    # sample_mod=2 would keep ~10k rows uncapped; the cap must win
    sample = ivf_training_sample(df, sample_mod=2, max_train_rows=64)
    assert sample.count() <= 64
    # threshold path (cap not binding) is deterministic for a fixed corpus
    a = ivf_training_sample(df, sample_mod=50, max_train_rows=4096)
    b = ivf_training_sample(df, sample_mod=50, max_train_rows=4096)
    assert sorted(map(tuple, (r[0] for r in a.collect()))) == sorted(
        map(tuple, (r[0] for r in b.collect()))
    )
    # end-to-end: training under the cap still yields the requested shape
    monkeypatch.setattr(similarity, "IVF_N_CENTROIDS", 4)
    monkeypatch.setattr(similarity, "IVF_SAMPLE_MOD", 2)
    cent = train_ivf_centroids(df)
    assert cent.shape == (4, 2)


def test_image_codec_seam_contract(monkeypatch):
    """The documented Pillow seam: with a (fake) PIL injected, the SAME
    batch function that runs inside mapInPandas decodes 'jpeg' for real
    (decode_ok flips true, features flow); without it, the codec is an
    honest decode_ok=false. Contract-tests the 'libs upgrade the codecs on
    real clusters' claim instead of just asserting it."""
    import pandas as pd

    from baskerville_spark.gates import multimodal

    class _FakeImg:
        def convert(self, mode):
            assert mode == "RGB"
            return np.full((4, 6, 3), 128, dtype=np.uint8)

    class _FakePIL:
        @staticmethod
        def open(fp):
            assert fp.read(4) == b"\xff\xd8jj"  # payload reaches the codec
            return _FakeImg()

    batch = pd.DataFrame(
        {"item_id": ["a"], "payload": [b"\xff\xd8jj-rest"], "fmt": ["jpeg"]}
    )
    # without the lib: honest failure row through the same path
    monkeypatch.setattr(multimodal, "_PILImage", None)
    out = multimodal._image_meta_batch(batch)
    assert out["decode_ok"].tolist() == [False]
    # with the lib: same call site, real features
    monkeypatch.setattr(multimodal, "_PILImage", _FakePIL)
    out = multimodal._image_meta_batch(batch)
    row = out.iloc[0]
    assert bool(row["decode_ok"]) and (row["width"], row["height"]) == (6, 4)
    assert row["n_channels"] == 3 and abs(row["mean_luma"] - 128.0) < 1e-9
    assert row["ahash"] == 0  # solid image → no bit above the mean


def test_audio_codec_seam_contract(monkeypatch):
    """The soundfile seam in audio.decode: a payload that is not a stand-in
    container routes through libsndfile when importable (fake injected
    here) and stays a structural violation (None) when absent."""
    import io as _io

    from baskerville_spark import audio

    pcm = np.arange(-5, 5, dtype=np.int16)

    class _FakeSF:
        @staticmethod
        def read(fp, dtype):
            assert dtype == "int16" and isinstance(fp, _io.BytesIO)
            return pcm.copy(), 16_000

    payload = b"ID3\x04real-mp3-bytes"
    monkeypatch.setattr(audio, "_soundfile", None)
    assert audio.decode(payload, "mp3") is None
    monkeypatch.setattr(audio, "_soundfile", _FakeSF)
    out = audio.decode(payload, "mp3")
    assert out is not None and np.array_equal(out, pcm)


def test_tfidf_cosine_pairs(spark, monkeypatch):
    from baskerville_spark.gates.dedup import tfidf_cosine_pairs
    import math

    # 1&2 share {apple, banana}; doc 3 disjoint; "the" in every doc is
    # dropped by max_df=2 (stop-term guard) so it must contribute nothing
    docs = spark.createDataFrame(
        [
            (1, "the apple banana cherry"),
            (2, "the apple banana dates"),
            (3, "the walnut pecan almond"),
        ],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(dedup, "TFIDF_MAX_DF", 2)
    rows = tfidf_cosine_pairs(docs).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}
    assert set(got) == {(1, 2)}  # doc 3 shares only the filtered stop word
    # hand computation over the filtered space: shared terms df=2 weight
    # w2=ln(3/2), uniques df=1 weight w1=ln(3); cos = 2*w2^2/(2*w2^2+w1^2)
    w2, w1 = math.log(3 / 2), math.log(3.0)
    expected = (2 * w2 * w2) / (2 * w2 * w2 + w1 * w1)
    assert abs(got[(1, 2)] - expected) < 1e-9
    # threshold filters
    monkeypatch.setattr(dedup, "TFIDF_MIN_COSINE", 0.99)
    assert tfidf_cosine_pairs(docs).count() == 0


def test_containment_catches_excerpts_jaccard_misses(spark):
    from baskerville_spark.gates.dedup import (
        ngram_jaccard_pairs,
        shingle_containment_pairs,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " \
           "kilo lima mike november oscar papa quebec romeo sierra tango"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, " ".join(base.split()[:6])),  # 30% excerpt of doc 1
            (3, "whiskey xray yankee zulu uniform victor"),
        ],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in shingle_containment_pairs(docs).collect()
    }
    # excerpt fully contained: 4 of doc 2's 4 shingles appear in doc 1
    assert set(cont) == {(1, 2)}
    assert cont[(1, 2)][1] == 1.0  # containment of the excerpt (b) in a
    assert cont[(1, 2)][0] < 0.8   # the big doc is NOT contained in the excerpt
    # the same pair sails under a Jaccard gate — the class this metric exists for
    assert ngram_jaccard_pairs(docs).count() == 0


def test_repetition_metrics(spark):
    from baskerville_spark.gates.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 3x "a b": heavy 2-gram repetition
            (2, "w x y z"),           # all distinct
            (3, "solo"),              # single token: 2-gram metrics 0.0
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in repetition_metrics(docs).collect()}
    # doc 1: 6 tokens 2 distinct; 5 grams ["a b","b a","a b","b a","a b"]
    assert abs(rows[1]["dup_token_frac"] - (1 - 2 / 6)) < 1e-9
    assert abs(rows[1]["dup_2gram_frac"] - (1 - 2 / 5)) < 1e-9
    assert abs(rows[1]["top_2gram_frac"] - 3 / 5) < 1e-9
    assert rows[2]["dup_token_frac"] == 0.0
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert abs(rows[2]["top_2gram_frac"] - 1 / 3) < 1e-9
    assert rows[3]["dup_2gram_frac"] == 0.0 and rows[3]["top_2gram_frac"] == 0.0


def test_char_entropy(spark):
    import math

    from baskerville_spark.gates.text import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),        # degenerate: exactly 0
            (2, "abab"),        # two equiprobable chars: ln 2
            (3, ""),            # empty: 0 via the left-join coalesce
            (4, None),          # NULL text: 0
        ],
        "doc_id int, text string",
    )
    rows = {r["id"]: r["entropy"] for r in char_entropy(docs).collect()}
    assert rows[1] == 0.0
    assert abs(rows[2] - math.log(2)) < 1e-9
    assert rows[3] == 0.0 and rows[4] == 0.0


def test_pii_scrub(spark):
    from baskerville_spark.gates.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org ip 10.0.0.1 ssn 123-45-6789 "
                "tel (555) 123-4567"),
            (2, "clean text with plain numbers 12345 and version 1.2"),
            (3, None),
        ],
        "doc_id int, text string",
    )
    rows = {r["id"]: r for r in pii_scrub(docs).collect()}
    r1 = rows[1]
    assert (r1["email_count"], r1["ipv4_count"], r1["ssn_count"], r1["phone_count"]) == (2, 1, 1, 1)
    assert r1["pii_total"] == 5
    s = r1["scrubbed"]
    assert "<EMAIL>" in s and "<IP>" in s and "<SSN>" in s and "<PHONE>" in s
    assert "a@b.co" not in s and "123-45-6789" not in s
    # version strings and plain ints must NOT be flagged
    assert rows[2]["pii_total"] == 0 and rows[2]["scrubbed"].endswith("1.2")
    assert rows[3]["pii_total"] == 0 and rows[3]["scrubbed"] == ""


def test_bloom_semi_join_equals_exact(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.gates.bloom import bloom_semi_join

    fact = spark.range(5000).select(
        F.col("id").alias("rowid"), (F.col("id") % 700).alias("k")
    )
    dim = spark.range(120).select((F.col("id") * 3).alias("dk"))  # 0,3,..357
    got = bloom_semi_join(fact, dim, fact_key="k", dim_key="dk")
    expect = fact.join(
        dim.select(F.col("dk").alias("k")), "k", "left_semi"
    )
    assert sorted(r.rowid for r in got.collect()) == sorted(
        r.rowid for r in expect.collect()
    )


def test_bloom_bitmap_bounds_and_pruning(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from baskerville_spark.gates.bloom import (
        _positions,
        build_bloom_bitmap,
    )

    m_bits, k = 1 << 14, 5
    dim = spark.range(200).select((F.col("id") * 7).alias("dk"))
    bm = build_bloom_bitmap(dim, "dk", m_bits=m_bits, n_hashes=k)
    # the bitmap is bounded by construction and sparse at this fill factor
    assert bm.shape == (m_bits,)
    assert 0 < bm.sum() <= k * 200

    # probing disjoint keys through the SAME JVM position pipeline must
    # miss almost always (false positives exist but are rare at this fill)
    probe = spark.range(2000).select((F.lit(10_000_000) + F.col("id")).alias("dk"))
    pos = probe.select(
        *[p.alias(f"p{j}") for j, p in enumerate(_positions(F.col("dk"), k, m_bits))]
    ).toPandas()
    hits = np.ones(len(pos), dtype=bool)
    for j in range(k):
        hits &= bm[pos[f"p{j}"].to_numpy(dtype=np.int64)]
    fp_rate = hits.mean()
    assert fp_rate < 0.05  # expected ~(1-e^{-kn/m})^k ~ 2e-4 here

    # member keys must always hit (no false negatives, ever)
    mpos = dim.select(
        *[p.alias(f"p{j}") for j, p in enumerate(_positions(F.col("dk"), k, m_bits))]
    ).toPandas()
    member_hits = np.ones(len(mpos), dtype=bool)
    for j in range(k):
        member_hits &= bm[mpos[f"p{j}"].to_numpy(dtype=np.int64)]
    assert member_hits.all()


def test_keep_canonical_quality_and_tiebreak(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from baskerville_spark.gates.dedup import keep_canonical

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="short"),
            Row(doc_id=2, text="the longest text wins"),   # quality winner
            Row(doc_id=7, text="equal"),
            Row(doc_id=3, text="equal"),                   # tie -> min id (3)
            Row(doc_id=9, text="singleton"),
        ]
    )
    clusters = spark.createDataFrame(
        [
            Row(id=1, cluster_id=1), Row(id=2, cluster_id=1),
            Row(id=7, cluster_id=3), Row(id=3, cluster_id=3),
            Row(id=9, cluster_id=9),
        ]
    )
    survivors, winners = keep_canonical(docs, clusters, F.length("text"))
    assert sorted(r.doc_id for r in survivors.collect()) == [2, 3, 9]
    w = {r.cluster_id: r for r in winners.collect()}
    assert w[1].keep_id == 2 and w[1].cluster_size == 2
    assert w[3].keep_id == 3 and w[3].cluster_size == 2
    assert w[9].cluster_size == 1


def test_train_val_test_split_disjoint_exhaustive(spark):
    import pytest
    from pyspark.sql import functions as F

    from baskerville_spark.gates.sampling import train_val_test_split

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = df.select("doc_id", train_val_test_split())
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}      # exhaustive
    assert sum(counts.values()) == 5000                  # disjoint (no dup rows)
    assert 0.75 < counts["train"] / 5000 < 0.85          # ~80/10/10
    assert 0.07 < counts["val"] / 5000 < 0.13
    # stability: same assignment regardless of partitioning
    re = df.repartition(7).select("doc_id", train_val_test_split())
    assert out.exceptAll(re).count() == 0 and re.exceptAll(out).count() == 0


def test_split_edge_contracts(spark):
    """The split intervals are [0, 800), [800, 900) and [900, 1000) of the
    md5 hash bucket: each edge bucket lands on the documented side."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.sampling import hash_bucket, train_val_test_split

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    rows = df.select(
        hash_bucket(F.col("doc_id"), 1000).alias("b"), train_val_test_split()
    ).collect()
    for r in rows:
        want = "train" if r["b"] < 800 else "val" if r["b"] < 900 else "test"
        assert r["split"] == want, (r["b"], r["split"])
    # 5000 ids reach the buckets on both sides of each edge
    assert {799, 800, 899, 900} <= {r["b"] for r in rows}


def test_keep_canonical_passes_through_unmapped_docs(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from baskerville_spark.gates.dedup import keep_canonical

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaa"),
            Row(doc_id=2, text="aaaa longer"),
            Row(doc_id=5, text=None),        # dropped by the fingerprint relation
        ]
    )
    clusters = spark.createDataFrame(
        [Row(id=1, cluster_id=1), Row(id=2, cluster_id=1)]
    )
    survivors, winners = keep_canonical(
        docs, clusters, F.coalesce(F.length("text"), F.lit(0))
    )
    # the unmapped doc survives as its own singleton — never silently deleted
    assert sorted(r.doc_id for r in survivors.collect()) == [2, 5]
    w = {r.cluster_id: r for r in winners.collect()}
    assert w[5].keep_id == 5 and w[5].cluster_size == 1


def test_file_skip_plan_soundness_and_null_stats(spark):
    from pyspark.sql import Row

    from baskerville_spark.gates.layout import file_skip_plan

    stats = spark.createDataFrame(
        [
            Row(file_id=0, min_v=1.0, max_v=9.0),      # entirely below [10,20]
            Row(file_id=1, min_v=25.0, max_v=40.0),    # entirely above
            Row(file_id=2, min_v=5.0, max_v=15.0),     # overlaps -> scan
            Row(file_id=3, min_v=None, max_v=None),    # no stats -> must scan
            Row(file_id=4, min_v=10.0, max_v=20.0),    # boundary-inclusive scan
        ]
    )
    out = {r.file_id: r for r in file_skip_plan(stats, 10.0, 20.0).collect()}
    assert (out[0].action, out[0].reason) == ("skip", "entirely_below")
    assert (out[1].action, out[1].reason) == ("skip", "entirely_above")
    assert (out[2].action, out[2].reason) == ("scan", "overlaps")
    assert (out[3].action, out[3].reason) == ("scan", "no_stats")
    assert out[4].action == "scan"


def test_z_value_bit_interleave(spark):
    from pyspark.sql import functions as F

    from baskerville_spark.gates.layout import z_value

    df = spark.createDataFrame(
        [(0, 0), (3, 5), (255, 255), (1, 0), (0, 1)], "x int, y int"
    )
    out = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    def interleave(x, y):
        return sum(((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
                   for i in range(8))
    for (x, y), z in out.items():
        assert z == interleave(x, y), (x, y, z)
    assert out[(0, 0)] == 0 and out[(255, 255)] == 65535
    assert out[(1, 0)] == 1 and out[(0, 1)] == 2


def test_plan_compaction_groups_and_large_passthrough(spark):
    from pyspark.sql import Row

    from baskerville_spark.gates.layout import plan_compaction

    files = spark.createDataFrame(
        [
            # partition 0: smalls 30+30 fill group 0 (>=40 at file 3's start),
            # then 30+30 fill group 1; the 50000 file is large -> NULL group
            Row(partition=0, file_id=1, bytes=30),
            Row(partition=0, file_id=2, bytes=30),
            Row(partition=0, file_id=3, bytes=30),
            Row(partition=0, file_id=4, bytes=50000),
            Row(partition=0, file_id=5, bytes=30),
            # partition 1 plans independently
            Row(partition=1, file_id=1, bytes=10),
        ]
    )
    out = {
        (r.partition, r.file_id): r
        for r in plan_compaction(files, target_bytes=40).collect()
    }
    assert out[(0, 1)].compaction_group == 0
    assert out[(0, 2)].compaction_group == 0   # 30 preceding < 40
    assert out[(0, 3)].compaction_group == 1   # 60 preceding -> group 1
    assert out[(0, 4)].is_small is False and out[(0, 4)].compaction_group is None
    assert out[(0, 5)].compaction_group == 2   # 90 small-bytes preceding (large excluded)
    assert out[(1, 1)].compaction_group == 0   # fresh prefix sum per partition


def test_keep_canonical_string_ids(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from baskerville_spark.gates.dedup import keep_canonical

    docs = spark.createDataFrame(
        [
            Row(doc_id="clip_b", text="xx"),
            Row(doc_id="clip_a", text="xx"),   # tie -> lexicographic min id
            Row(doc_id="clip_c", text="xxxx"), # quality winner of its cluster
            Row(doc_id="clip_d", text="x"),
        ]
    )
    clusters = spark.createDataFrame(
        [Row(id="clip_b", cluster_id="clip_a"), Row(id="clip_a", cluster_id="clip_a"),
         Row(id="clip_c", cluster_id="clip_c"), Row(id="clip_d", cluster_id="clip_c")]
    )
    survivors, _ = keep_canonical(docs, clusters, F.length("text"))
    assert sorted(r.doc_id for r in survivors.collect()) == ["clip_a", "clip_c"]


def test_gap_fill(spark, monkeypatch):
    """Forward fill without a calendar join: span emission, max_fill cap,
    latest-in-slot collapse, and the single-exchange plan."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from baskerville_spark.gates import timegrid
    from baskerville_spark.gates.timegrid import gap_fill

    rows = [
        # key a: obs at 0 and 40 (gap of 3 slots), last obs 40
        Row(k="a", slot=0, oid=1, v=1.0),
        Row(k="a", slot=40, oid=2, v=2.0),
        # duplicate in one slot: greatest oid wins
        Row(k="a", slot=40, oid=3, v=3.0),
        # key b: single observation → exactly one row out
        Row(k="b", slot=100, oid=4, v=9.0),
    ]
    df = spark.createDataFrame(rows)
    out = gap_fill(df, ["k"], "slot", ["v"], step=10, order_col="oid")
    # one hash exchange serves the slot-collapse aggregate AND the window
    # (asserted pre-action: an executed AQE plan string also embeds the
    # initial plan, double-counting its exchange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    got = {(r["k"], r["grid_slot"]): r for r in out.collect()}
    assert len(got) == 6  # a: 0,10,20,30,40  b: 100
    assert [got[("a", s)]["v"] for s in (0, 10, 20, 30)] == [1.0] * 4
    assert got[("a", 40)]["v"] == 3.0            # max_by(oid) collapse
    assert got[("a", 0)]["is_observed"] and not got[("a", 10)]["is_observed"]
    assert got[("b", 100)]["is_observed"]

    # max_fill bounds amplification: gap of 3 missing slots, cap at 1 —
    # slots 20,30 stay ABSENT (downstream reads "no data", never a join)
    monkeypatch.setattr(timegrid, "MAX_FILL", 1)
    capped = gap_fill(df, ["k"], "slot", ["v"], step=10, order_col="oid")
    slots_a = sorted(
        r["grid_slot"] for r in capped.where(F.col("k") == "a").collect()
    )
    assert slots_a == [0, 10, 40]


def test_gap_fill_rejects_reserved_names(spark):
    import pytest
    from pyspark.sql import Row

    from baskerville_spark.gates.timegrid import gap_fill

    df = spark.createDataFrame([Row(k="a", slot=0, oid=1, grid_slot=1.0)])
    with pytest.raises(ValueError, match="reserved by gap_fill"):
        gap_fill(df, ["k"], "slot", ["grid_slot"], 10, "oid")


def test_bpe_merges(spark):
    """BPE trainer: leftmost-non-overlapping fold (the 'aaa' classic),
    count-2 floor stop, lexicographic tie-break, unicode symbols."""
    from baskerville_spark.gates.bpe import train_bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa aaa aaa"), (2, "xy xy xy"), (3, "zz")],
        "id int, text string",
    )
    got = [
        (r["merge_rank"], r["lsym"], r["rsym"], r["pair_count"])
        for r in train_bpe_merges(docs, n_merges=8).collect()
    ]
    # 'aaa'×5: (a,a) appears twice per word → 10; after merging, [aa, a]
    # yields (aa, a) at 5; (x,y) at 3; (z,z) at 1 is under the count-2 floor → stop
    assert got == [(1, "a", "a", 10), (2, "aa", "a", 5), (3, "x", "y", 3)]

    # ties break lexicographically: (p,q) and (r,s) both at 2 → (p,q) first
    tied = spark.createDataFrame(
        [(1, "pq pq rs rs")], "id int, text string"
    )
    got2 = [
        (r["lsym"], r["rsym"])
        for r in train_bpe_merges(tied, n_merges=2).collect()
    ]
    assert got2 == [("p", "q"), ("r", "s")]

    # unicode: multibyte symbols merge like any other
    uni = spark.createDataFrame([(1, "héé héé héé")], "id int, text string")
    got3 = [
        (r["lsym"], r["rsym"])
        for r in train_bpe_merges(uni, n_merges=2).collect()
    ]
    assert got3 == [("h", "é"), ("hé", "é")]


def test_apply_bpe(spark):
    """Inference: rank-priority merging, unseen-word char fallback, null
    text, memoized word reuse (same word twice → same tokens)."""
    from pyspark.sql import Row

    from baskerville_spark.gates.bpe import apply_bpe, train_bpe_merges

    corpus = spark.createDataFrame(
        [(1, "aaa aaa aaa aaa aaa"), (2, "xy xy xy")], "id int, text string"
    )
    merges = train_bpe_merges(corpus, n_merges=4)
    docs = spark.createDataFrame(
        [
            Row(id=1, text="aaa xy aaa"),
            Row(id=2, text="qq"),       # untrained: stays characters
            Row(id=3, text=None),       # null text → null tokens
            Row(id=4, text="aaaa"),
        ]
    )
    got = {r["id"]: r["bpe_tokens"] for r in apply_bpe(docs, merges).collect()}
    assert got[1] == ["aaa", "xy", "aaa"]
    assert got[2] == ["q", "q"]
    assert got[3] is None
    # rank priority, GPT-2 semantics: ALL occurrences of the min-rank pair
    # (a,a) merge before the higher-rank (aa,a) is considered — so "aaaa"
    # is [aa, aa], NOT [aaa, a]
    assert got[4] == ["aa", "aa"]


def test_dedup_lines(spark):
    """C4-style boilerplate removal: min-(doc,line) ownership, within-doc
    dup collapse, short-line exemption, empty-doc drop, order preserved."""
    from pyspark.sql import Row

    from baskerville_spark.gates.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="boiler\nkeep one\n\nboiler"),  # within-doc dup
            Row(doc_id=2, text="boiler\nkeep two\n"),
            Row(doc_id=3, text="boiler"),                      # fully owned away
        ]
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    # doc 1 owns 'boiler' (first occurrence) and the empty line is exempt
    # (empty); its second 'boiler' occurrence is removed
    assert got[1]["text_out"] == "boiler\nkeep one\n"
    assert got[1]["n_lines_removed"] == 1
    assert got[2]["text_out"] == "keep two\n"
    assert got[2]["n_lines_removed"] == 1
    assert 3 not in got  # every line owned elsewhere → dropped like C4


def test_zipf_fit(spark, monkeypatch):
    from baskerville_spark.checks import stats
    from baskerville_spark.checks.stats import zipf_fit

    # two-point OLS is an exact fit: counts (4, 2) at ranks (1, 2) give
    # slope = (ln2 - ln4)/(ln2 - ln1) = -1 and r2 = 1
    two = spark.createDataFrame(
        [("a a a a b b",)], "text string"
    )
    r = zipf_fit(two, "text").collect()[0]
    assert r["n_ranked"] == 2
    assert abs(r["slope"] + 1.0) < 1e-12
    assert abs(r["r2"] - 1.0) < 1e-12

    # numpy cross-check on a non-trivial curve + deterministic tie-break
    docs = spark.createDataFrame(
        [("x x x x x y y y z z w",)], "text string"
    )
    out = zipf_fit(docs, "text").collect()[0]
    cnt = np.array([5.0, 3.0, 2.0, 1.0])  # x, y, z, w (ties: none)
    lx, ly = np.log(np.arange(1, 5, dtype=float)), np.log(cnt)
    slope, intercept = np.polyfit(lx, ly, 1)
    assert abs(out["slope"] - slope) < 1e-9
    assert abs(out["intercept"] - intercept) < 1e-9

    # ZIPF_TOP_K truncates the fit frame; single-point fit is undefined -> NULL
    monkeypatch.setattr(stats, "ZIPF_TOP_K", 2)
    top2 = zipf_fit(docs, "text").collect()[0]
    assert top2["n_ranked"] == 2
    one = spark.createDataFrame([("solo solo",)], "text string")
    r1 = zipf_fit(one, "text").collect()[0]
    assert r1["n_ranked"] == 1 and r1["slope"] is None and r1["r2"] is None


def test_select_within_token_budget(spark):
    from baskerville_spark.gates.sampling import select_within_token_budget

    # priority order: p1(10) p2(20) p3(15) p4(5) -> cum 10,30,45,50.
    # budget 45: p1,p2,p3 selected; p4 NOT (greedy prefix — even though
    # its 5 tokens would fit if p3 were skipped, prefix semantics hold)
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 15, "c"), (4, 5, "d")],
        "doc_id int, n_tokens int, pri string",
    )
    out = {r["doc_id"]: r for r in select_within_token_budget(
        df, "doc_id", "n_tokens", budget=45, priority_col="pri"
    ).collect()}
    assert [out[i]["cum_tokens"] for i in (1, 2, 3, 4)] == [10, 30, 45, 50]
    assert out[3]["selected"] and not out[4]["selected"]

    # ties on priority break by id (deterministic): same pri, ids 1..3
    ties = spark.createDataFrame(
        [(3, 10, "x"), (1, 10, "x"), (2, 10, "x")],
        "doc_id int, n_tokens int, pri string",
    )
    out = {r["doc_id"]: r["cum_tokens"] for r in select_within_token_budget(
        ties, "doc_id", "n_tokens", budget=15, priority_col="pri"
    ).collect()}
    assert out == {1: 10, 2: 20, 3: 30}

    # exact-boundary doc IS selected (<=, not <)
    edge = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "doc_id int, n_tokens int, pri string"
    )
    sel = {r["doc_id"]: r["selected"] for r in select_within_token_budget(
        edge, "doc_id", "n_tokens", budget=20, priority_col="pri"
    ).collect()}
    assert sel == {1: True, 2: True}


@pytest.mark.parametrize("n_blocks", [4, 5])
def test_select_within_token_budget_null_tokens_match_sql(
    spark, monkeypatch, n_blocks
):
    """NULL token counts follow SQL's running SUM at any block layout:
    every 10th doc is NULL, so at 4 and at 5 blocks NULL rows open range
    blocks, and doc 0 is an all-NULL prefix."""
    import duckdb
    from pyspark import SparkContext

    from baskerville_spark.gates.sampling import select_within_token_budget

    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: n_blocks)
    )
    rows = [(i, None if i % 10 == 0 else 5 + i % 13, i // 2) for i in range(200)]
    got = {
        r["doc_id"]: (r["cum_tokens"], r["selected"])
        for r in select_within_token_budget(
            spark.createDataFrame(rows, "doc_id int, n_tok int, pri int"),
            "doc_id", "n_tok", budget=900, priority_col="pri",
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INT, n_tok INT, pri INT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT doc_id, c, c <= 900 FROM (SELECT doc_id, CAST(SUM(n_tok)"
            " OVER (ORDER BY pri, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)"
            " AS c FROM d)"
        ).fetchall()
    }
    assert want[0] == (None, None)
    assert got == want
