"""Metadata-consistency checks (gates/consistency.py) + the new
training-pipeline operators (decontaminate, pack_sequences)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from baskerville_spark.gates import consistency
from baskerville_spark.gates.consistency import (
    payload_byte_violations,
    speaking_rate_verdicts,
)
from baskerville_spark.gates.dedup import decontaminate
from baskerville_spark.gates import packing
from baskerville_spark.gates.packing import pack_sequences, packed_bin_summary


def _meta_rows(spark):
    # 16 kHz * 1000 ms * 2 B = 32000 expected bytes for pcm
    return spark.createDataFrame(
        [
            Row(part_id=0, clip_id="a", codec="pcm_s16le", sr_hz=16000,
                dur_ms=1000, byte_len=32000, transcript="x" * 50),   # ok
            Row(part_id=0, clip_id="b", codec="pcm_s16le", sr_hz=16000,
                dur_ms=1000, byte_len=31998, transcript="x" * 50),   # truncated
            Row(part_id=0, clip_id="c", codec="flac", sr_hz=16000,
                dur_ms=1000, byte_len=7, transcript="x" * 50),       # non-checkable codec
            Row(part_id=1, clip_id="d", codec="pcm_s16le", sr_hz=8000,
                dur_ms=None, byte_len=99, transcript="x" * 50),      # null dur: skip
            Row(part_id=1, clip_id="e", codec="pcm_s16le", sr_hz=22050,
                dur_ms=333, byte_len=(22050 * 333) // 1000 * 2,
                transcript="x" * 4000),                              # bytes ok, rate high
        ]
    )


def test_payload_byte_check(spark):
    df = _meta_rows(spark)
    viol = payload_byte_violations(df).collect()
    assert [(v["clip_id"], v["byte_len"], v["expected_bytes"]) for v in viol] == [
        ("b", 31998, 32000)
    ]


def test_speaking_rate_check(spark, monkeypatch):
    df = _meta_rows(spark)
    # 50 chars / 1.0 s = 50 cps; 4000 chars / 0.333 s = 12012 cps (clip e)
    monkeypatch.setattr(consistency, "MIN_CPS", 0.5)
    monkeypatch.setattr(consistency, "MAX_CPS", 100.0)
    v = {r["part_id"]: r for r in speaking_rate_verdicts(df).collect()}
    assert v[0]["n_rows"] == 3 and v[0]["n_violations"] == 0 and v[0]["passed"]
    assert v[1]["n_rows"] == 1 and v[1]["n_violations"] == 1 and not v[1]["passed"]


def test_runner_speaking_rate_default_bound(spark, monkeypatch):
    """``speaking_rate_verdicts`` at a (0.5, 30) chars/s bound, on rows
    built by hand, one partition per case: 12 chars/s passes, 200 and 0.2
    chars/s fail, and a NULL transcript or a zero duration is not
    checkable, so it is neither a row nor a violation."""
    monkeypatch.setattr(consistency, "MIN_CPS", 0.5)
    monkeypatch.setattr(consistency, "MAX_CPS", 30.0)
    cases = [  # part_id, dur_ms, transcript
        (0, 1000, "x" * 12),
        (1, 1000, "x" * 200),
        (2, 10000, "xx"),
        (3, 1000, None),
        (4, 0, "x" * 12),
    ]
    rows = spark.createDataFrame(cases, "part_id int, dur_ms int, transcript string")
    got = {r["part_id"]: (r["n_rows"], r["n_violations"], r["passed"])
           for r in speaking_rate_verdicts(rows).collect()}
    assert got == {0: (1, 0, True), 1: (1, 1, False), 2: (1, 1, False),
                   3: (0, 0, True), 4: (0, 0, True)}


def test_payload_check_on_generated_clips(spark, t1_clips, t1_cfg):
    """On the real generator fixture, the byte check flags EXACTLY the
    pcm rows whose declared dur_ms was range-mutated (payload was encoded
    with the true duration; NULL-dur rows are non-checkable)."""
    import baskerville_spark.generator as g

    meta = t1_clips.select(
        "part_id", "clip_id", "codec", "sr_hz", "dur_ms",
        F.length("bytes").alias("byte_len"),
    )
    flagged = {
        r["clip_id"] for r in payload_byte_violations(meta).collect()
    }
    expected = set()
    for i in range(t1_cfg.n_rows):
        if g.is_clean_part(i, t1_cfg):
            continue
        if i % g.NULL_MOD == g.NULL_OFF:
            continue  # dur NULL -> non-checkable
        if i % g.RANGE_MOD == g.RANGE_OFF:
            cid = g.clip_id_of(i, t1_cfg)
            codec_row = meta.where(F.col("clip_id") == cid)
            # only pcm rows are checkable; look codec up from the fixture
            expected.add(cid)
    # every flagged row is a range-mutated row and is pcm
    pcm_expected = {
        r["clip_id"]
        for r in meta.where(
            F.col("clip_id").isin(list(expected))
            & (F.col("codec") == "pcm_s16le")
        ).collect()
    }
    assert flagged == pcm_expected
    assert flagged  # fixture must actually exercise the violation path


def test_decontaminate(spark):
    bench = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today")]
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 8-gram "the quick ... lazy" twice shifted
            Row(doc_id=10, text="xx the quick brown fox jumps over the lazy dog yy"),
            Row(doc_id=11, text="completely different words with no overlap at all here"),
            Row(doc_id=12, text="short text"),
        ]
    )
    out = {r["doc_id"]: r["n_contaminated_shingles"]
           for r in decontaminate(train, bench).collect()}
    assert set(out) == {10}
    # the common 9-token run "the quick ... lazy dog" yields 2 distinct
    # 8-gram windows shared with the benchmark
    assert out[10] == 2


def test_pack_sequences_matches_serial_cumsum(spark, monkeypatch):
    monkeypatch.setattr(packing, "BIN_TOKENS", 10)
    rows = [Row(doc_id=i, text=" ".join(["w"] * (3 + i % 7))) for i in range(40)]
    df = spark.createDataFrame(rows)
    # multi-block path: the session's 4 range blocks exercise the offset map
    assert spark.sparkContext.defaultParallelism > 1
    packed = {
        r["doc_id"]: (r["start_offset"], r["bin_id"])
        for r in pack_sequences(df).collect()
    }
    acc = 0
    for i in range(40):
        n = 3 + i % 7
        assert packed[i] == (acc, acc // 10), f"doc {i}"
        acc += n
    summary = packed_bin_summary(pack_sequences(df)).collect()
    assert sum(r["n_docs"] for r in summary) == 40
    assert sum(r["n_tokens"] for r in summary) == acc


def test_mixture_sample(spark):
    from pyspark.sql import Row
    from baskerville_spark.gates.sampling import mixture_sample

    rows = [Row(doc_id=i, source=f"s{i % 4}") for i in range(400)]  # 100 per group
    df = spark.createDataFrame(rows)
    out = mixture_sample(df, {"s0": 0.5, "s1": 0.25, "s2": 0.25})
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # T = min(100/.5, 100/.25, 100/.25) = 200 -> targets 100/50/50;
    # s3 has no target weight -> dropped entirely
    assert "s3" not in got
    assert got["s0"] == 100                      # rate 1.0 keeps everything
    assert abs(got["s1"] - 50) <= 15             # hash-threshold is ~binomial
    assert abs(got["s2"] - 50) <= 15
    # deterministic: same call, same exact row set
    ids = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in mixture_sample(df, {"s0": 0.5, "s1": 0.25, "s2": 0.25}).collect()
    )
    assert ids == ids2


def test_chunk_documents(spark, monkeypatch):
    from baskerville_spark.gates.packing import chunk_documents

    monkeypatch.setattr(packing, "CHUNK_TOKENS", 10)
    monkeypatch.setattr(packing, "CHUNK_STRIDE", 8)
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(f"t{i}" for i in range(25))),
         Row(doc_id=2, text="a b")]
    )
    out = chunk_documents(df)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    # doc 1: 25 tokens -> starts 0,8,16,24
    assert sorted(k[1] for k in rows if k[0] == 1) == [0, 1, 2, 3]
    assert rows[(1, 0)]["n_tokens_chunk"] == 10
    assert rows[(1, 2)]["n_tokens_chunk"] == 9   # tokens 16..24
    assert rows[(1, 3)]["n_tokens_chunk"] == 1   # token 24 only
    # doc 2: 2 tokens -> single chunk of 2
    assert sorted(k[1] for k in rows if k[0] == 2) == [0]
    assert rows[(2, 0)]["n_tokens_chunk"] == 2
    import hashlib
    want = hashlib.md5(" ".join(f"t{i}" for i in range(16, 25)).encode()).hexdigest()
    assert rows[(1, 2)]["chunk_md5"] == want


def test_vocab_oov(spark, monkeypatch):
    from baskerville_spark.gates import text
    from baskerville_spark.gates.text import oov_rate, vocab_top_tokens

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a a b b c"),
         Row(doc_id=2, text="a b x y")]
    )
    monkeypatch.setattr(text, "VOCAB_SIZE", 2)
    vocab = vocab_top_tokens(df)
    assert [(r["token"], r["cnt"], r["rank"]) for r in vocab.collect()] == [
        ("a", 4, 1), ("b", 3, 2)
    ]
    out = {r["id"]: r for r in oov_rate(df, vocab).collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["n_oov"] == 1      # c
    assert out[2]["n_tokens"] == 4 and out[2]["n_oov"] == 2      # x y
    assert abs(out[2]["oov_ratio"] - 0.5) < 1e-9


def test_robust_outlier_violations(spark, monkeypatch):
    from baskerville_spark.gates import stats
    from baskerville_spark.gates.stats import robust_outlier_violations

    monkeypatch.setattr(stats, "OUTLIER_K", 3.0)
    # group g: values 1..9 plus a 100 outlier -> med 5.5, MAD 2.5
    # threshold = 3 * 1.4826 * 2.5 = 11.12 -> only 100 flagged
    rows = [Row(part="g", rid=i, x=float(i)) for i in range(1, 10)]
    rows.append(Row(part="g", rid=99, x=100.0))
    rows.append(Row(part="h", rid=1, x=None))  # null-only group: no output
    df = spark.createDataFrame(rows)
    out = robust_outlier_violations(
        df, "x", part_col="part", id_cols=["rid"]
    ).collect()
    assert [(r["part"], r["rid"], r["x"]) for r in out] == [("g", 99, 100.0)]
    assert abs(out[0]["med"] - 5.5) < 1e-9 and abs(out[0]["mad"] - 2.5) < 1e-9


def test_pack_sequences_plan_no_global_window(spark):
    """The scale property PLANS.md documents: the prefix sum must never
    plan a SinglePartition window (the naive Window.orderBy(id) form);
    the window is partitioned by the block. Since the round-5 determinism
    fix, block membership is a pure function of id (collected range-block
    max-id bounds), so the RETURNED plan must contain NO rangepartitioning
    exchange at all — re-running RangePartitioner's sampling for the output
    was the round-4 boundary-drift hazard. The only exchange left is the
    hash shuffle the block window needs."""
    from baskerville_spark.gates.packing import pack_sequences

    rows = [Row(doc_id=i, text="a b c") for i in range(100)]
    packed = pack_sequences(spark.createDataFrame(rows))
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(block" in plan


def test_cosine_topk_batched(spark, monkeypatch):
    from baskerville_spark.gates import similarity
    from baskerville_spark.gates.similarity import cosine_topk_batched

    corpus = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]),
         Row(vec_id=2, embedding=[0.0, 1.0]),
         Row(vec_id=3, embedding=[1.0, 1.0])]
    )
    queries = spark.createDataFrame(
        [Row(vec_id=10, embedding=[1.0, 0.0]),
         Row(vec_id=11, embedding=[0.0, 2.0])]
    )
    monkeypatch.setattr(similarity, "BATCH_TOP_K", 2)
    out = cosine_topk_batched(corpus, queries).collect()
    got = {(r["query_id"], r["rank"]): (r["id"], round(r["cosine_sim"], 6))
           for r in out}
    assert got[(10, 1)] == (1, 1.0)           # exact match first
    assert got[(10, 2)][0] == 3               # diagonal second (cos ~0.7071)
    assert got[(11, 1)] == (2, 1.0)           # scale-invariant
    assert got[(11, 2)][0] == 3
    assert len(out) == 4                      # k=2 per query, 2 queries


def test_partition_spill_flags_cross_partition_keys_only(spark):
    from baskerville_spark.gates.consistency import partition_spill

    df = spark.createDataFrame(
        [
            ("a", 0), ("a", 2), ("a", 1),   # spilled across 3 parts
            ("b", 1), ("b", 1),             # duplicated WITHIN a part: clean
            ("c", 3),                        # unique: clean
            (None, 0), ("d", None),          # NULL key/part ignored
        ],
        "clip_id string, part_id int",
    )
    out = {r["clip_id"]: r for r in partition_spill(df, "clip_id", "part_id").collect()}
    assert list(out) == ["a"]
    assert out["a"]["n_parts"] == 3 and out["a"]["parts"] == "0,1,2"


def test_out_of_order_stats_running_max(spark):
    from baskerville_spark.gates.consistency import out_of_order_stats

    # u1: seq 3 is late vs the running max set at seq 1 (10:00) even
    # though it is in order vs its NEIGHBOUR (seq 2, 08:00 — itself late);
    # u2: fully in-order; NULL ts neither counts late nor advances the max
    rows = [
        ("u1", 1, "2024-01-01 10:00:00"),
        ("u1", 2, "2024-01-01 08:00:00"),  # late (any regression, not adjacent)
        ("u1", 3, "2024-01-01 09:00:00"),  # late vs running max 10:00
        ("u1", 4, None),
        ("u1", 5, "2024-01-01 11:00:00"),  # in order again
        ("u2", 1, "2024-01-01 00:00:00"),
        ("u2", 2, "2024-01-01 01:00:00"),
        # u3: a NULL-sequence row sorts first but never counts late and
        # never advances the running max (its 23:00 would make both later)
        ("u3", None, "2024-01-01 23:00:00"),
        ("u3", 1, "2024-01-01 00:00:00"),
        ("u3", 2, "2024-01-01 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "k string, seq int, ts_s string").select(
        "k", "seq", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = {r["k"]: r for r in out_of_order_stats(df, "k", "seq", "ts").collect()}
    assert (out["u1"]["n_events"], out["u1"]["n_late"]) == (5, 2)
    assert out["u1"]["late_frac"] == 0.4 and out["u1"]["flagged"]
    assert (out["u2"]["n_late"], out["u2"]["flagged"]) == (0, False)
    assert (out["u3"]["n_events"], out["u3"]["n_late"]) == (3, 0)
