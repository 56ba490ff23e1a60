"""End-to-end smoke: generate → validate → verdicts/violations sanity."""

from __future__ import annotations

from baskerville_spark.generator import expected_violation_indices
from baskerville_spark.runtime.runner import ValidationConfig, run_validation


def test_generator_counts(t1_clips, t1_cfg):
    assert t1_clips.count() == t1_cfg.n_rows
    parts = {r["part_id"] for r in t1_clips.select("part_id").distinct().collect()}
    assert parts == set(range(t1_cfg.n_parts))


def test_rows_from_range_drops_a_whole_partition(spark):
    """A range partition whose indices are all dropped yields a typed,
    empty batch: the frame holds the other rows, fan-out included."""
    from baskerville_spark.generator import rows_from_range

    def rows(i):
        if i < 10:  # the whole first of 4 range partitions over 40 ids
            return []
        return [{"k": i, "name": f"r{i}"}] * (2 if i % 7 == 0 else 1)

    df = rows_from_range(spark, 40, rows, "k long, name string", 4)
    assert df.schema.simpleString() == "struct<k:bigint,name:string>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        (i, f"r{i}") for i in range(10, 40) for _ in range(2 if i % 7 == 0 else 1)
    )


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
    import __spark_entry__ as m

    out = m.q62_feature_loop(spark, "/root/testdata/sf0.001").collect()
    users = {r["user_id"] for r in out}
    assert len(out) == len(users) > 0
    assert all(r["request_total"] > 0 for r in out)


def test_sensitive_roundtrip_gate(spark):
    """q63 at t1 scale: every event row must come back from the
    split/stash/merge loop exactly once with its sensitive columns."""
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


# Every gate in driver order, with the sha256 of its oracle SQL. Adding a
# gate appends a line here; changing an oracle's text changes its digest.
_REGISTRY_SNAPSHOT = """
q21_clip_validation a7cbc267b10c730d64e70a90e008e1454d915a5f1535a4cb88b1defc575421e1
q100_corpus_split aaea4bcb98c6e69b6c25084371b259a71f8600904a8019a8a309fa886d84da19
q101_file_skipping 463181db0967fb4ad5bfc9a8f16c78ba610706bbc162ed3335a15db897eb1818
q102_zorder b33cdead321558c4b4b7968805098b98d487bea1274c0b51859eb6df6a0a04be
q103_compaction_plan abbe66ae0a45cd9e20af3a6fe93904b5eaf5225fc12083f636d290fc625a20a0
q104_streaming_rolling_psi 33ab80bcfe2eb8080e237f1600d124882ce3b9bc641f32f07a8301d7d3d31283
q105_split_on_silence 217c9f2e078b8329279e057ae718207cba2b56b3ec4e40f19bb35f3e201eab3e
q106_transcript_edit_distance f2b135acc39e3da7dcf7d8db7339455989f81e097fb44389008ff4870eed60bd
q107_concat_roundtrip b6ea59d1f207c9ea66e85764501821f94ccd10d4d246b28988fd7f4abce917ac
q108_enrich_with_state 186ea32d2fb0f9113288cb3cc80af0799ca0794c16710cfce4b2353bdd05d425
q109_audio_align 2d982be7f0375125c224e4522ab0d8e167155732773dced9c962a45fdc7c59bb
q110_sensitive_crypto d29163b270ac05619444c6ef335681de98072678597a75c4fed030d4444b1b8a
q111_bandwidth eba270670da978535befddc6534331cb73244f9ad0d3278f7fc359763ebacd88
q112_gap_fill d5ee0e2d6c307973bfd49bbe2fd5b8a4a8ba4a7c06255f2461d71778bed5a772
q113_mulaw_roundtrip 2eaa7e9cd4704838f2fc8d1c570244625fdbb72b4364ee7370466ee1fa9fbd22
q114_bpe_merges b5c7a71dfa8e5ba212348667f649127086268fcfd1d687d82bb9f62852da30d0
q115_bpe_tokenize c59f4997a6a2e52535d2f51b7bcf508960912e5be26ef4094e2235cb4b204d8b
q116_dedup_lines 55c3f2418bfefca1100286040c45334bb8904c7a6bf11e9186697108501bdc74
q117_vad_stats a41d5f6ad2c621f1547e06722512e7e80eb96743fd6d47edfa759e19960d539f
q118_constraint_suite 42f5645ae1f40498c3b56c9a59f3dc0eb5d3455d4ac90fad2c3d9ee145572923
q119_incremental_stats 1cc06efbf3722ad1befdebff6fc77ea24da78616831d1fdf00af04518ed54449
q120_histogram_drift_state 1da1b21c6c06de357c7861c230549645b01e74c9ed28c07cdfee94a96c3e23ab
q121_state_table_stats 0957804e0b3327cacf65751eb95d1e417fbea9f2bff5c0ab028adfa1790bc8bd
q122_audio_decode_state 6123cabbd2e5e17313b7de1f8a9e90c5dc65b7452011d1fe194712fdf6802e9f
q123_streaming_state_ingest e3afa956fac59dc785d36c2568ba05ee37dc38a64a902a5ee2cf8fff3295f6f8
q124_schema_evolution f23b0226afb68fa310d386d7cc595136d546597be1160cde3038d5d7621a2f73
q125_partition_completeness edccc5100eb171b97aa74ddcaa9f9ef2609bae151c61ed7c3b543b9c6ac06d7b
q126_row_level_diff e0632e9cf4da0b693dba882b53d70fc4841d6eec2347846769151da1b209bfd2
q127_psi_attribution 87693e65f50463a7c421e496d0f2f4eb9a1910d87ad3b1db2f3860ea5a6adf00
q128_metric_anomalies b63a834f3d40a04458982de8a95088e3105870af9d7a361d531bc552ed9a9beb
q129_suggest_constraints f1a36069ad559738b0aa6d5e3917af329f67c0a96c512b77e37bff97eee0cc91
q130_functional_deps ca218e926c2665842f8c291be283f457b228fd106afa887b2492b8b4b14aecc1
q131_dc_offset 32ae2da1dc451b5263d634011a147903d4255a931525076955afb7eda17350c5
q132_chi2_mix a76d6abecbbe2f88d296ba35c07df9b4fb966c3b8f17705d897474950111c3c5
q133_mannwhitney 5198289a680b1334e58f44471accdfe6cbaaa47dbd5116e62615a8d2b4755cf9
q134_channel_balance a93ef6481ffeada4fcdeef8931b535faa711ea9bd390dc6d0474ab6d6a120202
q135_zipf_fit 887ca34844fd265c082534f8c29cd1f36046ba99ca99000c4e47251d8177dddf
q136_spearman dd234908db2fc5b52f7023306083f943bee56ba5a89d639eb43f74650efe7d48
q137_mutual_info ce1746b3fb5f1784aae6f7762f4b05c14299dc826d7bda62933ca2ca8be0b7e5
q138_benford a414d1c97fd936c06bb4d0c1057de02e809eb46d684fdad27d88b6141935eefa
q139_rolling_chi2 1490b2acbe593c386ef54b9338a9792bccb1b43e477666ccf217f3ce7afbace0
q140_token_budget ee34e2875e8dd49d4f2f18d0459e6eda7002cbab2de7b3260613ba9b94958b92
q141_label_conflicts 76d8ab06487b7a67b8b61f771644b37191a5b9a88c1aa962c9938da1f0e969c3
q142_wasserstein_drift 4150700b31579432d0504ffc30ea929c5c2c535ad4949364d9893ec1d5a5d618
q143_partition_spill 08b1dde57730ec6cb35a58e7f805e712c5dee792ea0171dc7da82217c51f0124
q144_out_of_order bbc26bbe9d23d1107360751975e2f200c91437b4dadb6d60e1823e3dc9e637d9
q01_request_sets 64ac38fc98cb8334471aa0f902b50ec911a6361e9128e07acd997976358d03a2
q02_request_intervals dba7853fd3e0270790b8a01a25f51696903a84694f7b11683b38cd19b75252a8
q03_top_event_per_user d6169a786f001154ec0884256ee8565c36838957a563ca52c24108753699b2e3
q04_pivot_event_counts 424fcaedd95cdfc692ae5bfc9571ae67ad7e9110e1efd9c46426b1a0e8de5061
q05_customers_without_orders 4639071c40862c2371d68dd4aa5a868b56683f13e4d39dd506d25492afc860da
q06_building_orders_semi 1ca3a1034245cb31df4c9fa97b569f160002352da18ec232ed1db4d0c4a962e5
q07_late_shipments 9bd04559db5b11666f02bd24bf2542660bd8e37be5d07d7faeb29e3ebf62719c
q08_stats_profile 2c049fba3b59542728f811cbd921fedcca0167caf61b408d4173a1c523223f6b
q09_duplicate_custkeys 5a862e2f51884a1a844174f5435eee4374edd2e483bacd1550c697fa5bec4393
q10_incident_detection 1f336c6888c1f335a38a2938a3e9d030932b61be1ef67461a8de66c0171a84f3
q11_fingerprints a4bec06de2227c455886575eda3d905869efa49acf3d2c0fe51c8f2be7f5cff2
q12_quality_features b3b15be4c1ac1f726b60074e68b291a6db06d05b94152e14bd30a40f0f4137a2
q13_lang_id 6e92ec61f663c8948930496547aebaaef7cbf299ac575179623787f13f25ba3d
q14_ann_topk 4c0f4eb0a68d6a3fd6776d24e96668ccdbc278599bd3b1e3374fd35fb7e5538d
q15_ngram_jaccard 9967afe48e4329dbfdce2fabde687c2b79f56c2f923d68a1add86b5dcabcd1f5
q16_exact_dups 31ff7589bf3ee263a03d68ab0c3e08cb605fdf6e1c5b1dffd4985d7ba27c45b9
q17_pricing_summary 4c22d506cf789a99470871166c680cbb469eae7162e7fc6431cbe06dda55cad3
q18_top_revenue_orders b96b0fce69682d8ab8e826142fe6900a2ac04840c2e0587a62d5720ce39024a4
q19_minhash_pairs c0a91ca129c707b863e74554163e8e08b3f580322eb67fcfb4f86875e9aec644
q20_simhash 12f6ae7b42fcd03b5da1b702b97a5a8aa3c396a2e6dcc21f770f0f43d7329523
q22_vector_pairs e8bcc2afcb8aba95ee02eb979e719b31e896e537115a60424ea649c5fa4c2bcb
q23_streaming_window_counts c2fc201b5f40e7494d4a073dd7d43b9f32b4520ba401a7b84e39306b9e9ec02d
q24_sessionization 0a0afaaca22c9116dfc8feaeab57c93fc9b529c3857dc52abac524392bd210bb
q25_json_props 548bafb4b9e61b65e89d00b146203548b89f8840cbdab1812177dd9a204eb598
q26_rollup_counts ad65cf9ab746d8d53ab8e78f96d4442eec7c90d0afd7fe1c921d0c3660f4d232
q27_asof_prev_click a18df4639b99aec624edb8da03eee428d6dcbeeab7e1ebe3a1ffc1a2d551d205
q28_stratified_sample bc8d6dbbdf19fd85fb3f33c60faa99c8fb6a518c684e68af3759ea244a9036cd
q29_state_merge 4c61cb02f05a04ce46e0fdd6c9bb25ed0aa7f7529cf234737b921aee2c60280c
q30_cube_counts 9c48ae42a221c40153f8baf3c8da02a5a777723a93089d264361587bfe42ecde
q31_heavy_both_types 5199a0fdb7ccdb24c465d6818efbd8cf65f3846c13be47030874e7a234772571
q32_srp_lsh_pairs c0292822a12af6501be4dc0d5232c28a8dde8dfcafb3e9073d9d895db3ec1914
q33_first_last_touch 05033830bca936da62bf49085b6f52c69dc39bd0fa5e3e036e7fb97886a84bc4
q34_map_features f64dc70187abf16213a0322d362821ed1fff13aea36fed26a7b3bd744422e3fb
q35_simhash_near_dups ba6ef77ff3a12a3498a7fb66d6ca819d3e9be1f842f51caef3dc475c198a9022
q36_session_window 47d02cc0b67dc26d6110ba192e35467ec7c5865c7e108fe6aedba75107fe1b9c
q37_geo_localize 2b43bfcf17e81d1792de53420da30919121e02ebf67ccc3d8511395d4c110b1f
q38_ivf_topk 5e73524dba7aa9afdc87f8d1ef87bf5f038fc542343e7fe789fc692dcdb40cf5
q39_streaming_dedup 1dd4885c166ca390844dd3d67df068d81a660a3e519bdae4d47c750b62060d1b
q40_image_features 50bc79eecdedc8fda998fbb0ee1404541ea5279ebbc906dfd407f5bb574c8ee8
q41_video_frame_sample 8fe87239da1a612987654b1d736f8df4e1e5d23f51e94a7fa64297285290b385
q42_dup_exemplars 7eda2b6db19bf44eafdb48c4939e30fc32ff57136eae2dc9cd42c802c7a97b7f
q43_first_last_agg 05033830bca936da62bf49085b6f52c69dc39bd0fa5e3e036e7fb97886a84bc4
q44_drift_verdicts b426b2881360e70d0919e6e3278d8a7955990b119925772e645dcf751facf581
q45_streaming_kafka_shaped 62366f8fb44f7e06528ef6b3ac8400fc074faf3aa819ad7a99658ed12a8b4017
q46_sketch_accuracy c93f5c5f9535d5938563ab2269c0830b85fbc7b906ba383bbb3d4c784326dfd2
q47_jdbc_segment_stats a2878ed5322f0c286e547e13e69e830be221166afd962310c711426336689511
q48_ref_integrity 3a0a85cb637cddbaced605b398f749f21d0f2549d3f2610a63e28b1cf0cbceb9
q49_schema_enforce aaba8b75806516f957ded4540797c13a2030e7f6ef8dfaab2bfa5f61b99b192c
q50_pattern_violations fb66ae9fcaa3b0d007efaca38d3ec242947864771ee990a61752169a33884d35
q51_normalized_dups 092c18dd0f8c2c8ea9e48890b1f7653025de143ed4fc164831774df465995cd0
q52_heavy_hitter_tokens 47507ef46f4170bc69e26c367308a5ffba906fd3dae93478f4cb47bf5171ecaa
q53_standard_scale 047ec2cd5f4d89b02fce2fe92ebd248233529e4494af06a55df600cfa703228f
q54_string_index 67d6e051859f1ac18c3e6a57022e17e0000ee06c5b5ed55395a1afb5c28a06d2
q55_iforest_outliers 031b44cfa056898940bf90ab455254f1ea1570d16c47fb1da70c2175cdf4914c
q56_gbm_labeler 3d4f6dc0f5f4c499b0ce282bc462a47a3eafbfc113fa8930ba27ca39276cc6b1
q57_feature_vector 214687299899f60884b495b7af91cd3709d268ae1ca8f4445aa4e97b7a432823
q58_feature_update 20d424d8bc4af032e42f3104a6b8aa81e4d11ddfd5187f31360a9875ba69f5c9
q59_anomaly_thresholds aa92574924771a4efca09f83b4f71803a1869e5f18e89beba5649b0b39fdd313
q60_challenge_commands 03e8ca69f1a05a539d4d16a1b1896fff4014fedb286bc350e00c65f191c1f6b6
q61_resume_verdicts a7cbc267b10c730d64e70a90e008e1454d915a5f1535a4cb88b1defc575421e1
q62_feature_loop 519fa2ff4302b54c8d98b5f8294094a57e76dcf7fa20a74048e3b08c94f3fa3f
q63_sensitive_roundtrip 406dbc5b001fc8596634f74008690b67dd7385bffa71864f50ae6db288d0a728
q64_stateful_stream_stats 271c82f6d93f8126a4db033d6798a50ffc918158f8bd9c66c6c651b2759e6856
q65_dedup_clusters ffca7895cba1d87467dc93c9f4b41ee310fd8d1cd9cc6bd3a50087fad28384c5
q66_sliding_window_counts 76ec4840081e77693ff6237aec97e0d527e110f43fbbbe6430617749467d3e35
q67_chain_clusters_bigstar 2fd13a7360617f4d90c35c05a0a3aa32586a54241148b9fdb43849935b3d1290
q68_incremental_chain_clusters 2fd13a7360617f4d90c35c05a0a3aa32586a54241148b9fdb43849935b3d1290
q69_tfidf_cosine_pairs 8d2e0d24037eeebd62e7335bb40f2f7f0a22b35077cb5a6cabde6ee7cdbbc544
q70_containment_pairs 3c04e6b31e715cb178bcf545d367d62b9af689eb20e5fcec5285c684319ac215
q71_repetition_metrics ff8d5b88a88c079c82078733d8b5e0cd077466561930d56852a97925df942d83
q72_char_entropy a08836c7a6339daa659c6845a376cde519413ad0bc96445e53c82879d487b43f
q73_pii_scrub 6b68f53a36434a13b99ed852f472d133bc19cb4924745c5a90cc2e8c8390c79e
q74_payload_bytes 4ea7da874d131cc1f197ab096a14ef1a5dc301730ae9b317f200c0230a7e998b
q75_speaking_rate 1e424891b92a7d89f0164382caf8766cd9a058032972213aa9889a8b0b767236
q76_decontamination f03a8e5d748d67a42373c4ff12fbf68d098d048b531a120f8f6cc75b61be8752
q77_sequence_packing a7fbde8b339ae82f4cab50a328eae4847d4b590b7d222e772ea175e184406dde
q78_mixture_sample 1c7e18352c130cf7db3824a34a3f566d01aa74f7522ab734d898a201eccaaa3f
q79_chunk_documents 3f3a1d3a9d52a88bc38907bc165b7d28522290ac6de6bdd2dea17de878bde0e6
q80_vocab_oov 7d7e4323f7bb58b7a297d4c709c27cfc7d54cdce4a0a3b1de37ee6e4f2a662f3
q81_robust_outliers 3c92457893a9b37d63e3fa14950a7a39de4da516b19faa57c3999957ea5287a5
q82_audio_content_dedup cd622a4721331ea356c55fde73630d13d7d081731b6136fd45e1d16cb0e39a44
q83_loudness_stats d815aa948b1e30581f57f3314886c4bd0225d65094d8701852aea7077a7814b5
q84_spectral_features 6970ca05e2ae2a2bd33ec917b1431123ec9891edbe1d7266d57e3bb6fe9e315e
q85_resample 6a789f855a68818d5b4dc6c139556583c44f96a1876b4ae7178764f6f2b69c26
q86_batched_topk c8c624bf8424a6aeb7382d18359343a487bf678137cda95cb13b290cffcbc881
q87_downmix 93bf4b8171ff32cb342095ba8aeb1504a6d081d42704c8ee8efeab9383375c18
q88_trim_silence 2ebdeab946f3d4f8b3f1755ffbce1d57c34d0f1c40dda7aaf234f0f0c516d872
q89_segment 953a2c6603390f1fef828bd5eae4f89f3e1ec28da7bc3cfb43533556d7bba678
q90_normalize 17932563765bfb736b52567a60fd07999cb80631e8e181537df931f70cc18ef5
q91_overlay 18853af8ea19cca69b51908574ccc57fd760ab0dae10771500f3e8edbc580bbf
q92_pitch 25d10472e0d8ac603ea5f3b6d1b53b19540c2f377cc1b36598c91076f8a21759
q93_bloom_semi bb7d9b93f8aac457642c2a8985edd333807dbfa63ecd5f25bff1bff2f238a048
q94_snapshot_diff 46f6c6ca7eb107f5f06b630325bf0bb1051266e129f15ba8c3ee73da468a2db6
q95_incremental_revalidation 42ccdd1ca491ebaa227d345b5ec82da080f852b1814ec50ee143f44def70b163
q96_rolling_psi b9a90e14f5bb3d0e58ce57b9d1742a9fe6170bb88254d63e6934d14c57c68b52
q97_rolling_ks e591e51c12a34fd0facd7bab6b6ff9d882a2afae93a91938ac785aeb61eb342b
q98_quarantine_routing 3e146a7e053263816106052f7a81e59b97e5770037bd94ca7f0cad1237c82955
q99_keep_canonical 10890e30bda19c2adb6e8cbe54dae02517fe236f58a609cf70c7c64c24fa3fb4
"""


def test_gate_registry_snapshot():
    """The driver contract's ordered gate keys and every oracle string are
    pinned: oracle_sql() has queries()' keys in the same order, each
    callable is registered under its own name, and no oracle text drifts."""
    import hashlib
    from pathlib import Path

    import __spark_entry__ as m

    # pythonpath = ["."] in pyproject.toml: the gates of this checkout
    assert Path(m.__file__).resolve().parent == Path(__file__).resolve().parents[1]
    want = [line.split() for line in _REGISTRY_SNAPSHOT.strip().splitlines()]
    qs, oracles = m.queries(), m.oracle_sql()
    assert list(qs) == [k for k, _ in want]
    assert list(oracles) == list(qs)
    assert all(fn.__name__ == k for k, fn in qs.items())
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in oracles.items()}
    assert [[k, got[k]] for k, _ in want] == want


#: Audio gates whose fixtures are planted through
#: ``generator.rows_from_range``; none of them reads ``sf_dir``.
_PLANTED_AUDIO_GATES = (
    "q83_loudness_stats", "q84_spectral_features", "q85_resample",
    "q87_downmix", "q88_trim_silence", "q89_segment", "q90_normalize",
    "q91_overlay", "q92_pitch", "q105_split_on_silence", "q109_audio_align",
    "q111_bandwidth", "q113_mulaw_roundtrip", "q117_vad_stats",
    "q131_dc_offset", "q134_channel_balance",
)


def test_planted_audio_gates_match_oracles(spark, tmp_path):
    """Each planted audio gate equals its oracle in a DuckDB connection
    with no tables, compared the way ``scripts/check_oracle.py`` compares
    (result types by class, rows order-insensitive)."""
    import importlib.util
    import sys
    from pathlib import Path

    import duckdb

    root = Path(__file__).resolve().parents[1]
    import __spark_entry__ as m

    saved = list(sys.path)  # check_oracle prepends its own source dir
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "scripts" / "check_oracle.py"
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    sys.path[:] = saved

    con = duckdb.connect()
    qs, oracles = m.queries(), m.oracle_sql()
    for name in _PLANTED_AUDIO_GATES:
        sdf = qs[name](spark, str(tmp_path / "no-sf-dir"))
        res = con.sql(oracles[name])
        otypes = [str(t) for t in res.types]
        assert co.type_check(name, sdf.columns, sdf.dtypes,
                             res.columns, otypes) == [], name
        got = co.norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
        assert got == co.norm_rows(list(res.columns), res.fetchall()), name


def test_shared_clip_fixture_keys_on_whole_config(monkeypatch):
    """Configs that differ in any GenConfig field get their own fixture;
    an equal config reuses the generated one."""
    from baskerville_spark import generator
    from baskerville_spark.generator import GenConfig

    import __spark_entry__ as m

    written = []
    monkeypatch.setattr(m, "_CLIP_FIXTURES", {})
    monkeypatch.setattr(
        generator, "write_clips", lambda spark, path, cfg: written.append(cfg)
    )
    monkeypatch.setattr(generator, "write_transcript_ref", lambda *a: None)

    a = m._shared_clip_fixture(None, GenConfig(1000, 4))
    assert m._shared_clip_fixture(None, GenConfig(1000, 4)) == a
    b = m._shared_clip_fixture(None, GenConfig(1000, 4, dur_max_ms=900))
    assert b != a
    assert written == [GenConfig(1000, 4), GenConfig(1000, 4, dur_max_ms=900)]
