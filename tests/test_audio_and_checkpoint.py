"""Audio invariants (SNR pandas UDF), fixture determinism, checkpoint resume."""

import numpy as np
import pytest

from sparkcheck import ExpectationSuite, validate
from sparkcheck.checkpoint import Checkpoint
from sparkcheck.io import expected_counts, generate_audio_clips
from sparkcheck.metrics.audio import decode_pcm, encode_wav_pcm16, snr_db

N = 20_000


@pytest.fixture(scope="module")
def clips(spark):
    return generate_audio_clips(spark, N, num_partitions=8).cache()


@pytest.fixture(scope="module")
def ref(spark):
    return generate_audio_clips(spark, N, clean=True, num_partitions=8).cache()


class TestCodec:
    def test_wav_roundtrip_lossless(self):
        samples = (np.sin(np.arange(1600) / 10.0) * 20000).astype(np.int16)
        decoded = decode_pcm(encode_wav_pcm16(samples, 16000), "wav")
        assert np.allclose(decoded * 32768.0, samples)
        assert snr_db(decoded, decoded) == float("inf")

    def test_snr_detects_corruption(self):
        t = np.arange(3200) / 16000.0
        ref = np.sin(2 * np.pi * 220 * t)
        noisy = ref + np.random.RandomState(0).normal(0, 0.2, len(ref))
        assert snr_db(ref, noisy) < 30
        close = ref + 1e-4 * np.sin(2 * np.pi * 50 * t)
        assert snr_db(ref, close) > 30

    def test_truncated_data_chunk_is_undecodable(self):
        """A WAV whose data chunk is shorter than its declared size must be
        treated as corrupt (None), not decoded partially into a finite SNR."""
        samples = (np.sin(np.arange(1600) / 10.0) * 20000).astype(np.int16)
        full = encode_wav_pcm16(samples, 16000)
        truncated = full[: len(full) // 2]
        assert decode_pcm(truncated, "wav") is None
        assert snr_db(decode_pcm(full, "wav"), decode_pcm(truncated, "wav")) == float("-inf")

    def test_unsupported_codec_strict_raises(self):
        with pytest.raises(NotImplementedError):
            decode_pcm(b"\x00" * 64, "flac", strict_codecs=True)

    def test_unsupported_codec_lenient_decodes_raw(self):
        raw = np.array([1, 2, 3], dtype="<i2").tobytes()
        out = decode_pcm(raw, "opus", strict_codecs=False)
        assert len(out) == 3


class TestFixture:
    def test_deterministic(self, spark):
        a = generate_audio_clips(spark, 500, with_bytes=True).collect()
        b = generate_audio_clips(spark, 500, with_bytes=True).collect()
        assert a == b

    def test_schema(self, clips):
        assert [f.name for f in clips.schema.fields] == [
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

    def test_violation_counts_match_closed_form(self, clips):
        exp = expected_counts(N)
        suite = (ExpectationSuite("audit")
                 .add("expect_column_values_to_not_be_null", column="clip_id")
                 .add("expect_column_values_to_be_between",
                      column="sr_hz", min_value=8000, max_value=48000)
                 .add("expect_column_values_to_be_in_set",
                      column="codec", value_set=["wav", "flac", "mp3", "opus"])
                 .add("expect_column_values_to_not_be_null", column="transcript"))
        res = validate(clips, suite)
        by_type = {}
        for r in res.results:
            key = (r.expectation_config.expectation_type,
                   r.expectation_config.kwargs.get("column"))
            by_type[key] = r.result["unexpected_count"]
        assert by_type[("expect_column_values_to_not_be_null", "clip_id")] == exp["null_clip_id"]
        assert by_type[("expect_column_values_to_be_between", "sr_hz")] == exp["bad_sr"]
        assert by_type[("expect_column_values_to_be_in_set", "codec")] == exp["bad_codec"]
        assert by_type[("expect_column_values_to_not_be_null", "transcript")] == exp["null_transcript"]

    def test_uniqueness_violations(self, clips):
        exp = expected_counts(N)
        suite = ExpectationSuite("u").add(
            "expect_column_values_to_be_unique", column="clip_id")
        r = validate(clips, suite).results[0]
        assert not r.success
        assert r.result["unexpected_count"] == exp["dup_rows_marked"]

    def test_reference_is_clean(self, ref):
        suite = (ExpectationSuite("clean")
                 .add("expect_column_values_to_not_be_null", column="clip_id")
                 .add("expect_column_values_to_be_unique", column="clip_id")
                 .add("expect_column_values_to_be_in_set",
                      column="codec", value_set=["wav", "flac", "mp3", "opus"]))
        assert validate(ref, suite).success


class TestAudioInvariants:
    def test_snr_and_transcript_vs_reference(self, spark):
        n = 5_000
        dirty = generate_audio_clips(spark, n, num_partitions=4)
        clean = generate_audio_clips(spark, n, clean=True, num_partitions=4)
        exp = expected_counts(n)
        suite = ExpectationSuite("inv").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0)
        r = validate(dirty, suite, tables={"ref": clean}).results[0]
        assert not r.success
        # corrupted bytes + rows whose clip_id has no reference (null/bad/orphan)
        i = np.arange(n)
        id_missing = ((i % 2000 == 13) | (i % 5000 == 21) | (i % 10000 == 41))
        bytes_null = i % 5000 == 33
        corrupt = (i % 1000 == 5) & ~bytes_null
        expected_unexpected = int((~bytes_null & (corrupt | id_missing)).sum())
        assert r.result["unexpected_count"] == expected_unexpected
        snr_detail = r.result["details"].get("mean_snr_db", r.result["details"].get("mean_mismatch_snr_db"))
        assert snr_detail is None or snr_detail < 30

    def test_transcript_pair_equality_via_join(self, spark):
        n = 5_000
        dirty = generate_audio_clips(spark, n, with_bytes=False, num_partitions=4)
        clean = generate_audio_clips(spark, n, clean=True, with_bytes=False, num_partitions=4)
        joined = dirty.alias("d").join(
            clean.selectExpr("clip_id", "transcript as ref_transcript").alias("r"),
            on="clip_id", how="inner")
        suite = ExpectationSuite("tr").add(
            "expect_column_pair_values_to_be_equal",
            column_A="transcript", column_B="ref_transcript",
            ignore_row_if="either_value_is_missing")
        r = validate(joined, suite).results[0]
        exp = expected_counts(n)
        assert r.result["unexpected_count"] == exp["diff_transcript"]


class TestCheckpoint:
    def _suite(self):
        return (ExpectationSuite("cp")
                .add("expect_column_values_to_not_be_null", column="clip_id")
                .add("expect_column_values_to_be_between",
                     column="sr_hz", min_value=8000, max_value=48000))

    def test_kill_and_resume_no_dup_verdicts(self, spark, clips, tmp_path):
        store = str(tmp_path / "store")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=6)
        with pytest.raises(RuntimeError, match="injected failure"):
            cp.run(clips, fail_after_groups=3)
        m = cp._load_manifest()
        assert len(m["committed_groups"]) == 3
        # resume: only the remaining 3 groups run
        out = cp.run(clips)
        assert out["groups_validated_this_run"] == 3
        assert out["groups_committed"] == 6
        verdicts = cp.verdicts(spark)
        assert verdicts.count() == 6 * 2  # no dups, no missing
        assert verdicts.select("group_id").distinct().count() == 6

    def test_rollup_matches_direct_validation(self, spark, clips, tmp_path):
        store = str(tmp_path / "store2")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=4)
        cp.run(clips)
        roll = {(r["expectation_type"], r["domain"]): r
                for r in cp.rollup(spark).collect()}
        direct = validate(clips, self._suite())
        for evr in direct.results:
            key = (evr.expectation_config.expectation_type,
                   evr.expectation_config.kwargs["column"])
            assert roll[key]["unexpected_count"] == evr.result["unexpected_count"]
            assert roll[key]["element_count"] == evr.result["element_count"]
            assert roll[key]["success"] == evr.success

    def test_idempotent_rerun(self, spark, clips, tmp_path):
        store = str(tmp_path / "store3")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=3)
        cp.run(clips)
        out2 = cp.run(clips)  # everything committed — nothing re-validated
        assert out2["groups_validated_this_run"] == 0
        assert cp.verdicts(spark).count() == 3 * 2

    def test_rollup_recomputes_global_mostly(self, spark, clips, tmp_path):
        """A mostly-expectation can pass globally while single groups dip
        below the threshold — the rollup must use summed counts, not
        AND-of-groups."""
        store = str(tmp_path / "store4")
        n = clips.count()
        nulls = clips.where("clip_id IS NULL").count()
        global_ratio = (n - nulls) / n
        # pick mostly between the global ratio and the worst group's ratio
        suite = ExpectationSuite("m").add(
            "expect_column_values_to_not_be_null", column="clip_id",
            mostly=round(global_ratio - 1e-6, 6))
        cp = Checkpoint(store, suite, group_key="sr_hz", n_groups=5)
        cp.run(clips)
        roll = cp.rollup(spark).collect()[0]
        assert roll["success"]  # global verdict from summed counts
        direct = validate(clips, suite)
        assert roll["success"] == direct.results[0].success


class TestRollupDecomposability:
    """Only group-local expectations may use the summed-counts global
    recompute; uniqueness/window/z-score keep AND-of-groups unless the
    grouping makes them group-local (checkpoint._counts_are_global)."""

    def test_counts_are_global_rules(self):
        from sparkcheck.checkpoint import _counts_are_global as g
        assert g("map", {}, "k", "hash")
        assert g("audio", {}, "k", "hash")
        assert not g("map_dependent", {}, "k", "hash")  # z-score: never
        # uniqueness: global only when the group key is a checked column
        assert g("map_unique", {"column": "k"}, "k", "hash")
        assert not g("map_unique", {"column": "other"}, "k", "hash")
        assert g("map_unique", {"column_list": ["a", "k"]}, "k", "hash")
        assert not g("map_unique", {"column_list": ["a", "b"]}, "k", "hash")
        # window: global only when windowed by the group key
        assert g("map_window", {"group_by": "k"}, "k", "hash")
        assert not g("map_window", {}, "k", "hash")
        assert not g("map_window", {"group_by": "other"}, "k", "hash")

    def test_cross_group_duplicates_not_masked(self, spark, tmp_path):
        """Duplicates of column B spanning two hash-groups of column A are
        invisible per-group; the rollup must NOT recompute a 'pass' from
        summed counts (mostly stays NULL -> AND-of-groups path)."""
        df = spark.createDataFrame(
            [(i, i % 50) for i in range(100)], "a bigint, b bigint")
        suite = ExpectationSuite("u").add(
            "expect_column_values_to_be_unique", column="b")
        store = str(tmp_path / "xgdup")
        cp = Checkpoint(store, suite, group_key="a", n_groups=4)
        cp.run(df)
        v = cp.verdicts(spark).collect()
        assert all(r["mostly"] is None for r in v)  # not count-decomposable
        # whole-table validation sees all 100 duplicate-marked rows
        assert not validate(df, suite).results[0].success

    def test_unique_on_group_key_is_count_based(self, spark, clips, tmp_path):
        suite = ExpectationSuite("u").add(
            "expect_column_values_to_be_unique", column="clip_id")
        store = str(tmp_path / "ukey")
        cp = Checkpoint(store, suite, group_key="clip_id", n_groups=4)
        cp.run(clips)
        v = cp.verdicts(spark).collect()
        assert all(r["mostly"] is not None for r in v)
        roll = cp.rollup(spark).collect()[0]
        direct = validate(clips, suite).results[0]
        assert roll["unexpected_count"] == direct.result["unexpected_count"]
        assert roll["success"] == direct.success

    def test_store_schema_explicit_and_versioned(self, spark, tmp_path):
        """A suite with no count-based expectations still writes float64
        `mostly` (no null-typed parquet column), and the manifest carries the
        store format version; a legacy store is rejected."""
        import json as _json
        import pyarrow.parquet as pq

        from sparkcheck.checkpoint import STORE_FORMAT_VERSION
        df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                                   "a bigint, v double")
        suite = ExpectationSuite("agg").add(
            "expect_column_mean_to_be_between", column="v",
            min_value=0, max_value=100)
        store = str(tmp_path / "ver")
        cp = Checkpoint(store, suite, group_key="a", n_groups=2)
        cp.run(df)
        m = cp._load_manifest()
        assert m["format_version"] == STORE_FORMAT_VERSION
        f = pq.read_table(store + "/verdicts/group-0.parquet")
        assert f.schema.field("mostly").type == "double"
        assert f.schema.field("group_id").type == "string"
        # legacy (unversioned) manifest is refused
        mpath = store + "/checkpoint_manifest.json"
        legacy = dict(m)
        legacy.pop("format_version")
        with open(mpath, "w") as fh:
            _json.dump(legacy, fh)
        with pytest.raises(ValueError, match="format_version"):
            Checkpoint(store, suite, group_key="a", n_groups=2)._load_manifest()

    def test_column_mode_cardinality_guard(self, spark, tmp_path):
        df = spark.createDataFrame([(i,) for i in range(500)], "a bigint")
        suite = ExpectationSuite("g").add(
            "expect_column_values_to_not_be_null", column="a")
        cp = Checkpoint(str(tmp_path / "card"), suite, group_key="a",
                        group_mode="column", max_groups=100)
        with pytest.raises(ValueError, match="max_groups"):
            cp.run(df)


class TestAudioFeatures:
    def test_extract_features_sine_rms(self, spark):
        from sparkcheck.pipeline.audio_features import extract_audio_features
        clips = generate_audio_clips(spark, 500, clean=True, num_partitions=2)
        feats = extract_audio_features(clips).collect()
        assert len(feats) == 500
        by_id = {r["clip_id"]: r for r in feats}
        r0 = by_id["clip-0000000000"]
        # amplitude-0.5 sine: rms ~ 0.5/sqrt(2), peak ~ 0.5, no clipping
        assert abs(r0["rms"] - 0.5 / 2 ** 0.5) < 0.01
        assert abs(r0["peak"] - 0.5) < 0.01
        assert r0["clipping_ratio"] == 0.0
        assert r0["decode_ok"]
        # header sr equals the metadata column for clean clips
        metas = {r["clip_id"]: r["sr_hz"] for r in clips.select("clip_id", "sr_hz").collect()}
        for cid, row in by_id.items():
            assert row["header_sr"] == metas[cid]
            assert abs(row["header_dur_ms"] - 1000.0 * row["n_samples"] / row["header_sr"]) < 1e-6

    def test_frame_rms(self, spark):
        from sparkcheck.pipeline.audio_features import frame_rms
        clips = generate_audio_clips(spark, 50, clean=True, num_partitions=2)
        fr = frame_rms(clips, frame_ms=25, hop_ms=10, max_frames=5)
        rows = fr.collect()
        assert len(rows) > 0
        per_clip = {}
        for r in rows:
            per_clip.setdefault(r["clip_id"], []).append(r)
            assert 0.0 <= r["rms"] <= 1.0
        assert all(len(v) <= 5 for v in per_clip.values())
        # frames are indexed 0..k with 10ms hops
        one = sorted(per_clip[rows[0]["clip_id"]], key=lambda r: r["frame_idx"])
        assert [r["start_ms"] for r in one] == [10 * i for i in range(len(one))]

    def test_header_match_expectation_closed_form(self, spark):
        import numpy as np
        from sparkcheck.io import (BADSR_MOD, BADSR_REM, NULLBYTES_MOD, NULLBYTES_REM)
        n = 4000
        dirty = generate_audio_clips(spark, n, num_partitions=4)
        suite = ExpectationSuite("hdr").add(
            "expect_audio_header_to_match_metadata")
        r = validate(dirty, suite).results[0]
        i = np.arange(n)
        want = int(((i % BADSR_MOD == BADSR_REM)
                    & ~(i % NULLBYTES_MOD == NULLBYTES_REM)).sum())
        assert r.result["unexpected_count"] == want
        assert r.result["element_count"] == n
        # clean twin: zero mismatches
        clean = generate_audio_clips(spark, 1000, clean=True, num_partitions=2)
        r2 = validate(clean, suite).results[0]
        assert r2.result["unexpected_count"] == 0 and r2.success

    def test_pcm_duration_expectation_closed_form(self, spark):
        """Pure-Catalyst duration-vs-metadata check: closed-form parity on
        the dirty fixture (corrupted-sr sites fail, NULL bytes are missing),
        tamper detection, and a plan with ZERO python eval nodes."""
        from pyspark.sql import functions as F
        from sparkcheck.io import expected_pcm_duration_summary
        n = 4000
        dirty = generate_audio_clips(spark, n, num_partitions=4).withColumn(
            "dur_capped", F.least(F.col("dur_ms"), F.lit(120)).cast("int"))
        suite = ExpectationSuite("dur").add(
            "expect_audio_pcm_duration_to_match_metadata",
            dur_column="dur_capped")
        r = validate(dirty, suite).results[0]
        want = expected_pcm_duration_summary(n)
        assert r.result["element_count"] == want["element_count"]
        assert r.result["missing_count"] == want["missing_count"]
        assert r.result["unexpected_count"] == want["unexpected_count"]
        # tampered metadata: +10ms on 7 rows is outside the 1ms tolerance
        tampered = dirty.withColumn(
            "dur_capped",
            F.when(F.col("dur_ms") % 100 < 1,
                   F.col("dur_capped") + 10).otherwise(F.col("dur_capped")))
        r2 = validate(tampered, suite).results[0]
        assert r2.result["unexpected_count"] > r.result["unexpected_count"]
        # the condition must be pure Catalyst: no Arrow/python eval in plan
        from sparkcheck.planner import compile_suite
        plan = compile_suite(suite.expectations)
        (domain,) = plan.domains.values()
        exprs = [domain.slot_table.exprs[a] for a in
                 domain.slot_table.exprs]
        agg_plan = dirty.agg(*[e.alias(f"c{i}")
                               for i, e in enumerate(exprs)])
        text = agg_plan._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in text and "mapInPandas" not in text

    def test_snr_hash_prescreen_matches_full_decode(self, spark):
        from sparkcheck.io import generate_audio_clips
        dirty = generate_audio_clips(spark, 3000, num_partitions=4)
        clean = generate_audio_clips(spark, 3000, clean=True, num_partitions=4)
        def run(prescreen):
            suite = ExpectationSuite("snr").add(
                "expect_audio_snr_vs_reference_to_be_above",
                reference_table="ref", min_snr_db=30.0,
                hash_prescreen=prescreen)
            return validate(dirty, suite, tables={"ref": clean}).results[0]
        a, b = run(True), run(False)
        assert a.result["unexpected_count"] == b.result["unexpected_count"]
        assert a.result["element_count"] == b.result["element_count"]
        assert a.success == b.success
        assert a.result["details"]["strategy"] == "hash_prescreen"
        assert b.result["details"]["strategy"] == "full_decode"
        assert len(a.result["partial_unexpected_list"]) > 0 \
            or a.result["unexpected_count"] == 0

    def test_snr_branches_agree(self, spark, audio_pair, monkeypatch):
        """One fixture, four SNR paths: the isin-pushdown decode (default),
        the broadcast semi-join past the key cap (max_pushdown_keys=1 < the
        fixture's 2 mismatches), a stored hash column and the full decode
        agree on the verdict and counts, and the three prescreen paths on
        the details. Samples list the bad-SNR keys first, then the
        missing-reference keys in the order filter().limit(k) over the
        prescreen join gives them. BOOLEAN_ONLY collects no sample row: the
        prescreen returns the count row and the mismatch keys only."""
        from collections import Counter

        import pyspark.sql.classic.dataframe as CD
        from pyspark.sql import functions as F

        import sparkcheck.metrics.audio as audio
        dirty, ref = audio_pair

        def hashed(df):
            return df.withColumn("payload_h", F.when(
                F.col("bytes").isNotNull(), F.xxhash64("bytes")))

        def run(d, r, rf="SUMMARY", **kw):
            suite = ExpectationSuite("snr").add(
                "expect_audio_snr_vs_reference_to_be_above",
                reference_table="ref", min_snr_db=30.0, **kw)
            return validate(d, suite, tables={"ref": r},
                            result_format=rf).results[0]

        runs = {"pushdown": run(dirty, ref),
                "beyond_cap": run(dirty, ref, max_pushdown_keys=1),
                "stored_hash": run(hashed(dirty), hashed(ref),
                                   hash_column="payload_h"),
                "full_decode": run(dirty, ref, hash_prescreen=False)}
        base = runs["pushdown"].result
        assert base["unexpected_count"] == 5  # 2 corrupted + 3 without ref
        for name, evr in runs.items():
            assert (evr.result["element_count"], evr.result["unexpected_count"],
                    evr.success) == (2000, 5, False), name
        first = base["details"]
        assert (first["hash_mismatch_count"], first["missing_reference_count"]) == (2, 3)
        for name in ("beyond_cap", "stored_hash"):
            d = runs[name].result["details"]
            assert d["hash_mismatch_count"] == 2, name
            assert d["missing_reference_count"] == 3, name
            assert d["mean_mismatch_snr_db"] == pytest.approx(
                first["mean_mismatch_snr_db"], abs=1e-9), name
        samples = base["partial_unexpected_list"]
        assert Counter(samples) == Counter(
            runs["beyond_cap"].result["partial_unexpected_list"])
        hj = audio.hash_prescreen_join(dirty, ref, "clip_id", "bytes", None, None)
        mismatched = {r["__k"] for r in hj.filter(
            F.col("__nn") & F.col("__has_ref")
            & ~F.coalesce(F.col("__same"), F.lit(False))).collect()}
        no_ref = [r["__k"] for r in hj.filter(F.col("__nn") & ~F.col("__has_ref"))
                  .select("__k").limit(20).collect()]
        assert set(samples[:2]) == mismatched and len(mismatched) == 2
        assert samples[2:] == no_ref and len(no_ref) == 3

        collect, collected = CD.DataFrame.collect, []
        run_snr_item = audio.run_snr_item

        def counted(self):
            rows = collect(self)
            collected.append(len(rows))
            return rows

        def traced(*a, **kw):
            monkeypatch.setattr(CD.DataFrame, "collect", counted)
            try:
                return run_snr_item(*a, **kw)
            finally:
                monkeypatch.setattr(CD.DataFrame, "collect", collect)

        monkeypatch.setattr(audio, "run_snr_item", traced)
        evr = run(dirty, ref, rf="BOOLEAN_ONLY")
        assert evr.success is False
        assert "partial_unexpected_list" not in (evr.result or {})
        # the count row + 2 mismatch keys, then the 2 decoded pairs
        assert collected == [1 + 2, 2], collected


class TestColumnModeCheckpoint:
    def test_column_groups_resume_and_partition_verdicts(self, spark, tmp_path):
        clips = generate_audio_clips(spark, 6000, with_bytes=False, num_partitions=4)
        suite = (ExpectationSuite("cg")
                 .add("expect_column_values_to_not_be_null", column="clip_id", mostly=0.99)
                 .add("expect_column_values_to_be_between",
                      column="sr_hz", min_value=8000, max_value=48000, mostly=0.99))
        store = str(tmp_path / "colstore")
        cp = Checkpoint(store, suite, group_key="codec", group_mode="column")
        with pytest.raises(RuntimeError):
            cp.run(clips, fail_after_groups=2)
        out = cp.run(clips)  # resume
        n_codecs = clips.select("codec").distinct().count()
        assert out["groups_committed"] == n_codecs
        assert out["groups_validated_this_run"] == n_codecs - 2
        v = cp.verdicts(spark)
        assert v.count() == n_codecs * 2
        # rollup counts equal a direct global validation
        roll = {r["expectation_type"]: r for r in cp.rollup(spark).collect()}
        direct = validate(clips, suite)
        for evr in direct.results:
            et = evr.expectation_config.expectation_type
            assert roll[et]["unexpected_count"] == evr.result["unexpected_count"]
            assert roll[et]["success"] == evr.success

    def test_partition_col_rollup_matches_groupby(self, spark):
        clips = generate_audio_clips(spark, 5000, with_bytes=False, num_partitions=4)
        suite = ExpectationSuite("pc").add(
            "expect_column_values_to_be_between",
            column="sr_hz", min_value=8000, max_value=48000, mostly=0.99)
        res = validate(clips, suite, per_partition=True, partition_col="codec")
        verdicts = {v["partition_id"]: v for v in res.meta["partition_verdicts"]}
        by_codec = {r["codec"]: r["u"] for r in clips.groupBy("codec").agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).sum(
                __import__("pyspark.sql.functions", fromlist=["F"]).when(
                    ~__import__("pyspark.sql.functions", fromlist=["F"]).col("sr_hz").between(8000, 48000), 1
                ).otherwise(0)).alias("u")).collect()}
        assert set(verdicts) == set(by_codec)
        for codec, u in by_codec.items():
            assert verdicts[codec]["unexpected_count"] == int(u or 0)


class TestSnapshotIO:
    def test_snapshot_commit_append_and_time_travel(self, spark, tmp_path):
        from sparkcheck.io import read_table, snapshots, write_table
        path = str(tmp_path / "tbl")
        df1 = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
        s1 = write_table(df1, path)
        df2 = spark.range(100, 150).selectExpr("id", "id * 2 AS v")
        s2 = write_table(df2, path, mode="append")
        # current snapshot = union
        cur, m = read_table(spark, path)
        assert cur.count() == 150
        assert m["snapshot_id"] == s2 and m["lineage"] == [s2, s1]
        # time travel to the first snapshot
        old, m1 = read_table(spark, path, snapshot_id=s1)
        assert old.count() == 100 and m1["snapshot_id"] == s1
        # overwrite commit resets lineage
        s3 = write_table(spark.range(5).selectExpr("id", "id AS v"), path)
        cur3, m3 = read_table(spark, path)
        assert cur3.count() == 5 and m3["parent"] == s2 and m3["lineage"] == [s3]
        assert [s["id"] for s in snapshots(path)] == [s1, s2, s3]
        # snapshots are immutable
        with pytest.raises(ValueError):
            write_table(df1, path, snapshot_id=s1)

    def test_checkpoint_carries_snapshot_lineage(self, spark, tmp_path):
        from sparkcheck.io import read_table, write_table
        path = str(tmp_path / "tbl2")
        clips = generate_audio_clips(spark, 2000, with_bytes=False, num_partitions=2)
        sid = write_table(clips, path)
        df, manifest = read_table(spark, path)
        suite = ExpectationSuite("s").add(
            "expect_column_values_to_not_be_null", column="clip_id", mostly=0.9)
        store = str(tmp_path / "st")
        cp = Checkpoint(store, suite, group_key="clip_id", n_groups=2)
        cp.run(df, snapshot_id=manifest["snapshot_id"])
        v = cp.verdicts(spark).collect()
        assert {r["snapshot_id"] for r in v} == {sid}


class TestProfileDrift:
    def test_profile_driven_drift_detection_end_to_end(self, spark):
        """North-star loop: profile a clean snapshot once -> generate a
        bounds+drift suite -> a later snapshot with shifted duration
        distribution (mu + 0.3) fails the KL/PSI checks while an unshifted
        snapshot passes."""
        from sparkcheck import build_reference_profile, suite_from_profile, validate
        baseline = generate_audio_clips(spark, 20_000, clean=True,
                                        with_bytes=False, num_partitions=4)
        profile = build_reference_profile(baseline, ["dur_ms", "sr_hz"], quantiles=[])
        suite = suite_from_profile(profile, drift_threshold=0.05)

        ok = generate_audio_clips(spark, 20_000, clean=True, seed=43,
                                  with_bytes=False, num_partitions=4)
        res_ok = validate(ok, suite)
        drift_ok = [r for r in res_ok.results
                    if "kl_divergence" in r.expectation_config.expectation_type
                    and r.expectation_config.kwargs["column"] == "dur_ms"]
        assert drift_ok and all(r.success for r in drift_ok)

        drifted = generate_audio_clips(spark, 20_000, clean=True, seed=43,
                                       with_bytes=False, num_partitions=4,
                                       dur_drift=0.3)
        res_bad = validate(drifted, suite)
        bad = {r.expectation_config.expectation_type: r for r in res_bad.results
               if r.expectation_config.kwargs.get("column") == "dur_ms"}
        assert not bad["expect_column_kl_divergence_to_be_less_than"].success
        assert not bad["expect_column_psi_to_be_less_than"].success
        assert not res_bad.success

    def test_incremental_delta_validation(self, spark, tmp_path):
        """Append-snapshot deltas validate incrementally: each epoch's
        verdicts cover exactly the new rows; summed counts equal a full
        validation of the final snapshot."""
        from sparkcheck.io import read_table, read_table_delta, write_table
        path = str(tmp_path / "inc")
        s1 = write_table(
            generate_audio_clips(spark, 4000, with_bytes=False, num_partitions=2), path)
        suite = ExpectationSuite("inc").add(
            "expect_column_values_to_be_between",
            column="sr_hz", min_value=8000, max_value=48000, mostly=0.9)
        store = str(tmp_path / "store_inc")
        df1, m1 = read_table(spark, path)
        cp = Checkpoint(store, suite, group_key="clip_id", n_groups=2)
        cp.run(df1, snapshot_id=m1["snapshot_id"])

        # append 2000 more rows (different index range via offset trick)
        more = (generate_audio_clips(spark, 6000, with_bytes=False, num_partitions=2)
                .filter("clip_id IS NULL OR clip_id >= 'clip-0000004000'"))
        s2 = write_table(more, path, mode="append")
        delta, dm = read_table_delta(spark, path, since_snapshot_id=s1)
        assert dm["delta_dirs"] and dm["since"] == s1
        cp2 = Checkpoint(str(tmp_path / "store_inc2"), suite, group_key="clip_id", n_groups=2)
        cp2.run(delta, snapshot_id=s2)

        total_delta = delta.count()
        assert total_delta == more.count()
        full, _ = read_table(spark, path)
        v1 = cp.verdicts(spark).agg({"element_count": "sum"}).first()[0]
        v2 = cp2.verdicts(spark).agg({"element_count": "sum"}).first()[0]
        assert v1 + v2 == full.count()

        # empty delta when nothing new
        empty, em = read_table_delta(spark, path, since_snapshot_id=s2)
        assert empty.count() == 0 and em["delta_dirs"] == []

    def test_audio_snr_per_partition_verdicts_via_column_groups(self, spark, tmp_path):
        """Per-partition verdicts for the per-row audio invariant: column-mode
        checkpoint groups validate each codec partition separately, so even
        join-backed expectations get per-partition pass/fail rows."""
        dirty = generate_audio_clips(spark, 3000, num_partitions=4)
        clean = generate_audio_clips(spark, 3000, clean=True, num_partitions=4)
        suite = ExpectationSuite("snr").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0, mostly=0.9)
        store = str(tmp_path / "snr_groups")
        cp = Checkpoint(store, suite, group_key="codec", group_mode="column",
                        tables={"ref": clean})
        cp.run(dirty)
        v = cp.verdicts(spark).collect()
        n_codecs = dirty.select("codec").distinct().count()
        assert len(v) == n_codecs
        total = sum(r["unexpected_count"] for r in v)
        direct = validate(dirty, suite, tables={"ref": clean}).results[0]
        assert total == direct.result["unexpected_count"]

    def test_snr_with_precomputed_hash_column(self, spark):
        """hash_column: the prescreen join runs on a stored ingest-time hash
        (no binary scan); results equal the on-the-fly-hash path."""
        from pyspark.sql import functions as F
        from sparkcheck.io import generate_audio_clips
        dirty = generate_audio_clips(spark, 3000, num_partitions=4).withColumn(
            "payload_h", F.when(F.col("bytes").isNotNull(), F.xxhash64("bytes")))
        clean = generate_audio_clips(spark, 3000, clean=True, num_partitions=4).withColumn(
            "payload_h", F.when(F.col("bytes").isNotNull(), F.xxhash64("bytes")))
        def run(**kw):
            suite = ExpectationSuite("snr").add(
                "expect_audio_snr_vs_reference_to_be_above",
                reference_table="ref", min_snr_db=30.0, **kw)
            return validate(dirty, suite, tables={"ref": clean}).results[0]
        a = run(hash_column="payload_h")
        b = run()
        assert a.result["unexpected_count"] == b.result["unexpected_count"]
        assert a.result["element_count"] == b.result["element_count"]
        assert a.success == b.success

    def test_payload_match_counts_and_hash_column_parity(self, spark):
        """expect_audio_payload_to_match_reference: prescreen-only byte
        identity — counts match the closed form, and the stored-hash ingest
        path returns the identical verdict with zero binary read."""
        from pyspark.sql import functions as F
        from sparkcheck.io import expected_payload_summary, generate_audio_clips
        n = 3000
        dirty = generate_audio_clips(spark, n, num_partitions=4)
        clean = generate_audio_clips(spark, n, clean=True, num_partitions=4)
        exp = expected_payload_summary(n)

        def run(d, c, **kw):
            suite = ExpectationSuite("pm").add(
                "expect_audio_payload_to_match_reference",
                reference_table="ref", **kw)
            return validate(d, suite, tables={"ref": c}).results[0]
        r = run(dirty, clean)
        assert r.result["element_count"] == exp["element_count"]
        assert r.result["unexpected_count"] == exp["unexpected_count"]
        assert r.success == exp["success"]
        assert r.result["details"]["strategy"] == "payload_hash_match"
        dh = dirty.withColumn("payload_h", F.when(
            F.col("bytes").isNotNull(), F.xxhash64("bytes")))
        ch = clean.withColumn("payload_h", F.when(
            F.col("bytes").isNotNull(), F.xxhash64("bytes")))
        r2 = run(dh, ch, hash_column="payload_h")
        assert r2.result["unexpected_count"] == r.result["unexpected_count"]
        assert r2.success == r.success

    def test_payload_match_asymmetric_stored_hash(self, spark):
        """Only ONE side carries a stored hash (xxhash64 ingest contract):
        the computed side must hash with xxhash64 alone — comparing crc32
        against a stored xxhash64 would flag every row and turn a
        byte-identical corpus into a false failure."""
        from pyspark.sql import functions as F
        from sparkcheck.io import generate_audio_clips
        n = 1000
        clips = generate_audio_clips(spark, n, clean=True, num_partitions=2)
        ref = (generate_audio_clips(spark, n, clean=True, num_partitions=2)
               .withColumn("payload_h", F.when(
                   F.col("bytes").isNotNull(), F.xxhash64("bytes"))))
        suite = ExpectationSuite("pm").add(
            "expect_audio_payload_to_match_reference",
            reference_table="ref", ref_hash_column="payload_h")
        r = validate(clips, suite, tables={"ref": ref}).results[0]
        assert r.result["unexpected_count"] == 0
        assert r.success

    def test_cross_run_evaluation_parameters(self, spark, tmp_path):
        """Reference URN-store mechanism, ours: yesterday's committed verdicts
        feed today's $PARAMETER kwargs (row-count equality across runs)."""
        from sparkcheck.checkpoint import parameters_from_verdicts
        clips = generate_audio_clips(spark, 3000, with_bytes=False, num_partitions=2)
        suite = ExpectationSuite("day1").add(
            "expect_column_values_to_not_be_null", column="clip_id", mostly=0.9)
        store = str(tmp_path / "day1")
        Checkpoint(store, suite, group_key="clip_id", n_groups=2).run(clips)
        params = parameters_from_verdicts(spark, store)
        assert params["table.row_count"] == 3000

        today = generate_audio_clips(spark, 3000, with_bytes=False, num_partitions=2)
        s2 = ExpectationSuite("day2").add(
            "expect_table_row_count_to_equal", value={"$PARAMETER": "table.row_count"})
        assert validate(today, s2, evaluation_parameters=params).success
        shrunk = today.limit(2000)
        assert not validate(shrunk, s2, evaluation_parameters=params).success


class TestRollupConfigCollision:
    def test_same_type_same_column_not_merged(self, spark, tmp_path):
        """Two expectations of the same type on the same column but different
        kwargs must roll up separately (config_id), not as summed garbage."""
        df = spark.createDataFrame(
            [(i, 10000 + (i % 5) * 10000) for i in range(200)],
            "a bigint, sr_hz bigint")
        suite = (ExpectationSuite("cc")
                 .add("expect_column_values_to_be_between", column="sr_hz",
                      min_value=8000, max_value=48000, mostly=0.9)
                 .add("expect_column_values_to_be_between", column="sr_hz",
                      min_value=0, max_value=20000, mostly=0.1))
        store = str(tmp_path / "cc")
        cp = Checkpoint(store, suite, group_key="a", n_groups=4)
        cp.run(df)
        roll = cp.rollup(spark).collect()
        assert len(roll) == 2  # NOT merged into one (type, domain) row
        direct_res = validate(df, suite)
        got = sorted((r["unexpected_count"], r["success"]) for r in roll)
        want = sorted((int(e.result["unexpected_count"]), bool(e.success))
                      for e in direct_res.results)
        assert got == want


class TestSinglePassCheckpoint:
    def _suite(self):
        return (ExpectationSuite("sp")
                .add("expect_column_values_to_not_be_null", column="clip_id",
                     mostly=0.99)
                .add("expect_column_values_to_be_between", column="sr_hz",
                     min_value=8000, max_value=48000, mostly=0.99)
                .add("expect_column_values_to_be_unique", column="clip_id",
                     mostly=0.99)
                .add("expect_column_mean_to_be_between", column="dur_ms",
                     min_value=0, max_value=10**9))

    def test_one_scan_rollup_matches_direct(self, spark, clips, tmp_path):
        store = str(tmp_path / "sp1")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=6)
        out = cp.run_single_pass(clips)
        assert out["groups_committed"] == 6
        v = cp.verdicts(spark)
        # map expectations: one row per group; unique + mean: one global row
        per_type = {r["expectation_type"]: r["cnt"] for r in
                    v.groupBy("expectation_type").count()
                    .withColumnRenamed("count", "cnt").collect()}
        assert per_type["expect_column_values_to_not_be_null"] == 6
        assert per_type["expect_column_values_to_be_between"] == 6
        assert per_type["expect_column_values_to_be_unique"] == 1
        assert per_type["expect_column_mean_to_be_between"] == 1
        roll = {r["expectation_type"]: r for r in cp.rollup(spark).collect()}
        direct = validate(clips, self._suite())
        for evr in direct.results:
            et = evr.expectation_config.expectation_type
            assert roll[et]["success"] == evr.success, et
            if "unexpected_count" in evr.result:
                assert roll[et]["unexpected_count"] == \
                    evr.result["unexpected_count"], et

    def test_single_pass_matches_per_group_run(self, spark, clips, tmp_path):
        suite = (ExpectationSuite("cmp")
                 .add("expect_column_values_to_not_be_null", column="clip_id")
                 .add("expect_column_values_to_be_between", column="sr_hz",
                      min_value=8000, max_value=48000))
        a = Checkpoint(str(tmp_path / "a"), suite, group_key="clip_id", n_groups=5)
        a.run(clips)
        b = Checkpoint(str(tmp_path / "b"), suite, group_key="clip_id", n_groups=5)
        b.run_single_pass(clips)
        key = ["expectation_type", "domain"]
        ra = {tuple(r[k] for k in key): (r["element_count"], r["unexpected_count"], r["success"])
              for r in a.rollup(spark).collect()}
        rb = {tuple(r[k] for k in key): (r["element_count"], r["unexpected_count"], r["success"])
              for r in b.rollup(spark).collect()}
        assert ra == rb
        # same per-group counts too (groups use the same hash bucketing)
        ga = {(r["group_id"], r["expectation_type"]): r["unexpected_count"]
              for r in a.verdicts(spark).collect()}
        gb = {(r["group_id"], r["expectation_type"]): r["unexpected_count"]
              for r in b.verdicts(spark).collect()}
        assert ga == gb

    def test_idempotent_after_commit(self, spark, clips, tmp_path):
        store = str(tmp_path / "sp2")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=4)
        cp.run_single_pass(clips)
        out2 = cp.run_single_pass(clips)
        assert out2["groups_validated_this_run"] == 0

    def test_refuses_store_with_partial_per_group_commits(self, spark, clips, tmp_path):
        """Crash a per-group run(), then retry with run_single_pass: the
        store holds committed group files that verdicts()/rollup() would
        read ALONGSIDE single-pass.parquet, double-counting those groups —
        the single-pass entry must refuse (ADVICE r2, checkpoint.py)."""
        import pytest
        store = str(tmp_path / "mixed")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=4)
        with pytest.raises(RuntimeError, match="injected failure"):
            cp.run(clips, fail_after_groups=2)
        cp2 = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=4)
        with pytest.raises(ValueError, match="double-count"):
            cp2.run_single_pass(clips)
        # the prescribed recovery — resume with run() — still works and
        # yields exactly one verdict row set (no dups)
        out = cp2.run(clips)
        assert out["groups_committed"] == 4
        v = cp2.verdicts(spark)
        assert v.groupBy("group_id", "config_id").count() \
            .filter("count > 1").count() == 0

    def test_fully_committed_per_group_store_is_noop(self, spark, clips, tmp_path):
        """A store fully committed by run() stays a harmless no-op under
        run_single_pass (nothing is written, so nothing double-counts)."""
        store = str(tmp_path / "full")
        cp = Checkpoint(store, self._suite(), group_key="clip_id", n_groups=3)
        cp.run(clips)
        before = cp.verdicts(spark).count()
        out = cp.run_single_pass(clips)
        assert out["groups_validated_this_run"] == 0
        assert cp.verdicts(spark).count() == before


class TestUrnParameters:
    def test_ge_suite_json_with_urn_runs_against_verdict_store(self, spark, tmp_path):
        """Drop-in GE suite compatibility (VERDICT r2 'What's missing' #2):
        a suite JSON whose $PARAMETER is a literal
        urn:great_expectations:validations:... string validates end-to-end
        against a committed verdict store."""
        import json
        from sparkcheck.checkpoint import parameters_from_verdicts
        from sparkcheck.types import ExpectationSuite as ES
        clips = generate_audio_clips(spark, 3000, with_bytes=False,
                                     num_partitions=2)
        day1 = ES("day1").add(
            "expect_column_values_to_not_be_null", column="clip_id",
            mostly=0.9)
        store = str(tmp_path / "day1")
        Checkpoint(store, day1, group_key="clip_id", n_groups=2).run(clips)
        params = parameters_from_verdicts(spark, store)

        # a GE-style suite JSON as exported by the reference, URN included
        suite_json = json.dumps({
            "expectation_suite_name": "day2",
            "expectations": [
                {"expectation_type": "expect_table_row_count_to_equal",
                 "kwargs": {"value": {
                     "$PARAMETER":
                         "urn:great_expectations:validations:day1:"
                         "expect_table_row_count_to_equal.result"
                         ".observed_value"}}},
                {"expectation_type": "expect_table_row_count_to_be_between",
                 "kwargs": {"max_value": {
                     "$PARAMETER":
                         "urn:great_expectations:validations:day1:"
                         "expect_column_values_to_not_be_null.result"
                         ".element_count:column=clip_id"}}},
            ]})
        s2 = ES.from_json(suite_json)
        res = validate(clips, s2, evaluation_parameters=params)
        assert res.success
        # and the same URN suite fails when the table shrinks
        assert not validate(clips.limit(2000), s2,
                            evaluation_parameters=params).results[0].success


class TestPayloadBatchGuard:
    """payload_batch_guard bounds parquet columnar batches by bytes for
    binary-scan actions: Spark's 4096-ROW default builds ~256 MB batches from
    64 KB payloads and anti-scales at high parallelism (GC thrash)."""

    CONF = "spark.sql.parquet.columnarReaderBatchSize"

    def test_sets_and_restores_when_unset(self, spark):
        from sparkcheck.metrics.audio import payload_batch_guard
        assert spark.conf.get(self.CONF, None) is None
        with payload_batch_guard(spark, 256):
            assert spark.conf.get(self.CONF) == "256"
        assert spark.conf.get(self.CONF, None) is None

    def test_restores_prior_value_even_on_error(self, spark):
        from sparkcheck.metrics.audio import payload_batch_guard
        spark.conf.set(self.CONF, "1024")
        try:
            with pytest.raises(RuntimeError):
                with payload_batch_guard(spark, 128):
                    assert spark.conf.get(self.CONF) == "128"
                    raise RuntimeError("boom")
            assert spark.conf.get(self.CONF) == "1024"
        finally:
            spark.conf.unset(self.CONF)

    def test_none_disables(self, spark):
        from sparkcheck.metrics.audio import payload_batch_guard
        with payload_batch_guard(spark, None):
            assert spark.conf.get(self.CONF, None) is None

    def test_snr_item_scoped_not_leaked(self, spark, clips, ref):
        """The SNR run uses the guard internally and must leave the session
        conf untouched afterwards."""
        from sparkcheck import ExpectationSuite, validate
        suite = ExpectationSuite("g").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0, mostly=0.5)
        validate(clips, suite, tables={"ref": ref})
        assert spark.conf.get(self.CONF, None) is None

    def test_arrow_guard_sets_and_restores(self, spark):
        from sparkcheck.metrics.audio import arrow_batch_guard
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prior = spark.conf.get(conf, None)
        with arrow_batch_guard(spark, 256):
            assert spark.conf.get(conf) == "256"
        assert spark.conf.get(conf, None) == prior

    def test_full_decode_leaves_confs_untouched(self, spark, clips, ref):
        from sparkcheck import ExpectationSuite, validate
        arrow_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prior = spark.conf.get(arrow_conf, None)
        suite = ExpectationSuite("fd").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0, mostly=0.5,
            hash_prescreen=False)
        validate(clips, suite, tables={"ref": ref})
        assert spark.conf.get(arrow_conf, None) == prior
        assert spark.conf.get(self.CONF, None) is None


class TestScopedInFilterThreshold:
    """VERDICT r3 #3: the isin-pushdown threshold override must restore the
    session conf even when an exception fires between the override and the
    decode actions (the old code set the conf BEFORE its try block)."""

    TH = "spark.sql.parquet.pushdown.inFilterThreshold"

    def test_restores_on_exception(self, spark):
        from sparkcheck.metrics.audio import _scoped_in_filter_threshold
        prior = spark.conf.get(self.TH, None)
        with pytest.raises(ValueError, match="boom"):
            with _scoped_in_filter_threshold(spark, 200):
                assert int(spark.conf.get(self.TH)) == 201
                raise ValueError("boom")  # e.g. snr_scores plan construction
        assert spark.conf.get(self.TH, None) == prior

    def test_noop_when_already_large(self, spark):
        from sparkcheck.metrics.audio import _scoped_in_filter_threshold
        spark.conf.set(self.TH, "5000")
        try:
            with _scoped_in_filter_threshold(spark, 200):
                assert spark.conf.get(self.TH) == "5000"  # untouched
            assert spark.conf.get(self.TH) == "5000"
        finally:
            spark.conf.unset(self.TH)

    def test_snr_run_with_mismatches_restores(self, spark):
        """End-to-end: a prescreen-mismatch run exercises the isin-pushdown
        branch; the threshold must be back to default afterwards."""
        from sparkcheck import ExpectationSuite, validate
        from sparkcheck.io import generate_audio_clips
        prior = spark.conf.get(self.TH, None)
        dirty = generate_audio_clips(spark, 1500, num_partitions=4)
        clean = generate_audio_clips(spark, 1500, clean=True, num_partitions=4)
        suite = ExpectationSuite("s").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0, mostly=0.5)
        res = validate(dirty, suite, tables={"ref": dirty.limit(0)} | {"ref": clean})
        assert res.results[0].result["unexpected_count"] > 0  # branch taken
        assert spark.conf.get(self.TH, None) == prior


class TestSaltedRepartitionDeterminism:
    """VERDICT r3 #4: the salt must hash stable row content, not
    monotonically_increasing_id() (whose value depends on the physical scan
    layout) — re-runs at different parallelism must partition identically."""

    def _placement(self, spark, n_input_parts, salt_cols=None):
        from pyspark.sql import functions as F

        from sparkcheck.metrics.audio import salted_repartition
        df = (spark.range(0, 500, numPartitions=n_input_parts)
              .select(F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
                      (F.col("id") % 3).cast("string").alias("codec")))
        out = salted_repartition(df, "codec", n_salts=8, num_partitions=16,
                                 salt_cols=salt_cols)
        rows = out.select("clip_id",
                          F.spark_partition_id().alias("pid")).collect()
        return {r["clip_id"]: r["pid"] for r in rows}

    def test_same_placement_across_parallelism(self, spark):
        a = self._placement(spark, 2)
        b = self._placement(spark, 16)
        assert a == b

    def test_salt_cols_variant_deterministic(self, spark):
        a = self._placement(spark, 3, salt_cols=["clip_id"])
        b = self._placement(spark, 12, salt_cols=["clip_id"])
        assert a == b

    def test_spreads_hot_key(self, spark):
        """The point of salting: one hot key must land on many partitions."""
        from pyspark.sql import functions as F

        from sparkcheck.metrics.audio import salted_repartition
        df = (spark.range(0, 2000, numPartitions=4)
              .select(F.col("id").cast("string").alias("clip_id"),
                      F.lit("wav").alias("codec")))  # 100% hot key
        out = salted_repartition(df, "codec", n_salts=8, num_partitions=16)
        n_parts = (out.select(F.spark_partition_id().alias("pid"))
                   .distinct().count())
        assert n_parts >= 4

    def test_default_salt_skips_binary_payload(self, spark):
        """ADVICE r4: the default salt must NOT hash a multi-KB binary
        payload per row just to pick a 4-bit bucket; the plan's xxhash64
        must reference only the non-binary columns."""
        from pyspark.sql import functions as F

        from sparkcheck.metrics.audio import salted_repartition
        df = (spark.range(0, 100)
              .select(F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
                      F.lit("wav").alias("codec"),
                      F.col("id").cast("string").cast("binary")
                      .alias("bytes")))
        out = salted_repartition(df, "codec", n_salts=8, num_partitions=4)
        plan = out._jdf.queryExecution().analyzed().toString()
        hash_call = plan[plan.index("xxhash64("):]
        hash_call = hash_call[:hash_call.index(")")]
        assert "bytes" not in hash_call, hash_call
        assert "clip_id" in hash_call and "codec" in hash_call


class TestCheckpointActions:
    """VERDICT r3 #7: post-commit action hooks — the reference's
    ActionListValidationOperator analogue (checkpoint/actions.py:711-933)
    without docs/notify deps. At-most-once per committed group; kill/resume
    semantics unchanged."""

    def _suite(self):
        from sparkcheck import ExpectationSuite
        return (ExpectationSuite("act")
                .add("expect_column_values_to_not_be_null", column="clip_id")
                .add("expect_column_values_to_be_between",
                     column="sr_hz", min_value=8000, max_value=48000,
                     mostly=0.99))

    @pytest.fixture()
    def clips4k(self, spark):
        from sparkcheck.io import generate_audio_clips
        return generate_audio_clips(spark, 4000, with_bytes=False,
                                    num_partitions=4)

    def test_actions_fire_per_committed_group(self, spark, clips4k, tmp_path):
        from sparkcheck.checkpoint import Checkpoint
        seen = []
        cp = Checkpoint(str(tmp_path / "s"), self._suite(),
                        group_key="clip_id", n_groups=5,
                        actions=[seen.append])
        cp.run(clips4k)
        assert len(seen) == 5
        assert sorted(p["group_id"] for p in seen) == [str(g) for g in range(5)]
        p = seen[0]
        assert p["suite_name"] == "act" and p["epoch"] == 1
        assert len(p["verdict_rows"]) == 2  # one per expectation
        assert {r["expectation_type"] for r in p["verdict_rows"]} == {
            "expect_column_values_to_not_be_null",
            "expect_column_values_to_be_between"}
        assert p["success"] == all(r["success"] for r in p["verdict_rows"])

    def test_actions_not_refired_on_resume(self, spark, clips4k, tmp_path):
        from sparkcheck.checkpoint import Checkpoint
        seen = []
        cp = Checkpoint(str(tmp_path / "s2"), self._suite(),
                        group_key="clip_id", n_groups=5,
                        actions=[seen.append])
        with pytest.raises(RuntimeError, match="injected failure"):
            cp.run(clips4k, fail_after_groups=2)
        assert len(seen) == 2
        cp.run(clips4k)  # resume: remaining 3 groups only
        assert len(seen) == 5
        assert sorted(p["group_id"] for p in seen) == [str(g) for g in range(5)]

    def test_crashing_action_never_loses_commit(self, spark, clips4k, tmp_path):
        """The manifest commit precedes the action, so an action crash is
        recoverable: the group stays committed and resume skips it."""
        from sparkcheck.checkpoint import Checkpoint

        def bomb(payload):
            raise OSError("notify endpoint down")

        cp = Checkpoint(str(tmp_path / "s3"), self._suite(),
                        group_key="clip_id", n_groups=3, actions=[bomb])
        with pytest.raises(OSError, match="notify endpoint down"):
            cp.run(clips4k)
        assert len(cp._load_manifest()["committed_groups"]) == 1
        cp.actions = []  # operator fixes the action, resumes
        out = cp.run(clips4k)
        assert out["groups_committed"] == 3
        assert cp.verdicts(spark).count() == 3 * 2  # no dups

    def test_single_pass_fires_once(self, spark, clips4k, tmp_path):
        from sparkcheck.checkpoint import Checkpoint
        seen = []
        cp = Checkpoint(str(tmp_path / "s4"), self._suite(),
                        group_key="clip_id", n_groups=4,
                        actions=[seen.append])
        cp.run_single_pass(clips4k)
        assert len(seen) == 1
        assert seen[0]["group_id"] == "__single_pass__"
        # per-group rows for both count-decomposable expectations
        assert len(seen[0]["verdict_rows"]) == 4 * 2


class TestDistributedSinglePass:
    """r4: run_single_pass(distributed_verdicts=True) writes per-group
    verdict rows from the executors (runner sink -> broadcast config_id
    join -> parquet in the store); rows must be identical to the collected
    path and the rollup must agree."""

    def _suite(self):
        from sparkcheck import ExpectationSuite
        return (ExpectationSuite("dsp")
                .add("expect_column_values_to_not_be_null", column="clip_id")
                .add("expect_column_values_to_be_between",
                     column="sr_hz", min_value=8000, max_value=48000,
                     mostly=0.99)
                .add("expect_column_mean_to_be_between",
                     column="dur_ms", min_value=100, max_value=30000)
                .add("expect_column_values_to_be_unique", column="clip_id"))

    @pytest.fixture()
    def clips6k(self, spark):
        from sparkcheck.io import generate_audio_clips
        return generate_audio_clips(spark, 6000, with_bytes=False,
                                    num_partitions=4)

    def _rows(self, spark, cp):
        out = {}
        for r in cp.verdicts(spark).collect():
            k = (r["group_id"], r["config_id"])
            out[k] = (r["expectation_type"], r["domain"], bool(r["success"]),
                      r["element_count"], r["nonnull_count"],
                      r["unexpected_count"], r["mostly"],
                      r["snapshot_id"], r["checkpoint_epoch"],
                      r["suite_name"])
        return out

    def test_distributed_matches_collected(self, spark, clips6k, tmp_path):
        """Also with a column-pair item, labelled by its column_A in both
        modes, and a map item whose fused pass raises (an unclosed regex,
        in a domain of its own), stored as one failed __global__ row in
        both modes next to the healthy domain's per-group rows."""
        from sparkcheck.checkpoint import Checkpoint

        def suite():
            return (self._suite()
                    .add("expect_column_pair_values_to_be_equal",
                         column_A="sr_hz", column_B="sr_hz")
                    .add("expect_column_values_to_match_regex",
                         column="clip_id", regex="(unclosed",
                         row_condition="sr_hz > 0",
                         condition_parser="spark"))
        a = Checkpoint(str(tmp_path / "collected"), suite(),
                       group_key="clip_id", n_groups=6)
        a.run_single_pass(clips6k)
        b = Checkpoint(str(tmp_path / "distributed"), suite(),
                       group_key="clip_id", n_groups=6)
        b.run_single_pass(clips6k, distributed_verdicts=True)
        ra, rb = self._rows(spark, a), self._rows(spark, b)
        assert set(ra) == set(rb)
        assert ra == rb
        # per-group rows for the three healthy map expectations on all 6
        # groups, plus __global__ rows for mean / unique / the bad regex
        groups = {g for g, _ in ra}
        assert groups == {str(i) for i in range(6)} | {"__global__"}
        by_type: dict = {}
        for (g, _), row in ra.items():
            by_type.setdefault(row[0], []).append((g, row[1], row[2]))
        assert sorted(by_type["expect_column_pair_values_to_be_equal"]) == [
            (str(i), "sr_hz", True) for i in range(6)]
        assert by_type["expect_column_values_to_match_regex"] == [
            ("__global__", "clip_id", False)]
        # the work sink is cleaned up after commit
        import os
        assert not os.path.exists(str(tmp_path / "distributed" /
                                      "_single_pass_work"))

    def test_rollup_agrees_with_direct_validation(self, spark, clips6k,
                                                  tmp_path):
        from sparkcheck import validate
        from sparkcheck.checkpoint import Checkpoint
        cp = Checkpoint(str(tmp_path / "d2"), self._suite(),
                        group_key="clip_id", n_groups=4)
        cp.run_single_pass(clips6k, distributed_verdicts=True)
        roll = {(r["expectation_type"], r["domain"]): r
                for r in cp.rollup(spark).collect()}
        direct = validate(clips6k, self._suite())
        for evr in direct.results:
            key = (evr.expectation_config.expectation_type,
                   evr.expectation_config.kwargs["column"])
            assert roll[key]["success"] == evr.success, key
            assert roll[key]["unexpected_count"] == \
                evr.result.get("unexpected_count", 0) or 0, key

    def test_duplicate_configs_do_not_double_count(self, spark, clips6k,
                                                   tmp_path):
        """ADVICE r4: two IDENTICAL expectation configs share one config_id;
        the sink-to-config join must not go many-to-many (4 store rows per
        group instead of 2, doubling rollup counts)."""
        from sparkcheck import ExpectationSuite
        from sparkcheck.checkpoint import Checkpoint
        suite = (ExpectationSuite("dup")
                 .add("expect_column_values_to_not_be_null", column="clip_id")
                 .add("expect_column_values_to_not_be_null", column="clip_id"))
        a = Checkpoint(str(tmp_path / "dupc"), suite,
                       group_key="clip_id", n_groups=3)
        a.run_single_pass(clips6k)
        b = Checkpoint(str(tmp_path / "dupd"), suite,
                       group_key="clip_id", n_groups=3)
        b.run_single_pass(clips6k, distributed_verdicts=True)
        ca = self._rows(spark, a)
        cb = self._rows(spark, b)
        na = a.verdicts(spark).count()
        nb = b.verdicts(spark).count()
        assert na == nb, (na, nb)
        assert ca == cb
        # both paths emit one store row per CONFIG INSTANCE (2 here); the
        # rollup keys on the shared config_id, so duplicate configs sum —
        # identically in both paths (2x6000). The r4 bug was the join going
        # many-to-many in the distributed path only (4 rows/group vs 2).
        ra = {(x["expectation_type"], x["domain"]): x["element_count"]
              for x in a.rollup(spark).collect()}
        rb = {(x["expectation_type"], x["domain"]): x["element_count"]
              for x in b.rollup(spark).collect()}
        assert ra == rb == {("expect_column_values_to_not_be_null",
                             "clip_id"): 12000}
