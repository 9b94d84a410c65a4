"""Incremental snapshot validation: merged sufficient statistics must equal
a full-table recompute, field for field, for every mergeable kind — and the
non-mergeable kinds must be declared, not silently wrong."""

import math
import os

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationSuite, validate
from sparkcheck.incremental import _KLL_MAX_K, _KLL_MIN_K, IncrementalCheckpoint
from sparkcheck.io import write_table


def _suite() -> ExpectationSuite:
    return (
        ExpectationSuite("inc")
        .add("expect_table_row_count_to_be_between", min_value=1,
             max_value=10_000)
        .add("expect_column_values_to_not_be_null", column="user")
        .add("expect_column_values_to_be_in_set", column="kind",
             value_set=["a", "b", "c"], mostly=0.5)
        .add("expect_column_values_to_be_between", column="v",
             min_value=0, max_value=500, mostly=0.8)
        .add("expect_column_mean_to_be_between", column="v",
             min_value=0, max_value=1000)
        .add("expect_column_min_to_be_between", column="v", min_value=-10)
        .add("expect_column_max_to_be_between", column="v", max_value=10_000)
        .add("expect_column_sum_to_be_between", column="v", min_value=0)
        .add("expect_column_stdev_to_be_between", column="v",
             min_value=0, max_value=10_000)
        .add("expect_column_distinct_values_to_be_in_set", column="kind",
             value_set=["a", "b", "c", "d"])
        .add("expect_column_kl_divergence_to_be_less_than", column="v",
             partition_object={"bins": [0.0, 100.0, 200.0, 400.0],
                               "weights": [0.3, 0.4, 0.3]},
             threshold=2.5)
        .add("expect_column_to_exist", column="kind")
    )


def _mkdf(spark, lo, hi, dup_user=False):
    """Deterministic integer-valued slice [lo, hi): integer sums make the
    merged mean/stddev arithmetic EXACTLY equal to the full recompute."""
    df = spark.range(lo, hi).select(
        F.col("id").alias("event"),
        F.when(F.col("id") % 17 == 3, None)
        .otherwise(F.concat(F.lit("u"), F.col("id") % (7 if dup_user else 1_000_000)))
        .alias("user"),
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("z")),
                     (F.col("id") % 4 + 1).cast("int")).alias("kind"),
        (F.col("id") % 601).cast("double").alias("v"),
    )
    return df


@pytest.fixture()
def snap_table(spark, tmp_path):
    """Three append snapshots of the same deterministic generator."""
    path = str(tmp_path / "snaptab")
    write_table(_mkdf(spark, 0, 1000), path, snapshot_id="s1")
    write_table(_mkdf(spark, 1000, 2500), path, snapshot_id="s2", mode="append")
    write_table(_mkdf(spark, 2500, 3000), path, snapshot_id="s3", mode="append")
    return path


def _by_key(result):
    out = {}
    for r in result.results:
        kw = r.expectation_config.kwargs
        key = (r.expectation_config.expectation_type,
               kw.get("column") or ",".join(kw.get("column_list", [])) or "")
        out[key] = r
    return out


def test_merged_equals_full_recompute(spark, tmp_path, snap_table):
    suite = _suite()
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    ran = inc.validate_table(spark, snap_table)
    assert ran["validated_now"] == ["s1", "s2", "s3"]

    merged = _by_key(inc.merged_result(spark))
    full_df = _mkdf(spark, 0, 3000)
    full = _by_key(validate(full_df, suite))

    assert len(merged) == len(full) == 12
    for key, m in merged.items():
        f = full[key]
        assert m.success == f.success, key
        for field in ("element_count", "missing_count", "unexpected_count"):
            if field in f.result:
                assert m.result.get(field) == f.result.get(field), (key, field)
        if "observed_value" in f.result:
            fo, mo = f.result["observed_value"], m.result["observed_value"]
            if isinstance(fo, float):
                assert mo == pytest.approx(fo, rel=1e-12), key
            elif key[0] != "expect_column_to_exist":
                assert mo == fo, key


def test_merged_verdict_flips_with_late_delta(spark, tmp_path):
    """A mean bound that holds on snapshot 1 must FAIL after an appended
    delta shifts the merged mean — the exact bug a wrong merge would hide."""
    path = str(tmp_path / "flip")
    write_table(spark.range(0, 100).select(
        (F.col("id") % 10).cast("double").alias("v"),
        F.lit("u").alias("user"), F.lit("a").alias("kind")), path,
        snapshot_id="s1")
    suite = ExpectationSuite("flip").add(
        "expect_column_mean_to_be_between", column="v", max_value=20.0)
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    inc.validate_table(spark, path)
    assert inc.merged_result().results[0].success is True

    write_table(spark.range(0, 100).select(
        F.lit(1000.0).alias("v"), F.lit("u").alias("user"),
        F.lit("a").alias("kind")), path, snapshot_id="s2", mode="append")
    inc.validate_table(spark, path)
    r = inc.merged_result().results[0]
    assert r.success is False
    # merged mean of 100x(0..9 cycle) + 100x1000 = (450 + 100000) / 200
    assert r.result["observed_value"] == pytest.approx(502.25)


def test_uniqueness_merges_as_hll_prescreen(spark, tmp_path):
    path = str(tmp_path / "uni")
    # s1: unique users; s2 re-appends the SAME users => cross-snapshot dups
    # that no per-delta exact check could see
    df1 = spark.range(0, 4000).select(
        F.concat(F.lit("u"), F.col("id")).alias("user"))
    write_table(df1, path, snapshot_id="s1")
    write_table(df1, path, snapshot_id="s2", mode="append")
    suite = ExpectationSuite("u").add(
        "expect_column_values_to_be_unique", column="user")
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    inc.validate_table(spark, path)
    r = inc.merged_result(spark).results[0]
    assert r.success is False
    assert r.result["details"]["strategy"] == "hll_prescreen_incremental"
    # HLL estimate of 4000 distinct among 8000 rows: est_dups ~ 4000
    assert r.result["unexpected_count"] == pytest.approx(4000, rel=0.05)

    # clean case: disjoint appends stay unique
    path2 = str(tmp_path / "uni2")
    write_table(df1, path2, snapshot_id="s1")
    write_table(spark.range(4000, 8000).select(
        F.concat(F.lit("u"), F.col("id")).alias("user")), path2,
        snapshot_id="s2", mode="append")
    inc2 = IncrementalCheckpoint(suite, str(tmp_path / "store2"))
    inc2.validate_table(spark, path2)
    assert inc2.merged_result(spark).results[0].success is True


def test_unsupported_kinds_are_declared_not_wrong(spark, tmp_path):
    suite = (ExpectationSuite("mix")
             .add("expect_column_values_to_not_be_null", column="user")
             .add("expect_column_quantile_values_to_be_between", column="v",
                  exact=True,
                  quantile_ranges={"quantiles": [0.5],
                                   "value_ranges": [[0, 1000]]})
             .add("expect_column_values_to_be_increasing", column="v"))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    reasons = {u["expectation_type"]: u["reason"] for u in inc.unsupported()}
    assert set(reasons) == {"expect_column_quantile_values_to_be_between",
                            "expect_column_values_to_be_increasing"}
    assert "exactness opt-in" in reasons[
        "expect_column_quantile_values_to_be_between"]
    with pytest.raises(ValueError, match="non-mergeable"):
        IncrementalCheckpoint(suite, str(tmp_path / "s2"), strict=True)

    path = str(tmp_path / "t")
    write_table(_mkdf(spark, 0, 100), path, snapshot_id="s1")
    inc.validate_table(spark, path)
    res = inc.merged_result()
    assert len(res.results) == 1  # only the mergeable one
    assert [u["expectation_type"] for u in
            res.meta["incremental"]["unsupported"]] == [
        "expect_column_quantile_values_to_be_between",
        "expect_column_values_to_be_increasing"]


def test_quantiles_merge_as_kll_sketch(spark, tmp_path):
    """Median/quantile expectations merge across snapshots via DataSketches
    KLL: the merged observed value must be within the sketch's declared
    normalized rank-error bound of a full recompute, and the exactness
    opt-ins must stay unsupported (test above). v cycles 0..600 so rank
    error translates to value error 1:1 per ~600 ranks."""
    path = str(tmp_path / "q")
    write_table(_mkdf(spark, 0, 1000), path, snapshot_id="s1")
    write_table(_mkdf(spark, 1000, 2500), path, snapshot_id="s2",
                mode="append")
    write_table(_mkdf(spark, 2500, 3000), path, snapshot_id="s3",
                mode="append")
    suite = (ExpectationSuite("q")
             .add("expect_column_median_to_be_between", column="v",
                  min_value=200.0, max_value=400.0)
             .add("expect_column_quantile_values_to_be_between", column="v",
                  quantile_ranges={"quantiles": [0.25, 0.75],
                                   "value_ranges": [[100.0, 200.0],
                                                    [400.0, 500.0]]}))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    assert inc.unsupported() == []
    inc.validate_table(spark, path)
    merged = _by_key(inc.merged_result(spark))
    full = _by_key(validate(_mkdf(spark, 0, 3000), suite))

    # KLL k=200: one-sided normalized rank error ~0.8% at 99% confidence;
    # 3000 rows over a 0..600 cycle => <= ~0.008 * 3000 ranks ~ 5 value
    # units per rank/5 rows => bound the value gap at 15 (3x the expectation)
    key_m = ("expect_column_median_to_be_between", "v")
    assert merged[key_m].success == full[key_m].success is True
    assert merged[key_m].result["observed_value"] == pytest.approx(
        full[key_m].result["observed_value"], abs=15)
    assert merged[key_m].result["details"]["strategy"] == "kll_sketch_merge"

    key_q = ("expect_column_quantile_values_to_be_between", "v")
    assert merged[key_q].success == full[key_q].success is True
    for mv, fv in zip(merged[key_q].result["observed_value"]["values"],
                      full[key_q].result["observed_value"]["values"]):
        assert mv == pytest.approx(fv, abs=15)

    # the stats file stays KB-sized with sketches in it
    import glob
    import os
    for p in glob.glob(os.path.join(str(tmp_path / "store"),
                                    "stats", "*.json")):
        assert os.path.getsize(p) < 64_000


def test_revalidation_is_idempotent_and_resumable(spark, tmp_path, snap_table):
    suite = _suite()
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(suite, store)
    inc.validate_table(spark, snap_table)
    before = inc.merged_result(spark)
    # a second walk validates nothing new and changes nothing
    assert inc.validate_table(spark, snap_table)["validated_now"] == []
    # a NEW IncrementalCheckpoint over the same store resumes seamlessly
    inc2 = IncrementalCheckpoint(suite, store)
    after = inc2.merged_result(spark)
    assert [(r.success, r.result.get("observed_value"))
            for r in before.results] == [
        (r.success, r.result.get("observed_value")) for r in after.results]


def test_suite_change_is_refused(spark, tmp_path, snap_table):
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(_suite(), store)
    inc.validate_table(spark, snap_table)
    other = ExpectationSuite("other").add(
        "expect_column_values_to_not_be_null", column="user")
    with pytest.raises(ValueError, match="different suite"):
        IncrementalCheckpoint(other, store).merged_result()


def test_categorical_drift_out_of_set_raises(spark, tmp_path):
    path = str(tmp_path / "cat")
    write_table(_mkdf(spark, 0, 100), path, snapshot_id="s1")  # kind has 'z'
    suite = ExpectationSuite("cat").add(
        "expect_column_kl_divergence_to_be_less_than", column="kind",
        partition_object={"values": ["a", "b", "c"],
                          "weights": [0.4, 0.3, 0.3]},
        threshold=2.0)
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    inc.validate_table(spark, path)
    with pytest.raises(ValueError, match="outside the expected set"):
        inc.merged_result()


def test_row_condition_domains_merge(spark, tmp_path):
    path = str(tmp_path / "rc")
    write_table(_mkdf(spark, 0, 1000), path, snapshot_id="s1")
    write_table(_mkdf(spark, 1000, 2000), path, snapshot_id="s2",
                mode="append")
    suite = ExpectationSuite("rc").add(
        "expect_column_values_to_be_between", column="v",
        min_value=0, max_value=100, mostly=0.1,
        row_condition='kind == "a"', condition_parser="spark")
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    inc.validate_table(spark, path)
    m = inc.merged_result().results[0]
    f = validate(_mkdf(spark, 0, 2000), suite).results[0]
    assert (m.success, m.result["element_count"],
            m.result["unexpected_count"]) == (
        f.success, f.result["element_count"], f.result["unexpected_count"])


def test_stats_file_is_small(spark, tmp_path, snap_table):
    """The per-snapshot artifact must stay KB-sized regardless of delta rows
    — that is the entire point at 10^12 rows."""
    inc = IncrementalCheckpoint(_suite(), str(tmp_path / "store"))
    inc.validate_table(spark, snap_table)
    for sid in ("s1", "s2", "s3"):
        sz = os.path.getsize(str(tmp_path / "store" / "stats" / f"{sid}.json"))
        assert sz < 16_384, sz


def test_frozen_reference_audio_counts_merge(spark, tmp_path):
    """Audio invariants merge across deltas when the reference table is
    frozen: per-delta prescreen joins + summed counts == one full run."""
    from sparkcheck.io import generate_audio_clips
    ref = generate_audio_clips(spark, 3000, clean=True, num_partitions=4)
    dirty = generate_audio_clips(spark, 3000, num_partitions=4)
    path = str(tmp_path / "clips")
    # split the dirty table into two append snapshots by a deterministic
    # predicate on clip_id hash (both halves keep their violations)
    h = F.abs(F.xxhash64(F.coalesce(F.col("clip_id"), F.lit("\x00")))) % 2
    write_table(dirty.filter(h == 0), path, snapshot_id="s1")
    write_table(dirty.filter(h == 1), path, snapshot_id="s2", mode="append")
    suite = (ExpectationSuite("audio")
             .add("expect_audio_snr_vs_reference_to_be_above",
                  reference_table="ref", min_snr_db=30.0, mostly=0.99)
             .add("expect_audio_header_to_match_metadata"))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"),
                                tables={"ref": ref}, frozen_reference=True)
    assert inc.unsupported() == []
    inc.validate_table(spark, path)
    merged = {r.expectation_config.expectation_type: r
              for r in inc.merged_result().results}
    full = {r.expectation_config.expectation_type: r
            for r in validate(dirty, suite, tables={"ref": ref}).results}
    for etype, f in full.items():
        m = merged[etype]
        assert m.success == f.success, etype
        assert m.result["unexpected_count"] == f.result["unexpected_count"]
        assert m.result["element_count"] == f.result["element_count"]


def test_frozen_reference_violation_is_detected(spark, tmp_path):
    """A reference-table row-count change between deltas must raise, not
    silently merge stale counts."""
    from sparkcheck.io import write_table as wt
    path = str(tmp_path / "t")
    d1 = spark.range(0, 50).select(F.concat(F.lit("u"), F.col("id")).alias("user"))
    wt(d1, path, snapshot_id="s1")
    wt(d1, path, snapshot_id="s2", mode="append")
    suite = ExpectationSuite("rc").add(
        "expect_table_row_count_to_equal_other_table", other_table_name="o")
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(suite, store, frozen_reference=True,
                                tables={"o": spark.range(100)})
    from sparkcheck.io import read_table, read_table_delta
    df1, _ = read_table(spark, path, snapshot_id="s1")
    inc.validate_delta(df1, snapshot_id="s1")
    # the reference GROWS between deltas -> merge must refuse
    inc2 = IncrementalCheckpoint(suite, store, frozen_reference=True,
                                 tables={"o": spark.range(130)})
    df2, _ = read_table_delta(spark, path, "s1", snapshot_id="s2")
    inc2.validate_delta(df2, snapshot_id="s2")
    with pytest.raises(ValueError, match="frozen_reference was violated"):
        inc2.merged_result()
    # and with a truly frozen reference of the right size it passes exactly
    inc3 = IncrementalCheckpoint(suite, str(tmp_path / "store2"),
                                 frozen_reference=True,
                                 tables={"o": spark.range(100)})
    inc3.validate_table(spark, path)
    r = inc3.merged_result().results[0]
    assert r.success is True and r.result["observed_value"] == 100


def test_audio_without_frozen_flag_is_unsupported(spark, tmp_path):
    suite = ExpectationSuite("a").add(
        "expect_audio_snr_vs_reference_to_be_above", reference_table="ref")
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    assert "frozen_reference" in inc.unsupported()[0]["reason"]


def test_overwrite_snapshot_resets_merge_base(spark, tmp_path):
    """The latest overwrite becomes the merge base; stats that predate it
    are refused loudly (they describe replaced rows)."""
    path = str(tmp_path / "ow")
    write_table(_mkdf(spark, 0, 300), path, snapshot_id="s1")
    write_table(_mkdf(spark, 300, 500), path, snapshot_id="s2", mode="append")
    suite = ExpectationSuite("rc").add(
        "expect_table_row_count_to_be_between", min_value=0)
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(suite, store)
    inc.validate_table(spark, path)
    assert inc.merged_result().results[0].result["observed_value"] == 500

    # the table is REPLACED: same store must refuse, fresh store must
    # validate from the overwrite base only
    write_table(_mkdf(spark, 0, 120), path, snapshot_id="s3")  # overwrite
    write_table(_mkdf(spark, 120, 150), path, snapshot_id="s4", mode="append")
    with pytest.raises(ValueError, match="overwrote the table"):
        inc.validate_table(spark, path)
    inc2 = IncrementalCheckpoint(suite, str(tmp_path / "store2"))
    assert inc2.validate_table(spark, path)["validated_now"] == ["s3", "s4"]
    assert inc2.merged_result().results[0].result["observed_value"] == 150


def test_streaming_microbatches_merge_as_deltas(spark, tmp_path):
    """incremental_stream: each microbatch is one fused stats pass; the
    merged result equals a batch validation of everything streamed, and a
    replayed batch id is a no-op (exactly-once without coordination)."""
    from sparkcheck.streaming import incremental_stream
    src = str(tmp_path / "src")
    _mkdf(spark, 0, 800).write.parquet(src)
    stream = (spark.readStream.schema(_mkdf(spark, 0, 1).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    suite = (ExpectationSuite("s")
             .add("expect_column_values_to_not_be_null", column="user")
             .add("expect_column_mean_to_be_between", column="v",
                  min_value=0, max_value=1000)
             .add("expect_column_values_to_be_in_set", column="kind",
                  value_set=["a", "b", "c"], mostly=0.5))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    q = incremental_stream(stream, inc,
                           checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = _by_key(inc.merged_result())
    full = _by_key(validate(_mkdf(spark, 0, 800), suite))
    for key, f in full.items():
        m = merged[key]
        assert m.success == f.success
        for fld in ("element_count", "unexpected_count"):
            if fld in f.result:
                assert m.result[fld] == f.result[fld], (key, fld)
    # replaying an already-committed batch id is a no-op
    before = len(inc._load_stats())
    r = inc.validate_delta(_mkdf(spark, 0, 10),
                           snapshot_id=sorted(
                               inc._load_manifest()["validated"])[0])
    assert r["skipped"] is True
    assert len(inc._load_stats()) == before


def test_high_cardinality_distinct_set_refused(spark, tmp_path):
    """A distinct-set statistic above MAX_DISTINCT_SET must refuse loudly at
    delta time — the KB-sized stats-file guarantee, not a silent blowup."""
    import sparkcheck.incremental as incmod
    suite = ExpectationSuite("ds").add(
        "expect_column_distinct_values_to_be_in_set", column="user",
        value_set=["u1"])
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"))
    big = spark.range(0, incmod.MAX_DISTINCT_SET + 500).select(
        F.concat(F.lit("u"), F.col("id")).alias("user"))
    with pytest.raises(ValueError, match="not incrementally mergeable"):
        inc.validate_delta(big, snapshot_id="s1")


def test_datetime_min_max_merge(spark, tmp_path):
    """ADVICE r4: a timestamp min/max fold is JSON-stored as str; the merged
    verdict with parse_strings_as_datetimes must decode it back instead of
    raising TypeError on str-vs-datetime comparison."""
    path = str(tmp_path / "dt")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"))
    write_table(mk(0, 500), path, snapshot_id="s1")
    write_table(mk(500, 1000), path, snapshot_id="s2", mode="append")
    suite = (ExpectationSuite("dt")
             .add("expect_column_max_to_be_between", column="ts",
                  min_value="2024-01-01 00:00:00",
                  max_value="2024-12-31 00:00:00",
                  parse_strings_as_datetimes=True)
             .add("expect_column_min_to_be_between", column="ts",
                  min_value="2023-12-31 00:00:00",
                  parse_strings_as_datetimes=True))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    inc.validate_table(spark, path)
    res = inc.merged_result()
    assert [r.success for r in res.results] == [True, True]
    # max over both snapshots is the last second of s2
    assert res.results[0].result["observed_value"] == "2024-01-01 00:16:39"

def test_date_min_max_merge_decodes_date_not_midnight(spark, tmp_path):
    """A DATE column's fold value is JSON-stored as 'YYYY-MM-DD'; the merge
    must decode it back to a date (str(date) == the stored form), not a
    midnight datetime — the merged observed_value rendering must match full
    validation's exactly."""
    path = str(tmp_path / "d")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.expr("date'2024-01-01' + make_interval(0,0,0,id)").alias("d"))
    write_table(mk(0, 50), path, snapshot_id="s1")
    write_table(mk(50, 100), path, snapshot_id="s2", mode="append")
    suite = (ExpectationSuite("d")
             .add("expect_column_max_to_be_between", column="d",
                  min_value="2024-01-01", max_value="2024-12-31",
                  parse_strings_as_datetimes=True)
             .add("expect_column_min_to_be_between", column="d",
                  min_value="2023-12-31", parse_strings_as_datetimes=True))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    inc.validate_table(spark, path)
    merged = inc.merged_result()
    full = validate(mk(0, 100), suite)
    assert [r.success for r in merged.results] == [
        r.success for r in full.results] == [True, True]
    assert [r.result["observed_value"] for r in merged.results] == [
        r.result["observed_value"] for r in full.results]


def test_decimal_min_max_sum_merge_equals_full(spark, tmp_path):
    """Decimal min/max/sum statistics fold as Decimals and merge to the
    verdicts and observed values of a full validation. The deltas' values
    differ in digit count, where a fold over their text would order them
    wrongly."""
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        (F.col("id") * 37 % 1009 / 4).cast("decimal(10,2)").alias("p"))
    suite = (ExpectationSuite("dec")
             .add("expect_column_min_to_be_between", column="p", min_value=0)
             .add("expect_column_max_to_be_between", column="p",
                  max_value=200)
             .add("expect_column_sum_to_be_between", column="p",
                  min_value=0, max_value=10_000))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    inc.validate_delta(mk(0, 3), snapshot_id="d1")    # 0.00, 9.25, 18.50
    inc.validate_delta(mk(3, 120), snapshot_id="d2")
    merged = inc.merged_result().results
    full = validate(mk(0, 120), suite).results
    assert [(r.success, r.result["observed_value"]) for r in merged] == [
        (r.success, r.result["observed_value"]) for r in full]
    assert [r.success for r in full] == [True, False, False]


def test_hll_merges_any_input_type(spark, tmp_path):
    """The HLL statistics take any input type: a compound (struct) key and
    DOUBLE columns validate as deltas and merge within the HLL bound of a
    full approximate validation of the union. Nulls stay out of the
    sketches."""
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        (F.col("id") % 40).alias("a"), (F.col("id") % 3).alias("b"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 97 / 4).alias("x"))
    suite = (ExpectationSuite("hll")
             .add("expect_compound_columns_to_be_unique",
                  column_list=["a", "b"], mostly=0.1)
             .add("expect_column_unique_value_count_to_be_between",
                  column="x", min_value=1, max_value=1000, approximate=True)
             .add("expect_column_proportion_of_unique_values_to_be_between",
                  column="x", min_value=0.01, approximate=True))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    inc.validate_delta(mk(0, 200), snapshot_id="d1")
    inc.validate_delta(mk(150, 400), snapshot_id="d2")
    merged = _by_key(inc.merged_result(spark))
    full = _by_key(validate(mk(0, 200).union(mk(150, 400)), suite,
                            unique_strategy="approx"))
    assert merged.keys() == full.keys()
    for key, f in full.items():
        m = merged[key]
        assert m.success == f.success is True, key
        field = ("observed_value" if "observed_value" in f.result
                 else "unexpected_count")
        # rsd 0.05: a standard error of at most 5% per estimate
        assert m.result[field] == pytest.approx(f.result[field], rel=0.15)
    assert merged[("expect_compound_columns_to_be_unique", "a,b")].result[
        "element_count"] == 450


def test_older_stats_format_is_refused(spark, tmp_path):
    """A stats file written in an older format is refused by name, before
    any of its statistics is read."""
    import json
    suite = ExpectationSuite("v").add(
        "expect_column_mean_to_be_between", column="v", max_value=1000)
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(suite, store, strict=True)
    inc.validate_delta(_mkdf(spark, 0, 50), snapshot_id="old")
    path = os.path.join(store, "stats", "old.json")
    with open(path) as f:
        stats = json.load(f)
    # the format-1 form of the mean's statistics
    stats["format_version"] = 1
    stats["domains"] = {did: {"inc::cnt::v": 50, "inc::sum::v": 1225.0}
                        for did in stats["domains"]}
    with open(path, "w") as f:
        json.dump(stats, f)
    with pytest.raises(ValueError, match="stats format mismatch in old"):
        inc.merged_result()


def test_allow_relative_error_sizes_kll_sketch(spark, tmp_path):
    """A positive allow_relative_error is honored as the caller's rank-error
    tolerance: k is derived from the inverted published KLL accuracy model
    (never below the default), an explicit kll_k= wins, and a tolerance the
    largest supported sketch cannot deliver is refused at classification
    time, not silently rounded down to the default."""
    from sparkcheck.incremental import (KLL_DEFAULT_K, _KLL_MAX_K, _kll_k_for)
    assert _kll_k_for({}) == KLL_DEFAULT_K
    # loose tolerance never drops below the default k (tighter is safe)
    assert _kll_k_for({"allow_relative_error": 0.5}) == KLL_DEFAULT_K
    k_tight = _kll_k_for({"allow_relative_error": 0.001})
    assert KLL_DEFAULT_K < k_tight <= _KLL_MAX_K
    assert _kll_k_for({"allow_relative_error": 0.001, "kll_k": 300}) == 300

    def q_suite(**extra):
        return ExpectationSuite("k").add(
            "expect_column_quantile_values_to_be_between", column="v",
            quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 600]]},
            **extra)

    # undeliverable tolerance -> declared unsupported (strict=True raises)
    with pytest.raises(ValueError, match="tighter than the largest"):
        IncrementalCheckpoint(q_suite(allow_relative_error=1e-6),
                              str(tmp_path / "s0"), strict=True)
    # deliverable tolerance -> merges, and the derived k is recorded
    inc = IncrementalCheckpoint(q_suite(allow_relative_error=0.001),
                                str(tmp_path / "s1"), strict=True)
    write_table(_mkdf(spark, 0, 500), str(tmp_path / "t"), snapshot_id="a")
    write_table(_mkdf(spark, 500, 1000), str(tmp_path / "t"),
                snapshot_id="b", mode="append")
    inc.validate_table(spark, str(tmp_path / "t"))
    r = inc.merged_result(spark).results[0]
    assert r.result["details"]["kll_k"] == k_tight
    full = validate(_mkdf(spark, 0, 1000), q_suite()).results[0]
    # k~5400 => <=0.1% of 1000 ranks => ~1 rank ~ 1 value unit; allow 3
    assert r.result["observed_value"]["values"][0] == pytest.approx(
        full.result["observed_value"]["values"][0], abs=3)


@pytest.mark.parametrize("kll_k", [0, -200, _KLL_MIN_K - 1, _KLL_MAX_K + 1,
                                   8.5, True, "200"])
def test_explicit_kll_k_out_of_range_is_a_config_error(spark, tmp_path,
                                                        kll_k):
    """An explicit kll_k the KLL sketch cannot take is refused when the
    checkpoint is configured, naming the option, in strict and lenient mode
    alike, instead of failing later inside the sketch aggregate."""
    suite = ExpectationSuite("k").add(
        "expect_column_quantile_values_to_be_between", column="v",
        quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 600]]},
        kll_k=kll_k)
    for strict in (True, False):
        with pytest.raises(ValueError, match=(
                rf"kll_k=.* must be an integer in \[{_KLL_MIN_K}, {_KLL_MAX_K}\]")):
            IncrementalCheckpoint(suite, str(tmp_path / "s"), strict=strict)


def test_explicit_kll_k_bounds_are_accepted():
    from sparkcheck.incremental import _kll_k_for
    assert _kll_k_for({"kll_k": _KLL_MIN_K}) == _KLL_MIN_K
    assert _kll_k_for({"kll_k": _KLL_MAX_K}) == _KLL_MAX_K


def test_missing_stored_statistic_refuses_partial_merge(spark, tmp_path):
    """A delta validated by an engine version that did not fold a statistic
    the current engine needs (e.g. median before KLL merging existed) must
    fail the merge loudly — merging only the sketches that exist would
    report partial-data verdicts as whole-table ones."""
    import glob
    import json as _json
    path = str(tmp_path / "t")
    write_table(_mkdf(spark, 0, 500), path, snapshot_id="s1")
    write_table(_mkdf(spark, 500, 1000), path, snapshot_id="s2",
                mode="append")
    suite = ExpectationSuite("m").add(
        "expect_column_median_to_be_between", column="v",
        min_value=0, max_value=600)
    store = str(tmp_path / "store")
    inc = IncrementalCheckpoint(suite, store, strict=True)
    inc.validate_table(spark, path)
    # simulate the older-engine artifact: strip the kll key from s1's stats
    [s1_file] = glob.glob(os.path.join(store, "stats", "s1.json"))
    with open(s1_file) as f:
        stats = _json.load(f)
    for dom in stats["domains"].values():
        for key in [k for k in dom if k.startswith("inc::kll::")]:
            del dom[key]
    with open(s1_file, "w") as f:
        _json.dump(stats, f)
    inc2 = IncrementalCheckpoint(suite, store, strict=True)
    with pytest.raises(ValueError, match="no stored statistic"):
        inc2.merged_result(spark)

def test_approximate_unique_proportion_merges(spark, tmp_path):
    """unique proportion merges with approximate=True: per-delta HLL
    sketches union losslessly across snapshots (overlapping values are NOT
    double-counted the way summed per-delta distinct counts would be);
    exact form stays declared-unsupported with a pointed message."""
    exact = ExpectationSuite("u").add(
        "expect_column_proportion_of_unique_values_to_be_between",
        column="v", min_value=0.5, max_value=1.0)
    with pytest.raises(ValueError, match="approximate=True"):
        IncrementalCheckpoint(exact, str(tmp_path / "s0"), strict=True)

    suite = ExpectationSuite("u").add(
        "expect_column_proportion_of_unique_values_to_be_between",
        column="v", min_value=0.5, max_value=1.0, approximate=True)
    path = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("v"))
    # s1 = [0,500), s2 = [250,750): 750 distinct over 1000 rows — a naive
    # sum of per-delta distincts would claim 1.0
    write_table(mk(0, 500), path, snapshot_id="s1")
    write_table(mk(250, 750), path, snapshot_id="s2", mode="append")
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    inc.validate_table(spark, path)
    r = inc.merged_result(spark).results[0]
    assert r.success
    assert r.result["observed_value"] == pytest.approx(0.75, rel=0.1)
    d = r.result["details"]
    assert d["strategy"] == "hll_union_incremental"
    assert d["nonnull_count"] == 1000
    assert d["approx_distinct"] == pytest.approx(750, rel=0.1)
    # full-validation parity: approximate=True uses approx_count_distinct
    # in the fused pass, so both paths carry the same declared tolerance
    full = validate(mk(0, 500).union(mk(250, 750)), suite).results[0]
    assert full.success
    assert r.result["observed_value"] == pytest.approx(
        full.result["observed_value"], rel=0.1)


# ---------------------------------------------------------------- pinned EVRs

_PINNED_EVRS = os.path.join(os.path.dirname(__file__), "data",
                            "incremental_merged_evrs.json")


def _pinned_suite() -> ExpectationSuite:
    """One expectation (at least) per merge strategy."""
    v_bins = {"bins": [0.0, 30.0, 60.0, 120.0], "weights": [0.3, 0.3, 0.4]}
    kinds = {"values": ["a", "b", "c", "z"],
             "weights": [0.25, 0.25, 0.25, 0.25]}
    return (
        ExpectationSuite("pinned")
        .add("expect_column_to_exist", column="kind")
        .add("expect_column_values_to_not_be_null", column="user",
             mostly=0.8)
        .add("expect_column_values_to_be_in_set", column="kind",
             value_set=["a", "b", "c"], mostly=0.5)
        .add("expect_column_values_to_be_between", column="v",
             min_value=0, max_value=90, row_condition='kind != "z"',
             condition_parser="spark")
        .add("expect_column_values_to_be_unique", column="user", mostly=0.5)
        .add("expect_column_mean_to_be_between", column="v", min_value=0,
             max_value=100)
        .add("expect_column_min_to_be_between", column="v", min_value=1)
        .add("expect_column_max_to_be_between", column="v", max_value=200)
        .add("expect_column_sum_to_be_between", column="v", min_value=0)
        .add("expect_column_stdev_to_be_between", column="v", min_value=0,
             max_value=20)
        .add("expect_column_unique_value_count_to_be_between", column="kind",
             min_value=1, max_value=3, approximate=True)
        .add("expect_column_median_to_be_between", column="v", min_value=0,
             max_value=100)
        .add("expect_column_quantile_values_to_be_between", column="v",
             quantile_ranges={"quantiles": [0.1, 0.5, 0.9],
                              "value_ranges": [[0, 20], [40, 60],
                                               [100, 200]]})
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="n", min_value=0.5, approximate=True)
        .add("expect_table_row_count_to_be_between", min_value=1,
             max_value=1000)
        .add("expect_table_row_count_to_equal", value=170)
        .add("expect_column_distinct_values_to_be_in_set", column="kind",
             value_set=["a", "b", "c", "z"])
        .add("expect_column_kl_divergence_to_be_less_than", column="v",
             partition_object=v_bins, threshold=0.5)
        .add("expect_column_psi_to_be_less_than", column="v",
             partition_object=v_bins, threshold=0.1)
        .add("expect_column_ks_statistic_to_be_less_than", column="v",
             partition_object=v_bins, threshold=0.2)
        .add("expect_column_kl_divergence_to_be_less_than", column="kind",
             partition_object=kinds, threshold=0.1)
        .add("expect_column_chisquare_test_p_value_to_be_greater_than",
             column="kind", partition_object=kinds, threshold=0.05)
        .add("expect_column_values_to_be_in_table", column="user",
             other_table="ref", other_column="user", mostly=0.5)
        .add("expect_table_row_count_to_equal_other_table",
             other_table_name="other")
    )


def _pinned_df(spark, lo, hi):
    """Users repeat across deltas, some are null or missing from ``ref``;
    under 200 rows in all, so the KLL sketches never compact and the merged
    quantiles are deterministic."""
    return spark.range(lo, hi).select(
        F.when(F.col("id") % 11 == 4, None)
        .otherwise(F.concat(F.lit("u"), F.col("id") % 60)).alias("user"),
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("z")),
                     (F.col("id") % 4 + 1).cast("int")).alias("kind"),
        (F.col("id") % 37 * 3).cast("double").alias("v"),
        (F.col("id") % 53).alias("n"))


def merged_evr_dicts(spark, store: str) -> dict:
    """The pinned suite validated as two deltas, merged under SUMMARY and
    BOOLEAN_ONLY: result format -> one dict per merged EVR."""
    tables = {"ref": spark.range(0, 50).select(
                  F.concat(F.lit("u"), F.col("id")).alias("user")),
              "other": spark.range(170)}
    inc = IncrementalCheckpoint(_pinned_suite(), store, tables=tables,
                                frozen_reference=True, strict=True)
    inc.validate_delta(_pinned_df(spark, 0, 80), snapshot_id="d1")
    inc.validate_delta(_pinned_df(spark, 80, 170), snapshot_id="d2")
    out = {}
    for rf in ("SUMMARY", "BOOLEAN_ONLY"):
        merged = IncrementalCheckpoint(
            _pinned_suite(), store, result_format=rf, tables=tables,
            frozen_reference=True).merged_result(spark)
        out[rf] = [{"expectation_type": r.expectation_config.expectation_type,
                    "success": r.success, "result": r.result,
                    "exception_info": r.exception_info}
                   for r in merged.results]
    return out


def test_merged_evrs_are_pinned(spark, tmp_path):
    """Every merge strategy's merged EVR, details included, is pinned as
    JSON text (key order too) in tests/data/incremental_merged_evrs.json.
    The file was written by the engine whose incremental merge scored EVRs
    with its own per-strategy code; the merge now scores through the
    runner's verdict functions and must reproduce it byte for byte."""
    import json
    got = json.dumps(merged_evr_dicts(spark, str(tmp_path / "store")),
                     indent=1, default=str)
    with open(_PINNED_EVRS) as f:
        expected = json.dumps(json.load(f), indent=1)
    assert got == expected
