"""VERDICT r3 #6: with 100k+ partitions, per-partition verdict rows must be
written distributed (partition_verdict_sink) instead of collect()ed. These
tests assert exact verdict parity between the collected path and the
sink-written path across every fused kind (map incl. mostly, agg bounds,
drift incl. categorical KL, z-score dependent pass)."""

from __future__ import annotations

import math

import pytest

from sparkcheck import ExpectationSuite, validate
from sparkcheck.runner import read_partition_verdicts


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def _suite():
    return (ExpectationSuite("sink-parity")
            .add("expect_column_values_to_not_be_null", column="l_orderkey")
            .add("expect_column_values_to_be_in_set",
                 column="l_linestatus", value_set=["O"], mostly=0.4)
            .add("expect_column_values_to_be_between",
                 column="l_quantity", min_value=1, max_value=50)
            .add("expect_column_mean_to_be_between",
                 column="l_discount", min_value=0.0, max_value=0.2)
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="l_quantity", threshold=5.0,
                 partition_object={"bins": [0, 10, 25, 51],
                                   "weights": [0.2, 0.3, 0.5]})
            .add("expect_column_value_z_scores_to_be_less_than",
                 column="l_extendedprice", threshold=3.0, mostly=0.9))


def _norm_collected(meta_verdicts):
    out = {}
    for v in meta_verdicts:
        k = (str(v["partition_id"]), v["expectation_type"], v["domain"])
        ov = v.get("observed_value")
        out[k] = (bool(v["success"]),
                  v.get("unexpected_count"),
                  v.get("element_count"),
                  v.get("missing_count"),
                  float(ov) if isinstance(ov, (int, float))
                  and not isinstance(ov, bool) else None)
    return out


def _norm_sink(df):
    out = {}
    for r in df.collect():
        k = (r["partition_id"], r["expectation_type"], r["domain"])
        out[k] = (bool(r["success"]), r["unexpected_count"],
                  r["element_count"], r["missing_count"],
                  r["observed_value"])
    return out


def test_sink_verdicts_match_collected(spark, li, tmp_path):
    suite = _suite()
    collected = validate(li, suite, per_partition=True,
                         partition_col="l_returnflag")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(li, suite, per_partition=True,
                    partition_col="l_returnflag",
                    partition_verdict_sink=sink_dir)
    # global EVRs identical between modes
    assert [r.success for r in collected.results] == \
        [r.success for r in sunk.results]
    for a, b in zip(collected.results, sunk.results):
        assert a.result.get("unexpected_count") == b.result.get("unexpected_count")
        ova, ovb = a.result.get("observed_value"), b.result.get("observed_value")
        if isinstance(ova, float):
            assert math.isclose(ova, ovb, rel_tol=1e-12)
        else:
            assert ova == ovb
    # sink mode keeps the driver list empty; the rows live in the sink
    assert sunk.meta["partition_verdicts"] == []
    assert sunk.meta["partition_verdicts_path"] == sink_dir

    got = _norm_sink(read_partition_verdicts(spark, sink_dir))
    want = _norm_collected(collected.meta["partition_verdicts"])
    assert set(got) == set(want)
    for k in want:
        ws, wu, we, wm, wo = want[k]
        gs, gu, ge, gm, go = got[k]
        assert (gs, gu, ge, gm) == (ws, wu, we, wm), k
        if wo is None:
            assert go is None, k
        else:
            assert go is not None and math.isclose(go, wo, rel_tol=1e-9), k
    # all three partition values × all six expectations present
    assert len(got) == 3 * 6


def test_sink_requires_per_partition(spark, li, tmp_path):
    with pytest.raises(ValueError, match="per_partition"):
        validate(li, _suite(), partition_verdict_sink=str(tmp_path / "x"))


def test_sink_handles_many_partitions(spark, tmp_path):
    """High-partition smoke: 500 distinct partition keys; the driver never
    materializes the rollup (we just assert the sink holds all of them and
    the counts are exact)."""
    from pyspark.sql import functions as F
    df = (spark.range(0, 20_000, numPartitions=8)
          .select(F.col("id"),
                  (F.col("id") % 500).cast("string").alias("bucket"),
                  F.when(F.col("id") % 40 == 0, None)
                  .otherwise(F.col("id")).alias("v")))
    suite = ExpectationSuite("many").add(
        "expect_column_values_to_not_be_null", column="v", mostly=0.9)
    sink_dir = str(tmp_path / "many")
    res = validate(df, suite, per_partition=True, partition_col="bucket",
                   partition_verdict_sink=sink_dir)
    assert res.results[0].success  # 2.5% nulls < 10%
    v = read_partition_verdicts(spark, sink_dir)
    rows = v.collect()
    assert len(rows) == 500
    # bucket b holds the 40 ids ≡ b (mod 500); ids ≡ 0 (mod 40) are null,
    # which hits buckets divisible by 20 (gcd arithmetic) 20 times each
    for r in rows:
        b = int(r["partition_id"])
        want_null = 20 if b % 20 == 0 else 0
        assert r["element_count"] == 40, b
        assert r["unexpected_count"] == want_null, b
        assert bool(r["success"]) == (want_null == 0), b  # 50% < mostly=0.9


def _dup_df(spark):
    """8 buckets; `v` duplicates SPAN buckets (id % 1000 repeats across the
    0..16k range), so per-partition dup attribution must see global groups."""
    from pyspark.sql import functions as F
    return (spark.range(0, 16_000, numPartitions=8)
            .select(F.col("id"),
                    (F.col("id") % 8).cast("string").alias("bucket"),
                    F.when(F.col("id") % 100 == 7, None)
                    .otherwise(F.col("id") % 1000).alias("v"),
                    (F.col("id") % 50).cast("double").alias("x"),
                    # per-bucket mix {a,b} (buckets 0-3) / {a,c} (4-7);
                    # globally a=50% b=25% c=25%
                    F.when(F.col("id") % 16 < 8, "a")
                    .when(F.col("id") % 16 < 12, "b")
                    .otherwise("c").alias("cat"),
                    # same, plus an out-of-set 'z' that lands ONLY in
                    # bucket 3 (id % 200 == 3 => id % 8 == 3)
                    F.when(F.col("id") % 200 == 3, "z")
                    .when(F.col("id") % 16 < 8, "a")
                    .when(F.col("id") % 16 < 12, "b")
                    .otherwise("c").alias("cat2")))


def _wide_suite():
    return (ExpectationSuite("wide-sink")
            .add("expect_column_values_to_be_unique", column="v", mostly=0.5)
            .add("expect_column_psi_to_be_less_than",
                 column="x", threshold=5.0,
                 partition_object={"bins": [0, 10, 30, 50],
                                   "weights": [0.2, 0.4, 0.4]})
            .add("expect_column_chisquare_test_p_value_to_be_greater_than",
                 column="x", threshold=1e-12,
                 partition_object={"bins": [0, 10, 30, 50],
                                   "weights": [0.2, 0.4, 0.4]})
            .add("expect_table_row_count_to_be_between", min_value=1)
            .add("expect_column_proportion_of_unique_values_to_be_between",
                 column="v", min_value=0.01, max_value=1.0)
            .add("expect_column_quantile_values_to_be_between", column="x",
                 quantile_ranges={"quantiles": [0.5],
                                  "value_ranges": [[0.0, 49.0]]})
            # distinct_set is scored from the stored collect_set slot. v=0
            # only ever lands in bucket 0
            # and v=1 only in bucket 1 (1000k+j ≡ j mod 8), so EVERY
            # per-partition verdict fails while the global one passes —
            # catches a path that conflates the two.
            .add("expect_column_distinct_values_to_contain_set",
                 column="v", value_set=[0, 1])
            # r5: map_window per-partition verdicts (grouped window: each
            # bucket's x=id%50 wraps as id climbs by 8 — real violations in
            # every bucket, attributed to the row's own input partition)
            .add("expect_column_values_to_be_increasing", column="x",
                 group_by="bucket", order_by="id", mostly=0.5)
            # categorical KL with tail_weight_holdout == 0 is scored from
            # the rollup row alone. Every bucket sees only 2 of the 3
            # expected values (KL ~= 0.347 > 0.2) while the GLOBAL mix
            # matches exactly (KL = 0) — global passes, every partition
            # fails.
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="cat", threshold=0.2,
                 partition_object={"values": ["a", "b", "c"],
                                   "weights": [0.5, 0.25, 0.25]})
            # out-of-set 'z' exists only in bucket 3: that partition (and
            # the global) scores inf with holdout 0 — exercises the
            # synthetic out-of-set-mass entry in the sink scorer
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="cat2", threshold=1.0,
                 partition_object={"values": ["a", "b", "c"],
                                   "weights": [0.5, 0.25, 0.25]}))


def test_unique_and_drift_sink_rows_are_distributed(spark, tmp_path):
    """r5: unique + drift + agg_custom per-partition verdicts must reach the
    sink WITHOUT any driver-side fallback file, and match the collected
    path row for row. Unique rows must also sum to the global count."""
    import glob

    df = _dup_df(spark)
    suite = _wide_suite()
    collected = validate(df, suite, per_partition=True, partition_col="bucket")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="bucket",
                    partition_verdict_sink=sink_dir)
    assert [r.success for r in collected.results] == \
        [r.success for r in sunk.results]

    # every kind was scored on executors: no driver-written verdict file
    assert not glob.glob(f"{sink_dir}/*-driver.parquet")

    got = _norm_sink(read_partition_verdicts(spark, sink_dir))
    want = _norm_collected(collected.meta["partition_verdicts"])
    assert set(got) == set(want)
    for k in want:
        ws, wu, we, wm, wo = want[k]
        gs, gu, ge, gm, go = got[k]
        assert (gs, gu, ge, gm) == (ws, wu, we, wm), k
        if wo is None:
            assert go is None, k
        else:
            assert go is not None and math.isclose(go, wo, rel_tol=1e-9), k
    # 8 buckets x 10 expectations
    assert len(got) == 8 * 10

    # categorical KL (cat): global mix matches exactly (passes) while every
    # bucket is missing one expected value (fails) — conflation catch
    kl = {k[0]: v for k, v in got.items()
          if k[1] == "expect_column_kl_divergence_to_be_less_than"
          and k[2] == "cat"}
    kl_global = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_kl_divergence_to_be_less_than"
                     and r.expectation_config.kwargs["column"] == "cat")
    assert kl_global.success
    assert len(kl) == 8 and not any(v[0] for v in kl.values())
    # categorical KL (cat2): only bucket 3 holds the out-of-set value —
    # it scores inf (fails, observed None); the other buckets pass
    kl2 = {k[0]: v for k, v in got.items()
           if k[1] == "expect_column_kl_divergence_to_be_less_than"
           and k[2] == "cat2"}
    assert len(kl2) == 8
    assert not kl2["3"][0] and kl2["3"][4] is None
    assert all(v[0] for p, v in kl2.items() if p != "3")

    # unique: per-partition dup participation sums to the global count
    uniq = [v for k, v in got.items()
            if k[1] == "expect_column_values_to_be_unique"]
    global_ux = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_values_to_be_unique")
    assert sum(u[1] for u in uniq) == global_ux.result["unexpected_count"]
    assert global_ux.result["unexpected_count"] > 0  # fixture has real dups

    # distinct_set: v=0 lives only in bucket 0 and v=1 only in bucket 1, so
    # the GLOBAL contain-set passes while every per-partition verdict fails
    ds_global = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_distinct_values_to_contain_set")
    assert ds_global.success
    ds = [v for k, v in got.items()
          if k[1] == "expect_column_distinct_values_to_contain_set"]
    assert len(ds) == 8 and not any(v[0] for v in ds)

    # map_window: per-partition order violations sum to the global count
    inc = [v for k, v in got.items()
           if k[1] == "expect_column_values_to_be_increasing"]
    inc_global = next(r for r in sunk.results
                      if r.expectation_config.expectation_type
                      == "expect_column_values_to_be_increasing")
    assert sum(u[1] for u in inc) == inc_global.result["unexpected_count"]
    assert inc_global.result["unexpected_count"] > 0  # x wraps inside buckets


def test_non_row_local_items_emit_no_partition_verdicts(spark):
    """Bootstrap-KS (raw-sample pool) and exact-opt-in quantiles are NOT
    pure functions of a partition's rollup row: emitting 'per-partition'
    verdicts for them would copy the GLOBAL value under every partition
    label and run one driver job per partition. They must emit none, while
    the global verdicts stay intact and the row-local siblings (asymptotic
    binned KS, fused-sketch quantiles) still emit 8."""
    from collections import Counter
    from pyspark.sql import functions as F
    df = (spark.range(0, 4000, numPartitions=4)
          .select((F.col("id") % 8).cast("string").alias("bucket"),
                  (F.col("id") % 50).cast("double").alias("x")))
    po = {"bins": [0.0, 10.0, 30.0, 50.0], "weights": [0.2, 0.4, 0.4]}
    qr = {"quantiles": [0.5], "value_ranges": [[0.0, 49.0]]}
    suite = (ExpectationSuite("rowlocal")
             .add("expect_column_bootstrapped_ks_test_p_value_to_be_"
                  "greater_than", column="x", threshold=1e-9,
                  bootstrap=True, partition_object=po)
             .add("expect_column_kl_divergence_to_be_less_than",
                  column="x", threshold=5.0, partition_object=po)
             .add("expect_column_quantile_values_to_be_between",
                  column="x", exact=True, quantile_ranges=qr))
    res = validate(df, suite, per_partition=True, partition_col="bucket")
    assert all(r.success for r in res.results)
    by_type = Counter(v["expectation_type"]
                      for v in res.meta["partition_verdicts"])
    assert by_type["expect_column_bootstrapped_ks_test_p_value_to_be_"
                   "greater_than"] == 0
    assert by_type["expect_column_quantile_values_to_be_between"] == 0
    assert by_type["expect_column_kl_divergence_to_be_less_than"] == 8

    # categorical KL with a POSITIVE holdout and out-of-set mass: the
    # out-of-set expected mass splits per distinct value (its own job), so
    # partitions holding such mass get no verdict; clean partitions still do
    cat = (spark.range(0, 800, numPartitions=4)
           .select((F.col("id") % 4).cast("string").alias("bucket"),
                   F.when(F.col("id") % 400 == 1, "z")  # only bucket 1
                   .when(F.col("id") % 2 == 0, "a")
                   .otherwise("b").alias("c")))
    hsuite = ExpectationSuite("h").add(
        "expect_column_kl_divergence_to_be_less_than", column="c",
        threshold=5.0, tail_weight_holdout=0.1,
        partition_object={"values": ["a", "b"], "weights": [0.5, 0.5]})
    hres = validate(cat, hsuite, per_partition=True, partition_col="bucket")
    assert hres.results[0].success
    hpv = {v["partition_id"] for v in hres.meta["partition_verdicts"]}
    assert hpv == {"0", "2", "3"}  # bucket 1 holds 'z': refused, not faked


def test_null_partition_value_is_not_the_grand_total(spark, tmp_path):
    """With partition_col, a null partition value reads __pid = null in the
    rollup just like the grand-total row; grouping(__pid) tells them apart.
    Every rollup site (fused, window, unique, z-score), collected and in the
    sink, must report the per_partition=False global EVRs and give the null
    partition verdict rows of its own."""
    from pyspark.sql import functions as F
    df = spark.range(0, 200, numPartitions=4).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise((F.col("id") % 4).cast("string")).alias("part"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") % 30).alias("v"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") % 3).alias("w"),
        (F.col("id") % 3).alias("g"))
    suite = (ExpectationSuite("null-part")
             .add("expect_column_values_to_not_be_null", column="v")
             .add("expect_column_values_to_be_unique", column="v", mostly=0.5)
             .add("expect_compound_columns_to_be_unique",
                  column_list=["v", "w"], mostly=0.5)
             .add("expect_column_values_to_be_increasing", column="v",
                  group_by="g", order_by="id", mostly=0.5)
             .add("expect_column_value_z_scores_to_be_less_than",
                  column="v", threshold=1.5, mostly=0.5))
    off = validate(df, suite, result_format="SUMMARY")
    nn = off.results[0].result
    assert (nn["element_count"], nn["unexpected_count"]) == (200, 40)
    on = validate(df, suite, result_format="SUMMARY", per_partition=True,
                  partition_col="part")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, result_format="SUMMARY", per_partition=True,
                    partition_col="part", partition_verdict_sink=sink_dir)
    for res in (on, sunk):
        assert [(r.success, r.result) for r in res.results] == \
            [(r.success, r.result) for r in off.results]

    got = {(r["partition_id"], r["expectation_type"], r["domain"]):
           (bool(r["success"]), r["unexpected_count"], r["element_count"],
            r["missing_count"])
           for r in read_partition_verdicts(spark, sink_dir).collect()}
    want = {(v["partition_id"], v["expectation_type"], v["domain"]):
            (v["success"], v.get("unexpected_count"), v.get("element_count"),
             v.get("missing_count"))
            for v in on.meta["partition_verdicts"]}
    assert got == want
    assert {k[0] for k in want} == {"0", "1", "2", "3", None}
    assert len(want) == 5 * len(suite.expectations)
    # the null partition is ids 0, 10, ..., 190: v is null on every row
    assert want[(None, "expect_column_values_to_not_be_null", "v")] == \
        (False, 20, 20, 0)
    # the partitions' unexpected counts sum to the global ones
    for r in off.results:
        etype = r.expectation_config.expectation_type
        assert sum(v[1] for k, v in want.items() if k[1] == etype) == \
            r.result["unexpected_count"], etype


def test_sink_verdicts_match_collected_at_the_edges(spark, tmp_path):
    """Sink rows equal the collected verdicts in every field where an
    expression-level re-implementation drifts from the Python semantics:
    a `mostly` ratio exactly on its threshold (45 of 100 unexpected with
    mostly=0.55, where 55.0 >= 0.55 * 100 is False in floating point), for
    a fused map item and a uniqueness item, a NaN mean/max under a
    min-only bound (NaN sorts above every double in Spark; the Python
    comparison, like the global EVR, fails it), and a null partition value
    under string bounds (null in the sink, not the string "None")."""
    rows = [(None if p == 2 else str(p), int(i < 45),
             p * 1000 + (i // 3 if i < 45 else i),
             float("nan") if (p, i) == (1, 0) else float(i), f"s{i}")
            for p in range(3) for i in range(100)]
    df = spark.createDataFrame(
        rows, "part string, m int, u long, x double, s string")
    suite = (ExpectationSuite("edges")
             .add("expect_column_values_to_be_in_set", column="m",
                  value_set=[0], mostly=0.55)
             .add("expect_column_values_to_be_unique", column="u",
                  mostly=0.55)
             .add("expect_column_mean_to_be_between", column="x",
                  min_value=0)
             .add("expect_column_max_to_be_between", column="x",
                  min_value=0)
             .add("expect_column_max_to_be_between", column="s",
                  min_value="a", max_value="z"))
    collected = validate(df, suite, per_partition=True, partition_col="part")
    sink_dir = str(tmp_path / "sink")
    validate(df, suite, per_partition=True, partition_col="part",
             partition_verdict_sink=sink_dir)

    def observed(v):
        # the sink's observed_value column holds numbers only
        if not isinstance(v, float):
            return None
        return "nan" if math.isnan(v) else v

    got = {(r["partition_id"], r["expectation_type"], r["domain"]):
           (r["success"], r["element_count"], r["missing_count"],
            r["unexpected_count"], observed(r["observed_value"]))
           for r in read_partition_verdicts(spark, sink_dir).collect()}
    want = {(v["partition_id"], v["expectation_type"], v["domain"]):
            (v["success"], v["element_count"], v["missing_count"],
             v["unexpected_count"], observed(v["observed_value"]))
            for v in collected.meta["partition_verdicts"]}
    assert got == want
    for p in ("0", "1", None):
        assert want[(p, "expect_column_values_to_be_in_set", "m")] == \
            (True, 100, 0, 45, None), p
        assert want[(p, "expect_column_values_to_be_unique", "u")] == \
            (True, 100, 0, 45, None), p
        assert want[(p, "expect_column_max_to_be_between", "s")][0] is True
    for etype in ("expect_column_mean_to_be_between",
                  "expect_column_max_to_be_between"):
        assert want[("0", etype, "x")][0] is True
        assert want[("1", etype, "x")][0] is False
        assert want[("1", etype, "x")][4] == "nan"


@pytest.mark.parametrize("sink", [False, True])
def test_partition_scoring_error_is_recorded(spark, tmp_path, monkeypatch,
                                             caplog, sink):
    """A partition whose verdict raises while being scored is reported in
    meta["partition_scoring_errors"] and the "sparkcheck" log, and only that
    partition's row is missing; the other partitions and the global EVR
    are unaffected. Sink mode scores on executors: the error comes back to
    the driver through an accumulator. The patched scorer is a nested
    function, so it is shipped to executors by value."""
    from sparkcheck import runner
    df = spark.createDataFrame(
        [(i % 3, f"s{i % 7}") for i in range(60)], "p int, s string")
    suite = ExpectationSuite("err").add(
        "expect_column_max_to_be_between", column="s",
        min_value="a", max_value="z")
    inner = runner.score_partition

    def flaky(item, row):
        if row["__pid"] == 1:
            raise RuntimeError("boom")
        return inner(item, row)

    monkeypatch.setattr(runner, "score_partition", flaky)
    kw = {"partition_verdict_sink": str(tmp_path / "sink")} if sink else {}
    with caplog.at_level("WARNING", logger="sparkcheck"):
        res = validate(df, suite, per_partition=True, partition_col="p", **kw)
    assert res.results[0].success
    assert res.meta["partition_scoring_errors"] == [{
        "partition_id": 1, "expectation_type": "expect_column_max_to_be_between",
        "domain": "s", "error": "RuntimeError: boom"}]
    assert any("boom" in r.getMessage() for r in caplog.records
               if r.name == "sparkcheck")
    pids = ([r["partition_id"] for r in
             read_partition_verdicts(spark, str(tmp_path / "sink")).collect()]
            if sink else
            [str(v["partition_id"]) for v in res.meta["partition_verdicts"]])
    assert sorted(pids) == ["0", "2"]


def test_clean_run_reports_no_partition_scoring_errors(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "v int")
    suite = ExpectationSuite("ok").add(
        "expect_column_values_to_not_be_null", column="v")
    assert validate(df, suite, per_partition=True
                    ).meta["partition_scoring_errors"] == []
    assert "partition_scoring_errors" not in validate(df, suite).meta


def test_z_score_partition_verdicts_are_scored(spark, tmp_path):
    """A z-score item's partition verdicts are scored like a map item's:
    element/missing counts of the partition from the z-score pass, success
    from `mostly` over the partition's own counts (z against the GLOBAL
    mean/stddev). Partition a holds 900 in-range values and 10
    nulls, b holds 100 outliers; with mostly=0.95 the global EVR fails with
    100 unexpected, b fails and a passes, collected and in the sink alike.
    The single-pass checkpoint stores per-group rows for map items only,
    so the z-score item keeps its one __global__ row there."""
    from sparkcheck.checkpoint import Checkpoint
    rows = ([("a", float(i % 10)) for i in range(900)] + [("a", None)] * 10
            + [("b", 1000.0)] * 100)
    df = spark.createDataFrame(rows, "part string, x double")
    suite = ExpectationSuite("z").add(
        "expect_column_value_z_scores_to_be_less_than", column="x",
        threshold=1.0, mostly=0.95)
    collected = validate(df, suite, per_partition=True, partition_col="part")
    (evr,) = collected.results
    assert not evr.success and evr.result["unexpected_count"] == 100
    want = {"a": (True, 910, 10, 0), "b": (False, 100, 0, 100)}
    assert {v["partition_id"]: (v["success"], v["element_count"],
                                v["missing_count"], v["unexpected_count"])
            for v in collected.meta["partition_verdicts"]} == want
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="part",
                    partition_verdict_sink=sink_dir)
    assert sunk.results[0].result == evr.result
    assert {r["partition_id"]: (r["success"], r["element_count"],
                                r["missing_count"], r["unexpected_count"])
            for r in read_partition_verdicts(spark, sink_dir).collect()} == want
    for distributed in (False, True):
        cp = Checkpoint(str(tmp_path / f"store-{distributed}"), suite,
                        group_key="part", n_groups=2)
        cp.run_single_pass(df, distributed_verdicts=distributed)
        stored = cp.verdicts(spark).collect()
        assert [(r["group_id"], r["success"]) for r in stored] == \
            [("__global__", False)], distributed
