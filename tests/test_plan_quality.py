"""Physical-plan quality gates: the fused pass must keep its scan pruned and
its filters pushed down — regression tests on `.explain` output, not just on
results (SURVEY.md §4 rows 4/5)."""

import re

import pytest
from pyspark.sql import functions as F

from sparkcheck.planner import compile_suite
from sparkcheck.types import ExpectationConfiguration as EC


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    from sparkcheck.io import generate_audio_clips
    path = str(tmp_path_factory.mktemp("plan") / "clips")
    generate_audio_clips(spark, 5000, num_partitions=4).write.parquet(path)
    return path


def _executed_plan(df) -> str:
    df.collect()
    return _executed_plan_text(df)


def _executed_plan_text(df) -> str:
    """The executed plan of ``df``, once an action has run it."""
    txt = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial plans; keep only the final one
    return txt.split("== Initial Plan ==")[0]


def _fused_agg(spark, clips_path, configs, row_condition=None):
    df = spark.read.parquet(clips_path)
    if row_condition:
        df = df.filter(row_condition)
    plan = compile_suite(configs)
    dp = next(iter(plan.domains.values()))
    return df.agg(*dp.slot_table.agg_list)


def test_fused_pass_never_reads_binary(spark, clips_path):
    agg = _fused_agg(spark, clips_path, [
        EC("expect_column_values_to_not_be_null", {"column": "clip_id"}),
        EC("expect_column_values_to_be_between",
           {"column": "sr_hz", "min_value": 8000, "max_value": 48000}),
        EC("expect_column_mean_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
        EC("expect_audio_snr_vs_reference_to_be_above", {"reference_table": "r"}),
        EC("expect_column_kl_divergence_to_be_less_than",
           {"column": "dur_ms",
            "partition_object": {"bins": [0, 3000, 30000], "weights": [0.5, 0.5]},
            "threshold": 10}),
    ])
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    read_cols = m.group(1)
    assert "bytes" not in read_cols, f"binary column leaked into the fused scan: {read_cols}"
    assert "transcript" not in read_cols  # unused column pruned too
    for c in ("clip_id", "sr_hz", "dur_ms"):
        assert c in read_cols


def test_row_condition_reaches_parquet_scan(spark, clips_path):
    agg = _fused_agg(spark, clips_path,
                     [EC("expect_table_row_count_to_be_between", {"min_value": 0})],
                     row_condition="codec = 'wav'")
    txt = _executed_plan(agg)
    m = re.search(r"PushedFilters: (\[[^\]]*\])", txt)
    assert m and "EqualTo(codec,wav)" in m.group(1), txt[:800]


def test_suite_is_one_scan_per_domain(spark, clips_path):
    """All fused metrics of a domain share ONE FileScan (the whole point of
    the fused-slot planner)."""
    agg = _fused_agg(spark, clips_path, [
        EC("expect_column_values_to_not_be_null", {"column": "clip_id"}),
        EC("expect_column_values_to_match_regex",
           {"column": "clip_id", "regex": "^clip-"}),
        EC("expect_column_values_to_be_in_set",
           {"column": "codec", "value_set": ["wav", "flac", "mp3", "opus"]}),
        EC("expect_column_mean_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
        EC("expect_column_stdev_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
    ])
    txt = _executed_plan(agg)
    assert txt.count("FileScan parquet") == 1, txt[:800]


def test_salted_repartition_breaks_hot_key(spark):
    """North-rule skew handling: 80% of rows share codec='wav'; salting
    spreads the hot key across partitions instead of one straggler."""
    from sparkcheck.io import generate_audio_clips
    from sparkcheck.metrics.audio import salted_repartition
    clips = generate_audio_clips(spark, 20_000, with_bytes=False, num_partitions=4)
    plain = clips.repartition(8, F.col("codec"))
    sizes_plain = [r["count"] for r in plain.groupBy(F.spark_partition_id().alias("p"))
                   .count().collect()]
    salted = salted_repartition(clips, "codec", n_salts=16, num_partitions=8)
    sizes_salted = [r["count"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
                    .count().collect()]
    # hash-partitioning by codec leaves >=80% of rows in one partition;
    # salting caps the biggest partition near the even share
    assert max(sizes_plain) > 0.75 * 20_000
    assert max(sizes_salted) < 0.35 * 20_000
    assert sum(sizes_salted) == 20_000


def test_default_quantiles_use_bounded_sketch(spark, clips_path):
    """Scale guard: the DEFAULT quantile path must compile to the fused
    percentile_approx sketch (bounded memory, mergeable), never the exact
    percentile aggregation or a separate approxQuantile(0.0) job; the exact
    paths stay available behind explicit opt-ins."""
    qr = {"quantiles": [0.5], "value_ranges": [[None, None]]}
    default_cfg = EC("expect_column_quantile_values_to_be_between",
                     {"column": "dur_ms", "quantile_ranges": qr})
    plan = compile_suite([default_cfg])
    item = next(iter(plan.domains.values())).fused_items[0]
    assert not item.info.get("use_approx_quantile")
    assert "value" in item.slots  # fused slot, single pass
    agg = _fused_agg(spark, clips_path, [default_cfg])
    txt = _executed_plan(agg)
    assert "percentile_approx" in txt
    assert not re.search(r"(?<!_approx)\bpercentile\(", txt), txt[:800]
    # explicit opt-ins keep the exact semantics
    exact_cfg = EC("expect_column_quantile_values_to_be_between",
                   {"column": "dur_ms", "quantile_ranges": qr, "exact": True})
    item_e = next(iter(compile_suite([exact_cfg]).domains.values())).fused_items[0]
    assert item_e.info.get("use_approx_quantile")
    linear_cfg = EC("expect_column_quantile_values_to_be_between",
                    {"column": "dur_ms", "quantile_ranges": qr,
                     "interpolation": "linear"})
    item_l = next(iter(compile_suite([linear_cfg]).domains.values())).fused_items[0]
    assert "value" in item_l.slots and not item_l.info.get("use_approx_quantile")


def test_mismatch_decode_pushes_in_filter(spark, clips_path):
    """The SNR mismatch-decode rescan must reach parquet as an In filter so
    row-group stats can prune (key-sorted layout). Spark silently degrades
    In to a min..max range above spark.sql.parquet.pushdown.inFilterThreshold
    (default 10) — on a key-sorted table that range spans everything and the
    scan reads the FULL binary column. The engine raises the threshold for
    the decode actions and must restore it afterwards."""
    from sparkcheck import ExpectationSuite, validate
    from sparkcheck.io import generate_audio_clips
    th_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    before = spark.conf.get(th_key, None)
    # 20k clips so the deterministic corruption yields >10 mismatches —
    # above Spark's default threshold, i.e. the silent-degrade regime
    dirty = generate_audio_clips(spark, 20000, num_partitions=4,
                                 audio_ms_cap=300)
    ref = generate_audio_clips(spark, 20000, clean=True, num_partitions=4,
                               audio_ms_cap=300)
    suite = ExpectationSuite("snr").add(
        "expect_audio_snr_vs_reference_to_be_above",
        reference_table="ref", min_snr_db=30.0, mostly=0.5)
    res = validate(dirty, suite, tables={"ref": ref})
    d = res.results[0].result["details"]
    assert 10 < d["hash_mismatch_count"] <= 250, d
    # conf restored after the decode actions
    assert spark.conf.get(th_key, None) == before


def test_simhash64_scan_prunes_and_single_pass(spark, tmp_path_factory):
    """simhash64 must read only (id, text), compute all 64 bit-votes in ONE
    map-side-combinable aggregation over one corpus scan (no per-bit
    re-scan), and keep the vote sums inside whole-stage codegen."""
    path = str(tmp_path_factory.mktemp("simhash") / "docs")
    spark.createDataFrame(
        [(i, f"some document text number {i} with several words here",
          "en", "web", 42) for i in range(200)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(path)
    from sparkcheck.pipeline.dedup import simhash64
    sh = simhash64(spark.read.parquet(path), "doc_id", "text")
    txt = _executed_plan(sh)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)
    assert txt.count("FileScan parquet") == 1
    # one partial + one final HashAggregate pair — 64 sums fused, not 64 jobs
    assert txt.count("HashAggregate") == 2, txt[:800]
    # '*(' prefixes mark WholeStageCodegen spans in the executed-plan format
    assert "*(" in txt


def test_winnow_scan_prunes_and_single_filescan(spark, tmp_path_factory):
    """Winnowing must read only (id, text) and scan the corpus once (the
    gram array is materialized behind a projection, not re-scanned)."""
    path = str(tmp_path_factory.mktemp("winnow") / "docs")
    spark.createDataFrame(
        [(i, f"some document text number {i} with several words here",
          "en", "web", 42) for i in range(200)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(path)
    from sparkcheck.pipeline.text import winnow_fingerprints
    fp = winnow_fingerprints(spark.read.parquet(path))
    txt = _executed_plan(fp)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)
    assert txt.count("FileScan parquet") == 1


def test_quality_filter_prunes_scan(spark, tmp_path):
    """The quality gate must stay a pruned streaming scan: only the columns
    it actually uses reach ReadSchema, and no Exchange appears."""
    from sparkcheck.pipeline.text import quality_filter
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [("a", "the quick brown fox", "en", 99)] * 50,
        "doc_id string, text string, lang string, extra int"
    ).write.parquet(path)
    d = spark.read.parquet(path)
    # the gate itself: pure projection, zero shuffle
    txt_filter = _executed_plan(quality_filter(d).select("doc_id", "passes"))
    assert "Exchange" not in txt_filter
    # column pruning: an aggregation over `passes` only needs `text`
    agg = quality_filter(d).agg(
        F.sum(F.col("passes").cast("int")).alias("n_pass"))
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    assert "extra" not in m.group(1)
    assert "doc_id" not in m.group(1)  # only text is needed for the agg


def test_verdict_sink_rollup_prunes_binary(spark, tmp_path, clips_path):
    """Sink-mode per-partition validation must not read the binary column
    when the suite has no audio expectation (same pruning contract as the
    collected fused pass)."""
    from sparkcheck import ExpectationSuite, validate
    d = spark.read.parquet(clips_path)
    suite = (ExpectationSuite("s")
             .add("expect_column_values_to_not_be_null", column="clip_id")
             .add("expect_column_mean_to_be_between",
                  column="dur_ms", min_value=0, max_value=10**9))
    sink = str(tmp_path / "sink")
    validate(d, suite, per_partition=True, partition_col="codec",
             partition_verdict_sink=sink)
    # the sink's rollup parquet carries only __pid + slot columns; re-read
    # the write's input side via the rollup file schema: slot count is small
    import pyarrow.parquet as pq
    import glob
    rollup = glob.glob(f"{sink}/rollup-domain-*.parquet/*.parquet")
    assert rollup
    names = pq.read_schema(rollup[0]).names
    assert "__pid" in names and len(names) <= 12
    # and the verdict rows exist for both kinds
    from sparkcheck.runner import read_partition_verdicts
    kinds = {r["kind"] for r in read_partition_verdicts(spark, sink).collect()}
    assert kinds == {"map", "agg"}


def test_incremental_stats_pass_prunes_scan(spark, clips_path, tmp_path):
    """The incremental per-delta statistics pass must read ONLY the columns
    its mergeable expectations reference — never the binary column — and the
    transcript-rate pair condition must fuse into the same single agg."""
    import pyspark.sql.classic.dataframe as CD

    from sparkcheck.incremental import IncrementalCheckpoint
    from sparkcheck.types import ExpectationSuite
    suite = (ExpectationSuite("inc")
             .add("expect_column_values_to_not_be_null", column="clip_id")
             .add("expect_column_mean_to_be_between", column="dur_ms",
                  min_value=0, max_value=10**9)
             .add("expect_transcript_words_per_second_to_be_between",
                  min_wps=0.05, max_wps=200.0))
    inc = IncrementalCheckpoint(suite, str(tmp_path / "store"), strict=True)
    d = spark.read.parquet(clips_path)
    aggs = []
    orig = CD.DataFrame.agg

    def spy(self, *cols):
        aggs.append(orig(self, *cols))
        return aggs[-1]

    CD.DataFrame.agg = spy
    try:
        inc.validate_delta(d, snapshot_id="s1")
    finally:
        CD.DataFrame.agg = orig
    (agg,) = aggs  # the delta pass's one aggregate
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    cols = m.group(1)
    assert "bytes" not in cols, f"binary column leaked into stats scan: {cols}"
    for c in ("clip_id", "dur_ms", "transcript"):
        assert c in cols
    # ONE fused aggregation: no join, a single scan node
    assert txt.count("FileScan") == 1 or txt.count("Scan parquet") == 1, txt[:800]


def test_profile_pass_uses_sketch_quantiles_by_default(spark, clips_path):
    """build_reference_profile runs on the 'clean snapshot' — potentially
    the full table — so its quantiles must default to the bounded-memory
    percentile_approx sketch; exact sort-based percentile is opt-in."""
    import pyspark.sql.classic.dataframe as CD

    import sparkcheck.profiler as P

    captured = []
    orig = CD.DataFrame.first

    def spy(self):
        captured.append(self._jdf.queryExecution().analyzed().toString())
        return orig(self)

    CD.DataFrame.first = spy
    try:
        d = spark.read.parquet(clips_path)
        P.build_reference_profile(d, ["dur_ms"])
        default_plan = "".join(captured)
        captured.clear()
        P.build_reference_profile(d, ["dur_ms"], exact=True)
        exact_plan = "".join(captured)
    finally:
        CD.DataFrame.first = orig
    assert "percentile_approx" in default_plan
    assert re.search(r"(?<!_approx)percentile\(", exact_plan)
    assert "percentile_approx" not in exact_plan


def test_unique_proportion_approx_plans_hll(spark, clips_path):
    """approximate=True on proportion-of-unique must plan the HLL sketch
    (mergeable, bounded memory), not the exact distinct aggregate whose
    per-key hash state grows with cardinality; without the opt-in the
    exact aggregate stays."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.planner import compile_suite

    d = spark.read.parquet(clips_path)

    def agg_plan(**extra):
        suite = ExpectationSuite("p").add(
            "expect_column_proportion_of_unique_values_to_be_between",
            column="clip_id", min_value=0.1, **extra)
        plan = compile_suite(suite.expectations)
        (domain,) = plan.domains.values()
        exprs = [e.alias(f"c{i}") for i, e in
                 enumerate(domain.slot_table.exprs.values())]
        return d.agg(*exprs)._jdf.queryExecution().analyzed().toString()

    exact = agg_plan()
    approx = agg_plan(approximate=True)
    assert "count(distinct" in exact.lower()
    assert "approx_count_distinct" not in exact
    assert "approx_count_distinct" in approx
    assert "count(distinct" not in approx.lower()


def _unique_item_jobs(spark, df, monkeypatch, **validate_kw):
    """(Spark jobs launched inside the exact uniqueness item of one
    validate(), its EVR), counted through a job group set around the
    item."""
    import uuid

    from sparkcheck import ExpectationSuite, validate
    from sparkcheck.runner import ValidationRun

    sc = spark.sparkContext
    group = f"unique-budget-{uuid.uuid4().hex}"
    inner = ValidationRun._run_unique_item

    def tagged(self, *args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            return inner(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(ValidationRun, "_run_unique_item", tagged)
    suite = ExpectationSuite("u").add(
        "expect_column_values_to_be_unique", column="clip_id", mostly=0.5)
    res = validate(df, suite, **validate_kw)
    return len(sc.statusTracker().getJobIdsForGroup(group)), res.results[0]


@pytest.mark.parametrize("mode", ["global", "per_partition", "sink"])
def test_exact_unique_job_budget(spark, clips_path, monkeypatch, tmp_path,
                                 mode):
    """Exact uniqueness resolves its dup stats, dup samples and
    per-partition dup counts from ONE plan over one scan: a change that
    adds an action (and with it a re-scan of the input) fails here. The
    budgets are the jobs that plan takes under adaptive execution (one per
    shuffle stage plus the result stage); sink mode adds the rollup writes
    and the verdict writes. Sink read-backs take the frame's schema, so no
    job infers it (9 sink jobs when each read-back inferred it)."""
    budget = {"global": 3, "per_partition": 4, "sink": 7}[mode]
    kw = {}
    if mode != "global":
        kw["per_partition"] = True
    if mode == "sink":
        kw["partition_verdict_sink"] = str(tmp_path / "sink")
    jobs, evr = _unique_item_jobs(spark, spark.read.parquet(clips_path),
                                  monkeypatch, **kw)
    assert evr.result["unexpected_count"] > 0  # samples branch is exercised
    assert jobs == budget, jobs


def _contract_shaped_suite():
    from sparkcheck import ExpectationSuite
    return (ExpectationSuite("contract")
            .add("expect_column_values_to_not_be_null", column="clip_id",
                 mostly=0.999)
            .add("expect_column_values_to_match_regex", column="clip_id",
                 regex=r"^clip-[0-9]{10}$", mostly=0.99)
            .add("expect_column_values_to_be_unique", column="clip_id",
                 mostly=0.99)
            .add("expect_column_values_to_be_between", column="sr_hz",
                 min_value=8000, max_value=48000, mostly=0.999)
            .add("expect_column_values_to_be_in_set", column="codec",
                 value_set=["wav", "flac", "mp3", "opus"], mostly=0.999)
            .add("expect_column_value_lengths_to_be_between",
                 column="transcript", min_value=5, max_value=400, mostly=0.99)
            .add("expect_column_mean_to_be_between", column="dur_ms",
                 min_value=2000, max_value=5000)
            .add("expect_column_stdev_to_be_between", column="dur_ms",
                 min_value=100, max_value=5000)
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="dur_ms", threshold=1.0, tail_weight_holdout=0.01,
                 partition_object={"bins": [200, 1500, 5000, 30000],
                                   "weights": [0.4, 0.4, 0.2]})
            .add("expect_table_row_count_to_be_between", min_value=1))


@pytest.mark.parametrize("strategy", ["exact", "approx", "auto"])
def test_fused_pass_stays_whole_stage_codegen(spark, clips_path, strategy):
    """An imperative aggregate slot (HLL++) turns off whole-stage codegen
    for the whole fused pass, so under exact uniqueness — whose verdict
    never reads an HLL estimate — the planner plans none, and every
    HashAggregate of the executed fused pass carries its '*(n)' codegen
    prefix, in the global agg and in the per-partition rollup form. A slot
    that silently de-codegens the pass fails here. Under 'approx'/'auto'
    the prescreen reads the sketch, so its slot is planned."""
    from sparkcheck.runner import _pid_rollup
    plan = compile_suite(_contract_shaped_suite().expectations, strategy)
    (dp,) = plan.domains.values()
    hll = [k for k in dp.slot_table.keys if k.startswith("hll::")]
    (unique,) = dp.job_items
    if strategy != "exact":
        assert len(hll) == 1 and "approx_distinct" in unique.slots
        return
    assert not hll and "approx_distinct" not in unique.slots
    df = spark.read.parquet(clips_path)
    for fused in (df.agg(*dp.slot_table.agg_list),
                  _pid_rollup(df.withColumn("__pid", F.spark_partition_id()),
                              *dp.slot_table.agg_list)):
        aggs = [line for line in _executed_plan(fused).splitlines()
                if "Aggregate" in line]
        assert aggs and all(re.search(r"\*\(\d+\) HashAggregate", line)
                            for line in aggs), "\n".join(aggs)


def _sampler_jobs(spark, df, monkeypatch, suite, **validate_kw):
    """(Spark jobs launched inside the violation sampler of one validate(),
    the items it sampled per call, the executed plans of its actions, the
    result)."""
    import uuid

    import pyspark.sql.classic.dataframe as CD

    from sparkcheck import validate
    from sparkcheck.runner import ValidationRun

    sc = spark.sparkContext
    group = f"sample-budget-{uuid.uuid4().hex}"
    inner, collect = ValidationRun._samples, CD.DataFrame.collect
    wanted_sizes, plans = [], []

    def spy(self):
        rows = collect(self)
        plans.append(_executed_plan_text(self))
        return rows

    def tagged(self, dfd, wanted):
        wanted_sizes.append(len(wanted))
        sc.setJobGroup(group, group)
        monkeypatch.setattr(CD.DataFrame, "collect", spy)
        try:
            return inner(self, dfd, wanted)
        finally:
            monkeypatch.setattr(CD.DataFrame, "collect", collect)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(ValidationRun, "_samples", tagged)
    res = validate(df, suite, **validate_kw)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return (len(sc.statusTracker().getJobIdsForGroup(group)), wanted_sizes,
            plans, res)


@pytest.mark.parametrize("case", ["failing", "complete_large_k",
                                  "boolean_only", "all_passing"])
@pytest.mark.parametrize("per_partition", [False, True])
def test_sample_job_budget(spark, clips_path, monkeypatch, case,
                           per_partition):
    """The failing map items of a domain get their violation samples from
    ONE Spark action (a shuffle stage plus the result stage under adaptive
    execution), rank-limited per item by a WindowGroupLimit on both sides of
    the exchange; a per-item filter + limit would take 2 jobs per item.
    That holds for a COMPLETE limit above Spark's default WindowGroupLimit
    threshold too, and the session conf is restored after. BOOLEAN_ONLY
    and a suite with no violations launch none."""
    from sparkcheck import ExpectationSuite
    group_limit = "spark.sql.optimizer.windowGroupLimitThreshold"
    before = spark.conf.get(group_limit, None)
    suite = _contract_shaped_suite()
    if case == "all_passing":
        suite = (ExpectationSuite("clean")
                 .add("expect_column_values_to_be_between", column="dur_ms",
                      min_value=0, max_value=10**9)
                 .add("expect_column_values_to_not_be_null", column="codec"))
    rf = {"boolean_only": "BOOLEAN_ONLY",
          "complete_large_k": {"result_format": "COMPLETE",
                               "unexpected_list_limit": 5000}}.get(
        case, "SUMMARY")
    jobs, wanted, plans, res = _sampler_jobs(
        spark, spark.read.parquet(clips_path), monkeypatch, suite,
        result_format=rf, per_partition=per_partition)
    assert spark.conf.get(group_limit, None) == before
    if case in ("boolean_only", "all_passing"):
        assert jobs == 0 and not plans, (jobs, plans)
        return
    failing = [r for r in res.results
               if r.expectation_config.expectation_type != "expect_column_values_to_be_unique"
               and r.result.get("unexpected_count")]
    assert wanted == [4] == [len(failing)], (wanted, failing)
    assert all(r.result["partial_unexpected_list"] for r in failing)
    if case == "complete_large_k":  # every violation fits under the limit
        assert all(len(r.result["unexpected_list"])
                   == r.result["unexpected_count"] for r in failing)
    assert 1 <= jobs <= 2, jobs
    (plan,) = plans
    assert plan.count("WindowGroupLimit") == 2, plan
    assert "Partial" in plan and "Final" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def _op_jobs(spark, fn):
    """(Spark jobs launched while ``fn()`` runs, its value)."""
    import uuid
    sc = spark.sparkContext
    group = f"op-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _rollup_sites_frame(spark):
    """5,000 rows in 4 partitions: `v` has nulls and duplicates spanning
    partitions, `x` wraps inside each `g` group as `id` climbs."""
    return spark.range(0, 5000, numPartitions=4).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("part"),
        F.when(F.col("id") % 97 == 0, None)
        .otherwise(F.col("id") % 2500).alias("v"),
        (F.col("id") % 3).alias("g"), (F.col("id") % 50).alias("x"))


def _sites_kw(mode, tmp_path):
    kw = {}
    if mode != "off":
        kw = {"per_partition": True, "partition_col": "part"}
    if mode == "sink":
        kw["partition_verdict_sink"] = str(tmp_path / "sink")
    return kw


@pytest.mark.parametrize("rf,mode,budget", [
    ("SUMMARY", "off", 16), ("SUMMARY", "collected", 17),
    ("SUMMARY", "sink", 27), ("BOOLEAN_ONLY", "off", 10),
    ("BOOLEAN_ONLY", "collected", 11), ("BOOLEAN_ONLY", "sink", 21)])
def test_rollup_site_job_budget(spark, tmp_path, rf, mode, budget):
    """Jobs per validate() of one suite with one item per rollup site (the
    fused pass, uniqueness, a grouped window and the z-score pass), each
    with violations, on 5,000 rows in 4 partitions. Every site hands its
    rolled-up frame to one resolver; the budgets are the counts of the
    engine whose sites each resolved their own rollup, measured on the
    same frame and conf, less 6 sink jobs: read-backs of the stored
    rollups take the frame's schema instead of inferring it, and the
    window and uniqueness sites join the fused site's read-back instead
    of reading the domain rollup again (33 and 27 sink jobs before)."""
    from sparkcheck import ExpectationSuite, validate
    from sparkcheck.runner import read_partition_verdicts
    suite = (ExpectationSuite("sites")
             .add("expect_column_values_to_not_be_null", column="v")
             .add("expect_column_values_to_be_unique", column="v",
                  mostly=0.5)
             .add("expect_column_values_to_be_increasing", column="x",
                  group_by="g", order_by="id", mostly=0.5)
             .add("expect_column_value_z_scores_to_be_less_than",
                  column="v", threshold=1.5, mostly=0.5))
    kw = _sites_kw(mode, tmp_path)
    jobs, res = _op_jobs(spark, lambda: validate(
        _rollup_sites_frame(spark), suite, result_format=rf, **kw))
    assert [r.success for r in res.results] == [False, False, True, True]
    if rf == "SUMMARY":  # every site has violations to sample
        assert all(r.result["unexpected_count"] for r in res.results)
    verdicts = (read_partition_verdicts(spark, kw["partition_verdict_sink"])
                .collect() if mode == "sink"
                else res.meta.get("partition_verdicts", []))
    assert len(verdicts) == (0 if mode == "off" else 4 * 4)
    assert jobs == budget, jobs


@pytest.mark.parametrize("mode,budget", [
    ("off", 5), ("collected", 5), ("sink", 9)])
def test_passing_window_item_job_budget(spark, tmp_path, mode, budget):
    """A grouped window item with no violations runs no sample action:
    its count comes first and only a failing item samples. Same frame as
    test_rollup_site_job_budget, under SUMMARY; sink mode spends 3 jobs
    less than when its read-backs inferred their schema (12)."""
    from sparkcheck import ExpectationSuite, validate
    suite = ExpectationSuite("window").add(
        "expect_column_values_to_be_increasing", column="id",
        group_by="g", order_by="id")
    jobs, res = _op_jobs(spark, lambda: validate(
        _rollup_sites_frame(spark), suite, result_format="SUMMARY",
        **_sites_kw(mode, tmp_path)))
    assert res.success and res.results[0].result["unexpected_count"] == 0
    assert jobs == budget, jobs


_AUDIO_ITEMS = {
    "snr": ("expect_audio_snr_vs_reference_to_be_above",
            {"reference_table": "ref", "min_snr_db": 30.0}),
    "payload": ("expect_audio_payload_to_match_reference",
                {"reference_table": "ref"}),
    "in_table": ("expect_column_values_to_be_in_table",
                 {"column": "clip_id", "other_table": "ref",
                  "other_column": "clip_id"}),
    "full_decode": ("expect_audio_snr_vs_reference_to_be_above",
                    {"reference_table": "ref", "min_snr_db": 30.0,
                     "hash_prescreen": False}),
    "header": ("expect_audio_header_to_match_metadata", {}),
}


@pytest.mark.parametrize("case,budget,before", [
    ("snr", 9, 13), ("payload", 5, 6), ("in_table", 8, 10),
    ("full_decode", 7, 9), ("header", 4, 5)])
def test_audio_job_budget(spark, audio_pair, case, budget, before):
    """Jobs per validate() of one failing item on the 2,000-clip pair
    (this session's conf). The hash-prescreen SNR item runs one prescreen
    action and one decode action; the payload item, the referential
    anti-join, the full decode and the header item one action each for
    counts and samples together. ``before`` is the count of the engine
    that persisted the prescreen join and ran an aggregate, a key collect
    and per-class ``limit()`` jobs after it (and planned the anti-join
    twice, for ``count()`` and for ``limit()``), and that persisted the
    full decode's and the header parse's rows for an aggregate and a
    ``limit()`` job, measured on the same fixture and conf."""
    from sparkcheck import ExpectationSuite, validate
    dirty, ref = audio_pair
    etype, kw = _AUDIO_ITEMS[case]
    jobs, res = _op_jobs(spark, lambda: validate(
        dirty, ExpectationSuite(case).add(etype, **kw), tables={"ref": ref}))
    (evr,) = res.results
    assert not evr.exception_info.get("raised_exception"), evr.exception_info
    assert evr.result["unexpected_count"] and evr.result["partial_unexpected_list"]
    assert jobs == budget < before, jobs


def test_most_common_truncation_job_budget(spark):
    """Jobs per validate() of most-common over 3,000 distinct values that
    all tie, truncated at 50: the tie list, the tie count and the set
    membership come from one plan over the value counts. 11 jobs when the
    value counts were persisted and the max, the list, the count and the
    membership each ran as their own job."""
    from sparkcheck import ExpectationSuite, validate
    df = spark.range(0, 3000, numPartitions=4).select(
        F.format_string("v%05d", F.col("id")).alias("v"))
    suite = ExpectationSuite("mc").add(
        "expect_column_most_common_value_to_be_in_set", column="v",
        value_set=["v02999"], ties_okay=True, max_ties=50)
    jobs, res = _op_jobs(spark, lambda: validate(df, suite))
    (evr,) = res.results
    assert evr.success and len(evr.result["observed_value"]) == 50
    assert evr.result["details"]["ties_truncated"]["n_ties"] == 3000
    assert jobs == 7, jobs


def test_snr_prescreen_and_decode_in_two_actions(spark, audio_pair,
                                                 monkeypatch):
    """The default SNR path persists nothing and runs two actions: the
    prescreen, whose branches (counts, mismatch keys, missing-reference
    samples) read the hash join's exchanges once (ReusedExchange), and the
    decode, whose mismatch keys reach both parquet scans as an In filter
    under a raised inFilterThreshold that is restored after."""
    import pyspark.sql.classic.dataframe as CD

    import sparkcheck.metrics.audio as audio
    from sparkcheck import ExpectationSuite, validate
    th_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    before = spark.conf.get(th_key, None)
    dirty, ref = audio_pair
    collect, persist, cache = (CD.DataFrame.collect, CD.DataFrame.persist,
                               CD.DataFrame.cache)
    plans, persisted = [], []

    def spy(self):
        rows = collect(self)
        plans.append(_executed_plan_text(self))
        return rows

    def counting(real):
        def call(self, *a, **kw):
            persisted.append(self)
            return real(self, *a, **kw)
        return call

    run_snr_item = audio.run_snr_item

    def traced(*a, **kw):
        monkeypatch.setattr(CD.DataFrame, "collect", spy)
        try:
            return run_snr_item(*a, **kw)
        finally:
            monkeypatch.setattr(CD.DataFrame, "collect", collect)

    monkeypatch.setattr(audio, "run_snr_item", traced)
    monkeypatch.setattr(CD.DataFrame, "persist", counting(persist))
    monkeypatch.setattr(CD.DataFrame, "cache", counting(cache))
    etype, kw = _AUDIO_ITEMS["snr"]
    res = validate(dirty, ExpectationSuite("snr").add(etype, **kw),
                   tables={"ref": ref})
    d = res.results[0].result["details"]
    assert d["hash_mismatch_count"] == 2 and d["missing_reference_count"] == 3
    assert not persisted
    prescreen, decode = plans
    assert "ReusedExchange" in prescreen, prescreen
    assert prescreen.count("FileScan parquet") == 2, prescreen
    assert "WindowGroupLimit" in prescreen, prescreen
    assert decode.count("PushedFilters: [In(clip_id") == 2, decode
    assert spark.conf.get(th_key, None) == before


def test_compile_suite_py4j_round_trips(spark):
    """Compiling the contract-shaped suite builds each distinct slot once:
    a slot shared by several items (the row count, a column's nonnull
    count) is not rebuilt and thrown away. Counted as py4j commands,
    leaving out the object releases Python's garbage collector sends at
    its own times."""
    from py4j.clientserver import ClientServerConnection

    configs = _contract_shaped_suite().expectations
    compile_suite(configs)  # warm the JVM-side caches first
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        if not command.startswith("m\nd\n"):  # memory release
            sent.append(command)
        return send(self, command, *a, **kw)

    ClientServerConnection.send_command = counting
    try:
        plan = compile_suite(configs)
    finally:
        ClientServerConnection.send_command = send
    (dp,) = plan.domains.values()
    assert len(dp.slot_table.exprs) == 19
    assert len(sent) == 1066, len(sent)
