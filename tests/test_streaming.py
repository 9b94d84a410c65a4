"""Streaming validation: per-micro-batch fused suite via foreachBatch."""

import time

import pytest

from sparkcheck.streaming import StreamValidator
from sparkcheck.types import ExpectationSuite


def test_stream_validation_rate_source(spark, tmp_path):
    # rate source -> synthetic clip-ish columns with deterministic violations
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .selectExpr(
                  "CASE WHEN value % 50 = 7 THEN NULL "
                  "ELSE concat('clip-', lpad(CAST(value AS STRING), 10, '0')) END AS clip_id",
                  "CASE WHEN value % 40 = 3 THEN 1234 ELSE 16000 END AS sr_hz"))
    suite = (ExpectationSuite("stream")
             .add("expect_column_values_to_not_be_null", column="clip_id", mostly=0.9)
             .add("expect_column_values_to_be_between",
                  column="sr_hz", min_value=8000, max_value=48000, mostly=0.9))
    sv = StreamValidator(suite, store_path=str(tmp_path / "verdicts"))
    q = sv.start(stream, checkpoint_dir=str(tmp_path / "ckpt"),
                 trigger_seconds=1, query_name="sparkcheck-test")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            time.sleep(2)
            try:
                v = sv.verdicts(spark)
                rows = v.collect()
            except Exception:
                continue
            if len(rows) >= 4 and sum(r["element_count"] for r in rows) > 200:
                break
    finally:
        q.stop()
    v = sv.verdicts(spark).collect()
    assert len(v) >= 4  # >=2 batches x 2 expectations
    batches = {r["batch_id"] for r in v}
    assert len(batches) >= 2
    # every (batch, expectation) appears exactly once (idempotent commits)
    seen = [(r["batch_id"], r["expectation_type"]) for r in v]
    assert len(seen) == len(set(seen))
    # violation counts roll up and the summary matches the stored rows
    summ = {(r["expectation_type"]): r for r in sv.summary(spark).collect()}
    nn = summ["expect_column_values_to_not_be_null"]
    assert nn["element_count"] > 0
    total_null = sum(r["unexpected_count"] for r in v
                     if r["expectation_type"] == "expect_column_values_to_not_be_null")
    assert nn["unexpected_count"] == total_null


def test_stream_store_labels_column_pairs(spark, tmp_path):
    """A column-pair check is stored under the domain label the checkpoint
    store gives it (its column_A), so two pair checks on different pairs
    keep their own summary rows: one batch is one batch for each."""
    from pyspark.sql import functions as F
    df = spark.range(0, 20, numPartitions=2).select(
        F.col("id").alias("a"), F.col("id").alias("b"),
        F.col("id").alias("c"), (F.col("id") % 5).alias("d"))
    suite = (ExpectationSuite("pairs")
             .add("expect_column_pair_values_to_be_equal",
                  column_A="a", column_B="b")
             .add("expect_column_pair_values_to_be_equal",
                  column_A="c", column_B="d"))
    sv = StreamValidator(suite, store_path=str(tmp_path / "verdicts"))
    sv.process_batch(df, 0)
    summ = {r["domain"]: r for r in sv.summary(spark).collect()}
    assert sorted(summ) == ["a", "c"]
    assert [summ[d]["n_batches"] for d in ("a", "c")] == [1, 1]
    assert [summ[d]["unexpected_count"] for d in ("a", "c")] == [0, 15]


def test_windowed_profile_with_watermark(spark, tmp_path):
    """Event-time tumbling windows + watermark: per-window profile rows
    finalize with the watermark and match a batch recomputation."""
    import os
    from pyspark.sql import functions as F
    from sparkcheck.streaming import windowed_profile

    src = str(tmp_path / "src")
    os.makedirs(src)
    # two event-time windows of 10s each, values with known stats
    rows = [(i, f"2024-01-01 00:00:{(i % 20):02d}", float(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, ts_str string, v double") \
        .select("id", F.col("ts_str").cast("timestamp").alias("ts"), "v")
    df.coalesce(1).write.parquet(src + "/part1")

    stream = (spark.readStream.schema("id bigint, ts timestamp, v double")
              .parquet(src + "/*"))
    prof = windowed_profile(stream, time_col="ts", window_seconds=10,
                            watermark_seconds=5, value_col="v",
                            bins=[0.0, 3.0, 7.0])
    q = (prof.writeStream.format("memory").queryName("winprof")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode only emits watermark-closed windows; re-run a final batch
    # query for the full picture instead (bounded test): compare against batch
    got = {r["window_start"].second: r for r in spark.sql(
        "SELECT * FROM winprof").collect()}
    batch = df.groupBy(F.window("ts", "10 seconds")).agg(
        F.count(F.lit(1)).alias("element_count"),
        F.avg("v").alias("mean")).collect()
    expected = {r["window"].start.second: r for r in batch}
    for sec, row in got.items():
        assert row["element_count"] == expected[sec]["element_count"]
        assert abs(row["mean"] - expected[sec]["mean"]) < 1e-9
        assert row["bin_0"] + row["bin_1"] == row["element_count"]


def test_windowed_drift_flags_shifted_window(spark, tmp_path):
    """Streaming KL drift: a window matching the expected partition scores
    ~0 (not drifted); a window whose values all pile into one bin drifts.
    The KL is computed natively inside the stateful aggregation."""
    import math
    import os
    from pyspark.sql import functions as F
    from sparkcheck.streaming import windowed_drift

    src = str(tmp_path / "src")
    os.makedirs(src)
    # window :00-:10 = uniform over [0,4); window :10-:20 = all values 3.5
    # (one bin); a third window's rows only advance the watermark
    rows = ([(i, f"2024-01-01 00:00:0{i % 10}", float(i % 4)) for i in range(100)]
            + [(1000 + i, f"2024-01-01 00:00:1{i % 10}", 3.5) for i in range(100)]
            + [(9000, "2024-01-01 00:00:59", 1.0)])
    df = spark.createDataFrame(rows, "id bigint, ts_str string, v double") \
        .select("id", F.col("ts_str").cast("timestamp").alias("ts"), "v")
    df.coalesce(1).write.parquet(src + "/part1")
    stream = (spark.readStream.schema("id bigint, ts timestamp, v double")
              .parquet(src + "/*"))
    po = {"bins": [0.0, 1.0, 2.0, 3.0, 4.0], "weights": [0.25] * 4}
    drift = windowed_drift(stream, time_col="ts", window_seconds=10,
                           watermark_seconds=5, value_col="v",
                           partition_object=po, threshold=0.1)
    q = (drift.writeStream.format("memory").queryName("windrift")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r["window_start"].second: r
           for r in spark.sql("SELECT * FROM windrift").collect()}
    assert not got[0]["drifted"]
    assert got[0]["kl"] == pytest.approx(0.0, abs=1e-9)
    assert got[10]["drifted"]
    # all mass in one quarter-weight bin: KL = ln(1/0.25)
    assert got[10]["kl"] == pytest.approx(math.log(4.0), abs=1e-9)
    assert got[10]["in_bin_count"] == 100
    assert got[10]["out_of_bin_count"] == 0


def test_stateful_unique_across_batches(spark, tmp_path):
    """applyInPandasWithState: a key duplicated ACROSS micro-batches is
    flagged (per-batch validation cannot see it)."""
    import os
    from sparkcheck.streaming import stateful_unique_violations

    src = str(tmp_path / "src2")
    os.makedirs(src)
    # file 1: keys a,b,c unique; file 2 (separate micro-batch): b again + d
    spark.createDataFrame([("a",), ("b",), ("c",)], "clip_id string") \
        .coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame([("b",), ("d",)], "clip_id string") \
        .coalesce(1).write.parquet(src + "/f2")

    stream = (spark.readStream.schema("clip_id string")
              .option("maxFilesPerTrigger", "1").parquet(src + "/*"))
    dups = stateful_unique_violations(stream, "clip_id")
    q = (dups.writeStream.format("memory").queryName("statedups")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM statedups").collect()
    assert [(r["clip_id"], r["seen_count"], r["dup_in_batch"]) for r in rows] \
        == [("b", 2, 1)]
