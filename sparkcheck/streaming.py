"""Streaming validation: run the fused suite per micro-batch.

The reference has no streaming surface at all (SURVEY.md §2.9 — nothing in
its execution engines references Structured Streaming); this module is our
forward-port of the fused-aggregation design to streams, as anticipated in
SURVEY.md §2.9: each micro-batch is validated with the SAME single-pass
engine via ``foreachBatch``, and verdict rows are committed idempotently per
``batch_id`` — Structured Streaming replays a failed batch with the same id,
so the per-batch parquet file name makes recovery exactly-once for the
verdict store (the same idempotence trick as checkpoint.py's group files).

This keeps one code path for batch + streaming semantics: `mostly`,
result formats, and EVR fields are identical to the batch engine.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .runner import ValidationRun, _domain
from .types import ExpectationSuite

STREAM_VERDICT_FIELDS = [
    "batch_id", "suite_name", "expectation_type", "domain", "success",
    "element_count", "unexpected_count", "processed_at",
]


class StreamValidator:
    """Attach a validation suite to a streaming DataFrame.

    Usage::

        sv = StreamValidator(suite, store_path="/path/verdicts")
        query = sv.start(stream_df, checkpoint_dir="/path/ckpt")
        ...
        sv.verdicts(spark)   # one row per (batch, expectation)
    """

    def __init__(self, suite: ExpectationSuite, *, store_path: str,
                 tables: dict[str, DataFrame] | None = None,
                 result_format: str = "BASIC",
                 unique_strategy: str = "exact") -> None:
        self.suite = suite
        self.store_path = store_path
        self.tables = tables or {}
        self.result_format = result_format
        self.unique_strategy = unique_strategy
        os.makedirs(store_path, exist_ok=True)

    # -- foreachBatch sink -------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        run = ValidationRun(
            batch_df, tables=self.tables, result_format=self.result_format,
            unique_strategy=self.unique_strategy)
        result = run.run(self.suite)
        rows = {f: [] for f in STREAM_VERDICT_FIELDS}
        now = time.time()
        for evr in result.results:
            kw = evr.expectation_config.kwargs
            rows["batch_id"].append(int(batch_id))
            rows["suite_name"].append(self.suite.expectation_suite_name)
            rows["expectation_type"].append(evr.expectation_config.expectation_type)
            rows["domain"].append(_domain(kw))
            rows["success"].append(bool(evr.success))
            rows["element_count"].append(int(evr.result.get("element_count") or 0))
            rows["unexpected_count"].append(int(evr.result.get("unexpected_count") or 0))
            rows["processed_at"].append(now)
        # idempotent per-batch file: a replayed batch overwrites its own file
        pq.write_table(pa.table(rows),
                       os.path.join(self.store_path, f"batch-{int(batch_id):012d}.parquet"))

    def start(self, stream_df: DataFrame, *, checkpoint_dir: str,
              trigger_seconds: float | None = None, query_name: str | None = None):
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        if query_name:
            writer = writer.queryName(query_name)
        return writer.start()

    # -- results -----------------------------------------------------------

    def verdicts(self, spark) -> DataFrame:
        return spark.read.parquet(self.store_path)

    def summary(self, spark) -> DataFrame:
        from pyspark.sql import functions as F
        v = self.verdicts(spark)
        return (v.groupBy("expectation_type", "domain")
                .agg(F.count(F.lit(1)).alias("n_batches"),
                     F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("failed_batches"),
                     F.sum("element_count").alias("element_count"),
                     F.sum("unexpected_count").alias("unexpected_count")))


def validate_stream(stream_df: DataFrame, suite: ExpectationSuite, *,
                    store_path: str, checkpoint_dir: str,
                    tables: dict[str, DataFrame] | None = None,
                    result_format: str = "BASIC"):
    """Convenience wrapper: start a streaming validation query."""
    sv = StreamValidator(suite, store_path=store_path, tables=tables,
                         result_format=result_format)
    return sv, sv.start(stream_df, checkpoint_dir=checkpoint_dir)


def windowed_profile(stream_df: DataFrame, *, time_col: str,
                     window_seconds: int, watermark_seconds: int,
                     value_col: str,
                     bins: list[float] | None = None) -> DataFrame:
    """Native streaming windowed column profile with late-data handling
    (north-star: 'watermarks + windowed aggs for late data').

    Unlike the foreachBatch path (which profiles whatever arrived in a
    micro-batch), this is an EVENT-TIME window: rows are assigned to fixed
    tumbling windows of their own timestamps, late rows up to the watermark
    still update their window, and a window's aggregate finalizes once the
    watermark passes its end. Returns a streaming DataFrame of per-window
    profile rows (count / nulls / mean / stddev / min / max, plus optional
    histogram bucket counts for drift scoring) — the same slot shapes the
    fused batch pass produces, computed incrementally by Spark's stateful
    aggregation instead of a re-scan."""
    from pyspark.sql import functions as F
    col = F.col(value_col)
    aggs = [
        F.count(F.lit(1)).alias("element_count"),
        F.sum(F.when(col.isNull(), 1).otherwise(0)).alias("null_count"),
        F.avg(col).alias("mean"),
        F.stddev_samp(col).alias("stddev"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
    ]
    for i, (lo, hi) in enumerate(zip(bins or [], (bins or [])[1:])):
        last = i == len(bins) - 2
        cond = (col >= lo) & ((col <= hi) if last else (col < hi))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"bin_{i}"))
    return (stream_df
            .withWatermark(time_col, f"{watermark_seconds} seconds")
            .groupBy(F.window(F.col(time_col), f"{window_seconds} seconds"))
            .agg(*aggs)
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"), "*")
            .drop("window"))


def windowed_drift(stream_df: DataFrame, *, time_col: str,
                   window_seconds: int, watermark_seconds: int,
                   value_col: str, partition_object: dict,
                   threshold: float = 0.1) -> DataFrame:
    """Streaming drift detector: KL(window-observed || expected partition)
    scored NATIVELY per event-time window — the KL sum is plain column
    arithmetic over the window's fused histogram buckets, so the whole
    detector runs inside Spark's incremental stateful aggregation (no
    foreachBatch, no driver loop; a window's verdict finalizes when the
    watermark closes it).

    Semantics: in-bin renormalized KL with no tail/internal holdout —
    rows outside [bins[0], bins[-1]] are reported via `out_of_bin_count`
    rather than folded into the score (the batch path's holdout semantics
    need the reference's tail redistribution, which is driver-side; at a
    stream boundary the count is the actionable signal). Expected weights
    must be strictly positive."""
    from pyspark.sql import functions as F
    bins = list(partition_object["bins"])
    weights = list(partition_object["weights"])
    if any(w <= 0 for w in weights):
        raise ValueError("windowed_drift requires strictly positive "
                         "expected weights (zero-weight bins make KL "
                         "infinite for any observed mass)")
    prof = windowed_profile(stream_df, time_col=time_col,
                            window_seconds=window_seconds,
                            watermark_seconds=watermark_seconds,
                            value_col=value_col, bins=bins)
    import math
    n = len(weights)
    total = sum((F.col(f"bin_{i}") for i in range(1, n)),
                F.col("bin_0")).cast("double")
    kl = F.lit(0.0)
    for i, w in enumerate(weights):
        p = F.col(f"bin_{i}").cast("double") / total
        kl = kl + F.when(F.col(f"bin_{i}") > 0,
                         p * (F.log(p) - F.lit(math.log(w)))).otherwise(0.0)
    kl = F.when(total > 0, kl)
    nonnull = F.col("element_count") - F.col("null_count")
    return prof.select(
        "window_start", "window_end", "element_count",
        total.cast("long").alias("in_bin_count"),
        (nonnull - total).cast("long").alias("out_of_bin_count"),
        kl.alias("kl"),
        F.when(kl.isNotNull(), kl > threshold).alias("drifted"))


def stateful_unique_violations(stream_df: DataFrame, key_col: str,
                               *, timeout_seconds: int | None = None) -> DataFrame:
    """Cross-batch uniqueness via applyInPandasWithState (north-star:
    'applyInPandasWithState for custom stateful operators').

    The per-micro-batch engine can only see duplicates WITHIN a batch; this
    operator keeps one state row per key (times seen so far) in the streaming
    state store, so a clip_id that re-appears three batches later is still
    flagged. Emits one row per duplicate observation:
    (key, seen_count, dup_in_batch). State is per-key-partitioned — scales
    with the state store (RocksDB on a real cluster), no driver state.
    ``timeout_seconds`` expires idle keys (bounded state for unbounded
    streams; a key re-appearing after expiry is treated as new — the
    documented tradeoff of bounded-memory streaming dedup)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"{key_col} string, seen_count bigint, dup_in_batch bigint")
    state_schema = "seen bigint"

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        (seen,) = state.get if state.exists else (0,)
        total = seen + n_new
        state.update((total,))
        if timeout_seconds is not None:
            state.setTimeoutDuration(timeout_seconds * 1000)
        if total > 1:
            yield pd.DataFrame({key_col: [key[0]], "seen_count": [total],
                                "dup_in_batch": [n_new]})

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_seconds is not None else GroupStateTimeout.NoTimeout)
    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(track, out_schema, state_schema,
                                    "append", timeout))


def incremental_stream(stream_df: DataFrame, inc, *, checkpoint_dir: str,
                       trigger_seconds: float | None = None,
                       query_name: str | None = None):
    """Feed a stream's microbatches into an ``IncrementalCheckpoint`` as
    append deltas: each batch runs ONE fused statistics pass and commits
    ``batch-<id>`` to the stats store, so ``inc.merged_result(spark)``
    yields exact whole-stream verdicts at any moment — the same sufficient-
    statistics merge that serves snapshot tables (sparkcheck/incremental.py)
    serves the stream, with no second bookkeeping scheme.

    Exactly-once without coordination: Spark's foreachBatch replays a failed
    epoch with the SAME batch_id, and ``validate_delta`` skips snapshot ids
    already committed to the store manifest — a replayed batch is a no-op,
    so counts are never double-merged.

    One writer per store: the manifest commit is a read-modify-write (safe
    for foreachBatch, which runs epochs serially within a query) — do not
    point two concurrent streaming queries or a concurrent batch
    ``validate_table`` at the same stats store.

    The stats store and ``checkpoint_dir`` live and die together: batch ids
    come from the Spark checkpoint, so restarting the stream with a FRESH
    checkpoint dir restarts ids at 0 and the store would silently skip the
    new epochs as already-validated. New checkpoint dir => new stats store.

    Returns the started StreamingQuery.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        inc.validate_delta(batch_df, snapshot_id=f"batch-{int(batch_id):012d}")

    writer = (stream_df.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()
