"""Violation samples come from one rank-limited Spark action per domain; they
must equal, in order, what a plain per-item ``filter(cond).select(v)
.limit(k).collect()`` returns — GE's "first N" — on a frame whose
violations are spread over several partitions."""

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationSuite, validate

ROWS = 2000
PARTITIONS = 5
Z_THRESHOLD = 1.2


@pytest.fixture(scope="module")
def frame(spark):
    # range() keeps the row order of every partition fixed, so the oracle
    # and the engine scan the same rows in the same order
    return spark.range(0, ROWS, numPartitions=PARTITIONS).select(
        F.col("id"),
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .otherwise((F.col("id") * 7) % 101).alias("x"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 5).alias("b"),
        F.element_at(F.array(F.lit("wav"), F.lit("mp3"), F.lit("flac")),
                     (F.col("id") % 3 + 1).cast("int")).alias("codec"))


def _suite():
    return (ExpectationSuite("samples")
            .add("expect_column_values_to_be_between", column="x",
                 min_value=0, max_value=90)
            .add("expect_column_values_to_match_regex", column="s",
                 regex="^k1")
            .add("expect_column_pair_values_A_to_be_greater_than_B",
                 column_A="a", column_B="b")
            .add("expect_multicolumn_sum_to_equal", column_list=["a", "b"],
                 sum_total=6)
            .add("expect_column_values_to_be_in_set", column="codec",
                 value_set=["wav"], row_condition="x > 50",
                 condition_parser="spark")
            .add("expect_column_value_z_scores_to_be_less_than", column="x",
                 threshold=Z_THRESHOLD)
            .add("expect_column_value_z_scores_to_be_less_than", column="a",
                 threshold=Z_THRESHOLD))


def _oracle(df, k: int, index_cols: list[str]):
    """Per item, in suite order: its expected (samples, index entries),
    from the first k of its violating rows, each item collected by its own
    filter + limit. Pair samples are [A, B] lists, multicolumn samples are
    dicts; an index entry holds the index columns plus the domain column's
    value."""
    stats = df.agg(*[f(c).alias(f"{f.__name__}_{c}")
                     for c in ("x", "a") for f in (F.avg, F.stddev_samp)]
                   ).first()

    def z_out(c):
        z = (F.col(c) - F.lit(stats[f"avg_{c}"])) / F.lit(
            stats[f"stddev_samp_{c}"])
        return F.col(c).isNotNull() & ~(F.abs(z) < Z_THRESHOLD)

    def same(v):
        return v

    items = [  # (frame, unexpected condition, value, shape, domain column)
        (df, F.expr("x IS NOT NULL AND NOT (x >= 0 AND x <= 90)"),
         F.col("x"), same, "x"),
        (df, F.expr("s IS NOT NULL AND NOT s RLIKE '^k1'"), F.col("s"),
         same, "s"),
        (df, F.expr("NOT (a > b)"), F.struct("a", "b"), list, None),
        (df, F.expr("a + b != 6"), F.struct("a", "b"), lambda v: v.asDict(),
         None),
        (df.filter("x > 50"), F.expr("codec IS NOT NULL AND codec != 'wav'"),
         F.col("codec"), same, "codec"),
        (df, z_out("x"), F.col("x"), same, "x"),
        (df, z_out("a"), F.col("a"), same, "a"),
    ]
    out = []
    for src, cond, value, shape, column in items:
        rows = (src.filter(cond).select(value.alias("v"), *index_cols)
                .limit(k).collect())
        samples = [shape(r["v"]) for r in rows]
        entries = []
        for r, v in zip(rows, samples):
            entry = {c: r[c] for c in index_cols}
            if column and column not in entry:
                entry[column] = v
            entries.append(entry)
        out.append((samples, entries))
    return out


@pytest.mark.parametrize("fmt", ["SUMMARY", "COMPLETE", "SUMMARY+index"])
def test_samples_match_per_item_filter_limit(spark, frame, fmt):
    """Per-partition off and on, against one oracle."""
    assert frame.rdd.getNumPartitions() == PARTITIONS
    if fmt == "COMPLETE":
        rf, k, index_cols = ({"result_format": "COMPLETE",
                              "unexpected_list_limit": 7}, 7, [])
    elif fmt == "SUMMARY+index":
        rf, k, index_cols = ({"result_format": "SUMMARY",
                              "unexpected_index_column_names": ["id"]},
                             20, ["id"])
    else:
        rf, k, index_cols = "SUMMARY", 20, []
    oracle = _oracle(frame, k, index_cols)
    for per_partition in (False, True):
        res = validate(frame, _suite(), result_format=rf,
                       per_partition=per_partition)
        for evr, (samples, entries) in zip(res.results, oracle):
            name = evr.expectation_config.expectation_type
            assert not evr.exception_info.get("raised_exception"), name
            assert evr.result["unexpected_count"] > k, name  # more than k
            key = ("unexpected_list" if fmt == "COMPLETE"
                   else "partial_unexpected_list")
            assert evr.result[key] == samples, name
            if index_cols:
                assert evr.result["partial_unexpected_index_list"] == entries
            else:
                assert "partial_unexpected_index_list" not in evr.result
    # the violations sit in every partition, not only the first
    pids = (frame.filter("x > 90")
            .select(F.spark_partition_id().alias("p")).distinct().count())
    assert pids == PARTITIONS


def test_samples_failure_is_attributed_to_sampled_items(spark, frame,
                                                         monkeypatch):
    """If the one sample action raises, every item it sampled — and only
    those — carries the exception; without catch_exceptions it raises."""
    from sparkcheck.runner import ValidationRun

    def broken(self, dfd, wanted):
        raise RuntimeError("sample action failed")

    monkeypatch.setattr(ValidationRun, "_collect_samples", broken)
    suite = (_suite()
             .add("expect_column_values_to_not_be_null", column="id")
             .add("expect_column_mean_to_be_between", column="a",
                  min_value=0, max_value=10))
    res = validate(frame, suite, result_format="SUMMARY")
    for evr in res.results:
        name = evr.expectation_config.expectation_type
        raised = evr.exception_info.get("raised_exception", False)
        clean = name in ("expect_column_values_to_not_be_null",
                         "expect_column_mean_to_be_between")
        assert raised is not clean, name
        if raised:
            assert evr.success is False
            assert evr.exception_info["exception_message"] == (
                "RuntimeError: sample action failed")
    # BOOLEAN_ONLY samples nothing, so nothing fails
    res = validate(frame, suite, result_format="BOOLEAN_ONLY")
    assert not any(r.exception_info.get("raised_exception")
                   for r in res.results)
    with pytest.raises(RuntimeError, match="sample action failed"):
        validate(frame, suite, result_format="SUMMARY",
                 catch_exceptions=False)
