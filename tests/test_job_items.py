"""Job items that take their counts and samples (or tie list) from one Spark
action: the audio SNR, payload and header items and most-common. Their
EVRs are pinned as JSON text, and none of them caches a DataFrame."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkcheck import ExpectationSuite, validate

_PINNED_EVRS = os.path.join(os.path.dirname(__file__), "data",
                            "job_item_evrs.json")

_SNR = "expect_audio_snr_vs_reference_to_be_above"


def _audio_suite() -> ExpectationSuite:
    """Every audio item and every path of the SNR item: the full decode
    with a sort-merge and a broadcast reference, the hash prescreen with
    its mismatches above and below the pushdown cap."""
    return (ExpectationSuite("job_items")
            .add(_SNR, reference_table="ref", hash_prescreen=False)
            .add(_SNR, reference_table="ref", hash_prescreen=False,
                 broadcast_reference=True)
            .add("expect_audio_header_to_match_metadata")
            .add(_SNR, reference_table="ref", max_pushdown_keys=1)
            .add(_SNR, reference_table="ref")
            .add("expect_audio_payload_to_match_reference",
                 reference_table="ref"))


def _most_common_cases(spark):
    """(frame, kwargs) pairs: a two-way tie in a column with nulls, and
    3,000 distinct values that all tie, truncated at 50, with the set
    member sorting after the truncated list."""
    tie = spark.range(0, 600, numPartitions=4).select(
        F.when(F.col("id") % 6 == 5, None)
        .otherwise(F.col("id") % 3).alias("v"))
    unique = spark.range(0, 3000, numPartitions=4).select(
        F.format_string("v%05d", F.col("id")).alias("v"))
    return [(tie, {"value_set": [1], "ties_okay": True}),
            (unique, {"value_set": ["v02999"], "ties_okay": True,
                      "max_ties": 50})]


def _evr_dicts(results) -> list:
    return [{"expectation_type": r.expectation_config.expectation_type,
             "kwargs": r.expectation_config.kwargs, "success": r.success,
             "result": r.result, "exception_info": r.exception_info}
            for r in results]


def job_item_evr_dicts(spark, dirty, ref) -> dict:
    """The audio suite on the audio pair under SUMMARY and COMPLETE, and
    the most-common cases: one list of EVR dicts each."""
    out = {}
    for rf in ("SUMMARY", "COMPLETE"):
        res = validate(dirty, _audio_suite(), tables={"ref": ref},
                       result_format=rf)
        out[f"audio {rf}"] = _evr_dicts(res.results)
    most_common = []
    for df, kw in _most_common_cases(spark):
        suite = ExpectationSuite("mc").add(
            "expect_column_most_common_value_to_be_in_set", column="v", **kw)
        most_common += _evr_dicts(validate(df, suite).results)
    out["most_common"] = most_common
    return out


@pytest.fixture(scope="module")
def job_items(spark, audio_pair):
    """job_item_evr_dicts on the audio pair with DataFrame.persist and
    DataFrame.cache counted, and the executed plan of every action of the
    header and full-decode items kept: (EVR dicts, frames persisted or
    cached, item label -> plans)."""
    import pyspark.sql.classic.dataframe as CD

    import sparkcheck.metrics.audio as audio
    persisted, plans = [], {}
    collect = CD.DataFrame.collect

    def counting(real):
        def call(self, *a, **kw):
            persisted.append(self)
            return real(self, *a, **kw)
        return call

    def traced(real, label):
        def call(run, item, *a, **kw):
            name = label(item.kwargs)
            if name is None:
                return real(run, item, *a, **kw)

            def spy(self):
                rows = collect(self)
                plan = self._jdf.queryExecution().executedPlan().toString()
                # AQE prints the final plan, then the initial one
                plans.setdefault(name, []).append(
                    plan.split("== Initial Plan ==")[0])
                return rows
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(CD.DataFrame, "collect", spy)
                return real(run, item, *a, **kw)
        return call

    def snr_label(kw):
        if kw.get("hash_prescreen", True):
            return None
        return ("full_decode_broadcast" if kw.get("broadcast_reference")
                else "full_decode")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CD.DataFrame, "persist", counting(CD.DataFrame.persist))
        mp.setattr(CD.DataFrame, "cache", counting(CD.DataFrame.cache))
        mp.setattr(audio, "run_header_item",
                   traced(audio.run_header_item, lambda kw: "header"))
        mp.setattr(audio, "run_snr_item", traced(audio.run_snr_item, snr_label))
        dicts = job_item_evr_dicts(spark, *audio_pair)
    return dicts, persisted, plans


def test_job_item_evrs_are_pinned(job_items):
    """Every audio item and SNR path under SUMMARY and COMPLETE, and the
    most-common cases, are pinned as JSON text (key and sample order too)
    in tests/data/job_item_evrs.json. The file was written by the engine
    that cached the full decode's and the header parse's rows and
    most-common's value counts, and ran each count and sample over the
    cache as its own job."""
    with open(_PINNED_EVRS) as f:
        expected = json.dumps(json.load(f), indent=1)
    assert json.dumps(job_items[0], indent=1, default=str) == expected


def test_job_items_cache_nothing(job_items):
    """No audio item and no most-common item persists or caches a frame."""
    assert job_items[1] == []


@pytest.mark.parametrize("label", ["header", "full_decode",
                                   "full_decode_broadcast"])
def test_python_map_runs_once(job_items, label):
    """The header parse and the full decode are Python maps; each item's
    one action (counts and samples in two branches) plans the map once
    and reads it through a reused exchange, under SUMMARY and COMPLETE."""
    plans = job_items[2][label]
    assert len(plans) == 2, plans
    for plan in plans:
        assert "ReusedExchange" in plan, plan
        assert plan.count("MapInPandas") == 1, plan


def test_header_null_metadata_is_unexpected(spark):
    """A null sr_hz beside a payload is an unexpected row, not an executor
    error that turns the item into an exception EVR: Arrow hands the
    nullable INT column over as float64 with NaN for null."""
    from sparkcheck.io import generate_audio_clips
    df = generate_audio_clips(spark, 200, clean=True, num_partitions=2)
    df = df.withColumn("sr_hz", F.when(~F.col("clip_id").endswith("7"),
                                       F.col("sr_hz")))
    (evr,) = validate(df, ExpectationSuite("h").add(
        "expect_audio_header_to_match_metadata")).results
    assert not evr.exception_info["raised_exception"], evr.exception_info
    assert evr.result["unexpected_count"] == 20
    assert all(k.endswith("7") for k in evr.result["partial_unexpected_list"])
