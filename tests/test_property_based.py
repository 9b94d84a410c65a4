"""Property-based EVR checks (hypothesis): random data + random expectation
configs vs an independent brute-force Python model of the reference
semantics (mostly denominator, null filtering, strictness, vacuous truth)."""

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sparkcheck import ExpectationSuite, validate
from sparkcheck.runner import read_partition_verdicts

VALUES = st.lists(
    st.one_of(st.none(), st.integers(-20, 20)), min_size=0, max_size=40)
# suspect to the HLL prescreen: 'auto' resolves it with the exact job
DUP_HEAVY = [1, 1, 1, 2, 2, None, 3, 3, 3, 3, None]


def _run(spark, data, etype, **kw):
    df = spark.createDataFrame([(v,) for v in data], "v int")
    suite = ExpectationSuite("prop").add(etype, column="v", **kw)
    return validate(df, suite).results[0]


def _expected_map(data, pred, mostly):
    """Brute-force GE map semantics: unexpected counted over non-null only;
    success = (nonnull - unexpected) >= mostly * nonnull, vacuous on 0."""
    nonnull = [v for v in data if v is not None]
    unexpected = [v for v in nonnull if not pred(v)]
    if not nonnull:
        success = True
    else:
        success = (len(nonnull) - len(unexpected)) >= mostly * len(nonnull)
    return {
        "element_count": len(data),
        "missing_count": len(data) - len(nonnull),
        "unexpected_count": len(unexpected),
        "success": success,
    }


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=VALUES,
       lo=st.one_of(st.none(), st.integers(-15, 15)),
       hi=st.one_of(st.none(), st.integers(-15, 15)),
       strict_min=st.booleans(), strict_max=st.booleans(),
       mostly=st.sampled_from([1.0, 0.9, 0.5, 0.1]))
def test_between_matches_model(spark, data, lo, hi, strict_min, strict_max, mostly):
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    if lo is None and hi is None:
        return  # rejected by config validation; covered elsewhere

    def pred(v):
        ok = True
        if lo is not None:
            ok = ok and (v > lo if strict_min else v >= lo)
        if hi is not None:
            ok = ok and (v < hi if strict_max else v <= hi)
        return ok

    r = _run(spark, data, "expect_column_values_to_be_between",
             min_value=lo, max_value=hi, strict_min=strict_min,
             strict_max=strict_max, mostly=mostly)
    want = _expected_map(data, pred, mostly)
    for k, v in want.items():
        got = r.success if k == "success" else r.result[k]
        assert got == v, (k, got, want, data)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=VALUES,
       vset=st.lists(st.integers(-20, 20), min_size=1, max_size=8),
       mostly=st.sampled_from([1.0, 0.75, 0.25]))
def test_in_set_matches_model(spark, data, vset, mostly):
    r = _run(spark, data, "expect_column_values_to_be_in_set",
             value_set=vset, mostly=mostly)
    want = _expected_map(data, lambda v: v in set(vset), mostly)
    for k, v in want.items():
        got = r.success if k == "success" else r.result[k]
        assert got == v, (k, got, want, data)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=VALUES)
@example(data=DUP_HEAVY)
def test_unique_marks_all_duplicate_rows(spark, tmp_path_factory, data):
    r = _run(spark, data, "expect_column_values_to_be_unique")
    nonnull = [v for v in data if v is not None]
    from collections import Counter
    c = Counter(nonnull)
    dup_rows = sum(n for n in c.values() if n > 1)
    assert r.result["unexpected_count"] == dup_rows
    assert r.success == (dup_rows == 0)

    # a single key, a compound key and a partially-null compound key (an
    # all-null compound key is outside the default domain): the exact
    # distinct count and dup rows match a brute-force count. per_partition,
    # by physical partition, by a partition column with nulls, or into a
    # sink, leaves the global EVRs as they are (sample order, duplicate
    # groups and distinct count included), and the partitions' dup counts
    # sum to the global ones
    rows = [(v, None if i % 4 == 0 else i % 3, 99 if v is None else v, i % 2)
            for i, v in enumerate(data)]
    keys = {"v": [(v,) for v, _, _, _ in rows if v is not None],
            "w,q": [(w, q) for _, _, w, q in rows],
            "v,p": [(v, p) for v, p, _, _ in rows if (v, p) != (None, None)]}
    df = spark.createDataFrame(rows, "v int, p int, w int, q int")
    suite = (ExpectationSuite("prop")
             .add("expect_column_values_to_be_unique", column="v", mostly=0.5)
             .add("expect_compound_columns_to_be_unique",
                  column_list=["w", "q"], mostly=0.5)
             .add("expect_compound_columns_to_be_unique",
                  column_list=["v", "p"], mostly=0.5))

    def dups(ks):
        return sum(n for n in Counter(ks).values() if n > 1)

    off = validate(df, suite, result_format="SUMMARY").results
    for evr, ks in zip(off, keys.values()):
        assert evr.result["unexpected_count"] == dups(ks)
        assert evr.result["details"]["distinct_count"] == len(set(ks))
        assert "approx_distinct" not in evr.result["details"]
    sink = str(tmp_path_factory.mktemp("usink"))
    for kw in ({}, {"partition_col": "p"}, {"partition_verdict_sink": sink}):
        on = validate(df, suite, result_format="SUMMARY", per_partition=True,
                      **kw)
        assert [(e.success, e.result) for e in on.results] == \
            [(e.success, e.result) for e in off]
        verdicts = (on.meta["partition_verdicts"] if "partition_verdict_sink"
                    not in kw else read_partition_verdicts(spark, sink).collect())
        for dom, ks in keys.items():
            assert sum(v["unexpected_count"] for v in verdicts
                       if v["domain"] == dom) == dups(ks)

    # 'auto': a suspect prescreen falls through to the exact job and reports
    # the sketch's estimate next to the exact count
    auto = validate(df, suite, result_format="SUMMARY",
                    unique_strategy="auto").results
    for evr, ks in zip(auto, keys.values()):
        d = evr.result["details"]
        assert "approx_distinct" in d
        if d["strategy"] == "exact_after_suspect_prescreen":
            assert d["distinct_count"] == len(set(ks))
            assert evr.result["unexpected_count"] == dups(ks)
        else:
            assert d["strategy"] == "hll_prescreen_clean"
    if data == DUP_HEAVY:
        assert auto[0].result["details"]["strategy"] == \
            "exact_after_suspect_prescreen"


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.lists(st.one_of(st.none(), st.floats(
    -1e6, 1e6, allow_nan=False)), min_size=0, max_size=40))
def test_mean_observed_matches_python(spark, data):
    df_data = [(v,) for v in data]
    from sparkcheck import ExpectationSuite, validate
    import pyspark.sql.types as T
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    df = spark.createDataFrame(df_data, schema)
    suite = ExpectationSuite("p").add(
        "expect_column_mean_to_be_between", column="v",
        min_value=-1e9, max_value=1e9)
    r = validate(df, suite).results[0]
    nonnull = [v for v in data if v is not None]
    if not nonnull:
        assert r.result.get("observed_value") is None or not r.success
    else:
        assert r.result["observed_value"] == pytest.approx(
            math.fsum(nonnull) / len(nonnull), rel=1e-9)
