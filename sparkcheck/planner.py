"""Suite -> fused-plan compiler.

The reference resolves a metric dependency graph and bundles all aggregate
metrics over one domain into a single ``df.agg(...)`` job
(great_expectations/execution_engine/sparkdf_execution_engine.py:631-690,
dedup via metric-id edge sets in validator/validation_graph.py:38-43).

Ours goes further (SURVEY.md §4 row 2/3): *all* metrics — aggregate values,
map-condition unexpected-counts, HLL sketches, histogram buckets — over one
domain compile into slots of ONE ``df.agg``/``df.rollup("__pid").agg`` pass.
The reference runs one extra Spark job per materialized map metric; we fold
the counts into the fused pass and only run extra jobs for violation samples,
window conditions, and uniqueness dup-groups. An imperative sketch slot
(HLL++) turns off whole-stage codegen for the whole pass, so one is planned
only when a verdict reads it.

Domains: expectations sharing the same ``row_condition`` share one fused pass
(the reference groups bundles by compute-domain id the same way).
"""

from __future__ import annotations

import math
import numbers
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, LongType, StringType

from .expectations.defs import ExpectationSpec, get_spec
from .metrics import conditions as C
from .types import ExpectationConfiguration, kwargs_id


@dataclass(frozen=True)
class Merge:
    """How a slot whose value is not a fold of per-delta values (a mean, a
    stdev, an HLL estimate, quantiles) merges across incremental deltas.
    ``state`` names its per-delta statistics and the op that merges each: a
    fold op, or 'hll' (merges to the distinct estimate) or 'kll' (merges to
    {quantile: value} over ``quantiles``). ``build(df)`` makes their
    aggregates over a delta, in that order; ``finalize`` takes their merged
    values, in that order, and returns the slot's value."""
    state: dict[str, str]
    build: Callable[[DataFrame], list[Column]]
    finalize: Callable[..., Any]
    quantiles: tuple[float, ...] = ()


@dataclass
class SlotTable:
    """Dedup table: metric key -> slot alias, building one agg expression list."""

    exprs: dict[str, Column] = field(default_factory=dict)  # alias -> expr
    keys: dict[str, str] = field(default_factory=dict)      # metric key -> alias
    # alias -> how the slot merges across incremental deltas: a fold op of
    # its own value ("sum", "sum_nullable", "min", "max", "set_union") or a
    # Merge; a slot without one does not merge
    merges: dict[str, str | Merge] = field(default_factory=dict)

    def add(self, key: str, build: Callable[[], Column],
            merge: str | Merge | None = None) -> str:
        """The slot alias of ``key``; ``build`` makes its expression, and
        runs only for a new key (every Column built costs py4j calls)."""
        if key in self.keys:
            return self.keys[key]
        alias = f"m{len(self.exprs)}"
        self.exprs[alias] = build()
        self.keys[key] = alias
        if merge is not None:
            self.merges[alias] = merge
        return alias

    @property
    def agg_list(self) -> list[Column]:
        return [e.alias(a) for a, e in self.exprs.items()]


@dataclass
class CompiledItem:
    config: ExpectationConfiguration
    spec: ExpectationSpec
    kwargs: dict
    slots: dict[str, str] = field(default_factory=dict)  # role -> alias
    # role extras resolved at runtime (e.g. drift bin metadata)
    info: dict[str, Any] = field(default_factory=dict)


@dataclass
class DomainPlan:
    row_condition: str | None
    condition_parser: str | None = None
    slot_table: SlotTable = field(default_factory=SlotTable)
    fused_items: list[CompiledItem] = field(default_factory=list)     # map / agg / agg_custom / drift
    dependent_items: list[CompiledItem] = field(default_factory=list)  # z-score (needs pass-1 values)
    job_items: list[CompiledItem] = field(default_factory=list)        # window / unique / value / referential / audio
    # a map item's "unexpected" slot alias -> the row condition it counts,
    # reused by the violation sampler. Kept here, not on CompiledItem: sink
    # mode pickles items to executors, and a Column does not pickle.
    unexpected: dict[str, Column] = field(default_factory=dict)


@dataclass
class CompiledSuite:
    domains: dict[str, DomainPlan] = field(default_factory=dict)
    schema_items: list[CompiledItem] = field(default_factory=list)


def _nonnull_pred(spec: ExpectationSpec, kw: dict) -> Column:
    if not spec.filter_nulls:
        return F.lit(True)
    if spec.nonnull is not None:
        return spec.nonnull(kw)
    return F.col(kw["column"]).isNotNull()


def _job_nonnull(spec: ExpectationSpec, kw: dict) -> Column:
    """The domain filter of a job item's nonnull slot. Uniqueness scans
    filter by it too (the exact dup groups, the incremental HLL sketch), so
    their counts agree with the slot's. Compound keys default to
    all_values_are_missing (expect_compound_columns_to_be_unique.py:35):
    partially-null keys take part in dup grouping, nulls grouping together."""
    if spec.extra.get("compound") or "column_list" in kw:
        return C.multicolumn_domain_filter(
            {**kw, "ignore_row_if": kw.get("ignore_row_if", "all_values_are_missing")})
    if "column" in kw:
        return F.col(kw["column"]).isNotNull()
    return F.lit(True)


def _unique_key(spec: ExpectationSpec, kw: dict) -> Column:
    """The value a uniqueness item's rows must not repeat: its column, or a
    struct of a compound key's columns."""
    if spec.extra.get("compound"):
        return F.struct(*[F.col(c) for c in kw["column_list"]])
    return F.col(kw["column"])


def _count_if(cond: Column) -> Column:
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))


def _nonnull_slot(st: SlotTable, column: str) -> str:
    return st.add(f"nonnull::col:{column}",
                  lambda: _count_if(F.col(column).isNotNull()), "sum")


def _row_count() -> Column:
    return F.count(F.lit(1))


def _add_common_map_slots(dp: DomainPlan, item: CompiledItem,
                          nn: Callable[[], Column], nn_key: str) -> None:
    item.slots["element"] = dp.slot_table.add(
        "table.row_count", _row_count, "sum")
    item.slots["nonnull"] = dp.slot_table.add(
        f"nonnull::{nn_key}", lambda: _count_if(nn()), "sum")


# ------------------------------------------- incremental merge declarations

# default DataSketches KLL k: ~0.8% one-sided normalized rank error at 99%
# confidence, 4-5 KB serialized — override per expectation with kll_k=
KLL_DEFAULT_K = 200
# published DataSketches KLL accuracy model (single-sided, 99% confidence):
# eps(k) ≈ 2.296 / k^0.9 — inverted to honor allow_relative_error
_KLL_EPS_COEF, _KLL_EPS_EXP = 2.296, 0.9
_KLL_MIN_K = 8  # the smallest k the DataSketches KLL sketch accepts
_KLL_MAX_K = 16384  # ~0.04% rank error, ~300 KB sketch — still stats-file KB
# the input types hll_sketch_agg takes; any other is hashed to BIGINT
_HLL_INPUT_TYPES = (IntegerType, LongType, StringType, BinaryType)


def _kll_k_for(kw: dict) -> int:
    """Effective KLL k for a quantile expectation: explicit ``kll_k`` wins;
    otherwise a positive ``allow_relative_error`` is treated as the caller's
    rank-error tolerance and k is derived from the inverted accuracy model
    (never below the default — tighter than requested is always safe).
    Tolerances the largest supported sketch cannot deliver are rejected at
    classification time, not silently rounded to k=200. An explicit k
    outside [_KLL_MIN_K, _KLL_MAX_K] is a configuration error."""
    if "kll_k" in kw:
        k = kw["kll_k"]
        if (isinstance(k, bool) or not isinstance(k, numbers.Integral)
                or not _KLL_MIN_K <= k <= _KLL_MAX_K):
            raise ValueError(
                f"kll_k={k!r} must be an integer in "
                f"[{_KLL_MIN_K}, {_KLL_MAX_K}]")
        return int(k)
    err = kw.get("allow_relative_error", False)
    if isinstance(err, (int, float)) and not isinstance(err, bool) and err > 0:
        k = math.ceil((_KLL_EPS_COEF / float(err)) ** (1.0 / _KLL_EPS_EXP))
        return max(KLL_DEFAULT_K, k)
    return KLL_DEFAULT_K


def _hll_lg_k(rsd: float) -> int:
    """HLL standard error ~= 1.04 / sqrt(2^lgK); pick the smallest lgK whose
    error is <= ``rsd`` (clamped to the sketch's valid 4..21)."""
    lg = math.ceil(2.0 * math.log2(1.04 / max(float(rsd), 1e-6)))
    return max(4, min(21, int(lg)))


def _mean(cnt: int, s1: float | None) -> float | None:
    return s1 / cnt if cnt else None


def _stdev(cnt: int, s1: float | None, s2: float | None) -> float | None:
    """Sample stdev = sqrt((S2 - S1^2/C)/(C-1)). Float64 sums: the only
    inexactness is last-ulp association order, bounded by the delta count."""
    if cnt < 2:
        return None
    s1, s2 = s1 or 0.0, s2 or 0.0
    return math.sqrt(max(0.0, (s2 - s1 * s1 / cnt) / (cnt - 1)))


def _moments(column: str, stdev: bool = False) -> Merge:
    """Mean (or sample stdev) from summed count, sum and sum of squares of
    the column as double."""
    def build(df: DataFrame) -> list[Column]:
        dbl = F.col(column).cast("double")
        cols = [F.count(column), F.sum(dbl)]
        return cols + [F.sum(dbl * dbl)] if stdev else cols
    names = ("cnt", "sum", "sumsq") if stdev else ("cnt", "sum")
    return Merge(dict.fromkeys(names, "sum"), build,
                 _stdev if stdev else _mean)


def _hll(rsd: float, gate: Callable[[], Column],
         target: Callable[[], Column]) -> Merge:
    """A DataSketches HLL sketch of ``target`` over the rows ``gate`` admits
    (losslessly mergeable, unlike approx_count_distinct's value). A target
    type the sketch does not take is hashed with xxhash64 inside the gate,
    so rows outside it stay NULL."""
    def build(df: DataFrame) -> list[Column]:
        t = target()
        if not isinstance(df.select(t).schema[0].dataType, _HLL_INPUT_TYPES):
            t = F.xxhash64(t)
        return [F.hll_sketch_agg(F.when(gate(), t), F.lit(_hll_lg_k(rsd)))]
    return Merge({"hll": "hll"}, build, lambda estimate: estimate)


def _column_hll(kw: dict) -> Merge:
    c = kw["column"]
    return _hll(kw.get("rsd", 0.05), lambda: F.col(c).isNotNull(),
                lambda: F.col(c))


def _kll(kw: dict, quantiles: list[float], scalar: bool = False) -> Merge:
    """A DataSketches KLL doubles sketch read at ``quantiles`` (one value if
    ``scalar``), within its normalized rank-error bound of the exact one."""
    def build(df: DataFrame) -> list[Column]:
        return [F.kll_sketch_agg_double(F.col(kw["column"]).cast("double"),
                                        F.lit(_kll_k_for(kw)))]

    def finalize(qmap: dict | None):
        values = [(qmap or {}).get(q) for q in quantiles]
        return values[0] if scalar else values
    return Merge({"kll": "kll"}, build, finalize, tuple(quantiles))


# how an "agg" kind's slot merges, by expectation type (absent: it does not)
_AGG_MERGES: dict[str, Callable[[dict], str | Merge | None]] = {
    "expect_column_mean_to_be_between": lambda kw: _moments(kw["column"]),
    "expect_column_min_to_be_between": lambda kw: "min",
    "expect_column_max_to_be_between": lambda kw: "max",
    "expect_column_sum_to_be_between": lambda kw: "sum_nullable",
    "expect_column_stdev_to_be_between":
        lambda kw: _moments(kw["column"], stdev=True),
    "expect_column_median_to_be_between":
        lambda kw: _kll(kw, [0.5], scalar=True),
    # an exact distinct count does not decompose into per-delta statistics
    "expect_column_unique_value_count_to_be_between":
        lambda kw: _column_hll(kw) if kw.get("approximate") else None,
}


def _nn_key(spec: ExpectationSpec, kw: dict) -> str:
    if not spec.filter_nulls:
        return "__all__"
    if spec.nonnull is not None or "column" not in kw:
        # pair/multicolumn ignore_row_if domain
        return kwargs_id({k: kw.get(k) for k in ("column_A", "column_B", "column_list", "ignore_row_if")})
    return f"col:{kw['column']}"


def compile_suite(suite_expectations: list[ExpectationConfiguration],
                  unique_strategy: str = "exact") -> CompiledSuite:
    """Group the expectations into domains and their metrics into fused
    slots. ``unique_strategy`` is the run's: the HLL++ uniqueness prescreen
    slot is emitted only under 'approx'/'auto', whose verdicts read it."""
    plan = CompiledSuite()
    for config in suite_expectations:
        spec = get_spec(config.expectation_type)
        kw = {**spec.defaults, **config.kwargs}
        item = CompiledItem(config=config, spec=spec, kwargs=kw)

        if spec.kind == "schema":
            plan.schema_items.append(item)
            continue

        rc = kw.get("row_condition")
        cp = kw.get("condition_parser")
        did = kwargs_id({"rc": rc, "cp": cp})
        dp = plan.domains.setdefault(
            did, DomainPlan(row_condition=rc, condition_parser=cp))

        if spec.kind == "map":
            nn = _nonnull_pred(spec, kw)
            _add_common_map_slots(dp, item, lambda: nn, _nn_key(spec, kw))
            unexpected = nn & ~spec.condition(kw)
            item.slots["unexpected"] = dp.slot_table.add(
                f"unexp::{config.id}", lambda: _count_if(unexpected), "sum")
            dp.unexpected.setdefault(item.slots["unexpected"], unexpected)
            dp.fused_items.append(item)

        elif spec.kind == "map_dependent":  # z-score: needs mean/std first
            c = kw["column"]
            _add_common_map_slots(dp, item, lambda: F.col(c).isNotNull(),
                                  _nn_key(spec, kw))
            item.slots["mean"] = dp.slot_table.add(
                f"agg::mean::{c}", lambda: F.avg(c))
            item.slots["stddev"] = dp.slot_table.add(
                f"agg::stddev::{c}", lambda: F.stddev_samp(c))
            # the column of its unexpected count in the z-score pass (not a
            # fused slot)
            item.slots["unexpected"] = f"z{len(dp.dependent_items)}"
            dp.dependent_items.append(item)

        elif spec.kind == "audio":
            # audio invariants compute element/nonnull inside their own
            # join+UDF job — adding slots here would force the fused pass to
            # scan the binary column, breaking column pruning for the rest of
            # the suite (SURVEY.md §4 row 5: never read bytes unless needed)
            dp.job_items.append(item)

        elif spec.kind in ("map_window", "map_unique", "value", "referential"):
            # these need their own job, but element/nonnull counts still come
            # from the fused pass (except pure other-table checks)
            if spec.extra.get("handler") == "row_count_other_table":
                item.slots["value"] = dp.slot_table.add(
                    "table.row_count", _row_count, "sum")
            else:
                _add_common_map_slots(dp, item, lambda: _job_nonnull(spec, kw),
                                      _nn_key(spec, kw))
                if spec.kind == "map_unique" and unique_strategy in ("approx", "auto"):
                    # HLL++ prescreen (north_star: approx_count_distinct with
                    # exact fallback). Not free: HLL++ is an imperative
                    # aggregate, which turns off whole-stage codegen for the
                    # WHOLE fused pass, so the slot is only planned when a
                    # verdict reads it. The target is gated on the SAME
                    # domain filter as the nonnull slot (when() -> NULL
                    # outside the domain, which the HLL ignores): a compound
                    # key whose struct is non-null even when all members are
                    # null would otherwise count the all-null group,
                    # deflating est_dups = nonnull - approx by one group
                    # right at the 3*rsd decision band (ADVICE r3 #4).
                    item.slots["approx_distinct"] = dp.slot_table.add(
                        f"hll::{kwargs_id(kw)}",
                        lambda: F.approx_count_distinct(
                            F.when(_job_nonnull(spec, kw), _unique_key(spec, kw)),
                            float(kw.get("rsd", 0.05))),
                        _hll(kw.get("rsd", 0.05), partial(_job_nonnull, spec, kw),
                             partial(_unique_key, spec, kw)))
            dp.job_items.append(item)

        elif spec.kind == "agg":
            item.slots["value"] = dp.slot_table.add(
                f"agg::{config.expectation_type}::{kwargs_id(kw)}",
                lambda: spec.agg(kw),
                _AGG_MERGES.get(config.expectation_type, lambda kw: None)(kw))
            dp.fused_items.append(item)

        elif spec.kind == "agg_custom":
            _compile_agg_custom(dp, item)
            dp.fused_items.append(item)

        elif spec.kind == "drift":
            _compile_drift(dp, item)
            dp.fused_items.append(item)

        else:
            raise ValueError(f"unhandled kind {spec.kind} for {config.expectation_type}")

    return plan


def _compile_agg_custom(dp: DomainPlan, item: CompiledItem) -> None:
    kw, handler = item.kwargs, item.spec.extra["handler"]
    st = dp.slot_table
    if handler == "row_count":
        item.slots["value"] = st.add("table.row_count", _row_count, "sum")
    elif handler == "quantiles":
        col = kw["column"]
        qr = kw["quantile_ranges"]
        quantiles = [float(q) for q in qr["quantiles"]]
        for pair in qr.get("value_ranges", []):
            lo, hi = pair
            if lo is not None and hi is not None and lo > hi:
                raise ValueError("quantile_ranges must consist of ordered pairs")
        err = kw.get("allow_relative_error", False)
        if kw.get("interpolation") == "linear":
            # exact interpolated percentile (sort-based; matches SQL
            # percentile_cont / our DuckDB oracle). EXPLICIT opt-in: the
            # aggregation buffers every value of the column per group — fine
            # up to ~10^8 rows per executor, unusable at 10^12. At scale use
            # the default sketch path or pass allow_relative_error.
            item.slots["value"] = st.add(
                f"quantiles::{kwargs_id(kw)}", lambda: F.percentile(
                    col, F.array(*[F.lit(q) for q in quantiles])))
        elif kw.get("exact") is True or (err is not False and err == 0):
            # reference-exact semantics: df.approxQuantile(.., 0.0) returns
            # the same order statistics with the same rank convention
            # (column_quantile_values.py:164-193) — resolved as its own small
            # job by the runner (info flag), not a fused slot. EXPLICIT
            # opt-in — either exact=True or an explicit
            # allow_relative_error=0, the reference's own way to request
            # exactness: relativeError=0 buffers the whole column in the
            # Greenwald-Khanna sketch (same unbounded-memory bound as
            # `percentile`).
            item.info["use_approx_quantile"] = True
        else:
            # scale-safe DEFAULT (allow_relative_error left unset): fused
            # percentile_approx (bounded-memory KLL-style sketch, mergeable
            # across partitions). With the default accuracy (Spark's 10000)
            # the sketch holds every value until ~10^4 rows per partition,
            # so small batches still get exact order statistics; above that
            # the error is <= 1/accuracy relative rank. This diverges from
            # the reference's exact-rank default by design — pass exact=True,
            # allow_relative_error=0, or interpolation="linear" to restore
            # it (documented memory bound).
            accuracy = (10_000 if err is False
                        else max(1, int(1.0 / float(err))))
            item.slots["value"] = st.add(
                f"quantiles::{kwargs_id(kw)}", lambda: F.percentile_approx(
                    col, F.array(*[F.lit(q) for q in quantiles]),
                    F.lit(accuracy)), _kll(kw, quantiles))
        item.info["quantiles"] = quantiles
    elif handler == "unique_proportion":
        col = kw["column"]
        if kw.get("approximate"):
            # HLL++ estimate / nonnull — mergeable across partitions AND
            # across incremental snapshots (same opt-in semantics as
            # expect_column_unique_value_count_to_be_between)
            rsd = float(kw.get("rsd", 0.05))
            item.slots["distinct"] = st.add(
                f"agg::approxCountDistinct::{col}::{rsd}",
                lambda: F.approx_count_distinct(col, rsd), _column_hll(kw))
        else:
            item.slots["distinct"] = st.add(
                f"agg::countDistinct::{col}", lambda: F.count_distinct(col))
        item.slots["nonnull"] = _nonnull_slot(st, col)
    elif handler == "distinct_set":
        col = kw["column"]
        item.slots["value"] = st.add(
            f"agg::distinct_set::{col}",
            lambda: F.array_sort(F.collect_set(col)), "set_union")
    else:
        raise ValueError(f"unknown agg_custom handler {handler}")


def _compile_drift(dp: DomainPlan, item: CompiledItem) -> None:
    """Histogram / category counts as fused conditional-count slots.

    Reference semantics: expect_column_kl_divergence_to_be_less_than
    dependency selection (get_validation_dependencies:190-313) and histogram
    bucketing with closed last bin (column_histogram.py:160-234). One slot per
    bucket keeps the whole drift check inside the single fused pass.
    """
    kw = item.kwargs
    st = dp.slot_table
    po = kw.get("partition_object")
    if po is None:
        if item.spec.extra.get("score") != "kl":
            raise ValueError(f"{item.config.expectation_type} requires partition_object")
        # KL auto-partition (reference: partition_object=None => build the
        # partition from THIS batch via column.partition/column.histogram or
        # value_counts — expect_column_kl_divergence_to_be_less_than.py:
        # 338-356); resolved by the runner as its own small jobs
        item.info["auto"] = "continuous" if kw.get("bucketize_data", True) else "categorical"
        item.slots["nonnull"] = _nonnull_slot(st, kw["column"])
        item.info["expected_weights"] = []
        item.info["bin_aliases"] = []
        return
    item.slots["nonnull"] = _nonnull_slot(st, kw["column"])
    col = F.col(kw["column"])
    base = kwargs_id({"c": kw["column"], "po": po})
    if "bins" in po:
        bins = [float(b) for b in po["bins"]]
        aliases = []
        for i in range(len(bins) - 1):
            lo, hi = bins[i], bins[i + 1]
            last = i == len(bins) - 2  # last bin closed (GE histogram)
            aliases.append(st.add(f"hist::{base}::{i}", lambda: _count_if(
                (col >= lo) & ((col <= hi) if last else (col < hi))), "sum"))
        item.slots["below"] = st.add(
            f"hist::{base}::below", lambda: _count_if(col < bins[0]), "sum")
        item.slots["above"] = st.add(
            f"hist::{base}::above", lambda: _count_if(col > bins[-1]), "sum")
        item.info["bin_aliases"] = aliases
        item.info["bins"] = bins
    else:
        values = po["values"]
        aliases = [
            st.add(f"cat::{base}::{i}",
                   lambda: _count_if(col.eqNullSafe(F.lit(v))), "sum")
            for i, v in enumerate(values)
        ]
        item.info["bin_aliases"] = aliases
        item.info["values"] = list(values)
    if "weights" in po:
        item.info["expected_weights"] = [float(w) for w in po["weights"]]
    elif item.spec.extra.get("score") == "ks_param_p":
        # parameterized-distribution KS: expected bin mass from the named
        # distribution's CDF at the bin edges (scipy-free; sketches.py)
        from .metrics.sketches import distribution_bin_weights
        weights, below_w, above_w = distribution_bin_weights(
            kw["distribution"], kw.get("params", {}), item.info["bins"])
        item.info["expected_weights"] = weights
        item.info["expected_tail_weights"] = [below_w, above_w]
    else:
        raise ValueError(f"{item.config.expectation_type} partition_object requires weights")
