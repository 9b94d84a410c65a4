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

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .expectations.defs import ExpectationSpec, get_spec
from .metrics import conditions as C
from .types import ExpectationConfiguration, kwargs_id


@dataclass
class SlotTable:
    """Dedup table: metric key -> slot alias, building one agg expression list."""

    exprs: dict[str, Column] = field(default_factory=dict)  # alias -> expr
    keys: dict[str, str] = field(default_factory=dict)      # metric key -> alias

    def add(self, key: str, build: Callable[[], Column]) -> str:
        """The slot alias of ``key``; ``build`` makes its expression, and
        runs only for a new key (every Column built costs py4j calls)."""
        if key in self.keys:
            return self.keys[key]
        alias = f"m{len(self.exprs)}"
        self.exprs[alias] = build()
        self.keys[key] = alias
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


def _count_if(cond: Column) -> Column:
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))


def _nonnull_slot(st: SlotTable, column: str) -> str:
    return st.add(f"nonnull::col:{column}",
                  lambda: _count_if(F.col(column).isNotNull()))


def _row_count() -> Column:
    return F.count(F.lit(1))


def _add_common_map_slots(dp: DomainPlan, item: CompiledItem,
                          nn: Callable[[], Column], nn_key: str) -> None:
    item.slots["element"] = dp.slot_table.add("table.row_count", _row_count)
    item.slots["nonnull"] = dp.slot_table.add(
        f"nonnull::{nn_key}", lambda: _count_if(nn()))


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
                f"unexp::{config.id}", lambda: _count_if(unexpected))
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
                item.slots["value"] = dp.slot_table.add("table.row_count", _row_count)
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
                    target = (F.struct(*[F.col(c) for c in kw["column_list"]])
                              if spec.extra.get("compound") else F.col(kw["column"]))
                    item.slots["approx_distinct"] = dp.slot_table.add(
                        f"hll::{kwargs_id(kw)}",
                        lambda: F.approx_count_distinct(
                            F.when(_job_nonnull(spec, kw), target),
                            float(kw.get("rsd", 0.05))))
            dp.job_items.append(item)

        elif spec.kind == "agg":
            item.slots["value"] = dp.slot_table.add(
                f"agg::{config.expectation_type}::{kwargs_id(kw)}",
                lambda: spec.agg(kw))
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
        item.slots["value"] = st.add("table.row_count", _row_count)
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
                    F.lit(accuracy)))
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
                lambda: F.approx_count_distinct(col, rsd))
        else:
            item.slots["distinct"] = st.add(
                f"agg::countDistinct::{col}", lambda: F.count_distinct(col))
        item.slots["nonnull"] = _nonnull_slot(st, col)
    elif handler == "distinct_set":
        col = kw["column"]
        item.slots["value"] = st.add(
            f"agg::distinct_set::{col}",
            lambda: F.array_sort(F.collect_set(col)))
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
                (col >= lo) & ((col <= hi) if last else (col < hi)))))
        item.slots["below"] = st.add(
            f"hist::{base}::below", lambda: _count_if(col < bins[0]))
        item.slots["above"] = st.add(
            f"hist::{base}::above", lambda: _count_if(col > bins[-1]))
        item.info["bin_aliases"] = aliases
        item.info["bins"] = bins
    else:
        values = po["values"]
        aliases = [
            st.add(f"cat::{base}::{i}",
                   lambda: _count_if(col.eqNullSafe(F.lit(v))))
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
