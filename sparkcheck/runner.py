"""Execution: run a compiled suite against a DataFrame.

Job structure (vs the reference, SURVEY.md §4):
- pass 1: ONE ``df.agg(...)`` per domain — all aggregate values, map-condition
  unexpected counts, HLL sketches, and drift histogram buckets fused. With
  ``per_partition=True`` this becomes ``df.rollup("__pid").agg(...)`` so one
  pass yields per-partition verdict rows AND the exact global result (the
  reference runs one job per materialized metric family instead:
  map_metric_provider.py:2344-2490).
- pass 2 (optional): dependent conditions (z-score) whose expressions need
  pass-1 values (mean/stddev) — one fused agg for all of them together.
- violation samples: ONE rank-limited action per domain for its failing map
  items (and one for its failing z-score items) — each row exploded into the
  items it violates, first k per item by scan position — where the reference
  runs one filter + limit job per item (map_metric_provider.py:2372-2415).
- extra jobs only where semantics require them: window conditions
  (increasing/decreasing), uniqueness dup-groups (groupBy instead of the
  reference's whole-table window — column_values_unique.py:83-87), referential
  anti-joins and audio-invariant joins.

Scale notes: the fused pass is a single scan with map-side partial
aggregation; `bytes`-typed columns are never read unless an audio expectation
is in the suite (Catalyst column pruning); violation samples are capped
driver-side (COMPLETE caps at ``unexpected_list_limit``, default 10k) with the
full set available via the checkpoint results sink instead of the driver.
"""

from __future__ import annotations

import json
import logging
import math
import os
import traceback
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .expectations.defs import ExpectationSpec, get_spec
from .metrics import conditions as C
from .metrics import sketches
from .planner import CompiledItem, DomainPlan, _job_nonnull, compile_suite
from .results import (
    format_map_output,
    mostly_success,
    normalize_result_format,
    validate_metric_value_between,
)
from .types import (
    ExpectationConfiguration,
    ExpectationSuite,
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_statistics,
)

log = logging.getLogger("sparkcheck")

UNEXPECTED_LIST_LIMIT = 10_000
# grouping(__pid) of a partition rollup: 1 on the grand-total row, 0 on a
# partition's row. With partition_col a null partition value also reads
# __pid = null, so the key alone cannot tell the two apart.
_GRAND = "__grand"


def _pid_rollup(df: DataFrame, *aggs: Column) -> DataFrame:
    """``df`` (which carries ``__pid``) rolled up by partition, with the
    grand-total row flagged in ``__grand``."""
    return df.rollup("__pid").agg(*aggs, F.grouping("__pid").alias(_GRAND))


# kinds whose rollup carries only an unexpected count per partition; their
# element/nonnull come from the domain's fused rollup
_UX_ONLY_KINDS = ("map_window", "map_unique")


@dataclass
class _DomainRollup:
    """The fused rollup of the domain being run, as its count items read
    it: its partition rows in collected mode, the read-back of its stored
    ``rollup-<site>.parquet`` in sink mode. Sink files are named after their
    site, ``rollup-<site>.parquet`` and ``verdicts-<site>.parquet``: the
    fused pass's site is ``domain-<d>``, the domain's n-th later site (the
    z-score pass, then each window and uniqueness item) ``domain-<d>-<n>``."""
    site: str
    parts: list[dict] = field(default_factory=list)
    stored: DataFrame | None = None
    sites: int = 0  # later sites of the domain resolved so far


def _pid_value(pid: Any) -> Any:
    """A partition label as reported: the physical partition id as an int,
    a ``partition_col`` value as is."""
    return int(pid) if isinstance(pid, (int, bool)) else pid


def _domain(kw: dict) -> str:
    """The column(s) an expectation checks, as one label."""
    return (kw.get("column") or ",".join(kw.get("column_list", []))
            or kw.get("column_A", ""))


def _is_valid_partition_object(po) -> bool:
    """Reference execution_engine/util.py:21-78 semantics."""
    import numpy as _np
    if po is None:
        return False
    if "values" in po and "weights" in po:
        return (len(po["values"]) == len(po["weights"])
                and _np.allclose(sum(po["weights"]), 1))
    if "bins" in po and "weights" in po:
        comb = list(po["weights"])
        if "tail_weights" in po:
            if len(po["tail_weights"]) != 2:
                return False
            comb = comb + list(po["tail_weights"])
        bins = po["bins"]
        return (len(bins) == len(po["weights"]) + 1
                and all(b2 > b1 for b1, b2 in zip(bins, bins[1:]))
                and _np.allclose(sum(comb), 1.0))
    return False


class ValidationRun:
    """Holds one validation run's context and results."""

    def __init__(
        self,
        df: DataFrame,
        *,
        tables: dict[str, DataFrame] | None = None,
        result_format: Any = "BASIC",
        catch_exceptions: bool = True,
        per_partition: bool = False,
        partition_col: str | None = None,
        unique_strategy: str = "exact",  # 'exact' | 'approx' | 'auto'
        partition_verdict_sink: str | None = None,
    ) -> None:
        self.df = df
        self.tables = tables or {}
        self.rf = normalize_result_format(result_format)
        self.rf.setdefault("unexpected_list_limit", UNEXPECTED_LIST_LIMIT)
        self.catch_exceptions = catch_exceptions
        self.per_partition = per_partition
        self.partition_col = partition_col
        self.unique_strategy = unique_strategy
        # with per_partition the rollup has one row per partition x the
        # slot-table width: fine to collect at thousands of partitions, a
        # driver-memory edge at 100k+. With `partition_verdict_sink` (a
        # directory) _resolve writes the rollup and verdict rows as parquet
        # on executors instead; read_partition_verdicts() reads them.
        self.partition_verdict_sink = partition_verdict_sink
        if partition_verdict_sink is not None and not per_partition:
            raise ValueError(
                "partition_verdict_sink requires per_partition=True")
        self.partition_verdicts: list[dict] = []
        self.partition_scoring_errors: list[dict] = []
        self._domain_rollup: _DomainRollup | None = None

    # ------------------------------------------------------------- helpers

    def _pid_expr(self):
        """Rollup key for per-partition verdicts: a REAL partition column
        (e.g. the Iceberg partition value — semantically meaningful, stable
        across parallelism levels) when given, else the physical
        spark_partition_id (reflects the current scan layout)."""
        if self.partition_col:
            return F.col(self.partition_col)
        return F.spark_partition_id()

    def _sample_limit(self) -> int:
        """How many violation samples an item reports: none under
        BOOLEAN_ONLY."""
        if self.rf["result_format"] == "BOOLEAN_ONLY":
            return 0
        if self.rf["result_format"] == "COMPLETE":
            return self.rf["unexpected_list_limit"]
        return self.rf["partial_unexpected_count"]

    # ------------------------------------------------------------ rollups

    def _rollup(self, df: DataFrame, *aggs: Column) -> DataFrame:
        """``aggs`` over ``df`` as a frame for _resolve: rolled up by
        partition with per_partition, else one global row."""
        if self.per_partition:
            return _pid_rollup(df.withColumn("__pid", self._pid_expr()), *aggs)
        return df.agg(*aggs, F.lit(1).alias(_GRAND))

    def _resolve(self, frame: DataFrame, items: list[CompiledItem], *,
                 fused: bool = False) -> DataFrame:
        """The rows of a rolled-up ``frame`` (``__grand`` 1 on the global
        row, 0 on each partition row, null on extra rows such as uniqueness
        samples) that the caller collects and hands to _split: the frame
        itself, except in sink mode, which scores the partition rows for
        ``items`` on executors into the sink's ``verdicts-<site>.parquet``
        and leaves the global and extra rows of the stored rollup. The
        caller runs the collect, so the job's call site (what the Spark UI
        and event log show) is the rollup site's own line.

        The ``fused`` pass of a domain resolves first; its partition rows
        (``rollup-domain-<d>.parquet`` in sink mode) are the domain
        rollup. A count item (window, unique) rolls up only its unexpected
        count, and its partitions are the domain rollup's, with their
        element/nonnull: a null-safe join to the fused site's read-back
        here in sink mode, a merge of dicts in _split otherwise. A
        partition without a count row has no unexpected rows. Read-backs
        take the frame's schema, so no job infers it from the files."""
        if self.partition_verdict_sink is None:
            return frame
        dom = self._domain_rollup
        if not fused:
            dom.sites += 1
        site = dom.site if fused else f"{dom.site}-{dom.sites}"

        def path(kind: str, site: str) -> str:
            return os.path.join(self.partition_verdict_sink,
                                f"{kind}-{site}.parquet")
        frame.write.mode("overwrite").parquet(path("rollup", site))
        stored = frame.sparkSession.read.schema(frame.schema).parquet(
            path("rollup", site))
        if fused:
            dom.stored = stored
        parts = stored.filter(f"{_GRAND} = 0")
        if items and items[0].spec.kind in _UX_ONLY_KINDS:
            slots = dict.fromkeys(it.slots[r] for it in items
                                  for r in ("element", "nonnull"))
            domain = (dom.stored.filter(f"{_GRAND} = 0")
                      .select("__pid", *slots))
            counts = parts.select(F.col("__pid").alias("__cpid"), "__ux")
            parts = domain.join(counts, domain["__pid"].eqNullSafe(
                counts["__cpid"]), "left").drop("__cpid")
        if items:
            self._write_sink_verdicts(items, parts, path("verdicts", site))
        return stored.filter(f"{_GRAND} IS NULL OR {_GRAND} = 1")

    def _split(self, rows: list, items: list[CompiledItem], *,
               fused: bool = False) -> tuple[dict | None, list[dict]]:
        """The collected rows of a _resolve frame -> (the global row or
        None, the extra rows), as dicts. Partition rows are left only in
        collected mode: each is scored for ``items`` on the driver with
        score_partition."""
        rows = [r.asDict() for r in rows]
        parts = [r for r in rows if r[_GRAND] == 0]
        dom = self._domain_rollup
        if fused:
            dom.parts = parts
        elif items and items[0].spec.kind in _UX_ONLY_KINDS:
            by_pid = {r["__pid"]: r for r in parts}
            parts = [{**p, "__ux": by_pid.get(p["__pid"], {}).get("__ux")}
                     for p in dom.parts]
        for item in items:
            self._record_scored_verdicts(item, parts)
        grand = next((r for r in rows if r[_GRAND] == 1), None)
        return grand, [r for r in rows if r[_GRAND] is None]

    _SINK_SCHEMA = ("partition_id string, expectation_type string, "
                    "domain string, kind string, success boolean, "
                    "element_count long, missing_count long, "
                    "unexpected_count long, observed_value double, "
                    "config_kwargs string")

    def _write_sink_verdicts(self, items: list[CompiledItem], src: DataFrame,
                             path: str) -> None:
        """Score every partition row of ``src`` (stored rollup rows) for
        ``items`` on executors with score_partition, the scorer collected
        mode runs on the driver, and write the verdict rows to ``path`` in
        one job. ``.rdd`` hands the scorer the same Python values
        ``collect()`` does. A scoring error leaves out that row and comes
        back through an accumulator, de-duplicated against task retries."""
        sc = src.sparkSession.sparkContext
        errors = sc.accumulator([], _ListParam())
        score = score_partition  # resolved here; executors run this one
        # each item's (expectation_type, domain, kind, config_kwargs) columns
        labels = [(it.config.expectation_type, _domain(it.kwargs), it.spec.kind,
                   json.dumps(it.kwargs, sort_keys=True, default=str))
                  for it in items]

        def on_error(row, i, exc):
            errors.add([(i, row["__pid_str"],
                         *_scoring_error(row, items[i], exc))])

        def verdict_rows(rows):
            for row, i, (ok, el, miss, ux, ov) in _score_rows(
                    items, (r.asDict() for r in rows), score, on_error):
                etype, domain, kind, kwj = labels[i]
                yield (row["__pid_str"], etype, domain, kind, ok, el, miss,
                       ux, _sink_observed(ov), kwj)

        pids = src.withColumn("__pid_str", F.col("__pid").cast("string"))
        rdd = pids.rdd.mapPartitions(verdict_rows)
        (src.sparkSession.createDataFrame(rdd, self._SINK_SCHEMA)
         .write.mode("overwrite").parquet(path))
        seen: dict = {}
        for i, pid, err, tb in errors.value:
            seen.setdefault((i, pid), (err, tb))
        for err, tb in seen.values():
            self._record_scoring_error(err, tb)

    def _samples(self, dfd: DataFrame,
                 wanted: list[tuple[CompiledItem, Column]]) -> dict:
        """id(item) -> ``(samples, index_list)`` for every ``(item,
        unexpected condition)`` in ``wanted``, from one Spark action
        (_collect_samples); nothing under BOOLEAN_ONLY. If that action
        raises, each wanted item maps to its exception EVR instead (it
        re-raises without catch_exceptions), the rule the fused pass
        follows; items not in ``wanted`` are unaffected.

        Spark has no stable row index, so the reference's pandas-only
        `unexpected_index_list` (positional indices, expectation.py:
        1541-1553) is re-expressed the way its newer result-format contract
        does: the caller names business-key column(s) (e.g. clip_id) and
        each entry is a dict of those key values + the domain column's
        unexpected value. Same limit/caps as the sample list."""
        if not wanted or self.rf["result_format"] == "BOOLEAN_ONLY":
            return {}
        try:
            k = self._sample_limit()
            idx_cols = self.rf.get("unexpected_index_column_names") or []
            entries = []
            for it, cond in wanted:
                v = (it.spec.sample_value(it.kwargs) if it.spec.sample_value
                     else F.col(it.kwargs["column"]))
                if idx_cols:  # the index values ride along in one struct
                    v = F.struct(v.alias("v"), *[F.col(c).alias(f"i{j}")
                                                 for j, c in enumerate(idx_cols)])
                entries.append((v, cond, k))
            firsts, _ = self._collect_samples(dfd, entries)
        except Exception as exc:  # noqa: BLE001 — attributed to the sampled items
            if not self.catch_exceptions:
                raise
            tb = traceback.format_exc()
            return {id(it): _exception_evr(it.config, exc, tb)
                    for it, _ in wanted}
        out = {}
        for (item, _), values in zip(wanted, firsts):
            kw = item.kwargs
            if not idx_cols:
                out[id(item)] = ([self._sample_py(v, kw) for v in values], None)
                continue
            samples = [self._sample_py(v["v"], kw) for v in values]
            domain = kw.get("column")
            index_list = []
            for v, s in zip(values, samples):
                entry = {c: v[f"i{j}"] for j, c in enumerate(idx_cols)}
                if domain and domain not in entry:
                    entry[domain] = s
                index_list.append(entry)
            out[id(item)] = (samples, index_list)
        return out

    def _collect_samples(self, dfd: DataFrame,
                         wanted: list[tuple[Column, Column, int]],
                         aggs: list[Column] = ()) -> tuple[list[list], dict | None]:
        """For every ``(value, condition, limit)`` entry in ``wanted``, the
        values of the first ``limit`` rows of ``dfd`` that meet the
        condition; plus, when ``aggs`` (aliased one-row aggregate Columns)
        are given, their row as a dict — all from ONE scan and ONE Spark
        action. Returns ``(value lists in entry order, agg dict or None)``.

        Each row is tagged with its scan position (``__mid``: partition,
        then position in it; see below for a frame that has its own) and
        exploded into one row per entry whose condition it meets (other
        rows explode to nothing, and every condition is evaluated once per
        row); ``row_number()`` per entry in
        ``__mid`` order keeps the first ``limit``. Spark plans that as a
        WindowGroupLimit on both sides of the exchange, so the shuffle holds
        at most partitions x entries x limit rows however many rows match,
        and the first rows in scan order are the ones ``filter().limit()``
        takes: GE's "first N" (map_metric_provider.py:2372-2415 runs one
        such job per item instead). The aggregate row joins the ranked rows
        through ``unionByName``. The two branches share ``dfd``'s plan, and
        Spark reuses its exchanges, so what sits below an exchange runs
        once; what sits above the last one runs once per branch.

        A Python map's output is such work. A caller tags each of its rows
        with its position there as ``__mid``; rows are ranked by that tag
        (the order ``filter().limit()`` over the map samples), and when
        both branches run the frame goes under one exchange keyed on all
        its columns. Column pruning cannot narrow what an exchange's key
        reads, so both branches read the same columns below it, Spark
        reuses it and the map runs once; under a round-robin exchange each
        branch would prune the map's output to its own columns and plan its
        own exchange and map. A scan on the probe side of a broadcast join
        the caller puts under an exchange that both branches need whole.
        Entries with a limit of 0 are left out; with none left and no
        ``aggs`` no action runs."""
        live = [i for i, (_, _, lim) in enumerate(wanted) if lim > 0]
        firsts: list[list] = [[] for _ in wanted]
        if not live and not aggs:
            return firsts, None
        parts = []
        top = max((wanted[i][2] for i in live), default=0)
        mid = F.monotonically_increasing_id()
        if "__mid" in dfd.columns:
            mid = F.col("__mid")
            if live and aggs:
                dfd = dfd.repartition(*[F.col(c) for c in dfd.columns])
        if live:
            violated = F.array_compact(F.array(
                *[F.when(wanted[i][1], F.lit(i)) for i in live]))
            first = Window.partitionBy("__item").orderBy("__mid")
            # the literal bound is the one Spark turns into the group limit
            keep = F.col("__rank") <= top
            if len({wanted[i][2] for i in live}) > 1:  # trim smaller limits
                limits = F.array(*[F.lit(lim) for _, _, lim in wanted])
                keep &= F.col("__rank") <= F.element_at(limits, F.col("__item") + 1)
            parts.append(
                dfd.select(F.explode(violated).alias("__item"),
                           mid.alias("__mid"),
                           *[wanted[i][0].alias(f"__v{i}") for i in live])
                .withColumn("__rank", F.row_number().over(first))
                .filter(keep))
        if aggs:
            parts.append(dfd.agg(*aggs))
        plan = parts[0]
        if len(parts) == 2:
            plan = plan.unionByName(parts[1], allowMissingColumns=True)
        # Spark plans WindowGroupLimit only up to a limit of 1000 by
        # default; above it (a COMPLETE unexpected_list_limit) every
        # matching row would be shuffled, so the action raises it
        from .metrics.audio import _scoped_conf
        spark = dfd.sparkSession
        group_limit = "spark.sql.optimizer.windowGroupLimitThreshold"
        raise_to = top if top > int(spark.conf.get(group_limit)) else None
        with _scoped_conf(spark, group_limit, raise_to):
            rows = plan.collect()
        agg = None
        ranked = []
        for r in rows:
            if live and r["__item"] is not None:
                ranked.append(r)
            else:
                agg = {c: r[c] for c in parts[-1].columns}
        for r in sorted(ranked, key=lambda r: (r["__item"], r["__rank"])):
            firsts[r["__item"]].append(r[f"__v{r['__item']}"])
        return firsts, agg

    @staticmethod
    def _sample_py(v, kw: dict):
        """Struct samples -> python shapes matching the reference corpus:
        column pairs become [A, B] lists, multicolumn rows become dicts."""
        from pyspark.sql import Row
        if isinstance(v, Row):
            if "column_list" in kw:
                d = v.asDict()
                return {c: d.get(c) for c in kw["column_list"]}
            return list(v)
        return v

    def _map_evr(self, item: CompiledItem, element: int, nonnull: int, unexpected: int,
                 samples: list, index_list: list | None = None) -> ExpectationValidationResult:
        mostly = item.kwargs.get("mostly", 1.0)
        success = mostly_success(element, nonnull, unexpected, mostly)
        result = format_map_output(self.rf, success, element, nonnull, unexpected, samples,
                                   unexpected_index_list=index_list)
        return ExpectationValidationResult(success=success, expectation_config=item.config, result=result)

    def _sampled_map_evr(self, item: CompiledItem, grow: dict, unexpected: int,
                         sampled: dict) -> ExpectationValidationResult:
        """A map item's EVR: element/nonnull from the fused row, its
        unexpected count, and its samples (or exception EVR) in
        ``sampled``."""
        got = sampled.get(id(item), ([], None))
        if isinstance(got, ExpectationValidationResult):
            return got
        return self._map_evr(item, int(grow[item.slots["element"]] or 0),
                             int(grow[item.slots["nonnull"]] or 0),
                             unexpected, *got)

    def _record_scoring_error(self, err: dict, tb: str) -> None:
        """A partition whose verdict could not be scored has no verdict row;
        record why in meta["partition_scoring_errors"] and the log."""
        log.warning("partition verdict not scored: %s\n%s", err, tb)
        self.partition_scoring_errors.append(err)

    def _record_scored_verdicts(self, item: CompiledItem,
                                rows: list[dict]) -> None:
        """Collected mode: score each rollup row for ``item`` with
        score_partition and record its verdict."""
        def on_error(row, _, exc):
            self._record_scoring_error(*_scoring_error(row, item, exc))
        for row, _, (ok, el, miss, ux, ov) in _score_rows(
                [item], rows, score_partition, on_error):
            self.partition_verdicts.append({
                # the physical partition id (int) or, with partition_col,
                # the partition's column value (any scalar type)
                "partition_id": _pid_value(row["__pid"]),
                "expectation_type": item.config.expectation_type,
                "domain": _domain(item.kwargs),
                "success": bool(ok),
                # full kwargs so consumers (checkpoint single-pass) can
                # identify the exact CONFIG — (type, domain) alone collides
                # when a suite checks the same column twice with different
                # bounds
                "config_kwargs": dict(item.kwargs),
                "kind": item.spec.kind,
                "unexpected_count": ux, "element_count": el,
                "missing_count": miss, "observed_value": _jsonable(ov)})

    # ---------------------------------------------------------- fused evrs

    def _evr_from_row(self, item: CompiledItem, row: dict, dfd: DataFrame,
                      sampled: dict) -> ExpectationValidationResult:
        """Build the EVR for a fused item from the domain's global agg row
        and, for a map item, its entry in ``sampled`` (see _samples);
        per-partition rows go through score_partition."""
        spec = item.spec
        if spec.kind == "map":
            return self._sampled_map_evr(
                item, row, int(row[item.slots["unexpected"]] or 0), sampled)

        if spec.kind == "agg":
            return _between_evr(item, row[item.slots["value"]])

        if spec.kind == "agg_custom":
            return _agg_custom_evr(item, row, dfd)

        if spec.kind == "drift":
            return _drift_evr(item, row, dfd)

        raise ValueError(f"unexpected fused kind {spec.kind}")

    # ----------------------------------------------------------- job items

    def _run_job_item(self, item: CompiledItem, dfd: DataFrame,
                      grow: dict) -> ExpectationValidationResult:
        handler_kind = item.spec.kind
        if handler_kind == "map_window":
            return self._run_window_item(item, dfd, grow)
        if handler_kind == "map_unique":
            return self._run_unique_item(item, dfd, grow)
        if handler_kind == "value":
            if item.spec.extra.get("handler") == "cramers_phi":
                return self._run_cramers_phi(item, dfd, grow)
            return self._run_most_common(item, dfd, grow)
        if handler_kind == "referential":
            return self._run_referential(item, dfd, grow)
        if handler_kind == "audio":
            from .metrics import audio as audio_metrics
            if item.spec.extra.get("handler") == "header":
                return audio_metrics.run_header_item(self, item, dfd, grow)
            if item.spec.extra.get("handler") == "payload":
                return audio_metrics.run_payload_item(self, item, dfd, grow)
            return audio_metrics.run_snr_item(self, item, dfd, grow)
        raise ValueError(handler_kind)

    def _run_window_item(self, item: CompiledItem, dfd: DataFrame,
                         grow: dict) -> ExpectationValidationResult:
        """Window conditions (increasing/decreasing) run as their own job,
        as in the reference (map_metric_provider.py:2344-2369): a
        global-ordered window cannot be fused. Per-partition verdicts
        attribute each order-violating ROW to its own input partition — a
        boundary violation (first value below the previous partition's
        last) counts against the partition holding the offending row. The
        pid is tagged BEFORE the window shuffle so it reflects input
        lineage, same as the fused rollup's. The unexpected count comes
        first, in one action; only a failing item then samples its first k
        violating rows, with a ``limit()`` over the window that stops once
        it has them (the run's sampler would rank the whole window output,
        and riding in the count's action it would sort the window twice).
        """
        kw = item.kwargs
        per_part = self.per_partition
        if per_part:
            dfd = dfd.withColumn("__pid", self._pid_expr())
        # reference null-filters the domain BEFORE the window (so `prev` is
        # the previous NON-null value — interspersed nulls don't mask
        # regressions): sparkdf_execution_engine.py:592-629
        dfd = dfd.filter(F.col(kw["column"]).isNotNull())
        expected = item.spec.condition(kw)
        flagged = dfd.select(F.col(kw["column"]),
                             (~expected).alias("__unexpected"),
                             *(["__pid"] if per_part else []))
        ux_agg = F.coalesce(
            F.sum(F.when(F.col("__unexpected"), 1).otherwise(0)),
            F.lit(0)).alias("__ux")
        frame = (_pid_rollup(flagged, ux_agg) if per_part
                 else flagged.agg(ux_agg, F.lit(1).alias(_GRAND)))
        g, _ = self._split(self._resolve(frame, [item]).collect(), [item])
        unexpected = int(g["__ux"]) if g else 0
        samples: list = []
        if unexpected and self.rf["result_format"] != "BOOLEAN_ONLY":
            samples = [
                r[kw["column"]]
                for r in flagged.filter("__unexpected").select(kw["column"])
                .limit(self._sample_limit()).collect()
            ]
        return self._map_evr(item, int(grow[item.slots["element"]] or 0),
                             int(grow[item.slots["nonnull"]] or 0),
                             unexpected, samples)

    def _run_unique_item(self, item: CompiledItem, dfd: DataFrame,
                         grow: dict) -> ExpectationValidationResult:
        """Uniqueness via groupBy dup-groups — marks every row of a duplicated
        value unexpected, exactly like the reference's window form
        (column_values_unique.py:83-87), but with a key-partitioned shuffle
        instead of a whole-table window.

        HLL++ prescreen (north_star): under unique_strategy='approx'/'auto'
        the fused pass also computed approx_count_distinct. With 'approx' the
        verdict uses the sketch alone (no second job — for exploratory
        scans); 'exact' (default) always resolves exact dup counts and plans
        no sketch, so its details report the exact distinct count
        (nonnull - dup rows + dup groups) instead of the estimate.

        The exact path is ONE plan resolved by ONE action, so the input is
        scanned once (the branches below share their exchanges). Its rows,
        put together with unionByName:
        - stats: the dup rows (``__ux``) and dup groups (``__groups``) in
          the row flagged ``__grand = 1``;
        - samples: the top-k duplicated keys by count (``__cnt``, ranked by
          ``__rank``), left out under BOOLEAN_ONLY.
        With per_partition the plan starts from a (key, partition)
        pre-aggregate; a window over the key attaches each key's total, the
        duplicated keys are kept, and stats becomes a rollup by partition:
        the grand-total row holds the global values and every other row is
        that partition's count of rows in a GLOBAL duplicate group (they sum
        to the global unexpected_count). Without it the plan is a plain
        groupBy(key). _resolve and _split turn the partition rows into
        verdicts. The approx/clean-prescreen
        strategies skip per-partition verdicts: an HLL sketch cannot
        attribute cross-partition duplicates.
        """
        kw = item.kwargs
        compound = item.spec.extra.get("compound", False)
        cols = kw["column_list"] if compound else [kw["column"]]
        element = int(grow[item.slots["element"]] or 0)
        nonnull = int(grow[item.slots["nonnull"]] or 0)
        details: dict = {"strategy": "exact_groupby"}
        if self.unique_strategy in ("approx", "auto"):
            auto = self.unique_strategy == "auto"
            evr, suspect = _hll_unique_evr(
                self.rf, item, grow,
                "hll_prescreen_clean" if auto else "hll_approx")
            if not (auto and suspect):
                # 'approx' is the sketch's verdict; a clean 'auto'
                # prescreen (no duplicates at the sketch's resolution)
                # skips the exact job
                return evr
            approx = evr.result["details"]["approx_distinct"]
            details = {"strategy": "exact_after_suspect_prescreen",
                       "approx_distinct": approx}

        # the nonnull slot's domain filter, or the mostly denominator and
        # the dup scan would disagree on partially-null compound keys
        kept = dfd.filter(_job_nonnull(item.spec, kw))
        if self.per_partition:
            # (key, partition) pre-agg: map-side partial aggregation does the
            # heavy lift, everything after it is distinct-key sized
            by_key = Window.partitionBy(*cols).orderBy("__pid")
            dup = (kept.withColumn("__pid", self._pid_expr())
                   .groupBy(*cols, "__pid")
                   .agg(F.count(F.lit(1)).alias("__c"))
                   .withColumn("__cnt", F.sum("__c").over(by_key.rowsBetween(
                       Window.unboundedPreceding, Window.unboundedFollowing)))
                   .withColumn("__key", F.row_number().over(by_key) == 1)
                   .filter(F.col("__cnt") > 1))
            frame = _pid_rollup(dup, F.sum("__c").alias("__ux"),
                                F.count_if("__key").alias("__groups"))
            keys = dup.filter("__key")
        else:
            keys = (kept.groupBy(*cols).agg(F.count(F.lit(1)).alias("__cnt"))
                    .filter(F.col("__cnt") > 1))
            frame = keys.agg(F.sum("__cnt").alias("__ux"),
                             F.count(F.lit(1)).alias("__groups"),
                             F.lit(1).alias(_GRAND))
        k = self._sample_limit()
        if k:
            frame = frame.unionByName(
                keys.orderBy(F.desc("__cnt"), *cols).limit(k).select(
                    *cols, "__cnt",
                    F.monotonically_increasing_id().alias("__rank")),
                allowMissingColumns=True)
        grand, extras = self._split(
            self._resolve(frame, [item]).collect(), [item])
        unexpected = int(grand["__ux"] or 0) if grand else 0
        samples: list = []
        for r in sorted(extras, key=lambda r: r["__rank"]):
            val = r[cols[0]] if not compound else {c: r[c] for c in cols}
            samples.extend([val] * min(int(r["__cnt"]), k - len(samples)))
            if len(samples) >= k:
                break
        groups = int(grand["__groups"]) if grand else 0
        evr = self._map_evr(item, element, nonnull, unexpected, samples)
        if evr.result:
            evr.result["details"] = {
                **details, "distinct_count": nonnull - unexpected + groups,
                "duplicate_groups": groups}
        return evr

    def _run_most_common(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        """Most-common value(s) with the tie collect BOUNDED (`max_ties`,
        default 100): on a degenerate column where every value occurs once,
        ALL distinct values tie at the max, so an uncapped collect pulls the
        whole column to the driver. One action over one plan: the value
        counts, joined to their broadcast max, give the ties; the first
        ``max_ties + 1`` of them in value order, the tie count and whether
        any tie is in the value set come back together. Above the cap the
        success flag is still exact from that count and membership; only
        the reported list is truncated (annotated in details). Reference
        (pandas value_counts, expect_column_most_common_value_to_be_in_set)
        keeps all ties; identical below the cap."""
        kw = item.kwargs
        col = kw["column"]
        cap = int(kw.get("max_ties", 100))
        value_set = set(kw["value_set"])
        vc = dfd.filter(F.col(col).isNotNull()).groupBy(col).agg(
            F.count(F.lit(1)).alias("__cnt"))
        # an empty column has a null max and so no ties
        ties = vc.join(F.broadcast(vc.agg(F.max("__cnt").alias("__cnt"))),
                       "__cnt")
        top = ties.select(col).orderBy(col).limit(cap + 1)
        stats = ties.agg(
            F.count(F.lit(1)).alias("__n_ties"),
            F.count_if(F.col(col).isin(list(value_set))).alias("__in_set"))
        rows = top.unionByName(stats, allowMissingColumns=True).collect()
        (st,) = [r for r in rows if r["__n_ties"] is not None]
        top_values = [r[col] for r in rows if r["__n_ties"] is None]
        observed = sorted(top_values[:cap])
        details = None
        if len(top_values) > cap:
            # without ties_okay n_ties > cap >= 1 ties are never exactly one
            success = (kw.get("ties_okay") and bool(value_set)
                       and st["__in_set"] > 0)
            details = {"ties_truncated": {
                "n_ties": int(st["__n_ties"]), "max_ties": cap,
                "note": "observed_value lists the first max_ties tied "
                        "values; success computed exactly from "
                        "distributed tie count / set membership"}}
        elif kw.get("ties_okay"):
            success = len(set(observed) & value_set) > 0
        else:
            success = len(observed) == 1 and observed[0] in value_set
        result = {"observed_value": observed}
        if details:
            result["details"] = details
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result=result)

    def _run_cramers_phi(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        """Cramér's phi (V) of a column pair: distributed groupBy(A,B)
        contingency counts, chi2 + phi scored driver-side. The reference is
        pandas-only (crosstab + scipy chi2_contingency); no continuity
        correction here. Guarded by max_cells against high-cardinality pairs."""
        import math
        kw = item.kwargs
        ca, cb = kw["column_A"], kw["column_B"]
        max_cells = int(kw.get("max_cells", 10_000))
        cells = (dfd.filter(F.col(ca).isNotNull() & F.col(cb).isNotNull())
                 .groupBy(ca, cb).agg(F.count(F.lit(1)).alias("__n"))
                 .limit(max_cells + 1).collect())
        if len(cells) > max_cells:
            raise ValueError(
                f"cramers_phi contingency exceeds max_cells={max_cells}; "
                "bucketize the columns first")
        n = sum(r["__n"] for r in cells)
        row_tot: dict = {}
        col_tot: dict = {}
        for r in cells:
            row_tot[r[ca]] = row_tot.get(r[ca], 0) + r["__n"]
            col_tot[r[cb]] = col_tot.get(r[cb], 0) + r["__n"]
        chi2 = 0.0
        if n > 0:
            obs = {(r[ca], r[cb]): r["__n"] for r in cells}
            for a, ra in row_tot.items():
                for b, cb_tot in col_tot.items():
                    e = ra * cb_tot / n
                    o = obs.get((a, b), 0)
                    if e > 0:
                        chi2 += (o - e) ** 2 / e
        k = min(len(row_tot), len(col_tot))
        phi = math.sqrt(chi2 / (n * (k - 1))) if n > 0 and k > 1 else 0.0
        threshold = float(kw["threshold"])
        success = phi < threshold
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result={"observed_value": phi,
                    "details": {"chi2": chi2, "n": n,
                                "n_rows": len(row_tot), "n_cols": len(col_tot)}})

    def _run_referential(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        kw, handler = item.kwargs, item.spec.extra["handler"]
        if handler == "row_count_other_table":
            self_count = int(grow[item.slots["value"]] or 0)
            other = self.tables[kw["other_table_name"]]
            other_count = other.count()
            return ExpectationValidationResult(
                success=self_count == other_count, expectation_config=item.config,
                result={"observed_value": self_count,
                        "details": {"other_table_row_count": other_count}})
        # FK check: every value of `column` exists in other_table.other_column.
        # left_anti join — Catalyst/AQE picks broadcast when the (distinct)
        # reference side is small; reference GE does this via stored
        # evaluation-parameter URNs instead (core/evaluation_parameters.py).
        col = kw["column"]
        other = self.tables[kw["other_table"]]
        ref = other.select(F.col(kw.get("other_column", col)).alias(col)).distinct()
        k = self._sample_limit()
        probe = dfd.select(col).filter(F.col(col).isNotNull())
        if k:
            # the orphan count and the first k orphans come from two
            # branches of one action; an exchange on the probe side keeps a
            # broadcast anti-join from scanning the input once per branch
            probe = probe.repartition(col)
        orphans = probe.join(ref, on=col, how="left_anti")
        (samples,), agg = self._collect_samples(
            orphans, [(F.col(col), F.lit(True), k)],
            aggs=[F.count(F.lit(1)).alias("orphans")])
        element = int(grow[item.slots["element"]] or 0)
        nonnull = int(grow[item.slots["nonnull"]] or 0)
        return self._map_evr(item, element, nonnull, int(agg["orphans"]), samples)

    # ------------------------------------------------------ dependent pass

    def _run_dependent_items(self, dp: DomainPlan, dfd: DataFrame,
                             grow: dict) -> list[tuple[CompiledItem, ExpectationValidationResult]]:
        """Z-score conditions: second fused pass using pass-1 mean/stddev,
        each item counting its unexpected rows into its ``unexpected``
        column. With per_partition the items' element/nonnull slots ride in
        the same pass, so each of its partition rows scores that
        partition's verdicts."""
        items = dp.dependent_items
        aggs: dict[str, Column] = {}
        conds: list[Column] = []
        for item in items:
            kw = item.kwargs
            mean = grow[item.slots["mean"]]
            std = grow[item.slots["stddev"]]
            expected = C.z_score_under_threshold(kw, mean, std)
            cond = F.col(kw["column"]).isNotNull() & ~expected
            conds.append(cond)
            if self.per_partition:
                for role in ("element", "nonnull"):
                    aggs[item.slots[role]] = dp.slot_table.exprs[item.slots[role]]
            aggs[item.slots["unexpected"]] = F.coalesce(
                F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
        frame = self._rollup(dfd, *[e.alias(a) for a, e in aggs.items()])
        zrow, _ = self._split(self._resolve(frame, items).collect(), items)
        unexpected = [int((zrow or {}).get(it.slots["unexpected"]) or 0)
                      for it in items]
        sampled = self._samples(dfd, [(item, conds[i]) for i, item in
                                      enumerate(items) if unexpected[i]])
        return [(item, self._sampled_map_evr(item, grow, ux, sampled))
                for item, ux in zip(items, unexpected)]

    # -------------------------------------------------------------- schema

    def _run_schema_item(self, item: CompiledItem) -> ExpectationValidationResult:
        import pyspark.sql.types as sparktypes

        kw, handler = item.kwargs, item.spec.extra["handler"]
        schema = self.df.schema
        columns = [f.name for f in schema.fields]
        if handler == "column_exists":
            ok = kw["column"] in columns
            if ok and kw.get("column_index") is not None:
                ok = columns.index(kw["column"]) == int(kw["column_index"])
            return ExpectationValidationResult(
                success=bool(ok), expectation_config=item.config, result={})
        if handler == "columns_ordered":
            if kw.get("column_list") is None:  # vacuously true (corpus)
                return ExpectationValidationResult(
                    success=True, expectation_config=item.config,
                    result={"observed_value": columns})
            expected = list(kw["column_list"])
            return ExpectationValidationResult(
                success=columns == expected, expectation_config=item.config,
                result={"observed_value": columns})
        if handler == "columns_set":
            expected = set(kw.get("column_set") or [])
            observed = set(columns)
            exact = kw.get("exact_match", True)
            if kw.get("exact_match") is None:
                exact = True
            success = observed == expected if exact else expected <= observed
            return ExpectationValidationResult(
                success=bool(success), expectation_config=item.config,
                result={"observed_value": sorted(columns),
                        "details": {"unexpected": sorted(observed - expected),
                                    "missing": sorted(expected - observed)}})
        if handler == "column_count":
            n = len(columns)
            if item.spec.extra["mode"] == "equal":
                return ExpectationValidationResult(
                    success=n == int(kw["value"]), expectation_config=item.config,
                    result={"observed_value": n})
            return _between_evr(item, n)
        if handler in ("of_type", "in_type_list"):
            # reference short-circuits to a schema check on Spark
            # (expect_column_values_to_be_of_type.py:381-401)
            actual = schema[kw["column"]].dataType
            names = [kw["expected_type"]] if handler == "of_type" else list(kw["type_list"])
            classes = tuple(
                getattr(sparktypes, n) for n in names if hasattr(sparktypes, n))
            success = isinstance(actual, classes) if classes else False
            return ExpectationValidationResult(
                success=bool(success), expectation_config=item.config,
                result={"observed_value": type(actual).__name__})
        raise ValueError(handler)

    # ------------------------------------------------------------ main run


    # ----------------------------------------------------- config validation

    _BOUNDED_TYPES = {
        "expect_column_values_to_be_between",
        "expect_column_value_lengths_to_be_between",
        "expect_column_mean_to_be_between", "expect_column_min_to_be_between",
        "expect_column_max_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_table_row_count_to_be_between",
        "expect_table_column_count_to_be_between",
    }
    _NUMERIC_COLUMN_TYPES = {
        "expect_column_mean_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_column_quantile_values_to_be_between",
        "expect_column_value_z_scores_to_be_less_than",
    }
    _NUMERIC_BOUND_TYPES = {
        "expect_column_mean_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_table_row_count_to_be_between",
        "expect_table_column_count_to_be_between",
        "expect_column_value_lengths_to_be_between",
    }
    _STRING_COLUMN_TYPES = {
        "expect_column_value_lengths_to_be_between": "object of type 'int' has no len() — value-length expectations require a string column",
        "expect_column_value_lengths_to_equal": "object of type 'int' has no len() — value-length expectations require a string column",
        "expect_column_values_to_match_strftime_format": "Values passed to expect_column_values_to_match_strftime_format must be of type string",
    }

    def _validate_config(self, config: ExpectationConfiguration) -> None:
        """Kwarg/type validation mirroring the reference's config checks
        (golden corpus error cases: missing bounds, min>max, non-numeric
        bounds/columns, wrong input dtypes)."""
        import pyspark.sql.types as T
        etype = config.expectation_type
        spec = get_spec(etype)
        kw = {**spec.defaults, **config.kwargs}
        num = (int, float)

        if etype in self._BOUNDED_TYPES:
            mn, mx = kw.get("min_value"), kw.get("max_value")
            # only the map-level expectations error on missing bounds; the
            # aggregate/table betweens are vacuously true (golden corpus)
            # the reference is inconsistent here and the golden corpus
            # encodes it: min/sum error on missing bounds, mean/median/
            # stdev/max/table-counts are vacuously true
            if mn is None and mx is None and etype in (
                    "expect_column_values_to_be_between",
                    "expect_column_value_lengths_to_be_between",
                    "expect_column_min_to_be_between",
                    "expect_column_sum_to_be_between"):
                raise ValueError("min_value and max_value cannot both be None")
            # value-length betweens allow max < min (all rows unexpected)
            if etype != "expect_column_value_lengths_to_be_between" and (
                    isinstance(mn, num) and not isinstance(mn, bool)
                    and isinstance(mx, num) and not isinstance(mx, bool) and mn > mx):
                raise ValueError("min_value cannot be greater than max_value")
            if etype in self._NUMERIC_BOUND_TYPES:
                for b in (mn, mx):
                    if b is not None and (isinstance(b, bool) or not isinstance(b, num)):
                        raise ValueError("min_value and max_value must be numbers")
            if etype == "expect_column_value_lengths_to_be_between":
                for b in (mn, mx):
                    if b is not None and not float(b).is_integer():
                        raise ValueError("min_value and max_value must be integers")

        if etype == "expect_column_values_to_not_be_in_set":
            vs = kw.get("value_set")
            if vs is None:
                raise TypeError("argument of type 'NoneType' is not iterable")
            if any(v is None for v in vs):
                raise ValueError(
                    "expect_column_values_to_not_be_in_set cannot support a None "
                    "in the value_set in spark")

        if etype == "expect_column_kl_divergence_to_be_less_than":
            po = kw.get("partition_object")
            threshold = kw.get("threshold")
            th = kw.get("tail_weight_holdout", 0.0)
            ih = kw.get("internal_weight_holdout", 0.0)
            if po is not None and not _is_valid_partition_object(po):
                raise ValueError("Invalid partition object.")
            if threshold is not None and (
                    isinstance(threshold, bool) or not isinstance(threshold, num)
                    or threshold < 0):
                raise ValueError(
                    "Threshold must be specified, greater than or equal to zero.")
            for name, hv in (("tail_weight_holdout", th), ("internal_weight_holdout", ih)):
                if isinstance(hv, bool) or not isinstance(hv, num) or hv < 0 or hv > 1:
                    raise ValueError(f"{name} must be between zero and one.")
            if po is not None:
                if th != 0 and "tail_weights" in po:
                    raise ValueError(
                        "tail_weight_holdout must be 0 when using tail_weights in partition object")
                if "values" in po and ih > 0:
                    raise ValueError(
                        "Internal weight holdout cannot be used for discrete data.")
                if "bins" in po:
                    bins = po["bins"]
                    neg_inf = bins[0] == float("-inf")
                    pos_inf = bins[-1] == float("inf")
                    if neg_inf and pos_inf and th > 0:
                        raise ValueError(
                            "tail_weight_holdout cannot be used for partitions with infinite endpoints.")
                    if (neg_inf or pos_inf) and "tail_weights" in po:
                        raise ValueError(
                            "There can be no tail weights for partitions with one or both endpoints at infinity")
                    if kw.get("bucketize_data", True) is False:
                        raise ValueError(
                            "KL Divergence cannot be computed with a continuous partition "
                            "object and the bucketize_data parameter set to false.")

        if etype == "expect_column_quantile_values_to_be_between":
            for pair in kw.get("quantile_ranges", {}).get("value_ranges", []):
                lo, hi = pair
                if lo is not None and hi is not None and lo > hi:
                    raise ValueError("quantile_ranges must consist of ordered pairs")

        if etype in ("expect_table_row_count_to_equal", "expect_table_column_count_to_equal"):
            v = kw.get("value")
            if isinstance(v, bool) or not isinstance(v, int):
                raise ValueError("value must be an integer")

        fields = {f.name: f.dataType for f in self.df.schema.fields}
        col = kw.get("column")
        dt = fields.get(col) if col else None
        if dt is not None:
            if etype in self._NUMERIC_COLUMN_TYPES and not isinstance(
                    dt, (T.NumericType,)):
                raise TypeError(
                    f"{etype} requires a numeric column; '{col}' is {dt.simpleString()}")
            if etype in self._STRING_COLUMN_TYPES and not isinstance(
                    dt, (T.StringType,)):
                raise TypeError(self._STRING_COLUMN_TYPES[etype])
            if etype == "expect_column_values_to_be_between":
                mn, mx = kw.get("min_value"), kw.get("max_value")
                numeric_col = isinstance(dt, T.NumericType)
                string_col = isinstance(dt, T.StringType)
                for b in (mn, mx):
                    if b is None:
                        continue
                    b_num = isinstance(b, num) and not isinstance(b, bool)
                    if (numeric_col and not b_num) or (string_col and b_num):
                        raise TypeError(
                            "Column values, min_value, and max_value must either "
                            "be None or of the same type.")

    def _missing_columns(self, config: ExpectationConfiguration) -> list[str]:
        """Column-existence pre-check (the reference wires every metric to a
        table.columns dependency — column_aggregate_metric_provider.py:244-267)."""
        kw = config.kwargs
        refs: list[str] = []
        spec = get_spec(config.expectation_type)
        if spec.kind == "schema" or spec.extra.get("handler") == "row_count_other_table":
            return []
        for key in ("column", "column_A", "column_B"):
            if key in kw:
                refs.append(kw[key])
        refs.extend(kw.get("column_list", []))
        have = set(self.df.columns)
        return [c for c in refs if c not in have]

    def run(self, suite: ExpectationSuite) -> ExpectationSuiteValidationResult:
        evrs: dict[str, ExpectationValidationResult] = {}
        plannable = []
        for config in suite.expectations:
            unresolved = _unresolved_parameters(config.kwargs)
            if unresolved:
                exc = KeyError(
                    f"evaluation parameter(s) not supplied: {unresolved}")
                if not self.catch_exceptions:
                    raise exc
                evrs[id(config)] = _exception_evr(config, exc)
                continue
            missing = self._missing_columns(config)
            if missing:
                exc = KeyError(f"column(s) not found in table: {missing}")
                if not self.catch_exceptions:
                    raise exc
                evrs[id(config)] = _exception_evr(config, exc)
                continue
            try:
                self._validate_config(config)
            except Exception as exc:  # noqa: BLE001 — config errors become EVRs
                if not self.catch_exceptions:
                    raise
                evrs[id(config)] = _exception_evr(
                    config, exc, traceback.format_exc())
                continue
            plannable.append(config)
        plan = compile_suite(plannable, self.unique_strategy)

        def record(config: ExpectationConfiguration, fn) -> None:
            try:
                evrs[id(config)] = fn()
            except Exception as e:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[id(config)] = _exception_evr(
                    config, e, traceback.format_exc())

        for item in plan.schema_items:
            record(item.config, lambda it=item: self._run_schema_item(it))

        for didx, dp in enumerate(plan.domains.values()):
            dfd = self.df
            if dp.row_condition:
                try:
                    dfd = dfd.filter(C.row_condition_filter(
                        {"row_condition": dp.row_condition,
                         "condition_parser": dp.condition_parser}))
                except Exception as exc:  # noqa: BLE001 — bad condition: EVRs, not abort
                    if not self.catch_exceptions:
                        raise
                    # a row_condition that does not parse or resolve fails
                    # every expectation in this domain as an exception EVR
                    # (same contract as any other config error) and the
                    # rest of the suite still runs
                    def _reraise(e=exc):
                        raise ValueError(f"invalid row_condition: {e}") from e
                    for it in dp.fused_items + dp.dependent_items + dp.job_items:
                        record(it.config, _reraise)
                    continue

            self._domain_rollup = _DomainRollup(f"domain-{didx}")
            grow: dict = {}
            if dp.slot_table.exprs:
                try:
                    frame = self._resolve(
                        self._rollup(dfd, *dp.slot_table.agg_list),
                        dp.fused_items, fused=True)
                    g, _ = self._split(frame.collect(), dp.fused_items,
                                       fused=True)
                    grow = g or {a: None for a in dp.slot_table.exprs}
                except Exception as exc:  # noqa: BLE001 — fused pass failed: attribute to every item
                    if not self.catch_exceptions:
                        raise
                    tb = traceback.format_exc()
                    for it in dp.fused_items + dp.dependent_items + dp.job_items:
                        evrs[id(it.config)] = _exception_evr(it.config, exc, tb)
                    continue

            sampled = self._samples(dfd, [
                (it, dp.unexpected[it.slots["unexpected"]])
                for it in dp.fused_items if it.spec.kind == "map"
                and int(grow[it.slots["unexpected"]] or 0)])
            for item in dp.fused_items:
                record(item.config,
                       lambda it=item: self._evr_from_row(it, grow, dfd, sampled))

            if dp.dependent_items:
                try:
                    for item, evr in self._run_dependent_items(
                            dp, dfd, grow):
                        evrs[id(item.config)] = evr
                except Exception as e:  # noqa: BLE001
                    if not self.catch_exceptions:
                        raise
                    tb = traceback.format_exc()
                    for item in dp.dependent_items:
                        evrs[id(item.config)] = _exception_evr(item.config, e, tb)

            for item in dp.job_items:
                record(item.config,
                       lambda it=item: self._run_job_item(it, dfd, grow))

        results = []
        for config in suite.expectations:
            results.append(evrs[id(config)])
        success = all(r.success for r in results)
        meta = {"expectation_suite_name": suite.expectation_suite_name}
        if self.per_partition:
            meta["partition_scoring_errors"] = self.partition_scoring_errors
        return ExpectationSuiteValidationResult(
            success=success, results=results, statistics=build_statistics(results),
            meta=meta)


# ---------------------------------------------------------- verdict scoring
#
# The global EVR and every per-partition verdict are scored by the functions
# below from one agg/rollup row (a dict). Only the modes that are not a
# function of the row (bootstrap KS, auto-built KL partitions, exact-opt-in
# quantiles, out-of-set categorical KL) take the domain's DataFrame, for
# their own jobs.


def score_partition(item: CompiledItem, row: dict) -> tuple | None:
    """One partition's verdict for a fused, z-score or count item, from its
    rollup row: ``(success, element_count, missing_count, unexpected_count,
    observed_value)``. A z-score item reads its unexpected count from its
    column of the z-score pass, a count item (window, unique) from
    ``row["__ux"]``. Touches no DataFrame, so collected mode calls it on the
    driver and sink mode on executors.

    Returns None when the verdict is NOT a pure function of the row (raw
    sample bootstrap KS, auto-built KL partitions, exact-opt-in quantiles,
    positive-holdout categorical KL with out-of-set mass): scoring those
    per partition would attribute a GLOBAL value to every partition label
    and run one job per partition. Such items have no per-partition rows."""
    spec, kw = item.spec, item.kwargs
    if spec.kind in ("map", "map_dependent", *_UX_ONLY_KINDS):
        el = int(row[item.slots["element"]] or 0)
        nn = int(row[item.slots["nonnull"]] or 0)
        ux = int(row[item.slots.get("unexpected", "__ux")] or 0)
        return (mostly_success(el, nn, ux, kw.get("mostly", 1.0)),
                el, el - nn, ux, None)
    if spec.kind == "drift":
        if kw.get("bootstrap") or item.info.get("auto"):
            return None
        if "values" in item.info and spec.extra["score"] == "kl":
            # categorical KL: the global EVR resolves out-of-set values with
            # its own job. A partition row only knows their total mass; with
            # the default holdout of 0 any such mass scores inf however it
            # splits, so one synthetic entry holding it is exact. A positive
            # holdout is split per distinct out-of-set value: no verdict.
            counts, _, _, nonnull = _drift_counts(item, row)
            observed = dict(zip(item.info["values"], counts))
            th = float(kw.get("tail_weight_holdout", 0.0))
            if nonnull - sum(counts) > 0.5:
                if th > 0:
                    return None
                observed[object()] = nonnull - sum(counts)
            value, _ = sketches.kl_divergence_categorical(
                observed, nonnull, item.info["values"],
                item.info["expected_weights"], th)
            threshold = kw.get("threshold")
            success = threshold is None or bool(value <= float(threshold))
            return (success, None, None, None,
                    value if math.isfinite(value) else None)
        evr = _drift_evr(item, row)
    elif spec.kind == "agg":
        evr = _between_evr(item, row[item.slots["value"]])
    elif spec.kind == "agg_custom" and not item.info.get("use_approx_quantile"):
        evr = _agg_custom_evr(item, row)
    else:
        return None
    return (bool(evr.success), None, None, None,
            evr.result.get("observed_value"))


def _score_rows(items: list[CompiledItem], rows, score, on_error):
    """``(row, item index, verdict)`` for every rollup row and item that has
    a verdict. A scorer exception calls ``on_error(row, item index, exc)``
    and leaves that verdict out."""
    for row in rows:
        for i, item in enumerate(items):
            try:
                verdict = score(item, row)
            except Exception as exc:  # noqa: BLE001 — recorded, not raised
                on_error(row, i, exc)
                continue
            if verdict is not None:
                yield row, i, verdict


def _scoring_error(row: dict, item: CompiledItem,
                   exc: Exception) -> tuple[dict, str]:
    """A scoring exception as its meta["partition_scoring_errors"] entry and
    its traceback (call inside the ``except``)."""
    return ({"partition_id": _pid_value(row["__pid"]),
             "expectation_type": item.config.expectation_type,
             "domain": _domain(item.kwargs),
             "error": f"{type(exc).__name__}: {exc}"},
            traceback.format_exc())


def _sink_observed(v: Any) -> float | None:
    """An observed value in the sink's double column: numbers only."""
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return float(v)
    return None


class _ListParam(AccumulatorParam):
    """Accumulates lists by concatenation."""

    def zero(self, value: list) -> list:
        return []

    def addInPlace(self, a: list, b: list) -> list:
        a.extend(b)
        return a


def _between_evr(item: CompiledItem, value: Any) -> ExpectationValidationResult:
    """Verdict for an aggregate observed value against min/max bounds.

    A DATE observed value checked against datetime bounds (the
    dateutil-parsed ``parse_strings_as_datetimes`` strings) is compared
    as that day's midnight; observed_value still reports the date. So
    with a bound of '2024-01-05 00:00:00' a 2024-01-05 value fails under
    ``strict_max`` or ``strict_min``, and a bound later that day counts
    the whole date as before it."""
    kw = item.kwargs
    min_v, max_v = kw.get("min_value"), kw.get("max_value")
    if kw.get("parse_strings_as_datetimes"):
        # deprecated reference kwarg (expectation.py:1338-1360): string
        # bounds parsed with dateutil; the observed datetime is rendered
        # with output_strftime_format (or str) in the result
        from dateutil.parser import parse as _parse
        for name, b in (("min", min_v), ("max", max_v)):
            if b is not None:
                try:
                    parsed = _parse(b)
                except (TypeError, ValueError):
                    continue
                if name == "min":
                    min_v = parsed
                else:
                    max_v = parsed
    import datetime as _dt
    cmp_value = value
    if (isinstance(value, _dt.date)
            and not isinstance(value, _dt.datetime)
            and (isinstance(min_v, _dt.datetime)
                 or isinstance(max_v, _dt.datetime))):
        # DATE column vs dateutil-parsed bounds (always datetimes):
        # python refuses date-vs-datetime comparison, so compare the
        # day's midnight but keep the date for observed_value rendering
        cmp_value = _dt.datetime.combine(value, _dt.time.min)
    out = validate_metric_value_between(
        cmp_value, min_v, max_v,
        kw.get("strict_min", False), kw.get("strict_max", False))
    if cmp_value is not value:
        out["result"]["observed_value"] = value
    if kw.get("parse_strings_as_datetimes") and out["result"].get(
            "observed_value") is not None:
        import datetime as _dt
        ov = out["result"]["observed_value"]
        if isinstance(ov, (_dt.datetime, _dt.date)):
            fmt = kw.get("output_strftime_format")
            out["result"]["observed_value"] = (
                ov.strftime(fmt) if fmt else str(ov))
    return ExpectationValidationResult(
        success=out["success"], expectation_config=item.config, result=out["result"])


def _hll_unique_evr(rf: dict, item: CompiledItem, row: dict, strategy: str
                    ) -> tuple[ExpectationValidationResult, bool]:
    """A uniqueness item's HLL++ prescreen verdict from its fused row (the
    element, nonnull and approx_distinct slots), and whether the prescreen
    is suspect. est_dups = nonnull - approx beyond the 3*rsd noise band is
    REAL duplication, scored against mostly; inside the band the sketch
    cannot tell dups from estimation error, and the item passes."""
    kw = item.kwargs
    element = int(row[item.slots["element"]] or 0)
    nonnull = int(row[item.slots["nonnull"]] or 0)
    approx = int(row[item.slots["approx_distinct"]] or 0)
    rsd = float(kw.get("rsd", 0.05))
    est_dups = max(0, nonnull - approx)
    tolerated = 3.0 * rsd * max(nonnull, 1)
    suspect = est_dups > tolerated
    success = (not suspect) or mostly_success(
        element, nonnull, est_dups, kw.get("mostly", 1.0))
    result = format_map_output(rf, bool(success), element, nonnull,
                               est_dups if suspect else 0, [])
    result["details"] = {"strategy": strategy, "approx_distinct": approx,
                         "rsd": rsd, "dup_rows_upper_bound": int(tolerated)}
    return ExpectationValidationResult(
        success=bool(success), expectation_config=item.config,
        result=result), suspect


def _agg_custom_evr(item: CompiledItem, row: dict,
                    dfd: DataFrame | None = None) -> ExpectationValidationResult:
    kw, handler = item.kwargs, item.spec.extra["handler"]
    if handler == "row_count":
        count = int(row[item.slots["value"]] or 0)
        if item.spec.extra["mode"] == "equal":
            success = count == int(kw["value"])
            return ExpectationValidationResult(
                success=success, expectation_config=item.config,
                result={"observed_value": count})
        return _between_evr(item, count)
    if handler == "quantiles":
        if item.info.get("use_approx_quantile"):
            values = dfd.approxQuantile(
                item.kwargs["column"], item.info["quantiles"], 0.0)
        else:
            values = row[item.slots["value"]]
            values = list(values) if values is not None else []
        ranges = kw["quantile_ranges"]["value_ranges"]
        successes = []
        for v, (lo, hi) in zip(values, ranges):
            ok = v is not None and (lo is None or v >= lo) and (hi is None or v <= hi)
            successes.append(bool(ok))
        return ExpectationValidationResult(
            success=all(successes) and len(values) == len(ranges),
            expectation_config=item.config,
            result={"observed_value": {
                "quantiles": item.info["quantiles"], "values": values},
                "details": {"success_details": successes}})
    if handler == "unique_proportion":
        distinct = int(row[item.slots["distinct"]] or 0)
        nonnull = int(row[item.slots["nonnull"]] or 0)
        proportion = (distinct / nonnull) if nonnull else None
        return _between_evr(item, proportion)
    if handler == "distinct_set":
        observed = sorted(row[item.slots["value"]] or [])
        mode = item.spec.extra["mode"]
        oset = set(observed)
        if kw.get("value_set") is None:
            # null set = universal set (vacuously true subset/contains)
            success = True if mode != "equal" else len(oset) == 0
        else:
            value_set = set(kw["value_set"])
            success = {
                "subset": oset <= value_set,
                "superset": oset >= value_set,
                "equal": oset == value_set,
            }[mode]
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result={"observed_value": observed})
    raise ValueError(handler)


def _raw_sample_pool(item: CompiledItem, dfd: DataFrame, nonnull: int, *,
                     cap: int, seed: int):
    """Bounded uniform sample of the column's raw non-null values for
    driver-side bootstrap scoring. Below the cap the pool is the whole
    column; above it, a seeded fraction sample (slightly over-drawn,
    then limited) — one extra narrow scan, pruned to the single column."""
    import numpy as np
    kw = item.kwargs
    col = F.col(kw["column"]).cast("double")
    nn = dfd.filter(col.isNotNull()).select(col.alias("v"))
    if nonnull > cap:
        frac = min(1.0, cap * 1.2 / nonnull)
        nn = nn.sample(False, frac, seed)
    vals = np.array([r["v"] for r in nn.limit(cap).collect()], dtype=float)
    # sort: collect order varies with partitioning, and rng.choice draws
    # by position — sorting makes the bootstrap value deterministic for
    # a given multiset (exactly reproducible below the cap)
    return np.sort(vals)


def _drift_counts(item: CompiledItem, row: dict) -> tuple[list[float], float, float, float]:
    counts = [float(row[a] or 0) for a in item.info["bin_aliases"]]
    below = float(row[item.slots["below"]] or 0) if "below" in item.slots else 0.0
    above = float(row[item.slots["above"]] or 0) if "above" in item.slots else 0.0
    nonnull = float(row[item.slots["nonnull"]] or 0)
    return counts, below, above, nonnull


def _drift_evr(item: CompiledItem, row: dict,
               dfd: DataFrame | None = None) -> ExpectationValidationResult:
    kw = item.kwargs
    counts, below, above, nonnull = _drift_counts(item, row)
    score_kind = item.spec.extra["score"]
    expected = item.info["expected_weights"]
    categorical = "values" in item.info
    if score_kind == "kl":
        return _kl_evr(item, dfd, counts, below, above, nonnull, categorical)
    if score_kind == "ks":
        value, details = sketches.ks_statistic(counts, expected), {}
    elif score_kind == "psi":
        value, details = sketches.psi(counts, expected), {}
    elif score_kind == "chisq_p":
        value, details = sketches.chisquare_p_value(counts, expected)
    elif score_kind == "ks_p" and kw.get("bootstrap"):
        # reference-faithful mode (column_bootstrapped_ks_test_p_value
        # .py:44-96): bootstrap raw samples against the partition CDF.
        # The pool is a BOUNDED uniform sample of the column (cap
        # default 100k) so driver memory stays flat at any scale — the
        # bootstrap itself only draws samples*size values from it.
        po = kw["partition_object"]
        import math as _math
        if any(_math.isinf(b) for b in po["bins"]):
            raise ValueError("Partition endpoints must be finite.")
        if sum(po.get("tail_weights", []) or []) > 0:
            raise ValueError(
                "Partition cannot have tail weights -- endpoints must "
                "be finite.")
        pool = _raw_sample_pool(
            item, dfd, int(nonnull),
            cap=int(kw.get("bootstrap_pool_cap", 100_000)),
            seed=int(kw.get("bootstrap_seed", 42)))
        value, details = sketches.bootstrap_ks_test(
            pool, po["bins"], po["weights"],
            p=float(kw.get("p", 0.05)),
            bootstrap_samples=int(kw.get("bootstrap_samples") or 1000),
            bootstrap_sample_size=kw.get("bootstrap_sample_size"),
            seed=int(kw.get("bootstrap_seed", 42)))
        details["ks_statistic_binned"] = sketches.ks_statistic(
            counts, expected)
    elif score_kind in ("ks_p", "ks_param_p"):
        ks = sketches.ks_statistic(counts, expected)
        n_eff = sum(counts)
        value = sketches.ks_p_value(ks, n_eff)
        details = {"ks_statistic": ks, "n_effective": n_eff,
                   # semantic divergence from the reference, by design:
                   # the reference (pandas-only) bootstraps RAW samples;
                   # ours scores the KS asymptotic p on the BINNED sketch
                   # (mergeable across partitions, bounded memory) — the
                   # p-values differ, especially at small n. Pass
                   # bootstrap=True for the reference-faithful raw-sample
                   # bootstrap (bounded pool).
                   "method": "asymptotic_ks_on_binned_sketch"}
    else:
        value, details = sketches.chisquare_statistic(counts, expected), {}
    threshold = float(kw["threshold"])
    if item.spec.extra.get("direction") == "greater":
        success = value is not None and value > threshold
    else:
        success = value is not None and value < threshold
    observed_partition = (
        sketches.build_categorical_partition(item.info["values"], counts)
        if categorical else sketches.build_partition_from_edges(item.info["bins"], counts))
    return ExpectationValidationResult(
        success=bool(success), expectation_config=item.config,
        result={"observed_value": value,
                "details": {"observed_partition": observed_partition,
                            "expected_partition": kw["partition_object"], **details}})


def _kl_evr(item: CompiledItem, dfd: DataFrame | None, counts, below, above,
            nonnull, categorical: bool) -> ExpectationValidationResult:
    """expect_column_kl_divergence_to_be_less_than with the reference's
    exact semantics (expect_column_kl_divergence_to_be_less_than.py:
    315-630): scipy-entropy normalization, tail_weights / holdout rules,
    +/-inf endpoints, categorical outer-union fill, observed_value None
    on inf/nan, success = kl <= threshold (True when threshold is None).
    """
    kw = item.kwargs
    po = kw.get("partition_object")
    threshold = kw.get("threshold")
    th = float(kw.get("tail_weight_holdout", 0.0))
    ih = float(kw.get("internal_weight_holdout", 0.0))

    if item.info.get("auto"):
        return _kl_auto_evr(item, dfd, nonnull, threshold, th, ih)

    if categorical:
        values = item.info["values"]
        observed = {v: float(c) for v, c in zip(values, counts)}
        seen_mass = sum(observed.values())
        value, details = None, None
        if nonnull - seen_mass > 0.5:
            # values outside the expected set exist: one groupBy job
            # resolves their counts (rare path; the fused pass already
            # covered the expected values). The driver only ever sees the
            # top `max_unexpected_values` rows — above that, the KL is
            # computed from three JVM-side scalars (distinct count, total,
            # sum c*ln c), exactly, with driver memory flat at any
            # out-of-set cardinality.
            cap = int(kw.get("max_unexpected_values", 1000))
            col = F.col(kw["column"])
            out = (dfd.filter(col.isNotNull() & ~col.isin(values))
                   .groupBy(col).agg(F.count(F.lit(1)).alias("__n")))
            top = (out.orderBy(F.desc("__n"), col)
                   .limit(cap + 1).collect())
            if len(top) <= cap:
                for r in top:
                    observed[r[kw["column"]]] = float(r["__n"])
            else:
                cnt = F.col("__n").cast("double")
                srow = out.agg(
                    F.count(F.lit(1)).alias("n_distinct"),
                    F.sum(cnt).alias("total"),
                    F.sum(cnt * F.log(cnt)).alias("clogc")).first()
                value = sketches.kl_divergence_categorical_scalars(
                    observed, float(nonnull), values,
                    item.info["expected_weights"], th,
                    int(srow["n_distinct"]), float(srow["total"]),
                    float(srow["clogc"]))
                shown = {r[kw["column"]]: float(r["__n"]) for r in top[:cap]}
                details = {
                    "observed_partition": {
                        "values": values, "weights": [
                            observed.get(v, 0.0) / nonnull if nonnull else 0.0
                            for v in values]},
                    "expected_partition": {
                        "values": values,
                        "weights": item.info["expected_weights"]},
                    "unexpected_values_truncated": {
                        "distinct": int(srow["n_distinct"]),
                        "total_count": int(srow["total"]),
                        "top": {str(k): v for k, v in shown.items()},
                        "note": f"out-of-set values exceed "
                                f"max_unexpected_values={cap}; KL computed "
                                "exactly from distributed scalars"},
                }
        if value is None:
            value, details = sketches.kl_divergence_categorical(
                observed, float(nonnull), values,
                item.info["expected_weights"], th)
    else:
        value, details = sketches.kl_divergence(
            counts, item.info["expected_weights"], below, above, nonnull,
            th, ih, bins=item.info.get("bins"),
            expected_tail_weights=po.get("tail_weights"))

    import math
    displayable = not (math.isinf(value) or math.isnan(value))
    observed_value = value if displayable else None
    success = True if threshold is None else bool(value <= float(threshold))
    if not categorical:
        bins = item.info.get("bins") or []
        shown_bins = [b for b in bins if not math.isinf(b)]
        details = {
            "observed_partition": {"bins": shown_bins,
                                   "weights": details["observed_weights"],
                                   "tail_weights": details["observed_tail_weights"]},
            "expected_partition": {"bins": shown_bins,
                                   "weights": details["expected_weights"],
                                   "tail_weights": details["expected_tail_weights"]},
        }
    return ExpectationValidationResult(
        success=success, expectation_config=item.config,
        result={"observed_value": observed_value, "details": details})


def _kl_auto_evr(item: CompiledItem, dfd: DataFrame, nonnull, threshold, th, ih):
    """partition_object=None: build the partition FROM this batch
    (reference :338-356) — the observed distribution scored against a
    partition of itself (KL ~ 0; the result's value is the returned
    partition for later runs, matching the profiler role)."""
    import math
    kw = item.kwargs
    col_name = kw["column"]
    col = F.col(col_name)
    if item.info["auto"] == "categorical":
        # BOUNDED (r3): the driver only ever sees the top `max_categories`
        # groups. Above the cap, KL is still exact — the auto path scores
        # the batch against a partition of itself, and KL(p||p) == 0
        # identically at any cardinality — so only the returned partition
        # is truncated (kept to the top-mass values, annotated). Mirrors
        # the bounded given-partition out-of-set path above and the
        # profiler's approx_distinct <= max_categories guard.
        cap = int(kw.get("max_categories", 1000))
        grouped = (dfd.filter(col.isNotNull()).groupBy(col)
                   .agg(F.count(F.lit(1)).alias("__n")))
        rows = grouped.orderBy(F.desc("__n"), col).limit(cap + 1).collect()
        if len(rows) > cap:
            srow = grouped.agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.col("__n").cast("double")).alias("total")).first()
            rows = rows[:cap]
            observed = {r[col_name]: float(r["__n"]) for r in rows}
            values = sorted(observed, key=lambda v: (v is None, str(v)))
            weights = ([observed[v] / nonnull for v in values]
                       if nonnull else [])
            value = 0.0
            details = {
                "observed_partition": {"values": values, "weights": weights},
                "expected_partition": {"values": values, "weights": weights},
                "partition_truncated": {
                    "distinct": int(srow["n_distinct"]),
                    "total_count": int(srow["total"]),
                    "max_categories": cap,
                    "note": "auto partition bounded to the top max_categories "
                            "values by count; KL(p||p) = 0 exactly at any "
                            "cardinality, so observed_value is unaffected"},
            }
        else:
            observed = {r[col_name]: float(r["__n"]) for r in rows}
            values = sorted(observed, key=lambda v: (v is None, str(v)))
            weights = ([observed[v] / nonnull for v in values]
                       if nonnull else [])
            value, details = sketches.kl_divergence_categorical(
                observed, float(nonnull), values, weights, th)
    else:
        qs = [i / 10 for i in range(11)]
        edges = dfd.approxQuantile(col_name, qs, 0.0) if nonnull else []
        bins = sorted(set(e for e in edges if e is not None))
        if len(bins) < 2:
            return ExpectationValidationResult(
                success=True, expectation_config=item.config,
                result={"observed_value": None,
                        "details": {"note": "not enough data to partition"}})
        exprs = []
        for i in range(len(bins) - 1):
            lo, hi = bins[i], bins[i + 1]
            cond = (col >= lo) & ((col <= hi) if i == len(bins) - 2 else (col < hi))
            exprs.append(F.coalesce(
                F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(f"h{i}"))
        hrow = dfd.agg(*exprs).first().asDict()
        counts = [float(hrow[f"h{i}"]) for i in range(len(bins) - 1)]
        weights = [c / nonnull for c in counts] if nonnull else []
        value, details = sketches.kl_divergence(
            counts, weights, 0.0, 0.0, nonnull, th, ih, bins=bins,
            expected_tail_weights=None)
        details = {
            "observed_partition": {"bins": bins, "weights": details["observed_weights"],
                                   "tail_weights": details["observed_tail_weights"]},
            "expected_partition": {"bins": bins, "weights": details["expected_weights"],
                                   "tail_weights": details["expected_tail_weights"]},
        }
    displayable = not (math.isinf(value) or math.isnan(value))
    success = True if threshold is None else bool(value <= float(threshold))
    return ExpectationValidationResult(
        success=success, expectation_config=item.config,
        result={"observed_value": value if displayable else None,
                "details": details if isinstance(details, dict) else {}})


def _exception_evr(config: ExpectationConfiguration, exc: BaseException,
                   tb: str | None = None) -> ExpectationValidationResult:
    """The failed EVR that carries ``exc`` (catch_exceptions)."""
    return ExpectationValidationResult(
        success=False, expectation_config=config, result={},
        exception_info={
            "raised_exception": True,
            "exception_message": f"{type(exc).__name__}: {exc}",
            "exception_traceback": tb,
        })


def _jsonable(v: Any) -> Any:
    try:
        import json
        json.dumps(v)
        return v
    except (TypeError, ValueError):
        return str(v)


def read_partition_verdicts(spark, sink_path: str) -> DataFrame:
    """All per-partition verdict rows a `partition_verdict_sink` run wrote
    (``verdicts-<site>.parquet``, one per site ValidationRun._resolve
    scored on executors: each domain's fused pass, z-score pass and window
    and uniqueness items), as one DataFrame — the scale-safe replacement
    for result.meta['partition_verdicts'] when partitions number 100k+."""
    return spark.read.parquet(os.path.join(sink_path, "verdicts-*.parquet"))


def resolve_evaluation_parameters(
    suite: ExpectationSuite, params: dict | None) -> ExpectationSuite:
    """Substitute ``{"$PARAMETER": "<name>"}`` kwargs with values supplied at
    validation time — the reference's evaluation-parameter mechanism
    (core/evaluation_parameters.py:199-304; URN store lookups become plain
    dict lookups here since cross-suite values live in the results table)."""
    def subst(v):
        if isinstance(v, dict) and set(v) == {"$PARAMETER"}:
            name = v["$PARAMETER"]
            if params is not None and name in params:
                return params[name]
            # the reference allows EXPRESSIONS here — arithmetic, round/trunc,
            # and temporal builtins now()/datetime()/timedelta(), possibly
            # referencing supplied params (core/evaluation_parameters.py)
            from .eval_params import evaluate_parameter_expression
            try:
                return evaluate_parameter_expression(name, params)
            except Exception:
                # leave unresolved: ValidationRun converts it into a
                # per-expectation exception EVR (catch_exceptions semantics),
                # instead of aborting the whole validate() call here
                return v
        if isinstance(v, dict):
            return {k: subst(x) for k, x in v.items()}
        if isinstance(v, list):
            return [subst(x) for x in v]
        return v

    needs = any(
        isinstance(v, (dict, list)) for c in suite.expectations for v in c.kwargs.values())
    if not needs:
        return suite
    out = ExpectationSuite(suite.expectation_suite_name, meta=dict(suite.meta))
    for c in suite.expectations:
        out.expectations.append(ExpectationConfiguration(
            c.expectation_type, subst(dict(c.kwargs)), dict(c.meta)))
    return out


def _unresolved_parameters(v) -> list[str]:
    """Names of ``{"$PARAMETER": ...}`` markers still present after
    resolve_evaluation_parameters (i.e. not supplied by the caller)."""
    if isinstance(v, dict):
        if set(v) == {"$PARAMETER"}:
            return [v["$PARAMETER"]]
        return [n for x in v.values() for n in _unresolved_parameters(x)]
    if isinstance(v, list):
        return [n for x in v for n in _unresolved_parameters(x)]
    return []


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    *,
    tables: dict[str, DataFrame] | None = None,
    result_format: Any = "BASIC",
    catch_exceptions: bool = True,
    per_partition: bool = False,
    partition_col: str | None = None,
    unique_strategy: str = "exact",
    evaluation_parameters: dict | None = None,
    partition_verdict_sink: str | None = None,
) -> ExpectationSuiteValidationResult:
    suite = resolve_evaluation_parameters(suite, evaluation_parameters)
    run = ValidationRun(
        df, tables=tables, result_format=result_format,
        catch_exceptions=catch_exceptions, per_partition=per_partition,
        partition_col=partition_col, unique_strategy=unique_strategy,
        partition_verdict_sink=partition_verdict_sink)
    result = run.run(suite)
    if per_partition:
        result.meta["partition_verdicts"] = run.partition_verdicts
        if partition_verdict_sink is not None:
            # verdict rows live in the sink, not the driver — read them with
            # read_partition_verdicts(spark, path)
            result.meta["partition_verdicts_path"] = partition_verdict_sink
    return result
