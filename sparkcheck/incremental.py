"""Incremental snapshot validation: validate each append-only delta ONCE and
derive whole-table verdicts from merged sufficient statistics.

At 10^12 rows a nightly full-table validation re-reads ~100 TB to re-verify
data that has not changed. Iceberg-style tables grow by appending immutable
files (``io.write_table`` snapshots; Iceberg incremental scans), so the
scale-correct loop is:

    for each NEW snapshot:  validate only the appended delta (one fused pass)
    whole-table verdicts:   merge per-snapshot sufficient statistics

The planner declares how each slot of the fused pass merges
(``SlotTable.merges``). This module decides which expectations merge, runs
the declared statistics of their slots over each delta, folds them by the
declared op and calls each slot's ``finalize``. The statistics (all folds
are exact unless noted):

- map / pair / multicolumn conditions — each row's pass/fail depends on that
  row alone, so (element, nonnull, unexpected) counts SUM exactly; so do the
  row count and drift's histogram / category buckets.
- min / max fold by min / max, sum by a sum that stays null over empty
  input, a distinct value set (subset/superset/equal) by set union.
- mean / stddev (sample) — (count, sum, sum of squares) sum; merged
  stddev = sqrt((S2 - S1^2/C)/(C-1)). Float64 sums: the only inexactness is
  last-ulp association order, bounded by the snapshot count (not row count).
- drift (KL / KS / PSI / chi-square with an explicit partition_object) —
  summed bucket counts make the merged score IDENTICAL to a full recompute.
  Categorical drift merges only when no out-of-set values were observed
  (resolving out-of-set mass needs per-value counts).
- approximate distinct counts — per-delta DataSketches HLL sketches
  (``hll_sketch_agg``) merge losslessly via ``hll_union_agg``. Uniqueness
  merges as the engine's documented HLL-prescreen strategy
  (``unique_strategy='approx'``); EXACT uniqueness is NOT derivable from
  per-delta statistics (a duplicate can span two snapshots) — it is reported
  as unsupported and needs one full-table pass. The same holds for exact
  unique_value_count / unique proportion, which merge with the
  ``approximate=True`` opt-in.
- median / quantiles — approximate with a declared bound: per-delta
  DataSketches KLL doubles sketches (``kll_sketch_agg_double``) merge
  losslessly via ``kll_merge_agg_double``; the merged quantile differs from
  a full recompute by at most the sketch's normalized rank error
  (~1.7%/0.8% two/one-sided at the default k=200, 99% confidence — tune
  with ``kll_k``). Expectations that explicitly request EXACT quantiles
  (``exact=True``, ``allow_relative_error=0``, ``interpolation='linear'``)
  stay unsupported: exact order statistics are not derivable from
  per-delta sketches.
- schema checks — evaluated per delta, folded by AND (sound for append-only
  tables: every file ever written satisfied the check).
- audio invariants (SNR/payload/header) and referential checks — mergeable
  with ``frozen_reference=True`` (+ ``tables=``): each delta runs its own
  prescreen-join/anti-join job against the reference table and the
  map-shaped (element, nonnull, unexpected) counts sum exactly, PROVIDED the
  reference table does not change between deltas (the caller asserts this;
  a grown reference could legalize a previously-orphaned FK value, making
  old counts stale). This is the 10^12-clip loop for the north-rule audio
  table: only newly appended clips are decoded.

NOT mergeable, reported in ``unsupported`` (run a full validation for these):
exact-opt-in median/quantiles (see above), z-score
(defined against the evolving global mean/std — old rows' verdicts change
when data appends), increasing/decreasing windows (order spans snapshots),
exact uniqueness / exact unique_proportion / exact unique_value_count,
referential/audio without the frozen-reference opt-in, bootstrapped KS and
auto-partition KL (raw-sample / batch-derived partitions).

The per-snapshot stats file is a few KB of JSON regardless of delta size;
merging is driver-side folds plus tiny Spark jobs over the stored sketches
only (one HLL union when HLL statistics are present, one KLL merge that
also reads the quantiles when quantiles are).

Verdicts are not scored here. Each domain's merged statistics become the
row its fused pass would have produced, keyed by the plan's slot aliases,
and the runner scores that row with the code a full validation runs:
``ValidationRun._evr_from_row`` for fused items, the HLL prescreen scorer of
``unique_strategy='approx'`` for approximate uniqueness. The only
incremental additions are notes in ``details`` on how a sketch merged.
Reference analogue: GE has no incremental mode — Checkpoint re-validates the
full batch every run (checkpoint/checkpoint.py:202-306); this module is the
Spark-first replacement for that loop on append-only tables.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import config_id
# KLL_DEFAULT_K and _KLL_MIN_K are part of this module's kll_k contract
from .planner import (KLL_DEFAULT_K, _KLL_EPS_COEF, _KLL_EPS_EXP,  # noqa: F401
                      _KLL_MAX_K, _KLL_MIN_K, CompiledItem, DomainPlan,
                      _kll_k_for, compile_suite)
from .runner import ValidationRun, _drift_counts, _hll_unique_evr
from .types import (ExpectationSuite, ExpectationSuiteValidationResult,
                    ExpectationValidationResult, build_statistics)

STATS_FORMAT_VERSION = 2

# distinct-set statistics are stored verbatim in the per-snapshot JSON; the
# KB-sized-stats-file guarantee requires them to stay value-set-sized
MAX_DISTINCT_SET = 10_000

_DRIFT_SCORES_MERGEABLE = {"kl", "ks", "psi", "chisq_p", "ks_param_p"}

# strategies whose items run their own join job on each delta and keep its
# counts, instead of merging fused statistics
_JOB_STRATEGIES = ("job_counts", "rowcount_vs_other")


def _suite_fingerprint(suite: ExpectationSuite) -> str:
    ids = sorted(config_id(c.expectation_type, c.kwargs)
                 for c in suite.expectations)
    return hashlib.md5(json.dumps(ids).encode()).hexdigest()[:16]


class _Unsupported(Exception):
    pass


def _classify_item(item: CompiledItem, merges: dict, *,
                   frozen_reference: bool = False) -> str:
    """-> merge strategy name, or raise _Unsupported(reason). ``merges`` are
    the slot merge declarations of the item's domain."""
    kind = item.spec.kind
    etype = item.config.expectation_type
    if kind in ("audio", "referential"):
        if not frozen_reference:
            raise _Unsupported(
                f"{kind} counts merge only while the reference table is "
                "unchanged between deltas — opt in with "
                "frozen_reference=True (and pass tables=)")
        if (kind == "referential"
                and item.spec.extra.get("handler") == "row_count_other_table"):
            return "rowcount_vs_other"
        return "job_counts"
    if kind == "map":
        return "fused"
    if kind == "agg":
        if item.slots["value"] in merges:
            # a median merges approximately, within the KLL sketch's declared
            # rank-error bound (the full-validation path is exact F.median;
            # merging sketches is the documented incremental tolerance, like
            # HLL uniqueness)
            return ("kll" if etype == "expect_column_median_to_be_between"
                    else "fused")
        if etype == "expect_column_unique_value_count_to_be_between":
            raise _Unsupported(
                "exact distinct count is not derivable from per-delta "
                "statistics (pass approximate=True for a mergeable HLL "
                "sketch, or run a full validation)")
        raise _Unsupported(
            f"{etype} has no exact sufficient-statistic decomposition")
    if kind == "agg_custom":
        handler = item.spec.extra["handler"]
        if handler in ("row_count", "distinct_set"):
            return "fused"
        if handler == "quantiles":
            kw = item.kwargs
            err = kw.get("allow_relative_error", False)
            if (kw.get("exact") is True or kw.get("interpolation") == "linear"
                    or (err is not False and err == 0)):
                raise _Unsupported(
                    "exact quantiles are not derivable from per-delta "
                    "statistics — drop the exactness opt-in (exact=True / "
                    "allow_relative_error=0 / interpolation='linear') to "
                    "merge a KLL sketch, or run a full validation")
            if _kll_k_for(kw) > _KLL_MAX_K:
                raise _Unsupported(
                    f"allow_relative_error={err} is tighter than the "
                    f"largest supported merge sketch delivers (KLL "
                    f"k={_KLL_MAX_K} ≈ "
                    f"{_KLL_EPS_COEF / _KLL_MAX_K ** _KLL_EPS_EXP:.2%} rank "
                    "error) — loosen it, pass kll_k= explicitly, or run a "
                    "full validation")
            return "kll"
        if handler == "unique_proportion":
            if item.kwargs.get("approximate"):
                return "unique_proportion:hll"
            raise _Unsupported(
                "exact unique proportion needs an exact distinct count, "
                "which does not decompose into per-delta statistics — pass "
                "approximate=True for a mergeable HLL sketch (distinct "
                "estimate / nonnull count), or run a full validation")
        raise _Unsupported(f"{handler} is not mergeable")
    if kind == "drift":
        if item.info.get("auto"):
            raise _Unsupported(
                "auto-partition KL derives the partition from the batch "
                "itself; pass an explicit partition_object to merge")
        if item.kwargs.get("bootstrap"):
            raise _Unsupported("bootstrapped KS resamples raw values")
        if item.spec.extra.get("score") not in _DRIFT_SCORES_MERGEABLE:
            raise _Unsupported(
                f"drift score {item.spec.extra.get('score')!r} is not "
                "computable from merged bucket counts")
        return "drift"
    if kind == "map_unique":
        return "unique_approx"
    if kind == "schema":
        return "schema"
    if kind == "map_dependent":
        raise _Unsupported(
            "z-scores are defined against the whole-table mean/std, which "
            "changes when data appends — old rows' verdicts are not stable")
    if kind == "map_window":
        raise _Unsupported("window order spans snapshot boundaries")
    raise _Unsupported(f"kind {kind!r} needs raw rows, not statistics")


class IncrementalCheckpoint:
    """Append-only incremental validation over a snapshot-log table.

    >>> inc = IncrementalCheckpoint(suite, store_path)
    >>> inc.validate_table(spark, table_path)   # validates NEW snapshots only
    >>> result = inc.merged_result(spark)       # whole-table verdicts

    ``unsupported()`` lists the suite's expectations that cannot be merged
    from statistics (with reasons); validate those with a full run. With
    ``strict=True`` construction fails instead when any exist.
    """

    def __init__(self, suite: ExpectationSuite, store_path: str, *,
                 result_format: str = "BASIC", strict: bool = False,
                 tables: dict | None = None,
                 frozen_reference: bool = False) -> None:
        self.suite = suite
        self.store_path = store_path
        self.result_format = result_format
        self.tables = tables or {}
        self._fp = _suite_fingerprint(suite)
        # uniqueness merges through HLL sketches across snapshots, so plan
        # the prescreen slot, whose declared state is the sketch
        self._plan = compile_suite(suite.expectations, unique_strategy="approx")
        self._strategy: dict[int, str] = {}   # id(config) -> strategy
        self._unsupported: list[dict] = []
        for item, merges in self._iter_items():
            try:
                self._strategy[id(item.config)] = _classify_item(
                    item, merges, frozen_reference=frozen_reference)
            except _Unsupported as e:
                self._unsupported.append({
                    "expectation_type": item.config.expectation_type,
                    "domain": item.kwargs.get("column")
                    or ",".join(item.kwargs.get("column_list", [])) or "",
                    "reason": str(e),
                })
        if strict and self._unsupported:
            raise ValueError(
                "suite has non-mergeable expectations: "
                + json.dumps(self._unsupported, indent=2))
        self._domains = self._domain_items()
        os.makedirs(os.path.join(store_path, "stats"), exist_ok=True)

    # ------------------------------------------------------------- plan walk

    def _iter_items(self):
        """(item, the slot merge declarations of its domain) for every
        item."""
        for item in self._plan.schema_items:
            yield item, {}
        for dp in self._plan.domains.values():
            for item in dp.fused_items + dp.dependent_items + dp.job_items:
                yield item, dp.slot_table.merges

    def _domain_items(self) -> list[tuple]:
        """(domain_id, domain plan, supported items, the statistics of their
        slots — see _statistics) for every domain."""
        out = []
        for did, dp in self._plan.domains.items():
            items = [it for it in dp.fused_items + dp.job_items
                     if id(it.config) in self._strategy]
            aliases = dict.fromkeys(
                a for it in items
                if self._strategy[id(it.config)] not in _JOB_STRATEGIES
                for a in (*it.slots.values(), *it.info.get("bin_aliases", ())))
            out.append((did, dp, items, _statistics(dp, aliases)))
        return out

    # ---------------------------------------------------------- delta passes

    def _manifest_path(self) -> str:
        return os.path.join(self.store_path, "manifest.json")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                m = json.load(f)
        except FileNotFoundError:
            return {"validated": [], "suite_fp": self._fp,
                    "format_version": STATS_FORMAT_VERSION}
        if m.get("suite_fp") != self._fp:
            raise ValueError(
                "stats store was written by a different suite version — "
                "point at a fresh store or re-validate from scratch")
        return m

    def _commit_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    def validate_delta(self, df: DataFrame, *, snapshot_id: str) -> dict:
        """One fused statistics pass per domain over THIS delta; commits the
        stats file then the manifest (crash between the two = the snapshot
        re-validates on resume; the stats write is idempotent)."""
        manifest = self._load_manifest()
        if snapshot_id in manifest["validated"]:
            return {"snapshot_id": snapshot_id, "skipped": True}
        out: dict = {"snapshot_id": snapshot_id, "suite_fp": self._fp,
                     "format_version": STATS_FORMAT_VERSION, "domains": {},
                     "schema": {}}
        from .metrics import conditions as C
        for did, dp, _, stats in self._domains:
            if not stats:
                continue
            dfd = df
            if dp.row_condition:
                dfd = dfd.filter(C.row_condition_filter(
                    {"row_condition": dp.row_condition,
                     "condition_parser": dp.condition_parser}))
            cols = [c for alias, merge, _ in stats for c in (
                [dp.slot_table.exprs[alias]] if isinstance(merge, str)
                else merge.build(dfd))]
            row = dfd.agg(*[c.alias(f"s{i}")
                            for i, c in enumerate(cols)]).first()
            vals = {}
            for (key, op), v in zip(_ops(stats).items(), row):
                if (op == "set_union" and v is not None
                        and len(v) > MAX_DISTINCT_SET):
                    # the per-snapshot stats file must stay KB-sized; a
                    # high-cardinality distinct-set column would silently
                    # grow it per delta — refuse instead
                    raise ValueError(
                        f"distinct-set statistic {key!r} has {len(v)} "
                        f"values in this delta (cap {MAX_DISTINCT_SET}) — "
                        "a value-set check on a high-cardinality column is "
                        "not incrementally mergeable at bounded size; drop "
                        "it from the suite or validate it with a full run")
                vals[key] = _encode(v)
            out["domains"][did] = vals
        if self._plan.schema_items:
            vr = ValidationRun(df)
            for item in self._plan.schema_items:
                evr = vr._run_schema_item(item)
                out["schema"][config_id(item.config.expectation_type,
                                        item.kwargs)] = bool(evr.success)
        job_items = [it for it, _ in self._iter_items()
                     if self._strategy.get(id(it.config)) in _JOB_STRATEGIES]
        if job_items:
            # frozen-reference audio/referential: run their own join jobs on
            # THIS delta only (prescreen/anti-join against the full reference
            # table) and keep the map-shaped counts, which sum exactly
            sub = ExpectationSuite(self.suite.expectation_suite_name
                                   + "#incremental-jobs")
            for it in job_items:
                sub.expectations.append(it.config)
            res = ValidationRun(df, tables=self.tables,
                                catch_exceptions=False).run(sub)
            jobs = {}
            for it, evr in zip(job_items, res.results):
                cid = config_id(it.config.expectation_type, it.kwargs)
                if self._strategy[id(it.config)] == "rowcount_vs_other":
                    jobs[cid] = {
                        "observed": int(evr.result["observed_value"]),
                        "other": int(
                            evr.result["details"]["other_table_row_count"])}
                else:
                    r = evr.result
                    jobs[cid] = {"el": int(r.get("element_count") or 0),
                                 "mi": int(r.get("missing_count") or 0),
                                 "ux": int(r.get("unexpected_count") or 0)}
            out["jobs"] = jobs
        path = os.path.join(self.store_path, "stats", f"{snapshot_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        manifest["validated"].append(snapshot_id)
        self._commit_manifest(manifest)
        return {"snapshot_id": snapshot_id, "skipped": False}

    def validate_table(self, spark, table_path: str) -> dict:
        """Validate every snapshot of an ``io.write_table`` snapshot-log
        table that is not yet in the stats store, as deltas, oldest first."""
        from .io import read_table, read_table_delta, snapshots
        manifest = self._load_manifest()
        done = set(manifest["validated"])
        ran = []
        # an overwrite snapshot REPLACES data, so statistics merged from
        # snapshots before it would describe rows that no longer exist. The
        # LATEST non-append snapshot is therefore the merge base: validate
        # it as a full read and the appends after it as deltas. If the store
        # already holds stats from before that base, they are stale — refuse
        # loudly instead of merging silently-wrong verdicts.
        history = snapshots(table_path)
        base_idx = 0
        for i, snap in enumerate(history):
            if i > 0 and snap.get("mode") != "append":
                base_idx = i
        stale = done & {s["id"] for s in history[:base_idx]}
        if stale:
            raise ValueError(
                f"snapshot {history[base_idx]['id']!r} overwrote the table "
                f"but the stats store still holds pre-overwrite snapshots "
                f"{sorted(stale)} — their statistics describe replaced rows; "
                "start a fresh stats store from the overwrite")
        prev = None
        for snap in history[base_idx:]:
            sid = snap["id"]
            if sid not in done:
                if prev is None:
                    df, _ = read_table(spark, table_path, snapshot_id=sid)
                else:
                    df, _ = read_table_delta(spark, table_path, prev,
                                             snapshot_id=sid)
                self.validate_delta(df, snapshot_id=sid)
                ran.append(sid)
            prev = sid
        return {"validated_now": ran, "validated_total":
                len(self._load_manifest()["validated"])}

    # --------------------------------------------------------------- merging

    def unsupported(self) -> list[dict]:
        return list(self._unsupported)

    def _load_stats(self) -> list[dict]:
        manifest = self._load_manifest()
        out = []
        for sid in manifest["validated"]:
            with open(os.path.join(self.store_path, "stats",
                                   f"{sid}.json")) as f:
                s = json.load(f)
            if s.get("format_version") != STATS_FORMAT_VERSION:
                raise ValueError(f"stats format mismatch in {sid}")
            out.append(s)
        return out

    def merged_result(self, spark=None) -> ExpectationSuiteValidationResult:
        """Whole-table verdicts from the merged statistics: each statistic
        the planner declared for a slot is folded by its declared op, and
        each slot's ``finalize`` turns its merged state into the slot's
        value. The folds are driver-side arithmetic over the KB-sized stats
        files; ``spark`` (an active session) is only needed when the suite
        merges HLL or KLL sketches — tiny jobs union the stored sketches.
        (Plan compilation in ``__init__`` builds Catalyst Column objects, so
        the process still needs a live SparkContext — merge never scans
        data, but it is not JVM-free.)"""
        deltas = self._load_stats()
        if not deltas:
            raise ValueError("no validated snapshots in the stats store")
        merged: dict[str, dict] = {}
        # sketch op -> composite key -> stored sketches, merged by Spark below
        sketches: dict[str, list] = {"hll": [], "kll": []}
        for did, _, _, stats in self._domains:
            acc = merged[did] = {}
            for key, op in _ops(stats).items():
                # A key the CURRENT engine folds but a stored delta lacks
                # means that delta was validated by an engine version that
                # classified the expectation as unsupported (e.g. median /
                # quantiles before KLL merging existed): merging only the
                # sketches that exist would silently report partial-data
                # verdicts as whole-table ones. Raise loudly, like
                # _job_verdict does for missing job counts.
                absent = [d["snapshot_id"] for d in deltas
                          if key not in d["domains"].get(did, {})]
                if absent:
                    raise ValueError(
                        f"snapshot(s) {absent} have no stored statistic "
                        f"{key!r} — they were validated by an engine version "
                        "that did not fold it; re-validate them or start a "
                        "fresh stats store")
                vals = [v for v in (_decode(d["domains"][did][key])
                                    for d in deltas) if v is not None]
                if op in sketches:
                    sketches[op] += [(f"{did}\x00{key}", sk) for sk in vals]
                    acc[key] = None  # filled below
                else:
                    acc[key] = _fold(op, vals)
        if (sketches["hll"] or sketches["kll"]) and spark is None:
            raise ValueError(
                "merging HLL / KLL sketches (uniqueness, distinct counts, "
                "quantiles) needs a SparkSession — pass spark to "
                "merged_result()")
        if sketches["hll"]:
            for r in (spark.createDataFrame(sketches["hll"],
                                            "k string, sk binary")
                      .groupBy("k")
                      .agg(F.hll_sketch_estimate(F.hll_union_agg(
                          "sk", F.lit(True))).alias("est"))
                      .collect()):
                did, key = r["k"].split("\x00", 1)
                merged[did][key] = int(r["est"])
        if sketches["kll"]:
            # one job merges the sketches (a merged sketch keeps the k of
            # its inputs) and reads every quantile any slot needs, one
            # literal column each: the rank argument must be foldable
            qs = sorted({q for _, _, _, stats in self._domains
                         for _, m, _ in stats
                         for q in getattr(m, "quantiles", ())})
            for r in (spark.createDataFrame(sketches["kll"],
                                            "k string, sk binary")
                      .groupBy("k")
                      .agg(F.kll_merge_agg_double("sk").alias("m"))
                      .select("k", *[F.kll_sketch_get_quantile_double(
                          "m", F.lit(q)).alias(f"q{i}")
                          for i, q in enumerate(qs)])
                      .collect()):
                did, key = r["k"].split("\x00", 1)
                merged[did][key] = {q: r[f"q{i}"] for i, q in enumerate(qs)}
        return self._verdicts(merged, deltas)

    # ------------------------------------------------------------- verdicts

    def _verdicts(self, merged: dict,
                  deltas: list[dict]) -> ExpectationSuiteValidationResult:
        """Each domain's merged row scored by the runner's verdict code, as
        a full validation scores its fused row."""
        vr = ValidationRun(None, result_format=self.result_format)
        results = []
        for item in self._plan.schema_items:
            cid = config_id(item.config.expectation_type, item.kwargs)
            oks = [d["schema"].get(cid) for d in deltas]
            success = all(bool(o) for o in oks)
            results.append(ExpectationValidationResult(
                success=success, expectation_config=item.config,
                result={"details": {"per_snapshot_success": oks}}))
        for did, _, items, stats in self._domains:
            acc = merged[did]
            # slot alias -> value: a foldable slot's folded value, or its
            # Merge's finalize over its merged state
            row = {a: acc[next(iter(st))] if isinstance(m, str)
                   else m.finalize(*[acc[k] for k in st])
                   for a, m, st in stats}
            for item in items:
                strat = self._strategy[id(item.config)]
                if strat in _JOB_STRATEGIES:
                    results.append(self._job_verdict(vr, item, strat, deltas))
                    continue
                if strat == "unique_approx":
                    evr, _ = _hll_unique_evr(vr.rf, item, row,
                                             "hll_prescreen_incremental")
                else:
                    if strat == "drift" and "values" in item.info:
                        counts, _, _, nonnull = _drift_counts(item, row)
                        if nonnull - sum(counts) > 0.5:
                            raise ValueError(
                                "categorical drift merge saw values outside "
                                "the expected set; resolving their mass "
                                "needs per-value counts — run a full "
                                "validation for this check")
                    evr = vr._evr_from_row(item, row, None, {})
                _add_merge_details(evr, item, strat, row)
                results.append(evr)
        return ExpectationSuiteValidationResult(
            success=all(r.success for r in results),
            results=results, statistics=build_statistics(results),
            meta={"expectation_suite_name":
                  self.suite.expectation_suite_name,
                  "incremental": {
                      "snapshots_merged": [d["snapshot_id"] for d in deltas],
                      "unsupported": self._unsupported}})

    def _job_verdict(self, vr, item: CompiledItem, strat: str,
                     deltas: list[dict]) -> ExpectationValidationResult:
        cid = config_id(item.config.expectation_type, item.kwargs)
        recs = [d.get("jobs", {}).get(cid) for d in deltas]
        if any(r is None for r in recs):
            missing = [d["snapshot_id"] for d, r in zip(deltas, recs)
                       if r is None]
            raise ValueError(
                f"snapshot(s) {missing} have no job counts for "
                f"{item.config.expectation_type} — they were validated by a "
                "checkpoint without frozen_reference; re-validate them")
        if strat == "rowcount_vs_other":
            others = {r["other"] for r in recs}
            if len(others) > 1:
                raise ValueError(
                    "the reference table's row count changed between deltas "
                    f"({sorted(others)}) — frozen_reference was violated; "
                    "incremental counts are stale, run a full validation")
            observed = sum(r["observed"] for r in recs)
            other = next(iter(others))
            return ExpectationValidationResult(
                success=observed == other, expectation_config=item.config,
                result={"observed_value": observed,
                        "details": {"other_table_row_count": other}})
        el = sum(r["el"] for r in recs)
        mi = sum(r["mi"] for r in recs)
        ux = sum(r["ux"] for r in recs)
        return vr._map_evr(item, el, el - mi, ux, [], None)


def _statistics(dp: DomainPlan, aliases) -> list[tuple]:
    """(alias, merge declaration, statistics: key -> op) for each slot
    alias. A foldable slot's one statistic is its own value, under the
    slot's key; a Merge's state goes under ``inc::<name>::<slot key>``.
    Slot keys are semantic (stable across processes), so expectations that
    share a slot share its statistics."""
    inv = {a: k for k, a in dp.slot_table.keys.items()}
    out = []
    for a in aliases:
        m = dp.slot_table.merges[a]
        out.append((a, m, {inv[a]: m} if isinstance(m, str) else
                    {f"inc::{n}::{inv[a]}": op for n, op in m.state.items()}))
    return out


def _ops(stats: list[tuple]) -> dict[str, str]:
    """Every statistic of a domain: key -> op, in aggregate order."""
    return {k: op for _, _, st in stats for k, op in st.items()}


def _fold(op: str, vals: list):
    """One statistic's non-null per-delta values folded by ``op``."""
    if op == "sum":
        return sum(vals)
    if op == "set_union":
        return sorted({x for v in vals for x in v})
    if not vals:
        return None
    return {"sum_nullable": sum, "min": min, "max": max}[op](vals)


def _add_merge_details(evr: ExpectationValidationResult, item: CompiledItem,
                       strat: str, row: dict) -> None:
    """Note in a merged EVR's details how its sketch statistics merged."""
    if strat == "unique_approx":
        # the prescreen's noise band is reported by full validations only
        details = evr.result["details"]
        del details["rsd"], details["dup_rows_upper_bound"]
        note = {"note": ("merged DataSketches HLL union across snapshots; "
                         "exact dup counts need one full-table pass")}
    elif strat == "kll":
        note = {"strategy": "kll_sketch_merge",
                "kll_k": _kll_k_for(item.kwargs),
                "note": ("merged DataSketches KLL doubles sketches across "
                         "snapshots; observed quantiles are within the "
                         "sketch's normalized rank-error bound of a full "
                         "recompute")}
    elif strat == "unique_proportion:hll":
        note = {"strategy": "hll_union_incremental",
                "approx_distinct": row[item.slots["distinct"]],
                "nonnull_count": int(row[item.slots["nonnull"]] or 0),
                "note": ("proportion = merged DataSketches HLL distinct "
                         "estimate / summed nonnull count; distinct "
                         "standard error ≈ 1.04/sqrt(2^lgConfigK)")}
    else:
        return
    evr.result.setdefault("details", {}).update(note)


# JSON form of statistic values JSON cannot hold: tag -> (type, encode,
# decode). Sketches are bytes; dates, timestamps and decimals decode back to
# the type the fused pass returns.
_TAGGED = {
    "b64": ((bytes, bytearray), lambda v: base64.b64encode(bytes(v)).decode(),
            base64.b64decode),
    "datetime": (datetime.datetime, datetime.datetime.isoformat,
                 datetime.datetime.fromisoformat),
    "date": (datetime.date, datetime.date.isoformat,
             datetime.date.fromisoformat),
    "decimal": (decimal.Decimal, str, decimal.Decimal),
}


def _encode(v):
    if isinstance(v, list):
        return [_encode(x) for x in v]
    for tag, (types, enc, _) in _TAGGED.items():  # datetime before date
        if isinstance(v, types):
            return {tag: enc(v)}
    return v


def _decode(v):
    if isinstance(v, list):
        return [_decode(x) for x in v]
    if isinstance(v, dict):
        (tag, text), = v.items()
        return _TAGGED[tag][2](text)
    return v
