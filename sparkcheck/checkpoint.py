"""Checkpointed validation runs with per-partition lineage + resume.

North-rule requirement: per-partition pass/fail verdicts and violation rows
written as a results table with lineage (partition id, snapshot id, checkpoint
epoch) so a killed run resumes from the last committed partition checkpoint.

The reference's analogue is Checkpoint.run + StoreValidationResultAction
(great_expectations/checkpoint/checkpoint.py:202-306, actions.py:711-790) —
one EVR store write per (suite, batch). Ours makes the *partition group* the
commit unit:

- The table is split into ``n_groups`` disjoint work units by a deterministic
  hash of a stable key column (with real Iceberg this would be the partition
  list from the snapshot manifest, and each group scan would prune to one
  partition; with the parquet fallback each group is a predicate scan).
- Each group is validated with the fused single-pass engine and its verdict
  rows are appended as one parquet file, then the group id is committed to the
  manifest with an atomic rename. Killed mid-run => already-committed groups
  are skipped on resume; the in-flight group's file is overwritten (idempotent
  per-group file names => no duplicated verdict rows).
- ``run_single_pass`` trades resume granularity for scans: ONE rollup scan
  yields every group's verdict rows at once (the right mode when the storage
  layout cannot prune per group — plain parquet without partition dirs).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .runner import ValidationRun, _domain
from .types import ExpectationSuite

VERDICT_FIELDS = [
    "group_id", "snapshot_id", "checkpoint_epoch", "suite_name",
    "config_id", "expectation_type", "domain", "success", "element_count",
    "nonnull_count", "unexpected_count", "mostly", "unexpected_sample_json",
]


def config_id(etype: str, kwargs: dict) -> str:
    """Deterministic id of one expectation CONFIG. Two expectations of the
    same type on the same column but different kwargs (bounds, mostly, ...)
    must never be merged by the rollup — (type, domain) alone collides.
    Kwargs are normalized with the spec defaults first so the id is stable
    whether it is computed from a raw config or from the planner's compiled
    item (which merges defaults)."""
    import hashlib
    import json as _json
    try:
        from .expectations.defs import get_spec
        kwargs = {**get_spec(etype).defaults, **kwargs}
    except KeyError:
        pass
    blob = _json.dumps([etype, kwargs], sort_keys=True, default=str)
    return hashlib.md5(blob.encode()).hexdigest()[:16]

# Verdict stores are written with an explicit schema (`mostly` would otherwise
# infer as a null-typed parquet column when a suite has no count-based
# expectations) and a format version in the manifest so a reader never
# silently mixes incompatible layouts.
STORE_FORMAT_VERSION = 3

VERDICT_SCHEMA = pa.schema([
    ("group_id", pa.string()),
    ("snapshot_id", pa.string()),
    ("checkpoint_epoch", pa.int64()),
    ("suite_name", pa.string()),
    ("config_id", pa.string()),
    ("expectation_type", pa.string()),
    ("domain", pa.string()),
    ("success", pa.bool_()),
    ("element_count", pa.int64()),
    ("nonnull_count", pa.int64()),
    ("unexpected_count", pa.int64()),
    ("mostly", pa.float64()),
    ("unexpected_sample_json", pa.string()),
])

# Kinds whose per-row verdict is group-local, so the GLOBAL verdict is
# recomputable from summed (element, nonnull, unexpected) counts — `mostly`
# semantics are NOT closed under AND-of-groups (a suite can pass globally
# while single groups dip below the threshold). Only row-local kinds qualify
# unconditionally:
#   map / audio       — each row's pass/fail depends on that row alone.
#   referential       — each row joins against the FULL other table
#                       regardless of grouping.
# Conditionally (decided per-expectation in run()):
#   map_unique        — only when the grouping co-locates all rows of a
#                       candidate duplicate value (checked column == group
#                       key), else cross-group duplicates are invisible.
#   map_window        — only when the window's `group_by` equals the group
#                       key, so every window lives inside one group.
#   map_dependent     — NEVER: z-scores are computed against each group's own
#                       mean/std, not the table's; summed counts do not equal
#                       the whole-table run. AND-of-groups is kept, with the
#                       caveat that it answers "does every group pass against
#                       its own distribution", not the global question.
_COUNT_KINDS = {"map", "audio"}


def _counts_are_global(kind: str, kw: dict, group_key: str,
                       group_mode: str) -> bool:
    """True when summed per-group counts equal the whole-table run."""
    if kind in _COUNT_KINDS:
        return True
    if kind == "map_unique":
        cols = kw.get("column_list") or ([kw["column"]] if kw.get("column") else [])
        # hash/column grouping on the checked column co-locates every row of
        # a duplicate value; for compound uniqueness the group key being ANY
        # member column suffices (equal tuples agree on every member).
        return group_key in cols
    if kind == "map_window":
        return kw.get("group_by") == group_key
    return False


def _grouped_configs(result) -> set:
    """The config ids run_single_pass stores as per-group rows: the map
    items whose EVR did not raise. Their summed per-group counts equal the
    whole-table run, so the rollup's mostly recompute is exact. Every other
    item, a map item whose pass raised included, stores one ``__global__``
    row from its EVR: aggregate/drift verdicts per group are NOT closed
    under AND (a group mean can breach bounds while the global mean
    passes)."""
    from .expectations.defs import get_spec
    return {config_id(evr.expectation_config.expectation_type,
                      evr.expectation_config.kwargs)
            for evr in result.results
            if get_spec(evr.expectation_config.expectation_type).kind == "map"
            and not evr.exception_info["raised_exception"]}


class Checkpoint:
    def __init__(
        self,
        store_path: str,
        suite: ExpectationSuite,
        *,
        group_key: str,
        n_groups: int = 8,
        group_mode: str = "hash",  # 'hash' | 'column'
        tables: dict[str, DataFrame] | None = None,
        result_format: str = "BASIC",
        unique_strategy: str = "exact",
        max_groups: int = 10_000,
        actions: list | None = None,
    ) -> None:
        if group_mode not in ("hash", "column"):
            raise ValueError(f"unknown group_mode: {group_mode}")
        self.max_groups = max_groups
        self.store_path = store_path
        self.suite = suite
        self.group_key = group_key
        self.n_groups = n_groups
        self.group_mode = group_mode
        self.tables = tables or {}
        self.result_format = result_format
        self.unique_strategy = unique_strategy
        # Post-commit action hooks — the engine-scope analogue of the
        # reference's ActionListValidationOperator (great_expectations/
        # checkpoint/actions.py:711-933 runs notify/docs actions after each
        # validation); ours invokes each callable AFTER a group's manifest
        # commit with {"group_id", "snapshot_id", "epoch", "suite_name",
        # "success", "verdict_rows"}. At-most-once per committed group: a
        # crash inside an action never loses the committed verdicts, and on
        # resume the group is already committed so the action does NOT
        # re-fire. Action exceptions propagate (the verdicts are safe).
        self.actions = list(actions or [])
        os.makedirs(os.path.join(store_path, "verdicts"), exist_ok=True)

    def _fire_actions(self, gid, snapshot_id: str, epoch: int,
                      rows: dict) -> None:
        if not self.actions:
            return
        fields = list(rows)
        verdict_rows = [dict(zip(fields, vals)) for vals in zip(*rows.values())]
        payload = {
            "group_id": str(gid), "snapshot_id": snapshot_id, "epoch": epoch,
            "suite_name": self.suite.expectation_suite_name,
            "success": all(r["success"] for r in verdict_rows),
            "verdict_rows": verdict_rows,
        }
        for action in self.actions:
            action(payload)

    # ------------------------------------------------------------ manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.store_path, "checkpoint_manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                manifest = json.load(f)
            found = manifest.get("format_version", 1)
            if found != STORE_FORMAT_VERSION:
                raise ValueError(
                    f"verdict store at {self.store_path} has format_version "
                    f"{found}, this engine writes {STORE_FORMAT_VERSION}; "
                    "point the checkpoint at a fresh store_path (v1/v2 stores "
                    "lacked the config_id column and v1 used int group_id — "
                    "they cannot be resumed or rolled up by this version)")
            return manifest
        return {"committed_groups": [], "epoch": 0}

    def _commit(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # ----------------------------------------------------------------- run

    def _group_filter(self, gid) -> F.Column:
        """hash mode: deterministic xxhash64 bucket of the key (uniform, no
        skew, but every group scan reads the whole table — right for
        unpartitioned layouts). column mode: gid IS a value of the group
        column; with a table laid out partitioned by that column (Iceberg
        partition / parquet partitionBy dir) the filter prunes the scan to
        exactly that partition's files — the Iceberg per-partition work-list
        of the north rule."""
        if self.group_mode == "column":
            if gid is None:
                return F.col(self.group_key).isNull()
            return F.col(self.group_key) == F.lit(gid)
        key = F.coalesce(F.col(self.group_key).cast("string"), F.lit("\x00null"))
        return F.pmod(F.abs(F.xxhash64(key)), F.lit(self.n_groups)) == gid

    def _group_ids(self, df: DataFrame) -> list:
        if self.group_mode == "column":
            # one full validation job per distinct value: cap the cardinality
            # BEFORE collecting so a mis-pointed high-cardinality column
            # (e.g. clip_id) can't launch millions of jobs / OOM the driver
            probe = (df.select(self.group_key).distinct()
                     .limit(self.max_groups + 1).collect())
            if len(probe) > self.max_groups:
                raise ValueError(
                    f"group_mode='column' on '{self.group_key}' exceeds "
                    f"max_groups={self.max_groups} distinct values — each "
                    "value is a separate validation job; use "
                    "group_mode='hash' for high-cardinality keys (or raise "
                    "max_groups explicitly)")
            vals = sorted((r[0] for r in probe), key=lambda v: (v is None, str(v)))
            return vals
        return list(range(self.n_groups))

    @staticmethod
    def _group_file(gid) -> str:
        if isinstance(gid, int):
            return f"group-{gid}.parquet"
        import hashlib
        digest = hashlib.md5(str(gid).encode()).hexdigest()[:12]
        return f"group-{digest}.parquet"

    def _verdict_rows(self, snapshot_id: str, epoch: int):
        """Empty verdict-store columns (VERDICT_FIELDS) and ``emit``, which
        appends one row to them: from an EVR (``evr=``), or from one
        group's counts."""
        rows: dict[str, list] = {f: [] for f in VERDICT_FIELDS}

        def emit(gid, etype: str, kw: dict, *, count_based: bool, evr=None,
                 success=None, element=None, missing=None, unexpected=None):
            sample_json = "[]"
            if evr is not None:
                r = evr.result
                success, element, missing, unexpected = (
                    evr.success, r.get("element_count"),
                    r.get("missing_count"), r.get("unexpected_count"))
                sample_json = json.dumps(
                    r.get("partial_unexpected_list", []), default=str)
            element = int(element or 0)
            row = {
                "group_id": str(gid), "snapshot_id": snapshot_id,
                "checkpoint_epoch": epoch,
                "suite_name": self.suite.expectation_suite_name,
                "config_id": config_id(etype, kw), "expectation_type": etype,
                "domain": _domain(kw),
                "success": bool(success), "element_count": element,
                "nonnull_count": element - int(missing or 0),
                "unexpected_count": int(unexpected or 0),
                "mostly": (float(kw.get("mostly", 1.0)) if count_based
                           else None),
                "unexpected_sample_json": sample_json}
            for f in VERDICT_FIELDS:
                rows[f].append(row[f])
        return rows, emit

    def run(self, df: DataFrame, *, snapshot_id: str = "snap-0",
            fail_after_groups: int | None = None) -> dict:
        """Validate group-by-group, committing after each. ``fail_after_groups``
        injects a crash for the kill/resume test."""
        manifest = self._load_manifest()
        committed = set(map(str, manifest["committed_groups"]))
        epoch = manifest["epoch"] + 1
        done_this_run = 0
        t0 = time.time()
        group_ids = self._group_ids(df)
        for gid in group_ids:
            if str(gid) in committed:
                continue
            if fail_after_groups is not None and done_this_run >= fail_after_groups:
                raise RuntimeError(f"injected failure after {done_this_run} groups")
            gdf = df.filter(self._group_filter(gid))
            run = ValidationRun(
                gdf, tables=self.tables, result_format=self.result_format,
                unique_strategy=self.unique_strategy)
            result = run.run(self.suite)
            rows, emit = self._verdict_rows(snapshot_id, epoch)
            for evr in result.results:
                from .expectations.defs import get_spec
                kw = evr.expectation_config.kwargs
                etype = evr.expectation_config.expectation_type
                try:
                    kind = get_spec(etype).kind
                    count_based = (
                        _counts_are_global(kind, kw, self.group_key, self.group_mode)
                        or (kind == "referential" and "unexpected_count" in evr.result))
                except KeyError:
                    count_based = False
                emit(gid, etype, kw, count_based=count_based, evr=evr)
            table = pa.table(rows, schema=VERDICT_SCHEMA)
            # idempotent per-group file: a crashed, uncommitted write is
            # simply overwritten on resume — no dup verdict rows
            pq.write_table(table, os.path.join(self.store_path, "verdicts", self._group_file(gid)))
            committed.add(str(gid))
            manifest = {"committed_groups": sorted(committed), "epoch": epoch,
                        "format_version": STORE_FORMAT_VERSION,
                        "group_mode": self.group_mode,
                        "snapshot_id": snapshot_id, "suite": self.suite.expectation_suite_name}
            self._commit(manifest)
            self._fire_actions(gid, snapshot_id, epoch, rows)
            done_this_run += 1
        return {
            "epoch": epoch,
            "groups_total": len(group_ids),
            "groups_validated_this_run": done_this_run,
            "groups_committed": len(committed),
            "wall_sec": time.time() - t0,
        }

    def run_single_pass(self, df: DataFrame, *, snapshot_id: str = "snap-0",
                        distributed_verdicts: bool = False) -> dict:
        """Validate ALL groups in ONE table scan instead of one scan per
        group: the fused pass rolls up on the group-bucket expression
        (``df.rollup(bucket).agg(...)``), yielding per-group verdict rows for
        every fused expectation plus the exact global row, from a single
        read. Map expectations store one row per group; every other
        expectation (aggregates, drift, uniqueness, windows, referential,
        audio) is evaluated once globally and stored as one ``__global__``
        row (its exact whole-table verdict — stricter than per-group AND),
        as is a map expectation whose pass raised (see _grouped_configs).

        ``distributed_verdicts=True`` (r4, for n_groups in the 100k+ range):
        the per-group rollup rows are NEVER collected to the driver — the
        fused pass writes them through the runner's partition_verdict_sink
        and this method transforms them into verdict-store rows with a
        Spark job (broadcast join against the tiny config_id mapping),
        written straight into the store. The driver only handles the global
        row and the non-fused (audio/job) verdicts. Action payloads then
        carry only those driver-side rows; the grouped rows live in the
        store (read them with .verdicts()).

        Tradeoff vs run(): one scan instead of n_groups scans (the win when
        the storage layout cannot prune per group — plain parquet), but the
        commit is all-or-nothing: a killed run resumes by re-running the
        whole pass, not from the last group. With Iceberg-style per-group
        partition pruning, prefer run().
        """
        if self.group_mode != "hash":
            raise ValueError("run_single_pass supports group_mode='hash' only")
        manifest = self._load_manifest()
        committed = set(map(str, manifest["committed_groups"]))
        epoch = manifest["epoch"] + 1
        t0 = time.time()
        if all(str(g) in committed for g in range(self.n_groups)):
            # fully committed (either mode): no-op — nothing will be written,
            # so no double-count is possible
            return {"epoch": manifest["epoch"], "groups_total": self.n_groups,
                    "groups_validated_this_run": 0,
                    "groups_committed": len(committed),
                    "wall_sec": time.time() - t0}
        # Guard against mixing commit styles: a partially-committed run()
        # (crash, then retry with single-pass) leaves per-group parquet files
        # that verdicts()/rollup() would read ALONGSIDE single-pass.parquet,
        # double-counting the committed groups' element/unexpected counts and
        # potentially flipping mostly-based global verdicts. Detect BOTH the
        # manifest state and stray group files on disk (a kill between the
        # group write and its manifest commit leaves an orphan file too).
        vdir = os.path.join(self.store_path, "verdicts")
        stray = (sorted(f for f in os.listdir(vdir)
                        if f.startswith("group-") and f.endswith(".parquet"))
                 if os.path.isdir(vdir) else [])
        if (committed and not manifest.get("single_pass")) or stray:
            raise ValueError(
                f"verdict store at {self.store_path} holds per-group commits "
                f"({len(committed)} committed group(s), "
                f"{len(stray)} group file(s) on disk): resuming it with "
                "run_single_pass would double-count those groups in "
                "verdicts()/rollup(). Resume with run() to finish the "
                "remaining groups, or point at a fresh store_path.")

        key = F.coalesce(F.col(self.group_key).cast("string"), F.lit("\x00null"))
        bucket = F.pmod(F.abs(F.xxhash64(key)), F.lit(self.n_groups))
        work = None
        if distributed_verdicts:
            work = os.path.join(self.store_path, "_single_pass_work")
        run = ValidationRun(
            df.withColumn("__grp", bucket), tables=self.tables,
            result_format=self.result_format, per_partition=True,
            partition_col="__grp", unique_strategy=self.unique_strategy,
            partition_verdict_sink=work)
        result = run.run(self.suite)
        rows, emit = self._verdict_rows(snapshot_id, epoch)

        grouped_configs = _grouped_configs(result)
        for pv in run.partition_verdicts:
            etype, kw = pv["expectation_type"], pv["config_kwargs"]
            if config_id(etype, kw) in grouped_configs:
                emit(pv["partition_id"], etype, kw, count_based=True,
                     success=pv["success"], element=pv["element_count"],
                     missing=pv.get("missing_count"),
                     unexpected=pv.get("unexpected_count"))
        if distributed_verdicts and grouped_configs:
            # the per-group rows went to the work sink; write them into the
            # store with a Spark job (no driver materialization)
            self._write_grouped_verdicts_distributed(
                df.sparkSession, work, snapshot_id, epoch, grouped_configs)
        for evr in result.results:
            etype = evr.expectation_config.expectation_type
            kw = evr.expectation_config.kwargs
            if config_id(etype, kw) in grouped_configs:
                continue  # covered by per-group rows
            emit("__global__", etype, kw, count_based=False, evr=evr)
        table = pa.table(rows, schema=VERDICT_SCHEMA)
        pq.write_table(table, os.path.join(
            self.store_path, "verdicts", "single-pass.parquet"))
        manifest = {"committed_groups": sorted(str(g) for g in range(self.n_groups)),
                    "epoch": epoch, "format_version": STORE_FORMAT_VERSION,
                    "group_mode": self.group_mode, "single_pass": True,
                    "snapshot_id": snapshot_id,
                    "suite": self.suite.expectation_suite_name}
        self._commit(manifest)
        if work is not None:
            import shutil
            shutil.rmtree(work, ignore_errors=True)  # store rows are durable
        # single-pass commits all groups at once -> one action firing
        self._fire_actions("__single_pass__", snapshot_id, epoch, rows)
        return {"epoch": epoch, "groups_total": self.n_groups,
                "groups_validated_this_run": self.n_groups,
                "groups_committed": self.n_groups,
                "wall_sec": time.time() - t0}

    def _write_grouped_verdicts_distributed(self, spark, work: str,
                                            snapshot_id: str, epoch: int,
                                            grouped: set) -> None:
        """Transform the runner-sink rows of the ``grouped`` configs (one
        per group x config) into verdict-store rows entirely in Spark:
        broadcast-join the tiny (expectation_type, kwargs-json) ->
        (config_id, mostly) mapping and write the result as a parquet
        directory inside the store."""
        from .expectations.defs import get_spec
        from .runner import read_partition_verdicts
        # keyed dict, not a list: a suite containing two IDENTICAL
        # expectation configs would make the sink join many-to-many and
        # rollup() double-count those verdicts (duplicate configs share one
        # config_id, so one mapping row serves both). The kwargs JSON is the
        # sink's config_kwargs: the config's kwargs over the spec defaults.
        mapping: dict[tuple, tuple] = {}
        for config in self.suite.expectations:
            etype = config.expectation_type
            kw = {**get_spec(etype).defaults, **config.kwargs}
            cid = config_id(etype, kw)
            if cid in grouped:
                kwj = json.dumps(kw, sort_keys=True, default=str)
                mapping[(etype, kwj)] = (etype, kwj, cid,
                                         float(kw.get("mostly", 1.0)))
        m = spark.createDataFrame(
            list(mapping.values()),
            "expectation_type string, config_kwargs string, "
            "__cid string, __mostly double")
        v = read_partition_verdicts(spark, work)
        out = (v.join(F.broadcast(m), ["expectation_type", "config_kwargs"])
               .select(
                   F.col("partition_id").alias("group_id"),
                   F.lit(snapshot_id).alias("snapshot_id"),
                   F.lit(epoch).cast("long").alias("checkpoint_epoch"),
                   F.lit(self.suite.expectation_suite_name).alias("suite_name"),
                   F.col("__cid").alias("config_id"),
                   F.col("expectation_type"),
                   F.col("domain"),
                   F.col("success"),
                   F.col("element_count").cast("long").alias("element_count"),
                   (F.col("element_count")
                    - F.coalesce(F.col("missing_count"), F.lit(0)))
                   .cast("long").alias("nonnull_count"),
                   F.coalesce(F.col("unexpected_count"), F.lit(0))
                   .cast("long").alias("unexpected_count"),
                   F.col("__mostly").alias("mostly"),
                   F.lit("[]").alias("unexpected_sample_json")))
        out.write.mode("overwrite").parquet(os.path.join(
            self.store_path, "verdicts", "single-pass-grouped.parquet"))

    def verdicts(self, spark) -> DataFrame:
        # the glob reads BOTH plain files (group-*.parquet,
        # single-pass.parquet) and the distributed-verdicts directory
        # (single-pass-grouped.parquet) as one table
        return spark.read.parquet(
            os.path.join(self.store_path, "verdicts", "*.parquet"))

    def rollup(self, spark) -> DataFrame:
        """Suite-level rollup over committed per-group verdicts.

        For expectations whose counts are group-local-decomposable (see
        `_counts_are_global`) the GLOBAL verdict is recomputed from the summed
        counts with the expectation's `mostly` threshold (AND-of-groups is
        stricter than the global semantics — a suite can pass globally while
        one group dips under `mostly`). Everything else keeps AND-of-groups
        (`all_groups_success`). Caveats, by design: for uniqueness on a column
        other than the group key, duplicates spanning two groups are invisible
        to every per-group run; for windows not grouped by the group key, and
        for z-scores (scored against each group's own mean/std), the rollup
        answers "does every group pass on its own" — not the whole-table
        question. Run those whole-table (validate()) when the global answer
        is required."""
        from .results import mostly_success
        v = self.verdicts(spark)
        agg = (v.groupBy("config_id", "expectation_type", "domain")
               .agg(F.min(F.col("success").cast("int")).cast("boolean").alias("all_groups_success"),
                    F.sum("element_count").alias("element_count"),
                    F.sum("nonnull_count").alias("nonnull_count"),
                    F.sum("unexpected_count").alias("unexpected_count"),
                    F.first("mostly").alias("mostly"),
                    F.count(F.lit(1)).alias("n_groups")).collect())
        rows = []
        for r in agg:
            if r["mostly"] is not None:
                success = mostly_success(
                    int(r["element_count"]), int(r["nonnull_count"]),
                    int(r["unexpected_count"]), float(r["mostly"]))
            else:
                success = bool(r["all_groups_success"])
            rows.append((r["config_id"], r["expectation_type"], r["domain"],
                         bool(success), bool(r["all_groups_success"]),
                         int(r["element_count"]), int(r["unexpected_count"]),
                         int(r["n_groups"])))
        return spark.createDataFrame(
            rows, "config_id string, expectation_type string, domain string, "
                  "success boolean, all_groups_success boolean, "
                  "element_count bigint, unexpected_count bigint, n_groups bigint")


def parameters_from_verdicts(spark, store_path: str) -> dict:
    """Derive evaluation parameters from a committed verdict store — the
    reference resolves `$PARAMETER` URNs against its validation-result store
    (core/evaluation_parameters.py:199-304, urn grammar :105-110); ours reads
    the checkpoint results table. Returns keys like
    ``<expectation_type>:<domain>:element_count`` plus ``table.row_count``
    (max element count over expectations), usable as
    ``validate(..., evaluation_parameters=...)`` inputs for cross-run checks
    (e.g. today's row count must equal yesterday's)."""
    from pyspark.sql import functions as F
    v = spark.read.parquet(os.path.join(store_path, "verdicts", "*.parquet"))
    agg = (v.groupBy("config_id", "expectation_type", "domain")
           .agg(F.sum("element_count").alias("element_count"),
                F.sum("unexpected_count").alias("unexpected_count")).collect())
    from collections import Counter
    base_counts = Counter(f"{r['expectation_type']}:{r['domain']}" for r in agg)
    params: dict = {}
    for r in agg:
        base = f"{r['expectation_type']}:{r['domain']}"
        # the short key is only meaningful when exactly one config has this
        # (type, domain); ambiguous stores expose only the config_id keys
        if base_counts[base] == 1:
            params[f"{base}:element_count"] = int(r["element_count"])
            params[f"{base}:unexpected_count"] = int(r["unexpected_count"])
        params[f"{base}#{r['config_id']}:element_count"] = int(r["element_count"])
        params[f"{base}#{r['config_id']}:unexpected_count"] = int(r["unexpected_count"])
    if agg:
        params["table.row_count"] = max(int(r["element_count"]) for r in agg)
    return params


def run_checkpoint(df: DataFrame, suite: ExpectationSuite, store_path: str, *,
                   group_key: str, n_groups: int = 8,
                   tables: dict[str, DataFrame] | None = None,
                   snapshot_id: str = "snap-0",
                   actions: list | None = None) -> dict:
    cp = Checkpoint(store_path, suite, group_key=group_key, n_groups=n_groups,
                    tables=tables, actions=actions)
    return cp.run(df, snapshot_id=snapshot_id)
