"""The benchmark workloads: fixtures, the ops they time, and the checks
every op's output must pass.

Each workload writes its inputs once per run (untimed) and re-opens them in
every SparkSession. ``ops`` maps an op kind to the call it times:
``primary`` is the workload's headline op; ``global`` is one plain
``validate(per_partition=False)`` over the same input (on ``audio_snr`` the
primary op already is that call, so the two are one measurement);
``checkpoint`` runs once per traced run to measure the checkpoint layer.
Checks compare outputs with the closed forms in ``sparkcheck.fixture_math``,
which depend on the row count only: violations are injected by index
arithmetic, so the expected counts hold for any seed.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
from collections import Counter

META_FILES = 16  # parquet files of the metadata table
AUDIO_FILES = 8  # parquet files of each byte-carrying table

KL_PARTITION = {"bins": [200, 1500, 2500, 3500, 5000, 8000, 30000],
                "weights": [0.18, 0.26, 0.20, 0.17, 0.12, 0.07]}
SUITE_COLUMNS = ["clip_id", "sr_hz", "codec", "transcript", "dur_ms"]


def contract_suite():
    """The 11-expectation audio contract suite (the ROADMAP headline)."""
    from sparkcheck import ExpectationSuite
    return (
        ExpectationSuite("audio_contract")
        .add("expect_column_values_to_not_be_null", column="clip_id", mostly=0.999)
        .add("expect_column_values_to_match_regex", column="clip_id",
             regex=r"^clip-[0-9]{10}$", mostly=0.99)
        .add("expect_column_values_to_be_unique", column="clip_id", mostly=0.99)
        .add("expect_column_values_to_be_between", column="sr_hz",
             min_value=8000, max_value=48000, mostly=0.999)
        .add("expect_column_values_to_be_in_set", column="codec",
             value_set=["wav", "flac", "mp3", "opus"], mostly=0.999)
        .add("expect_column_value_lengths_to_be_between", column="transcript",
             min_value=5, max_value=400, mostly=0.99)
        .add("expect_column_values_to_be_between", column="dur_ms",
             min_value=200, max_value=30000)
        .add("expect_column_mean_to_be_between", column="dur_ms",
             min_value=2000, max_value=5000)
        .add("expect_column_stdev_to_be_between", column="dur_ms",
             min_value=100, max_value=5000)
        .add("expect_column_kl_divergence_to_be_less_than", column="dur_ms",
             partition_object=KL_PARTITION, threshold=1.0,
             tail_weight_holdout=0.01)
        .add("expect_table_row_count_to_be_between", min_value=1)
    )


def expected_unexpected(rows: int) -> dict[tuple[str, str], int]:
    """(expectation_type, column) -> unexpected_count, from the closed forms."""
    from sparkcheck.fixture_math import expected_counts
    c = expected_counts(rows)
    return {
        ("expect_column_values_to_not_be_null", "clip_id"): c["null_clip_id"],
        ("expect_column_values_to_match_regex", "clip_id"):
            c["bad_clip_id"] + c["orphan_clip_id"],
        ("expect_column_values_to_be_unique", "clip_id"): c["dup_rows_marked"],
        ("expect_column_values_to_be_between", "sr_hz"): c["bad_sr"],
        ("expect_column_values_to_be_in_set", "codec"): c["bad_codec"],
    }


def _key(evr) -> tuple[str, str]:
    cfg = evr.expectation_config
    return cfg.expectation_type, cfg.kwargs.get("column", "")


def _suite_problems(result, rows: int, expected: dict) -> list[str]:
    problems = []
    if len(result.results) != 11:
        problems.append(f"{len(result.results)} results, want 11")
    for evr in result.results:
        if evr.exception_info.get("raised_exception"):
            problems.append(f"{_key(evr)} raised: {evr.exception_info['exception_message']}")
    by_key = {_key(evr): evr for evr in result.results}
    for key, want in expected.items():
        got = by_key[key].result.get("unexpected_count") if key in by_key else None
        if got != want:
            problems.append(f"{key}: unexpected_count {got}, want {want}")
        el = by_key[key].result.get("element_count") if key in by_key else None
        if el != rows:
            problems.append(f"{key}: element_count {el}, want {rows}")
    return problems


def _global_signature(result) -> str:
    return json.dumps([[evr.success, evr.result] for evr in result.results],
                      sort_keys=True, default=str)


class ContractSuite:
    """The contract suite over the metadata table: per-partition (primary)
    alternating with global. Traced runs also write the same rows
    partitioned by codec and run them once as a checkpoint that fails after
    two of its five groups and is resumed."""

    name = "contract_suite"
    first = "global"  # the set-up op: the cheapest op that runs the suite
    window = ("primary", "global")
    extras = ("checkpoint",)
    fail_after = 2

    def __init__(self, rows: int) -> None:
        self.rows = rows
        self.suite = contract_suite()
        self.expected = expected_unexpected(rows)
        # the codec groups split duplicate pairs, so the rollup's uniqueness
        # count is not the whole-table one; it is left out of the rollup check
        self.rollup_expected = {k: v for k, v in self.expected.items()
                                if k[0] != "expect_column_values_to_be_unique"}
        self.ops = {"primary": self.per_partition_op, "global": self.global_op,
                    "checkpoint": self.checkpoint_op}
        self._signatures: dict[str, str] = {}
        self._stores = itertools.count()

    def generate(self, spark, work: str, seed: int, trace: bool) -> None:
        from sparkcheck.io import generate_audio_clips
        self.work = work
        self.path = os.path.join(work, "clips_meta")
        (generate_audio_clips(spark, self.rows, seed=seed, with_bytes=False,
                              num_partitions=META_FILES)
         .write.parquet(self.path))
        self.codec_path = None
        if trace:
            self.codec_path = os.path.join(work, "clips_by_codec")
            spark.read.parquet(self.path).write.partitionBy("codec").parquet(self.codec_path)

    def open(self, spark) -> None:
        self.df = spark.read.parquet(self.path)
        if self.codec_path:
            self.by_codec = spark.read.parquet(self.codec_path)

    def floor_inputs(self) -> list:
        return [(self.df, SUITE_COLUMNS)]

    def per_partition_op(self):
        from sparkcheck import validate
        return validate(self.df, self.suite, per_partition=True)

    def global_op(self):
        from sparkcheck import validate
        return validate(self.df, self.suite, per_partition=False)

    def checkpoint_op(self):
        from sparkcheck.checkpoint import Checkpoint
        store = os.path.join(self.work, f"store-{next(self._stores)}")

        def checkpoint():
            return Checkpoint(store, self.suite, group_key="codec",
                              group_mode="column")

        first = checkpoint()
        t0 = time.perf_counter()
        try:
            first.run(self.by_codec, fail_after_groups=self.fail_after)
            raised = False
        except RuntimeError:
            raised = True
        t1 = time.perf_counter()
        resumed = checkpoint().run(self.by_codec)
        t2 = time.perf_counter()
        rollup = [r.asDict() for r in first.rollup(self.by_codec.sparkSession).collect()]
        return {"store": store, "raised": raised, "resumed": resumed,
                "rollup": rollup, "first_run_s": t1 - t0, "resume_s": t2 - t1}

    def check(self, kind: str, out) -> list[str]:
        if kind == "checkpoint":
            return self._check_checkpoint(out)
        problems = _suite_problems(out, self.rows, self.expected)
        if kind == "primary" and not out.meta.get("partition_verdicts"):
            problems.append("per-partition op returned no partition verdicts")
        sig = _global_signature(out)
        other = self._signatures.get("global" if kind == "primary" else "primary")
        if other is not None and other != sig:
            problems.append("per_partition on and off gave different global EVRs")
        self._signatures[kind] = sig
        return problems

    def _check_checkpoint(self, out) -> list[str]:
        import pyarrow.parquet as pq
        res = out["resumed"]
        problems = []
        if not out["raised"]:
            problems.append("the injected failure did not raise")
        if res["groups_committed"] != res["groups_total"]:
            problems.append(f"{res['groups_committed']} of {res['groups_total']} groups committed")
        if res["groups_total"] - res["groups_validated_this_run"] != self.fail_after:
            problems.append(f"resume skipped {res['groups_total'] - res['groups_validated_this_run']} groups")
        verdicts = pq.read_table(os.path.join(out["store"], "verdicts"),
                                 columns=["group_id", "config_id"]).to_pylist()
        per_pair = Counter((v["group_id"], v["config_id"]) for v in verdicts)
        if (len(per_pair) != res["groups_total"] * len(self.suite.expectations)
                or set(per_pair.values()) != {1}):
            problems.append(f"{len(verdicts)} verdict rows for {len(per_pair)} (group, expectation) pairs")
        by_key = {(r["expectation_type"], r["domain"]): r for r in out["rollup"]}
        for key, want in self.rollup_expected.items():
            row = by_key.get(key) or {}
            if (row.get("unexpected_count"), row.get("element_count")) != (want, self.rows):
                problems.append(f"rollup {key}: {row.get('unexpected_count')} of "
                                f"{row.get('element_count')}, want {want} of {self.rows}")
        return problems

    def layer_facts(self, kind: str, out) -> dict:
        if kind != "checkpoint":
            return {}
        res = out["resumed"]
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(out["store"]) for f in files)
        return {"checkpoint.first_run_s": out["first_run_s"],
                "checkpoint.resume_s": out["resume_s"],
                "checkpoint.groups_skipped":
                    res["groups_total"] - res["groups_validated_this_run"],
                "checkpoint.store_kb": size / 1024}

    def discard(self, kind: str, out) -> None:
        if kind == "checkpoint":
            shutil.rmtree(out["store"], ignore_errors=True)


class AudioSnr:
    """The SNR invariant over byte-carrying clips against the clean twin."""

    name = "audio_snr"
    first = "primary"
    window = ("primary",)
    extras = ()

    def __init__(self, clips: int) -> None:
        from sparkcheck import ExpectationSuite
        from sparkcheck.fixture_math import expected_snr_summary
        self.rows = clips
        self.suite = ExpectationSuite("snr").add(
            "expect_audio_snr_vs_reference_to_be_above",
            reference_table="ref", min_snr_db=30.0, mostly=0.99)
        want = expected_snr_summary(clips)
        self.expected = (want["element_count"], want["unexpected_count"])
        self.ops = {"primary": self.snr_op}

    def generate(self, spark, work: str, seed: int, trace: bool) -> None:
        from sparkcheck.io import generate_audio_clips
        self.paths = {}
        for label, clean in (("dirty", False), ("ref", True)):
            self.paths[label] = os.path.join(work, f"clips_{label}")
            (generate_audio_clips(spark, self.rows, seed=seed, clean=clean,
                                  audio_ms_cap=120, num_partitions=AUDIO_FILES)
             .write.parquet(self.paths[label]))

    def open(self, spark) -> None:
        self.dirty = spark.read.parquet(self.paths["dirty"])
        self.ref = spark.read.parquet(self.paths["ref"])

    def floor_inputs(self) -> list:
        return [(self.dirty, ["clip_id", "bytes"]), (self.ref, ["clip_id", "bytes"])]

    def snr_op(self):
        from sparkcheck import validate
        return validate(self.dirty, self.suite, tables={"ref": self.ref})

    def check(self, kind: str, result) -> list[str]:
        evr = result.results[0]
        if evr.exception_info.get("raised_exception"):
            return [f"SNR item raised: {evr.exception_info['exception_message']}"]
        got = (evr.result.get("element_count"), evr.result.get("unexpected_count"))
        return [] if got == self.expected else [f"SNR (element, unexpected) {got}, want {self.expected}"]

    def layer_facts(self, kind: str, out) -> dict:
        return {}

    def discard(self, kind: str, out) -> None:
        pass


# rows of the metadata table / clips of the byte-carrying tables: full runs
# and smoke runs (the benchmark's own test)
SIZES = {"full": {"meta": 50_000, "clips": 10_000},
         "smoke": {"meta": 5_000, "clips": 1_000}}


def make(name: str, size: str):
    if name == "contract_suite":
        return ContractSuite(SIZES[size]["meta"])
    if name == "audio_snr":
        return AudioSnr(SIZES[size]["clips"])
    raise ValueError(f"unknown workload: {name}")
