"""Per-layer attribution of Spark jobs, read from an uncompressed event log.

Every op runs under its own Spark job group, so a job's
``spark.jobGroup.id`` names the op (the span). Its ``callSite.short``
(``"<action> at <file>:<line>"``) names the line that launched it. That
line is mapped to its enclosing ``module.Class.function`` by parsing the
source under test with ``ast`` at start-up, so the attribution survives
line shifts, and the function is mapped to a layer through ``LAYERS``.
Jobs that match no entry are counted as ``spark.unattributed_jobs``.
"""

from __future__ import annotations

import ast
import json
import os
import re
from collections import defaultdict

# qualified-name prefix -> layer; the longest matching prefix wins
LAYERS = {
    "sparkcheck.runner.ValidationRun.run": "runner.fused",
    "sparkcheck.runner.ValidationRun._fused_pass_to_sink": "runner.fused",
    "sparkcheck.runner.ValidationRun._collect_samples": "runner.samples",
    "sparkcheck.runner.ValidationRun._run_unique_item": "runner.unique",
    "sparkcheck.runner.ValidationRun._emit_unique_partition_verdicts": "runner.unique",
    "sparkcheck.metrics.audio": "metrics.audio",
    "sparkcheck.checkpoint": "checkpoint",
    # the checkpoint op collects the rollup DataFrame Checkpoint.rollup returns
    "perfbench.workloads.ContractSuite.checkpoint_op": "checkpoint",
}
LAYER_NAMES = sorted(set(LAYERS.values()))

_SITE = re.compile(r" at (?P<file>.+):(?P<line>\d+)$")


class SourceIndex:
    """Maps ``file:line`` under a root to the enclosing qualified name."""

    def __init__(self, root: str, packages: list[str]) -> None:
        self.root = os.path.realpath(root)
        self.spans: dict[str, list[tuple[int, int, str]]] = {}
        for pkg in packages:
            for d, _, files in os.walk(os.path.join(self.root, pkg)):
                for f in files:
                    if f.endswith(".py"):
                        self._index(os.path.join(d, f))

    def _index(self, path: str) -> None:
        rel = os.path.relpath(path, self.root)
        module = rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        spans = []

        def walk(node, prefix):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    name = f"{prefix}.{child.name}"
                    if not isinstance(child, ast.ClassDef):
                        spans.append((child.lineno, child.end_lineno, name))
                    walk(child, name)

        walk(tree, module)
        # innermost first: the narrowest span that holds a line wins
        self.spans[os.path.realpath(path)] = sorted(spans, key=lambda s: s[1] - s[0])

    def qualname(self, call_site: str | None) -> str | None:
        m = _SITE.search(call_site or "")
        if m is None:
            return None
        line = int(m["line"])
        for lo, hi, name in self.spans.get(os.path.realpath(m["file"]), ()):
            if lo <= line <= hi:
                return name
        return None


def layer_of(qualname: str | None) -> str | None:
    best = None
    for prefix, layer in LAYERS.items():
        if qualname and (qualname == prefix or qualname.startswith(prefix + ".")):
            if best is None or len(prefix) > len(best[0]):
                best = (prefix, layer)
    return best[1] if best else None


def read_events(log_dir: str) -> dict:
    """Jobs (by id) and completed stages (by id) from every log file."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for d, _, files in os.walk(log_dir):
        for f in sorted(files):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        jobs[e["Job ID"]] = {
                            "group": props.get("spark.jobGroup.id"),
                            "site": props.get("callSite.short"),
                            "start": e["Submission Time"] / 1000.0,
                            "end": None, "stages": e["Stage IDs"]}
                    elif kind == "SparkListenerJobEnd":
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                        stages[info["Stage ID"]] = {
                            "tasks": info["Number of Tasks"],
                            "cpu_s": int(acc.get("internal.metrics.executorCpuTime") or 0) / 1e9,
                            "gc_s": int(acc.get("internal.metrics.jvmGCTime") or 0) / 1e3,
                            "rows_read": int(acc.get("internal.metrics.input.recordsRead") or 0),
                            "shuffle_mb": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0) / 2**20,
                        }
    return {"jobs": jobs, "stages": stages}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(events: dict, index: SourceIndex, span: str, t0: float,
              t1: float) -> tuple[dict, list[str]]:
    """Per-layer counts of one op (its job group), plus the call sites of
    its jobs that mapped to no layer."""
    jobs = {jid: j for jid, j in events["jobs"].items() if j["group"] == span}
    # a stage shared by several jobs (a reused shuffle) ran under the first
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    per_job = defaultdict(lambda: {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                                   "rows_read": 0, "shuffle_mb": 0.0})
    for sid, jid in owner.items():
        st = events["stages"].get(sid)
        if st is not None:
            for k in per_job[jid]:
                per_job[jid][k] += st[k]
    out: dict[str, float] = {}
    unattributed = []
    intervals: dict[str | None, list] = defaultdict(list)
    for jid, j in jobs.items():
        layer = layer_of(index.qualname(j["site"]))
        if layer is None:
            unattributed.append(f"job {jid}: {j['site']}")
        iv = (max(j["start"], t0), min(j["end"] or t1, t1))
        intervals[layer].append(iv)
        intervals["*"].append(iv)
        c = per_job[jid]
        if layer is not None:
            for key, val in (("jobs", 1), ("cpu_s", c["cpu_s"]),
                             ("rows_read", c["rows_read"]), ("shuffle_mb", c["shuffle_mb"])):
                out[f"{layer}.{key}"] = out.get(f"{layer}.{key}", 0) + val
        for key in ("tasks", "gc_s", "shuffle_mb", "rows_read"):
            out[f"spark.{key}"] = out.get(f"spark.{key}", 0) + c[key]
    for layer in LAYER_NAMES:
        out[f"{layer}.busy_s"] = _union_s(intervals[layer])
    out["runner.driver_s"] = (t1 - t0) - _union_s(intervals["*"])
    out["spark.unattributed_jobs"] = len(unattributed)
    return out, unattributed
