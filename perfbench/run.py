"""Benchmark of the sparkcheck validation engine.

Run from the root of a sparkcheck checkout:

    python3 perfbench/run.py --workload contract_suite --seed 1 --seconds 10 --trace 0

Workloads, metrics and bounds are declared in BENCHMARK.json; perfbench/
README.md says why each workload exists and which layer metric should move
which end-to-end metric. The load is a closed loop: this process is the only
client and sends ops back to back to a ``local[nproc/2]`` SparkSession.

One run:
1. generates the workload's fixtures from ``--seed`` (untimed),
2. ``--trace 0``: starts a fresh SparkContext and runs the first op,
   ``SETUPS`` times, and reports the median as ``setup_s``; runs
   ``WARM_ROUNDS`` rounds of the workload's ops to warm up, then rounds until
   ``--seconds`` have passed (at least ``MEASURE_ROUNDS``), and reports
   medians over them;
   ``--trace 1``: warms up, then for ``--seconds`` seconds alternates an
   untraced op with a traced one (an event log in the same session), times
   the floor scan, and attributes every Spark job of every traced op to a
   layer.
Every op's output is checked; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import eventlog
import workloads

SETUPS = 3  # fresh SparkContexts per run; setup_s is their median
# after set-up, a primary op's CPU time still falls over its first two runs
WARM_ROUNDS = 2
# an op now and then pays for a collection; the median of three or more
# leaves it out
MEASURE_ROUNDS = 3
TRACE_WARM_S = 8  # the traced run has no set-up ops to warm the JVM first
# C1 only: a run is too short for C2 to finish compiling Spark's planner, so
# with it op times drift down all run long while its compiler threads take
# cores from the ops; C1 settles within the set-up ops and the warm-up rounds
JIT = "-XX:TieredStopAtLevel=1"
# a heap of fixed size, touched at start, and a collector that does not size
# its generations to a pause goal: with G1 growing the heap as it went, op
# CPU time and peak RSS differed by a fifth or more from run to run
GC = "-XX:+UseParallelGC -XX:+AlwaysPreTouch"
DEADLINE_S = 170  # a run that is not done by then stops without a result


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _tree_cpu_s() -> float:
    """CPU seconds of this process and of every live descendant (the JVM
    and its Python workers), reaped children included."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _git_commit(root: str) -> str | None:
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


class Bench:
    """One run of one workload: owns the SparkSession and the op records."""

    def __init__(self, args, spec: dict, root: str, work: str) -> None:
        self.args = args
        self.spec = spec
        self.root = root
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        # half the cores: the host lends them out, so an op that keeps every
        # core busy waits for it to give them back, and that varies from run
        # to run; the other half takes the JIT, the collector and this process
        self.cores = max(1, self.nproc // 2)
        mem_mb = _meminfo_kb("MemTotal") // 1024
        # a small heap that the ops cycle through keeps the JVM's peak RSS
        # from depending on when its collector happens to run
        self.driver_mb = max(1024, min(2048, mem_mb // 16))
        self.workload = workloads.make(args.workload, "smoke" if args.smoke else "full")
        self.spark = None
        self.t_start = time.time()
        self.ops: list[dict] = []
        self.compiles: list[tuple[float, list[int]]] = []
        self.tracing = False
        self.wall: dict[str, float] = {}

    # ---------------------------------------------------------- session

    def start(self) -> None:
        from pyspark.sql import SparkSession
        conf = {
            "spark.master": f"local[{self.cores}]",
            "spark.app.name": "sparkcheck-perfbench",
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.driver.memory": f"{self.driver_mb}m",
            "spark.driver.extraJavaOptions":
                f"{JIT} {GC} -Xms{self.driver_mb}m -XX:ParallelGCThreads={self.cores}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        }
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.java = self.spark._jvm.java.lang.System.getProperty("java.version")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --------------------------------------------------------------- ops

    def op(self, kind: str, phase: str) -> dict:
        sc = self.spark.sparkContext
        span = f"{phase}:{kind}:{len(self.ops)}"
        fn = self.workload.ops[kind]
        del self.compiles[:]
        sc.setJobGroup(span, span)
        c0, s0 = _tree_cpu_s(), _steal_jiffies()
        t0 = time.time()
        try:
            out, problems = fn(), None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            out, problems = None, [f"{type(exc).__name__}: {exc}"]
        t1 = time.time()
        c1, s1 = _tree_cpu_s(), _steal_jiffies()
        sc.setJobGroup("perfbench:check", "output check")
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        rec = {"span": span, "kind": kind, "phase": phase, "t0": t0, "t1": t1,
               "wall": t1 - t0, "cpu": c1 - c0, "steal": s1 - s0, "jobs": len(sc.statusTracker().getJobIdsForGroup(span))}
        if self.compiles:
            passes = [n for _, counts in self.compiles for n in counts]
            rec["planner.compile_s"] = sum(t for t, _ in self.compiles)
            rec["planner.fused_slots"] = statistics.mean(passes) if passes else 0
        if problems is None:
            try:
                problems = self.workload.check(kind, out)
                rec.update(self.workload.layer_facts(kind, out))
            except Exception as exc:  # noqa: BLE001 — a malformed output fails the check
                problems = [f"check raised {type(exc).__name__}: {exc}"]
            self.workload.discard(kind, out)
        rec["ok"] = not problems
        self.log(f"op {span} {rec['wall']:.3f} s, {rec['cpu']:.2f} cpu s, "
                 f"{rec['steal']} steal, {rec['jobs']} jobs")
        if problems:
            print(f"perfbench: op {span} failed: {problems}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def window(self, phase: str, seconds: float, kinds: tuple[str, ...],
               rounds: int = 1) -> None:
        """Rounds of ``kinds`` until ``seconds`` have passed and at least
        ``rounds`` rounds have run."""
        deadline = time.time() + seconds
        for done in itertools.count(1):
            for kind in kinds:
                self.op(kind, phase)
            if done >= rounds and time.time() >= deadline:
                return

    def walls(self, phase: str, kind: str) -> list[float]:
        return [r["wall"] for r in self.ops if r["phase"] == phase and r["kind"] == kind]

    # ----------------------------------------------------------- tracing

    def attach_event_log(self, event_dir: str):
        """Start an uncompressed event log in the running SparkContext, so
        traced and untraced ops share one session and one warm JVM."""
        os.makedirs(event_dir)
        sc = self.spark.sparkContext
        jvm, ctx = sc._jvm, sc._jsc.sc()
        conf = ctx.conf().clone()
        # zstandard is not installed; plain JSON lines parse without it
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            ctx.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + event_dir), conf, ctx.hadoopConfiguration())
        listener.start()
        ctx.addSparkListener(listener)
        return listener

    def detach_event_log(self, listener) -> None:
        ctx = self.spark.sparkContext._jsc.sc()
        ctx.listenerBus().waitUntilEmpty(10_000)
        ctx.removeSparkListener(listener)
        listener.stop()

    def trace_layers(self) -> None:
        """While ``self.tracing`` is set, time ``compile_suite`` where the
        runner imports it, and give every job-launching pyspark call that
        does not name its caller a ``callSite.short`` with the caller's file
        and line."""
        import sparkcheck.runner as runner
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
        from pyspark.traceback_utils import SCCallSiteSync
        compile_suite = runner.compile_suite

        def timed_compile(*a, **kw):
            if not self.tracing:
                return compile_suite(*a, **kw)
            t = time.perf_counter()
            plan = compile_suite(*a, **kw)
            slots = [len(dp.slot_table.exprs) for dp in plan.domains.values()
                     if dp.slot_table.exprs]
            self.compiles.append((time.perf_counter() - t, slots))
            return plan

        runner.compile_suite = timed_compile

        def tag(cls, name):
            fn = getattr(cls, name)

            @functools.wraps(fn)
            def tagged(*a, **kw):
                if not self.tracing or SCCallSiteSync._spark_stack_depth:
                    return fn(*a, **kw)
                caller = sys._getframe(1)
                jsc = self.spark.sparkContext._jsc
                jsc.setCallSite(f"{name} at {caller.f_code.co_filename}:{caller.f_lineno}")
                SCCallSiteSync._spark_stack_depth += 1
                try:
                    return fn(*a, **kw)
                finally:
                    SCCallSiteSync._spark_stack_depth -= 1
                    jsc.setCallSite(None)

            setattr(cls, name, tagged)

        df = self.spark.range(1)
        for cls, names in ((DataFrameReader, ("parquet", "load")),
                           (DataFrameWriter, ("parquet", "save")),
                           (type(df), ("count", "toPandas")),
                           (type(self.spark), ("createDataFrame",))):
            for name in names:
                tag(cls, name)

    def floor_s(self) -> float:
        """One bare count scan of exactly the columns the op reads, per input
        table: the median of three after one warm scan, summed over tables."""
        from pyspark.sql import functions as F
        sc = self.spark.sparkContext
        total = 0.0
        for i, (df, cols) in enumerate(self.workload.floor_inputs()):
            sc.setJobGroup(f"floor:{i}", "floor scan")
            scan = df.agg(*[F.count(F.col(c)) for c in cols])
            scan.collect()
            times = []
            for _ in range(3):
                t = time.perf_counter()
                scan.collect()
                times.append(time.perf_counter() - t)
            total += statistics.median(times)
        return total

    # --------------------------------------------------------------- run

    def log(self, what: str) -> None:
        print(f"perfbench: {time.time() - self.t_start:7.2f} s {what}", file=sys.stderr)

    def run(self) -> dict:
        args = self.args
        self.start()
        self.log("session started")
        self.workload.generate(self.spark, self.work, args.seed, bool(args.trace))
        self.log("fixtures written")
        if not args.trace:
            # a fresh SparkContext in the running JVM, the input read and the
            # workload's first op
            setups = []
            for _ in range(SETUPS):
                self.stop()
                t0 = time.time()
                self.start()
                self.workload.open(self.spark)
                setups.append(self.op(self.workload.first, "setup")["t1"] - t0)
            self.log(f"set up {SETUPS} times")
            warm, measure = (1, 1) if args.smoke else (WARM_ROUNDS, MEASURE_ROUNDS)
            self.window("warm", 0, self.workload.window, warm)
            self.window("measure", args.seconds, self.workload.window, measure)
            self.log("measured")
            values = self.end_to_end(setups)
            self.stop()
            return values
        self.workload.open(self.spark)
        self.trace_layers()
        self.window("warm", 0 if args.smoke else TRACE_WARM_S, ("primary",))
        # untraced and traced ops alternate in ABBA order, so warm-up drift
        # cancels out of trace.overhead_pct; each traced op gets its own log
        event_dir = os.path.join(self.work, "events")
        deadline = time.time() + args.seconds
        for rnd in itertools.count():
            t = time.time()
            for traced in ((False, True) if rnd % 2 == 0 else (True, False)):
                if traced:
                    self.traced_op("primary", event_dir)
                else:
                    self.op("primary", "measure")
            if time.time() + (time.time() - t) > deadline:
                break
        for kind in self.workload.extras:
            self.traced_op(kind, event_dir)
        self.log("measured")
        floor = self.floor_s()
        self.stop()
        self.log("floor scanned")
        values = self.per_layer(event_dir, floor)
        shutil.rmtree(event_dir)
        return values

    def traced_op(self, kind: str, event_dir: str) -> None:
        listener = self.attach_event_log(os.path.join(event_dir, str(len(self.ops))))
        self.tracing = True
        try:
            self.op(kind, "traced")
        finally:
            self.tracing = False
            self.detach_event_log(listener)

    def end_to_end(self, setups: list[float]) -> dict:
        prim = [r for r in self.ops if r["phase"] == "measure" and r["kind"] == "primary"]
        glob = [r for r in self.ops if r["phase"] == "measure" and r["kind"] == "global"]
        glob = glob or prim  # on audio_snr the primary op is the global op
        cpu_s = statistics.median(r["cpu"] for r in prim)
        failed = sum(not r["ok"] for r in self.ops)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.samples = {"setup": len(setups), "primary": len(prim), "global": len(glob)}
        # wall times follow the host's load (see README.md), so they are
        # reported beside the result, not as metrics with a bound
        op_s = statistics.median(r["wall"] for r in prim)
        self.wall = {"op_s_p50": op_s, "clips_per_s": self.workload.rows / op_s,
                     "global_op_s_p50": statistics.median(r["wall"] for r in glob)}
        return {
            "setup_s": statistics.median(setups),
            "op_cpu_s": cpu_s,
            "clips_per_cpu_s": self.workload.rows / cpu_s,
            "jobs_per_op": statistics.median(r["jobs"] for r in prim),
            "global_op_cpu_s": statistics.median(r["cpu"] for r in glob),
            "global_jobs_per_op": statistics.median(r["jobs"] for r in glob),
            "ok_ops": (len(self.ops) - failed) / len(self.ops),
            "peak_rss_mb": (jvm_kb + py_kb) / 1024,
        }

    def per_layer(self, event_dir: str, floor: float) -> dict:
        events = eventlog.read_events(event_dir)
        index = eventlog.SourceIndex(self.root, ["sparkcheck", "perfbench"])
        per_op: dict[str, list[dict]] = {}
        unattributed = 0
        for r in self.ops:
            if r["phase"] != "traced":
                continue
            layers, unmatched = eventlog.op_layers(events, index, r["span"], r["t0"], r["t1"])
            for site in unmatched:
                print(f"perfbench: unattributed {r['span']} {site}", file=sys.stderr)
            unattributed += len(unmatched)
            layers.update({k: v for k, v in r.items() if "." in k})
            layers["spark.scan_amplification"] = layers.get("spark.rows_read", 0) / self.workload.rows
            per_op.setdefault(r["kind"], []).append(layers)
        untraced_s = statistics.median(self.walls("measure", "primary"))
        traced_s = statistics.median(self.walls("traced", "primary"))
        self.samples = {"untraced": len(self.walls("measure", "primary")),
                        "traced": len(per_op["primary"])}
        values = {}
        for name in {m["name"] for m in self.spec["per_layer"]}:
            # a layer that has an op of its own (the checkpoint) is read there
            kind = name.split(".")[0] if name.split(".")[0] in per_op else "primary"
            values[name] = statistics.median(op.get(name, 0) for op in per_op[kind])
        values["spark.unattributed_jobs"] = unattributed
        values["floor_s"] = floor
        values["overhead_x"] = untraced_s / floor
        values["trace.overhead_pct"] = 100.0 * (traced_s / untraced_s - 1.0)
        return values


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["contract_suite", "audio_snr"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and one measured op (the benchmark's own test)")
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the Python workers import the sparkcheck under test."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM it launched."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "sparkcheck", "__init__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the root of a sparkcheck checkout "
              "(no sparkcheck/ package or BENCHMARK.json here)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    steal0 = _steal_jiffies()
    bench = None
    try:
        prepare_env(root, work)
        import sparkcheck
        if not os.path.realpath(sparkcheck.__file__).startswith(os.path.realpath(root) + os.sep):
            raise RuntimeError(f"imported sparkcheck from {sparkcheck.__file__}, not the checkout")
        bench = Bench(args, spec, root, work)
        values = bench.run()
        import pyspark
    except BaseException:  # noqa: BLE001 — report, clean up, exit without a result
        traceback.print_exc()
        if bench is not None:
            try:
                bench.stop()
            except Exception:  # noqa: BLE001 — the run already failed
                pass
        return 1
    finally:
        signal.alarm(0)
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    failed = sum(not r["ok"] for r in bench.ops)
    box = {
        "nproc": bench.nproc,
        "spark_cores": bench.cores,
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "driver_memory_mb": bench.driver_mb,
        "spark": pyspark.__version__,
        "java": bench.java,
        "python": sys.version.split()[0],
        "commit": _git_commit(root),
        "steal_jiffies": _steal_jiffies() - steal0,
        "workload": args.workload, "seed": args.seed, "rows": bench.workload.rows,
        "samples": bench.samples,
        "wall": bench.wall,
    }
    print(json.dumps({"box": box}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
