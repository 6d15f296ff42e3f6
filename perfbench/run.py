"""The repo benchmark: one process, ``local[nproc]``, one client.

    python3 perfbench/run.py --workload telemetry --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` by
``tools/gen_testdata.py`` and cached under ``perfbench/.work/data``;
generation counts in no metric. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of ``BENCHMARK.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: input shape: ``tools/gen_testdata.py`` scale factor
SCALE = "0.01"
DRIVER_MEMORY = "2g"

#: files of the program the benchmark needs; without them it refuses
PROGRAM_FILES = (
    "panoptes_spark/__init__.py",
    "__spark_entry__.py",
    "tools/gen_testdata.py",
    "tools/check.py",
)


def _log(msg: str):
    print(f"# {msg}", file=sys.stderr, flush=True)


def inputs(seed: int) -> str:
    """Generated tables for ``seed``, built once and cached."""
    out = os.path.join(WORK, "data", f"sf{SCALE}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_testdata.py"),
         SCALE, tmp, str(seed)],
        check=True, stdout=sys.stderr,
    )
    try:
        os.replace(tmp, out)
    except OSError:  # another run generated the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def hermetic_env(run_dir: str) -> dict:
    """Private temp and Spark scratch dirs, and the package path for
    Python workers, whatever the working directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def start_session(cores: int, dirs: dict):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from panoptes_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of a run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark):
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    from .trace import descendants

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def op_latency(ops) -> dict[str, float]:
    """Each operation's latency: its median over the timed passes."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.seconds)
    return {name: statistics.median(v) for name, v in by_name.items()}


def quantile(values, q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Bench:
    def __init__(self, args, spark, cores, start_s, sf_dir, run_dir, t_start):
        from . import trace, workloads

        self.args = args
        self.spark = spark
        self.cores = cores
        self.tracer = trace.Tracer()
        self.patch = trace.LayerPatch(self.tracer) if args.trace else None
        self.t_start = t_start
        self.times = {"session.start_s": start_s}
        self.setup_layers: dict = {}
        self.warm: list[float] = []
        self.jobs = trace.SparkJobs(self.spark) if args.trace else None
        self.ctx = workloads.Context(
            self.spark, sf_dir, os.path.join(run_dir, "sinks"),
            self.tracer, self.jobs,
        )
        self.workload = None

    def _traced(self, on: bool):
        if self.patch is None:
            return
        self.tracer.reset()
        self.tracer.enabled = on
        if on:
            self.patch.install()
        else:
            self.patch.remove()

    def _pass(self, traced: bool):
        from .trace import tree_cpu_s

        self._traced(traced)
        cpu0 = tree_cpu_s()
        p = self.workload.run_pass(traced)
        p.cpu_s = tree_cpu_s() - cpu0
        if traced:
            p.layers = self.tracer.self_times()
            p.heap_used_mb = self.jobs.heap_used_mb()
        self._traced(False)
        return p

    def setup(self) -> bool:
        """Build the workload, check it (gate workloads), then run its
        warm-up passes."""
        from . import workloads

        self._traced(bool(self.args.trace))
        self.workload = workloads.WORKLOADS[self.args.workload](self.ctx)
        ok = True
        if self.workload.CHECK_IN_SETUP:
            t0 = time.monotonic()
            ok = self.workload.check()
            self.times["setup.check_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        for _ in range(self.workload.WARM_PASSES):
            self.warm.append(self.workload.run_pass(False).seconds)
        self.times["setup.warm_s"] = time.monotonic() - t0
        self.setup_layers = self.tracer.self_times()
        self._traced(False)
        return ok

    def measure(self):
        """Whole passes until ``--seconds`` have gone by and the
        workload's ``MIN_PASSES`` are done; the traced run alternates
        traced and untraced passes, at least one of each."""
        least = max(self.workload.MIN_PASSES, 2 if self.args.trace else 1)
        passes = []
        t0 = time.monotonic()
        while True:
            traced = bool(self.args.trace) and len(passes) % 2 == 0
            passes.append(self._pass(traced))
            elapsed = time.monotonic() - t0
            if elapsed >= self.args.seconds and len(passes) >= least:
                return passes

    def run(self) -> dict:
        from . import trace

        ok = self.setup()
        setup_s = time.monotonic() - self.t_start
        passes = self.measure()
        peak_rss = trace.driver_peak_rss_mb()
        if not self.workload.CHECK_IN_SETUP:
            t0 = time.monotonic()
            ok = self.workload.check(passes) and ok
            self.times["check_s"] = time.monotonic() - t0
        ops = [op for p in passes for op in p.ops]
        failed = sum(not op.ok for op in ops)
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": self.cores,
            "warm_pass_s": [round(s, 4) for s in self.warm],
            "pass_s": [round(p.seconds, 4) for p in passes],
            "pass_cpu_s": [round(p.cpu_s, 2) for p in passes],
            "traced": [p.traced for p in passes],
            "op_s": {k: round(v, 4) for k, v in op_latency(ops).items()},
            "times_s": {k: round(v, 4) for k, v in self.times.items()},
            "jobs_per_traced_pass": [
                sum(op.spark.get("jobs", 0) for op in p.ops)
                for p in passes if p.traced
            ],
            "total_s": round(time.monotonic() - self.t_start, 4),
        }
        print(json.dumps({"detail": detail}), flush=True)
        if self.args.trace:
            metrics = self.layer_metrics(passes)
        else:
            metrics = self.end_to_end(passes, setup_s, peak_rss, ops, failed)
        return {
            "correct": bool(ok and failed == 0),
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }

    def end_to_end(self, passes, setup_s, peak_rss, ops, failed) -> dict:
        lat = list(op_latency(ops).values())
        wall = sum(p.seconds for p in passes)
        rows = sum(self.workload.rows(p) for p in passes)
        values = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(p.seconds for p in passes), "s"),
            "cpu_s": (statistics.median(p.cpu_s for p in passes), "s"),
            "op_p50_s": (quantile(lat, 0.5), "s"),
            "op_p80_s": (quantile(lat, 0.8), "s"),
            "ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
            "rows_per_s": (rows / wall, "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, passes) -> dict:
        from .trace import LAYERS

        traced = [p for p in passes if p.traced]
        untraced = [p for p in passes if not p.traced]
        med = statistics.median

        def per_pass(fn):
            return med(fn(p) for p in traced)

        def spark(field):
            return per_pass(lambda p: sum(op.spark.get(field, 0) for op in p.ops))

        def self_s(span):
            return per_pass(lambda p: p.layers.get(span, (0.0, 0))[0])

        def calls(span):
            return per_pass(lambda p: p.layers.get(span, (0.0, 0))[1])

        def commit_s(name):
            lat = [op.seconds for p in traced for op in p.ops if op.name == name]
            return med(lat) if lat else 0.0

        def growth():
            """Last ÷ first traced dedup commit: per-commit cost as the
            index grows."""
            lat = [op.seconds for p in traced for op in p.ops if op.name == "dedup"]
            return lat[-1] / lat[0] if lat else 0.0

        def out_bytes(p):
            return sum(op.spark.get("output_bytes", 0) for op in p.ops)

        def write_amp():
            """Bytes the sinks wrote over the run, compaction included,
            ÷ bytes they hold after it."""
            held = getattr(self.workload, "held", 0)
            return self.workload.written / held if held else 0.0

        executor_s = spark("executor_run_s")
        v = {
            "session.start_s": (self.times["session.start_s"], "s"),
            "setup.check_s": (self.times.get("setup.check_s", 0.0), "s"),
            "setup.warm_s": (self.times["setup.warm_s"], "s"),
            "setup.warm_passes": (len(self.warm), "count"),
            "setup.artifact_build_s": (
                self.setup_layers.get("pipeline.artifact_build", (0.0, 0))[0], "s"
            ),
            "gate.build_s": (self_s("gate.build"), "s"),
            "gate.action_s": (self_s("gate.action"), "s"),
            "trace.op_self_s": (self_s("op"), "s"),
            "trace.run_self_s": (self_s("run"), "s"),
            "spark.jobs": (spark("jobs"), "count"),
            "spark.untagged_jobs": (spark("untagged_jobs"), "count"),
            "spark.stages": (spark("stages"), "count"),
            "spark.tasks": (spark("tasks"), "count"),
            "spark.executor_run_s": (executor_s, "s"),
            "spark.busy_ratio": (
                executor_s / (per_pass(lambda p: p.seconds) * self.cores), "ratio"
            ),
            "spark.shuffle_read_bytes": (spark("shuffle_read_bytes"), "B"),
            "spark.shuffle_write_bytes": (spark("shuffle_write_bytes"), "B"),
            "spark.spill_bytes": (spark("spill_bytes"), "B"),
        }
        for span in LAYERS:
            v[f"{span}_s"] = (self_s(span), "s")
            v[f"{span}_calls"] = (calls(span), "count")
        for sink in ("dedup", "ann", "store", "reconcile"):
            v[f"streaming.{sink}_commit_s"] = (commit_s(sink), "s")
        v["streaming.commit_growth"] = (growth(), "ratio")
        v["streaming.bytes_written"] = (per_pass(out_bytes), "B")
        v["streaming.write_amp"] = (write_amp(), "ratio")
        v["streaming.compact_s"] = (
            sum(op.seconds for op in getattr(self.workload, "compaction", ())),
            "s",
        )
        v["jvm.heap_used_mb"] = (
            max(p.heap_used_mb for p in traced), "MB"
        )
        v["trace.overhead_ratio"] = (
            med(p.seconds for p in traced) / med(p.seconds for p in untraced),
            "ratio",
        )
        return {k: {"value": x, "unit": u} for k, (x, u) in v.items()}


def main(argv=None) -> int:
    from . import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        _log(f"not a panoptes_spark checkout, missing: {missing}")
        return 2

    sf_dir = inputs(args.seed)
    t_start = time.monotonic()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    spark = None
    try:
        dirs = hermetic_env(run_dir)
        cores = len(os.sched_getaffinity(0))
        t0 = time.monotonic()
        spark = start_session(cores, dirs)
        start_s = time.monotonic() - t0
        result = Bench(args, spark, cores, start_s, sf_dir, run_dir, t_start).run()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
