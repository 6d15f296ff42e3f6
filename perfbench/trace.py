"""Per-layer attribution, measured from outside the program.

Three sources feed the traced run:

- spans: wall-clock intervals recorded around calls into each layer's
  public functions (``LAYERS``), nested run -> op -> build/action ->
  layer call; each span's self time is its duration minus the time its
  direct children cover;
- the Spark status store: every Spark job an operation submits is tagged
  with ``sc.addJobTag`` and attributed to it; stage data gives task
  counts, executor run time, shuffle and spill bytes;
- ``/proc``: peak resident memory of the driver process tree.

Nothing here edits the program: layer wrappers are installed by
rebinding module and class attributes in this process only, and are
removed again with :meth:`LayerPatch.remove`.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import time
from contextlib import contextmanager

#: layer span name -> the public entry points timed under it.
#: ``module`` entries wrap every public function defined in the module;
#: ``Class.method`` entries wrap one method of a class.
LAYERS = {
    "sources.read": [
        "panoptes_spark.sources.tpch_fixtures",
        "panoptes_spark.sources.text_corpus",
        "panoptes_spark.sources.json_resources",
        "panoptes_spark.sources.snmp",
        "panoptes_spark.sources.stores",
        "panoptes_spark.sources.plugin_config",
    ],
    "dsl.compile": [
        "panoptes_spark.dsl.resource_filter:parse",
        "panoptes_spark.dsl.resource_filter:query_resources",
        "panoptes_spark.dsl.resource_filter:ResourceFilter.__init__",
        "panoptes_spark.dsl.resource_filter:ResourceFilter.to_spark_sql",
        "panoptes_spark.dsl.metric_compiler:normalize_program",
        "panoptes_spark.dsl.metric_compiler:flatten_groups",
        "panoptes_spark.dsl.metric_compiler:MetricDSLCompiler.__init__",
        "panoptes_spark.dsl.metric_compiler:MetricDSLCompiler.compile",
    ],
    "operators.build": [
        "panoptes_spark.operators.rate",
        "panoptes_spark.operators.reconcile",
        "panoptes_spark.operators.device_enrichment",
        "panoptes_spark.operators.interface_enrichment",
        "panoptes_spark.operators.enrichment_groups",
        "panoptes_spark.operators.temporal",
        "panoptes_spark.operators.timeseries",
    ],
    "pipeline.artifact_build": [
        "panoptes_spark.pipeline.dedup_index:build_dedup_index",
        "panoptes_spark.pipeline.dedup_index:update_dedup_index",
        "panoptes_spark.pipeline.ann_index:build_ivfpq_index",
    ],
    "pipeline.index_query": [
        "panoptes_spark.pipeline.dedup_index:DedupIndex.__init__",
        "panoptes_spark.pipeline.dedup_index:DedupIndex.pairs",
        "panoptes_spark.pipeline.dedup_index:DedupIndex.components",
        "panoptes_spark.pipeline.dedup_index:DedupIndex.keep_representatives",
        "panoptes_spark.pipeline.ann_index:IvfPqIndex.__init__",
        "panoptes_spark.pipeline.ann_index:IvfPqIndex.topk",
        "panoptes_spark.streaming.dedup_stream:DedupIndexLog.pairs",
        "panoptes_spark.streaming.dedup_stream:DedupIndexLog.components",
    ],
}


class Tracer:
    """In-memory span recorder. A span is (name, parent index, start,
    end); spans are kept until :meth:`reset` and summarised by
    :meth:`self_times`."""

    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []
        self._stack: list[int] = []

    def reset(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append([name, parent, time.monotonic(), None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.monotonic()

    def self_times(self) -> dict[str, tuple[float, int]]:
        """span name -> (total self seconds, number of spans)."""
        child = [0.0] * len(self.spans)
        for name, parent, t0, t1 in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, tuple[float, int]] = {}
        for i, (name, _parent, t0, t1) in enumerate(self.spans):
            if t1 is None:
                continue
            s, n = out.get(name, (0.0, 0))
            out[name] = (s + (t1 - t0) - child[i], n + 1)
        return out


def _targets(spec: str):
    """Resolve one ``LAYERS`` entry to (owner, attribute name) pairs."""
    mod_name, _, attr = spec.partition(":")
    mod = importlib.import_module(mod_name)
    if not attr:
        return [
            (mod, name)
            for name, obj in vars(mod).items()
            if not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod_name
        ]
    owner = mod
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part)
    return [(owner, name)]


class LayerPatch:
    """Installs timing wrappers on every ``LAYERS`` entry point.

    A module-level function may also be bound under its own name in
    other modules (``from x import f``); every such binding in the
    program's modules is rebound too, so calls are timed however they
    were imported. Class methods are wrapped on the class."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return timed

    def install(self):
        program_mods = [
            m
            for name, m in list(sys.modules.items())
            if m is not None
            and (name == "__spark_entry__" or name.startswith("panoptes_spark"))
        ]
        for layer, specs in LAYERS.items():
            for spec in specs:
                for owner, name in _targets(spec):
                    orig = vars(owner)[name]
                    wrapped = self._wrap(layer, orig)
                    self._saved.append((owner, name, orig))
                    setattr(owner, name, wrapped)
                    if inspect.isclass(owner):
                        continue
                    for mod in program_mods:
                        if mod is not owner and vars(mod).get(name) is orig:
                            self._saved.append((mod, name, orig))
                            setattr(mod, name, wrapped)

    def remove(self):
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved = []


class SparkJobs:
    """Attributes Spark jobs to operations and reads their stage
    statistics from the driver's status store.

    Jobs submitted from the calling thread carry the operation's job tag
    (``sc.addJobTag``), which makes an event log readable. A program may
    also submit jobs from its own worker threads, which do not inherit
    the tag; since the benchmark runs one operation at a time, every job
    whose id falls inside the operation's window is its job, and
    ``untagged_jobs`` counts the ones the tag did not reach."""

    STAGE_FIELDS = (
        "stages", "tasks", "executor_run_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "output_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seq = 0

    def _newest_job_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def tagged(self, label: str):
        """Tag every job submitted inside the block; yields a dict that
        is filled with the block's job/stage statistics on exit."""
        self._seq += 1
        tag = f"perfbench-{self._seq}-{label}"
        stats: dict = {}
        after = self._newest_job_id()
        self.sc.addJobTag(tag)
        try:
            yield stats
        finally:
            self.sc.removeJobTag(tag)
            stats.update(self.collect(tag, after))

    def collect(self, tag: str, after: int) -> dict:
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty(60_000)
        store = self._jsc.statusStore()
        out = dict.fromkeys(self.STAGE_FIELDS, 0)
        out["jobs"] = out["untagged_jobs"] = 0
        jobs = store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after:
                break
            out["jobs"] += 1
            if not job.jobTags().contains(tag):
                out["untagged_jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                out["output_bytes"] += st.outputBytes()
        return out

    def app_output_bytes(self) -> int:
        """Bytes written by every job the application has run."""
        return self.collect("", -1)["output_bytes"]

    def heap_used_mb(self) -> float:
        jvm = self.sc._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return bean.getHeapMemoryUsage().getUsed() / 2**20


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(_children(child))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def driver_peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the driver: this Python process
    plus the JVM it launched. Python workers are executor-side and
    their number varies with task placement, so they are left out."""
    total_kb = 0
    for pid in [os.getpid(), *_children(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
