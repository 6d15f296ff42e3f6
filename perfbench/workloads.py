"""The workloads: what one pass runs, and how it is checked.

A pass is a fixed sequence of operations run one at a time (a closed
loop with one client). An operation is one gate (build + ``count()``) or
one sink commit. Gate lists are written out here, sorted by name, so a
gate joins a workload only through a change to this file, never through
the order of ``queries()``.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

#: panoptes-twin gates (``queries()`` entries outside
#: ``gate_queries.QUERIES``): one or two per family, so every family's
#: fixed per-gate cost is in each pass.
TELEMETRY_GATES = (
    "dsl_metric_program",      # metric-DSL program (compiled once per session)
    "j1_enrichment_join",      # enrichment join
    "j5_reconcile_apply",      # reconcile plan + apply
    "j6_rate_batch",           # counter -> gauge rate
    "j8_asof_align",           # temporal as-of join
    "p1_dsl_metadata_like",    # resource-filter DSL
    "w9_resample_ffill",       # time-series resample
)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    rows: int = 0  # gates: result rows counted
    spark: dict = field(default_factory=dict)


@dataclass
class Pass:
    seconds: float
    ops: list[Op]
    traced: bool
    cpu_s: float = 0.0
    index: int = 0  # ingest: the round, i.e. the batch committed
    layers: dict = field(default_factory=dict)  # span name -> (self s, n)
    heap_used_mb: float = 0.0


class Context:
    """What every workload needs: the session, the inputs and the
    measurement hooks (``jobs`` is set only in the traced run)."""

    def __init__(self, spark, sf_dir, work_dir, tracer, jobs=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.jobs = jobs

    def report_failure(self, what: str):
        print(f"# FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)

    def timed_op(self, name: str, fn, traced: bool) -> Op:
        """Run one operation; any exception fails it and is reported."""
        stats: dict = {}
        t0 = time.monotonic()
        try:
            with self.tracer.span("op"):
                if traced:
                    with self.jobs.tagged(name) as stats:
                        rows = fn()
                else:
                    rows = fn()
            ok = True
        except Exception:
            self.report_failure(name)
            rows, ok = 0, False
        return Op(name, time.monotonic() - t0, ok, rows or 0, stats)


def release(spark):
    """Drop per-gate persists between operations so memory stays flat."""
    from panoptes_spark.pipeline import dedup

    dedup.release_materialized()
    spark.catalog.clearCache()
    gc.collect()


class GateWorkload:
    #: gate outputs are checked before the first timed pass; the check
    #: is also the cold first pass
    CHECK_IN_SETUP = True
    #: warm-up passes after the check: passes keep getting faster as
    #: the JVM compiles; 5 brings the run-to-run spread to about 0.1
    WARM_PASSES = 5
    MIN_PASSES = 1

    def __init__(self, ctx: Context, names):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.names = list(names)
        registry = entry.queries()
        missing = [n for n in self.names if n not in registry]
        if missing:
            raise SystemExit(f"gates not registered: {missing}")
        self.fns = {n: registry[n] for n in self.names}
        self.expected_rows: dict[str, int] = {}
        self.wrong: set[str] = set()

    def check(self, passes=()) -> bool:
        """Run every gate once and compare it with its DuckDB twin.
        Runs during set-up, before any pass is timed."""
        from . import checks

        oracle = checks.GateOracle(self.ctx.sf_dir)
        try:
            for name in self.names:
                try:
                    pdf = self.fns[name](self.ctx.spark, self.ctx.sf_dir).toPandas()
                    problem = oracle.compare(name, pdf)
                except Exception:
                    self.ctx.report_failure(f"check {name}")
                    problem = "raised"
                finally:
                    release(self.ctx.spark)
                if problem:
                    print(f"# WRONG {name}: {problem}", file=sys.stderr)
                    self.wrong.add(name)
                else:
                    self.expected_rows[name] = len(pdf)
        finally:
            oracle.close()
        return not self.wrong

    def _gate(self, name, traced):
        spark, sf_dir, tracer = self.ctx.spark, self.ctx.sf_dir, self.ctx.tracer

        def run():
            with tracer.span("gate.build"):
                df = self.fns[name](spark, sf_dir)
            with tracer.span("gate.action"):
                return df.count()

        op = self.ctx.timed_op(name, run, traced)
        if op.ok and (
            name in self.wrong or op.rows != self.expected_rows.get(name)
        ):
            print(f"# WRONG {name}: {op.rows} rows", file=sys.stderr)
            op.ok = False
        release(spark)
        return op

    def run_pass(self, traced: bool) -> Pass:
        t0 = time.monotonic()
        with self.ctx.tracer.span("run"):
            ops = [self._gate(n, traced) for n in self.names]
        return Pass(time.monotonic() - t0, ops, traced)

    def rows(self, p: Pass) -> int:
        """Result rows the pass's gates returned."""
        return sum(op.rows for op in p.ops)


class IngestWorkload:
    """A live stream folded through the four streaming sinks, one commit
    at a time, from empty directories. A pass is one round: the next
    micro-batch committed to each sink, then one top-k query against the
    growing ANN index. After the timed rounds both index logs are
    compacted and every sink's state is checked."""

    CHECK_IN_SETUP = False
    #: warm-up rounds; the first is cold
    WARM_PASSES = 1
    #: timed rounds at least, so each operation's latency is a median
    MIN_PASSES = 2

    def __init__(self, ctx: Context):
        from panoptes_spark.pipeline.ann_index import build_ivfpq_index
        from panoptes_spark.streaming.ann_stream import AnnIndexSink
        from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink
        from panoptes_spark.streaming.reconcile_stream import (
            ExactlyOnceResourceStoreWriter,
        )
        from panoptes_spark.streaming.store_sink import ParquetStoreSink

        from . import checks

        self.ctx = ctx
        spark = ctx.spark
        inp = self.inputs = checks.IngestInputs(spark, ctx.sf_dir)
        self.paths = inp.paths(ctx.work_dir)
        self.round = 0
        self.compaction: list[Op] = []
        self.written = self.held = 0  # bytes; measured by the traced run
        self.sinks = {
            "dedup": NearDedupIndexSink(self.paths["dedup"], **inp.DEDUP),
            "ann": AnnIndexSink(self.paths["ann"]),
            "store": ParquetStoreSink(
                spark, self.paths["store"], **inp.STORE
            ).foreach_batch,
            "reconcile": ExactlyOnceResourceStoreWriter(
                spark, self.paths["reconcile"], **inp.RECONCILE
            ),
        }
        build_ivfpq_index(inp.ann_base, self.paths["ann"], **inp.ANN)
        self.trained = os.path.join(ctx.work_dir, "ann-trained")
        shutil.copytree(self.paths["ann"], self.trained)

    def _commit(self, sink, i):
        def op():
            self.sinks[sink](self.inputs.batches[sink][i], i)

        return op

    def _query(self):
        from panoptes_spark.pipeline.ann_index import IvfPqIndex

        idx = IvfPqIndex(self.ctx.spark, self.paths["ann"])
        idx.topk(self.inputs.queries, **self.inputs.TOPK).count()

    def run_pass(self, traced: bool) -> Pass:
        i = self.round
        if i >= self.inputs.BATCHES:
            raise RuntimeError(f"ingest ran out of its {self.inputs.BATCHES} batches")
        todo = [(sink, self._commit(sink, i)) for sink in self.inputs.SINKS]
        todo.append(("ann_query", self._query))
        t0 = time.monotonic()
        with self.ctx.tracer.span("run"):
            ops = [self.ctx.timed_op(name, fn, traced) for name, fn in todo]
        self.round += 1
        return Pass(time.monotonic() - t0, ops, traced, index=i)

    def compact(self) -> list[Op]:
        """Fold both index logs into one generation each."""
        spark = self.ctx.spark

        def dedup():
            self.sinks["dedup"].index(spark).compact()

        def ann():
            self.sinks["ann"].index(spark).compact()

        return [
            self.ctx.timed_op("dedup_compact", dedup, False),
            self.ctx.timed_op("ann_compact", ann, False),
        ]

    def check(self, passes) -> bool:
        """Compact, then compare every sink's committed state with a
        one-shot rebuild of the batches committed so far; every op of a
        wrong sink fails."""
        self.compaction = self.compact()
        if self.ctx.jobs is not None:
            self.written = self.ctx.jobs.app_output_bytes()
            self.held = sum(_du(d) for d in self.paths.values())
        wrong = self.inputs.check(
            self.paths, self.round, self.trained, self.ctx.report_failure
        )
        for op in [*self.compaction, *(op for p in passes for op in p.ops)]:
            if op.name.split("_")[0] in wrong:
                op.ok = False
        return not wrong and all(op.ok for op in self.compaction)

    def rows(self, p: Pass) -> int:
        """Input rows the round committed."""
        return sum(
            self.inputs.rows(op.name, p.index)
            for op in p.ops
            if op.ok and op.name in self.inputs.SINKS
        )


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


WORKLOADS = {
    "telemetry": lambda ctx: GateWorkload(ctx, TELEMETRY_GATES),
    "ingest": IngestWorkload,
}
