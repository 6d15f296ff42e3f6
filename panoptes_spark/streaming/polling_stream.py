"""Streaming polling pipeline: DSL programs over a walk-snapshot stream.

Reference runtime: the polling scheduler fires
``PluginPollingGenericSNMPMetrics.run`` per device on a fixed cadence
(``yahoo_panoptes/polling/polling_plugin_scheduler.py`` +
``plugin_polling_generic_snmp.py:721-762``), each run walking the device
and evaluating the enrichment program. The Spark-idiomatic production
shape is Structured Streaming: the poller fleet lands complete walk
snapshots (device_id, table_name, index, value) on the bus / a landing
directory, and ``foreachBatch`` compiles the program against each
micro-batch — ONE compiled plan per trigger covering every device in
the batch, instead of a per-device python loop. State (rate, dedup,
reconcile) stays in the dedicated streaming operators; this pipeline is
the stateless compile-and-emit stage.

At scale: a micro-batch is partitioned by device_id through the
compiler's one exchange; the output sink projection
(line-protocol or Kafka fan-out) is map-only on top of it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from panoptes_spark.dsl.metric_compiler import MetricDSLCompiler


def compile_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    program: dict,
    interval_sec: int = 60,
    schema_version: str = "0.2",
) -> DataFrame:
    """Compile one micro-batch of walk snapshots into metrics-group rows
    (the body of the foreachBatch callback, separated for testability).
    The plan persists nothing, so a finished batch leaves no cached
    blocks behind."""
    return MetricDSLCompiler(
        spark,
        program,
        batch_df,
        interval_sec=interval_sec,
        schema_version=schema_version,
    ).compile()


def run_polling_stream(
    spark: SparkSession,
    walk_stream: DataFrame,
    program: dict,
    sink: Callable[[DataFrame, int], None],
    interval_sec: int = 60,
    schema_version: str = "0.2",
    checkpoint_dir: str | None = None,
):
    """Wire the walk stream through the compiler into ``sink``.

    ``walk_stream`` must carry (device_id, table_name, index, value);
    each micro-batch is treated as a set of complete device snapshots
    (the poller emits a device's whole walk atomically, mirroring the
    reference's per-run walk)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(
            compile_batch(
                spark, batch_df, program,
                interval_sec=interval_sec,
                schema_version=schema_version,
            ),
            batch_id,
        )

    writer = walk_stream.writeStream.foreachBatch(_process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
