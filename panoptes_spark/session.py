"""SparkSession factory tuned for this engine.

Local test runs use ``local[N]``; the same configuration scales to a real
cluster because nothing here is local-only: AQE, shuffle-partition sizing and
Arrow transfer apply identically on 1000 executors.
"""

from __future__ import annotations

import gc
import os
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "panoptes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for 100 TB-scale behavior:
    - AQE on (runtime coalesce, skew-join splitting)
    - UTC session timezone (oracle comparability; cluster-safe)
    - Arrow on (pandas UDF fast path)
    - shuffle partitions ~ cores locally; on a real cluster AQE coalesces
      from a higher initial number, so this knob is safe to raise.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_runtime(spark)


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Python-side tuning for sessions built elsewhere (the driver's).

    Disables PySpark's per-API-call user-call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``): plan construction in
    the DSL compiler issues thousands of DataFrame calls and the stack
    inspection costs ~5 ms each — error-message context only, no semantic
    effect. The conf is STATIC (rejected by ``spark.conf.set`` on a live
    session), so for sessions built elsewhere the python-side gate cache is
    the only reachable switch; guarded so a pyspark-internals change
    degrades to a no-op. ``get_spark`` also sets the conf properly at
    build time for sessions we own.
    """
    try:
        from pyspark.errors import utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    return spark


def release(spark: SparkSession) -> None:
    """Drop what a gate left cached so memory stays flat across a run
    of gates and the next gate builds against an empty cache.
    ``release_materialized`` unpersists the few frames a gate build
    still persists through ``dedup.materialize_once`` or
    ``persist_registered`` (each call kept by a measured crossover in
    SCALE.md); clearCache drops every other cached block."""
    from panoptes_spark.pipeline import dedup

    dedup.release_materialized()
    spark.catalog.clearCache()
    # localCheckpoint blocks (the sharded ANN top-k paths) are freed by
    # the ContextCleaner only after the Python-side frames are GC'd —
    # without this, a long battery accumulates checkpoint RDD blocks
    # and late gates pay the memory pressure (r9: pq_encode 13.2 s
    # in-battery at sf1 vs 1.5 s isolated, same plan)
    gc.collect()


@contextmanager
def spark_jobs(spark: SparkSession):
    """Jobs (and their non-skipped stages) submitted inside the block:
    every job whose id falls after the newest job at entry, read from
    the status store on exit and tagged with ``sc.addJobTag`` so an
    event log shows the block. ``labels`` holds each job's (job group,
    job tags). The status store keeps the newest
    ``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages``
    stages, so a block is counted in full as long as it runs no more
    than that many."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()

    def jobs_newest_first():
        jsc.listenerBus().waitUntilEmpty(60_000)
        return store.jobsList(None)

    jobs = jobs_newest_first()
    after = jobs.apply(0).jobId() if jobs.size() else -1
    tag = f"job-window-{after}"
    out = {"jobs": 0, "stages": [], "labels": [], "tag": tag}
    sc.addJobTag(tag)
    try:
        yield out
    finally:
        sc.removeJobTag(tag)
        jobs = jobs_newest_first()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after:
                break
            out["jobs"] += 1
            group, tags = job.jobGroup(), job.jobTags()
            out["labels"].append((
                group.get() if group.isDefined() else None,
                {tags.apply(k) for k in range(tags.size())},
            ))
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError as e:
                    # past ``spark.ui.retainedStages`` the store evicts
                    # skipped stages first (they have no completion time)
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    continue
                if st.status().toString() != "SKIPPED":
                    out["stages"].append(st)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver test tables from ``sf_dir`` and register temp views.

    Returns a dict name -> DataFrame.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
