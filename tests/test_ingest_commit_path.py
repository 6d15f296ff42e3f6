"""The ingest commit path pays a fixed number of Spark jobs per commit,
not one group of jobs per bucket, scope or index segment: job budgets
for the keyed-store, reconcile and ANN sinks and the ANN query, counted
from the status store per tagged block. Also the store-sink layout edge
cases (an emptied bucket, files from before the partitioned write) and
the content-keyed dim-table memo. The near-dup sink's jobs carry the
caller's job group and tags plus one section tag each."""

import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

UPDATES_SCHEMA = "key string, value string, ts_ms long"


@contextmanager
def spark_jobs(spark):
    """Jobs (and their non-skipped stages) submitted inside the block:
    every job whose id falls after the newest job at entry, tagged with
    ``sc.addJobTag`` so an event log shows the block. ``labels`` holds
    each job's (job group, job tags)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def newest():
        jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    after = newest()
    tag = f"commit-budget-{after}"
    out = {"jobs": 0, "stages": [], "labels": [], "tag": tag}
    sc.addJobTag(tag)
    try:
        yield out
    finally:
        sc.removeJobTag(tag)
        newest()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
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
                st = store.lastStageAttempt(sids.apply(k))
                if st.status().toString() != "SKIPPED":
                    out["stages"].append(st)


def _no_staging(data_dir):
    return not [n for n in os.listdir(data_dir) if n.startswith("_stage")]


# -- keyed store -------------------------------------------------------------


def test_store_commit_job_budget(spark, tmp_path):
    from panoptes_spark.streaming.store_sink import ParquetStoreSink

    sink = ParquetStoreSink(spark, str(tmp_path / "s"), ["key"], n_buckets=4)
    sink.foreach_batch(
        spark.createDataFrame(
            [(f"k{i}", "v0", 1000) for i in range(32)], UPDATES_SCHEMA
        ),
        0,
    )
    upd = spark.createDataFrame(
        [(f"k{i}", "v1", 2000) for i in range(0, 32, 3)], UPDATES_SCHEMA
    )
    dirty = {r[0] for r in upd.select(sink._bucket_col()).distinct().collect()}
    assert len(dirty) >= 2
    with spark_jobs(spark) as jobs:
        sink.foreach_batch(upd, 1)
    assert jobs["jobs"] <= 6, jobs["jobs"]
    want = {(f"k{i}", "v1" if i % 3 == 0 else "v0", 2000 if i % 3 == 0 else 1000)
            for i in range(32)}
    assert {tuple(r) for r in sink.read().collect()} == want
    data = str(tmp_path / "s" / "data")
    assert _no_staging(data)
    # one file per rewritten bucket snapshot
    for b in dirty:
        leaf = os.path.join(data, sink.manifest()["buckets"][str(b)])
        assert len([f for f in os.listdir(leaf) if f.endswith(".parquet")]) == 1


def test_store_emptied_bucket_reads_empty(spark, tmp_path):
    """Tombstones that empty buckets (here: every bucket) leave them
    reading as empty, never raising, and retire their old files."""
    from panoptes_spark.streaming.store_sink import ParquetStoreSink

    schema = UPDATES_SCHEMA + ", gone boolean"
    sink = ParquetStoreSink(
        spark, str(tmp_path / "s"), ["key"], tombstone_col="gone", n_buckets=4
    )
    keys = [f"k{i}" for i in range(12)]
    sink.foreach_batch(
        spark.createDataFrame([(k, "v", 1, False) for k in keys], schema), 0
    )
    m0 = sink.manifest()
    # keep one key alive so one bucket still has rows
    sink.foreach_batch(
        spark.createDataFrame([(k, "v", 2, True) for k in keys[1:]], schema), 1
    )
    assert {r.key for r in sink.read().collect()} == {"k0"}
    m1 = sink.manifest()
    sink.foreach_batch(
        spark.createDataFrame([("k0", "v", 3, True)], schema), 2
    )
    m2 = sink.manifest()
    assert sink.read().count() == 0
    assert set(m2["buckets"]) == set(m0["buckets"])
    # every superseded snapshot is retired, none is dropped
    for prev, cur in ((m0, m1), (m1, m2)):
        changed = [b for b, f in cur["buckets"].items() if prev["buckets"][b] != f]
        assert changed
        assert {prev["buckets"][b] for b in changed} <= set(cur["retired"])
    assert _no_staging(str(tmp_path / "s" / "data"))


def test_store_commits_over_files_with_bucket_column(spark, tmp_path):
    """A store written before the partitioned commit holds bucket files
    that still carry the __bucket column; it keeps committing correctly
    and reads without that column."""
    from panoptes_spark.streaming.store_sink import ParquetStoreSink

    path = str(tmp_path / "s")
    sink = ParquetStoreSink(spark, path, ["key"], n_buckets=4)
    rows = spark.createDataFrame(
        [(f"k{i}", "v0", 1000) for i in range(16)], UPDATES_SCHEMA
    ).withColumn("__bucket", sink._bucket_col())
    buckets = {}
    for b in range(4):
        fname = f"b{b}-e0.parquet"
        rows.where(F.col("__bucket") == b).write.parquet(
            os.path.join(path, "data", fname)
        )
        buckets[str(b)] = fname
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump({"last_epoch": 0, "buckets": buckets, "retired": []}, f)

    sink.foreach_batch(
        spark.createDataFrame(
            [("k1", "v1", 2000), ("k2", "v1", 2000), ("new", "v1", 2000)],
            UPDATES_SCHEMA,
        ),
        1,
    )
    got = sink.read()
    assert got.columns == ["key", "value", "ts_ms"]
    want = {(f"k{i}", "v0", 1000) for i in range(16) if i not in (1, 2)}
    want |= {("k1", "v1", 2000), ("k2", "v1", 2000), ("new", "v1", 2000)}
    assert {tuple(r) for r in got.collect()} == want


# -- reconcile ---------------------------------------------------------------


def test_reconcile_two_scope_commit_job_budget(spark, tmp_path):
    """Two carried scopes, one of them the NULL site: each is reconciled
    against its own snapshot with its own set timestamp."""
    from panoptes_spark.streaming.reconcile_stream import (
        ExactlyOnceResourceStoreWriter,
    )

    schema = (
        "site string, rid string, resource_creation_timestamp double,"
        " val string, resource_set_creation_timestamp double"
    )
    w = ExactlyOnceResourceStoreWriter(
        spark, str(tmp_path / "r"), identity_cols=["rid"], scope_cols=["site"]
    )
    w(
        spark.createDataFrame(
            [
                ("A", "a", 10.0, "a0", 10.0),
                ("A", "b", 10.0, "b0", 10.0),
                (None, "n", 10.0, "n0", 10.0),
                (None, "o", 30.0, "o0", 10.0),
                ("B", "x", 10.0, "x0", 10.0),
            ],
            schema,
        ),
        epoch_id=0,
    )
    batch = spark.createDataFrame(
        [
            # A: a updated, b absent -> deleted (set ts 20 > 10)
            ("A", "a", 20.0, "a1", 20.0),
            # null site: n absent -> deleted; o absent but stored ts 30
            # > set ts 25 -> kept; m added
            (None, "m", 25.0, "m1", 25.0),
        ],
        schema,
    )
    with spark_jobs(spark) as jobs:
        w(batch, epoch_id=1)
    assert jobs["jobs"] <= 8, jobs["jobs"]
    got = {(r.site, r.rid, r.val) for r in w.read().collect()}
    assert got == {
        ("A", "a", "a1"), (None, "o", "o0"), (None, "m", "m1"), ("B", "x", "x0")
    }
    assert _no_staging(str(tmp_path / "r" / "data"))


# -- near-dup sink ------------------------------------------------------------


def test_dedup_commit_jobs_carry_caller_group_and_section_tag(
    spark, tmp_path, monkeypatch
):
    """Every job a near-dup commit runs, its thread-pool relation writes
    included, carries the caller's job group (which a stopping streaming
    query cancels by) and tags, plus exactly one ``neardedup-<section>``
    tag; the commit leaves the caller's tags as it found them, also when
    it raises."""
    from panoptes_spark.streaming import dedup_stream as ds

    tpl = "identical template document body with enough words to shingle"
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, tpl), (2, tpl), (7, "a short unrelated note about weather")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(3, tpl), (8, "another unrelated line on some other topic")], schema
    )
    b2 = spark.createDataFrame([(9, tpl)], schema)
    sink = ds.NearDedupIndexSink(str(tmp_path / "nd"))
    sc = spark.sparkContext
    sc.setJobGroup("g", "near-dup commit", interruptOnCancel=True)
    sc.addJobTag("t")
    try:
        with spark_jobs(spark) as jobs:
            sink(b0, 0)
            sink(b1, 1)
            assert set(sc.getJobTags()) == {"t", jobs["tag"]}
        assert jobs["jobs"] > 0
        for group, tags in jobs["labels"]:
            assert group == "g", (group, tags)
            assert {"t", jobs["tag"]} <= tags, tags
            assert len({x for x in tags if x.startswith("neardedup-")}) == 1

        def poisoned(self):
            raise RuntimeError("poisoned bucket_membership")

        monkeypatch.setattr(ds.DedupIndexLog, "bucket_membership", poisoned)
        with pytest.raises(RuntimeError, match="poisoned"):
            sink(b2, 2)
        assert set(sc.getJobTags()) == {"t"}
    finally:
        sc.removeJobTag("t")
        sc._jsc.clearJobGroup()


# -- ANN index ---------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _scoring_tasks(stages):
    """Task counts of the stages that scan the index (the only stages
    with input records) — the Python scoring stage."""
    return [st.numTasks() for st in stages if st.inputRecords() > 0]


def test_ann_commit_and_query_job_budget(spark, tmp_path, emb):
    from panoptes_spark.pipeline.ann_index import IvfPqIndex, build_ivfpq_index
    from panoptes_spark.streaming.ann_stream import AnnIndexSink

    path = str(tmp_path / "idx")
    build_ivfpq_index(
        emb.where("vec_id % 4 = 0"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    queries = emb.where("vec_id % 50 = 1")

    def query():
        IvfPqIndex(spark, path).topk(queries, k=5, nprobe=8).count()

    query()  # fills the dim-table memo
    with spark_jobs(spark) as one_seg:
        query()
    sink = AnnIndexSink(path)
    sink(emb.where("vec_id % 4 = 1"), 0)
    with spark_jobs(spark) as commit:
        sink(emb.where("vec_id % 4 = 2"), 1)
    assert commit["jobs"] <= 3, commit["jobs"]
    assert len(IvfPqIndex(spark, path).segments()) == 3
    with spark_jobs(spark) as three_seg:
        query()
    assert three_seg["jobs"] <= one_seg["jobs"], (one_seg, three_seg)
    tasks = _scoring_tasks(three_seg["stages"])
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism


def test_dim_memo_same_mtime_rebuild_is_fresh(spark, tmp_path, emb):
    """A rebuild at the same path whose dir mtimes are forced back to
    the old values must still serve the NEW centroids."""
    from panoptes_spark.pipeline.ann_index import IvfPqIndex, build_ivfpq_index

    path = str(tmp_path / "idx")

    def build(pred):
        build_ivfpq_index(
            emb.where(pred), path, m=8, n_codes=16, n_cells=8, train_iters=0
        )
        return IvfPqIndex(spark, path)

    first = build("vec_id % 2 = 0")
    old_rows = first._cents_rows()
    cdir = os.path.join(path, "centroids.parquet")
    st = os.stat(cdir)
    second = build("vec_id % 2 = 1")
    os.utime(cdir, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(cdir).st_mtime_ns == st.st_mtime_ns
    fresh = sorted(map(tuple, second.centroids().collect()))
    assert sorted(map(tuple, second._cents_rows())) == fresh
    assert fresh != sorted(map(tuple, old_rows))


def test_dim_memo_one_entry_per_dim_table_after_retrain(spark, tmp_path, emb):
    """A retrain swap replaces the index's memo entries instead of
    adding a generation's worth next to them."""
    from panoptes_spark.pipeline import ann_index
    from panoptes_spark.pipeline.ann_index import IvfPqIndex, build_ivfpq_index

    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path, m=8, n_codes=16, n_cells=8, train_iters=0)
    queries = emb.where("vec_id % 50 = 1")
    IvfPqIndex(spark, path).topk(queries, k=5).count()
    IvfPqIndex(spark, path).retrain_swap(emb, train_iters=1)
    IvfPqIndex(spark, path).topk(queries, k=5).count()
    real = os.path.realpath(path)
    slots = [kind for kind, p in ann_index._DIM_MEMO if p == real]
    assert sorted(slots) == ["cb", "cents"]
    ident = ann_index._DIM_MEMO[("cents", real)][0]
    assert ident[0].endswith("centroids-g1.parquet")
