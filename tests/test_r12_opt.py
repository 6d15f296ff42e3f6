"""Focused tests for the round-12 optimization changes: the byte-bounded
two-step ivf_topk probe must route to the identical plans (broadcast when
the set fits, cogroup when it doesn't) with bounded driver collects, and
the trainers keep one unpersisted plan shape on shuffle-bearing inputs."""

import pytest
from pyspark.sql import functions as F

from panoptes_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="r12-opt-tests")


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_ivf_topk_chunked_probe_matches_default(spark, sf_dir, monkeypatch):
    """Forcing the probe chunk below the query-set size exercises the
    two-step collect (chunk overflow -> byte-capped re-collect) and must
    land on the broadcast plan with identical results."""
    from panoptes_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.seed_centroids(emb, n_cells=16)
    q = emb.where(F.col("vec_id") % 10 == 0)
    base = sorted(
        map(tuple, similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect())
    )
    assert len(base) > 0
    monkeypatch.setattr(similarity, "PROBE_CHUNK_ROWS", 3)
    chunked = sorted(
        map(tuple, similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect())
    )
    assert chunked == base


def test_ivf_topk_byte_budget_forces_cogroup(spark, sf_dir, monkeypatch):
    """A zero byte budget must route past-chunk probe sets to the
    distributed cogroup plan (no second full-width collect) and still
    return the identical ranking."""
    from panoptes_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.seed_centroids(emb, n_cells=16)
    q = emb.where(F.col("vec_id") % 10 == 0)
    base = sorted(
        map(tuple, similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect())
    )
    monkeypatch.setattr(similarity, "PROBE_CHUNK_ROWS", 3)
    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERY_BYTES", 0)
    fallback = sorted(
        map(tuple, similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect())
    )
    assert fallback == base and len(base) > 0


def test_trainers_one_shape_on_shuffled_corpus(spark, sf_dir):
    """A shuffle-bearing corpus trains the same centroids and LM vocab
    as the raw read, and registers no persist."""
    from panoptes_spark.pipeline import dedup, similarity
    from panoptes_spark.pipeline.lm import train_bigram_lm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seeds = similarity.seed_centroids(emb, n_cells=8)
    dedup.release_materialized()

    def cents(corpus):
        rows = similarity.kmeans_refine(corpus, seeds, iters=1).collect()
        return sorted((r.cell_id, tuple(r.centroid)) for r in rows)

    assert cents(emb.repartition(7)) == cents(emb)
    vocab = [
        train_bigram_lm(d)[2].collect()[0][0]
        for d in (docs.repartition(7), docs)
    ]
    assert vocab[0] == vocab[1] > 0
    assert dedup._MATERIALIZED == []


def _churn_batches(spark):
    """Two batches over a bucket cap of 3: batch 1 pushes the tpl_a clone
    cluster over the cap, so its pairs retract and the component SPLITS,
    while the tpl_b cluster is untouched and keeps its batch-0 labels."""
    tpl_a = "identical template document body with enough words to shingle"
    tpl_b = "another shared boilerplate passage that also repeats verbatim"
    uniq = "totally different content number {} talking about other things"
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, tpl_a), (2, tpl_a), (30, tpl_b), (31, tpl_b), (50, uniq.format(0))],
        schema,
    )
    b1 = spark.createDataFrame(
        [(3, tpl_a), (4, tpl_a), (51, uniq.format(1))], schema
    )
    return b0, b1


def _canon(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("relabel", ["driver", "distributed"])
def test_near_dedup_stream_split_matches_rebuild(
    spark, tmp_path, monkeypatch, relabel
):
    """Tombstone churn through BOTH component-relabel tiers that run on
    churn: the driver-side union-find and, with its node cap forced to
    0, distributed strict propagation. Final pairs/components must equal
    a one-shot rebuild over the combined corpus."""
    from panoptes_spark.pipeline.dedup_index import build_dedup_index
    from panoptes_spark.streaming import dedup_stream

    if relabel == "distributed":
        monkeypatch.setattr(dedup_stream, "_UNIONFIND_MAX_NODES", 0)

    b0, b1 = _churn_batches(spark)
    base = str(tmp_path / "split_log")
    sink = dedup_stream.NearDedupIndexSink(base, max_bucket_size=3)
    sink(b0, 0)
    sink(b1, 1)
    log = sink.index(spark)
    assert log.tombstones().count() > 0, "cap crossing must retract pairs"

    full = build_dedup_index(
        b0.unionByName(b1), str(tmp_path / "split_full"), max_bucket_size=3
    )
    assert _canon(log.pairs()) == _canon(full.pairs())
    assert _canon(log.components()) == _canon(full.components())


def test_dedup_log_compaction_preserves_answers_small(spark, tmp_path):
    """Default-run representative of the slow compaction test, on the
    tombstone-churn corpus: after ``compact()`` the log answers pairs and
    components exactly as before and as a one-shot rebuild, with its
    tombstones applied and emptied."""
    from panoptes_spark.pipeline.dedup_index import build_dedup_index
    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    b0, b1 = _churn_batches(spark)
    sink = NearDedupIndexSink(str(tmp_path / "clog"), max_bucket_size=3)
    sink(b0, 0)
    sink(b1, 1)
    log = sink.index(spark)
    assert log.tombstones().count() > 0
    want_pairs, want_comps = _canon(log.pairs()), _canon(log.components())

    log.compact()
    assert log.state["batches"] == ["c1"]
    full = build_dedup_index(
        b0.unionByName(b1), str(tmp_path / "clog_full"), max_bucket_size=3
    )
    for got in (log, sink.index(spark)):
        assert _canon(got.pairs()) == want_pairs == _canon(full.pairs())
        assert (
            _canon(got.components()) == want_comps
            == _canon(full.components())
        )
        assert got.tombstones().count() == 0
