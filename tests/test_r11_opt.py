"""Focused tests for the round-11 optimization rewrites: the broadcast
IVF plans must rank identically to the cogroup plans they replace, the
fused assign+encode must equal the two-pass composition, and the
multi-p wide quantile must equal per-p calls."""

import pytest
from pyspark.sql import functions as F

from panoptes_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="r11-opt-tests")


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_ivf_topk_broadcast_equals_cogroup(spark, sf_dir, monkeypatch):
    """The bounded-probe broadcast plan (no corpus shuffle) must return
    the identical ranking to the cogroup plan — forced here by dropping
    the broadcast guard to zero rows."""
    from panoptes_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.seed_centroids(emb, n_cells=16)
    q = emb.where(F.col("vec_id") % 25 == 0)
    fast = sorted(
        map(tuple, similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect())
    )
    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERY_ROWS", 0)
    slow = sorted(
        map(
            tuple,
            similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect(),
        )
    )
    assert fast == slow and len(fast) > 0


def test_pq_assign_encode_equals_two_pass(spark, sf_dir):
    """The fused assign+encode pass must produce exactly the rows the
    separate ivf_assign + pq_encode + id-join composition produced."""
    from panoptes_spark.pipeline import pq, similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.seed_centroids(emb, n_cells=16)
    cbs = pq.pq_train(emb, m=8, n_codes=16)
    fused = sorted(
        (int(r["vec_id"]), int(r["cell_id"]), tuple(r["codes"]))
        for r in pq.pq_assign_encode(emb, cents, cbs).collect()
    )
    enc = pq.pq_encode(emb, cbs)
    two_pass = sorted(
        (int(r["vec_id"]), int(r["cell_id"]), tuple(r["codes"]))
        for r in similarity.ivf_assign(emb, cents, nprobe=1)
        .select("vec_id", "cell_id")
        .join(enc, "vec_id")
        .collect()
    )
    assert fused == two_pass and len(fused) > 0


def test_ivf_assign_keep_cols_passthrough(spark, sf_dir):
    """keep_cols must ride through the assignment unchanged and not
    perturb the (cell, cosine) result."""
    from panoptes_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.seed_centroids(emb, n_cells=8)
    tagged = emb.withColumn("__tag", F.col("vec_id") % 2 == 0)
    with_keep = {
        int(r["vec_id"]): (int(r["cell_id"]), bool(r["__tag"]))
        for r in similarity.ivf_assign(
            tagged, cents, nprobe=1, keep_cols=["__tag"]
        ).collect()
    }
    plain = {
        int(r["vec_id"]): int(r["cell_id"])
        for r in similarity.ivf_assign(emb, cents, nprobe=1).collect()
    }
    assert set(with_keep) == set(plain)
    for vid, (cell, tag) in with_keep.items():
        assert cell == plain[vid]
        assert tag == (vid % 2 == 0)


def test_grouped_quantiles_wide_multi_matches_single(spark):
    """One multi-p histogram pass must equal independent per-p wide
    calls (values spanning several coarse buckets and negatives)."""
    from panoptes_spark.pipeline.stats import grouped_quantiles_wide

    data = [("a", v) for v in [5, 70000, 131072, -70000, 3, 9] * 3] + [
        ("b", v) for v in range(-5, 40)
    ]
    frame = spark.createDataFrame(data, "src string, v long")
    multi = {
        r["src"]: r
        for r in grouped_quantiles_wide(
            frame, ["src"], "v", {"lo": 1 / 3, "hi": 2 / 3, "med": 0.5}
        ).collect()
    }
    for label, p in (("lo", 1 / 3), ("hi", 2 / 3), ("med", 0.5)):
        single = {
            r["src"]: (r["q_q"], r["n"])
            for r in grouped_quantiles_wide(
                frame, ["src"], "v", {"q": p}
            ).collect()
        }
        assert set(single) == set(multi)
        for src, (q, n) in single.items():
            assert multi[src][f"q_{label}"] == q, (label, src)
            assert multi[src]["n"] == n


def test_dsir_target_pred_equals_target_frame(spark, sf_dir):
    """dsir_logweights(target_pred=...) — the single-hashing-pass form —
    must return exactly the rows of the filtered-frame form."""
    from panoptes_spark.pipeline import selection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pred = "source IN ('src0', 'src1')"
    a = sorted(
        map(
            tuple,
            selection.dsir_logweights(docs, docs.where(pred)).collect(),
        )
    )
    b = sorted(
        map(tuple, selection.dsir_logweights(docs, target_pred=pred).collect())
    )
    assert a == b and len(a) > 0


def test_dsir_logweights_rejects_both_and_neither(spark, sf_dir):
    from panoptes_spark.pipeline import selection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        selection.dsir_logweights(docs)
    with pytest.raises(ValueError):
        selection.dsir_logweights(docs, docs, target_pred="source = 'src0'")
