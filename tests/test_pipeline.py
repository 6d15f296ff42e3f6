"""Unit tests for the training-data pipeline operators."""

import pytest

from pyspark.sql import functions as F

from panoptes_spark.pipeline import dedup, multimodal, similarity, text


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")], "id long, t string"
    )
    out = dedup.exact_dedup(df, ["t"], "id")
    assert {r.id for r in out.collect()} == {1, 3, 5}


def test_minhash_finds_shuffled_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    shuffled = "quick brown fox jumps over the lazy dog again and again today the"
    other = "completely different words about spark dataframes and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, shuffled), (3, other)], "doc_id long, text string"
    )
    pairs = dedup.minhash_dedup(df, threshold=0.5).collect()
    found = {(r.a, r.b) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_minhash_bucket_cap_bounds_boilerplate_cluster(spark):
    """Skew guard: a 1k-doc identical (boilerplate) cluster must NOT
    explode into ~500k pairwise candidates. With the default cap wired,
    the cluster skips the pair join and collapses through the
    representative route instead."""
    boiler = [(i, "terms of service apply to all users of this site always")
              for i in range(1000)]
    distinct = [(2000, "a completely different document about spark plans"),
                (2001, "another unrelated text mentioning catalyst optimizer")]
    df = spark.createDataFrame(boiler + distinct, "doc_id long, text string")

    # default cap: zero pairs from the oversized cluster
    pairs = dedup.minhash_dedup(df, threshold=0.5)
    assert pairs.count() == 0

    # the representative route sees all 1000 members under one rep
    sig = dedup.minhash_signature(df)
    big = dedup.oversized_bucket_clusters(sig)
    rows = big.collect()
    assert len(rows) == 1000
    assert {r.rep_id for r in rows} == {0}

    # end-to-end: 1 survivor for the cluster + the 2 distinct docs
    kept = dedup.minhash_dedup_keep(df, threshold=0.5)
    assert {r.doc_id for r in kept.collect()} == {0, 2000, 2001}

    # uncapped (None) would generate the full O(k^2) candidate set —
    # sanity-check the cap is what bounds it, on a smaller cluster
    small = spark.createDataFrame(boiler[:30], "doc_id long, text string")
    uncapped = dedup.minhash_dedup(small, threshold=0.5, max_bucket_size=None)
    assert uncapped.count() == 30 * 29 // 2
    capped = dedup.minhash_dedup(small, threshold=0.5, max_bucket_size=10)
    assert capped.count() == 0


def test_simhash_close_for_similar(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    sim = dedup.simhash(df)
    pairs = dedup.simhash_hamming_pairs(sim, max_hamming=8).collect()
    hm = {(r.a, r.b): r.hamming for r in pairs}
    if (1, 2) in hm and (1, 3) in hm:
        assert hm[(1, 2)] < hm[(1, 3)]
    else:
        assert (1, 2) in hm  # similar docs must collide on some band


def test_ann_bruteforce_self_similarity(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((10, [1.0, 0.1, 0.0, 0.0]))  # near vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=1)
    top = out.collect()[0]
    assert top.nbr_id == 10 and top.rank == 1


def test_ivf_recall_on_clusters(spark):
    # two tight clusters; IVF with 2 cells must retrieve within-cluster nbrs
    rows = []
    for i in range(10):
        rows.append((i, [1.0 + i * 0.01, 0.0, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, 0.0, 1.0 + i * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "cell_id int, centroid array<float>",
    )
    out = similarity.ivf_topk(df, df.where(F.col("vec_id") == 0), cents, k=3, nprobe=1)
    nbrs = {r.nbr_id for r in out.collect()}
    assert nbrs <= set(range(10)) and len(nbrs) == 3


def test_kmeans_refine_converges_and_keeps_empty_cells(spark):
    """Two tight clusters + one far-off seed: after 2 Lloyd rounds the
    live centroids sit at the (rounded) cluster means and the cell that
    never attracts a vector keeps its seed centroid verbatim."""
    rows = [(i, [10.0 + i, 0.0]) for i in range(4)]          # mean x=11.5
    rows += [(100 + i, [0.0, 20.0 + i]) for i in range(4)]   # mean y=21.5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, -1.0])],
        "cell_id int, centroid array<float>",
    )
    out = {
        r.cell_id: r.centroid
        for r in similarity.kmeans_refine(df, cents, iters=2).collect()
    }
    assert out[0] == [11.5, 0.0]
    assert out[1] == [0.0, 21.5]
    assert out[2] == [-1.0, -1.0]  # empty cell: Lloyd keeps the seed


def test_seed_centroids_plan_and_determinism(spark):
    """Centroid seeding must plan as TakeOrderedAndProject (partition-
    local top-n) — never a global row_number window that drags the whole
    corpus to one partition."""
    rows = [(int(i), [float(i), 1.0]) for i in (5, 3, 9, 1, 7, 2)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(4)
    plan = (
        similarity.seed_limit_frame(df, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan

    cents = similarity.seed_centroids(df, n_cells=3).collect()
    got = [(r.cell_id, r.centroid[0]) for r in sorted(cents)]
    assert got == [(0, 1.0), (1, 2.0), (2, 3.0)]  # 3 smallest ids, 0-based


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog went to the park for a walk"),
         (2, "el perro y el gato que viven en la casa"),
         (3, "der hund und die katze sind nicht zu hause"),
         (4, "zzz qqq xxx www")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.add_language_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, this is a test with 42 tokens!")],
        "doc_id long, text string",
    )
    r = text.add_quality_features(text.add_token_counts(df)).collect()[0]
    assert r.n_tokens_ws == 9
    # bpe: Hello world , this is a test with 4 2 tokens !  -> 12
    assert r.n_tokens_bpe == 12
    assert 0.0 < r.quality_score <= 1.0


def test_multimodal_feature_extraction(spark):
    media = multimodal.synth_media_df(spark, n=12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    by_id = {r.media_id: r for r in feats}
    sizes = {
        r.media_id: len(r.payload)
        for r in media.select("media_id", "payload").collect()
    }
    assert {i: r.n_bytes for i, r in by_id.items()} == sizes
    assert len(by_id[0].features) == multimodal.FEATURE_DIM
    # every synthetic payload decodes through a REAL codec — no fakes
    assert {r.decoder for r in feats} == {"bmp", "ppm", "wav", "y4m"}
    # image 0 is a horizontal x-gradient -> strip means must increase
    f0 = by_id[0].features
    assert f0 == sorted(f0) and f0[0] < f0[-1]
    # determinism: same payload -> same sha1/features
    again = multimodal.extract_features(media).collect()
    assert {r.media_id: r.sha1 for r in again} == {
        r.media_id: r.sha1 for r in feats}


def test_multimodal_arrow_batch_bounding(spark):
    """maxRecordsPerBatch must bound the Arrow batches the extractor
    sees — the memory-safety knob for multi-MB payloads."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    multimodal.limit_arrow_batch_rows(spark, 5)
    try:
        media = multimodal.synth_media_df(spark, n=40).coalesce(1)
        rows = multimodal.extract_features(media).collect()
        assert max(r.batch_rows for r in rows) <= 5
        # native codecs handle every synthetic payload without PIL
        assert {r.decoder for r in rows} <= {"bmp", "ppm", "wav", "y4m"}
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", prev
            )


def test_multimodal_binary_dedup_and_neardup(spark):
    media = multimodal.synth_media_df(spark, n=12)
    # clone payload of media 0 under a new id -> exact dup
    clone = media.where(F.col("media_id") == 0).withColumn(
        "media_id", F.lit(100).cast("long")
    )
    both = media.unionByName(clone)
    kept = {r.media_id for r in multimodal.media_dedup_exact(both).collect()}
    assert 0 in kept and 100 not in kept and len(kept) == 12

    # identical payloads -> identical features -> cosine 1.0 pair
    pairs = multimodal.media_neardup_pairs(both, threshold=0.999).collect()
    assert {(r.a, r.b) for r in pairs} == {(0, 100)}


def test_multimodal_size_aware_repartition(spark):
    media = multimodal.synth_media_df(spark, n=30)
    # tiny target -> byte-driven partition count, not row-driven
    out = multimodal.repartition_by_payload_size(
        media, target_bytes_per_partition=200
    )
    total = sum(
        r.b for r in media.select(
            F.length("payload").alias("b")).collect()
    )
    expected = -(-total // 200)
    assert out.rdd.getNumPartitions() == expected


def test_multimodal_frame_sampling(spark):
    media = multimodal.synth_media_df(spark, n=12)
    frames = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = frames.collect()
    assert all(r.frame_ts_ms % 1000 == 0 for r in rows)
    vids = media.where(F.col("media_type") == "video").count()
    assert frames.select("media_id").distinct().count() == vids


def test_connected_components_transitive(spark):
    from panoptes_spark.pipeline.components import (
        connected_components,
        dedup_exact_components,
    )

    # chain 1-2-3 plus pair 10-11 plus isolated 20
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 20)], "doc_id long, text string"
    )
    comp = {r.node: r.component
            for r in connected_components(pairs, docs.select("doc_id")).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    kept = {r.doc_id for r in dedup_exact_components(docs, pairs).collect()}
    assert kept == {1, 10, 20}


def test_pushdown_reaches_parquet_scan(spark, tmp_path):
    from panoptes_spark.dsl.resource_filter import ResourceFilter

    df = spark.createDataFrame(
        [("dc1", "network", "sub", "cisco", "r1", "e", 1.0, "p", {"make": "Cisco"})],
        "resource_site string, resource_class string, resource_subclass string,"
        " resource_type string, resource_id string, resource_endpoint string,"
        " resource_creation_timestamp double, resource_plugin string,"
        " resource_metadata map<string,string>",
    )
    path = str(tmp_path / "resources")
    df.write.parquet(path)
    rf = ResourceFilter('resource_site = "dc1" AND resource_class = "network"')
    out = spark.read.parquet(path).where(F.expr(rf.to_spark_sql()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # direct-field DSL predicates must reach the parquet scan
    assert "PushedFilters" in plan
    assert "EqualTo(resource_site,dc1)" in plan


def test_partition_pruning_on_site(spark, tmp_path):
    """S6 at scale: a site-partitioned store + DSL site filter must prune
    partitions, not scan them."""
    from panoptes_spark.dsl.resource_filter import ResourceFilter

    df = spark.createDataFrame(
        [(f"dc{i % 3}", f"r{i}") for i in range(30)],
        "resource_site string, resource_id string",
    )
    path = str(tmp_path / "store")
    df.write.partitionBy("resource_site").parquet(path)

    rf = ResourceFilter('resource_site = "dc1"')
    out = spark.read.parquet(path).where(F.expr(rf.to_spark_sql()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "resource_site" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert out.count() == 10


def test_lsh_topk_recall_on_clusters(spark):
    """Tight clusters land in the same hyperplane sign buckets: LSH top-k
    from a cluster member must retrieve within-cluster neighbors only."""
    rows = []
    for i in range(10):
        rows.append((i, [1.0 + i * 0.01, 0.02 * i, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, 0.02 * i, 1.0 + i * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.lsh_topk(
        df, df.where(F.col("vec_id") == 0), dim=4, k=3, n_planes=8, bands=4
    )
    got = out.collect()
    nbrs = {r.nbr_id for r in got}
    assert nbrs <= set(range(10)) and len(nbrs) == 3
    assert all(r.cosine > 0.99 for r in got)


def test_lsh_band_codes_narrow_and_deterministic(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0]), (2, [1.0, -1.0]), (3, [-1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.lsh_hyperplanes(2, 4)
    codes = similarity.lsh_band_codes(df, planes, bands=2)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection + explode, no shuffle
    rows = codes.collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append((r.band, r.code))
    assert by_vec[1] == by_vec[2]      # identical vectors, identical codes
    assert by_vec[1] != by_vec[3]      # opposite vectors differ somewhere


# -- deterministic splits / packing / vocabulary ----------------------------

def test_global_quantiles_type1_and_outlier_filter(spark):
    """Type-1 semantics on a known distribution (incl. duplicates and
    p=1.0 = max), no unpartitioned window in the plan, and the
    winsorizing filter keeps exactly the in-range rows."""
    from panoptes_spark.pipeline.stats import (
        filter_by_quantile_range, global_quantiles,
    )

    vals = [1] * 5 + [2] * 3 + [10] * 1 + [100] * 1  # N=10
    df = spark.createDataFrame([(v,) for v in vals], "x long").repartition(4)
    q = global_quantiles(df, "x", [0.5, 0.8, 0.9, 1.0])
    got = {r.p: r.q for r in q.collect()}
    # ceil(p*10) = 5, 8, 9, 10 -> cum counts 5(at 1), 8(at 2), 9(at 10), 10(at 100)
    assert got == {0.5: 1, 0.8: 2, 0.9: 10, 1.0: 100}

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort " not in plan.split("Exchange")[0]

    kept = sorted(
        r.x for r in filter_by_quantile_range(df, "x", 0.5, 0.9).collect()
    )
    assert kept == [1] * 5 + [2] * 3 + [10]  # 100 trimmed, lows kept

    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_quantiles(df, "x", [0.0])


def test_skew_report_shares(spark):
    from panoptes_spark.pipeline.stats import skew_report

    df = spark.createDataFrame(
        [("hot", i) for i in range(8)] + [("a", 1), ("b", 2)],
        "k string, v long",
    )
    rows = skew_report(df, ["k"], top_n=2).collect()
    assert [r.k for r in rows] == ["hot", "a"]  # count desc, key asc tiebreak
    assert rows[0].n_rows == 8 and rows[0].share == 0.8
    assert rows[0].n_keys == 3


def test_novel_docs_exact_and_prefilter_effective(spark):
    """Bloom path result == plain anti-join (exactness regardless of
    fpp), and the prefilter passes the vast majority of novel docs
    without reaching the join (no false negatives by construction)."""
    from panoptes_spark.pipeline.bloom import (
        bloom_params, build_fp_bloom, novel_docs,
    )

    seen = spark.createDataFrame(
        [(i, f"seen document number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1000 + i, f"fresh document number {i}") for i in range(100)]
        + [(2000 + i, f"seen document number {i}") for i in range(0, 200, 4)],
        "doc_id long, text string",
    )
    exact = {r.doc_id for r in novel_docs(new, seen, use_bloom=False).collect()}
    bloom = {r.doc_id for r in novel_docs(new, seen, fpp=0.01).collect()}
    assert bloom == exact == {1000 + i for i in range(100)}

    from panoptes_spark.pipeline.dedup import normalize_text_col

    m, k = bloom_params(200, 0.01)
    assert m % 8 == 0 and k >= 1
    bm = build_fp_bloom(
        seen.withColumn("__fp", F.md5(normalize_text_col("text"))), m, k
    )
    assert any(b != 0 for b in bm)


def test_bm25_ranking_semantics(spark):
    """Rarer query terms outrank common ones (idf), more mentions beat
    fewer (tf), and docs without any query term never appear. Plan stays
    window-free (top-k via TakeOrderedAndProject)."""
    from panoptes_spark.pipeline.search import bm25_search

    rows = [
        (1, "rare topic here " + "filler " * 20),
        (2, "common common common " + "filler " * 20),
        (3, "common word soup " + "filler " * 20),
        (4, "filler " * 23),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, ["rare", "common"], k=10)
    ranked = [r.doc_id for r in out.collect()]
    assert 4 not in ranked
    assert ranked[0] == 1          # df('rare')=1 < df('common')=2 -> higher idf
    assert ranked.index(2) < ranked.index(3)  # tf 3 beats tf 1

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "Window" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(df, [])


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token appears in some chunk; neighbors share exactly
    `overlap` tokens; short docs yield one chunk; stride boundary cases
    (n == max, n == max+1) split correctly."""
    from panoptes_spark.pipeline.text import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    df = spark.createDataFrame(
        [(1, words(10)), (2, words(8)), (3, words(9)), (4, "solo"), (5, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=8, overlap=2)  # stride 6
    chunks = {}
    for r in out.collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ")

    assert [len(c) for _, c in sorted(chunks[1].items())] == [8, 4]
    assert chunks[1][0][-2:] == chunks[1][1][:2]        # 2-token overlap
    assert sorted(set(w for c in chunks[1].values() for w in c)) == sorted(
        f"w{i}" for i in range(10)
    )                                                    # full coverage
    assert list(chunks[2]) == [0] and len(chunks[2][0]) == 8   # n == max
    assert [len(c) for _, c in sorted(chunks[3].items())] == [8, 3]  # n == max+1
    assert chunks[4] == {0: ["solo"]}
    assert 5 in chunks                                   # empty doc: 1 chunk

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_weighted_sample_semantics_and_plan(spark):
    """Efraimidis–Spirakis top-k: deterministic across re-runs, a
    dominating weight always wins, non-positive weights are excluded,
    and the plan is TakeOrderedAndProject (local top-k, no global
    sort/window)."""
    from panoptes_spark.pipeline.splits import weighted_sample

    rows = [(i, 1.0) for i in range(50)] + [(999, 1e9), (1000, 0.0), (1001, -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    picked = weighted_sample(df, k=5, weight_col="w", salt="t1")
    ids = {r.doc_id for r in picked.collect()}
    assert 999 in ids                        # ln(u)/1e9 ~ 0 beats every unit weight
    assert ids.isdisjoint({1000, 1001})      # w <= 0 never sampled
    assert len(ids) == 5
    again = {r.doc_id for r in weighted_sample(df, k=5, weight_col="w", salt="t1").collect()}
    assert again == ids                      # pure function of (salt, id, w)

    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_assign_split_deterministic_and_complete(spark):
    from panoptes_spark.operators.schedule import murmur3_x86_32
    from panoptes_spark.pipeline.splits import N_BUCKETS, assign_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = assign_split(df, "doc_id", salt="v1").collect()
    assert len(out) == 500
    for r in out:
        b = murmur3_x86_32(f"v1:{r['doc_id']}") % N_BUCKETS
        assert r["split_bucket"] == b
        exp = "train" if b < 9800 else ("val" if b < 9900 else "test")
        assert r["split"] == exp
    # rough uniformity: train should dominate
    n_train = sum(1 for r in out if r["split"] == "train")
    assert n_train > 450


def test_hash_sample_stable_under_append(spark):
    from panoptes_spark.pipeline.splits import hash_sample

    base = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    more = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    kept1 = {r["doc_id"] for r in hash_sample(base, 0.25).collect()}
    kept2 = {r["doc_id"] for r in hash_sample(more, 0.25).collect()}
    # appending rows never changes membership of existing ids
    assert kept1 == {i for i in kept2 if i < 300}


def test_sample_per_group_exact_k_and_layout_independent(spark):
    from panoptes_spark.operators.schedule import murmur3_x86_32
    from panoptes_spark.pipeline.splits import sample_per_group

    rows = [(i, "g%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    picked = sample_per_group(df, ["grp"], 4).collect()
    by_grp: dict[str, list[int]] = {}
    for r in picked:
        by_grp.setdefault(r["grp"], []).append(r["doc_id"])
    assert all(len(v) == 4 for v in by_grp.values()) and len(by_grp) == 3
    # membership is exactly the 4 lowest murmur3(salt:id) per group
    for g, ids in by_grp.items():
        pool = sorted(
            (murmur3_x86_32(f"gsample:{i}"), i)
            for i in range(90)
            if "g%d" % (i % 3) == g
        )
        assert sorted(ids) == sorted(i for _, i in pool[:4])
    # repartitioning must not change the picks
    again = {
        (r["grp"], r["doc_id"])
        for r in sample_per_group(df.repartition(7), ["grp"], 4).collect()
    }
    assert again == {(r["grp"], r["doc_id"]) for r in picked}


def test_stratified_sample_rates(spark):
    from panoptes_spark.pipeline.splits import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, {"en": 0.2}, "lang").groupBy("lang").count()
    counts = {r["lang"]: r["count"] for r in out.collect()}
    assert counts["de"] == 500              # untouched stratum
    assert 60 <= counts["en"] <= 140        # ~20% of 500, hash variance


def test_pack_sequences_invariants(spark):
    from panoptes_spark.pipeline.packing import pack_sequences

    rows = [(i, "s%d" % (i % 2), 10 + (i * 37) % 300) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = pack_sequences(df, 128, shard_cols=["source"]).collect()
    by_shard: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        by_shard.setdefault(r["source"], []).append(r)
    for shard, rs in by_shard.items():
        expected_start = 0
        for r in rs:
            # contiguous: each doc starts where the previous one ended
            assert r["tok_start"] == expected_start
            assert r["seq_first"] == r["tok_start"] // 128
            assert r["seq_offset"] == r["tok_start"] % 128
            end = r["tok_start"] + max(r["n_tokens"], 1) - 1
            assert r["seq_last"] == end // 128 >= r["seq_first"]
            expected_start += r["n_tokens"]


def test_pack_sequences_requires_sharding(spark):
    import pytest

    from panoptes_spark.pipeline.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="shard_cols"):
        pack_sequences(df, 128)
    assert pack_sequences(df, 128, allow_global=True).count() == 1


def test_token_frequencies_topk_deterministic(spark):
    from panoptes_spark.pipeline.text import token_frequencies

    df = spark.createDataFrame(
        [(1, "b b a a c"), (2, "a b. C!")], "doc_id long, text string"
    )
    out = [(r["token"], r["n"]) for r in token_frequencies(df, "text", k=3).collect()]
    # a:3 b:3 c:2 -> tie between a and b broken by token asc
    assert out == [("a", 3), ("b", 3), ("c", 2)]


def test_repetition_features_exact(spark):
    from panoptes_spark.pipeline.text import add_repetition_features

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # 1 distinct / 4 words, 1 distinct bigram of 3
            (2, "a b c d"),          # all distinct
            (3, ""),                 # empty
            (4, "x y x y x"),        # bigrams: xy yx xy yx -> 2 distinct of 4
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in add_repetition_features(df).collect()}
    assert out[1]["dup_word_frac"] == 1 - 1 / 4
    assert out[1]["dup_2gram_frac"] == 1 - 1 / 3
    assert out[1]["top_word_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["top_word_frac"] == 1 / 4
    assert out[3]["dup_word_frac"] == 0.0 and out[3]["top_word_frac"] == 0.0
    assert out[4]["dup_word_frac"] == 1 - 2 / 5
    assert out[4]["dup_2gram_frac"] == 1 - 2 / 4
    assert out[4]["top_word_frac"] == 3 / 5


def test_ngram_decontamination(spark):
    from panoptes_spark.pipeline.decontaminate import (
        decontaminate,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 8-gram "quick brown fox jumps over the lazy dog"
            (1, "he said quick brown fox jumps over the lazy dog again"),
            # no 8-gram overlap
            (2, "completely different words with no overlap at all here today"),
            # shorter than 8 words -> no grams at all
            (3, "too short for any gram"),
        ],
        "doc_id long, text string",
    )
    flagged = {r["doc_id"]: r["n_shared"]
               for r in ngram_contamination(corpus, bench, n=8).collect()}
    assert set(flagged) == {1} and flagged[1] >= 1

    kept = {r["doc_id"] for r in decontaminate(corpus, bench, n=8).collect()}
    assert kept == {2, 3}


def test_packing_matches_python_reference_property(spark):
    """Property: for random token sequences, pack_sequences equals a
    direct python simulation of concat-then-chunk packing."""
    import random

    from panoptes_spark.pipeline.packing import pack_sequences

    rng = random.Random(23)
    for trial in range(3):
        seq_len = rng.choice([64, 128, 1000])
        rows = [
            (i, "s%d" % (i % 3), rng.randint(0, 4 * seq_len))
            for i in range(rng.randint(1, 120))
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        got = {
            r["doc_id"]: r
            for r in pack_sequences(df, seq_len, shard_cols=["source"]).collect()
        }
        # python reference
        for shard in {"s0", "s1", "s2"}:
            cursor = 0
            for doc_id, src, toks in sorted(rows):
                if src != shard:
                    continue
                r = got[doc_id]
                assert r["tok_start"] == cursor
                assert r["seq_first"] == cursor // seq_len
                assert r["seq_last"] == (cursor + max(toks, 1) - 1) // seq_len
                assert r["seq_offset"] == cursor % seq_len
                cursor += toks


def test_split_fractions_converge(spark):
    """Property: split sizes converge to requested fractions (law of large
    numbers over the murmur3 buckets) and splits are disjoint+exhaustive."""
    from panoptes_spark.pipeline.splits import assign_split

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    out = (
        assign_split(df, "doc_id", salt="conv",
                     fractions=(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("split").count().collect()
    )
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    assert abs(counts["test"] / 20000 - 0.1) < 0.01


def test_scrub_pii_patterns(spark):
    from panoptes_spark.pipeline.text import scrub_pii

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org or call 123456789012"),
        (2, "server 10.0.255.3 and 8.8.8.8 ok; short 12345678 stays"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert got[1].text_scrubbed == "mail me at <EMAIL> or call <ID>"
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_idnum) == (1, 0, 1)
    # 8-digit run is below the >=9 threshold and survives
    assert got[2].text_scrubbed == "server <IP> and <IP> ok; short 12345678 stays"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_idnum) == (0, 2, 0)
    assert got[3].text_scrubbed == "no pii here"


def test_dedup_exact_stream_cross_batch(spark, tmp_path):
    """Duplicates arriving in LATER micro-batches are dropped by the
    watermark-bounded fingerprint state (dropDuplicatesWithinWatermark)."""
    from panoptes_spark.streaming.dedup_stream import dedup_exact_stream

    schema = "doc_id long, ts_ms long, text string"
    b1 = spark.createDataFrame(
        [(1, 1000, "alpha beta"), (2, 2000, "gamma delta")], schema
    )
    b2 = spark.createDataFrame(
        [(3, 3000, "Alpha,  BETA!"),  # same fingerprint as doc 1
         (4, 4000, "epsilon zeta")], schema
    )
    src = str(tmp_path / "dedup_src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .parquet(src)
    )
    q = (
        dedup_exact_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("SELECT doc_id, fingerprint FROM dedup_stream").collect()
    fps = [r.fingerprint for r in out]
    assert len(fps) == len(set(fps)) == 3  # alpha-beta kept once
    kept = {r.doc_id for r in out}
    assert 4 in kept and 2 in kept and len({1, 3} & kept) == 1


def test_quality_filter_reasons(spark):
    from panoptes_spark.pipeline.text import filter_quality

    rows = [
        (1, "a b"),                                        # < 5 tokens
        (2, ",,,, !!!! ;;;; :::: ####"),                   # punct-heavy (also short? 5 tokens)
        (3, "go go go go go go go go go go go go"),        # repetitive bigrams
        (4, "the cat and the dog ran to the park with a friend and "
            "they played for hours in the warm sun that day"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in filter_quality(df).collect()}
    assert got[1].reject_reason == "too_short" and not got[1].keep
    assert got[2].reject_reason == "high_punct"
    assert got[3].reject_reason == "repetitive"
    assert got[4].keep and got[4].reject_reason is None


def test_url_domain_ops(spark):
    from panoptes_spark.pipeline.text import (
        add_url_features, domain_frequencies, filter_by_domain_blocklist,
    )

    rows = [
        (1, "read https://a.example.com/x and https://b.example.com/y"),
        (2, "only http://a.example.com here"),
        (3, "no links at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = {r.doc_id: r for r in add_url_features(df).collect()}
    assert (feats[1].n_urls, feats[1].first_domain) == (2, "a.example.com")
    assert (feats[2].n_urls, feats[2].first_domain) == (1, "a.example.com")
    assert (feats[3].n_urls, feats[3].first_domain) == (0, None)

    freqs = {r.domain: r.n for r in domain_frequencies(df).collect()}
    assert freqs == {"a.example.com": 2, "b.example.com": 1}

    block = spark.createDataFrame([("a.example.com",)], "domain string")
    kept = {r.doc_id for r in filter_by_domain_blocklist(df, block).collect()}
    assert kept == {3}  # doc 1's FIRST domain is a.example.com -> dropped


def test_line_dedup_first_occurrence(spark):
    from panoptes_spark.pipeline.dedup import line_dedup

    rows = [
        (1, "unique one\nshared footer\nunique two"),
        (2, "shared footer\nunique three"),
        (3, "shared footer"),  # every line a repeat -> doc drops out
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in line_dedup(df).collect()}
    assert got == {
        1: "unique one\nshared footer\nunique two",  # first occurrence kept
        2: "unique three",
    }


def test_training_shard_writer_roundtrip(spark, tmp_path):
    from panoptes_spark.pipeline.splits import assign_shard, write_training_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
    )
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=4)

    import os
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    # each shard dir written by a single task -> one data file
    for d in dirs:
        files = [f for f in os.listdir(f"{out}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = spark.read.parquet(out)
    assert back.count() == 500
    # membership is the deterministic hash, not write-order
    expected = {
        (r.doc_id, r.shard) for r in assign_shard(df, 4).collect()
    }
    got = {(r.doc_id, r.shard) for r in back.collect()}
    assert got == expected


def test_semdedup_prunes_within_cluster(spark):
    from panoptes_spark.pipeline.similarity import semdedup_prune

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.0]),     # dup pair -> 2 dropped
        (3, [0.0, 1.0]), (4, [0.0, 1.0]),     # dup pair -> 4 dropped
        (5, [0.7, 0.7]),                       # near both, dup of neither
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r.vec_id
        for r in semdedup_prune(df, n_cells=2, threshold=0.95).collect()
    }
    assert kept == {1, 3, 5}


def test_paragraph_dedup_with_custom_sep(spark):
    from panoptes_spark.pipeline.dedup import line_dedup

    rows = [
        (1, "first para\n\nshared para"),
        (2, "shared para\n\nsecond para"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in line_dedup(df, sep="\n\n").collect()}
    assert got == {1: "first para\n\nshared para", 2: "second para"}


def test_curation_ops_run_on_streams(spark, tmp_path):
    """The stateless curation chain (PII scrub -> quality filter -> URL
    features) is pure column expressions, so the SAME functions must
    apply unchanged to a streaming DataFrame."""
    from panoptes_spark.pipeline.text import (
        add_url_features, filter_quality, scrub_pii,
    )

    schema = "doc_id long, text string"
    df = spark.createDataFrame(
        [(1, "mail a@b.co at https://x.example.com, "
             "the cat and the dog ran to the park with a friend and "
             "they played for hours in the warm sun that day"),
         (2, "a b")],
        schema,
    )
    src = str(tmp_path / "cur_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = add_url_features(filter_quality(scrub_pii(stream), "text_scrubbed"))
    q = (
        out.select("doc_id", "n_email", "n_urls", "keep", "reject_reason")
        .writeStream.format("memory")
        .queryName("curation_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.doc_id: r
        for r in spark.sql("SELECT * FROM curation_stream").collect()
    }
    assert got[1].n_email == 1 and got[1].n_urls == 1 and got[1].keep
    assert not got[2].keep and got[2].reject_reason == "too_short"


def test_nfc_and_compression_ratio(spark):
    import unicodedata
    import zlib

    from panoptes_spark.pipeline.text import (
        add_compression_ratio, add_nfc_normalized,
    )

    decomposed = "Café ö"
    rows = [(1, decomposed), (2, "go go go go go go go go"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: r for r in add_nfc_normalized(df).collect()}
    assert got[1].text_nfc == unicodedata.normalize("NFC", decomposed)
    assert got[1].text_nfc != decomposed  # composition actually happened

    got = {r.doc_id: r for r in add_compression_ratio(df).collect()}
    for i, t in rows:
        raw = t.encode("utf-8")
        expect = 1.0 if not raw else round(len(zlib.compress(raw, 6)) / len(raw), 6)
        assert got[i].compression_ratio == expect
    # repetitive text compresses harder than mixed text
    assert got[2].compression_ratio < got[1].compression_ratio


def test_temperature_sample_flattens_sources(spark):
    from panoptes_spark.pipeline.splits import temperature_sample

    # 1900 'big' vs 100 'small' docs; alpha=0.5 should keep a much larger
    # FRACTION of the small source than of the big one
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1900, "big").otherwise("small").alias("src"),
    )
    out = temperature_sample(df, "src", target_rows=500, alpha=0.5)
    counts = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    frac_big = counts["big"] / 1900
    frac_small = counts["small"] / 100
    assert frac_small > 2 * frac_big  # sqrt flattening upweights 19x-smaller source
    total = sum(counts.values())
    assert 400 <= total <= 600  # expected ~target_rows
    # determinism: exact same membership on re-run
    again = {r.doc_id for r in temperature_sample(df, "src", 500, 0.5).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_temperature_sample_token_weighted(spark):
    from panoptes_spark.pipeline.splits import temperature_sample

    # 'big' has few docs but huge token mass; weighting by tokens must
    # shrink big's keep fraction vs the row-count weighting
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, "big").otherwise("small").alias("src"),
        F.when(F.col("id") < 500, 1000).otherwise(10).alias("n_tokens"),
    )
    by_tokens = temperature_sample(
        df, "src", target_rows=100_000, alpha=0.5, weight_col="n_tokens"
    )
    kept_tokens = {
        r.src: r.s
        for r in by_tokens.groupBy("src").agg(F.sum("n_tokens").alias("s")).collect()
    }
    total = sum(kept_tokens.values())
    assert 80_000 <= total <= 120_000  # expected ~target token mass
    # sqrt flattening: small source keeps ~10x the token fraction of big
    assert kept_tokens["small"] / 5_000 > 2 * (kept_tokens["big"] / 500_000)


def test_corpus_stats_and_group_cap(spark):
    from panoptes_spark.pipeline.text import cap_per_group, corpus_stats

    rows = [(i, "s1" if i < 8 else "s2", "w " * (i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    stats = {r.lang: r for r in corpus_stats(df, "lang").collect()}
    assert stats["s1"].n_docs == 8 and stats["s2"].n_docs == 2
    # 'w ' * n -> n 'w' tokens (trailing space trimmed); s2 docs have 9,10
    assert stats["s2"].p50_tokens == 9.5 and stats["s2"].n_tokens == 19

    scored = df.withColumn("quality_score", F.col("doc_id").cast("double"))
    capped = cap_per_group(scored, "lang", 3)
    got = {(r.lang, r.doc_id) for r in capped.collect()}
    # top-3 by quality desc per group
    assert got == {("s1", 7), ("s1", 6), ("s1", 5), ("s2", 8), ("s2", 9)}


def test_approx_distinct_sketch_within_tolerance(spark):
    """HyperLogLog++ distinct sketch (approx_count_distinct): no SQL
    oracle can hash-match an approximation, so pin it by tolerance
    against the exact count — the standard rsd contract (default 5%)."""
    df = spark.range(0, 20000).select((F.col("id") % 5000).alias("v"))
    row = df.agg(
        F.approx_count_distinct("v").alias("approx"),
        F.count_distinct("v").alias("exact"),
    ).collect()[0]
    assert row.exact == 5000
    assert abs(row.approx - row.exact) / row.exact < 0.10  # 2x default rsd


def test_lm_perplexity_ranks_fluency(spark):
    """A bigram LM trained on a repetitive corpus must score in-domain
    word order lower (better) than scrambled order, and unseen-vocab
    docs worst; hand-checked smoothed probability on a tiny case."""
    import math

    from panoptes_spark.pipeline.lm import score_documents, train_bigram_lm

    corpus = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)]
        + [(10 + i, "the dog sat on the rug") for i in range(5)],
        "doc_id long, text string",
    )
    uni, bi, vocab = train_bigram_lm(corpus)
    probe = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),   # in-domain order
            (101, "mat the on sat cat the"),   # same words, scrambled
            (102, "zebra quantum flux banana"),  # unseen vocabulary
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.avg_neg_logp
        for r in score_documents(probe, uni, bi, vocab).collect()
    }
    # fluent in-domain text beats both degenerate probes; note the
    # scrambled doc scores WORSE than the short unseen-vocab doc — add-k
    # smoothing gives unseen contexts a mild floor (0.5/(0+0.5V)), while
    # scrambling burns known, well-populated contexts
    assert got[100] < got[101] and got[100] < got[102]

    # exact hand computation, e.g. doc 100's first bigram (<s>, the):
    # p = (c(<s>,the)+0.5) / (c(<s>)+0.5*V) = 10.5 / (10+4), V=8
    def p(cb, cu):
        return -math.log((cb + 0.5) / (cu + 0.5 * 8))

    want_100 = round(
        (p(10, 10) + p(5, 20) + p(5, 5) + p(10, 10) + p(10, 10) + p(5, 20))
        / 6,
        6,
    )
    assert got[100] == want_100


def test_binned_quantiles_error_bound(spark):
    """Binned quantiles sit within one bin_width of the exact type-1
    quantile, and reject non-positive widths."""
    import pytest as _pytest

    from panoptes_spark.pipeline.stats import binned_quantiles

    vals = [float(i) / 7 for i in range(1000)]  # 0 .. ~142.7
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.p: r.q for r in binned_quantiles(df, "x", [0.5, 0.9], 0.5).collect()}
    exact = {0.5: vals[499], 0.9: vals[899]}  # type-1 on distinct values
    for p in exact:
        assert abs(got[p] - exact[p]) <= 0.5

    with _pytest.raises(ValueError):
        binned_quantiles(df, "x", [0.5], 0.0)


def test_zorder_export_clusters_both_dims(spark, tmp_path):
    """Morton codes interleave exactly (hand-checked bits), and a
    Z-order export clusters BOTH key columns: every output file's
    bounding box covers a small fraction of each dimension, unlike a
    single-column sort where the second dim spans the full range."""
    from panoptes_spark.pipeline.layout import add_morton_code, zorder_export

    # hand-checked interleave: x=0b11 -> even bits 0,2 (=5);
    # y=0b10 -> odd bits: bit1 of y lands at position 3 (=8) -> 13
    one = spark.createDataFrame([(3, 2)], "x long, y long")
    assert add_morton_code(one, "x", "y").collect()[0].zorder == 0b1101

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)
    out = str(tmp_path / "z")
    zorder_export(df, out, "x", "y", n_files=16)

    import glob

    spans_x, spans_y = [], []
    for f in glob.glob(out + "/part-*.parquet"):
        pdf = spark.read.parquet(f).agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).collect()[0]
        spans_x.append(pdf[1] - pdf[0])
        spans_y.append(pdf[3] - pdf[2])
    # 16 files over a 64x64 grid -> each file is a ~16x16 tile; allow
    # slack for range-partitioner sampling at tile boundaries
    assert sum(spans_x) / len(spans_x) < 40
    assert sum(spans_y) / len(spans_y) < 40


def test_ks_drift_semantics(spark):
    """KS = 0 for identical samples, 1 for disjoint supports; keys
    present on only one side emit nothing; empty keys rejected."""
    import pytest as _pytest

    from panoptes_spark.pipeline.drift import ks_drift

    a = spark.createDataFrame(
        [("same", float(i)) for i in range(10)]
        + [("apart", float(i)) for i in range(10)]
        + [("only_a", 1.0)],
        "k string, v double",
    )
    b = spark.createDataFrame(
        [("same", float(i)) for i in range(10)]
        + [("apart", 100.0 + i) for i in range(10)],
        "k string, v double",
    )
    got = {r.k: (r.n_a, r.n_b, r.ks) for r in ks_drift(a, b, ["k"], "v").collect()}
    assert got == {"same": (10, 10, 0.0), "apart": (10, 10, 1.0)}

    with _pytest.raises(ValueError):
        ks_drift(a, b, [], "v")


def test_readability_exact_counts_and_formula(spark):
    import math

    from panoptes_spark.pipeline.text import add_readability

    df = spark.createDataFrame(
        [(1, "The cat sat. The cat ran!"), (2, "word")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in add_readability(df).collect()}
    r1 = out[1]
    # 6 words, 2 sentences, vowel groups: e,a,a,e,a,a = 6
    assert (r1.n_sentences, r1.n_syllables) == (2, 6)
    exp = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert math.isclose(r1.flesch, round(exp, 4))
    assert math.isclose(r1.ttr, round(4 / 6, 6))  # the,cat,sat.,ran! forms
    r2 = out[2]
    # no terminator: sentence floor of 1; single word
    assert (r2.n_sentences, r2.ttr) == (1, 1.0)


def test_tfidf_ranks_rare_terms_highest(spark):
    from panoptes_spark.pipeline.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common other"),
            (3, "common thing"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=2).collect()
    top = {r.doc_id: r.term for r in out if r.rnk == 1}
    # 'common' appears in every doc -> low idf; unique terms win rank 1
    assert top == {1: "rare", 2: "other", 3: "thing"}
    d1 = {r.term: r for r in out if r.doc_id == 1}
    assert d1["common"].tf == 1 and d1["common"].df == 3
    assert d1["rare"].df == 1 and d1["rare"].score > d1["common"].score


def test_bm25_multi_query_matches_single_query(spark):
    """Each query's scores in the multi-query run equal its standalone
    bm25_search run (document frequency is corpus-global, so sharing the
    posting relation across queries must not change any score)."""
    from panoptes_spark.pipeline.search import bm25_multi_query, bm25_search

    rows = [
        (1, "alpha beta gamma " + "filler " * 10),
        (2, "alpha alpha delta " + "filler " * 10),
        (3, "beta delta delta " + "filler " * 10),
        (4, "gamma " + "filler " * 15),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    queries = {10: ["alpha", "beta"], 20: ["delta"]}
    multi = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_multi_query(df, queries, leg_k=10).collect()
    }
    for qid, terms in queries.items():
        single = bm25_search(df, terms, k=10).collect()
        for rank, r in enumerate(single, start=1):
            assert multi[(qid, r.doc_id)] == (r.score, rank)
    assert len(multi) == sum(
        1 for qid, terms in queries.items()
        for r in bm25_search(df, terms, k=10).collect()
    )


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF: a doc ranked by both legs outscores single-leg docs at
    comparable ranks; absent legs carry rank 0 and contribute nothing;
    every fused score equals 1/(c+lex) + 1/(c+dense) exactly."""
    from panoptes_spark.pipeline.search import hybrid_search_rrf

    # doc 0 is the probe; docs 1-3 share its embedding direction to a
    # varying degree, docs 2 and 4 carry the keyword
    docs = spark.createDataFrame(
        [
            (0, "filler " * 10),
            (1, "unrelated " + "filler " * 10),
            (2, "needle needle " + "filler " * 10),
            (3, "other " + "filler " * 10),
            (4, "needle " + "filler " * 10),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.14]),
            (2, [0.9, 0.43]),
            (3, [0.7, 0.71]),
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_search_rrf(docs, embs, {0: ["needle"]}, k=5, leg_k=3, c=60)
    rows = {r.doc_id: r for r in out.collect()}
    # lexical leg: docs 2 (tf=2) then 4; dense leg (self excluded): 1,2,3
    assert (rows[2].lex_rank, rows[2].dense_rank) == (1, 2)
    assert (rows[4].lex_rank, rows[4].dense_rank) == (2, 0)
    assert (rows[1].lex_rank, rows[1].dense_rank) == (0, 1)
    for r in rows.values():
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.dense_rank) if r.dense_rank else 0.0
        )
        assert r.rrf_score == round(want, 9)
    # both-leg doc 2 fuses above every single-leg doc
    assert rows[2].fused_rank == 1


def test_hybrid_dense_leg_pluggable(spark):
    """dense_leg='ivf' with exhaustive probing (nprobe = n_cells >= every
    occupied cell) reduces to the brute leg exactly — same fused rows,
    ranks and scores; an unknown leg name fails loudly."""
    import pytest

    from panoptes_spark.pipeline.search import hybrid_search_rrf

    docs = spark.createDataFrame(
        [
            (0, "filler " * 10),
            (1, "unrelated " + "filler " * 10),
            (2, "needle needle " + "filler " * 10),
            (3, "other " + "filler " * 10),
            (4, "needle " + "filler " * 10),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.14]),
            (2, [0.9, 0.43]),
            (3, [0.7, 0.71]),
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(k=5, leg_k=3, c=60)
    brute = hybrid_search_rrf(docs, embs, {0: ["needle"]}, **kw)
    ivf = hybrid_search_rrf(
        docs, embs, {0: ["needle"]}, dense_leg="ivf",
        n_cells=5, nprobe=5, **kw,
    )
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(ivf) == canon(brute)
    with pytest.raises(ValueError, match="dense_leg"):
        hybrid_search_rrf(docs, embs, {0: ["x"]}, dense_leg="hnsw")


def test_leakage_safe_splits_invariant(spark):
    """No near-dup pair straddles a split; whole components move
    together; singleton docs get exactly their assign_split label
    (component = own id -> identical hash key)."""
    from panoptes_spark.pipeline.splits import assign_split, leakage_safe_splits

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    # two chained components {1,2,3} and {10,11}; the rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    out = leakage_safe_splits(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 40
    # components are atomic: one split per component
    assert {by_id[i].split for i in (1, 2, 3)} == {by_id[1].split}
    assert by_id[10].split == by_id[11].split
    assert {by_id[i].component for i in (1, 2, 3)} == {1}
    assert by_id[11].component == 10
    # singletons reduce to plain assign_split
    plain = {
        r.doc_id: r.split
        for r in assign_split(docs.where("doc_id >= 20")).collect()
    }
    for i in range(20, 40):
        assert by_id[i].split == plain[i] and by_id[i].component == i


def test_pq_roundtrip_semantics(spark):
    """PQ invariants: a seed vector encodes to its own codeword in every
    subspace (self-distance 0); ADC ranks an exact codeword match above
    a perturbed one; ties and layout never change codes (map-only)."""
    import pytest as _pytest

    from panoptes_spark.pipeline.pq import pq_adc_topk, pq_encode, pq_train

    # 4-dim vectors, m=2 subspaces of 2 dims, 2 codewords (= first 2 rows)
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [1.0, 0.0, 1.0, 0.0]),   # sub0 -> code 0, sub1 -> code 1
        (3, [0.9, 0.1, 1.0, 0.0]),   # near row 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(emb, m=2, n_codes=2)
    assert cbs.count() == 4  # 2 subspaces x 2 codes
    enc = pq_encode(emb, cbs)
    codes = {r.vec_id: list(r.codes) for r in enc.collect()}
    assert codes[0] == [0, 0] and codes[1] == [1, 1]
    assert codes[2] == [0, 1] and codes[3] == [0, 1]

    # ADC from probe 2: vec 3 quantizes onto the same codewords -> adist
    # 0 to the probe's own cell, ranked first
    top = pq_adc_topk(enc, emb.where("vec_id = 2"), cbs, k=3).collect()
    assert [r.nbr_id for r in sorted(top, key=lambda r: r.rank)][0] == 3

    # dim not divisible by m fails loudly
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(emb, m=3)

    # layout independence: same codes under a different partitioning
    enc7 = pq_encode(emb.repartition(7), cbs)
    assert {r.vec_id: list(r.codes) for r in enc7.collect()} == codes


def test_ivfpq_matches_flat_adc_with_full_probing(spark):
    """With nprobe = n_cells (no pruning), IVF-PQ reduces exactly to
    flat ADC over the same codes — same rows, distances, ranks."""
    from panoptes_spark.pipeline.pq import (
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from panoptes_spark.pipeline.similarity import seed_centroids

    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 5.0 for j in range(4)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = seed_centroids(emb, n_cells=4)
    cbs = pq_train(emb, m=2, n_codes=4)
    probes = emb.where(F.col("vec_id") % 5 == 0)
    flat = pq_adc_topk(pq_encode(emb, cbs), probes, cbs, k=5)
    composed = ivfpq_topk(emb, probes, cents, cbs, k=5, nprobe=4)
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(composed) == canon(flat)


def test_adc_broadcast_guard_is_byte_based(spark):
    """The ADC broadcast guard trips on estimated TABLE BYTES
    (nq·m·n_codes·8), not just row count — and its message says how to
    shard (r7 directive 4 / r6 verdict wrong-#3)."""
    import pytest as _pytest

    from panoptes_spark.pipeline.pq import (
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from panoptes_spark.pipeline.similarity import seed_centroids

    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 5.0 for j in range(4)])
        for i in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(emb, m=2, n_codes=4)
    enc = pq_encode(emb, cbs)
    # 8 queries x 2 subspaces x 4 codes x 8 bytes = 512 bytes > 256
    with _pytest.raises(ValueError, match="shard the probe set"):
        pq_adc_topk(enc, emb, cbs, k=3, max_table_bytes=256)
    cents = seed_centroids(emb, n_cells=2)
    with _pytest.raises(ValueError, match="shard the probe set"):
        ivfpq_topk(emb, emb, cents, cbs, k=3, max_table_bytes=256)
    # at/below the cap it runs (513 bytes allowed)
    assert pq_adc_topk(enc, emb, cbs, k=3, max_table_bytes=513).count() > 0


def test_ann_index_roundtrip(spark, tmp_path, sf_dir):
    """build_ivfpq_index + IvfPqIndex.topk == pq.ivfpq_topk over the
    same corpus/params (same codebooks, centroids, tie order), with
    partition-pruned cell scans; the manifest records the geometry."""
    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )
    from panoptes_spark.pipeline.pq import ivfpq_topk, pq_train_kmeans
    from panoptes_spark.pipeline.similarity import kmeans_refine, seed_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    path = str(tmp_path / "ivfpq")
    idx = build_ivfpq_index(
        emb, path, m=8, n_codes=16, n_cells=16, train_iters=1
    )
    assert idx.meta["n_cells"] == 16 and idx.meta["dim"] == 64
    got = sorted(map(tuple, idx.topk(queries, k=10, nprobe=4).collect()))

    # r8: train_iters trains BOTH halves — coarse cells AND codebooks
    cents = kmeans_refine(emb, seed_centroids(emb, n_cells=16), iters=1)
    cbs = pq_train_kmeans(emb, m=8, n_codes=16, iters=1)
    want = sorted(
        map(tuple, ivfpq_topk(emb, queries, cents, cbs, k=10, nprobe=4).collect())
    )
    assert got == want

    # a fresh handle over the directory (no builder state) reads the same
    again = IvfPqIndex(spark, path)
    assert sorted(
        map(tuple, again.topk(queries, k=10, nprobe=4).collect())
    ) == want
    # the on-disk index is cell-partitioned for probe-side pruning
    import os

    assert any(
        e.startswith("cell_id=")
        for e in os.listdir(os.path.join(path, "index.parquet"))
    )


def test_pq_adc_topk_sharded_matches_unsharded(spark):
    """Byte-budgeted probe sharding is exact: per-query ranks are
    independent, so the union of per-shard top-k equals the single-shot
    result even with a budget that forces one query per shard."""
    from panoptes_spark.pipeline.pq import (
        pq_adc_topk,
        pq_adc_topk_sharded,
        pq_encode,
        pq_train,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 5.0 for j in range(4)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(emb, m=2, n_codes=4)
    enc = pq_encode(emb, cbs)
    probes = emb.where(F.col("vec_id") % 5 == 0)
    want = sorted(map(tuple, pq_adc_topk(enc, probes, cbs, k=5).collect()))
    # 2 subspaces x 4 codes x 8 B = 64 B/query -> budget of 64 = 1/query
    got = sorted(
        map(
            tuple,
            pq_adc_topk_sharded(
                enc, probes, cbs, k=5, max_table_bytes=64
            ).collect(),
        )
    )
    assert got == want


def test_ivf_auto_cells_bounds_cell_size():
    from panoptes_spark.pipeline.similarity import ivf_auto_cells

    assert ivf_auto_cells(1) == 16
    assert ivf_auto_cells(16 * 8192) == 16
    for n in (10**5, 10**7, 10**9):
        cells = ivf_auto_cells(n)
        assert n / cells <= 8192          # a cell fits the target
        assert cells & (cells - 1) == 0   # power of two


def test_pq_train_kmeans_improves_recall(spark, sf_dir):
    """One Lloyd round of per-subspace k-means lifts PQ recall over the
    first-n seed codebooks at equal m/n_codes (r7 directive 3) — and the
    trained codebooks are partition-layout-independent."""
    from panoptes_spark.pipeline.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
        pq_train_kmeans,
    )
    from panoptes_spark.pipeline.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    bf = {
        (r.query_id, r.nbr_id)
        for r in cosine_topk_bruteforce(emb, queries, k=10).collect()
    }

    def recall(cbs):
        got = {
            (r.query_id, r.nbr_id)
            for r in pq_adc_topk(
                pq_encode(emb, cbs), queries, cbs, k=10
            ).collect()
        }
        return len(bf & got) / len(bf)

    seed = recall(pq_train(emb, m=8, n_codes=16))
    trained_cbs = pq_train_kmeans(emb, m=8, n_codes=16, iters=1)
    trained = recall(trained_cbs)
    assert trained > seed, f"trained {trained} <= seed {seed}"
    # layout independence of the training shuffle
    again = pq_train_kmeans(emb.repartition(7), m=8, n_codes=16, iters=1)
    canon = lambda df: sorted(  # noqa: E731
        (r.subspace, r.code_id, tuple(r.codevec)) for r in df.collect()
    )
    assert canon(again) == canon(trained_cbs)


def test_dedup_index_roundtrip(spark, tmp_path, sf_dir):
    """build_dedup_index artifact == the inline minhash chain on BOTH
    relations (verified pairs and component labels), consumed through a
    fresh handle over the directory — the build-once artifact several
    gate consumers share instead of re-running the chain each."""
    from panoptes_spark.pipeline.components import connected_components
    from panoptes_spark.pipeline.dedup_index import (
        DedupIndex,
        build_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "dedup_idx")
    idx = build_dedup_index(docs, path)
    assert idx.meta["n_nodes"] == docs.count()

    inline_pairs = dedup.minhash_dedup(docs)
    want_pairs = sorted(map(tuple, inline_pairs.collect()))
    assert sorted(map(tuple, idx.pairs().collect())) == want_pairs

    want_comps = sorted(
        map(
            tuple,
            connected_components(
                inline_pairs, nodes=docs.select("doc_id")
            ).collect(),
        )
    )
    again = DedupIndex(spark, path)
    assert sorted(map(tuple, again.components().collect())) == want_comps

    # representative selection through the artifact == the inline op
    want_keep = sorted(
        r.doc_id
        for r in dedup.dedup_keep_representatives(docs, inline_pairs)
        .select("doc_id")
        .collect()
    )
    got_keep = sorted(
        r.doc_id
        for r in again.keep_representatives(docs).select("doc_id").collect()
    )
    assert got_keep == want_keep


def test_leakage_safe_splits_precomputed_components(spark, sf_dir):
    """leakage_safe_splits(components=...) == leakage_safe_splits(pairs)
    — the artifact-backed form skips the propagation loop, not the
    semantics."""
    import pytest

    from panoptes_spark.pipeline.components import connected_components
    from panoptes_spark.pipeline.splits import leakage_safe_splits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_dedup(docs)
    want = sorted(
        map(tuple, leakage_safe_splits(docs, pairs).collect())
    )
    comps = connected_components(pairs, nodes=docs.select("doc_id"))
    got = sorted(
        map(tuple, leakage_safe_splits(docs, components=comps).collect())
    )
    assert got == want
    with pytest.raises(ValueError, match="pairs.*or.*components"):
        leakage_safe_splits(docs)


def test_materialize_once_composition_aware(spark):
    """Re-materializing an already-cached frame must not stack a second
    persist; release_materialized drops everything registered."""
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    m1 = dedup.materialize_once(df)
    assert m1.is_cached
    m2 = dedup.materialize_once(m1)
    assert m2 is m1  # no new lineage node, no second persist
    # an already-cached frame is not re-spread either
    assert dedup.spread_for_compute(m1) is m1
    n = dedup.release_materialized()
    assert n >= 1
    assert not m1.is_cached


def test_spread_for_compute_skips_well_split_input(spark):
    """Input with at least the session's parallelism in splits keeps its
    layout; a narrower input is round-robin spread to it."""
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, n)
    assert dedup.spread_for_compute(wide) is wide
    spread = dedup.spread_for_compute(spark.range(0, 100, 1, 1))
    assert spread.rdd.getNumPartitions() == n


def test_index_build_validates_corpus(spark, tmp_path):
    """An empty corpus is a clear error, and a corpus smaller than the
    requested n_codes records the ACTUAL trained codebook size in the
    manifest (the byte guard and integrity checks size off it)."""
    import pytest

    from panoptes_spark.pipeline.ann_index import build_ivfpq_index

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="EMPTY corpus"):
        build_ivfpq_index(empty, str(tmp_path / "never"))

    tiny = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    idx = build_ivfpq_index(
        tiny, str(tmp_path / "tiny"), m=2, n_codes=16, n_cells=2,
        train_iters=0,
    )
    assert idx.meta["n_codes"] == 5  # actual, not the requested 16
    assert idx.meta["format_version"] >= 2


def test_index_topk_autoshards_over_budget(spark, tmp_path, sf_dir):
    """An over-budget probe set shards EXACTLY (same rows as the
    unsharded run) without the driver ever collecting all vectors —
    the budget forces ~4 shards over a 40-probe set."""
    from panoptes_spark.pipeline.ann_index import build_ivfpq_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 5 == 0)
    nq = queries.count()
    idx = build_ivfpq_index(
        emb, str(tmp_path / "ivfpq"), m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    want = sorted(map(tuple, idx.topk(queries, k=5, nprobe=4).collect()))
    # budget admits ~ceil(nq/4) probes per ADC table
    per = -(-nq // 4)
    got = sorted(
        map(
            tuple,
            idx.topk(
                queries, k=5, nprobe=4,
                max_table_bytes=per * 8 * 16 * 8,
            ).collect(),
        )
    )
    assert got == want
    # empty probe set: empty frame, stable schema
    none = idx.topk(queries.where("vec_id < 0"), k=5)
    assert none.count() == 0
    assert [f.name for f in none.schema] == [
        "query_id", "nbr_id", "adist", "rank",
    ]


def test_pq_sharded_bounded_and_empty(spark, sf_dir):
    """pq_adc_topk_sharded: (a) returns an EMPTY result for an empty
    probe set (consistent with pq_adc_topk); (b) a budget that forces
    multiple shards reproduces the single-broadcast result exactly."""
    from panoptes_spark.pipeline import pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq.pq_train(emb, m=8, n_codes=16)
    enc = pq.pq_encode(emb, cbs)
    queries = emb.where(F.col("vec_id") % 5 == 0)

    none = pq.pq_adc_topk_sharded(enc, queries.where("vec_id < 0"), cbs)
    assert none.count() == 0
    assert [f.name for f in none.schema] == [
        "query_id", "nbr_id", "adist", "rank",
    ]

    want = sorted(
        map(tuple, pq.pq_adc_topk(enc, queries, cbs, k=5).collect())
    )
    per = -(-queries.count() // 3)
    got = sorted(
        map(
            tuple,
            pq.pq_adc_topk_sharded(
                enc, queries, cbs, k=5, max_table_bytes=per * 8 * 16 * 8
            ).collect(),
        )
    )
    assert got == want


def test_trained_index_improves_recall(spark, tmp_path, sf_dir):
    """Directive r7→r8 #3: at EQUAL (n_cells, nprobe, m, n_codes),
    Lloyd-training the coarse cells + codebooks must beat the pure-seed
    index on recall@k vs brute-force cosine. The number is recorded in
    the assertion (strict improvement)."""
    from panoptes_spark.pipeline.ann_index import build_ivfpq_index
    from panoptes_spark.pipeline.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    k, nprobe = 10, 2

    truth = {
        (r.query_id, r.nbr_id)
        for r in cosine_topk_bruteforce(emb, queries, k=k)
        .select("query_id", "nbr_id")
        .collect()
    }

    def recall(train_iters: int, name: str) -> float:
        idx = build_ivfpq_index(
            emb, str(tmp_path / name), m=8, n_codes=16, n_cells=16,
            train_iters=train_iters,
        )
        hits = {
            (r.query_id, r.nbr_id)
            for r in idx.topk(queries, k=k, nprobe=nprobe)
            .select("query_id", "nbr_id")
            .collect()
        }
        return len(hits & truth) / len(truth)

    r_seed = recall(0, "seed")
    r_trained = recall(2, "trained")
    assert r_trained > r_seed, (r_seed, r_trained)


def test_dedup_index_incremental_equals_rebuild(spark, tmp_path, sf_dir):
    """update_dedup_index(old, new) == build_dedup_index(old ∪ new) on
    BOTH relations — the exact append path (new docs signed/banded, old
    corpus text never re-shingled except for the candidate members)."""
    from panoptes_spark.pipeline.dedup_index import (
        build_dedup_index,
        update_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old_docs = docs.where("doc_id % 5 > 0")
    new_docs = docs.where("doc_id % 5 = 0")

    old_idx = build_dedup_index(old_docs, str(tmp_path / "old"))
    upd = update_dedup_index(
        old_idx, old_docs, new_docs, str(tmp_path / "upd")
    )
    full = build_dedup_index(docs, str(tmp_path / "full"))

    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(upd.pairs()) == canon(full.pairs())
    assert canon(upd.components()) == canon(full.components())
    assert upd.meta["n_nodes"] == docs.count()
    # the updated artifact itself supports a further update (signatures
    # carried forward)
    assert canon(upd.signatures().select("doc_id")) == canon(
        docs.select("doc_id")
    )


def test_dedup_index_incremental_cap_crossing(spark, tmp_path):
    """The bucket cap re-evaluates on COMBINED sizes: a template cluster
    under the cap in the old corpus (pairs generated) that crosses it
    after the append must have those old pairs RETRACTED — exactly what
    a full rebuild would do (oversized buckets take the representative
    route, not the O(k²) pair join)."""
    from panoptes_spark.pipeline.dedup_index import (
        build_dedup_index,
        update_dedup_index,
    )

    tpl = "identical template document body with enough words to shingle"
    uniq = "totally different content number {} talking about other things"
    old_rows = [(i, tpl) for i in range(3)] + [
        (10 + i, uniq.format(i)) for i in range(4)
    ]
    new_rows = [(100, tpl), (101, tpl)]
    schema = "doc_id long, text string"
    old_docs = spark.createDataFrame(old_rows, schema)
    new_docs = spark.createDataFrame(new_rows, schema)
    both = old_docs.unionByName(new_docs)

    kw = dict(max_bucket_size=3)
    old_idx = build_dedup_index(old_docs, str(tmp_path / "old"), **kw)
    assert old_idx.pairs().count() == 3  # 3-clone cluster under the cap
    upd = update_dedup_index(
        old_idx, old_docs, new_docs, str(tmp_path / "upd")
    )
    full = build_dedup_index(both, str(tmp_path / "full"), **kw)
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    # the cluster is now 5 > cap: every bucket it occupies is ineligible,
    # so the old pairs retract and no new ones form
    assert canon(upd.pairs()) == canon(full.pairs()) == []
    assert canon(upd.components()) == canon(full.components())


def test_ann_index_append_matches_combined(spark, tmp_path, sf_dir):
    """IvfPqIndex.append (FAISS `add` semantics — frozen cells and
    codebooks) == an index built over the combined corpus with the SAME
    centroids/codebooks; the appended rows land in cell partitions
    without rewriting existing files, and the manifest row count grows."""
    from panoptes_spark.pipeline.ann_index import IvfPqIndex, build_ivfpq_index
    from panoptes_spark.pipeline.pq import ivfpq_topk, pq_train
    from panoptes_spark.pipeline.similarity import seed_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where("vec_id % 4 > 0")
    new = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 25 = 0")

    idx = build_ivfpq_index(
        old, str(tmp_path / "grow"), m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    n_before = idx.meta["n_rows"]
    idx.append(new)
    assert idx.meta["n_rows"] == n_before + new.count()
    got = sorted(map(tuple, idx.topk(queries, k=10, nprobe=4).collect()))

    # reference: the composed plan over the COMBINED corpus with the
    # index's frozen (old-corpus) centroids/codebooks
    cents = seed_centroids(old, n_cells=16)
    cbs = pq_train(old, m=8, n_codes=16)
    want = sorted(
        map(
            tuple,
            ivfpq_topk(emb, queries, cents, cbs, k=10, nprobe=4).collect(),
        )
    )
    assert got == want
    # a fresh handle sees the appended state too (manifest durable)
    again = IvfPqIndex(spark, str(tmp_path / "grow"))
    assert again.meta["n_rows"] == n_before + new.count()
    # empty append is a no-op
    idx.append(new.where("vec_id < 0"))
    assert idx.meta["n_rows"] == n_before + new.count()


def _drifted(spark, sf_dir):
    from panoptes_spark.pipeline.gate_queries import _drifted_embeddings

    return _drifted_embeddings(spark, sf_dir).localCheckpoint(eager=True)


def test_retrain_swap_equals_fresh_build(spark, tmp_path, sf_dir):
    """retrain_swap on the FULL corpus must rank identically to a fresh
    build over the same corpus and geometry — the swap is a rebuild in
    place, not an approximation (r11 generation lifecycle)."""
    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    corpus = _drifted(spark, sf_dir)
    path = str(tmp_path / "rt")
    build_ivfpq_index(
        corpus.where("vec_id % 4 > 0"), path, m=8, n_codes=16, n_cells=16,
        train_iters=1,
    )
    IvfPqIndex(spark, path).append(corpus.where("vec_id % 4 = 0"))
    out = IvfPqIndex(spark, path).retrain_swap(corpus, train_iters=1)
    assert out.meta["generation"] == 1
    assert out.segments() == ["seg-g1"]

    fresh = str(tmp_path / "fresh")
    build_ivfpq_index(
        corpus, fresh, m=8, n_codes=16, n_cells=16, train_iters=1
    )
    queries = corpus.where(F.col("vec_id") % 25 == 0)
    got = sorted(
        map(
            tuple,
            IvfPqIndex(spark, path).topk(queries, k=10, nprobe=4).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            IvfPqIndex(spark, fresh)
            .topk(queries, k=10, nprobe=4)
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_retrain_swap_improves_recall(spark, tmp_path, sf_dir):
    """On a drifted corpus, post-swap recall@k must BEAT the
    frozen-codebook recall — the property the whole lifecycle exists
    for (r10 verdict #1 'Done' criterion). Uses the gate's own recall
    frame so the pytest and the driver oracle measure the same thing."""
    from panoptes_spark.pipeline.gate_queries import q_ann_retrain_swap

    rows = q_ann_retrain_swap(spark, sf_dir).collect()
    assert rows
    frozen = sum(r.n_match_frozen for r in rows)
    retrained = sum(r.n_match_retrained for r in rows)
    assert retrained > frozen, (frozen, retrained)


def test_retrain_swap_chaos(spark, tmp_path, sf_dir):
    """Kill-mid-retrain: generation files staged WITHOUT the manifest
    commit are invisible (reads identical to pre-retrain) and the next
    mutating op GCs them. Replayed swap: the CAS guard makes a stale
    if_generation call a no-op. After a committed swap, the OLD
    generation's files survive until the next mutate (one-generation
    grace), then GC."""
    import os

    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    corpus = _drifted(spark, sf_dir)
    path = str(tmp_path / "chaos")
    build_ivfpq_index(
        corpus.where("vec_id % 4 > 0"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    IvfPqIndex(spark, path).append(corpus.where("vec_id % 4 = 0"))
    queries = corpus.where(F.col("vec_id") % 25 == 0)
    before = sorted(
        map(
            tuple,
            IvfPqIndex(spark, path).topk(queries, k=10, nprobe=4).collect(),
        )
    )

    # forge a crash between stage and manifest commit
    real_replace = os.replace

    def boom(src, dst, *a, **k):
        if dst.endswith("MANIFEST.json"):
            raise RuntimeError("crash before manifest swap")
        return real_replace(src, dst, *a, **k)

    os.replace = boom
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="crash"):
            IvfPqIndex(spark, path).retrain_swap(corpus, train_iters=0)
    finally:
        os.replace = real_replace
    # staged generation exists on disk but NO read includes it
    assert os.path.exists(os.path.join(path, "seg-g1"))
    idx = IvfPqIndex(spark, path)
    assert idx.meta.get("generation", 0) == 0
    after = sorted(
        map(tuple, idx.topk(queries, k=10, nprobe=4).collect())
    )
    assert after == before
    # next mutating op GCs the orphaned staged generation
    removed = idx._gc_orphan_segments()
    assert "seg-g1" in removed and "centroids-g1.parquet" in removed

    # committed swap + CAS replay
    IvfPqIndex(spark, path).retrain_swap(
        corpus, train_iters=0, if_generation=0
    )
    idx2 = IvfPqIndex(spark, path)
    assert idx2.meta["generation"] == 1
    swapped = sorted(
        map(tuple, idx2.topk(queries, k=10, nprobe=4).collect())
    )
    # stale CAS replay is a no-op: same generation, same answers
    idx2.retrain_swap(corpus, train_iters=0, if_generation=0)
    idx3 = IvfPqIndex(spark, path)
    assert idx3.meta["generation"] == 1
    assert (
        sorted(map(tuple, idx3.topk(queries, k=10, nprobe=4).collect()))
        == swapped
    )
    # one-generation grace: old gen files still on disk after the swap,
    # GC'd by the next mutate
    assert os.path.exists(os.path.join(path, "centroids.parquet"))
    idx3._gc_orphan_segments()
    assert not os.path.exists(os.path.join(path, "centroids.parquet"))
    assert os.path.exists(os.path.join(path, "centroids-g1.parquet"))


@pytest.mark.slow
def test_ann_sink_retrain_every(spark, tmp_path, sf_dir):
    """AnnIndexSink retrain_every: after the cadence trips, the index is
    generation 1 trained on the full corpus_source — ranking identical
    to a fresh build over everything committed so far; the durable
    last_retrain_batch watermark means a replayed batch cannot
    double-retrain."""
    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )
    from panoptes_spark.streaming.ann_stream import AnnIndexSink

    corpus = _drifted(spark, sf_dir)
    path = str(tmp_path / "sink_rt")
    build_ivfpq_index(
        corpus.where("vec_id % 4 > 0"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    new = corpus.where("vec_id % 4 = 0")
    sink = AnnIndexSink(
        path,
        retrain_every=2,
        corpus_source=lambda s: corpus,
        retrain_train_iters=0,
    )
    sink(new.where("vec_id % 8 = 0"), 0)
    assert IvfPqIndex(spark, path).meta.get("generation", 0) == 0
    sink(new.where("vec_id % 8 = 4"), 1)  # batch 1 - (-1) >= 2 -> retrain
    idx = IvfPqIndex(spark, path)
    assert idx.meta["generation"] == 1
    assert idx.meta["last_retrain_batch"] == 1

    fresh = str(tmp_path / "sink_fresh")
    build_ivfpq_index(
        corpus, fresh, m=8, n_codes=16, n_cells=16, train_iters=0
    )
    queries = corpus.where(F.col("vec_id") % 25 == 0)
    got = sorted(map(tuple, idx.topk(queries, k=10, nprobe=4).collect()))
    want = sorted(
        map(
            tuple,
            IvfPqIndex(spark, fresh)
            .topk(queries, k=10, nprobe=4)
            .collect(),
        )
    )
    assert got == want


def test_filtered_topk_plan(spark, tmp_path, sf_dir):
    """The metadata filter must land BELOW the Arrow ADC/scoring node in
    the optimized plan (filter-before-scoring, never a post-truncation
    filter) — in a plan tree parents print above children, so the
    Python scoring node string must precede the filter predicate.
    (r11 narrow rewrite: the scoring node is a MapInPandas over the
    pruned index scan, no longer a FlatMapCoGroupsInPandas — the
    index relation is not shuffled at all; the filter now sits
    directly on the parquet relation.)"""
    from panoptes_spark.pipeline import similarity
    from panoptes_spark.pipeline.ann_index import build_ivfpq_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "fidx")
    idx = build_ivfpq_index(
        emb, path, m=8, n_codes=16, n_cells=16, train_iters=0
    )
    queries = emb.where(F.col("vec_id") % 25 == 0)
    import re

    def _filter_below_scoring(df, col):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # optimizer renders the predicate with expression ids:
        # "(nbr_id#63L % 2) = 0"
        m = re.search(rf"{col}#\d+L? % 2", plan)
        assert "MapInPandas" in plan and m, plan
        assert plan.index("MapInPandas") < m.start(), plan

    df = idx.topk(queries, k=5, nprobe=2, filter="nbr_id % 2 = 0")
    _filter_below_scoring(df, "nbr_id")

    cents = similarity.seed_centroids(emb, n_cells=16)
    df2 = similarity.ivf_topk(
        emb, queries, cents, k=5, nprobe=2, filter="vec_id % 2 = 0"
    )
    _filter_below_scoring(df2, "vec_id")


def test_filtered_topk_ids_equivalence(spark, tmp_path, sf_dir):
    """filter (expr over the index relation) and filter_ids (external
    metadata join) must return the identical ranking; and the filtered
    ranking equals the unfiltered ranking of an index that only ever
    contained the allowed ids' rows — proof the filter is applied
    before scoring, not after truncation (r11)."""
    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "feq")
    build_ivfpq_index(emb, path, m=8, n_codes=16, n_cells=16, train_iters=0)
    idx = IvfPqIndex(spark, path)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    by_expr = sorted(
        map(
            tuple,
            idx.topk(
                queries, k=10, nprobe=4, filter="nbr_id % 3 = 0"
            ).collect(),
        )
    )
    allowed = emb.where("vec_id % 3 = 0").select("vec_id")
    by_ids = sorted(
        map(
            tuple,
            idx.topk(queries, k=10, nprobe=4, filter_ids=allowed).collect(),
        )
    )
    assert by_expr == by_ids and len(by_expr) > 0


def test_ann_index_torn_append_invisible(spark, tmp_path, sf_dir):
    """Torn-append chaos (r9, the `test_retired_files_never_orphaned`
    discipline applied to index appends): a crash between segment write
    and manifest commit leaves the index EXACTLY as before — the orphan
    segment is never read back (the r8 append-mode write was silently
    included after a crash), and the replayed append GCs it before
    committing cleanly."""
    import os

    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where("vec_id % 4 > 0")
    new = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 25 = 0")
    path = str(tmp_path / "torn")
    idx = build_ivfpq_index(
        old, path, m=8, n_codes=16, n_cells=16, train_iters=0
    )
    before = sorted(map(tuple, idx.topk(queries, k=10, nprobe=4).collect()))
    n_before = idx.meta["n_rows"]

    # forge the crash: segment fully staged, manifest never committed
    idx._write_segment(new, "seg-1")
    assert os.path.isdir(os.path.join(path, "seg-1"))

    fresh = IvfPqIndex(spark, path)
    assert fresh.meta["n_rows"] == n_before
    assert fresh.segments() == ["index.parquet"]
    assert (
        sorted(map(tuple, fresh.topk(queries, k=10, nprobe=4).collect()))
        == before
    )

    # the replayed append GCs the orphan, stages anew, commits atomically
    fresh.append(new)
    assert fresh.segments() == ["index.parquet", "seg-1"]
    combined = IvfPqIndex(spark, path)
    assert combined.meta["n_rows"] == n_before + new.count()
    got = sorted(
        map(tuple, combined.topk(queries, k=10, nprobe=4).collect())
    )
    assert got != before  # appended vectors now rank


@pytest.mark.slow
def test_ann_index_compaction_preserves_ranks(spark, tmp_path, sf_dir):
    """IvfPqIndex.compact() merges all segments into one: identical
    topk before/after, single-segment manifest, appends keep working
    afterwards (collision-safe segment naming), and a torn compaction
    (merged segment staged, manifest never committed) is invisible."""
    import os

    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 25 = 0")
    path = str(tmp_path / "cmp")
    idx = build_ivfpq_index(
        emb.where("vec_id % 4 > 1"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    idx.append(emb.where("vec_id % 4 = 1"))
    idx.append(emb.where("vec_id % 4 = 0"))
    assert len(idx.segments()) == 3
    before = sorted(map(tuple, idx.topk(queries, k=10, nprobe=4).collect()))

    # torn compaction: merged segment staged, manifest never swapped
    pre = IvfPqIndex(spark, path)
    pre._index_df().write.mode("overwrite").partitionBy("cell_id").parquet(
        os.path.join(path, pre._free_segment_name())
    )
    fresh = IvfPqIndex(spark, path)
    assert len(fresh.segments()) == 3  # orphan invisible
    assert (
        sorted(map(tuple, fresh.topk(queries, k=10, nprobe=4).collect()))
        == before
    )

    fresh.compact()
    assert len(fresh.segments()) == 1
    reread = IvfPqIndex(spark, path)
    assert reread.segments() == fresh.segments()
    assert (
        sorted(map(tuple, reread.topk(queries, k=10, nprobe=4).collect()))
        == before
    )
    # old data dirs (including the original build dir) were GC'd
    on_disk = {
        n for n in os.listdir(path)
        if n.startswith("seg-") or n == "index.parquet"
    }
    assert on_disk == set(fresh.segments())
    # appends still work and never collide with the compacted segment
    n_rows = reread.meta["n_rows"]
    extra = emb.where("vec_id % 25 = 7")
    reread.append(extra)
    assert reread.meta["n_rows"] == n_rows + extra.count()
    assert len(reread.segments()) == 2
    assert len(set(reread.segments())) == 2
    # compact again: back to one segment, ranks include the appended rows
    want = sorted(
        map(tuple, reread.topk(queries, k=10, nprobe=4).collect())
    )
    reread.compact()
    assert len(reread.segments()) == 1
    got = sorted(
        map(
            tuple,
            IvfPqIndex(spark, path)
            .topk(queries, k=10, nprobe=4)
            .collect(),
        )
    )
    assert got == want


def test_ann_index_compaction_preserves_ranks_small(spark, tmp_path, sf_dir):
    """Default-run representative of the slow compaction test: a
    three-segment index ranks identically after ``compact()`` folds it
    to one segment, and the old data dirs are GC'd."""
    import os

    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    path = str(tmp_path / "cmp")
    idx = build_ivfpq_index(
        emb.where("vec_id % 4 > 1"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    idx.append(emb.where("vec_id % 4 = 1"))
    idx.append(emb.where("vec_id % 4 = 0"))
    assert len(idx.segments()) == 3
    before = sorted(map(tuple, idx.topk(queries, k=5, nprobe=4).collect()))
    idx.compact()
    assert len(idx.segments()) == 1
    got = sorted(
        map(tuple, IvfPqIndex(spark, path).topk(queries, k=5, nprobe=4).collect())
    )
    assert got == before and len(got) > 0
    on_disk = {
        n for n in os.listdir(path)
        if n.startswith("seg-") or n == "index.parquet"
    }
    assert on_disk == set(idx.segments())


@pytest.mark.slow
def test_dedup_sink_compact_every(spark, tmp_path, sf_dir):
    """compact_every on the dedup sink (AnnIndexSink parity): the log
    folds to one generation every N commits, later commits keep
    appending against the compacted base, and the final pairs equal an
    uncompacted fold over the same batches."""
    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "ce")
    sink = NearDedupIndexSink(base, compact_every=2)
    for i in range(4):
        sink(docs.where(F.col("doc_id") % 4 == i), i)
    log = sink.index(spark)
    assert log.state["batches"] == ["c3"]  # compacted after commits 2 and 4
    base2 = str(tmp_path / "ce2")
    sink2 = NearDedupIndexSink(base2)
    for i in range(4):
        sink2(docs.where(F.col("doc_id") % 4 == i), i)
    got = sorted(map(tuple, log.pairs().collect()))
    want = sorted(map(tuple, sink2.index(spark).pairs().collect()))
    assert got == want and len(got) > 0
    got_c = sorted(map(tuple, log.components().collect()))
    want_c = sorted(map(tuple, sink2.index(spark).components().collect()))
    assert got_c == want_c


def test_dedup_sink_empty_first_batch_is_v2(spark, tmp_path, sf_dir):
    """An EMPTY first micro-batch swaps in the fresh-state default; any
    DedupIndexLog construction on that state (compact_every on the same
    commit, sink.index() before the first non-empty commit) must NOT
    hit the v1-layout guard on a brand-new log (r10 ADVICE)."""
    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "ef")
    sink = NearDedupIndexSink(base, compact_every=1)
    sink(docs.where(F.lit(False)), 0)  # empty batch 0: no raise
    assert sink.index(spark) is None  # committed, but no batches yet
    sink(docs.where(F.col("doc_id") % 8 == 0), 1)
    log = sink.index(spark)
    assert log is not None and log.state["batches"] == ["c1"]
    assert log.pairs().count() >= 0  # readable through the compacted gen


@pytest.mark.slow
def test_compaction_cadence_survives_restart(spark, tmp_path, sf_dir):
    """compact_every derives from DURABLE state (batch list / manifest
    segments), not a process-local counter: a fresh sink instance per
    commit — the restart-heavy deployment — must still compact on
    cadence for both the dedup log and the ANN index (r10 ADVICE)."""
    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )
    from panoptes_spark.streaming.ann_stream import AnnIndexSink
    from panoptes_spark.streaming.dedup_stream import (
        DedupIndexLog,
        NearDedupIndexSink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "rc")
    # one sink INSTANCE per commit = the restart case
    NearDedupIndexSink(base, compact_every=2)(
        docs.where(F.col("doc_id") % 4 == 0), 0
    )
    NearDedupIndexSink(base, compact_every=2)(
        docs.where(F.col("doc_id") % 4 == 1), 1
    )
    assert DedupIndexLog(spark, base).state["batches"] == ["c1"]

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "rc_ann")
    build_ivfpq_index(
        emb.where("vec_id % 4 > 0"), path, m=8, n_codes=16, n_cells=16,
        train_iters=0,
    )
    new = emb.where("vec_id % 4 = 0")
    AnnIndexSink(path, compact_every=2)(new.where("vec_id % 8 = 0"), 0)
    AnnIndexSink(path, compact_every=2)(new.where("vec_id % 8 = 4"), 1)
    assert len(IvfPqIndex(spark, path).segments()) == 1


def test_grouped_quantiles_wide_parity(spark):
    """grouped_quantiles_wide (two-phase coarse-bucket fold for
    score-like domains) returns the identical type-1 quantile as the
    one-phase grouped_quantile fold — negatives, heavy tie groups, and
    tiny domains included — while bounding per-group array sizes (r10
    ADVICE on perplexity_buckets)."""
    import random

    from panoptes_spark.pipeline.stats import (
        grouped_quantile,
        grouped_quantiles_wide,
    )

    random.seed(7)
    rows = [
        (f"s{i % 3}", random.randint(-(10**7), 10**7)) for i in range(2000)
    ]
    rows += [("s0", 5)] * 40  # tie group straddling a threshold
    df = spark.createDataFrame(rows, "src string, v long")
    tiny = spark.createDataFrame(
        [("a", i % 5) for i in range(100)], "src string, v long"
    )
    for frame in (df, tiny):
        for p in (0.1, 1 / 3, 0.5, 2 / 3, 1.0):
            a = sorted(
                map(tuple, grouped_quantile(frame, ["src"], "v", p).collect())
            )
            b = sorted(
                map(
                    tuple,
                    grouped_quantiles_wide(frame, ["src"], "v", {"q": p})
                    .select("src", "q_q", "n")
                    .collect(),
                )
            )
            assert a == b, (p, a, b)


def test_dedup_log_refuses_v1_layout(spark, tmp_path):
    """A pre-r10 STATE.json (no bucket membership/count relations) must
    refuse with a rebuild message, not silently misread."""
    import json
    import os

    import pytest as _pytest

    from panoptes_spark.streaming.dedup_stream import DedupIndexLog

    base = str(tmp_path / "v1log")
    os.makedirs(base)
    with open(os.path.join(base, "STATE.json"), "w") as f:
        json.dump(
            {"last_batch_id": 1, "batches": [0, 1], "lineage": None,
             "id_col": "doc_id", "text_col": "text", "id_type": "bigint"},
            f,
        )
    with _pytest.raises(ValueError, match="v2 layout"):
        DedupIndexLog(spark, base)


@pytest.mark.slow
def test_ann_stream_matches_combined_with_restart(spark, tmp_path, sf_dir):
    """Streaming ANN maintenance == batch append == combined build:
    vectors arrive in micro-batches across TWO queries (a restart
    between), and the final index ranks identically to one built over
    the build subset and batch-appended the rest. Then replay and
    torn-commit chaos on the real commit path."""
    import json
    import os

    from panoptes_spark.pipeline.ann_index import (
        IvfPqIndex,
        build_ivfpq_index,
    )
    from panoptes_spark.streaming.ann_stream import ann_index_stream

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where("vec_id % 4 > 0")
    new = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 25 = 0")
    path = str(tmp_path / "annstream")
    build_ivfpq_index(old, path, m=8, n_codes=16, n_cells=16, train_iters=0)

    src = str(tmp_path / "vecsrc")
    ckpt = str(tmp_path / "vecckpt")
    new.where("vec_id % 8 = 0").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, sink = ann_index_stream(stream, path, ckpt)
    q.awaitTermination(300)

    # restart: a NEW query on the same checkpoint picks up batch 1
    new.where("vec_id % 8 = 4").coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2, sink2 = ann_index_stream(stream2, path, ckpt)
    q2.awaitTermination(300)

    got = sorted(
        map(
            tuple,
            sink2.index(spark).topk(queries, k=10, nprobe=4).collect(),
        )
    )
    ref_path = str(tmp_path / "annref")
    ref = build_ivfpq_index(
        old, ref_path, m=8, n_codes=16, n_cells=16, train_iters=0
    ).append(new)
    want = sorted(map(tuple, ref.topk(queries, k=10, nprobe=4).collect()))
    assert got == want and len(got) > 0

    # replay chaos: re-delivering the last committed batch is a no-op
    manifest = os.path.join(path, "MANIFEST.json")
    m_before = open(manifest).read()
    last = json.loads(m_before)["last_batch_id"]
    sink2(new.where("vec_id % 8 = 4"), last)
    assert open(manifest).read() == m_before

    # torn-commit chaos: segment staged, manifest never swapped — a
    # fresh handle ranks as before; the replayed commit GCs and lands
    idx = IvfPqIndex(spark, path)
    idx._write_segment(
        emb.where("vec_id % 25 = 7"), idx._free_segment_name()
    )
    fresh = IvfPqIndex(spark, path)
    assert (
        sorted(
            map(tuple, fresh.topk(queries, k=10, nprobe=4).collect())
        )
        == want
    )
    sink2(emb.where("vec_id % 25 = 7"), last + 1)
    grown = IvfPqIndex(spark, path)
    assert grown.meta["last_batch_id"] == last + 1
    assert grown.meta["n_rows"] == json.loads(m_before)["n_rows"] + int(
        emb.where("vec_id % 25 = 7").count()
    )


def test_ann_stream_matches_combined_small(spark, tmp_path, sf_dir):
    """Default-run representative of the slow stream parity test: two
    micro-batches committed through ``AnnIndexSink`` (a fresh sink per
    batch, as after a restart) rank identically to one batch append of
    both, and a replayed batch is a no-op."""
    import os

    from panoptes_spark.pipeline.ann_index import build_ivfpq_index
    from panoptes_spark.streaming.ann_stream import AnnIndexSink

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where("vec_id % 4 > 0")
    new = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 50 = 0")
    path = str(tmp_path / "annstream")
    build_ivfpq_index(old, path, m=8, n_codes=16, n_cells=16, train_iters=0)
    AnnIndexSink(path)(new.where("vec_id % 8 = 0"), 0)
    sink = AnnIndexSink(path)
    sink(new.where("vec_id % 8 = 4"), 1)
    manifest = os.path.join(path, "MANIFEST.json")
    m_before = open(manifest).read()
    sink(new.where("vec_id % 8 = 4"), 1)
    assert open(manifest).read() == m_before

    got = sorted(
        map(tuple, sink.index(spark).topk(queries, k=5, nprobe=4).collect())
    )
    ref = build_ivfpq_index(
        old, str(tmp_path / "annref"), m=8, n_codes=16, n_cells=16,
        train_iters=0,
    ).append(new)
    want = sorted(map(tuple, ref.topk(queries, k=5, nprobe=4).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ann_stream_lineage_guard_and_compact_every(spark, tmp_path, sf_dir):
    """Recreated-checkpoint lineages fail loudly (both the
    stored-lineage mismatch and the batch-calls-first cases), and
    compact_every folds segments back to one without changing answers."""
    import json
    import os

    import pytest as _pytest

    from panoptes_spark.pipeline.ann_index import build_ivfpq_index
    from panoptes_spark.streaming.ann_stream import AnnIndexSink

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where("vec_id % 4 > 0")
    new = emb.where("vec_id % 4 = 0")
    queries = emb.where("vec_id % 25 = 0")

    def ckpt_with_id(name, qid):
        d = str(tmp_path / name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "metadata"), "w") as f:
            json.dump({"id": qid}, f)
        return d

    path = str(tmp_path / "lin")
    build_ivfpq_index(old, path, m=8, n_codes=16, n_cells=16, train_iters=0)
    s1 = AnnIndexSink(path, checkpoint=ckpt_with_id("ck1", "q-one"))
    s1(new.where("vec_id % 8 = 0"), 0)
    s1(new.where("vec_id % 8 = 4"), 1)
    # same lineage: replayed ids are skipped silently (normal restart)
    s1(new.where("vec_id % 8 = 4"), 1)
    # different lineage, regressed batch id: loud failure, not a drop
    s2 = AnnIndexSink(path, checkpoint=ckpt_with_id("ck2", "q-two"))
    with _pytest.raises(ValueError, match="lineage"):
        s2(new.where("vec_id % 8 = 0"), 0)

    # batch-calls-first store + streaming query at a regressed id
    path_b = str(tmp_path / "linb")
    build_ivfpq_index(
        old, path_b, m=8, n_codes=16, n_cells=16, train_iters=0
    )
    sb = AnnIndexSink(path_b)
    sb(new.where("vec_id % 8 = 0"), 0)
    sb(new.where("vec_id % 8 = 4"), 1)
    sc = AnnIndexSink(path_b, checkpoint=ckpt_with_id("ck3", "q-three"))
    with _pytest.raises(ValueError, match="NOT replays"):
        sc(new.where("vec_id % 8 = 0"), 0)

    # compact_every=2: after the 2nd commit the index is one segment
    # and ranks exactly like the uncompacted twin at `path`
    path_c = str(tmp_path / "cmpev")
    build_ivfpq_index(
        old, path_c, m=8, n_codes=16, n_cells=16, train_iters=0
    )
    s3 = AnnIndexSink(path_c, compact_every=2)
    s3(new.where("vec_id % 8 = 0"), 0)
    s3(new.where("vec_id % 8 = 4"), 1)
    idx_c = s3.index(spark)
    assert len(idx_c.segments()) == 1
    want = sorted(
        map(
            tuple,
            s1.index(spark).topk(queries, k=10, nprobe=4).collect(),
        )
    )
    got = sorted(map(tuple, idx_c.topk(queries, k=10, nprobe=4).collect()))
    assert got == want


@pytest.mark.slow
def test_dedup_log_compaction_preserves_answers(spark, tmp_path, sf_dir):
    """DedupIndexLog.compact() folds the batch log into one resolved
    generation: pairs/components/signatures identical, tombstones
    emptied, later sink commits behave as if uncompacted (same monotone
    bucket sizes), and a torn compaction is invisible."""
    import json
    import os

    from panoptes_spark.streaming.dedup_stream import (
        DedupIndexLog,
        NearDedupIndexSink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "clog")
    sink = NearDedupIndexSink(base)
    for i in range(3):
        sink(docs.where(F.col("doc_id") % 4 == i), i)
    log = sink.index(spark)
    want_pairs = sorted(map(tuple, log.pairs().collect()))
    want_comps = sorted(map(tuple, log.components().collect()))
    want_sig_n = log.signatures().count()

    # torn compaction: stage the generation dirs but never swap STATE
    st_before = open(f"{base}/STATE.json").read()
    tag = f"c{log.state['last_batch_id']}"
    log.docs().write.mode("overwrite").parquet(
        os.path.join(base, "docs", f"batch={tag}")
    )
    log2 = DedupIndexLog(spark, base)
    assert sorted(map(tuple, log2.pairs().collect())) == want_pairs
    assert open(f"{base}/STATE.json").read() == st_before

    log2.compact()
    assert log2.state["batches"] == [tag]
    assert json.load(open(f"{base}/STATE.json"))["batches"] == [tag]
    assert sorted(map(tuple, log2.pairs().collect())) == want_pairs
    assert sorted(map(tuple, log2.components().collect())) == want_comps
    assert log2.signatures().count() == want_sig_n
    assert log2.tombstones().count() == 0
    # pre-compaction batch dirs GC'd: one dir per relation remains
    for rel in ("docs", "sigs", "buckets", "bcounts", "pairs", "comps"):
        assert os.listdir(os.path.join(base, rel)) == [f"batch={tag}"]
    # compacting an already-compacted log is a no-op
    log2.compact()
    assert log2.state["batches"] == [tag]

    # post-compaction append == uncompacted fold over the same batches
    sink(docs.where(F.col("doc_id") % 4 == 3), 3)
    got = sorted(map(tuple, sink.index(spark).pairs().collect()))
    base2 = str(tmp_path / "clog2")
    sink2 = NearDedupIndexSink(base2)
    for i in range(4):
        sink2(docs.where(F.col("doc_id") % 4 == i), i)
    want = sorted(map(tuple, sink2.index(spark).pairs().collect()))
    assert got == want and len(got) > 0
    got_c = sorted(map(tuple, sink.index(spark).components().collect()))
    want_c = sorted(map(tuple, sink2.index(spark).components().collect()))
    assert got_c == want_c


def test_winnow_substring_guarantee(spark):
    """Winnowing's local guarantee: any shared word run of
    window + k - 1 words yields >= 1 common fingerprint; fully
    disjoint vocabularies yield none."""
    k, w = dedup.WINNOW_K, dedup.WINNOW_WINDOW
    run = " ".join(f"shared{i}" for i in range(w + k - 1))
    a_text = " ".join(f"alpha{i}" for i in range(30)) + " " + run + " " + \
        " ".join(f"alpha{i}" for i in range(30, 60))
    b_text = " ".join(f"beta{i}" for i in range(45)) + " " + run + " " + \
        " ".join(f"beta{i}" for i in range(45, 70))
    c_text = " ".join(f"gamma{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, c_text)], ["doc_id", "text"]
    )
    pairs = dedup.winnow_pairs(df, min_shared=1).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)
    dedup.release_materialized()


def test_winnow_short_doc_edges(spark):
    """Docs shorter than k words fingerprint the whole text; docs with
    fewer grams than the window take the global min — identical short
    docs must still pair, and the fingerprint arrays must be nonempty."""
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "one two three four five")],
        ["doc_id", "text"],
    )
    fps = dedup.winnow_fingerprints(df)
    counts = {r["doc_id"]: r["n"] for r in
              fps.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts[1] == 1 and counts[2] == 1 and counts[3] >= 1
    pairs = dedup.winnow_pairs(df, min_shared=1, max_df=10).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}
    dedup.release_materialized()


def test_winnow_max_df_drops_boilerplate(spark):
    """A fingerprint present in more than max_df docs is dropped before
    the self-join — the hot-bucket guard that bounds join fan-out."""
    k, w = dedup.WINNOW_K, dedup.WINNOW_WINDOW
    boiler = " ".join(f"boiler{i}" for i in range(w + k - 1))
    rows = [(i, " ".join(f"u{i}x{j}" for j in range(20)) + " " + boiler)
            for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.winnow_pairs(df, min_shared=1, max_df=3)
    assert pairs.count() == 0
    dedup.release_materialized()


def test_dsir_weights_favor_target(spark):
    """Documents drawn from the target vocabulary must outscore
    documents from a disjoint vocabulary."""
    from panoptes_spark.pipeline import selection

    a_rows = [(i, " ".join(f"medical{j % 7}" for j in range(j0, j0 + 25)))
              for i, j0 in enumerate(range(0, 50, 5))]
    b_rows = [(100 + i, " ".join(f"webspam{j % 9}" for j in range(j0, j0 + 25)))
              for i, j0 in enumerate(range(0, 50, 5))]
    raw = spark.createDataFrame(a_rows + b_rows, ["doc_id", "text"])
    target = spark.createDataFrame(a_rows[:4], ["doc_id", "text"])
    w = {r["doc_id"]: r["log_weight"]
         for r in selection.dsir_logweights(raw, target).collect()}
    a_scores = [w[i] for i, _ in a_rows]
    b_scores = [w[i] for i, _ in b_rows]
    assert min(a_scores) > max(b_scores)


def test_dsir_select_k_and_determinism(spark):
    """Gumbel-top-k returns exactly k rows and is reproducible; adding
    rows never evicts a pick except for a higher-keyed newcomer (here:
    appending strictly-lower-weight rows keeps the picks)."""
    from panoptes_spark.pipeline import selection

    rows = [(i, float(i % 13) - 6.0) for i in range(200)]
    w = spark.createDataFrame(rows, ["doc_id", "log_weight"])
    s1 = {r["doc_id"] for r in selection.dsir_select(w, 20).collect()}
    s2 = {r["doc_id"] for r in selection.dsir_select(w, 20).collect()}
    assert len(s1) == 20 and s1 == s2
    low = spark.createDataFrame(
        [(1000 + i, -1000.0) for i in range(50)], ["doc_id", "log_weight"]
    )
    s3 = {r["doc_id"]
          for r in selection.dsir_select(w.unionByName(low), 20).collect()}
    assert s3 == s1


def test_dsir_select_per_source_quota(spark):
    from panoptes_spark.pipeline import selection

    rows = [(i, f"g{i % 3}", float(i)) for i in range(90)]
    w = spark.createDataFrame(rows, ["doc_id", "grp", "log_weight"])
    out = selection.dsir_select_per_source(w, 5, "grp")
    per = {r["grp"]: r["n"] for r in
           out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per == {"g0": 5, "g1": 5, "g2": 5}


def test_cluster_topics_separates_vocabularies(spark):
    """Two embedding clusters with disjoint dominant vocabularies must
    surface their own terms; shared filler words score lower than the
    cluster-exclusive terms."""
    from panoptes_spark.pipeline import topics

    def vec(which):
        return [1.0, 0.0] if which == 0 else [0.0, 1.0]

    docs, embs = [], []
    for i in range(20):
        c = i % 2
        word = "finance" if c == 0 else "biology"
        docs.append((i, " ".join([word] * 8 + ["the"] * 2)))
        embs.append((i, vec(c)))
    docs_df = spark.createDataFrame(docs, ["doc_id", "text"])
    embs_df = spark.createDataFrame(embs, ["vec_id", "embedding"])
    out = topics.cluster_topic_terms(docs_df, embs_df, n_cells=2, top_terms=2)
    rows = out.collect()
    top1 = {r["cell_id"]: r["term"] for r in rows if r["rank"] == 1}
    assert set(top1.values()) == {"finance", "biology"}
    # 'the' appears in every cluster -> its idf term is the floor
    for r in rows:
        if r["term"] == "the":
            assert r["rank"] > 1


def test_near_dedup_stream_matches_rebuild(spark, tmp_path, sf_dir):
    """Streamed incremental index == full rebuild: the corpus arrives in
    3 micro-batches across TWO queries (a restart between), and the
    final committed generation's pairs/components equal a one-shot
    build over the whole corpus."""
    import shutil

    from panoptes_spark.pipeline.dedup_index import (
        DedupIndex, build_dedup_index,
    )
    from panoptes_spark.streaming.dedup_stream import near_dedup_index_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    base = str(tmp_path / "near_dedup")
    ckpt = str(tmp_path / "ckpt")
    for part in (0, 1):
        docs.where(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, sink = near_dedup_index_stream(stream, base, ckpt)
    q.awaitTermination(300)

    # restart: a NEW query on the same checkpoint picks up batch 3
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2, sink2 = near_dedup_index_stream(stream2, base, ckpt)
    q2.awaitTermination(300)

    idx = sink2.index(spark)
    full = build_dedup_index(docs, str(tmp_path / "full"))
    got_pairs = sorted(
        (r["a"], r["b"], r["jaccard"]) for r in idx.pairs().collect()
    )
    want_pairs = sorted(
        (r["a"], r["b"], r["jaccard"]) for r in full.pairs().collect()
    )
    assert got_pairs == want_pairs and len(got_pairs) > 0
    got_c = sorted(map(tuple, idx.components().collect()))
    want_c = sorted(map(tuple, full.components().collect()))
    assert got_c == want_c

    # replay chaos: re-delivering the LAST committed batch (crash after
    # swap, checkpoint not yet advanced) must be a no-op
    st_before = open(f"{base}/STATE.json").read()
    last_batch = docs.where(F.col("doc_id") % 3 == 2)
    sink2(last_batch, 2)
    assert open(f"{base}/STATE.json").read() == st_before

    # torn-commit chaos: crash BETWEEN the per-batch file writes and the
    # state swap — restore the pre-commit state (the orphan batch files
    # stay on disk, unreferenced), replay the batch; the replay
    # overwrites them and the result must still equal rebuild
    import json

    st = json.loads(st_before)
    pre = dict(st)
    pre["last_batch_id"] = 1
    pre["batches"] = st["batches"][:-1]
    with open(f"{base}/STATE.json", "w") as f:
        json.dump(pre, f)
    sink2(last_batch, 2)
    idx2 = sink2.index(spark)
    got2 = sorted(
        (r["a"], r["b"], r["jaccard"]) for r in idx2.pairs().collect()
    )
    assert got2 == want_pairs
    shutil.rmtree(src, ignore_errors=True)


def _tree_sizes(base):
    """{relpath: bytes} for every data file under base (STATE.json and
    checksum sidecars excluded — STATE is the one mutable file)."""
    import os

    out = {}
    for root, _dirs, files in os.walk(base):
        for f in files:
            if f.startswith("STATE.json") or f.endswith(".crc"):
                continue
            p = os.path.join(root, f)
            out[os.path.relpath(p, base)] = os.path.getsize(p)
    return out


def test_near_dedup_stream_appends_only(spark, tmp_path, sf_dir):
    """Write volume per commit is O(batch), not O(index): committed
    files are NEVER rewritten (append-only log — the r8 design rewrote
    signatures/pairs/components in full every micro-batch), and a later
    batch's new bytes stay well under the accumulated index size."""
    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "ao")
    sink = NearDedupIndexSink(base)
    snaps = []
    for i in range(3):
        sink(docs.where(F.col("doc_id") % 3 == i), i)
        snaps.append(_tree_sizes(base))

    for earlier, later in zip(snaps, snaps[1:]):
        for path, size in earlier.items():
            assert later.get(path) == size, (
                f"committed file rewritten or deleted: {path}"
            )
    new_bytes = sum(
        s for p, s in snaps[2].items() if p not in snaps[1]
    )
    index_bytes_before = sum(snaps[1].values())
    assert new_bytes < index_bytes_before, (
        f"batch-2 wrote {new_bytes}B >= index size {index_bytes_before}B"
    )


def test_near_dedup_stream_commit_never_reads_signatures(
    spark, tmp_path, sf_dir, monkeypatch
):
    """STRUCTURAL lock on the r10 batch-proportional commit: the one
    corpus-sized computation the old sink performed was re-banding
    ``log.signatures()`` every commit — banding REQUIRES the signature
    relation, so a commit path that never touches it cannot have
    reintroduced corpus-sized re-banding. Poison the accessor and fold
    batches through the real commit path."""
    from panoptes_spark.streaming import dedup_stream as ds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "nosig")
    sink = ds.NearDedupIndexSink(base)

    def poisoned(self):
        raise AssertionError(
            "commit path read log.signatures() — corpus-sized "
            "re-banding reintroduced (r9 regression)"
        )

    monkeypatch.setattr(ds.DedupIndexLog, "signatures", poisoned)
    for i in range(3):
        sink(docs.where(F.col("doc_id") % 3 == i), i)
    # the log itself still answers pair queries
    assert sink.index(spark).pairs().count() > 0


@pytest.mark.slow
def test_near_dedup_stream_commit_time_bounded(spark, tmp_path, sf_dir):
    """Coarse flat-seconds lock (r9 verdict directive 7; its benchmark
    twin is ``streaming.commit_growth`` from ``perfbench/run.py
    --workload ingest --trace 1``): at fixed batch size the LAST commits
    of an 8-batch fold must stay under 2x the FIRST post-warmup commits
    even though the index behind them is ~4x larger — fails on
    reintroduced per-commit corpus-sized work. The
    sharp structural check is the poisoned-signatures test above; this
    one bounds everything else (pair revalidation, component
    relabeling, count merges)."""
    import time as _time

    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "flat")
    sink = NearDedupIndexSink(base)
    n = 8
    secs = []
    for i in range(n):
        t0 = _time.time()
        sink(docs.where(F.col("doc_id") % n == i), i)
        secs.append(_time.time() - t0)
    import statistics as _stats

    # medians, not means (r11): the commit path is ~3x faster than when
    # this lock landed, so a single 0.5 s scheduler hiccup in a 2-sample
    # mean now trips the 2x ratio on a loaded box — the median keeps the
    # bound at full strength while ignoring one outlier per window
    early = _stats.median(secs[1:4])  # skip commit 0: JVM/codegen warmup
    late = _stats.median(secs[-3:])
    assert late < 2.0 * early, (
        f"per-commit seconds grew with index size: early={early:.2f}s "
        f"late={late:.2f}s (all={['%.2f' % s for s in secs]})"
    )


def test_near_dedup_stream_lineage_guard(spark, tmp_path, sf_dir):
    """A base_path driven from a DIFFERENT checkpoint lineage (deleted/
    recreated checkpoint — batch ids restart at 0 and would silently be
    dropped as replays) fails loudly instead."""
    import json
    import os

    import pytest as _pytest

    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = str(tmp_path / "lin")

    def ckpt_with_id(name, qid):
        d = str(tmp_path / name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "metadata"), "w") as f:
            json.dump({"id": qid}, f)
        return d

    s1 = NearDedupIndexSink(base, checkpoint=ckpt_with_id("ck1", "q-one"))
    s1(docs.where("doc_id % 3 = 0"), 0)
    s1(docs.where("doc_id % 3 = 1"), 1)

    # same lineage: replayed ids are skipped silently (normal restart)
    s1(docs.where("doc_id % 3 = 1"), 1)

    # different lineage, regressed batch id: loud failure, not a drop
    s2 = NearDedupIndexSink(base, checkpoint=ckpt_with_id("ck2", "q-two"))
    with _pytest.raises(ValueError, match="lineage"):
        s2(docs.where("doc_id % 3 = 2"), 0)


def test_domain_mixture_upweights_hard_domains(spark):
    """Higher-loss domains get larger weights; weights sum to ~1; eta=0
    collapses to uniform."""
    from panoptes_spark.pipeline.selection import domain_mixture_weights

    losses = spark.createDataFrame(
        [(i, 1.0 if i < 10 else 3.0) for i in range(20)],
        ["doc_id", "avg_neg_logp"],
    )
    docs = spark.createDataFrame(
        [(i, "easy" if i < 10 else "hard") for i in range(20)],
        ["doc_id", "source"],
    )
    out = {r["source"]: r for r in
           domain_mixture_weights(losses, docs).collect()}
    assert out["hard"]["weight"] > out["easy"]["weight"]
    assert abs(out["hard"]["weight"] + out["easy"]["weight"] - 1.0) < 1e-5
    uni = {r["source"]: r["weight"] for r in
           domain_mixture_weights(losses, docs, eta=0.0).collect()}
    assert abs(uni["hard"] - 0.5) < 1e-6 and abs(uni["easy"] - 0.5) < 1e-6


def test_embedding_drift_detects_population_and_semantic_shift(spark):
    """A cell whose NEW snapshot population moved and rotated must show
    nonzero pop_shift and centroid_shift; an unchanged cell shows ~0."""
    from panoptes_spark.pipeline.drift import embedding_drift

    old = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    old += [(2 + i, [1.0, 0.05 * i]) for i in range(8)]      # cell 0
    old += [(10 + i, [0.05 * i, 1.0]) for i in range(8)]     # cell 1
    # new snapshot: cell 0 unchanged; cell 1 rotated toward x and doubled
    new = [(100 + i, [1.0, 0.05 * i]) for i in range(8)]
    new += [(110 + i, [0.45 + 0.01 * i, 1.0]) for i in range(16)]
    old_df = spark.createDataFrame(old, ["vec_id", "embedding"])
    new_df = spark.createDataFrame(new, ["vec_id", "embedding"])
    out = {r["cell_id"]: r for r in
           embedding_drift(old_df, new_df, n_cells=2).collect()}
    from panoptes_spark.pipeline import dedup
    dedup.release_materialized()
    assert abs(out[0]["centroid_shift"]) < 0.01
    assert out[1]["centroid_shift"] > 0.01
    assert out[1]["pop_shift"] > 0.1 and out[0]["pop_shift"] < 0.0


def test_trim_duplicated_spans_removes_boilerplate_everywhere(spark):
    """A k-gram run shared by two docs is removed from BOTH copies
    (all-occurrences policy); unique text survives; doc-internal
    repeats of the same window also go."""
    from panoptes_spark.pipeline.substrings import trim_duplicated_spans

    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, " ".join(f"x{i}" for i in range(10)) + " " + boiler),
        (2, boiler + " " + " ".join(f"y{i}" for i in range(10))),
        (3, " ".join(f"z{i}" for i in range(12))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    trimmed = trim_duplicated_spans(df, k=8)
    out = {r["doc_id"]: r for r in trimmed.collect()}
    assert "b0" not in out[1]["clean_text"] and "b0" not in out[2]["clean_text"]
    assert out[1]["clean_text"].startswith("x0") and out[1]["n_removed"] == 8
    assert out[2]["n_removed"] == 8
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"].startswith("z0")
    # linear kept-token build: a per-token exists() scan over every
    # duplicated window is quadratic on boilerplate-heavy documents
    plan = trimmed._jdf.queryExecution().optimizedPlan().toString()
    assert "exists(" not in plan


def test_ngram_novelty_bounds_and_detection(spark):
    """A doc copied from the reference scores ~0 novelty; a doc with a
    disjoint vocabulary scores 1; a half-and-half doc lands between."""
    from panoptes_spark.pipeline.substrings import ngram_novelty

    ref_text = " ".join(f"r{i}" for i in range(30))
    ref = spark.createDataFrame([(100, ref_text)], ["doc_id", "text"])
    half = ref_text + " " + " ".join(f"n{i}" for i in range(30))
    ev = spark.createDataFrame(
        [(1, ref_text), (2, " ".join(f"q{i}" for i in range(30))), (3, half)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in ngram_novelty(ev, ref).collect()}
    assert out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0
    assert 0.3 < out[3]["novelty"] < 0.7


def test_perplexity_buckets_quantile_cuts(spark):
    """Per-source bucket sizes follow the exact quantile-threshold cuts
    on distinct scores; a tie group shares ONE bucket (the documented
    boundary rule — every doc at or under the threshold joins the lower
    bucket); the worst score lands in the tail; every doc is bucketed;
    and fluency still orders the real-LM scores (gibberish tails)."""
    import collections

    from panoptes_spark.pipeline import dedup as dd
    from panoptes_spark.pipeline.lm import (
        perplexity_buckets,
        score_documents,
        train_bigram_lm,
    )

    scored = spark.createDataFrame(
        [(i, 0.1 * (i + 1)) for i in range(9)]        # a: 9 distinct
        + [(200 + i, 0.5) for i in range(3)],         # b: one tie group
        ["doc_id", "avg_neg_logp"],
    )
    docs = spark.createDataFrame(
        [(i, "a") for i in range(9)] + [(200 + i, "b") for i in range(3)],
        ["doc_id", "source"],
    )
    out = perplexity_buckets(scored, docs).collect()
    dd.release_materialized()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    ca = collections.Counter(r["bucket"] for r in by_src["a"])
    assert ca == {"head": 3, "middle": 3, "tail": 3}
    worst = max(by_src["a"], key=lambda r: r["avg_neg_logp"])
    assert worst["bucket"] == "tail"
    # all-tied source: the threshold equals the tied score, so the
    # whole tie group joins the lowest bucket
    cb = collections.Counter(r["bucket"] for r in by_src["b"])
    assert cb == {"head": 3}
    assert len(out) == scored.count()

    # end-to-end with the real LM: gibberish tails within its source
    rows = [(i, f"the cat number {i} sat on the mat and the dog sat too",
             "a") for i in range(8)]
    rows += [(100, "zq xv qq zk vx jq zz qv kx vz jx qz", "a")]
    ldocs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    uni, bi, vocab = train_bigram_lm(ldocs)
    lout = perplexity_buckets(
        score_documents(ldocs, uni, bi, vocab), ldocs
    ).collect()
    dd.release_materialized()
    gib = next(r for r in lout if r["doc_id"] == 100)
    assert gib["bucket"] == "tail"


def test_per_source_rank_windows_deskewed(spark):
    """Plan-shape lock for the r10 de-skew (the one anti-pattern the
    no-unpartitioned-Window audit cannot see — a window partitioned by
    a LOW-CARDINALITY column sorts ~corpus/n_sources rows in one task):
    perplexity_buckets must plan WITHOUT any Window (quantile-threshold
    cuts), and frequent_ngrams' vocabulary-sized rank must partition by
    (source, salt) — only its bounded survivor rank (<= n_salt * top_n
    rows per source) may partition by source alone."""
    from panoptes_spark.pipeline import dedup as dd
    from panoptes_spark.pipeline.lm import perplexity_buckets
    from panoptes_spark.pipeline.substrings import frequent_ngrams

    scored = spark.createDataFrame(
        [(i, 0.1 * i) for i in range(30)], ["doc_id", "avg_neg_logp"]
    )
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common words here", "s")
         for i in range(30)],
        ["doc_id", "text", "source"],
    )
    pb_plan = perplexity_buckets(scored, docs)._jdf.queryExecution(
    ).executedPlan().toString()
    dd.release_materialized()
    assert "Window" not in pb_plan, "perplexity_buckets regrew a window"

    fn_plan = frequent_ngrams(docs)._jdf.queryExecution().executedPlan(
    ).toString()
    win_lines = [
        ln for ln in fn_plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert len(win_lines) == 2, fn_plan
    # phase 1 (the vocab-sized rank) must carry the salt in its
    # partition spec; exactly one window (the bounded survivor rank)
    # may partition by source alone
    salted = [ln for ln in win_lines if "__salt" in ln]
    assert len(salted) == 1, win_lines
    """An injected extreme length is flagged; the bulk is not; a
    constant-valued group (MAD=0) emits NULL mod_z and no flags."""
    from panoptes_spark.pipeline.stats import length_outliers

    rows = [(i, "s", 100 + (i % 5)) for i in range(20)]
    rows += [(99, "s", 10000)]
    rows += [(200 + i, "const", 50) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n"])
    out = {r["doc_id"]: r for r in
           length_outliers(df, ["source"], "n").collect()}
    assert out[99]["is_outlier"] is True
    assert all(not out[i]["is_outlier"] for i in range(20))
    assert out[200]["mod_z"] is None and out[200]["is_outlier"] is False


def test_minhash_estimate_identical_and_disjoint(spark):
    """Identical docs estimate 1.0; the estimate column stays within
    [0, 1] and pairs carry their verified jaccard through."""
    from panoptes_spark.pipeline import dedup as dd

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",
        3: "alpha beta gamma delta epsilon zeta eta iota",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )
    sig = dd.minhash_signature(docs)
    pairs = dd.minhash_dedup(docs, threshold=0.5)
    out = {(r["a"], r["b"]): r for r in
           dd.minhash_estimate(pairs, sig).collect()}
    assert out[(1, 2)]["est_jaccard"] == 1.0
    assert out[(1, 2)]["jaccard"] == 1.0 and out[(1, 2)]["abs_err"] == 0.0
    for r in out.values():
        assert 0.0 <= r["est_jaccard"] <= 1.0
    dd.release_materialized()


def test_token_budget_caps_and_remainder(spark):
    """A small source saturates at the epoch cap; a huge one gets a
    fractional epoch; allocations never exceed the budget and the
    remainder is reported on every row."""
    from panoptes_spark.pipeline.selection import token_budget_allocation

    rows = [(i, "w " * 10, "small") for i in range(2)]          # ~22 tokens
    rows += [(100 + i, "w " * 1000, "big") for i in range(50)]  # ~50k tokens
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in
           token_budget_allocation(docs, 10_000, max_epochs=4.0).collect()}
    assert out["small"]["epochs"] == 4.0  # capped: budget share >> size
    assert 0 < out["big"]["epochs"] < 1
    total_alloc = sum(r["alloc_tokens"] for r in out.values())
    assert total_alloc <= 10_000
    assert all(r["unallocated"] == 10_000 - total_alloc
               for r in out.values())


def test_frequent_ngrams_surfaces_boilerplate(spark):
    """A footer shared by most docs of a source outranks unique text;
    ranks are contiguous from 1 and capped at top_n."""
    from panoptes_spark.pipeline.substrings import frequent_ngrams

    footer = "all rights reserved"
    rows = [(i, f"unique{i} words here {footer}", "a") for i in range(6)]
    rows += [(100 + i, f"other{i} text entirely", "b") for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = frequent_ngrams(docs, k=3, top_n=2).collect()
    a = [r for r in out if r["source"] == "a"]
    top_a = next(r for r in a if r["rank"] == 1)
    # the footer 3-gram sorts first among the df=6 boilerplate grams
    assert top_a["gram"] == footer
    assert top_a["df"] == 6
    assert {r["rank"] for r in a} == {1, 2}


def test_label_balance_wilson_properties(spark):
    """Shares sum to 1 per group, CIs bracket the share inside [0,1],
    and a rarer class gets a wider interval at the same n."""
    from panoptes_spark.pipeline.audit import label_balance

    rows = [(i, "s", "en") for i in range(90)]
    rows += [(100 + i, "s", "fr") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang"])
    out = {r["lang"]: r for r in label_balance(df, "source", "lang").collect()}
    assert abs(out["en"]["share"] + out["fr"]["share"] - 1.0) < 1e-9
    for r in out.values():
        assert 0.0 <= r["ci_lo"] <= r["share"] <= r["ci_hi"] <= 1.0
    assert (out["fr"]["ci_hi"] - out["fr"]["ci_lo"]) < (
        0.5  # sanity: small-n interval is wide but bounded
    )


def test_cluster_size_stats_histogram(spark):
    """A 3-cluster, a 2-cluster, and isolated nodes roll up to the
    expected histogram with removal counts."""
    from panoptes_spark.pipeline.components import cluster_size_stats

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 21)],
        ["node", "component"],
    )
    out = {r["cluster_size"]: r for r in cluster_size_stats(comp).collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_removed"] == 2
    assert out[2]["n_clusters"] == 1 and out[2]["n_removed"] == 1
    assert out[1]["n_clusters"] == 2 and out[1]["n_removed"] == 0


def test_keep_best_representatives_prefers_quality(spark):
    """Within a cluster the highest-quality member survives (ties break
    to the lowest id); isolated docs always survive."""
    from panoptes_spark.pipeline.components import keep_best_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (9, 5)], ["doc_id", "q"]
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], ["node", "component"]
    )
    out = {r["doc_id"]: r for r in
           keep_best_representatives(docs, comps, "q").collect()}
    assert set(out) == {2, 9}  # 2 beats 3 on the id tiebreak, 9 isolated
