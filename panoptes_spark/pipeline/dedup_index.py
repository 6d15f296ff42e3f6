"""Persisted near-dup artifact: build the MinHash pair set ONCE, share it.

The minhash chain (shingle → signature → banded LSH join → Jaccard
verify) is the single most expensive stage in the dedup family, and SIX
independent consumers need its output: the pair relation itself
(`dedup_minhash_pairs`), representative selection
(`dedup_representatives`), connected components (`dedup_components`),
leakage-safe split assignment (`leakage_safe_splits`), the post-split
leakage audit (`split_leakage`), and the cross-source duplication matrix
(`source_overlap`). Re-running the chain per consumer multiplies its
cost by the consumer count — the r7 bench measured exactly that (+106%
on `dedup_components` at sf0.1 from stacked re-materialization alone).

This module is the ``pipeline/ann_index.py`` build-once pattern applied
to dedup: one build materializes the verified pair set AND its
connected-component labels as parquet; every consumer is then a scan.

Layout under ``path``::

    MANIFEST.json        build params + row counts (integrity check)
    pairs.parquet        (a bigint, b bigint, jaccard double)  a < b
    components.parquet   (node bigint, component bigint)  — min-id label
                         per near-dup cluster, every corpus doc present

Build cost: ONE signature materialization (persisted, eagerly filled,
released after the writes), the banded candidate join, the verify join,
and the capped min-label propagation — the exact work any single
consumer already paid, paid once. At 100 TB the artifact is pair-sized
plus one (node, component) row per document: both tiny next to the
corpus, and both plain parquet any engine can read back.

Correctness: pair/component contents are partition-layout-independent
(gate-verified every round), so a parquet round-trip is value-exact;
``tests/test_pipeline.py::test_dedup_index_roundtrip`` asserts artifact
≡ inline chain on both relations.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup
from .components import connected_components

__all__ = ["build_dedup_index", "update_dedup_index", "DedupIndex"]


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int | None = dedup.DEFAULT_MAX_BUCKET_SIZE,
    max_iter: int = 10,
) -> "DedupIndex":
    """Materialize the verified pair set and component labels at ``path``.

    The signature frame is persisted once and feeds both the candidate
    join and the verify join; it is released before returning (the
    artifact replaces it). Components are computed over the universe of
    ``docs`` (isolated docs label themselves), matching
    ``connected_components(pairs, nodes=docs)``.
    """
    spark = docs.sparkSession
    os.makedirs(path, exist_ok=True)
    # kept: SCALE.md "Build-time persists", build_dedup_index
    sig = dedup.materialize_once(
        dedup.minhash_signature(docs, text_col, k_shingle, num_hashes)
    )
    try:
        cand = dedup.lsh_candidates(
            sig, id_col, num_hashes, bands, max_bucket_size
        )
        pairs = dedup.jaccard_verify(cand, sig, id_col, threshold)
        pairs_path = os.path.join(path, "pairs.parquet")
        pairs.write.mode("overwrite").parquet(pairs_path)
        # signatures persist in the artifact (num_hashes longs per doc —
        # tiny next to the corpus) so `update_dedup_index` can band the
        # EXISTING corpus without rescanning its text
        sig.select(id_col, "minhash").write.mode("overwrite").parquet(
            os.path.join(path, "signatures.parquet")
        )
    finally:
        sig.unpersist()

    pairs_back = spark.read.parquet(pairs_path)
    comps = connected_components(
        pairs_back, nodes=docs.select(id_col), max_iter=max_iter
    )
    comps.write.mode("overwrite").parquet(
        os.path.join(path, "components.parquet")
    )

    n_pairs = spark.read.parquet(pairs_path).count()
    n_nodes = spark.read.parquet(
        os.path.join(path, "components.parquet")
    ).count()
    manifest = {
        "format_version": 2,  # 2 = carries signatures.parquet
        "id_col": id_col,
        "text_col": text_col,
        "k_shingle": int(k_shingle),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "threshold": float(threshold),
        "max_bucket_size": max_bucket_size,
        "max_iter": int(max_iter),
        "n_pairs": int(n_pairs),
        "n_nodes": int(n_nodes),
    }
    # write-then-replace: a crashed build leaves no MANIFEST, so readers
    # (and the gate cache) treat the directory as absent and rebuild
    tmp = os.path.join(path, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "MANIFEST.json"))
    return DedupIndex(spark, path)


def update_dedup_index(
    old: "DedupIndex",
    old_docs: DataFrame,
    new_docs: DataFrame,
    path: str,
) -> "DedupIndex":
    """Append ``new_docs`` to an existing index WITHOUT re-running the
    minhash chain over the old corpus — the 100 TB growth path (a corpus
    that gains 1% per day cannot afford a full re-shingle per append).
    Result is EXACTLY the full rebuild over ``old_docs ∪ new_docs``
    (asserted by ``test_dedup_index_incremental_equals_rebuild``).

    Incremental work, by stage:

    - signatures: computed for NEW docs only; the old corpus's come from
      the artifact (``signatures.parquet`` — its text is never rescanned);
    - banding: both signature sets band (narrow expressions over the
      signature tables, not the corpora);
    - bucket cap: eligibility is re-evaluated on COMBINED bucket sizes.
      Sizes only GROW under appends, so eligible-in-combined ⇒
      eligible-in-old ⇒ every still-eligible (old, old) candidate was
      already verified by the old build — old pairs need only a
      candidacy REVALIDATION (drop pairs whose every generating bucket
      crossed the cap), never re-verification. That monotonicity is what
      makes the incremental result exact, cap included;
    - new candidate pairs (≥ 1 new member) are Jaccard-verified as
      usual; OLD members' shingle sets are recomputed on demand for the
      candidate docs ONLY (a semi-join prunes the old corpus scan to the
      handful of docs that actually collide with new ones);
    - components re-propagate over the combined pair set (edge-sized,
      bounded rounds — never corpus-sized).
    """
    spark = new_docs.sparkSession
    meta = old.meta
    id_col, text_col = meta["id_col"], meta["text_col"]
    k_shingle, num_hashes = meta["k_shingle"], meta["num_hashes"]
    bands, threshold = meta["bands"], meta["threshold"]
    max_bucket_size = meta["max_bucket_size"]
    if int(meta.get("format_version", 1)) < 2:
        raise ValueError(
            f"index at {old.path} predates signatures.parquet "
            "(format_version < 2); rebuild once with build_dedup_index"
        )

    os.makedirs(path, exist_ok=True)
    # kept: SCALE.md "Build-time persists", update_dedup_index
    sig_new = dedup.materialize_once(
        dedup.minhash_signature(new_docs, text_col, k_shingle, num_hashes)
    )
    try:
        b_old = dedup.banded_buckets(
            old.signatures(), id_col, num_hashes, bands
        ).withColumn("__new", F.lit(False))
        b_new = dedup.banded_buckets(
            sig_new, id_col, num_hashes, bands
        ).withColumn("__new", F.lit(True))
        banded = b_old.unionByName(b_new)
        if max_bucket_size is not None:
            sizes = banded.groupBy("band", "bucket").agg(
                F.count("*").alias("__bn")
            )
            eligible = banded.join(
                sizes.where(F.col("__bn") <= max_bucket_size),
                ["band", "bucket"],
            ).drop("__bn")
        else:
            eligible = banded
        # kept: SCALE.md "Build-time persists", update_dedup_index
        eligible = dedup.materialize_once(eligible)

        # candidate pairs with >= 1 new member (old-old candidacy is
        # settled by the old build + the revalidation below)
        l, r = eligible.alias("l"), eligible.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
                & (F.col("l.__new") | F.col("r.__new")),
            )
            .select(
                F.col(f"l.{id_col}").alias("a"),
                F.col(f"r.{id_col}").alias("b"),
            )
            .distinct()
        )
        # shingle sets for verification: new docs carry theirs in
        # sig_new; old docs re-shingle ON DEMAND for candidate members
        # only (semi-join prunes the corpus scan)
        old_ids = (
            cand.select(F.col("a").alias(id_col))
            .unionByName(cand.select(F.col("b").alias(id_col)))
            .distinct()
        )
        old_cand_docs = old_docs.join(old_ids, id_col, "left_semi")
        sh_old = old_cand_docs.select(
            F.col(id_col),
            F.expr(dedup.shingles_col(text_col, k_shingle)).alias("shingles"),
        )
        sh_all = sig_new.select(id_col, "shingles").unionByName(sh_old)
        new_pairs = dedup.jaccard_verify(cand, sh_all, id_col, threshold)

        # revalidate OLD pairs: keep iff some shared bucket is still
        # under the (combined) cap — candidacy can only shrink, and the
        # verified jaccard is unchanged
        old_pairs = old.pairs()
        if max_bucket_size is not None:
            ea = eligible.select(
                F.col(id_col).alias("a"), "band", "bucket"
            )
            eb = eligible.select(
                F.col(id_col).alias("b"), "band", "bucket"
            )
            kept_old = old_pairs.join(
                ea.join(eb, ["band", "bucket"]).select("a", "b").distinct(),
                ["a", "b"],
                "left_semi",
            )
        else:
            kept_old = old_pairs
        pairs = kept_old.unionByName(new_pairs)
        pairs_path = os.path.join(path, "pairs.parquet")
        pairs.write.mode("overwrite").parquet(pairs_path)
        old.signatures().unionByName(
            sig_new.select(id_col, "minhash")
        ).write.mode("overwrite").parquet(
            os.path.join(path, "signatures.parquet")
        )
    finally:
        # release only THIS update's persists (a global release could
        # drop frames a concurrent consumer registered)
        sig_new.unpersist()
        try:
            eligible.unpersist()
        except NameError:
            pass

    all_ids = old_docs.select(id_col).unionByName(new_docs.select(id_col))
    pairs_back = spark.read.parquet(pairs_path)
    comps = connected_components(
        pairs_back, nodes=all_ids, max_iter=meta["max_iter"]
    )
    comps.write.mode("overwrite").parquet(
        os.path.join(path, "components.parquet")
    )
    manifest = dict(meta)
    manifest["n_pairs"] = int(spark.read.parquet(pairs_path).count())
    manifest["n_nodes"] = int(
        spark.read.parquet(os.path.join(path, "components.parquet")).count()
    )
    tmp = os.path.join(path, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "MANIFEST.json"))
    return DedupIndex(spark, path)


class DedupIndex:
    """Handle over a built dedup artifact directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "MANIFEST.json")) as f:
            self.meta = json.load(f)

    def signatures(self) -> DataFrame:
        """(id, minhash array<bigint>) — the banding input, persisted so
        incremental updates never rescan the old corpus text."""
        return self.spark.read.parquet(
            os.path.join(self.path, "signatures.parquet")
        )

    def pairs(self) -> DataFrame:
        """(a, b, jaccard) verified near-dup pairs, a < b."""
        return self.spark.read.parquet(os.path.join(self.path, "pairs.parquet"))

    def components(self) -> DataFrame:
        """(node, component) min-id cluster label per corpus doc."""
        return self.spark.read.parquet(
            os.path.join(self.path, "components.parquet")
        )

    def keep_representatives(self, docs: DataFrame) -> DataFrame:
        """Survivors after dropping the larger id of every pair — the
        artifact-backed twin of ``dedup.dedup_keep_representatives``."""
        id_col = self.meta["id_col"]
        losers = self.pairs().select(F.col("b").alias(id_col)).distinct()
        return docs.join(losers, id_col, "left_anti")
