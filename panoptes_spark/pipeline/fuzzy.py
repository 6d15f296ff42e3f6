"""Fuzzy (approximate-text) join between two different tables.

Entity resolution / record linkage: match rows of one corpus to
similar-text rows of another (scraped docs to a canonical source, product
feeds to a catalog, incoming batch to a reference set) without an exact
key. Same MinHash+LSH machinery as the single-corpus near-dup pass
(``pipeline/dedup.py``), but as a two-sided blocking join: candidates are
(left, right) pairs sharing any LSH band bucket, then exact n-gram
Jaccard verifies.

Spark-first design notes (100 TB):

- Signatures are narrow per-side passes (single-pass md5 fold — see
  ``dedup.minhash_signature``); the ONLY corpus-sized shuffle is the
  (band, bucket) equi-join between the two banded frames.
- The skew guard caps the COMBINED bucket population (a bucket with l
  left and r right members yields l*r candidate pairs, so a shared
  boilerplate template would otherwise explode the join): oversized
  buckets are dropped from blocking, mirroring
  ``dedup.lsh_candidates(max_bucket_size=...)``.
- ``keep='best'`` resolves each left row to its single best match with a
  deterministic (jaccard desc, right-id asc) tie-break via one keyed
  window over the PAIR set (pair-sized, not corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from panoptes_spark.pipeline.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    banded_buckets,
    materialize_once,
    minhash_signature,
)

__all__ = ["fuzzy_join"]


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    keep: str = "all",
) -> DataFrame:
    """Join ``left`` to ``right`` on text similarity: returns
    (left_id, right_id, jaccard) for every pair whose exact word-shingle
    Jaccard reaches ``threshold``, candidates blocked by shared MinHash
    band buckets (so recall follows the LSH S-curve, as in
    ``dedup.lsh_candidates``).

    ``keep='all'`` emits every verified pair; ``'best'`` keeps each left
    row's highest-jaccard match (ties broken by lowest right id —
    deterministic under any partitioning).

    ``left_id`` / ``right_id`` must differ (rename upstream otherwise);
    both must be unique within their table.
    """
    if keep not in ("all", "best"):
        raise ValueError(f"keep must be all|best: {keep}")
    if left_id == right_id:
        raise ValueError("left_id and right_id must have distinct names")

    # each side's signature feeds its banding AND the verify join —
    # materialize eagerly so the expensive shingle fold runs once per
    # side, not once per concurrent consumer stage
    # kept: SCALE.md "Build-time persists", fuzzy_join
    lsig = materialize_once(
        minhash_signature(
            left.select(left_id, text_col), text_col, k_shingle, num_hashes
        )
    )
    # kept: SCALE.md "Build-time persists", fuzzy_join
    rsig = materialize_once(
        minhash_signature(
            right.select(right_id, text_col), text_col, k_shingle, num_hashes
        )
    )
    lb = banded_buckets(lsig, left_id, num_hashes, bands)
    rb = banded_buckets(rsig, right_id, num_hashes, bands)

    if max_bucket_size is not None:
        # combined population: l*r pairs come out of a bucket, so cap l+r
        sizes = (
            lb.select("band", "bucket")
            .unionByName(rb.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("__bn"))
            .where(F.col("__bn") <= int(max_bucket_size))
            .select("band", "bucket")
        )
        lb = lb.join(sizes, ["band", "bucket"])
        rb = rb.join(sizes, ["band", "bucket"])

    cand = (
        lb.join(rb, ["band", "bucket"])
        .select(left_id, right_id)
        .distinct()
    )
    pairs = (
        cand.join(
            lsig.select(left_id, F.col("shingles").alias("__sh_l")), left_id
        )
        .join(
            rsig.select(right_id, F.col("shingles").alias("__sh_r")), right_id
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__sh_l", "__sh_r"))
                / F.size(F.array_union("__sh_l", "__sh_r")),
                6,
            ),
        )
        .where(F.col("jaccard") >= float(threshold))
        .select(left_id, right_id, "jaccard")
    )
    if keep == "all":
        return pairs
    w = Window.partitionBy(left_id).orderBy(
        F.col("jaccard").desc(), F.col(right_id).asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
