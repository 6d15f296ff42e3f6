"""Deduplication operators for large-scale training-data pipelines.

All variants are DataFrame-native (no Python UDFs in the hot path) and keyed
so the only shuffles are the candidate-bucket joins:

- exact:       hash-groupBy on content (or normalized content)
- minhash LSH: word-shingles -> K minhash perms -> banded buckets ->
               candidate self-join -> exact Jaccard verify
- simhash:     60-bit sign-sum fingerprint (hamming-adjacent docs collide
               on band-exact match)
- n-gram Jaccard: direct pair similarity (for verify / small candidate sets)

Portable hash primitive (identical in Spark and DuckDB, used so the
correctness gate can hash-compare):

    Spark:  cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

Scale notes (100 TB): per-row signature computation is narrow (no shuffle);
LSH bucketing shuffles once on (band, bucket-hash); candidate verification
joins only within buckets. Band count/row count tune recall vs cost. For
skewed buckets (boilerplate docs), cap bucket size before the pair join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MINHASH_PRIME = 2147483647  # 2^31 - 1


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a scan whose split count is below the session's
    parallelism BEFORE an expensive per-row expression. Parquet's split
    unit is the ROW GROUP: a file written as one giant row group scans
    as ONE task no matter how many cores/executors exist — the r7 sf1
    soak measured the 60-bit simhash fold serialized on a single core
    for exactly this reason (the bench corpus ships one row group per
    table). The round-robin exchange moves the raw rows once, cheap
    relative to 10-100× compute parallelism; it's SKIPPED when the
    input already has enough splits (the 100 TB case, where well-written
    parquet carries thousands of row groups), on already-CACHED frames
    (their blocks are in memory at whatever layout filled them — a
    spread would add an exchange on top of a frame that no longer pays
    a scan; the r7→r8 dedup-family bench regression was exactly this
    fixed cost stacking per consumer), and on streaming frames
    (micro-batch sizing is the stream's concern)."""
    if df.isStreaming or df.is_cached:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: frames ``materialize_once`` persisted and never released — callers
#: that finish a pipeline can drop them all with ``release_materialized``
#: (repeated invocations in one session otherwise accumulate cached
#: blocks until executor storage evicts them)
_MATERIALIZED: list[DataFrame] = []


def materialize_once(df: DataFrame) -> DataFrame:
    """Persist AND eagerly fill the cache for a frame that feeds multiple
    downstream branches. A lazy ``persist()`` is populated by the first
    stage that scans it — but independent LEAF stages of one job start
    concurrently, and each recomputes the un-cached upstream expression
    (the r7 sf1 soak measured the banded-simhash gate at ~2.5× its
    signature cost from exactly this: four branches racing to compute the
    60-bit fold). One count() action fills the cache before the fan-out;
    its cost is the single materialization the plan needs anyway.
    Default storage level (memory+disk) keeps it spill-safe.

    Composition-aware (r8): a frame that is ALREADY cached is returned
    as-is after a (cheap, cache-served) fill action — re-persisting a
    frame an upstream operator materialized would stack a second copy
    of the same blocks and a second eager count against cold storage.
    """
    if df.is_cached:
        df.count()  # no-op if filled; fills a lazily-persisted frame
        return df
    df = df.persist()
    df.count()
    _MATERIALIZED.append(df)
    return df


def persist_registered(df: DataFrame) -> DataFrame:
    """LAZY registered persist: the cache fills on the first consuming
    action (no eager count job), later consumers read the blocks, and
    ``release_materialized`` still drops them. For frames whose
    consumers are SEQUENTIAL driver-side actions (the PQ trainer's
    per-round codebook tables: each round's collect or write is one
    action at a time), where ``materialize_once``'s eager count would
    only add a job — the concurrent-leaf race it exists to close cannot
    happen between sequential actions, and the worst case under a future
    concurrent consumer is one duplicated (cheap) fill, never a wrong
    answer."""
    if df.is_cached:
        return df
    df = df.persist()
    _MATERIALIZED.append(df)
    return df


def release_materialized() -> int:
    """Unpersist every frame ``materialize_once`` registered in this
    session and return how many were released. Call after the consuming
    actions complete (bench/gate harnesses call it between queries)."""
    n = 0
    while _MATERIALIZED:
        _MATERIALIZED.pop().unpersist()
        n += 1
    return n


def spark_hash64(expr: str) -> str:
    """Portable md5-based 60-bit hash (Spark SQL string)."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def duckdb_hash64(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# exact dedup (A8-adjacent; hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], tiebreak_col: str) -> DataFrame:
    """Keep exactly one row per distinct ``cols`` — the one with the lowest
    ``tiebreak_col`` (deterministic, unlike dropDuplicates)."""
    w = Window.partitionBy(*cols).orderBy(F.col(tiebreak_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text_col(col: str = "text") -> F.Column:
    """Canonical text form: lowercase, punctuation stripped, whitespace
    collapsed — the usual exact-dedup key for web text."""
    c = F.lower(F.col(col))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def shingles_col(text_col: str, k: int) -> str:
    """Spark SQL for the distinct word-k-gram set of ``text_col``.

    The split binds inside a single-element ``transform`` let-binding so
    the lambda body slices a bound array — inlining ``split`` into the
    body would re-split the whole document once per shingle (O(n²); the
    same pushdown-inlining hazard as ``text.add_repetition_features``).
    """
    shingle = (
        f"CASE WHEN size(w) < {k} "
        f"THEN array(concat_ws(' ', w)) "
        f"ELSE transform(sequence(1, size(w) - {k} + 1),"
        f" i -> concat_ws(' ', slice(w, i, {k}))) END"
    )
    return (
        f"array_distinct(element_at(transform(array(split({text_col}, ' ')),"
        f" w -> {shingle}), 1))"
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Add ``shingles`` (distinct k-gram array) and ``minhash``
    (array<bigint> of length ``num_hashes``).

    Permutation family: h_i(x) = ((2i+1)*x + (3i+7)) mod P over the
    md5-derived base hash. All JVM-side; no shuffle beyond the guarded
    input spread (``spread_for_compute`` — skipped on well-split input).
    """
    h = spark_hash64("s")
    df = spread_for_compute(df)
    df = df.withColumn("shingles", F.expr(shingles_col(text_col, k_shingle)))
    # Single-pass fold: md5 is computed ONCE per shingle. (A naive
    # per-permutation array_min would let projection collapse inline the
    # md5 into all K branches — K× the hash work; measured 60× slower.)
    sig = (
        f"aggregate(transform(shingles, s -> pmod({h}, {MINHASH_PRIME})),"
        f" array_repeat(cast({MINHASH_PRIME} as bigint), {num_hashes}),"
        f" (acc, x) -> zip_with(acc, sequence(0, {num_hashes - 1}),"
        f" (a, i) -> least(a, pmod((2*i+1) * x + (3*i+7), {MINHASH_PRIME}))))"
    )
    return df.withColumn("minhash", F.expr(sig))


#: default LSH bucket cap: a bucket of k docs contributes O(k^2) candidate
#: pairs, so one boilerplate/template cluster can dominate the whole job.
#: Buckets over the cap skip the pair join and take the representative
#: route (``oversized_bucket_clusters``) instead.
DEFAULT_MAX_BUCKET_SIZE = 500


def banded_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band, bucket) — one row per doc per band."""
    rows = num_hashes // bands
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> struct(b as band,"
                f" array_join(slice(minhash, b*{rows}+1, {rows}), '-') as bucket))"
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Returns distinct (a, b) with a < b. One shuffle on the bucket key.

    ``max_bucket_size``: skew guard for the 100 TB path — buckets larger
    than this (boilerplate/template clusters) are dropped from the pair
    join, since a k-doc bucket contributes O(k^2) pairs. Oversized buckets
    take the ``oversized_bucket_clusters`` representative route instead of
    pairwise verify. Pass None for exact (every bucket joined).
    """
    banded = banded_buckets(sig_df, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bucket").agg(
            F.count("*").alias("__bn")
        )
        banded = banded.join(
            sizes.where(F.col("__bn") <= max_bucket_size), ["band", "bucket"]
        ).drop("__bn")
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """C4-style corpus-level line dedup: every distinct line survives only
    at its first occurrence (min ``(doc, position)`` — deterministic under
    any partitioning); repeats elsewhere are removed and documents are
    re-assembled from their surviving lines in order. Documents left with
    no lines drop out. ``sep='\\n\\n'`` gives paragraph-level dedup with
    the same machinery.

    Scale shape: survivor pick is a groupBy on the 16-byte line hash with
    map-side partial min, so boilerplate lines (millions of identical
    footers) collapse to one row per task before the shuffle. The
    survivor join back to the line set is hash-keyed and skew-prone on
    those same footers — AQE skew-split handles it (enabled in
    session.py). Re-assembly is one groupBy doc. The survivor side of the
    join carries only (hash, doc, pos); line text rides the probe side
    into re-assembly.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "line"),
    ).withColumn("line_hash", F.md5("line"))
    first = lines.groupBy("line_hash").agg(
        F.min(F.struct(id_col, "pos")).alias("keep")
    )
    kept = lines.join(first, "line_hash").where(
        (F.col(f"keep.{id_col}") == F.col(id_col))
        & (F.col("keep.pos") == F.col("pos"))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, line))),"
                       " s -> s.line)"),
                sep,
            ).alias(text_col)
        )
    )


def jaccard_verify(
    pairs: DataFrame,
    sig_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard over the distinct shingle sets for candidate pairs;
    keeps pairs with similarity >= threshold (rounded to 6dp for
    engine-stable comparison)."""
    sh = sig_df.select(F.col(id_col), "shingles")
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "a", "shingles": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({id_col: "b", "shingles": "sh_b"}), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def oversized_bucket_clusters(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(doc_id, rep_id) for members of buckets LARGER than the cap.

    The representative route for boilerplate clusters: a k-doc bucket
    yields k rows (member -> min-id representative) instead of the
    O(k^2) pair explosion — members of a near-identical template cluster
    collapse onto one survivor without pairwise verification.
    """
    banded = banded_buckets(sig_df, id_col, num_hashes, bands)
    stats = banded.groupBy("band", "bucket").agg(
        F.count("*").alias("__bn"), F.min(id_col).alias("rep_id")
    )
    return (
        banded.join(
            stats.where(F.col("__bn") > max_bucket_size), ["band", "bucket"]
        )
        .select(id_col, "rep_id")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """End-to-end near-dup pair detection; returns (a, b, jaccard).

    The bucket cap is wired BY DEFAULT: oversized (boilerplate) buckets
    never reach the O(k^2) pair join — collapse them separately with
    :func:`oversized_bucket_clusters` / :func:`minhash_dedup_keep`.

    The signature frame feeds both the candidate join and the verify join —
    persist it (eagerly: concurrent leaf stages would otherwise race to
    recompute the un-cached shingling) so hashing runs once."""
    sig = materialize_once(
        minhash_signature(df, text_col, k_shingle, num_hashes)
    )
    cand = lsh_candidates(sig, id_col, num_hashes, bands, max_bucket_size)
    return jaccard_verify(cand, sig, id_col, threshold)


def minhash_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Survivors after near-dup collapse, with BOTH routes composed:
    verified pairs (normal buckets) drop the larger id; oversized buckets
    drop every member but the min-id representative."""
    sig = materialize_once(
        minhash_signature(df, text_col, k_shingle, num_hashes)
    )
    cand = lsh_candidates(sig, id_col, num_hashes, bands, max_bucket_size)
    pairs = jaccard_verify(cand, sig, id_col, threshold)
    big = oversized_bucket_clusters(
        sig, id_col, num_hashes, bands, max_bucket_size
    )
    losers = (
        pairs.select(F.col("b").alias(id_col))
        .unionByName(
            big.where(F.col(id_col) != F.col("rep_id")).select(id_col)
        )
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every doc that appears as the larger id of a near-dup pair
    (greedy min-id representative; exact connected components would need
    iteration — this is the standard single-pass approximation)."""
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over whitespace tokens (weight 1 each).

    bit b set iff sum over tokens of ±1 (sign of token-hash bit b) > 0.
    Pure array expressions — codegen'd; the only exchange is the guarded
    input spread (``spread_for_compute``, skipped on well-split input).
    Token hashes are materialized once per token (transform), not
    re-derived per bit: md5 is the dominant cost and folding bits over
    cached hashes cuts the work ~``bits``-fold.
    """
    df = spread_for_compute(df)
    h = spark_hash64("t")
    expr = (
        f"aggregate(transform(split({text_col}, ' '), t -> {h}), "
        f"array_repeat(0, {bits}), "
        f"(acc, hh) -> zip_with(acc, sequence(0, {bits - 1}), (c, b) -> "
        f"c + CASE WHEN (shiftright(hh, b) & 1) = 1 THEN 1 ELSE -1 END), "
        f"counts -> aggregate(zip_with(counts, sequence(0, {bits - 1}), (c, b) -> "
        f"CASE WHEN c > 0 THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END), "
        f"cast(0 as bigint), (a, x) -> a + x))"
    )
    return df.withColumn("simhash", F.expr(expr))


#: banded-hamming hybrid routing threshold: buckets over this size take
#: the vectorized popcount kernel (one numpy task ~|bucket|² SIMD ops);
#: smaller buckets stay in the equi-join, whose per-bucket candidate
#: bound is cutoff² and whose tiny groups would drown applyInPandas in
#: per-group pandas overhead.
_KERNEL_BUCKET_CUTOFF = 64

#: below this many fingerprints the hybrid's extra stages (bucket-size
#: agg + routing join + kernel) cost more than the worst-case collision
#: join they avoid — route everything through the plain equi-join
_HYBRID_MIN_ROWS = 20_000


def _popcount64(x):
    """Vectorized 64-bit popcount (SWAR) over a uint64 ndarray —
    numpy-version-independent twin of ``bit_count``."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _block_hamming_pairs(h, max_hamming: int, block: int = 8192):
    """All pairs within ``h`` (distinct int64 fingerprints) at hamming ≤
    ``max_hamming`` via blockwise XOR-popcount. Returns (va, vb, d)
    value-oriented arrays (va < vb); memory bound = block², not n²."""
    n = len(h)
    hu = h.view(np.uint64)
    out_a, out_b, out_d = [], [], []
    for i0 in range(0, n, block):
        xi = hu[i0 : i0 + block]
        for j0 in range(i0, n, block):
            xj = hu[j0 : j0 + block]
            d = _popcount64(xi[:, None] ^ xj[None, :])
            mask = d <= max_hamming
            if i0 == j0:
                mask &= np.triu(np.ones(mask.shape, dtype=bool), k=1)
            ai, bi = np.nonzero(mask)
            if len(ai) == 0:
                continue
            va, vb = h[i0 + ai], h[j0 + bi]
            out_a.append(np.minimum(va, vb))
            out_b.append(np.maximum(va, vb))
            out_d.append(d[ai, bi].astype(np.int64))
    if not out_a:
        z = np.array([], dtype=np.int64)
        return z, z, z
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        np.concatenate(out_d),
    )


#: inside an oversized bucket, sub-band (pigeonhole on the bits OUTSIDE
#: the agreeing band) once the member count passes this — bucket² SIMD
#: popcounts otherwise keep the hot-bucket cost quadratic (the r7 sf3
#: soak measured exponent ~1.3 without it)
_SUBBAND_CUTOFF = 512


def _make_bucket_hamming_kernel(
    hash_col: str, max_hamming: int, bands: int, chunk: int
):
    """Per-(band, chunk)-bucket exact hamming pair kernel.

    Small buckets: one blockwise XOR-popcount over all pairs. Oversized
    buckets (> ``_SUBBAND_CUTOFF``): EXACT second-level pigeonhole — the
    bucket's members already agree on this band's ``chunk`` bits, so a
    qualifying pair has ≤ ``max_hamming`` differing bits OUTSIDE it;
    split the other bands' bit ranges into ``max_hamming + 1`` disjoint
    sub-chunks and any such pair must agree on ≥ 1 (even when some bits
    are uncovered: stray diffs there just consume no sub-chunk). Group
    members by each sub-chunk value (numpy sort, no extra Spark stage),
    popcount within sub-buckets only, then np.unique-dedupe pairs found
    via several sub-chunks. Pairs are oriented (min, max) by VALUE —
    fingerprints are distinct inside a bucket — and the cross-band
    ``distinct`` collapses repeats. Deterministic per bucket ⇒
    layout-independent."""
    import pandas as pd

    def frame(va, vb, d):
        return pd.DataFrame(
            {
                "__ha": va,
                "__hb": vb,
                "hamming": d.astype(np.int32),
            }
        )

    def kernel(pdf):
        h = pdf[hash_col].to_numpy(dtype=np.int64)
        n = len(h)
        if n < 2:
            z = np.array([], dtype=np.int64)
            return frame(z, z, z)
        if n <= _SUBBAND_CUTOFF:
            return frame(*_block_hamming_pairs(h, max_hamming))

        band = int(pdf["band"].iloc[0])
        ranges = [(ob * chunk, chunk) for ob in range(bands) if ob != band]
        while len(ranges) < max_hamming + 1:
            off, w = max(ranges, key=lambda r: r[1])
            if w < 2:
                break
            ranges.remove((off, w))
            ranges += [(off, w // 2), (off + w // 2, w - w // 2)]
        if len(ranges) < max_hamming + 1:
            # pathological bit widths: pigeonhole needs max_hamming+1
            # disjoint sub-chunks — fall back to the exact full scan
            return frame(*_block_hamming_pairs(h, max_hamming))
        hu = h.view(np.uint64)
        acc_a, acc_b, acc_d = [], [], []
        for off, w in ranges:
            vals = (hu >> np.uint64(off)) & np.uint64((1 << w) - 1)
            order = np.argsort(vals, kind="stable")
            sv = vals[order]
            starts = np.flatnonzero(np.r_[True, sv[1:] != sv[:-1]])
            ends = np.r_[starts[1:], len(sv)]
            for s, e in zip(starts, ends):
                if e - s < 2:
                    continue
                va, vb, d = _block_hamming_pairs(
                    np.sort(h[order[s:e]]), max_hamming
                )
                if len(va):
                    acc_a.append(va)
                    acc_b.append(vb)
                    acc_d.append(d)
        if not acc_a:
            z = np.array([], dtype=np.int64)
            return frame(z, z, z)
        a = np.concatenate(acc_a)
        b = np.concatenate(acc_b)
        d = np.concatenate(acc_d)
        pairs, idx = np.unique(np.stack([a, b], axis=1), axis=0,
                               return_index=True)
        return frame(pairs[:, 0], pairs[:, 1], d[idx])

    return kernel


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic banded-hamming near-dup join over any BIGINT fingerprint
    column (simhash, image dhash, ...): split the fingerprint into
    ``bands`` chunks — any pair within ``max_hamming`` (< bands) must
    agree on >=1 chunk (pigeonhole); verify with bit_count of xor.
    Arithmetic shiftright + chunk mask keeps the chunks correct even
    when bit 63 is set (negative BIGINT), so the full 64-bit range is
    usable.

    Scale shape (round 7): exact-duplicate fingerprints are collapsed to
    ONE representative row BEFORE the banded self-join — planted clones
    and boilerplate (which hash identically) cost one row each in the
    candidate join instead of O(group²) band collisions; the r6 sf1 soak
    measured exactly that blow-up (16.6× at 10× data, tracking the true
    duplicate-pair count). The join therefore runs over DISTINCT
    fingerprints; doc pairs are re-expanded afterwards through two
    hash-keyed membership joins (cross-fingerprint pairs) plus one
    equality self-join (within-fingerprint pairs, hamming 0) — both
    sized by the true output, which is the irreducible cost.

    The fingerprint frame feeds the distinct set and both expansion
    joins and Spark does not reuse the exchange across them — persist
    (id, hash) so any upstream per-row hashing runs once."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole requires max_hamming < bands, got "
            f"max_hamming={max_hamming} bands={bands}: a pair differing "
            f"in >= bands bits can miss every band and be silently lost"
        )
    chunk = bits // bands
    # filter AFTER materializing: isnotnull(hash) over the lazy
    # projection makes Catalyst inline the (expensive) fingerprint
    # expression into both the filter and the output — evaluated twice
    # per row; over the cache it's a free scan predicate
    hashed = materialize_once(df.select(id_col, hash_col)).where(
        F.col(hash_col).isNotNull()
    )
    fps = hashed.select(hash_col).distinct()
    banded = fps.select(
        hash_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> struct(b as band,"
                f" (shiftright({hash_col}, b*{chunk}) & {2**chunk - 1})"
                f" as chunk))"
            )
        ).alias("bb"),
    ).select(hash_col, "bb.band", "bb.chunk")
    # candidate FINGERPRINT pairs (ha < hb as values): fingerprints
    # sharing a band chunk, verified exactly by popcount. Fingerprint
    # bits are CORRELATED (simhash majority-signs track the corpus
    # vocabulary), so hot buckets grow linearly with the corpus and a
    # plain self-join's candidate rows QUADRATICALLY — and a hot key's
    # cross product serializes into one SMJ task that AQE cannot split
    # (the r7 sf1 soak measured 15.7M collisions from 58k distinct
    # fingerprints, 6s in one task). Hybrid routing: buckets at or under
    # ``_KERNEL_BUCKET_CUTOFF`` members take the equi-join (bounded ≤
    # cutoff² candidates each, and applyInPandas per-group overhead
    # would dominate their tiny groups); oversized buckets go through a
    # vectorized XOR-popcount kernel that emits only VERIFIED pairs —
    # sum-of-|bucket|² SIMD popcounts instead of shuffled rows. Both
    # routes produce identical pair sets; distinct collapses multi-band
    # agreement.
    def join_route(side):
        l, r = side.alias("l"), side.alias("r")
        return (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.chunk") == F.col("r.chunk"))
                & (F.col(f"l.{hash_col}") < F.col(f"r.{hash_col}")),
            )
            .select(
                F.col(f"l.{hash_col}").alias("__ha"),
                F.col(f"r.{hash_col}").alias("__hb"),
            )
            .withColumn(
                "hamming", F.expr("bit_count(__ha ^ __hb)").cast("integer")
            )
            .where(F.col("hamming") <= max_hamming)
        )

    # size-adaptive routing (both routes are exact): under the
    # threshold the worst possible collision count is too small for the
    # hot-bucket machinery to pay for its extra stages — hashed.count()
    # is free (materialize_once just cached it)
    if hashed.count() <= _HYBRID_MIN_ROWS:
        fp_pairs = join_route(banded).distinct()
    else:
        sizes = banded.groupBy("band", "chunk").agg(
            F.count("*").alias("__bn")
        )
        sized = banded.join(sizes, ["band", "chunk"])
        small = sized.where(F.col("__bn") <= _KERNEL_BUCKET_CUTOFF)
        big = sized.where(F.col("__bn") > _KERNEL_BUCKET_CUTOFF).drop("__bn")
        pairs_big = big.groupBy("band", "chunk").applyInPandas(
            _make_bucket_hamming_kernel(
                hash_col, max_hamming, bands, chunk
            ),
            schema="__ha long, __hb long, hamming integer",
        )
        fp_pairs = join_route(small).unionByName(pairs_big).distinct()
    # re-expand to doc pairs: each doc carries exactly one fingerprint,
    # so the two routes are disjoint and already duplicate-free
    cross = (
        fp_pairs.join(
            hashed.select(
                F.col(hash_col).alias("__ha"), F.col(id_col).alias("__ida")
            ),
            "__ha",
        )
        .join(
            hashed.select(
                F.col(hash_col).alias("__hb"), F.col(id_col).alias("__idb")
            ),
            "__hb",
        )
        .select(
            F.least("__ida", "__idb").alias("a"),
            F.greatest("__ida", "__idb").alias("b"),
            "hamming",
        )
    )
    hl, hr = hashed.alias("hl"), hashed.alias("hr")
    within = (
        hl.join(
            hr,
            (F.col(f"hl.{hash_col}") == F.col(f"hr.{hash_col}"))
            & (F.col(f"hl.{id_col}") < F.col(f"hr.{id_col}")),
        )
        .select(
            F.col(f"hl.{id_col}").alias("a"),
            F.col(f"hr.{id_col}").alias("b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(within)


def simhash_hamming_pairs(
    sim_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """SimHash near-dup candidates — the text instantiation of
    :func:`hamming_band_pairs`. ``bands`` auto-raises to
    ``max_hamming + 1`` so the pigeonhole precondition always holds
    (bands need not divide the hash width: uncovered bits only ADD
    candidates, and the exact bit_count verify filters them)."""
    return hamming_band_pairs(
        sim_df, id_col, "simhash", SIMHASH_BITS, max_hamming,
        max(bands, max_hamming + 1),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (shared-substring dedup)
# ---------------------------------------------------------------------------

WINNOW_K = 4  #: words per k-gram
WINNOW_WINDOW = 4  #: winnowing window; guarantee length t = K + WINDOW - 1
WINNOW_MAX_DF = 32  #: fingerprints in more docs are boilerplate — dropped
WINNOW_MIN_SHARED = 3  #: report pairs sharing at least this many prints


def winnow_fingerprints_col(
    text_col: str, k: int = WINNOW_K, window: int = WINNOW_WINDOW
) -> str:
    """Spark SQL for the winnowing fingerprint set of ``text_col``.

    Winnowing (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms
    for Document Fingerprinting", SIGMOD 2003): hash every word
    ``k``-gram, slide a window of ``window`` consecutive hashes, keep
    each window's minimum. The selected VALUE set is tie-break
    independent (ties pick the same value), and any word run of
    ``window + k - 1`` words shared by two documents is guaranteed to
    contribute at least one common fingerprint — the local property
    that makes shared-SUBSTRING detection (vs whole-doc minhash
    similarity) work.

    Every intermediate (word array, k-gram array, hash array) binds as
    a single-element ``transform`` let-variable — the same
    anti-inlining guard as :func:`shingles_col`; a naive nested
    expression would recompute the split/md5 once per window."""
    h = spark_hash64("s")
    grams = (
        f"CASE WHEN size(w) < {k} "
        f"THEN array(concat_ws(' ', w)) "
        f"ELSE transform(sequence(1, size(w) - {k} + 1),"
        f" i -> concat_ws(' ', slice(w, i, {k}))) END"
    )
    mins = (
        f"CASE WHEN size(hs) < {window} "
        f"THEN array(array_min(hs)) "
        f"ELSE transform(sequence(1, size(hs) - {window} + 1),"
        f" j -> array_min(slice(hs, j, {window}))) END"
    )
    return (
        f"array_distinct(element_at(transform(array(split({text_col}, ' ')),"
        f" w -> element_at(transform(array({grams}),"
        f" g -> element_at(transform(array(transform(g, s -> {h})),"
        f" hs -> {mins}), 1)), 1)), 1))"
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
) -> DataFrame:
    """(id, fp) — one row per distinct winnowing fingerprint per doc.

    Map-only: one md5 per k-gram, window-min via array slices, explode.
    Winnowing selects ~2/(window+1) of positions, so the exploded
    relation is a small fraction of the gram count — the density knob
    that keeps the downstream fp-join shuffle bounded at corpus scale."""
    df = spread_for_compute(df)
    fps = df.withColumn(
        "__fps", F.expr(winnow_fingerprints_col(text_col, k, window))
    )
    return fps.select(F.col(id_col), F.explode("__fps").alias("fp"))


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """(a, b, shared_fps) — document pairs sharing >= ``min_shared``
    winnowing fingerprints, i.e. pairs sharing exact word runs of at
    least ``window + k - 1`` words (the substring-level dedup the
    whole-document signatures miss: minhash needs global similarity,
    winnowing catches a long quoted passage inside otherwise-unrelated
    docs).

    Scale shape — identical to the banded minhash join, and safe for
    the same reasons: fingerprint extraction is map-only; document
    frequency is a partial-aggregated groupBy; fingerprints above
    ``max_df`` (boilerplate/common substrings — the standard MOSS
    deployment guard) are dropped BEFORE the self-join, so every join
    bucket is <= ``max_df`` rows and the pair fan-out per fingerprint
    is bounded by ``max_df``²; the join itself is a plain fp equi-join
    (no cartesian). The df-filter join and the pair self-join share the
    fp hash partitioning."""
    e = materialize_once(winnow_fingerprints(df, id_col, text_col, k, window))
    dfreq = e.groupBy("fp").agg(F.count("*").alias("__df"))
    kept = e.join(
        dfreq.where(F.col("__df") <= max_df).select("fp"), "fp"
    )
    left = kept.select(F.col("fp"), F.col(id_col).alias("a"))
    right = kept.select(F.col("fp"), F.col(id_col).alias("b"))
    return (
        left.join(right, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def minhash_estimate(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
) -> DataFrame:
    """Signature-estimated vs verified Jaccard for every surviving pair
    — the estimator-calibration report a minhash deployment publishes
    before trusting bands alone. Broder's guarantee (1997):
    ``P[min-hash coordinates agree] = J``, so the fraction of agreeing
    coordinates is an unbiased estimate of the exact Jaccard; the gap
    to the verified value is what the verify join buys at each
    ``num_hashes``.

    Inputs are the dedup artifact's relations (pairs + stored
    signatures), so this is a pair-sized join of two dims — the corpus
    text is never touched. Returns (a, b, jaccard, est_jaccard,
    abs_err), all 6 dp."""
    sa = sigs.select(
        F.col(id_col).alias("a"), F.col("minhash").alias("__ma")
    )
    sb = sigs.select(
        F.col(id_col).alias("b"), F.col("minhash").alias("__mb")
    )
    est = F.expr(
        "round(size(filter(zip_with(__ma, __mb, (x, y) -> x = y),"
        f" t -> t)) / {num_hashes}, 6)"
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            "jaccard",
            est.alias("est_jaccard"),
            F.round(
                F.abs(F.col("jaccard") - est), 6
            ).alias("abs_err"),
        )
    )
