"""Corpus-scale distribution statistics without global sorts.

- ``global_quantiles``: EXACT type-1 quantiles (lowest value whose
  cumulative count reaches ``ceil(p*N)``) of an integer-valued column
  over the whole corpus. One keyed shuffle builds the value histogram
  (map-side partial counts collapse the corpus to |distinct values|
  rows); the histogram folds into a single row where each quantile is a
  JVM ``aggregate`` scan over the sorted (value, count) array. No global
  row sort, no unpartitioned window, no driver loop. Requires a BOUNDED
  value domain (lengths, token counts, grades) — the histogram row
  buffers |distinct values| entries; refuse continuous doubles.

- ``skew_report``: the heaviest keys with their share of total rows —
  the diagnostic run before choosing salting/bucketing for a hot-key
  join or aggregation. Group-count (partial-agg) + broadcast total +
  ``TakeOrderedAndProject`` top-n.

- ``filter_by_quantile_range``: winsorizing filter — keep rows whose
  value lies within the [p_lo, p_hi] type-1 quantile thresholds
  (computed by ``global_quantiles``); thresholds broadcast back, the
  filter itself is map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "global_quantiles",
    "skew_report",
    "filter_by_quantile_range",
    "grouped_quantile",
    "length_outliers",
]


def global_quantiles(
    df: DataFrame, value_col: str, ps: list[float]
) -> DataFrame:
    """Exact type-1 quantiles of integer-valued ``value_col``.

    Returns one row per ``p``: (p double, q bigint). ``p = 1.0`` is the
    maximum; ``p`` must be in (0, 1].
    """
    if not ps or any(not 0 < p <= 1 for p in ps):
        raise ValueError(f"quantiles must lie in (0, 1]: {ps}")
    hist = df.groupBy(
        F.col(value_col).cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    one = hist.agg(
        F.sort_array(F.collect_list(F.struct("v", "c"))).alias("h"),
        F.sum("c").alias("n"),
    )
    structs = []
    for p in sorted(set(ps)):
        tgt = f"cast(ceil({p!r} * n) as bigint)"
        fold = (
            "aggregate(h,"
            " struct(cast(0 as bigint) as cum, cast(null as bigint) as ans),"
            " (a, x) -> struct(a.cum + x.c,"
            f"   coalesce(a.ans, if(a.cum + x.c >= {tgt}, x.v,"
            "     cast(null as bigint)))),"
            " a -> a.ans)"
        )
        structs.append(
            f"struct(cast({p!r} as double) as p, ({fold}) as q)"
        )
    return one.select(
        F.explode(F.expr(f"array({', '.join(structs)})")).alias("__s")
    ).select("__s.p", "__s.q")


def binned_quantiles(
    df: DataFrame, value_col: str, ps: list[float], bin_width: float
) -> DataFrame:
    """Quantiles of a CONTINUOUS column with error bounded by
    ``bin_width``: values quantize to ``floor(v / w)`` bins (map-only,
    deterministic — no sampling, unlike approx_percentile), then the
    exact type-1 machinery runs on the bounded bin domain. Returns
    (p, q) where q is the LOWER EDGE of the quantile's bin — a
    deterministic, engine-reproducible answer within one bin of the
    true quantile."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive: {bin_width}")
    binned = df.select(
        F.expr(f"cast(floor({value_col} / {bin_width!r}) as bigint)").alias(
            "__bin"
        )
    )
    qs = global_quantiles(binned, "__bin", ps)
    # cast(... as double): a bare 0.25 literal parses as DECIMAL and
    # would decimal-type the output on both engines
    return qs.select(
        "p", F.expr(f"cast(q * {bin_width!r} as double)").alias("q")
    )


def skew_report(
    df: DataFrame, keys: list[str], top_n: int = 20
) -> DataFrame:
    """Top-``top_n`` heaviest key groups with their row count and share
    of the total — deterministic order (count desc, keys asc)."""
    if not keys:
        raise ValueError("skew_report requires key columns")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            "n_keys",
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(k).asc() for k in keys])
        .limit(int(top_n))
    )


def filter_by_quantile_range(
    df: DataFrame,
    value_col: str,
    p_lo: float,
    p_hi: float,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies within the corpus's
    [type-1 q(p_lo), type-1 q(p_hi)] — the standard outlier trim on
    document lengths. Thresholds broadcast back; the filter is map-only."""
    qs = global_quantiles(df, value_col, [p_lo, p_hi])
    lo_hi = qs.agg(
        F.min(F.when(F.col("p") == float(p_lo), F.col("q"))).alias("__lo"),
        F.min(F.when(F.col("p") == float(p_hi), F.col("q"))).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(lo_hi))
        .where(
            (F.col(value_col) >= F.col("__lo"))
            & (F.col(value_col) <= F.col("__hi"))
        )
        .drop("__lo", "__hi")
    )


def grouped_quantile(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    p: float = 0.5,
) -> DataFrame:
    """Exact per-group type-1 quantile of an integer-valued column —
    ``global_quantiles``' histogram-fold recipe, grouped: one keyed
    partial-agg shuffle collapses each group to its |distinct values|
    histogram, a second collapses that to one sorted array per group,
    and the quantile is a JVM ``aggregate`` scan. Bounded value domains
    only (lengths, counts) — same contract as ``global_quantiles``:
    the per-group collected array holds one struct per DISTINCT value,
    so a score-like domain (e.g. 6 dp micro-integer LM scores, ~1e7
    distinct) can collect tens of millions of structs on one executor
    for a dominant group (r10 ADVICE).

    Score-like domains take ``grouped_quantiles_wide`` instead.

    Returns key cols + (q bigint, n bigint)."""
    if not key_cols:
        raise ValueError("grouped_quantile requires key columns")
    if not 0 < p <= 1:
        raise ValueError(f"quantile must lie in (0, 1]: {p}")
    hist = df.groupBy(
        *key_cols, F.col(value_col).cast("bigint").alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    one = hist.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(F.struct("__v", "__c"))).alias("__h"),
        F.sum("__c").alias("n"),
    )
    tgt = f"cast(ceil({p!r} * n) as bigint)"
    fold = (
        "aggregate(__h,"
        " struct(cast(0 as bigint) as cum, cast(null as bigint) as ans),"
        " (a, x) -> struct(a.cum + x.__c,"
        f"   coalesce(a.ans, if(a.cum + x.__c >= {tgt}, x.__v,"
        "     cast(null as bigint)))),"
        " a -> a.ans)"
    )
    return one.select(*key_cols, F.expr(fold).alias("q"), "n")


def grouped_quantiles_wide(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    ps: dict[str, float],
) -> DataFrame:
    """Several exact per-group type-1 quantiles of a wide (score-like)
    integer domain in ONE histogram pass, with the same answers as
    ``grouped_quantile`` at each p.

    A TWO-PHASE fold bounds the per-group arrays. Phase 1 collapses
    values to 65536-wide coarse buckets (``value >> 16``, arithmetic
    shift so negatives bucket correctly) and folds the bucket histogram
    to find the bucket containing the target rank plus the cumulative
    count below it; phase 2 folds ONLY that bucket's values with the
    residual rank. Per-group arrays hold |distinct|/65536 structs in
    phase 1 and at most 65536 in phase 2 — executor-bounded at any
    distinct count, for one extra keyed shuffle and a broadcast join.

    The distinct-value histogram (the only data-sized relation) is one
    unpersisted aggregate feeding the coarse-bucket fold AND the fine
    per-bucket fold; a paired A/B on ``perplexity_buckets`` measured an
    eager fill of it slower than planning it twice (SCALE.md,
    "Build-time persists"). All requested quantiles fold over the same
    coarse array in one projection, are unpivoted with ``stack``, and
    share one broadcast join back onto the histogram.

    Returns key cols + one ``q_<label>`` bigint column per ``ps`` entry
    + ``n``. Labels must be SQL-identifier-safe."""
    if not key_cols:
        raise ValueError("grouped_quantiles_wide requires key columns")
    if not ps:
        raise ValueError("grouped_quantiles_wide requires quantiles")
    for label, p in ps.items():
        if not 0 < p <= 1:
            raise ValueError(f"quantile must lie in (0, 1]: {p}")
    labels = sorted(ps)
    hist = (
        df.groupBy(*key_cols, F.col(value_col).cast("bigint").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        # arithmetic right shift = floor division by 2^16 for negatives
        .withColumn("__cb", F.shiftright(F.col("__v"), 16))
    )
    cb_one = (
        hist.groupBy(*key_cols, "__cb")
        .agg(F.sum("__c").alias("__c"))
        .groupBy(*key_cols)
        .agg(
            F.sort_array(F.collect_list(F.struct("__cb", "__c"))).alias(
                "__h"
            ),
            F.sum("__c").alias("n"),
        )
    )

    def fold1(p: float) -> str:
        # fold to (bucket containing the target rank, cumulative count
        # strictly below that bucket)
        tgt = f"cast(ceil({p!r} * n) as bigint)"
        return (
            "aggregate(__h,"
            " struct(cast(0 as bigint) as cum,"
            "        cast(null as bigint) as cb,"
            "        cast(0 as bigint) as before),"
            " (a, x) -> struct(a.cum + x.__c,"
            f"   coalesce(a.cb, if(a.cum + x.__c >= {tgt}, x.__cb,"
            "     cast(null as bigint))),"
            f"   if(a.cb is null and a.cum + x.__c >= {tgt}, a.cum,"
            "     a.before)),"
            " a -> struct(a.cb as cb, a.before as before))"
        )

    # every quantile's coarse fold in ONE projection over one cb_one
    # evaluation, then stack-unpivoted to (label, p, pick) rows
    one = cb_one.select(
        *key_cols,
        *[F.expr(fold1(ps[lb])).alias(f"__pick_{lb}") for lb in labels],
        "n",
    )
    stack = ", ".join(f"'{lb}', __pick_{lb}" for lb in labels)
    picked = one.selectExpr(
        *key_cols,
        f"stack({len(labels)}, {stack}) AS (__pl, __pick)",
        "n",
    ).select(
        *key_cols,
        "__pl",
        F.col("__pick.cb").alias("__cb"),
        F.col("__pick.before").alias("__before"),
        "n",
    )
    # group-count-sized dim: broadcast back onto the distinct-value
    # histogram, keeping ONLY the chosen buckets' values per (group, p)
    fine = hist.join(F.broadcast(picked), [*key_cols, "__cb"])
    fine_one = fine.groupBy(*key_cols, "__pl").agg(
        F.sort_array(F.collect_list(F.struct("__v", "__c"))).alias("__h"),
        F.max("__before").alias("__before"),
        F.max("n").alias("n"),
    )
    # same cumulative rule with the residual rank; the target rank
    # re-embeds each label's LITERAL p (decimal arithmetic, the exact
    # expression text the single-p fold uses) rather than carrying p as
    # a double column, so ceil() rounding is bit-identical per label
    tgt_c = (
        "(CASE __pl "
        + " ".join(
            f"WHEN '{lb}' THEN cast(ceil({ps[lb]!r} * n) as bigint)"
            for lb in labels
        )
        + " END)"
    )
    fold2 = (
        "aggregate(__h,"
        " struct(cast(0 as bigint) as cum, cast(null as bigint) as ans),"
        " (a, x) -> struct(a.cum + x.__c,"
        f"   coalesce(a.ans, if(a.cum + x.__c >= {tgt_c} - __before, x.__v,"
        "     cast(null as bigint)))),"
        " a -> a.ans)"
    )
    qs = fine_one.select(
        *key_cols, "__pl", F.expr(fold2).alias("q"), "n"
    )
    return qs.groupBy(*key_cols).agg(
        *[
            F.max(F.when(F.col("__pl") == lb, F.col("q"))).alias(f"q_{lb}")
            for lb in labels
        ],
        F.max("n").alias("n"),
    )


def length_outliers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    id_col: str = "doc_id",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flags by the MODIFIED z-score
    (Iglewicz & Hoaglin 1993): ``M = 0.6745 * (x - median) / MAD`` with
    MAD = median absolute deviation — the curation screen for
    truncated/concatenated documents that mean/stddev misses, because
    median and MAD don't move when the outliers themselves do.

    Both medians are EXACT (``grouped_quantile`` histogram folds, two
    keyed shuffles each — no sort, no sampling, group-count-sized dims
    broadcast back). ``MAD = 0`` groups (constant values) emit NULL
    ``mod_z`` and are never flagged. Returns
    (id, keys..., value, mod_z 6 dp, is_outlier)."""
    med = grouped_quantile(df, key_cols, value_col, 0.5).select(
        *key_cols, F.col("q").alias("__med")
    )
    with_med = df.select(id_col, *key_cols, value_col).join(
        F.broadcast(med), key_cols
    )
    dev = with_med.select(
        *key_cols,
        F.abs(F.col(value_col) - F.col("__med")).alias("__dev"),
    )
    mad = grouped_quantile(dev, key_cols, "__dev", 0.5).select(
        *key_cols, F.col("q").alias("__mad")
    )
    # quantize via floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): the products
    # here are small-integer rationals that land exactly on .5 rounding
    # boundaries, where Spark's round (shortest-decimal-repr HALF_UP)
    # and DuckDB's round (exact binary value) disagree by 1e-6; floor
    # on the identical IEEE double is engine-exact (the integer-ADC
    # discipline from pq.py, caught by the r9 sf1 sweep)
    mz = F.expr(
        f"floor(cast(0.6745 as double) * ({value_col} - __med)"
        " / __mad * 1e6 + 0.5) / 1e6"
    )
    return (
        with_med.join(F.broadcast(mad), key_cols)
        .select(
            id_col,
            *key_cols,
            F.col(value_col),
            F.when(F.col("__mad") > 0, mz).alias("mod_z"),
            F.when(
                F.col("__mad") > 0, F.abs(mz) > threshold
            )
            .otherwise(F.lit(False))
            .alias("is_outlier"),
        )
    )
