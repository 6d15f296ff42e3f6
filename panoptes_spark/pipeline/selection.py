"""Data selection via importance resampling (DSIR).

Xie et al., "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023): score raw documents by the log-ratio of two
bag-of-hashed-ngrams language models — one fit on a small TARGET corpus
(the distribution you want more of), one on the RAW corpus — then
sample selection ∝ the importance weight.

Spark-first realization and why it holds at corpus scale:

- The feature space is a FIXED number of hash buckets, so both fitted
  models (bucket → count) and the per-bucket log-ratio are at most
  ``buckets`` rows — always broadcastable no matter how large either
  corpus is. No model state ever shuffles with the data.
- Fitting is one map-only gram explode + a partial-aggregated groupBy
  per corpus (output bounded by ``buckets``).
- Scoring is a broadcast join per gram occurrence + one partial-agg
  groupBy(doc) sum — the document payload never joins anything big.
- Selection is Gumbel-top-k in log space (Vieira 2014): key =
  log-weight + Gumbel noise from a reproducible murmur3 uniform, then
  ``orderBy().limit(k)`` = TakeOrderedAndProject — each partition keeps
  a local top-k, only k rows move, no global sort (the same shape as
  ``splits.weighted_sample``, but in log domain so astronomically small
  importance weights neither underflow nor need normalization).

The reference engine has no data-selection surface; this is part of the
beyond-reference LLM-pipeline family (SURVEY.md §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.schedule import mmh3_sql_expr
from .dedup import (
    duckdb_hash64,
    materialize_once as spark_materialize,
    spark_hash64,
    spread_for_compute,
)

DSIR_BUCKETS = 4096  #: hashed-ngram feature buckets (model size bound)
DSIR_SMOOTH = 1  #: add-one smoothing per bucket


def gram_buckets_col(text_col: str, buckets: int = DSIR_BUCKETS) -> str:
    """Spark SQL: array of hashed-ngram bucket ids (unigrams + bigrams).

    The word array binds once as a ``transform`` let-variable (the
    shared anti-inlining guard — see ``dedup.shingles_col``); one md5
    per gram."""
    h = spark_hash64("g")
    bi = "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', slice(w, i, 2)))"
    grams = f"CASE WHEN size(w) < 2 THEN w ELSE concat(w, {bi}) END"
    return (
        f"element_at(transform(array(split({text_col}, ' ')),"
        f" w -> transform({grams}, g -> pmod({h}, {buckets}))), 1)"
    )


def doc_gram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, bucket, *keep_cols) — one row per gram OCCURRENCE (not
    distinct): the bag-of-ngrams multiplicity is part of the model.
    ``keep_cols`` ride through the explode unchanged (narrow doc-level
    flags a downstream fold needs without a join back onto the docs)."""
    df = spread_for_compute(df)
    return df.select(
        F.col(id_col),
        F.explode(F.expr(gram_buckets_col(text_col, buckets))).alias("bucket"),
        *[F.col(c) for c in (keep_cols or [])],
    )


def fit_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(bucket, cnt) — the fitted hashed-ngram model; ≤ ``buckets`` rows
    regardless of corpus size (partial-agg groupBy)."""
    return (
        doc_gram_buckets(df, id_col, text_col, buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    target_pred: str | None = None,
) -> DataFrame:
    """(id, n_grams, log_weight) for every raw document.

    ``log_weight = Σ_grams [ln p_target(bucket) − ln p_raw(bucket)]``
    with add-one smoothing ``p(b) = (c_b + 1) / (N + buckets)``; rounded
    to 6 dp at the END (the ``lm_perplexity`` portability pattern — both
    engines' ``ln`` agree to ~1 ulp, far inside the quantization).

    Documents matching the target distribution score high; selection is
    :func:`dsir_select`. Both count tables and the totals are broadcast
    (≤ ``buckets`` rows / 1 row); the only data-sized shuffle is the
    per-doc sum's partial-aggregated groupBy.

    ``target_pred`` (r11, mutually exclusive with ``target``): when the
    target corpus is a PREDICATE over ``raw``'s own rows (the common
    "target = trusted sources of the same corpus" setup), pass the SQL
    predicate instead of a filtered frame — the per-document truth
    value is evaluated once before the gram explode and rides along the
    materialized occurrence relation as one boolean, so the target
    model folds from the SAME single hashing pass instead of re-
    tokenizing and re-hashing the target subset."""
    if (target is None) == (target_pred is None):
        raise ValueError(
            "dsir_logweights needs exactly one of target / target_pred"
        )
    # gram-hash RAW exactly once (r11): the per-occurrence (id, bucket)
    # relation is materialized and serves BOTH the raw count model and
    # the per-doc weight sum — unpersisted, those are independent plan
    # subtrees, each replaying the full tokenize + md5 explode over the
    # corpus (the most expensive work here). With ``target_pred`` the
    # target counts fold from this same relation; with a ``target``
    # frame, the target hashes its own (sub)corpus. The bucket-sized
    # count tables stay unpersisted: each feeds one broadcast join and
    # one 1-row total, and a paired A/B measured their eager fills
    # slower than folding them twice (SCALE.md, "Build-time persists").
    keep = []
    if target_pred is not None:
        raw = raw.withColumn("__is_target", F.expr(target_pred))
        keep = ["__is_target"]
    # kept: SCALE.md "Build-time persists", dsir_logweights grams
    grams = spark_materialize(
        doc_gram_buckets(raw, id_col, text_col, buckets, keep_cols=keep)
    )
    if target_pred is not None:
        tc = (
            grams.where("__is_target")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    else:
        tc = fit_bucket_counts(target, id_col, text_col, buckets)
    rc = grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    tn = tc.agg(F.sum("cnt").alias("t_total"))
    rn = rc.agg(F.sum("cnt").alias("r_total"))
    term = (
        f"ln((coalesce(ct, 0) + {DSIR_SMOOTH}) / (t_total + {buckets}))"
        f" - ln((coalesce(cr, 0) + {DSIR_SMOOTH}) / (r_total + {buckets}))"
    )
    return (
        grams.join(F.broadcast(tc.withColumnRenamed("cnt", "ct")), "bucket", "left")
        .join(F.broadcast(rc.withColumnRenamed("cnt", "cr")), "bucket", "left")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(rn))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum(F.expr(term)), 6).alias("log_weight"),
        )
    )


def dsir_select(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    salt: str = "dsir",
) -> DataFrame:
    """Top-``k`` by Gumbel-perturbed log-weight — sampling without
    replacement ∝ exp(log_weight) (Gumbel-top-k, Vieira 2014), entirely
    in log space so tiny importance weights neither underflow nor need
    normalizing. The Gumbel draw is a reproducible murmur3(salt:id)
    uniform, so re-runs and appends keep previous picks unless a
    higher-keyed newcomer displaces them; keys round to 9 dp (ties break
    on id) so a DuckDB oracle with the same hash CTE selects the
    identical set. TakeOrderedAndProject: only ``k`` rows move."""
    u = mmh3_sql_expr(f"concat('{salt}', ':', cast({id_col} as string))", "spark")
    key = (
        f"round(cast({weight_col} as double)"
        f" - ln(-ln(({u} + 0.5) / 4294967296.0)), 9)"
    )
    return (
        weights.withColumn("__gkey", F.expr(key))
        .orderBy(F.col("__gkey").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__gkey")
    )


def dsir_select_per_source(
    weights: DataFrame,
    k_per_group: int,
    group_col: str,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    salt: str = "dsir",
) -> DataFrame:
    """Per-group Gumbel-top-k (quota selection): the same reproducible
    key, ranked within ``group_col``. A partitioned window — never a
    global sort; skewed groups split by AQE."""
    u = mmh3_sql_expr(f"concat('{salt}', ':', cast({id_col} as string))", "spark")
    key = (
        f"round(cast({weight_col} as double)"
        f" - ln(-ln(({u} + 0.5) / 4294967296.0)), 9)"
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__gkey").desc(), F.col(id_col).asc()
    )
    return (
        weights.withColumn("__gkey", F.expr(key))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(k_per_group))
        .drop("__gkey", "__rn")
    )


def dsir_oracle_sql(
    target_pred: str,
    buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin of :func:`dsir_logweights` over the ``documents``
    view: raw = all documents, target = rows matching ``target_pred``.
    Same hash, same smoothing, same expression text."""
    h = duckdb_hash64("g")
    grams = (
        "CASE WHEN len(w) < 2 THEN w "
        "ELSE w || list_transform(range(1, len(w)), "
        "i -> array_to_string(w[i:i+1], ' ')) END"
    )
    return f"""
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, source, unnest({grams}) AS g FROM words
),
occ AS (
  SELECT doc_id, source, {h} % {buckets} AS bucket FROM grams
),
tc AS (
  SELECT bucket, count(*) AS ct FROM occ WHERE {target_pred} GROUP BY bucket
),
rc AS (SELECT bucket, count(*) AS cr FROM occ GROUP BY bucket),
tn AS (SELECT sum(ct) AS t_total FROM tc),
rn AS (SELECT sum(cr) AS r_total FROM rc)
SELECT o.doc_id, count(*) AS n_grams,
  round(sum(
    ln((coalesce(ct, 0) + {DSIR_SMOOTH}) / (t_total + {buckets}))
    - ln((coalesce(cr, 0) + {DSIR_SMOOTH}) / (r_total + {buckets}))
  ), 6) AS log_weight
FROM occ o
LEFT JOIN tc USING (bucket)
LEFT JOIN rc USING (bucket)
CROSS JOIN tn CROSS JOIN rn
GROUP BY o.doc_id
"""


def domain_mixture_weights(
    doc_losses: DataFrame,
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    loss_col: str = "avg_neg_logp",
    eta: float = 1.0,
) -> DataFrame:
    """(group, n_docs, avg_loss, weight) — domain sampling weights from
    per-document LM losses: ``w_d ∝ exp(η · (loss_d − min_loss))``,
    normalized to sum 1 and rounded to 6 dp.

    The DoReMi intuition (Xie et al. 2023) in closed form: domains the
    proxy model finds HARD (high excess loss over the easiest domain)
    get upweighted; with static per-domain losses the exponentiated-
    gradient ladder collapses to exactly this softmax, so the iterative
    machinery isn't replicated — only the reweighting rule. ``eta``
    is the temperature: 0 = uniform, large = winner-take-most.

    Scale: per-doc losses are the caller's (one data-sized groupBy in
    ``lm.score_documents``); everything here after the per-group
    partial-agg average operates on a DOMAIN-count-sized relation, and
    the min/normalizer are 1-row broadcasts."""
    per = (
        doc_losses.join(docs.select(id_col, group_col), id_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(loss_col), 6).alias("avg_loss"),
        )
    )
    base = per.agg(F.min("avg_loss").alias("__min_loss"))
    scored = per.crossJoin(F.broadcast(base)).withColumn(
        "__e", F.exp(F.lit(float(eta)) * (F.col("avg_loss") - F.col("__min_loss")))
    )
    z = scored.agg(F.sum("__e").alias("__z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .withColumn("weight", F.round(F.col("__e") / F.col("__z"), 6))
        .select(group_col, "n_docs", "avg_loss", "weight")
    )


def token_budget_allocation(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: float = 4.0,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token allocation under a total training budget with an
    epoch cap: target share is uniform across sources (pass reweighted
    docs for anything else); ``epochs_d = min(cap, budget·w_d /
    tokens_d)`` and ``alloc_d = floor(epochs_d · tokens_d)``. The cap is
    the data-constrained-scaling rule of thumb (Muennighoff et al.,
    NeurIPS 2023: repeating data beyond ~4 epochs returns almost
    nothing), so a small source saturates at ``cap × its size`` and the
    unspent remainder is reported rather than silently vanishing
    (``unallocated`` on every row; no silent caps).

    One partial-agg groupBy collapses the corpus to source-count rows;
    everything after is arithmetic on that dim. Returns (source,
    n_docs, n_tokens, weight, epochs, alloc_tokens, unallocated)."""
    toks = f"size(split(trim({text_col}), '\\\\s+'))"
    per = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(toks)).alias("n_tokens"),
    )
    n_src = per.agg(F.count(F.lit(1)).alias("__k"))
    alloc = (
        per.crossJoin(F.broadcast(n_src))
        .withColumn("weight", F.round(F.lit(1.0) / F.col("__k"), 6))
        .withColumn(
            "epochs",
            F.round(
                F.least(
                    F.lit(float(max_epochs)),
                    F.lit(float(budget_tokens))
                    * F.col("weight")
                    / F.col("n_tokens"),
                ),
                6,
            ),
        )
        .withColumn(
            "alloc_tokens",
            F.floor(F.col("epochs") * F.col("n_tokens")).cast("bigint"),
        )
    )
    tot = alloc.agg(F.sum("alloc_tokens").alias("__a"))
    return (
        alloc.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            "weight",
            "epochs",
            "alloc_tokens",
            (F.lit(int(budget_tokens)) - F.col("__a"))
            .cast("bigint")
            .alias("unallocated"),
        )
    )
