"""N-gram language-model scoring — the CCNet/KenLM-style quality signal.

Corpus curation's classic ranking: train a smoothed bigram LM on the
corpus (or a trusted reference corpus), score every document by its
average negative log-probability; gibberish and boilerplate score high,
fluent text low. A full KenLM is a binary artifact; the bigram variant
is exactly expressible as DataFrame ops AND as SQL, which makes it both
the honest in-engine implementation and oracle-checkable.

Model: add-k smoothing. ``p(w_i | w_{i-1}) = (c(prev,w) + k) /
(c(prev) + k*V)`` with a ``<s>`` start token per document and V = the
unigram vocabulary size (incl. ``<s>``).

Scale shape: training = two keyed count aggregations over exploded
grams (map-side partials collapse repeats). Scoring = one explode +
two equi-joins against the count tables (bigram dim is corpus-vocab²
bounded, usually modest; unigram dim broadcastable) + one per-doc
aggregation. Everything JVM-side; ``ln`` differs across engines by at
most 1 ulp, far inside the 6 dp quantization of the final average.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["train_bigram_lm", "score_documents", "perplexity_buckets"]

START = "<s>"

_TOKENIZE = "filter(split(lower({col}), '[^a-z]+'), x -> x != '')"


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, prev, cur) rows: one per bigram, with a <s> start token.

    The token array binds to a column first so the tokenizer runs once
    per row — inlining it into the pair expression would evaluate the
    split/filter three times (slice, size, element_at) per row and
    triple the codegen size."""
    toks = f"array_insert({_TOKENIZE.format(col=text_col)}, 1, '{START}')"
    pairs = (
        "transform(slice(__tk, 1, size(__tk) - 1),"
        " (w, i) -> struct(w as prev, element_at(__tk, i + 2) as cur))"
    )
    return (
        df.select(F.col(id_col), F.expr(toks).alias("__tk"))
        .select(F.col(id_col), F.explode(F.expr(pairs)).alias("__bg"))
        .select(id_col, "__bg.prev", "__bg.cur")
    )


def train_bigram_lm(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (unigram_counts(prev, cu), bigram_counts(prev, cur, cb),
    vocab_size — a 1-row DataFrame (v)). Unigram counts are the
    CONTEXT counts (how often ``prev`` opens a bigram), which is what
    the conditional denominator needs. All three are lazy plans over
    ``corpus``; nothing is persisted."""
    bg = _doc_bigrams(corpus, text_col, id_col)
    bigrams = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))
    unigrams = bigrams.groupBy("prev").agg(F.sum("cb").alias("cu"))
    # distinct tokens over two union arms of the exploded grams; the
    # same count over the bigram PAIR table costs one more query stage
    # (paired profile at sf0.1: +1 job, +0.1-0.3 s)
    vocab = (
        bg.select(F.col("cur").alias("w"))
        .union(bg.select(F.col("prev")))
        .agg(F.count_distinct("w").alias("v"))
    )
    return unigrams, bigrams, vocab


def score_documents(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """(id, n_bigrams, avg_neg_logp): average negative log bigram
    probability, rounded to 6 dp. Unseen grams get the smoothed floor.
    Documents with zero alphabetic tokens have no bigrams and drop out
    — route them through the quality filter's min-length rule instead.
    """
    bg = _doc_bigrams(docs, text_col, id_col)
    term = (
        f"-ln((coalesce(cb, 0) + {k!r})"
        f" / (coalesce(cu, 0) + {k!r} * v))"
    )
    return (
        bg.join(bigrams, ["prev", "cur"], "left")
        .join(unigrams, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.expr(term)), 6).alias("avg_neg_logp"),
        )
    )


def lm_oracle_sql(k: float = 0.5) -> str:
    """DuckDB twin over the ``documents`` view — same tokenization,
    same smoothing, same expression text."""
    toks = (
        "list_prepend('<s>', list_filter("
        "string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
bg AS (
  SELECT doc_id, tk[i] AS prev, tk[i+1] AS cur
  FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
),
bigrams AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY 1, 2),
unigrams AS (SELECT prev, sum(cb) AS cu FROM bigrams GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT w) AS v FROM (
    SELECT cur AS w FROM bg UNION ALL SELECT prev FROM bg
  )
)
SELECT doc_id, count(*) AS n_bigrams,
  round(avg(-ln((coalesce(cb, 0) + {k!r})
              / (coalesce(cu, 0) + {k!r} * v))), 6) AS avg_neg_logp
FROM bg
LEFT JOIN bigrams USING (prev, cur)
LEFT JOIN unigrams USING (prev)
CROSS JOIN vocab
GROUP BY doc_id
"""


def perplexity_buckets(
    scored: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    fracs: tuple[float, float] = (1 / 3, 2 / 3),
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al., LREC 2020):
    within each source, cut the LM-score distribution (fluent first) at
    the ``fracs`` quantiles — CCNet trains only on the head/middle of
    each language, dropping the tail.

    Cuts are exact grouped-QUANTILE thresholds over the micro-integer
    score (the 6 dp-rounded ``avg_neg_logp`` is an exact multiple of
    1e-6, so ``floor(x*1e6 + 0.5)`` is its integer representation on
    both engines): the per-source type-1 quantile — smallest score s
    with cum_count(<= s) >= ceil(frac * n) — computed by
    ``stats.grouped_quantile``'s histogram fold. No window anywhere
    (r10: the previous ``row_number().over(partitionBy(source))``
    sorted an entire source's documents in ONE task — the realistic
    100 TB corpus has tens of sources, so that window is a
    single-machine sort of ~corpus/n_sources rows). The boundary rule
    is deterministic: every doc with score <= threshold joins the
    lower bucket, so bucket sizes exceed the requested fraction only
    by the threshold's tie group.

    Returns (id, source, avg_neg_logp, bucket ∈ head|middle|tail).
    """
    from .stats import grouped_quantiles_wide

    lo, hi = fracs
    src = docs.select(F.col(id_col), F.col(source_col))
    joined = scored.select(id_col, "avg_neg_logp").join(src, id_col)
    # exact micro-integer representation of the 6 dp-quantized score;
    # it feeds the quantile histogram and the final map unpersisted
    us = joined.withColumn(
        "__us", F.expr("cast(floor(avg_neg_logp * 1e6 + 0.5) as bigint)")
    )
    # wide path (r10 ADVICE): the micro-int score domain is ~1e7
    # distinct values, so the one-phase fold's per-source collected
    # array approaches min(n_docs, domain) structs on one executor for
    # a dominant source — the two-phase coarse-bucket fold bounds both
    # phases' arrays (|distinct|/65536, then <= 65536) with the same
    # exact answer. BOTH cuts come from ONE histogram pass
    # (grouped_quantiles_wide): two independent wide calls each rebuilt
    # the distinct-score histogram twice (two consumers apiece), which
    # tripled the gate (r11).
    ts = grouped_quantiles_wide(
        us, [source_col], "__us", {"lo": lo, "hi": hi}
    ).select(
        source_col,
        F.col("q_lo").alias("__t_lo"),
        F.col("q_hi").alias("__t_hi"),
    )
    return (
        us.join(F.broadcast(ts), source_col)
        .select(
            id_col,
            source_col,
            "avg_neg_logp",
            F.when(F.col("__us") <= F.col("__t_lo"), "head")
            .when(F.col("__us") <= F.col("__t_hi"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
