"""Correctness-gate queries for the pipeline operators (dedup, similarity,
text analysis) with DuckDB oracle twins. Keyed into __spark_entry__.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from . import dedup, multimodal, pq, similarity, text, topics
from ..sources import tpch_fixtures as fx

# ---------------------------------------------------------------------------
# exact dedup (constructed duplicates: clone every 10th doc under a new id)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    clones = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    both = docs.unionByName(clones).withColumn(
        "norm", dedup.normalize_text_col("text")
    )
    kept = dedup.exact_dedup(both, ["norm"], "doc_id")
    return kept.select("doc_id").orderBy("doc_id")


O_DEDUP_EXACT = """
WITH allrows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
),
normed AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
         '\\s+', ' ', 'g')) AS norm
  FROM allrows
)
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
  FROM normed
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# minhash LSH near-dup pairs
# ---------------------------------------------------------------------------

_K, _NH, _BANDS, _THRESH = 3, 32, 8, 0.7
_P = dedup.MINHASH_PRIME


def _artifact(spark: SparkSession, kind: str, sf_dir: str, table: str, build):
    """``build(dir)``'s value, built once per session into a fresh temp
    dir and rebuilt when ``sf_dir``'s ``table`` changes. One build
    serves every consumer gate (r7 ran the six-consumer minhash chain
    once PER consumer: +106% on dedup_components at sf0.1); per session,
    so a layout-override soak rebuilds under ITS partitioning."""
    import os
    import tempfile

    def build_fresh():
        return build(tempfile.mkdtemp(prefix=f"panoptes_{kind}_"))

    source = os.path.join(sf_dir, f"{table}.parquet")
    return memo.cached(spark, (kind, sf_dir), [source], build_fresh)


def _dedup_artifact(spark: SparkSession, sf_dir: str):
    from .dedup_index import build_dedup_index

    def build(path):
        docs = fx.read_table(spark, sf_dir, "documents")
        return build_dedup_index(
            docs, path, "doc_id", "text", _K, _NH, _BANDS, _THRESH
        )

    return _artifact(spark, "dedup", sf_dir, "documents", build)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_artifact(spark, sf_dir).pairs().orderBy("a", "b")


def q_dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental index maintenance (r8): build over 80% of the
    corpus, APPEND the rest via ``update_dedup_index`` (new docs
    signed/banded; old text re-shingled only for candidate members;
    bucket-cap eligibility re-evaluated on combined sizes), and check
    the updated artifact's pairs against the FULL-corpus oracle — the
    equality a full rebuild would satisfy."""
    import os

    from .dedup_index import build_dedup_index, update_dedup_index

    def build(base):
        docs = fx.read_table(spark, sf_dir, "documents")
        old_docs = docs.where(F.col("doc_id") % 5 > 0)
        new_docs = docs.where(F.col("doc_id") % 5 == 0)
        old_idx = build_dedup_index(
            old_docs, os.path.join(base, "old"),
            "doc_id", "text", _K, _NH, _BANDS, _THRESH,
        )
        return update_dedup_index(
            old_idx, old_docs, new_docs, os.path.join(base, "upd")
        )

    idx = _artifact(spark, "dedup_incr", sf_dir, "documents", build)
    return idx.pairs().orderBy("a", "b")


def _dedup_stream_log(spark: SparkSession, sf_dir: str):
    from panoptes_spark.streaming.dedup_stream import NearDedupIndexSink

    def build(base):
        sink = NearDedupIndexSink(
            base, "doc_id", "text", _K, _NH, _BANDS, _THRESH
        )
        docs = fx.read_table(spark, sf_dir, "documents")
        for i in range(3):
            sink(docs.where(F.col("doc_id") % 3 == i), i)
        return sink.index(spark)

    return _artifact(spark, "dedup_stream", sf_dir, "documents", build)


def q_dedup_stream_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dup index sink's ACTUAL multi-append chain as
    a driver gate (r9): fold the corpus through
    ``NearDedupIndexSink.__call__`` in three deterministic micro-batches
    (build → append → append; doc_id % 3 slices) and return the final
    live pair set resolved from the append-only log (per-batch pair
    files minus tombstones). Must equal the FULL-corpus oracle — the
    equality a one-shot rebuild satisfies; the monotone bucket-cap
    argument is what makes the fold exact (see NearDedupIndexSink)."""
    return _dedup_stream_log(spark, sf_dir).pairs().orderBy("a", "b")


def q_dedup_log_compacted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DedupIndexLog.compact() as a driver gate (r10): COPY the
    committed 3-batch stream-fold log, fold it into one resolved
    generation through the atomic-STATE compaction path, and answer the
    SAME full-corpus pair oracle from the compacted log — compaction
    must be invisible to every query answer while collapsing read
    amplification to one dir per relation."""
    import os
    import shutil

    from panoptes_spark.streaming.dedup_stream import DedupIndexLog

    # the shared, build-once stream-fold artifact
    src = _dedup_stream_log(spark, sf_dir).base

    def build():
        dst = src + "_cmp"
        # copy to a temp name + os.rename: copytree can crash after
        # STATE.json lands but before the relation dirs, and a reader
        # keyed on STATE.json alone would trust the torn copy as
        # complete (r10 ADVICE) — the rename is the completion marker
        shutil.rmtree(dst, ignore_errors=True)
        tmp = dst + ".staging"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
        os.rename(tmp, dst)
        log = DedupIndexLog(spark, dst).compact()
        assert len(log.state["batches"]) == 1, "compaction left batches"
        return log

    source = os.path.join(sf_dir, "documents.parquet")
    log = memo.cached(
        spark, ("dedup_stream_compacted", sf_dir), [source], build
    )
    return log.pairs().orderBy("a", "b")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing shared-substring pairs (r8): local fingerprinting per
    SIGMOD'03 winnowing — pairs sharing >= WINNOW_MIN_SHARED selected
    k-gram window minima, i.e. sharing exact word runs of
    WINNOW_WINDOW + WINNOW_K - 1 words. The substring-level dedup
    member the whole-doc signatures (minhash/simhash) miss."""
    docs = fx.read_table(spark, sf_dir, "documents")
    return dedup.winnow_pairs(docs).orderBy("a", "b")


O_WINNOW_PAIRS = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) < {dedup.WINNOW_K}
      THEN [array_to_string(words, ' ')]
      ELSE list_transform(range(1, len(words) - {dedup.WINNOW_K} + 2),
           i -> array_to_string(words[i:i+{dedup.WINNOW_K - 1}], ' '))
    END AS grams
  FROM w
),
h AS (
  SELECT doc_id,
    list_transform(grams,
      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
  FROM g
),
fp AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(hs) < {dedup.WINNOW_WINDOW}
      THEN [list_min(hs)]
      ELSE list_transform(range(1, len(hs) - {dedup.WINNOW_WINDOW} + 2),
           j -> list_min(hs[j:j+{dedup.WINNOW_WINDOW - 1}]))
    END) AS fps
  FROM h
),
e AS (
  SELECT doc_id, unnest(fps) AS fp FROM fp
),
dfreq AS (SELECT fp, count(*) AS df FROM e GROUP BY fp),
kept AS (
  SELECT e.* FROM e JOIN dfreq d USING (fp)
  WHERE d.df <= {dedup.WINNOW_MAX_DF}
)
SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared_fps
FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
GROUP BY 1, 2
HAVING count(*) >= {dedup.WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# DSIR data selection (hashed-ngram importance weights + Gumbel-top-k)
# ---------------------------------------------------------------------------

_DSIR_TARGET_PRED = "source IN ('src0', 'src1')"
_DSIR_SELECT_K = 100


def _dsir_weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline import selection

    docs = fx.read_table(spark, sf_dir, "documents")
    # target = a source predicate over the SAME corpus: the predicate
    # form folds the target model out of the one materialized hashing
    # pass instead of re-hashing the target subset (r11)
    return selection.dsir_logweights(docs, target_pred=_DSIR_TARGET_PRED)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al., NeurIPS'23): raw = the
    whole corpus, target = two sources; every model table is bucket-
    bounded and broadcast."""
    return _dsir_weights_df(spark, sf_dir).orderBy("doc_id")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k selection over the DSIR log-weights — sampling
    without replacement ∝ exp(log_weight), reproducible murmur3 noise,
    TakeOrderedAndProject (only k rows move)."""
    from panoptes_spark.pipeline import selection

    w = _dsir_weights_df(spark, sf_dir)
    return selection.dsir_select(w, _DSIR_SELECT_K)


def _o_dsir_weights() -> str:
    from panoptes_spark.pipeline import selection

    return selection.dsir_oracle_sql(_DSIR_TARGET_PRED)


def _o_dsir_select() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain
    from panoptes_spark.pipeline import selection

    chain = mmh3_cte_chain(
        "base", "'dsir' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    return f"""
WITH base AS ({selection.dsir_oracle_sql(_DSIR_TARGET_PRED)}),
{chain},
keyed AS (
  SELECT doc_id, n_grams, log_weight,
    round(CAST(log_weight AS DOUBLE)
          - ln(-ln((__mm_hash + 0.5) / 4294967296.0)), 9) AS gkey
  FROM mmh3
)
SELECT doc_id, n_grams, log_weight FROM keyed
ORDER BY gkey DESC, doc_id ASC LIMIT {_DSIR_SELECT_K}
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reweighting by excess-loss softmax (the DoReMi closed
    form over static per-domain losses): per-source avg bigram-LM loss
    → w_d ∝ exp(η·(loss_d − min)), normalized. Composes the gate-proven
    LM scorer; every post-average relation is domain-count-sized."""
    from panoptes_spark.pipeline.lm import score_documents, train_bigram_lm
    from panoptes_spark.pipeline.selection import domain_mixture_weights

    docs = fx.read_table(spark, sf_dir, "documents")
    uni, bi, vocab = train_bigram_lm(docs)
    losses = score_documents(docs, uni, bi, vocab)
    return domain_mixture_weights(losses, docs).orderBy("source")


def _o_domain_mixture() -> str:
    from panoptes_spark.pipeline.lm import lm_oracle_sql

    return f"""
WITH scores AS ({lm_oracle_sql()}),
per AS (
  SELECT d.source, count(*) AS n_docs,
         round(avg(s.avg_neg_logp), 6) AS avg_loss
  FROM scores s JOIN documents d USING (doc_id)
  GROUP BY d.source
),
base AS (SELECT min(avg_loss) AS m FROM per),
sc AS (
  SELECT source, n_docs, avg_loss, exp(1.0 * (avg_loss - m)) AS e
  FROM per CROSS JOIN base
),
z AS (SELECT sum(e) AS zz FROM sc)
SELECT source, n_docs, avg_loss, round(e / zz, 6) AS weight
FROM sc CROSS JOIN z
"""


_SHARD_N = 16


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + within-shard shuffle
    order: shard = murmur3 bucket (survives re-runs/appends/cluster
    resizes), shard_pos = rank by the same hash inside the shard (the
    reproducible 'global shuffle' a training loader reads back). The
    window partitions by shard — shard sizes are bounded by design, so
    no unpartitioned sort anywhere."""
    from pyspark.sql import Window as W

    from panoptes_spark.pipeline.splits import assign_shard

    docs = fx.read_table(spark, sf_dir, "documents")
    from panoptes_spark.operators.schedule import mmh3_sql_expr

    sh = assign_shard(docs, _SHARD_N)
    h = mmh3_sql_expr("concat('pos', ':', cast(doc_id as string))", "spark")
    w = W.partitionBy("shard").orderBy(F.col("__ph").asc(), F.col("doc_id").asc())
    return (
        sh.withColumn("__ph", F.expr(h))
        .withColumn("shard_pos", F.row_number().over(w))
        .select("doc_id", "shard", "shard_pos")
        .orderBy("shard", "shard_pos")
    )


def _o_training_shards() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain
    from panoptes_spark.pipeline.splits import N_BUCKETS

    shard_chain = mmh3_cte_chain(
        "base", "'shard' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    # second chain in the same WITH clause: the `pos_` prefix keeps its
    # generated relation names (`pos___mm_s*`/`pos_mmh3`) disjoint from
    # the shard chain's; COLUMN aliases need no rename — `sharded`
    # projects them away
    pos_chain = mmh3_cte_chain(
        "sharded",
        "'pos' || ':' || cast(doc_id as varchar)",
        "duckdb",
        prefix="pos_",
    )
    return f"""
WITH base AS (SELECT doc_id FROM documents),
{shard_chain},
sharded AS (
  SELECT doc_id, (__mm_hash % {N_BUCKETS}) % {_SHARD_N} AS shard FROM mmh3
),
{pos_chain}
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard
       ORDER BY __mm_hash ASC, doc_id ASC) AS INT) AS shard_pos
FROM pos_mmh3
"""


#: shared WITH-body of the minhash chain replay (shingles -> signatures
#: -> bands -> cap -> candidates -> verified pairs) — composed by the
#: pair oracle AND the estimator-calibration oracle below
_MINHASH_CTES = f"""
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text, ' ')) < {_K}
      THEN [array_to_string(string_split(text, ' '), ' ')]
      ELSE list_transform(range(1, len(string_split(text, ' ')) - {_K} + 2),
           i -> array_to_string(string_split(text, ' ')[i:i+{_K - 1}], ' '))
      END) AS shingles
  FROM documents
),
hs AS (
  SELECT doc_id, shingles,
    list_transform(shingles,
      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_P}) AS shash
  FROM sh
),
sig AS (
  SELECT doc_id, shingles,
    list_transform(range(0, {_NH}),
      i -> list_min(list_transform(shash,
           x -> ((2*i+1) * x + (3*i+7)) % {_P}))) AS minhash
  FROM hs
),
bands AS (
  SELECT doc_id, b,
    array_to_string(minhash[b*{_NH // _BANDS}+1 : b*{_NH // _BANDS}+{_NH // _BANDS}], '-') AS bucket
  FROM sig, range(0, {_BANDS}) t(b)
),
bsizes AS (
  SELECT b, bucket, count(*) AS n FROM bands GROUP BY b, bucket
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  JOIN bsizes s ON s.b = l.b AND s.bucket = l.bucket
  WHERE s.n <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
),
ver AS (
  SELECT c.a, c.b,
    round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
          / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
  FROM cand c
  JOIN sig sa ON c.a = sa.doc_id
  JOIN sig sb ON c.b = sb.doc_id
)"""

O_DEDUP_MINHASH = f"""
WITH {_MINHASH_CTES.strip()}
SELECT a, b, jaccard FROM ver WHERE jaccard >= {_THRESH}
"""

# ---------------------------------------------------------------------------
# simhash fingerprints
# ---------------------------------------------------------------------------


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    return dedup.simhash(docs).select("doc_id", "simhash")


O_SIMHASH = f"""
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, {dedup.SIMHASH_BITS}), b ->
    CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
      CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) = 1
           THEN 1 ELSE -1 END)) > 0
    THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM documents
"""

# ---------------------------------------------------------------------------
# text analysis: features + language id + fingerprint
# ---------------------------------------------------------------------------


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    out = text.add_token_counts(docs, "text")
    out = text.add_quality_features(out, "text")
    out = text.add_language_id(out, "text")
    return out.select(
        "doc_id",
        "n_tokens_ws",
        "n_tokens_bpe",
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
        "lang_pred",
    )


def _sw_count(words):
    arr = ", ".join("'" + w + "'" for w in words)
    return (
        "len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        f" t -> t IN ({arr})))"
    )


_SC = {lang: _sw_count(w) for lang, w in text.LANG_STOPWORDS.items()}

O_TEXT_FEATURES = f"""
WITH feats AS (
  SELECT doc_id, text,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
    len(regexp_extract_all(text, '{text.BPE_TOKEN_PATTERN}')) AS n_tokens_bpe,
    length(text) AS n_chars,
    length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
    {_SC['en']} AS sc_en, {_SC['es']} AS sc_es,
    {_SC['de']} AS sc_de, {_SC['fr']} AS sc_fr
  FROM documents
),
derived AS (
  SELECT doc_id,
    CAST(n_tok AS BIGINT) AS n_tokens_ws,
    CAST(n_tokens_bpe AS BIGINT) AS n_tokens_bpe,
    round(n_nonspace::DOUBLE / n_tok, 6) AS mean_word_len,
    round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
    round(sc_en::DOUBLE / greatest(n_tok, 1), 6) AS stopword_ratio,
    CASE
      WHEN n_tok < 5 THEN 0.1
      WHEN round(n_punct::DOUBLE / greatest(n_chars, 1), 6) > 0.3 THEN 0.2
      ELSE round(least(1.0, 0.4
        + least(round(sc_en::DOUBLE / greatest(n_tok, 1), 6) * 2, 0.3)
        + least(n_tok / 200.0, 0.3)), 6)
    END AS quality_score,
    CASE
      WHEN greatest(sc_de, sc_en, sc_es, sc_fr) = 0 THEN 'und'
      WHEN sc_de >= sc_en AND sc_de >= sc_es AND sc_de >= sc_fr THEN 'de'
      WHEN sc_en >= sc_es AND sc_en >= sc_fr THEN 'en'
      WHEN sc_es >= sc_fr THEN 'es'
      ELSE 'fr'
    END AS lang_pred
  FROM feats
)
SELECT * FROM derived
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    return text.add_fingerprint(docs).select("doc_id", "fingerprint")


O_TEXT_FINGERPRINT = """
SELECT doc_id,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
      '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_TOPK = 10


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return similarity.cosine_topk_bruteforce(emb, queries, k=_TOPK)


_DOT_DD = "list_dot_product(qv::DOUBLE[], cv::DOUBLE[])"
_NORM_Q = "sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))"
_NORM_C = "sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))"

O_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS nbr_id, embedding AS cv FROM embeddings),
s AS (
  SELECT query_id, nbr_id,
    round({_DOT_DD} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine
  FROM q CROSS JOIN c WHERE query_id <> nbr_id
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, nbr_id) AS INT) AS rank
  FROM s
)
SELECT query_id, nbr_id, cosine, rank FROM r WHERE rank <= {_TOPK}
"""


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors after min-id representative selection over minhash pairs."""
    docs = fx.read_table(spark, sf_dir, "documents")
    return (
        _dedup_artifact(spark, sf_dir)
        .keep_representatives(docs)
        .select("doc_id")
    )


O_DEDUP_REPRESENTATIVES = (
    O_DEDUP_MINHASH.replace(
        f"SELECT a, b, jaccard FROM ver WHERE jaccard >= {_THRESH}",
        f"""
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT b FROM ver WHERE jaccard >= {_THRESH})
""",
    )
)


_IVF_CELLS, _IVF_NPROBE = 16, 4


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.read_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(emb, n_cells=_IVF_CELLS)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return similarity.ivf_topk(
        emb, queries, cents, k=_TOPK, nprobe=_IVF_NPROBE
    )


_COS_CELL = (
    "round(list_dot_product(v::DOUBLE[], centroid::DOUBLE[])"
    " / (sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[]))"
    "    * sqrt(list_dot_product(centroid::DOUBLE[], centroid::DOUBLE[]))), 6)"
)

# ---------------------------------------------------------------------------
# cluster topic terms (c-TF-IDF over IVF cells)
# ---------------------------------------------------------------------------

_TOPIC_CELLS = 8


def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF topic terms per embedding cluster (BERTopic formula,
    Grootendorst 2022): the top-5 class-TF-IDF terms of each IVF cell —
    'what IS in this corpus slice'. Everything past one partial-agg
    groupBy operates on a (cells × vocab)-bounded relation."""
    from panoptes_spark.pipeline import topics

    docs = fx.read_table(spark, sf_dir, "documents")
    emb = fx.read_table(spark, sf_dir, "embeddings")
    return topics.cluster_topic_terms(docs, emb, n_cells=_TOPIC_CELLS).orderBy(
        "cell_id", "rank"
    )


O_CLUSTER_TOPICS = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_TOPIC_CELLS}
),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
terms AS (
  SELECT a.cell_id, unnest(string_split(d.text, ' ')) AS term
  FROM documents d JOIN assign a ON d.doc_id = a.vec_id
),
tfc AS (SELECT cell_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
wc AS (SELECT cell_id, sum(tf) AS w_c FROM tfc GROUP BY 1),
ft AS (SELECT term, sum(tf) AS f_t FROM tfc GROUP BY 1),
ab AS (SELECT avg(w_c) AS a_bar FROM wc),
scored AS (
  SELECT t.cell_id, t.term,
    round((tf::DOUBLE / w_c) * ln(1.0 + a_bar / f_t), 6) AS ctfidf
  FROM tfc t JOIN wc USING (cell_id) JOIN ft USING (term) CROSS JOIN ab
),
ranked AS (
  SELECT cell_id, term, ctfidf,
    CAST(row_number() OVER (PARTITION BY cell_id
         ORDER BY ctfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT cell_id, term, ctfidf, rank FROM ranked
WHERE rank <= {topics.TOPIC_TOP_TERMS}
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell embedding drift between snapshots (old = even ids,
    new = odd ids): population shift + per-cell centroid shift — the
    embedding-space complement to ks_drift."""
    from panoptes_spark.pipeline.drift import embedding_drift

    emb = fx.read_table(spark, sf_dir, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    return embedding_drift(old, new, n_cells=_TOPIC_CELLS).orderBy("cell_id")


O_EMBEDDING_DRIFT = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT {_TOPIC_CELLS}
),
asg AS (
  SELECT vec_id, embedding, vec_id % 2 = 0 AS is_old, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
cnt AS (
  SELECT cell_id,
    count(*) FILTER (WHERE is_old) AS n_old,
    count(*) FILTER (WHERE NOT is_old) AS n_new
  FROM asg GROUP BY 1
),
tot AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM cnt),
comps AS (
  SELECT cell_id, is_old, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS comp
  FROM asg, range(64) t(i)  -- fixture embedding dim (= _KM_DIM below)
),
means AS (
  SELECT cell_id, is_old, pos,
    round(sum(CAST(comp AS DECIMAL(30,12)))::DOUBLE / count(*), 6) AS m
  FROM comps GROUP BY 1, 2, 3
),
shift AS (
  SELECT a.cell_id,
    round(1.0 - sum(a.m * b.m)
          / sqrt(sum(a.m * a.m) * sum(b.m * b.m)), 6) AS centroid_shift
  FROM means a
  JOIN means b ON a.cell_id = b.cell_id AND a.pos = b.pos
             AND a.is_old AND NOT b.is_old
  GROUP BY 1
)
SELECT c.cell_id, c.n_old, c.n_new,
  round(c.n_new / t.t_new - c.n_old / t.t_old, 6) AS pop_shift,
  s.centroid_shift
FROM cnt c CROSS JOIN tot t LEFT JOIN shift s USING (cell_id)
"""


O_IVF_TOPK = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
c_assign AS (
  SELECT nbr_id, cv, cell_id FROM (
    SELECT e.vec_id AS nbr_id, e.embedding AS cv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk <= 1
),
q_assign AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
    WHERE e.vec_id % 25 = 0
  ) WHERE rk <= {_IVF_NPROBE}
),
scored AS (
  SELECT q.query_id, c.nbr_id,
    round(list_dot_product(q.qv::DOUBLE[], c.cv::DOUBLE[])
      / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
         * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) AS cosine
  FROM q_assign q JOIN c_assign c USING (cell_id)
  WHERE q.query_id <> c.nbr_id
),
ranked AS (
  SELECT DISTINCT query_id, nbr_id, cosine FROM scored
),
final AS (
  SELECT query_id, nbr_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, nbr_id) AS INT) AS rank
  FROM ranked
)
SELECT * FROM final WHERE rank <= {_TOPK}
"""


_KM_DIM, _KM_ITERS = 64, 2


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.read_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(emb, n_cells=_IVF_CELLS)
    refined = similarity.kmeans_refine(emb, cents, iters=_KM_ITERS)
    return refined.select(
        "cell_id", F.posexplode("centroid").alias("pos", "m")
    )


def _km_round_sql(prev: str, a: str, m: str, n: str, nxt: str) -> str:
    """One unrolled Lloyd round: assign to `prev`, mean per (cell, pos),
    rebuild arrays, keep previous centroid for empty cells."""
    cos = (
        f"round(list_dot_product(e.embedding::DOUBLE[], c.centroid)"
        f" / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        f"    * sqrt(list_dot_product(c.centroid, c.centroid))), 6)"
    )
    return f"""
{a} AS (
  SELECT vec_id, cv, cell_id FROM (
    SELECT e.vec_id, e.embedding AS cv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rk = 1
),
{m} AS (
  SELECT cell_id, CAST(i AS INT) AS pos,
    round(CAST(sum(CAST(cv[i+1]::DOUBLE AS DECIMAL(30,12))) AS DOUBLE)
          / count(*), 6) AS m
  FROM {a}, range({_KM_DIM}) t(i) GROUP BY 1, 2
),
{n} AS (SELECT cell_id, list(m ORDER BY pos) AS centroid
        FROM {m} GROUP BY cell_id),
{nxt} AS (
  SELECT c.cell_id, COALESCE(nn.centroid, c.centroid) AS centroid
  FROM {prev} c LEFT JOIN {n} nn USING (cell_id)
)"""


O_KMEANS_REFINE = f"""
WITH cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
{_km_round_sql('cents0', 'a1', 'm1', 'n1', 'cents1')},
{_km_round_sql('cents1', 'a2', 'm2', 'n2', 'cents2')}
SELECT cell_id, CAST(i AS INT) AS pos, centroid[i+1] AS m
FROM cents2, range({_KM_DIM}) t(i)
"""


_LSH_BANDS, _LSH_DIM = 4, 64


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k with AUTO-SIZED planes (r7 directive 1b): bits-per-band
    grows with floor(log2 |C|) so bucket occupancy — and the candidate
    pair count the r6 sf1 soak measured as the superlinear tail — stays
    ~constant as the corpus scales. The oracle computes the identical
    md5-parity planes and the identical integer sizing rule in SQL, so
    the gate holds at ANY scale factor."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return similarity.lsh_topk(
        emb, queries, dim=_LSH_DIM, k=_TOPK, bands=_LSH_BANDS,
    )


O_LSH_TOPK = f"""
WITH params AS (
  SELECT GREATEST(6, LEAST(CAST(floor(log2(count(*))) AS INT) - 4, 30)) AS r
  FROM embeddings
),
planes AS (
  SELECT p,
    list(CASE WHEN ('0x' || substr(md5('rhp:' || p || ':' || j), 1, 1))::BIGINT
              % 2 = 0
         THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END ORDER BY j) AS pl
  FROM (SELECT g1.range AS p, g2.range AS j
        FROM range({_LSH_BANDS} * 30) g1
        CROSS JOIN range({_LSH_DIM}) g2
        WHERE g1.range < (SELECT {_LSH_BANDS} * r FROM params)) t
  GROUP BY p
),
codes AS (
  SELECT vec_id, embedding, band, CAST(sum(bit) AS BIGINT) AS code
  FROM (
    SELECT e.vec_id, e.embedding,
      CAST(pl.p // (SELECT r FROM params) AS INT) AS band,
      CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pl) >= 0
           THEN (1::BIGINT << CAST(pl.p % (SELECT r FROM params) AS INT))
           ELSE 0::BIGINT END AS bit
    FROM embeddings e CROSS JOIN planes pl
  )
  GROUP BY vec_id, embedding, band
),
q AS (SELECT vec_id AS query_id, embedding AS qv, band, code FROM codes
      WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS nbr_id, embedding AS cv, band, code FROM codes),
scored AS (
  SELECT DISTINCT query_id, nbr_id,
    round({_DOT_DD} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine
  FROM q JOIN c USING (band, code) WHERE query_id <> nbr_id
),
final AS (
  SELECT query_id, nbr_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, nbr_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM final WHERE rank <= {_TOPK}
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index vs the exact brute-force baseline — the
    quality report any ANN deployment publishes alongside latency. Both
    sides are gate-proven operators; per-query recall = |IVF ∩ BF| / k."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    cents = similarity.seed_centroids(emb, n_cells=_IVF_CELLS)
    iv = similarity.ivf_topk(
        emb, queries, cents, k=_TOPK, nprobe=_IVF_NPROBE
    ).select("query_id", "nbr_id")
    both = bf.join(iv, ["query_id", "nbr_id"], "left_semi")
    return (
        both.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select(
            "query_id",
            "n_match",
            F.round(F.col("n_match") / F.lit(float(_TOPK)), 6).alias("recall"),
        )
    )


def _o_ann_recall() -> str:
    return f"""
WITH bf AS ({O_ANN_TOPK}),
iv AS ({O_IVF_TOPK}),
m AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN iv ON bf.query_id = iv.query_id AND bf.nbr_id = iv.nbr_id
)
SELECT query_id, count(*) AS n_match,
       round(count(*) / CAST({_TOPK} AS DOUBLE), 6) AS recall
FROM m GROUP BY query_id
"""


def q_ivf_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-vs-TRAINED coarse-cell recall side by side at equal geometry
    (r9 — the lift `test_trained_index_improves_recall` proves at
    sf0.001 promoted to an oracle-recorded driver gate): the SAME Lloyd
    rounds ``build_ivfpq_index(train_iters>0)`` uses for its cells
    (``kmeans_refine``), both variants' IVF recall@k vs brute force in
    one canon. The DuckDB oracle replays the full training (decimal-
    exact per-(cell,pos) means, the ``kmeans_refine`` gate's recipe)
    and both IVF rankings."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    seeds = similarity.seed_centroids(emb, n_cells=_IVF_CELLS)
    counts = []
    for label, cents in (
        ("seed", seeds),
        ("trained", similarity.kmeans_refine(emb, seeds, iters=_KM_ITERS)),
    ):
        iv = similarity.ivf_topk(
            emb, queries, cents, k=_TOPK, nprobe=_IVF_NPROBE
        ).select("query_id", "nbr_id")
        counts.append(
            bf.join(iv, ["query_id", "nbr_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(f"__n_{label}"))
        )
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return (
        spine.join(counts[0], "query_id", "left")
        .join(counts[1], "query_id", "left")
        .select(
            "query_id",
            F.coalesce("__n_seed", F.lit(0)).alias("n_match_seed"),
            F.round(
                F.coalesce("__n_seed", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_seed"),
            F.coalesce("__n_trained", F.lit(0)).alias("n_match_trained"),
            F.round(
                F.coalesce("__n_trained", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_trained"),
        )
    )


def _ivf_topk_ctes(cents: str, p: str) -> str:
    """The O_IVF_TOPK body parameterized on the centroid relation and a
    relation-name prefix, so two IVF rankings (seed vs trained cells)
    can share one WITH clause. ``{p}final`` is the top-k relation."""
    cos = _COS_CELL.replace("v::", "e.embedding::")
    return f"""
{p}c_assign AS (
  SELECT nbr_id, cv, cell_id FROM (
    SELECT e.vec_id AS nbr_id, e.embedding AS cv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN {cents} c
  ) WHERE rk <= 1
),
{p}q_assign AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN {cents} c
    WHERE e.vec_id % 25 = 0
  ) WHERE rk <= {_IVF_NPROBE}
),
{p}scored AS (
  SELECT q.query_id, c.nbr_id,
    round(list_dot_product(q.qv::DOUBLE[], c.cv::DOUBLE[])
      / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
         * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) AS cosine
  FROM {p}q_assign q JOIN {p}c_assign c USING (cell_id)
  WHERE q.query_id <> c.nbr_id
),
{p}ranked AS (
  SELECT DISTINCT query_id, nbr_id, cosine FROM {p}scored
),
{p}final AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, nbr_id) AS INT) AS rank
    FROM {p}ranked
  ) WHERE rank <= {_TOPK}
)"""


def _o_ivf_recall_trained() -> str:
    return f"""
WITH cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
{_km_round_sql('cents0', 'ta1', 'tm1', 'tn1', 'cents1')},
{_km_round_sql('cents1', 'ta2', 'tm2', 'tn2', 'cents2')},
{_ivf_topk_ctes('cents0', 's_').strip()},
{_ivf_topk_ctes('cents2', 't_').strip()},
bf AS ({O_ANN_TOPK}),
ms AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN s_final ON bf.query_id = s_final.query_id
                   AND bf.nbr_id = s_final.nbr_id
),
mt AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN t_final ON bf.query_id = t_final.query_id
                   AND bf.nbr_id = t_final.nbr_id
),
cs AS (SELECT query_id, count(*) AS n FROM ms GROUP BY query_id),
ct AS (SELECT query_id, count(*) AS n FROM mt GROUP BY query_id)
SELECT q.query_id,
  CAST(COALESCE(cs.n, 0) AS BIGINT) AS n_match_seed,
  round(COALESCE(cs.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_seed,
  CAST(COALESCE(ct.n, 0) AS BIGINT) AS n_match_trained,
  round(COALESCE(ct.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_trained
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 25 = 0) q
LEFT JOIN cs USING (query_id) LEFT JOIN ct USING (query_id)
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of all token occurrences covered by the top-k vocabulary
    — the tokenizer-sizing report."""
    from panoptes_spark.pipeline.text import token_frequencies

    docs = fx.read_table(spark, sf_dir, "documents")
    top = token_frequencies(docs, "text", k=_VOCAB_K)
    tot = token_frequencies(docs, "text").agg(
        F.sum("n").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return top.agg(F.sum("n").alias("covered_tokens")).crossJoin(
        F.broadcast(tot)
    ).select(
        "covered_tokens",
        "total_tokens",
        "n_distinct",
        F.round(
            F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6
        ).alias("coverage"),
    )


def _o_vocab_coverage() -> str:
    return f"""
WITH counts AS (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token
),
top AS (SELECT n FROM counts ORDER BY n DESC, token ASC LIMIT {_VOCAB_K})
SELECT CAST((SELECT sum(n) FROM top) AS BIGINT) AS covered_tokens,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       count(*) AS n_distinct,
       round((SELECT sum(n) FROM top) / CAST(sum(n) AS DOUBLE), 6)
         AS coverage
FROM counts
"""
# ^ BIGINT casts: DuckDB sum() yields HUGEINT which pandas widens to
# float64; the driver's exact-hash canon then mismatches Spark's bigint
# even when values are identical (CORRECTNESS_r04 vocab_coverage).


_SEMDEDUP_THRESH = 0.45  # same corpus-density choice as embedding_neardup


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.read_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_prune(
        emb, n_cells=_IVF_CELLS, threshold=_SEMDEDUP_THRESH
    ).select("vec_id")


O_SEMDEDUP = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
      6) >= {_SEMDEDUP_THRESH}
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT DISTINCT b FROM pairs)
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.read_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, threshold=0.45)


O_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT a, b, cosine FROM pairs WHERE cosine >= 0.45
"""


# ---------------------------------------------------------------------------
# simhash banded hamming pairs. Pigeonhole: hamming <= bands-1 guarantees
# at least one band agrees, so band-blocking + verify is EXACT vs the
# all-pairs oracle. Perturbed clones (every 5th doc + ' extra token')
# manufacture real near-dups.
# ---------------------------------------------------------------------------

_SIMHASH_MAX_HAMMING, _SIMHASH_BANDS = 3, 4


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    clones = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(clones)
    sim = dedup.simhash(both)
    return dedup.simhash_hamming_pairs(
        sim, max_hamming=_SIMHASH_MAX_HAMMING, bands=_SIMHASH_BANDS
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


O_SIMHASH_PAIRS = f"""
WITH allrows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' extra token'
  FROM documents WHERE doc_id % 5 = 0
),
s AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, {dedup.SIMHASH_BITS}), b ->
      CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
        CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) = 1
             THEN 1 ELSE -1 END)) > 0
      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
  FROM allrows
)
SELECT a.doc_id AS a, b.doc_id AS b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""

# ---------------------------------------------------------------------------
# connected components over the minhash near-dup graph — the iterative
# min-label propagation vs a recursive-CTE oracle (min reachable id).
# ---------------------------------------------------------------------------


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_artifact(spark, sf_dir).components().select(
        "node", "component"
    )


O_DEDUP_COMPONENTS = (
    O_DEDUP_MINHASH.replace("WITH sh AS (", "WITH RECURSIVE sh AS (").replace(
        f"SELECT a, b, jaccard FROM ver WHERE jaccard >= {_THRESH}",
        f""", edges AS (SELECT a, b FROM ver WHERE jaccard >= {_THRESH}),
und AS (SELECT a AS src, b AS dst FROM edges
        UNION SELECT b, a FROM edges),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.dst, r.comp FROM reach r JOIN und u ON u.src = r.node
)
SELECT node, CAST(min(comp) AS BIGINT) AS component FROM reach GROUP BY node
""",
    )
)


def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components assigned to splits atomically — no pair a
    cross-split leakage audit could flag."""
    from .splits import leakage_safe_splits

    docs = fx.read_table(spark, sf_dir, "documents")
    return leakage_safe_splits(
        docs, components=_dedup_artifact(spark, sf_dir).components()
    )


def _o_leakage_safe_splits() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    final = (
        "SELECT node, CAST(min(comp) AS BIGINT) AS component "
        "FROM reach GROUP BY node"
    )
    comps_sql = O_DEDUP_COMPONENTS.replace("\n", " ")
    # normalize the embedded newline layout of the final SELECT
    import re

    comps_sql = O_DEDUP_COMPONENTS
    m = re.search(
        r"SELECT node, CAST\(min\(comp\) AS BIGINT\) AS component\s+"
        r"FROM reach GROUP BY node",
        comps_sql,
    )
    assert m, "components oracle final SELECT moved"
    chain = mmh3_cte_chain(
        "base", "'v1' || ':' || cast(component as varchar)", "duckdb"
    )
    tail = f""", comps AS ({m.group(0)}),
base AS (SELECT node AS doc_id, component FROM comps),
{chain}
SELECT doc_id, component,
  __mm_hash % 10000 AS split_bucket,
  CASE WHEN __mm_hash % 10000 < 9800 THEN 'train'
       WHEN __mm_hash % 10000 < 9900 THEN 'val'
       ELSE 'test' END AS split
FROM mmh3
"""
    return comps_sql[: m.start()] + tail + comps_sql[m.end():]



# ---------------------------------------------------------------------------
# multimodal: binary columns derived from documents. Two oracle styles:
# `multimodal_features` feeds utf-8 text bytes (no magic header → the
# deterministic md5 fallback runs, which DuckDB recomputes exactly, so
# the Arrow plumbing is oracle-checked); `media_audio_decode` feeds real
# PCM WAV payloads through the genuine RIFF decoder and oracle-checks
# the decoded signal features in closed form.
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
            " ELSE 'video' END"
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.lit("txt").alias("format"),
    )
    # exploded (media, idx, value) rows: raw array<double> columns break
    # the driver's pandas canonicalizer (unhashable list cells,
    # CORRECTNESS_r04), and to_json float formatting is engine-dependent
    return (
        multimodal.extract_features(media)
        .select(
            "media_id",
            "media_type",
            "n_bytes",
            F.posexplode("features").alias("feature_idx", "feature"),
        )
    )


O_MULTIMODAL_FEATURES = f"""
SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS media_type,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  CAST(i AS INT) AS feature_idx,
  round(('0x' || substr(md5(text), i*2 + 1, 2))::BIGINT / 255.0, 6)
    AS feature
FROM documents, range(0, {multimodal.FEATURE_DIM}) t(i)
"""


def q_media_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode gate: synthesize constant-amplitude PCM-16 WAV
    payloads (amplitude keyed off doc_id), run them through the genuine
    RIFF/WAVE decoder in ``media_codecs.decode_wav`` via
    ``extract_features``, and emit the feature vector. Because the
    signal is constant, every feature has a closed form the DuckDB
    oracle recomputes exactly: v = round(round(amp*32767)/32768, 6)
    (the 16-bit quantization the decoder undoes), zcr = 0. The amp set
    uses denominator 101 (odd, coprime to 2), so amp*32767 can never
    land exactly on .5 and round(x/32768, 6) is tie-free for every x in
    the set (checked exhaustively over the residue range) — np.round
    (half-even) and DuckDB round (half-away) therefore always agree."""
    import numpy as np

    from . import media_codecs as mcodec

    docs = fx.read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", ((F.col("doc_id") % 90 + 5) / 101.0).alias("amp")
    )

    def enc(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": "audio",
                    "payload": [
                        mcodec.encode_wav_pcm16(np.full(64, a), 8000)
                        for a in pdf["amp"]
                    ],
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "duration_ms": pd.array(
                        [8] * len(pdf), dtype="Int64"
                    ),
                    "format": "wav",
                }
            )

    media = base.mapInPandas(enc, schema=multimodal.MEDIA_SCHEMA)
    # exploded rows — see q_multimodal_features for why not raw arrays
    return multimodal.extract_features(media).select(
        "media_id",
        "decoder",
        F.posexplode("features").alias("feature_idx", "feature"),
    )


O_MEDIA_AUDIO_DECODE = """
WITH q AS (
  SELECT doc_id,
         round(round((doc_id % 90 + 5) / 101.0 * 32767) / 32768.0, 6) AS v
  FROM documents
)
SELECT doc_id AS media_id, 'wav' AS decoder,
       CAST(i AS INT) AS feature_idx,
       CASE WHEN i = 1 THEN 0.0 ELSE v END AS feature
FROM q, range(0, 8) t(i)
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # video frame-sampling plan over the same derived media table:
    # one row per (video, sampled timestamp), decode deliberately absent
    docs = fx.read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
            " ELSE 'video' END"
        ).alias("media_type"),
        (F.lit(2500) + F.col("doc_id") * 7).cast("long").alias("duration_ms"),
        F.lit("mp4").alias("format"),
    )
    return multimodal.frame_sample_plan(media, every_ms=1000)


# Spark sequence(0, dur-1, 1000) is bound-inclusive; DuckDB range(0, dur,
# 1000) is stop-exclusive — identical sets for dur >= 1.
O_MEDIA_FRAME_SAMPLE = """
WITH v AS (
  SELECT doc_id, 2500 + doc_id * 7 AS dur FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id AS media_id,
       unnest(range(0, dur, 1000)) AS frame_ts_ms,
       'mp4' AS format
FROM v
"""


# ---------------------------------------------------------------------------
# deterministic splits / sampling (murmur3-bucketed, engine-exact oracle)
# ---------------------------------------------------------------------------


def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.splits import assign_split, stratified_sample

    docs = fx.read_table(spark, sf_dir, "documents")
    assigned = assign_split(docs, "doc_id", salt="v1")
    # downsample English to 30%, keep the rest — deterministic per doc
    sampled = stratified_sample(
        assigned, {"en": 0.3}, "lang", id_col="doc_id", salt="rebalance"
    )
    return sampled.select("doc_id", "lang", "split_bucket", "split")


def _o_split_assignment() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    split_chain = mmh3_cte_chain(
        "base", "'v1' || ':' || cast(doc_id as varchar)", "duckdb"
    ).replace("__mm_", "__sp_").replace("mmh3 AS", "split_hashed AS")
    sample_chain = mmh3_cte_chain(
        "split_hashed", "'rebalance' || ':' || cast(doc_id as varchar)", "duckdb"
    ).replace("mmh3 AS", "sample_hashed AS")
    return f"""
WITH base AS (SELECT doc_id, lang FROM documents),
{split_chain},
{sample_chain}
SELECT doc_id, lang,
  __sp_hash % 10000 AS split_bucket,
  CASE WHEN __sp_hash % 10000 < 9800 THEN 'train'
       WHEN __sp_hash % 10000 < 9900 THEN 'val'
       WHEN __sp_hash % 10000 < 10000 THEN 'test'
  END AS split
FROM sample_hashed
WHERE __mm_hash % 10000 < CASE WHEN lang = 'en' THEN 3000 ELSE 10000 END
"""


_WSAMPLE_K = 200


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.splits import weighted_sample

    docs = fx.read_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, k=_WSAMPLE_K, weight_col="n_chars", salt="ws1"
    ).select("doc_id", "lang", "n_chars")


def _o_weighted_sample() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    chain = mmh3_cte_chain(
        "base", "'ws1' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    return f"""
WITH base AS (SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 0),
{chain},
keyed AS (
  SELECT doc_id, lang, n_chars,
    round(ln((__mm_hash + 0.5) / 4294967296.0)
          / CAST(n_chars AS DOUBLE), 9) AS wkey
  FROM mmh3
)
SELECT doc_id, lang, n_chars FROM keyed
ORDER BY wkey DESC, doc_id ASC LIMIT {_WSAMPLE_K}
"""


# below the corpus size at every test SF, so per-source keep fractions are
# genuinely < 1 and the flattening (not just the cap) is exercised
_MIX_TARGET = 200


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.splits import temperature_sample

    docs = fx.read_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "lang", target_rows=_MIX_TARGET, alpha=0.5, salt="mix"
    ).select("doc_id", "lang")


def _o_temperature_mixture() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    chain = mmh3_cte_chain(
        "base", "'mix' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    return f"""
WITH counts AS (SELECT lang, count(*) AS __n FROM documents GROUP BY lang),
tot AS (
  SELECT sum(CAST(sqrt(CAST(__n AS DOUBLE)) AS DECIMAL(30,10))) AS __wsum
  FROM counts
),
dim AS (
  SELECT lang,
    CAST(floor(least(CAST(1.0 AS DOUBLE),
      {_MIX_TARGET} * sqrt(CAST(__n AS DOUBLE))
      / (CAST(__wsum AS DOUBLE) * CAST(__n AS DOUBLE))) * 10000) AS INT)
      AS thr
  FROM counts, tot
),
base AS (SELECT doc_id, lang FROM documents),
{chain}
SELECT h.doc_id, h.lang
FROM mmh3 h JOIN dim USING (lang)
WHERE h.__mm_hash % 10000 < dim.thr
"""


# ---------------------------------------------------------------------------
# token-budget sequence packing (sharded running-sum window)
# ---------------------------------------------------------------------------

_PACK_SEQ_LEN = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.packing import pack_sequences

    docs = fx.read_table(spark, sf_dir, "documents")
    # whitespace token count; identical expression on the oracle side
    with_tokens = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(
        with_tokens,
        _PACK_SEQ_LEN,
        tokens_col="n_tokens",
        order_col="doc_id",
        shard_cols=["source"],
    )
    return packed.select(
        "doc_id", "source", "n_tokens", "tok_start", "seq_first", "seq_last",
        "seq_offset",
    )


O_PACK_SEQUENCES = f"""
WITH with_tokens AS (
  SELECT doc_id, source,
    CAST(length(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS tok_start
  FROM with_tokens
)
SELECT doc_id, source, n_tokens, tok_start,
  tok_start // {_PACK_SEQ_LEN} AS seq_first,
  (tok_start + GREATEST(n_tokens, 1) - 1) // {_PACK_SEQ_LEN} AS seq_last,
  tok_start % {_PACK_SEQ_LEN} AS seq_offset
FROM cum
"""


# ---------------------------------------------------------------------------
# corpus token frequencies (vocabulary top-k)
# ---------------------------------------------------------------------------

_VOCAB_K = 40


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.text import token_frequencies

    docs = fx.read_table(spark, sf_dir, "documents")
    return token_frequencies(docs, "text", k=_VOCAB_K)


O_TOKEN_FREQUENCIES = f"""
SELECT token, CAST(n AS BIGINT) AS n FROM (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token
)
ORDER BY n DESC, token ASC LIMIT {_VOCAB_K}
"""


def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain a corpus run executes, as ONE plan:
    quality filter -> exact dedup -> split assignment -> shard
    assignment. Every stage is individually gate-proven; this gate
    proves the COMPOSITION (the production artifact: doc -> split/shard
    routing for the kept, deduped corpus)."""
    from panoptes_spark.pipeline.splits import assign_shard, assign_split
    from panoptes_spark.pipeline.text import filter_quality

    # NOT spread (r11): a paired A/B measured the round-robin exchange
    # of the full text payload ~0.3s worse than the single-task feature
    # scan it parallelizes — the window dedup's exchange is the
    # pipeline's natural spread point and it needs the text anyway
    docs = fx.read_table(spark, sf_dir, "documents")
    kept = filter_quality(docs).where("keep").select("doc_id", "text", "lang")
    deduped = dedup.exact_dedup(
        kept.withColumn("norm", dedup.normalize_text_col("text")),
        ["norm"],
        "doc_id",
    )
    split = assign_split(deduped, "doc_id", salt="v1")
    sharded = assign_shard(split, 8, "doc_id", salt="shard")
    return sharded.select("doc_id", "lang", "split", "shard")


def _o_curation_e2e() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    split_chain = mmh3_cte_chain(
        "base", "'v1' || ':' || cast(doc_id as varchar)", "duckdb"
    ).replace("__mm_", "__sp_").replace("mmh3 AS", "split_hashed AS")
    shard_chain = mmh3_cte_chain(
        "split_hashed", "'shard' || ':' || cast(doc_id as varchar)", "duckdb"
    ).replace("mmh3 AS", "shard_hashed AS")
    return f"""
WITH qf AS ({_o_quality_filter()}),
kept AS (
  SELECT d.doc_id, d.text, d.lang FROM documents d
  JOIN qf USING (doc_id) WHERE qf.keep
),
normed AS (
  SELECT doc_id, lang,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
        'g'), '\\s+', ' ', 'g')) AS norm
  FROM kept
),
base AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
      row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM normed
  ) WHERE rn = 1
),
{split_chain},
{shard_chain}
SELECT doc_id, lang,
  CASE WHEN __sp_hash % 10000 < 9800 THEN 'train'
       WHEN __sp_hash % 10000 < 9900 THEN 'val'
       ELSE 'test' END AS split,
  (__mm_hash % 10000) % 8 AS shard
FROM shard_hashed
"""


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus slices (en vs the
    rest): per-token probability in each slice plus the pointwise
    Jensen-Shannon term, summed to the JS divergence — the drift report
    run when a new crawl lands. Two grouped counts + one full-outer
    token join (vocab-sized, not corpus-sized) + one scalar agg."""
    docs = fx.read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("lang"),
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("token"),
    ).where(F.col("token") != "")
    a = toks.where(F.col("lang") == "en").groupBy("token").agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = toks.where(F.col("lang") != "en").groupBy("token").agg(
        F.count(F.lit(1)).alias("cb")
    )
    joined = a.join(b, "token", "full_outer").na.fill(0, ["ca", "cb"])
    tot = joined.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    term = (
        "CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0.0 END"
        " + CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0.0 END"
    )
    probs = joined.crossJoin(F.broadcast(tot)).selectExpr(
        "token",
        "ca / cast(na as double) AS pa",
        "cb / cast(nb as double) AS pb",
        "(ca / cast(na as double) + cb / cast(nb as double)) / 2 AS m",
    )
    return probs.agg(
        F.round(F.expr(f"sum({term}) / 2"), 6).alias("js_divergence"),
        F.count(F.lit(1)).alias("n_tokens_union"),
    )


O_CORPUS_DIVERGENCE = """
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
tt AS (SELECT * FROM toks WHERE token <> ''),
a AS (SELECT token, count(*) AS ca FROM tt WHERE lang = 'en' GROUP BY 1),
b AS (SELECT token, count(*) AS cb FROM tt WHERE lang <> 'en' GROUP BY 1),
j AS (
  SELECT coalesce(a.token, b.token) AS token,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM a FULL OUTER JOIN b USING (token)
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j),
p AS (
  SELECT token, ca / CAST(na AS DOUBLE) AS pa, cb / CAST(nb AS DOUBLE) AS pb,
    (ca / CAST(na AS DOUBLE) + cb / CAST(nb AS DOUBLE)) / 2 AS m
  FROM j CROSS JOIN tot
)
SELECT round(sum(
    CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0.0 END
    + CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0.0 END) / 2, 6)
  AS js_divergence,
  count(*) AS n_tokens_union
FROM p
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs grouped by the
    (lang_a, lang_b) slice pair — which sources re-publish each other.
    Pair-set-sized joins against the doc dim; corpus never re-shuffles."""
    docs = fx.read_table(spark, sf_dir, "documents")
    pairs = _dedup_artifact(spark, sf_dir).pairs()
    dim_a = docs.select(
        F.col("doc_id").alias("a"), F.col("source").alias("src_a")
    )
    dim_b = docs.select(
        F.col("doc_id").alias("b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(dim_a, "a")
        .join(dim_b, "b")
        .groupBy(
            F.least("src_a", "src_b").alias("src_x"),
            F.greatest("src_a", "src_b").alias("src_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(10,6)")).cast("double"),
                6,
            ).alias("sum_jaccard"),
        )
    )


def _o_source_overlap() -> str:
    return f"""
WITH pairs AS ({O_DEDUP_MINHASH})
SELECT least(da.source, db.source) AS src_x,
       greatest(da.source, db.source) AS src_y,
       count(*) AS n_pairs,
       CAST(sum(CAST(jaccard AS DECIMAL(10,6))) AS DOUBLE) AS sum_jaccard
FROM pairs p
JOIN documents da ON p.a = da.doc_id
JOIN documents db ON p.b = db.doc_id
GROUP BY 1, 2
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.lm import score_documents, train_bigram_lm

    docs = fx.read_table(spark, sf_dir, "documents")
    uni, bi, vocab = train_bigram_lm(docs)
    return score_documents(docs, uni, bi, vocab)


def _o_lm_perplexity() -> str:
    from panoptes_spark.pipeline.lm import lm_oracle_sql

    return lm_oracle_sql()


_LEAK_FRACS = (("train", 0.5), ("val", 0.25), ("test", 0.25))


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.splits import assign_split, split_leakage

    docs = fx.read_table(spark, sf_dir, "documents")
    pairs = _dedup_artifact(spark, sf_dir).pairs()
    # the splits dim feeds BOTH sides of the leakage join (split_a and
    # split_b) — materialize so the murmur3 chain runs once, not per side
    # kept: SCALE.md "Build-time persists", split_leakage
    splits = dedup.materialize_once(
        assign_split(
            docs, "doc_id", salt="leak", fractions=_LEAK_FRACS
        ).select("doc_id", "split")
    )
    return split_leakage(pairs, splits).select(
        "a", "b", "jaccard", "split_a", "split_b"
    )


def _o_split_leakage() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    chain = mmh3_cte_chain(
        "base", "'leak' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    return f"""
WITH pairs AS ({O_DEDUP_MINHASH}),
base AS (SELECT doc_id FROM documents),
{chain},
sp AS (
  SELECT doc_id,
    CASE WHEN __mm_hash % 10000 < 5000 THEN 'train'
         WHEN __mm_hash % 10000 < 7500 THEN 'val'
         ELSE 'test' END AS split
  FROM mmh3
)
SELECT p.a, p.b, p.jaccard, sa.split AS split_a, sb.split AS split_b
FROM pairs p JOIN sp sa ON p.a = sa.doc_id JOIN sp sb ON p.b = sb.doc_id
WHERE sa.split IS DISTINCT FROM sb.split
"""


_QUANT_PS = [0.5, 0.9, 0.99, 1.0]


def q_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.stats import global_quantiles

    docs = fx.read_table(spark, sf_dir, "documents")
    return global_quantiles(docs, "n_chars", _QUANT_PS)


O_GLOBAL_QUANTILES = f"""
WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM h),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cm FROM h)
SELECT p, min(v) AS q
FROM cum CROSS JOIN tot
CROSS JOIN (VALUES {", ".join(f"(CAST({p!r} AS DOUBLE))" for p in _QUANT_PS)})
  ps(p)
WHERE cm >= CAST(ceil(p * n) AS BIGINT)
GROUP BY p
"""


_BINQ_W = 0.25  # events.value spans ~[0, 100]; quarter-unit bins


def q_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.stats import binned_quantiles
    from panoptes_spark.sources import tpch_fixtures as _fx

    e = _fx.read_events(spark, sf_dir)
    return binned_quantiles(e, "value", _QUANT_PS, bin_width=_BINQ_W)


O_BINNED_QUANTILES = f"""
WITH h AS (
  SELECT CAST(floor(value / {_BINQ_W!r}) AS BIGINT) AS v, count(*) AS c
  FROM events GROUP BY 1
),
tot AS (SELECT sum(c) AS n FROM h),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cm FROM h)
SELECT p, CAST(min(v) * {_BINQ_W!r} AS DOUBLE) AS q
FROM cum CROSS JOIN tot
CROSS JOIN (VALUES {", ".join(f"(CAST({p!r} AS DOUBLE))" for p in _QUANT_PS)})
  ps(p)
WHERE cm >= CAST(ceil(p * n) AS BIGINT)
GROUP BY p
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.drift import ks_drift
    from panoptes_spark.sources import tpch_fixtures as _fx

    e = _fx.read_events(spark, sf_dir)
    grp = e.withColumn("grp", F.col("user_id") % 10)
    a = grp.where(F.col("event_type") == "click").select(
        "grp", F.col("value").alias("v")
    )
    b = grp.where(F.col("event_type") == "view").select(
        "grp", F.col("value").alias("v")
    )
    return ks_drift(a, b, ["grp"], "v")


def _o_ks_drift() -> str:
    from panoptes_spark.pipeline.drift import ks_oracle_sql

    return ks_oracle_sql(
        "SELECT user_id % 10 AS grp, value AS v FROM events"
        " WHERE event_type = 'click'",
        "SELECT user_id % 10 AS grp, value AS v FROM events"
        " WHERE event_type = 'view'",
        "grp",
    )


def q_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.layout import morton_code_sql
    from panoptes_spark.sources import tpch_fixtures as _fx

    e = _fx.read_events(spark, sf_dir)
    code = morton_code_sql(
        "cast(user_id as bigint)", "ts_ms div 3600000", "spark"
    )
    return e.select(
        "event_id", F.expr(code).cast("bigint").alias("zorder")
    )


def _o_zorder_codes() -> str:
    from panoptes_spark.pipeline.layout import morton_code_sql

    code = morton_code_sql(
        "CAST(user_id AS BIGINT)", "epoch_ms(ts) // 3600000", "duckdb"
    )
    return f"""
SELECT event_id, CAST({code} AS BIGINT) AS zorder FROM events
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.stats import skew_report
    from panoptes_spark.sources import tpch_fixtures as _fx

    e = _fx.read_events(spark, sf_dir)
    return skew_report(e, ["user_id"], top_n=20)


O_SKEW_REPORT = """
WITH counts AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
tot AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM counts)
SELECT user_id, n_rows, round(n_rows / CAST(total AS DOUBLE), 6) AS share,
       n_keys
FROM counts CROSS JOIN tot
ORDER BY n_rows DESC, user_id ASC LIMIT 20
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.bloom import novel_docs

    docs = fx.read_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 3 != 0)
    # new batch = genuinely novel docs + re-ingested copies of seen ones
    new = docs.where(F.col("doc_id") % 3 == 0).unionByName(
        docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 1))
        .withColumn("doc_id", F.col("doc_id") + 2000000)
    )
    return novel_docs(new, seen, fpp=0.01).select("doc_id")


O_INCREMENTAL_DEDUP = """
WITH fp AS (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
        'g'), '\\s+', ' ', 'g'))) AS f
  FROM documents
),
seen AS (SELECT f FROM fp WHERE doc_id % 3 <> 0),
newb AS (
  SELECT doc_id, f FROM fp WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 2000000, f FROM fp
  WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
)
SELECT n.doc_id FROM newb n ANTI JOIN seen s ON n.f = s.f
"""


_BM25_TERMS = ["hash", "merge", "vector"]
_BM25_K = 50


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.search import bm25_search

    docs = fx.read_table(spark, sf_dir, "documents")
    return bm25_search(docs, _BM25_TERMS, k=_BM25_K)


def _o_bm25_search() -> str:
    from panoptes_spark.pipeline.search import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=_BM25_K)


# hybrid retrieval: probe doc ids double as dense query vectors; small
# ids exist at every SF. Terms verified present in the corpus vocab.
_HYBRID_QUERIES = {
    0: ["hash", "join"],
    7: ["merge", "sort"],
    21: ["vector", "scan"],
}
_HYBRID_K, _HYBRID_LEG_K, _HYBRID_C = 10, 25, 60


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.search import hybrid_search_rrf

    docs = fx.read_table(spark, sf_dir, "documents")
    embs = fx.read_table(spark, sf_dir, "embeddings")
    return hybrid_search_rrf(
        docs, embs, _HYBRID_QUERIES,
        k=_HYBRID_K, leg_k=_HYBRID_LEG_K, c=_HYBRID_C,
    )


def _hybrid_dense_brute_cte() -> str:
    """Dense-leg CTE chain (exact corpus×probe) ending in
    dense(query_id, doc_id, dense_rank)."""
    probes = ", ".join(str(q) for q in sorted(_HYBRID_QUERIES))
    return f"""
dq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN ({probes})),
dc AS (SELECT vec_id AS nbr_id, embedding AS cv FROM embeddings),
ds AS (
  SELECT query_id, nbr_id AS doc_id,
    round({_DOT_DD} / ({_NORM_Q} * {_NORM_C}), 6) AS cosine
  FROM dq CROSS JOIN dc WHERE query_id <> nbr_id
),
dense AS (
  SELECT query_id, doc_id, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT)
    AS dense_rank
  FROM ds QUALIFY dense_rank <= {_HYBRID_LEG_K}
)"""


def _hybrid_dense_ivf_cte() -> str:
    """IVF dense-leg CTE chain — same seed-centroid assignment as
    O_IVF_TOPK (gate-proven), probes restricted to the hybrid query ids."""
    probes = ", ".join(str(q) for q in sorted(_HYBRID_QUERIES))
    return f"""
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
c_assign AS (
  SELECT nbr_id, cv, cell_id FROM (
    SELECT e.vec_id AS nbr_id, e.embedding AS cv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk <= 1
),
q_assign AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
    WHERE e.vec_id IN ({probes})
  ) WHERE rk <= {_IVF_NPROBE}
),
ds AS (
  SELECT DISTINCT q.query_id, c.nbr_id AS doc_id,
    round(list_dot_product(q.qv::DOUBLE[], c.cv::DOUBLE[])
      / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
         * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6)
      AS cosine
  FROM q_assign q JOIN c_assign c USING (cell_id)
  WHERE q.query_id <> c.nbr_id
),
dense AS (
  SELECT query_id, doc_id, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT)
    AS dense_rank
  FROM ds QUALIFY dense_rank <= {_HYBRID_LEG_K}
)"""


def _o_hybrid_fused(dense_cte: str) -> str:
    """Full fused-RRF oracle with a pluggable dense-leg CTE chain (must
    end in dense(query_id, doc_id, dense_rank))."""
    k1, b = 1.2, 0.75
    all_terms = sorted({t for ts in _HYBRID_QUERIES.values() for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qt_vals = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(_HYBRID_QUERIES.items()) for t in ts
    )
    leg_k, k, c = _HYBRID_LEG_K, _HYBRID_K, _HYBRID_C
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')
      AS tk
  FROM documents
),
dlen AS (SELECT doc_id, len(tk) AS dl FROM toks),
stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
  FROM dlen
),
qterms(query_id, term) AS (VALUES {qt_vals}),
hits AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(tk) AS term FROM toks
  ) WHERE term IN ({in_list}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
lex_scored AS (
  SELECT query_id, doc_id,
    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1)
              * tf * ({k1!r} + 1)
              / (tf + {k1!r} * (1 - {b!r} + {b!r} * dl / avgdl))), 6)
      AS score
  FROM hits JOIN qterms USING (term) JOIN dfreq USING (term)
       JOIN dlen USING (doc_id) CROSS JOIN stats
  GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT)
    AS lex_rank
  FROM lex_scored QUALIFY lex_rank <= {leg_k}
),
{dense_cte.strip()},
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(d.dense_rank, 0) AS dense_rank
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
sc AS (
  SELECT *, round(
      CASE WHEN lex_rank > 0
           THEN 1.0::DOUBLE / ({c} + lex_rank) ELSE 0.0::DOUBLE END
    + CASE WHEN dense_rank > 0
           THEN 1.0::DOUBLE / ({c} + dense_rank) ELSE 0.0::DOUBLE END, 9)
    AS rrf_score
  FROM fused
)
SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
  CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INT)
    AS fused_rank
FROM sc QUALIFY fused_rank <= {k}
"""


def _o_hybrid_search() -> str:
    return _o_hybrid_fused(_hybrid_dense_brute_cte())


# ---------------------------------------------------------------------------
# product quantization (round 6): train -> encode -> ADC top-k -> recall
# ---------------------------------------------------------------------------

_PQ_M, _PQ_CODES = 8, 16  # 64-dim embeddings -> 8 subspaces of 8 dims


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes, one row per (vector, subspace) — train+encode verified
    cell-exactly against the DuckDB replay (seed codebooks, integer
    scaled squared-L2 argmin with (dist, code) tie order)."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    cbs = pq.pq_train(emb, m=_PQ_M, n_codes=_PQ_CODES)
    enc = pq.pq_encode(emb, cbs)
    return enc.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    )


def _pq_cb_cte(train_pred: str = "") -> str:
    """Shared CTE chain: seed codebooks + corpus encoding, ending in
    enc(vec_id, subspace, code). ``train_pred`` restricts the SEED rows
    (codebook training) — the encoding always covers the full corpus,
    which is exactly the frozen-codebook append semantics."""
    m, nc = _PQ_M, _PQ_CODES
    wh = f" WHERE {train_pred}" if train_pred else ""
    ds = 64 // m
    sq = (
        "CAST(floor(list_sum(list_transform(range(1, {n}), i -> "
        "((({a})[{off} + i]) - ({b})[i]) * ((({a})[{off} + i]) - ({b})[i])))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    dist = sq.format(
        n=ds + 1, a="e.embedding::DOUBLE[]", off=f"c.subspace*{ds}", b="c.cv"
    )
    return f"""
seeds AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{wh}
  ORDER BY vec_id LIMIT {nc}
),
subs AS (SELECT CAST(unnest(range({m})) AS INT) AS subspace),
cb AS (
  SELECT subspace,
         CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1
              AS INT) AS code_id,
         v[subspace*{ds}+1 : subspace*{ds}+{ds}] AS cv
  FROM seeds CROSS JOIN subs
),
dv AS (
  SELECT e.vec_id, c.subspace, c.code_id, {dist} AS dint
  FROM embeddings e CROSS JOIN cb c
),
enc AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code_id AS code,
      row_number() OVER (PARTITION BY vec_id, subspace
                         ORDER BY dint ASC, code_id ASC) AS rk
    FROM dv
  ) WHERE rk = 1
)"""


O_PQ_ENCODE = f"""
WITH {_pq_cb_cte().strip()}
SELECT vec_id, subspace, code FROM enc
"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ asymmetric-distance top-k vs the exact cosine
    baseline (unit-norm embeddings: L2 and cosine rank identically, so
    this measures pure quantization loss) — the quality report that
    accompanies any PQ deployment."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    cbs = pq.pq_train(emb, m=_PQ_M, n_codes=_PQ_CODES)
    enc = pq.pq_encode(emb, cbs)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    pqk = pq.pq_adc_topk(enc, queries, cbs, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    both = bf.join(pqk, ["query_id", "nbr_id"], "left_semi")
    return (
        both.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select(
            "query_id",
            "n_match",
            F.round(F.col("n_match") / F.lit(float(_TOPK)), 6).alias("recall"),
        )
    )


def _o_pq_recall() -> str:
    ds = 64 // _PQ_M
    qsq = (
        "CAST(floor(list_sum(list_transform(range(1, {n}), i -> "
        "((({a})[{off} + i]) - ({b})[i]) * ((({a})[{off} + i]) - ({b})[i])))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    qdist = qsq.format(
        n=ds + 1, a="q.embedding::DOUBLE[]", off=f"c.subspace*{ds}", b="c.cv"
    )
    return f"""
WITH {_pq_cb_cte().strip()},
qt AS (
  SELECT q.vec_id AS query_id, c.subspace, c.code_id, {qdist} AS dint
  FROM embeddings q CROSS JOIN cb c
  WHERE q.vec_id % 25 = 0
),
ad AS (
  SELECT qt.query_id, en.vec_id AS nbr_id, CAST(sum(qt.dint) AS BIGINT)
    AS adist
  FROM enc en JOIN qt ON en.subspace = qt.subspace AND en.code = qt.code_id
  WHERE en.vec_id <> qt.query_id
  GROUP BY qt.query_id, en.vec_id
),
pqk AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adist ASC, nbr_id ASC) AS rk
    FROM ad
  ) WHERE rk <= {_TOPK}
),
bf AS ({O_ANN_TOPK}),
m AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN pqk ON bf.query_id = pqk.query_id AND bf.nbr_id = pqk.nbr_id
)
SELECT query_id, count(*) AS n_match,
       round(count(*) / CAST({_TOPK} AS DOUBLE), 6) AS recall
FROM m GROUP BY query_id
"""


_PQ_ITERS = 1


def q_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-vs-TRAINED PQ recall side by side (r7 directive 3): one
    Lloyd round of per-subspace k-means (``pq_train_kmeans``) over the
    seed codebooks, both recalls as columns of the same gate so the
    improvement is part of the verified canon — the DuckDB oracle
    replays the whole training round (decimal-exact codeword means),
    re-encodes, and re-ranks."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    counts = []
    for label, cbs in (
        ("seed", pq.pq_train(emb, m=_PQ_M, n_codes=_PQ_CODES)),
        (
            "trained",
            pq.pq_train_kmeans(
                emb, m=_PQ_M, n_codes=_PQ_CODES, iters=_PQ_ITERS
            ),
        ),
    ):
        enc = pq.pq_encode(emb, cbs)
        topk = pq.pq_adc_topk(enc, queries, cbs, k=_TOPK).select(
            "query_id", "nbr_id"
        )
        counts.append(
            bf.join(topk, ["query_id", "nbr_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(f"__n_{label}"))
        )
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return (
        spine.join(counts[0], "query_id", "left")
        .join(counts[1], "query_id", "left")
        .select(
            "query_id",
            F.coalesce("__n_seed", F.lit(0)).alias("n_match_seed"),
            F.round(
                F.coalesce("__n_seed", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_seed"),
            F.coalesce("__n_trained", F.lit(0)).alias("n_match_trained"),
            F.round(
                F.coalesce("__n_trained", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_trained"),
        )
    )


def _o_pq_recall_trained() -> str:
    ds = 64 // _PQ_M
    sq = (
        "CAST(floor(list_sum(list_transform(range(1, {n}), i -> "
        "((({a})[{off} + i]) - ({b})[i]) * ((({a})[{off} + i]) - ({b})[i])))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    dist2 = sq.format(
        n=ds + 1, a="e.embedding::DOUBLE[]", off=f"c.subspace*{ds}", b="c.cv"
    )
    qdist = sq.format(
        n=ds + 1, a="q.embedding::DOUBLE[]", off=f"c.subspace*{ds}", b="c.cv"
    )
    return f"""
WITH {_pq_cb_cte().strip()},
cm AS (
  SELECT en.subspace, en.code AS code_id, CAST(i AS INT) AS pos,
    round(CAST(sum(CAST(e.embedding[en.subspace*{ds} + i + 1]::DOUBLE
                        AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS mval
  FROM enc en JOIN embeddings e ON e.vec_id = en.vec_id, range({ds}) t(i)
  GROUP BY 1, 2, 3
),
cb2 AS (
  SELECT c.subspace, c.code_id, COALESCE(nn.cv, c.cv) AS cv
  FROM cb c LEFT JOIN (
    SELECT subspace, code_id, list(mval ORDER BY pos) AS cv
    FROM cm GROUP BY 1, 2
  ) nn USING (subspace, code_id)
),
dv2 AS (
  SELECT e.vec_id, c.subspace, c.code_id, {dist2} AS dint
  FROM embeddings e CROSS JOIN cb2 c
),
enc2 AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code_id AS code,
      row_number() OVER (PARTITION BY vec_id, subspace
                         ORDER BY dint ASC, code_id ASC) AS rk
    FROM dv2
  ) WHERE rk = 1
),
qt1 AS (
  SELECT q.vec_id AS query_id, c.subspace, c.code_id, {qdist} AS dint
  FROM embeddings q CROSS JOIN cb c WHERE q.vec_id % 25 = 0
),
qt2 AS (
  SELECT q.vec_id AS query_id, c.subspace, c.code_id, {qdist} AS dint
  FROM embeddings q CROSS JOIN cb2 c WHERE q.vec_id % 25 = 0
),
ad1 AS (
  SELECT qt1.query_id, en.vec_id AS nbr_id, CAST(sum(qt1.dint) AS BIGINT)
    AS adist
  FROM enc en JOIN qt1 ON en.subspace = qt1.subspace AND en.code = qt1.code_id
  WHERE en.vec_id <> qt1.query_id
  GROUP BY qt1.query_id, en.vec_id
),
ad2 AS (
  SELECT qt2.query_id, en.vec_id AS nbr_id, CAST(sum(qt2.dint) AS BIGINT)
    AS adist
  FROM enc2 en JOIN qt2 ON en.subspace = qt2.subspace AND en.code = qt2.code_id
  WHERE en.vec_id <> qt2.query_id
  GROUP BY qt2.query_id, en.vec_id
),
pqk1 AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adist ASC, nbr_id ASC) AS rk
    FROM ad1
  ) WHERE rk <= {_TOPK}
),
pqk2 AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adist ASC, nbr_id ASC) AS rk
    FROM ad2
  ) WHERE rk <= {_TOPK}
),
bf AS ({O_ANN_TOPK}),
m1 AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN pqk1 ON bf.query_id = pqk1.query_id AND bf.nbr_id = pqk1.nbr_id
),
m2 AS (
  SELECT bf.query_id, bf.nbr_id FROM bf
  SEMI JOIN pqk2 ON bf.query_id = pqk2.query_id AND bf.nbr_id = pqk2.nbr_id
),
c1 AS (SELECT query_id, count(*) AS n FROM m1 GROUP BY query_id),
c2 AS (SELECT query_id, count(*) AS n FROM m2 GROUP BY query_id)
SELECT q.query_id,
  CAST(COALESCE(c1.n, 0) AS BIGINT) AS n_match_seed,
  round(COALESCE(c1.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_seed,
  CAST(COALESCE(c2.n, 0) AS BIGINT) AS n_match_trained,
  round(COALESCE(c2.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_trained
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 25 = 0) q
LEFT JOIN c1 USING (query_id) LEFT JOIN c2 USING (query_id)
"""


def q_hybrid_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused-output recall of the IVF dense leg vs the brute-leg twin —
    the ``ann_recall`` pattern applied to the whole hybrid pipeline (r5
    verdict #1): per query, |fused_ivf ∩ fused_brute| / k. This is the
    quality gate that makes ``dense_leg="ivf"`` a safe 100 TB default."""
    from panoptes_spark.pipeline.search import (
        bm25_multi_query,
        hybrid_search_rrf,
    )

    docs = fx.read_table(spark, sf_dir, "documents")
    embs = fx.read_table(spark, sf_dir, "embeddings")
    kw = dict(k=_HYBRID_K, leg_k=_HYBRID_LEG_K, c=_HYBRID_C)
    # the lexical leg is identical in both fused variants: one plan
    # serves both, unpersisted (SCALE.md, "Build-time persists")
    lex = bm25_multi_query(docs, _HYBRID_QUERIES, leg_k=_HYBRID_LEG_K)
    brute = hybrid_search_rrf(
        docs, embs, _HYBRID_QUERIES, lex_leg=lex, **kw
    ).select("query_id", "doc_id")
    ivf = hybrid_search_rrf(
        docs, embs, _HYBRID_QUERIES, lex_leg=lex,
        dense_leg="ivf", n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, **kw,
    ).select("query_id", "doc_id")
    both = brute.join(ivf, ["query_id", "doc_id"], "left_semi")
    return (
        both.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select(
            "query_id",
            "n_match",
            F.round(
                F.col("n_match") / F.lit(float(_HYBRID_K)), 6
            ).alias("recall"),
        )
    )


def _o_hybrid_search_ivf() -> str:
    return f"""
WITH bf AS ({_o_hybrid_fused(_hybrid_dense_brute_cte())}),
iv AS ({_o_hybrid_fused(_hybrid_dense_ivf_cte())}),
m AS (
  SELECT bf.query_id, bf.doc_id FROM bf
  SEMI JOIN iv ON bf.query_id = iv.query_id AND bf.doc_id = iv.doc_id
)
SELECT query_id, count(*) AS n_match,
       round(count(*) / CAST({_HYBRID_K} AS DOUBLE), 6) AS recall
FROM m GROUP BY query_id
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-k (cell pruning × integer ADC) — the full
    output hash-checked against the DuckDB replay, not just a recall
    summary: integer distances make the whole ranking engine-exact."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(emb, n_cells=_IVF_CELLS)
    cbs = pq.pq_train(emb, m=_PQ_M, n_codes=_PQ_CODES)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return pq.ivfpq_topk(
        emb, queries, cents, cbs, k=_TOPK, nprobe=_IVF_NPROBE
    )


def _o_ivfpq_topk(train_pred: str = "", member_pred: str = "") -> str:
    """``member_pred`` (r11): filter over the corpus side of the pair
    relation (write it against ``ca.nbr_id``) — the metadata-filtered
    search twin: members drop BEFORE scoring, exactly where
    ``IvfPqIndex.topk(filter=...)`` applies it."""
    ds = 64 // _PQ_M
    wh = f" WHERE {train_pred}" if train_pred else ""
    mw = f" AND ({member_pred})" if member_pred else ""
    qsq = (
        "CAST(floor(list_sum(list_transform(range(1, {n}), i -> "
        "((({a})[{off} + i]) - ({b})[i]) * ((({a})[{off} + i]) - ({b})[i])))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    qdist = qsq.format(
        n=ds + 1, a="q.embedding::DOUBLE[]", off=f"c.subspace*{ds}", b="c.cv"
    )
    return f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM embeddings{wh} ORDER BY vec_id LIMIT {_IVF_CELLS}
),
c_assign AS (
  SELECT nbr_id, cell_id FROM (
    SELECT e.vec_id AS nbr_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk <= 1
),
q_assign AS (
  SELECT query_id, cell_id FROM (
    SELECT e.vec_id AS query_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_CELL.replace('v::', 'e.embedding::')} DESC, c.cell_id ASC) AS rk
    FROM embeddings e CROSS JOIN cents c
    WHERE e.vec_id % 25 = 0
  ) WHERE rk <= {_IVF_NPROBE}
),
{_pq_cb_cte(train_pred).strip()},
qt AS (
  SELECT q.vec_id AS query_id, c.subspace, c.code_id, {qdist} AS dint
  FROM embeddings q CROSS JOIN cb c
  WHERE q.vec_id % 25 = 0
),
pairs AS (
  SELECT q.query_id, ca.nbr_id
  FROM q_assign q JOIN c_assign ca USING (cell_id)
  WHERE q.query_id <> ca.nbr_id{mw}
),
ad AS (
  SELECT p.query_id, p.nbr_id, CAST(sum(qt.dint) AS BIGINT) AS adist
  FROM pairs p
  JOIN enc en ON en.vec_id = p.nbr_id
  JOIN qt ON qt.query_id = p.query_id AND qt.subspace = en.subspace
         AND qt.code_id = en.code
  GROUP BY p.query_id, p.nbr_id
)
SELECT query_id, nbr_id, adist, rank FROM (
  SELECT query_id, nbr_id, adist,
    CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, nbr_id ASC) AS INT) AS rank
  FROM ad
) WHERE rank <= {_TOPK}
"""


def _ann_index_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the seed-trained (train_iters=0) index over
    the whole corpus — shared by the top-k and filtered top-k gates."""
    from .ann_index import build_ivfpq_index

    def build(path):
        emb = fx.read_table(spark, sf_dir, "embeddings")
        build_ivfpq_index(
            emb, path, m=_PQ_M, n_codes=_PQ_CODES,
            n_cells=_IVF_CELLS, train_iters=0,
        )
        return path

    return _artifact(spark, "ann_idx", sf_dir, "embeddings", build)


def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index query path (r8 — VERDICT r7 next-round #4): build
    the IVF-PQ index at a temp path, REREAD it through a fresh handle,
    and run the probe batch. ``train_iters=0`` keeps the deterministic
    seed cells/codebooks so the DuckDB oracle is exactly
    ``_o_ivfpq_topk`` — the artifact round-trip (write → manifest →
    partition-pruned reread → cogrouped ADC) is what this gate puts in
    front of the driver, not new math."""
    from .ann_index import IvfPqIndex

    # fresh handle: reread from disk
    idx = IvfPqIndex(spark, _ann_index_artifact(spark, sf_dir))
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return idx.topk(queries, k=_TOPK, nprobe=_IVF_NPROBE)


_ANN_APPEND_PRED = "vec_id % 4 > 0"


def _ann_append_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the build(3/4, train_iters=0)+append(1/4)
    index — shared by the append gate and the compaction gate."""
    from .ann_index import build_ivfpq_index

    def build(path):
        emb = fx.read_table(spark, sf_dir, "embeddings")
        idx = build_ivfpq_index(
            emb.where(_ANN_APPEND_PRED), path, m=_PQ_M,
            n_codes=_PQ_CODES, n_cells=_IVF_CELLS, train_iters=0,
        )
        idx.append(emb.where(f"NOT ({_ANN_APPEND_PRED})"))
        return path

    return _artifact(spark, "ann_append", sf_dir, "embeddings", build)


def q_ann_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-codebook append as a driver gate (r9): build the index
    over 3/4 of the corpus (seed cells/codebooks, train_iters=0),
    APPEND the rest through the manifest-committed segment path, reread
    through a fresh handle, and query. The oracle is the ivfpq replay
    with TRAINING restricted to the build subset while the encoding and
    ranking cover the full corpus — exactly FAISS `add` semantics, now
    oracle-recorded instead of pytest-only."""
    from .ann_index import IvfPqIndex

    path = _ann_append_artifact(spark, sf_dir)
    idx = IvfPqIndex(spark, path)  # fresh handle: reread from disk
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return idx.topk(queries, k=_TOPK, nprobe=_IVF_NPROBE)


def q_ann_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ANN-index sink's ACTUAL multi-commit chain as a
    driver gate (r10, the ``dedup_stream_pairs`` discipline applied to
    the ANN side): build the index over 3/4 of the corpus, fold the
    remaining quarter through ``AnnIndexSink.__call__`` in three
    deterministic micro-batches (manifest watermark + segment-per-batch
    commit path), reread through a fresh handle, and rank the SAME
    probes against the SAME combined-corpus oracle as the append gate —
    the equality FAISS ``add`` semantics guarantee."""
    from panoptes_spark.streaming.ann_stream import AnnIndexSink

    from .ann_index import IvfPqIndex, build_ivfpq_index

    def build(path):
        emb = fx.read_table(spark, sf_dir, "embeddings")
        build_ivfpq_index(
            emb.where(_ANN_APPEND_PRED), path, m=_PQ_M,
            n_codes=_PQ_CODES, n_cells=_IVF_CELLS, train_iters=0,
        )
        sink = AnnIndexSink(path)
        rest = emb.where(f"NOT ({_ANN_APPEND_PRED})")
        for i in range(3):
            part = F.pmod(
                F.floor(F.col("vec_id") / 4).cast("bigint"), F.lit(3)
            )
            sink(rest.where(part == i), i)
        return path

    path = _artifact(spark, "ann_stream", sf_dir, "embeddings", build)
    idx = IvfPqIndex(spark, path)  # fresh handle: reread from disk
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return idx.topk(queries, k=_TOPK, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# metadata-filtered ANN top-k (r11)
# ---------------------------------------------------------------------------

#: two selectivities: a broad filter and a sparse one that stresses the
#: "filter before scoring, never after truncation" property (a
#: post-truncation filter would return < k rows and different ranks)
_FILTER_SELS = (
    ("half", "nbr_id % 2 = 0"),
    ("sparse", "nbr_id % 20 = 0"),
)


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search over the persisted IVF-PQ index (r10
    verdict #3 — "top-k WHERE lang='en' AND split='train'"): the
    predicate lands on the partition-pruned cell-member scan BEFORE the
    cogrouped ADC scoring (FAISS IDSelector semantics), so ranks are
    the true top-k of the filtered corpus. Two selectivities (50% and
    5%) in one canon; the oracle replays the full ivfpq ranking with
    the member predicate applied at the same pre-scoring point. The
    plan lock (``test_filtered_topk_plan``) asserts the filter sits
    BELOW the cogroup node; ``test_filtered_topk_ids_equivalence``
    proves the filter_ids (external metadata join) path returns the
    identical ranking."""
    from .ann_index import IvfPqIndex

    # the build-once seed-trained artifact of ann_index_topk
    idx = IvfPqIndex(spark, _ann_index_artifact(spark, sf_dir))
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    parts = []
    for sel, pred in _FILTER_SELS:
        parts.append(
            idx.topk(queries, k=_TOPK, nprobe=_IVF_NPROBE, filter=pred)
            .select(
                F.lit(sel).alias("sel"),
                "query_id",
                "nbr_id",
                "adist",
                "rank",
            )
        )
    return parts[0].unionByName(parts[1])


def _o_ann_filtered_topk() -> str:
    legs = []
    for sel, pred in _FILTER_SELS:
        body = _o_ivfpq_topk(member_pred=f"ca.{pred}").strip()
        legs.append(
            f"SELECT '{sel}' AS sel, t.* FROM (\n{body}\n) t"
        )
    return "\nUNION ALL\n".join(legs)


# ---------------------------------------------------------------------------
# ANN generation lifecycle: drift-triggered retrain + atomic swap (r11)
# ---------------------------------------------------------------------------

#: the drifted quarter of the corpus (affine-shifted in both engines)
_RETRAIN_DRIFT_PRED = "vec_id % 4 = 0"
#: frozen variant trains on the UN-drifted 3/4 (identical pre/post drift)
_RETRAIN_TRAIN_PRED = "vec_id % 4 > 0"
_RETRAIN_ITERS = 1


def _drifted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with a deterministic distribution drift on one quarter
    (x -> 2x + 1 per component, double arithmetic — exact in both
    engines); the rest cast to double unchanged."""
    emb = fx.read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.when(
            F.expr(_RETRAIN_DRIFT_PRED),
            F.expr(
                "transform(embedding, x -> cast(x as double) * 2.0d + 1.0d)"
            ),
        )
        .otherwise(F.expr("transform(embedding, x -> cast(x as double))"))
        .alias("embedding"),
    )


def q_ann_retrain_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IvfPqIndex.retrain_swap`` as a driver gate (r10 verdict #1):
    one quarter of the corpus drifts (affine shift), the index built +
    Lloyd-trained on the pre-drift 3/4 keeps FROZEN codebooks through
    the append (FAISS ``add`` semantics), then a COPY of that artifact
    retrains generation 2 on the full drifted corpus and atomically
    swaps. The gate emits per-query recall@k of BOTH variants against
    the exact brute-force baseline; the DuckDB oracle replays the two
    trained IVF-PQ rankings (seed cells -> one Lloyd round; seed
    codebooks -> one per-subspace k-means round; integer ADC) and the
    brute force over the same drifted corpus. The retrained generation
    ranks identically to a fresh build over the drifted corpus
    (``test_retrain_swap_equals_fresh_build``), and its recall beats
    frozen (``test_retrain_swap_improves_recall``)."""
    import os as _os
    import shutil as _shutil

    from .ann_index import IvfPqIndex, build_ivfpq_index

    def build(base):
        path_f = _os.path.join(base, "frozen")
        path_r = _os.path.join(base, "retrained")
        corpus = _drifted_embeddings(spark, sf_dir)
        build_ivfpq_index(
            corpus.where(_RETRAIN_TRAIN_PRED), path_f, m=_PQ_M,
            n_codes=_PQ_CODES, n_cells=_IVF_CELLS,
            train_iters=_RETRAIN_ITERS,
        )
        IvfPqIndex(spark, path_f).append(corpus.where(_RETRAIN_DRIFT_PRED))
        # temp-name + rename completion marker (the compacted-gate
        # discipline) so a torn copy is never trusted
        tmp = path_r + ".staging"
        _shutil.copytree(path_f, tmp)
        _os.rename(tmp, path_r)
        IvfPqIndex(spark, path_r).retrain_swap(
            corpus, train_iters=_RETRAIN_ITERS, if_generation=0
        )
        return path_f, path_r

    path_f, path_r = _artifact(
        spark, "ann_retrain", sf_dir, "embeddings", build
    )
    corpus = _drifted_embeddings(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") % 25 == 0)
    bf = similarity.cosine_topk_bruteforce(corpus, queries, k=_TOPK).select(
        "query_id", "nbr_id"
    )
    counts = []
    for label, path in (("frozen", path_f), ("retrained", path_r)):
        tk = (
            IvfPqIndex(spark, path)
            .topk(queries, k=_TOPK, nprobe=_IVF_NPROBE)
            .select("query_id", "nbr_id")
        )
        counts.append(
            bf.join(tk, ["query_id", "nbr_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(f"__n_{label}"))
        )
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return (
        spine.join(counts[0], "query_id", "left")
        .join(counts[1], "query_id", "left")
        .select(
            "query_id",
            F.coalesce("__n_frozen", F.lit(0)).alias("n_match_frozen"),
            F.round(
                F.coalesce("__n_frozen", F.lit(0)) / F.lit(float(_TOPK)), 6
            ).alias("recall_frozen"),
            F.coalesce("__n_retrained", F.lit(0)).alias("n_match_retrained"),
            F.round(
                F.coalesce("__n_retrained", F.lit(0)) / F.lit(float(_TOPK)),
                6,
            ).alias("recall_retrained"),
        )
    )


def _ivfpq_trained_ctes(p: str, train_pred: str) -> str:
    """Trained IVF-PQ ranking CTE chain over a ``corpus(vec_id,
    embedding DOUBLE[])`` relation, ending in ``{p}topk(query_id,
    nbr_id)``: seed cells + ONE Lloyd round (``kmeans_refine``'s
    decimal-exact per-(cell,pos) means), seed PQ codebooks + ONE
    per-subspace k-means round (``pq_train_kmeans``), both trained on
    the ``train_pred`` rows only; full-corpus encode and the tie-safe
    integer-ADC ranking. Mirrors ``_o_ivfpq_topk``/
    ``_o_pq_recall_trained`` with the corpus and the training subset
    parameterized (r11 retrain gate needs two variants side by side)."""
    m, nc, cells, ds = _PQ_M, _PQ_CODES, _IVF_CELLS, 64 // _PQ_M
    wh = f" WHERE {train_pred}" if train_pred else ""
    wh_e = f" WHERE e.{train_pred}" if train_pred else ""
    cos = (
        "round(list_dot_product(e.embedding, c.centroid)"
        " / (sqrt(list_dot_product(e.embedding, e.embedding))"
        "    * sqrt(list_dot_product(c.centroid, c.centroid))), 6)"
    )

    def sq(a, off, b):
        return (
            f"CAST(floor(list_sum(list_transform(range(1, {ds + 1}),"
            f" i -> ((({a})[{off} + i]) - ({b})[i])"
            f" * ((({a})[{off} + i]) - ({b})[i])))"
            " * 1000000 + 0.5) AS BIGINT)"
        )

    dist_e = sq("e.embedding", f"c.subspace*{ds}", "c.cv")
    dist_q = sq("q.embedding", f"c.subspace*{ds}", "c.cv")
    return f"""
{p}cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
         embedding AS centroid
  FROM corpus{wh} ORDER BY vec_id LIMIT {cells}
),
{p}ka AS (
  SELECT vec_id, cv, cell_id FROM (
    SELECT e.vec_id, e.embedding AS cv, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos} DESC, c.cell_id ASC) AS rk
    FROM corpus e CROSS JOIN {p}cents0 c{wh_e}
  ) WHERE rk = 1
),
{p}km AS (
  SELECT cell_id, CAST(i AS INT) AS pos,
    round(CAST(sum(CAST(cv[i+1] AS DECIMAL(30,12))) AS DOUBLE)
          / count(*), 6) AS mv
  FROM {p}ka, range(64) t(i) GROUP BY 1, 2
),
{p}kn AS (SELECT cell_id, list(mv ORDER BY pos) AS centroid
          FROM {p}km GROUP BY cell_id),
{p}cents1 AS (
  SELECT c.cell_id, COALESCE(nn.centroid, c.centroid) AS centroid
  FROM {p}cents0 c LEFT JOIN {p}kn nn USING (cell_id)
),
{p}seeds AS (
  SELECT vec_id, embedding AS v FROM corpus{wh}
  ORDER BY vec_id LIMIT {nc}
),
{p}cb0 AS (
  SELECT subspace,
         CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1
              AS INT) AS code_id,
         v[subspace*{ds}+1 : subspace*{ds}+{ds}] AS cv
  FROM {p}seeds CROSS JOIN
       (SELECT CAST(unnest(range({m})) AS INT) AS subspace) s
),
{p}dv0 AS (
  SELECT e.vec_id, c.subspace, c.code_id, {dist_e} AS dint
  FROM corpus e CROSS JOIN {p}cb0 c{wh_e}
),
{p}enc0 AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code_id AS code,
      row_number() OVER (PARTITION BY vec_id, subspace
                         ORDER BY dint ASC, code_id ASC) AS rk
    FROM {p}dv0
  ) WHERE rk = 1
),
{p}cm AS (
  SELECT en.subspace, en.code AS code_id, CAST(i AS INT) AS pos,
    round(CAST(sum(CAST(e.embedding[en.subspace*{ds} + i + 1]
                        AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS mval
  FROM {p}enc0 en JOIN corpus e ON e.vec_id = en.vec_id, range({ds}) t(i)
  GROUP BY 1, 2, 3
),
{p}cb AS (
  SELECT c.subspace, c.code_id, COALESCE(nn.cv, c.cv) AS cv
  FROM {p}cb0 c LEFT JOIN (
    SELECT subspace, code_id, list(mval ORDER BY pos) AS cv
    FROM {p}cm GROUP BY 1, 2
  ) nn USING (subspace, code_id)
),
{p}dv AS (
  SELECT e.vec_id, c.subspace, c.code_id, {dist_e} AS dint
  FROM corpus e CROSS JOIN {p}cb c
),
{p}enc AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code_id AS code,
      row_number() OVER (PARTITION BY vec_id, subspace
                         ORDER BY dint ASC, code_id ASC) AS rk
    FROM {p}dv
  ) WHERE rk = 1
),
{p}c_assign AS (
  SELECT nbr_id, cell_id FROM (
    SELECT e.vec_id AS nbr_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos} DESC, c.cell_id ASC) AS rk
    FROM corpus e CROSS JOIN {p}cents1 c
  ) WHERE rk <= 1
),
{p}q_assign AS (
  SELECT query_id, cell_id FROM (
    SELECT e.vec_id AS query_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos} DESC, c.cell_id ASC) AS rk
    FROM corpus e CROSS JOIN {p}cents1 c
    WHERE e.vec_id % 25 = 0
  ) WHERE rk <= {_IVF_NPROBE}
),
{p}qt AS (
  SELECT q.vec_id AS query_id, c.subspace, c.code_id, {dist_q} AS dint
  FROM corpus q CROSS JOIN {p}cb c WHERE q.vec_id % 25 = 0
),
{p}pairs AS (
  SELECT q.query_id, ca.nbr_id
  FROM {p}q_assign q JOIN {p}c_assign ca USING (cell_id)
  WHERE q.query_id <> ca.nbr_id
),
{p}ad AS (
  SELECT pr.query_id, pr.nbr_id, CAST(sum(qt.dint) AS BIGINT) AS adist
  FROM {p}pairs pr
  JOIN {p}enc en ON en.vec_id = pr.nbr_id
  JOIN {p}qt qt ON qt.query_id = pr.query_id AND qt.subspace = en.subspace
               AND qt.code_id = en.code
  GROUP BY pr.query_id, pr.nbr_id
),
{p}topk AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adist ASC, nbr_id ASC) AS rank
    FROM {p}ad
  ) WHERE rank <= {_TOPK}
)"""


def _o_ann_retrain_swap() -> str:
    cosq = (
        "round(list_dot_product(q.embedding, e.embedding)"
        " / (sqrt(list_dot_product(q.embedding, q.embedding))"
        "    * sqrt(list_dot_product(e.embedding, e.embedding))), 6)"
    )
    return f"""
WITH corpus AS (
  SELECT vec_id,
    CASE WHEN {_RETRAIN_DRIFT_PRED}
      THEN list_transform(embedding::DOUBLE[], x -> x * 2.0 + 1.0)
      ELSE embedding::DOUBLE[] END AS embedding
  FROM embeddings
),
{_ivfpq_trained_ctes('f_', _RETRAIN_TRAIN_PRED).strip()},
{_ivfpq_trained_ctes('r_', '').strip()},
bf0 AS (
  SELECT q.vec_id AS query_id, e.vec_id AS nbr_id, {cosq} AS cosine
  FROM corpus q JOIN corpus e ON e.vec_id <> q.vec_id
  WHERE q.vec_id % 25 = 0
),
bf AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, nbr_id) AS rk
    FROM bf0
  ) WHERE rk <= {_TOPK}
),
fm AS (
  SELECT query_id, count(*) AS n FROM (
    SELECT bf.query_id FROM bf
    SEMI JOIN f_topk t ON bf.query_id = t.query_id AND bf.nbr_id = t.nbr_id
  ) GROUP BY 1
),
rm AS (
  SELECT query_id, count(*) AS n FROM (
    SELECT bf.query_id FROM bf
    SEMI JOIN r_topk t ON bf.query_id = t.query_id AND bf.nbr_id = t.nbr_id
  ) GROUP BY 1
),
spine AS (SELECT vec_id AS query_id FROM corpus WHERE vec_id % 25 = 0)
SELECT s.query_id,
  CAST(COALESCE(fm.n, 0) AS BIGINT) AS n_match_frozen,
  round(COALESCE(fm.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_frozen,
  CAST(COALESCE(rm.n, 0) AS BIGINT) AS n_match_retrained,
  round(COALESCE(rm.n, 0) / CAST({_TOPK} AS DOUBLE), 6) AS recall_retrained
FROM spine s
LEFT JOIN fm USING (query_id)
LEFT JOIN rm USING (query_id)
"""


def q_ann_index_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IvfPqIndex.compact() as a driver gate (r10): COPY the committed
    build+append artifact, merge its segments into one through the
    atomic-manifest compaction path, reread through a fresh handle, and
    rank the SAME probes against the SAME oracle as the append gate —
    compaction must be invisible to every query answer."""
    import os as _os
    import shutil as _shutil

    from .ann_index import IvfPqIndex

    src = _ann_append_artifact(spark, sf_dir)

    def build():
        path = src + "_cmp"
        # temp-name + os.rename completion marker: a copytree crash
        # after MANIFEST.json but before the segment dirs would
        # otherwise be trusted as a complete copy (r10 ADVICE)
        _shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".staging"
        _shutil.rmtree(tmp, ignore_errors=True)
        _shutil.copytree(src, tmp)
        _os.rename(tmp, path)
        IvfPqIndex(spark, path).compact()
        return path

    source = _os.path.join(sf_dir, "embeddings.parquet")
    path = memo.cached(
        spark, ("ann_append_compacted", sf_dir), [source], build
    )
    idx = IvfPqIndex(spark, path)  # fresh handle: reread from disk
    assert len(idx.segments()) == 1, "compaction left multiple segments"
    emb = fx.read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return idx.topk(queries, k=_TOPK, nprobe=_IVF_NPROBE)


_CHUNK_MAX, _CHUNK_OVERLAP = 40, 8  # small window so sf docs multi-chunk


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.text import chunk_documents

    docs = fx.read_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP
    )


_CHUNK_STRIDE = _CHUNK_MAX - _CHUNK_OVERLAP

O_CHUNK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
    greatest(1, (len(toks) - {_CHUNK_OVERLAP} + {_CHUNK_STRIDE - 1})
                // {_CHUNK_STRIDE}) AS n_chunks
  FROM t
),
ex AS (
  SELECT doc_id, toks, unnest(range(n_chunks)) AS i FROM c
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
  array_to_string(
    toks[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_MAX}], ' '
  ) AS chunk_text,
  CAST(len(toks[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_MAX}]) AS INT)
    AS n_chunk_tokens
FROM ex
"""


# ---------------------------------------------------------------------------
# intra-document repetition features (Gopher/C4-style quality rules)
# ---------------------------------------------------------------------------


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.text import add_repetition_features

    docs = fx.read_table(spark, sf_dir, "documents")
    return add_repetition_features(docs).select(
        "doc_id", "dup_word_frac", "dup_2gram_frac", "top_word_frac"
    )


O_TEXT_REPETITION = """
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
  CASE WHEN length(ws) = 0 THEN 0.0 ELSE
    1 - CAST(length(list_distinct(ws)) AS DOUBLE) / length(ws) END
    AS dup_word_frac,
  CASE WHEN length(ws) < 2 THEN 0.0 ELSE
    1 - CAST(length(list_distinct(list_transform(range(1, length(ws)),
          i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE) / (length(ws) - 1) END
    AS dup_2gram_frac,
  CASE WHEN length(ws) = 0 THEN 0.0 ELSE
    CAST(list_reduce(list_prepend(0,
           list_transform(list_distinct(ws),
             d -> length(list_filter(ws, x -> x = d)))),
         (m, x) -> greatest(m, x)) AS DOUBLE) / length(ws) END
    AS top_word_frac
FROM w
"""


# ---------------------------------------------------------------------------
# document quality filter (C4/Gopher rules over quality+repetition feats)
# ---------------------------------------------------------------------------


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.text import filter_quality

    docs = fx.read_table(spark, sf_dir, "documents")
    return filter_quality(docs).select("doc_id", "keep", "reject_reason")


def _o_quality_filter() -> str:
    # reuse the two already-verified oracle bodies as CTEs; precedence
    # mirrors text.QUALITY_FILTER_RULES
    from panoptes_spark.pipeline.text import QUALITY_FILTER_RULES

    case = " ".join(
        f"WHEN {cond} THEN '{name}'" for name, cond in QUALITY_FILTER_RULES
    )
    return f"""
WITH q AS ({O_TEXT_FEATURES}),
r AS ({O_TEXT_REPETITION}),
j AS (SELECT q.*, r.dup_word_frac, r.dup_2gram_frac, r.top_word_frac
      FROM q JOIN r USING (doc_id))
SELECT doc_id,
       (CASE {case} ELSE NULL END) IS NULL AS keep,
       CASE {case} ELSE NULL END AS reject_reason
FROM j
"""


# ---------------------------------------------------------------------------
# corpus statistics report (exact percentiles per group)
# ---------------------------------------------------------------------------


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    return text.corpus_stats(docs, "lang")


O_CORPUS_STATS = """
WITH t AS (
  SELECT lang, len(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       round(quantile_cont(tok, 0.5), 6) AS p50_tokens,
       round(quantile_cont(tok, 0.9), 6) AS p90_tokens,
       round(quantile_cont(tok, 0.99), 6) AS p99_tokens
FROM t GROUP BY lang
"""


# ---------------------------------------------------------------------------
# per-group diversity cap (top-k by quality per domain/source)
# ---------------------------------------------------------------------------

_CAP_K = 50


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.read_table(spark, sf_dir, "documents")
    scored = text.add_quality_features(docs)
    return text.cap_per_group(scored, "lang", _CAP_K).select("doc_id", "lang")


def _o_cap_per_group() -> str:
    return f"""
WITH q AS ({O_TEXT_FEATURES}),
j AS (SELECT d.doc_id, d.lang, q.quality_score
      FROM documents d JOIN q USING (doc_id)),
r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY quality_score DESC, doc_id ASC) AS rk
  FROM j
)
SELECT doc_id, lang FROM r WHERE rk <= {_CAP_K}
"""


# ---------------------------------------------------------------------------
# unicode NFC normalization (pandas-UDF fallback; DuckDB nfc_normalize twin)
# ---------------------------------------------------------------------------

# decomposed forms that NFC must compose: e+U+0301 -> é, o+U+0308 -> ö
_NFC_SUFFIX = " Cafe\u0301 schl o\u0308de"  # noqa: explicit decomposed


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.text import add_nfc_normalized

    docs = fx.read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("text")
    )
    return add_nfc_normalized(seeded).select(
        "doc_id", F.col("text_nfc").alias("normalized")
    )


O_NFC_NORMALIZE = f"""
SELECT doc_id, nfc_normalize(text || '{_NFC_SUFFIX}') AS normalized
FROM documents
"""


# ---------------------------------------------------------------------------
# corpus-level line dedup (C4 rule: distinct line survives once)
# ---------------------------------------------------------------------------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seed every document with a universal boilerplate line and a footer
    # shared by doc_id % 5 — both must survive only at their minimal
    # (doc_id, pos) occurrence corpus-wide
    from panoptes_spark.pipeline.dedup import line_dedup

    docs = fx.read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter\nfooter "),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    return line_dedup(seeded)


O_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id,
    string_split(text || chr(10) || 'subscribe to our newsletter'
                      || chr(10) || 'footer ' || CAST(doc_id % 5 AS VARCHAR),
                 chr(10)) AS ls
  FROM documents
),
l AS (
  SELECT doc_id,
         unnest(range(1, len(ls) + 1)) AS pos,
         unnest(ls) AS line
  FROM base
),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM l
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM ranked WHERE rn = 1
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# URL / domain features (blocklist inputs; map-only regex)
# ---------------------------------------------------------------------------


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same seeding idea as the PII gate: append two deterministic URLs per
    # document so the extraction paths are exercised on every row
    from panoptes_spark.pipeline.text import add_url_features

    docs = fx.read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://sub"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://m"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".test.io"),
        ).alias("text"),
    )
    out = add_url_features(seeded)
    return out.select(
        "doc_id", F.col("n_urls").cast("long").alias("n_urls"), "first_domain"
    )


def _o_url_features() -> str:
    from panoptes_spark.pipeline.text import URL_DOMAIN_PATTERN, URL_PATTERN

    return f"""
WITH base AS (
  SELECT doc_id,
    text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
      || ' and http://m' || CAST(doc_id % 3 AS VARCHAR) || '.test.io' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{URL_PATTERN}')) AS BIGINT) AS n_urls,
       NULLIF(regexp_extract(t, '{URL_DOMAIN_PATTERN}', 1), '') AS first_domain
FROM base
"""


# ---------------------------------------------------------------------------
# PII scrubbing (regexp redaction chain; map-only)
# ---------------------------------------------------------------------------


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents rarely contain literal PII, so append a deterministic
    # per-doc trailer (email + IPv4 + 9-digit id) that the oracle mirrors —
    # the gate then proves redaction order, patterns, and staged counts
    from panoptes_spark.pipeline.text import scrub_pii

    docs = fx.read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 acct "),
            F.lpad(F.col("doc_id").cast("string"), 9, "0"),
        ).alias("text"),
    )
    out = scrub_pii(seeded, "text")
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_idnum").cast("long").alias("n_idnum"),
        F.col("text_scrubbed").alias("scrubbed"),
    )


def _o_text_pii_scrub() -> str:
    from panoptes_spark.pipeline.text import PII_RULES

    (e_pat, e_rep), (i_pat, i_rep), (d_pat, d_rep) = (
        (p, r) for _, p, r in PII_RULES
    )
    return f"""
WITH base AS (
  SELECT doc_id,
    text || ' u' || CAST(doc_id AS VARCHAR)
      || '@mail.example.com from 192.168.'
      || CAST(doc_id % 256 AS VARCHAR) || '.7 acct '
      || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS t0
  FROM documents
),
s1 AS (
  SELECT doc_id, len(regexp_extract_all(t0, '{e_pat}')) AS n_email,
         regexp_replace(t0, '{e_pat}', '{e_rep}', 'g') AS t1
  FROM base
),
s2 AS (
  SELECT doc_id, n_email, len(regexp_extract_all(t1, '{i_pat}')) AS n_ipv4,
         regexp_replace(t1, '{i_pat}', '{i_rep}', 'g') AS t2
  FROM s1
)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t2, '{d_pat}')) AS BIGINT) AS n_idnum,
       regexp_replace(t2, '{d_pat}', '{d_rep}', 'g') AS scrubbed
FROM s2
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap, broadcast semi-join)
# ---------------------------------------------------------------------------

# production uses 8-13-gram overlap; the synthetic corpus draws from a
# ~30-word vocabulary where 8-grams never collide, so the gate exercises
# the identical machinery at n=3 to get a non-trivial hit set
_DECON_N = 3


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.decontaminate import ngram_contamination

    docs = fx.read_table(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus, benchmark, n=_DECON_N)


O_DECONTAMINATE = f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
    unnest(CASE WHEN length(ws) >= {_DECON_N} THEN
      list_transform(range(1, length(ws) - {_DECON_N - 2}),
        i -> md5(array_to_string(array_slice(ws, i, i + {_DECON_N - 1}), ' ')))
      ELSE [] END) AS gram_hash
  FROM w
),
bench AS (SELECT DISTINCT gram_hash FROM grams WHERE doc_id % 97 = 0),
corp AS (
  SELECT DISTINCT doc_id, gram_hash FROM grams WHERE doc_id % 97 <> 0
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM corp c JOIN bench b USING (gram_hash)
GROUP BY c.doc_id
"""


# ---------------------------------------------------------------------------
# duplicated n-gram spans (substring-level dedup stats, Lee et al. 2022
# fixed-length approximation). Clones guarantee fully-duplicated docs; the
# small synthetic vocabulary adds natural cross-doc 5-gram repeats.
# ---------------------------------------------------------------------------

_SPAN_K = 5


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.substrings import duplicated_ngram_spans

    docs = fx.read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    clones = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    both = docs.unionByName(clones)
    return duplicated_ngram_spans(both, "doc_id", "text", k=_SPAN_K).orderBy(
        "doc_id"
    )


O_DUP_SPANS = f"""
WITH allrows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
),
tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM allrows
),
stats AS (
  SELECT doc_id, len(t) AS n_tokens,
         greatest(len(t) - {_SPAN_K - 1}, 0) AS n_grams
  FROM tok
),
grams AS (
  SELECT doc_id,
    unnest(range(0, greatest(len(t) - {_SPAN_K - 1}, 0))) AS pos,
    unnest(CASE WHEN len(t) >= {_SPAN_K} THEN
      list_transform(range(1, len(t) - {_SPAN_K - 2}),
        i -> substr(md5(array_to_string(t[i : i + {_SPAN_K - 1}], ' ')), 1, 16))
      ELSE [] END) AS gh
  FROM tok
),
dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2
),
pos AS (
  SELECT g.doc_id, g.pos,
    least({_SPAN_K},
      coalesce(lead(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos),
               g.pos + {_SPAN_K}) - g.pos) AS cov
  FROM grams g JOIN dup USING (gh)
),
covered AS (
  SELECT doc_id, count(*) AS n_dup_grams, sum(cov) AS covered_tokens
  FROM pos GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, s.n_grams,
  CAST(coalesce(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
  CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
  ROUND(coalesce(c.covered_tokens, 0) / greatest(s.n_tokens, 1), 6)
    AS dup_token_fraction
FROM stats s LEFT JOIN covered c USING (doc_id)
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016): corpus -> word counts
# (the one corpus-sized pass) -> n sequential pair-merge rounds over the
# vocab table. The oracle unrolls every round as CTEs: argmax via
# ORDER BY cnt DESC, pa, pb LIMIT 1 (the engine tie-break), merge via the
# same literal replace. Symbols are \x1c..\x1d-bracketed so replace can't
# match across symbol boundaries.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6
_BL = "\x1c"  # symbol open marker
_BR = "\x1d"  # symbol close marker


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.tokenizer import bpe_train

    docs = fx.read_table(spark, sf_dir, "documents")
    return bpe_train(spark, docs, "text", n_merges=_BPE_ROUNDS).orderBy(
        "merge_round"
    )


def _o_bpe_train() -> str:
    sym = f"{_BL}[^{_BR}]*{_BR}"
    ctes = [
        f"""w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' AND NOT regexp_matches(word, '[{_BL}{_BR}]')
  GROUP BY word
)""",
        f"""v0 AS (
  SELECT regexp_replace(word, '(.)', '{_BL}\\1{_BR}', 'g')
         || '{_BL}</w>{_BR}' AS enc, freq
  FROM w
)""",
    ]
    for i in range(_BPE_ROUNDS):
        ctes.append(
            f"""p{i} AS (
  SELECT pa, pb, sum(freq) AS cnt FROM (
    SELECT unnest(sy[1:len(sy)-1]) AS pa, unnest(sy[2:]) AS pb, freq
    FROM (SELECT regexp_extract_all(enc, '{sym}') AS sy, freq FROM v{i})
  ) GROUP BY pa, pb
)"""
        )
        ctes.append(
            f"""b{i} AS (
  SELECT pa, pb, cnt FROM p{i} ORDER BY cnt DESC, pa, pb LIMIT 1
)"""
        )
        if i + 1 < _BPE_ROUNDS:
            ctes.append(
                f"""v{i + 1} AS (
  SELECT replace(enc, (SELECT pa || pb FROM b{i}),
    (SELECT '{_BL}' || replace(replace(pa || pb, '{_BL}', ''), '{_BR}', '')
     || '{_BR}' FROM b{i})) AS enc, freq
  FROM v{i}
)"""
            )
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_round,"
        f" replace(replace(pa, '{_BL}', ''), '{_BR}', '') AS left_sym,"
        f" replace(replace(pb, '{_BL}', ''), '{_BR}', '') AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(_BPE_ROUNDS)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n" + rows
        + "\n) ORDER BY merge_round"
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization of embeddings (FAISS SQ8 equivalent). The
# oracle recomputes the per-dim min/max itself, so the gate proves the
# distributed stats fold AND the affine code arithmetic are engine-exact
# (floor(t + 0.5) half-way rule, float->double exact widening).
# ---------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.quantize import quantize_embeddings

    emb = fx.read_table(spark, sf_dir, "embeddings")
    # exploded (vec, dim, code) rows: the raw array<int> column breaks
    # the driver's pandas canonicalizer (unhashable list cells)
    return (
        quantize_embeddings(emb, "vec_id", "embedding")
        .select("vec_id", F.posexplode("codes").alias("dim", "code"))
    )


O_EMBEDDING_QUANTIZE = """
WITH d AS (
  SELECT vec_id,
    unnest(embedding) AS x,
    unnest(range(len(embedding))) AS i
  FROM embeddings
),
dims AS (
  SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
  FROM d GROUP BY i
)
SELECT d.vec_id, CAST(d.i AS INT) AS dim,
  CAST(CASE WHEN dims.mx > dims.mn THEN
    least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
      floor((CAST(d.x AS DOUBLE) - dims.mn) * 255.0
            / (dims.mx - dims.mn) + 0.5)))
  ELSE 0.0 END AS INT) AS code
FROM d JOIN dims USING (i)
"""


# ---------------------------------------------------------------------------
# small-file compaction planning: inventory-sized window, cumulative
# byte binning at the target size. Inventory synthesized from documents
# (part = source, bytes = n_chars).
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4000


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.layout import plan_compaction

    docs = fx.read_table(spark, sf_dir, "documents")
    inv = docs.select(
        F.col("source").alias("part"),
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("bytes"),
    )
    return plan_compaction(
        inv, "part", "path", "bytes", target_bytes=_COMPACT_TARGET
    ).orderBy("part", "path")


O_COMPACTION_PLAN = f"""
WITH inv AS (
  SELECT source AS part, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
         n_chars AS bytes
  FROM documents
),
cum AS (
  SELECT part, path, CAST(bytes AS BIGINT) AS bytes,
    coalesce(sum(bytes) OVER (
      PARTITION BY part ORDER BY bytes DESC, path
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM inv
)
SELECT part, path, bytes,
  CAST(floor(cb / {_COMPACT_TARGET}) AS BIGINT) AS group_id
FROM cum ORDER BY part, path
"""


# ---------------------------------------------------------------------------
# link-graph centrality (PageRank) as a curation quality prior. Graph =
# distinct supplier->customer edges; integer-scaled arithmetic makes the
# power iteration bit-exact across engines and partitionings, so the
# oracle unrolls the same rounds with `//` division.
# ---------------------------------------------------------------------------

_PR_ITER = 2
_PR_SCALE = 10**12


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.pipeline.graph import pagerank

    li = fx.read_table(spark, sf_dir, "lineitem")
    orders = fx.read_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, n_iter=_PR_ITER).orderBy("node")


def _o_pagerank() -> str:
    s = _PR_SCALE
    ctes = [
        """e AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, {s} // n AS rank_scaled FROM nodes, nn)",
    ]
    for i in range(_PR_ITER):
        ctes.append(
            f"""c{i + 1} AS (
  SELECT e.dst AS node, sum(r.rank_scaled // o.outdeg) AS in_mass
  FROM e JOIN outdeg o USING (src) JOIN r{i} r ON e.src = r.node
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
  SELECT nodes.node,
    ((15 * {s}) // 100) // nn.n
      + (85 * coalesce(c{i + 1}.in_mass, 0)) // 100 AS rank_scaled
  FROM nodes LEFT JOIN c{i + 1} USING (node), nn
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(rank_scaled AS BIGINT) AS rank_scaled"
        f" FROM r{_PR_ITER} ORDER BY node"
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply: learn the merge table on the corpus and encode
    every document with it (the production tokenize pass)."""
    import os

    from panoptes_spark.pipeline.tokenizer import bpe_encode, bpe_train

    docs = fx.read_table(spark, sf_dir, "documents")
    # a production pipeline trains the tokenizer once and reuses the
    # (tiny, deterministic) merge table for every encode pass; the train
    # GATE itself never reads this memo (it must measure training)
    source = os.path.join(sf_dir, "documents.parquet")
    merges = memo.cached(
        spark, ("bpe_merges", sf_dir, _BPE_ROUNDS), [source],
        lambda: bpe_train(spark, docs, "text", n_merges=_BPE_ROUNDS),
    )
    # tokens joined on space (tokens are whitespace-split, so ' ' can
    # never occur inside one): raw array<string> cells are unhashable
    # in the driver's pandas canonicalizer
    return (
        bpe_encode(docs, merges, "text", "doc_id")
        .select(
            "doc_id",
            F.array_join("tokens", " ").alias("tokens_str"),
            "n_tokens",
        )
        .orderBy("doc_id")
    )


def _o_bpe_encode() -> str:
    """Reuses the training oracle's unrolled CTEs, then applies the same
    replace chain per word with the per-round best pairs captured as
    columns (DuckDB lambdas close over row columns)."""
    sym = f"{_BL}[^{_BR}]*{_BR}"
    train = _o_bpe_train()
    body = train[len("WITH ") : train.index("\nSELECT * FROM (")]
    # one row carrying every round's find/replace strings
    best_cols = ", ".join(
        f"(SELECT pa || pb FROM b{i}) AS f{i},"
        f" (SELECT '{_BL}' || replace(replace(pa || pb, '{_BL}', ''),"
        f" '{_BR}', '') || '{_BR}' FROM b{i}) AS r{i}"
        for i in range(_BPE_ROUNDS)
    )
    chain = f"regexp_replace(w, '(.)', '{_BL}\\1{_BR}', 'g') || '{_BL}</w>{_BR}'"
    for i in range(_BPE_ROUNDS):
        chain = f"replace({chain}, m.f{i}, m.r{i})"
    return f"""WITH {body},
m AS (SELECT {best_cols}),
dw AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      w -> w <> '' AND NOT regexp_matches(w, '[{_BL}{_BR}]')) AS ws
  FROM documents
)
SELECT doc_id,
  array_to_string(flatten(list_transform(ws, w ->
    list_transform(regexp_extract_all({chain}, '{sym}'),
      s -> substr(s, 2, length(s) - 2)))), ' ') AS tokens_str,
  CAST(len(flatten(list_transform(ws, w ->
    list_transform(regexp_extract_all({chain}, '{sym}'),
      s -> substr(s, 2, length(s) - 2))))) AS BIGINT) AS n_tokens
FROM dw, m
ORDER BY doc_id"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability / lexical-richness signals (pipeline/text.py):
    sentence + vowel-group syllable counts, Flesch reading ease, TTR —
    exact integers up to the final rounded divisions."""
    from panoptes_spark.pipeline.text import add_readability

    docs = fx.read_table(spark, sf_dir, "documents")
    return add_readability(docs).select(
        "doc_id", "n_sentences", "n_syllables", "flesch", "ttr"
    )


O_TEXT_READABILITY = """
WITH base AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                w -> w <> '') AS words
  FROM documents
),
c AS (
  SELECT doc_id,
    CAST(greatest(len(words), 1) AS BIGINT) AS n_words,
    CAST(greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1) AS BIGINT)
      AS n_sentences,
    CAST(len(string_split_regex(lower(text), '[aeiouy]+')) - 1 AS BIGINT)
      AS n_syllables,
    CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
  FROM base
)
SELECT doc_id, n_sentences, n_syllables,
  round(206.835
        - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
    AS flesch,
  round(CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS ttr
FROM c
"""

_TFIDF_K = 3


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top TF-IDF keywords (pipeline/text.py): smoothed idf,
    deterministic (score desc, term asc) ranking."""
    from panoptes_spark.pipeline.text import tfidf_top_terms

    docs = fx.read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=_TFIDF_K)


O_TEXT_TFIDF = f"""
WITH terms AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
    round(tf * (ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) + 1.0), 6)
      AS score
  FROM tf JOIN dfreq USING (term), nd
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
    ORDER BY score DESC, term ASC) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= {_TFIDF_K}
"""


_GSAMPLE_K = 5


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-group sample (pipeline/splits.py):
    murmur3 rank within each source — unbiased, re-run/append stable."""
    from panoptes_spark.pipeline.splits import sample_per_group

    docs = fx.read_table(spark, sf_dir, "documents")
    return sample_per_group(docs, ["source"], _GSAMPLE_K).select(
        "doc_id", "source"
    )


def _o_sample_per_group() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    chain = mmh3_cte_chain(
        "base", "'gsample' || ':' || cast(doc_id as varchar)", "duckdb"
    )
    return f"""
WITH base AS (SELECT doc_id, source FROM documents),
{chain},
ranked AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY __mm_hash ASC, doc_id ASC) AS rn
  FROM mmh3
)
SELECT doc_id, source FROM ranked WHERE rn <= {_GSAMPLE_K}
"""


_FZ_THRESH = 0.5


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table fuzzy join (pipeline/fuzzy.py): even-numbered sources
    resolve against odd-numbered ones by shingle Jaccard with MinHash-LSH
    blocking; keep='best' picks each left doc's single best match."""
    from panoptes_spark.pipeline.fuzzy import fuzzy_join

    docs = fx.read_table(spark, sf_dir, "documents")
    par = F.substring("source", 4, 10).cast("int") % 2
    left = docs.where(par == 0).select(F.col("doc_id").alias("l_doc"), "text")
    right = docs.where(par == 1).select(F.col("doc_id").alias("r_doc"), "text")
    return fuzzy_join(
        left, right, "l_doc", "r_doc", "text",
        _K, _NH, _BANDS, threshold=_FZ_THRESH, keep="best",
    )


def _o_fuzzy_side(name: str, id_alias: str, parity: int) -> str:
    """DuckDB CTEs for one side's shingle sets, minhash sigs, and band
    buckets (identical hash family to O_DEDUP_MINHASH)."""
    rows = _NH // _BANDS
    return f"""{name}_src AS (
  SELECT doc_id AS {id_alias}, text FROM documents
  WHERE CAST(substr(source, 4) AS INT) % 2 = {parity}
),
{name}_sh AS (
  SELECT {id_alias},
    list_distinct(CASE WHEN len(string_split(text, ' ')) < {_K}
      THEN [array_to_string(string_split(text, ' '), ' ')]
      ELSE list_transform(range(1, len(string_split(text, ' ')) - {_K} + 2),
           i -> array_to_string(string_split(text, ' ')[i:i+{_K - 1}], ' '))
      END) AS shingles
  FROM {name}_src
),
{name}_sig AS (
  SELECT {id_alias}, shingles,
    list_transform(range(0, {_NH}),
      i -> list_min(list_transform(
           list_transform(shingles,
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_P}),
           x -> ((2*i+1) * x + (3*i+7)) % {_P}))) AS minhash
  FROM {name}_sh
),
{name}_bands AS (
  SELECT {id_alias}, b,
    array_to_string(minhash[b*{rows}+1 : b*{rows}+{rows}], '-') AS bucket
  FROM {name}_sig, range(0, {_BANDS}) t(b)
)"""


def _o_fuzzy_join() -> str:
    from panoptes_spark.pipeline.dedup import DEFAULT_MAX_BUCKET_SIZE

    return f"""WITH {_o_fuzzy_side("l", "l_doc", 0)},
{_o_fuzzy_side("r", "r_doc", 1)},
bsizes AS (
  SELECT b, bucket, count(*) AS n FROM (
    SELECT b, bucket FROM l_bands
    UNION ALL SELECT b, bucket FROM r_bands
  ) GROUP BY b, bucket
),
cand AS (
  SELECT DISTINCT l.l_doc, r.r_doc
  FROM l_bands l JOIN r_bands r ON l.b = r.b AND l.bucket = r.bucket
  JOIN bsizes s ON s.b = l.b AND s.bucket = l.bucket
  WHERE s.n <= {DEFAULT_MAX_BUCKET_SIZE}
),
ver AS (
  SELECT c.l_doc, c.r_doc,
    round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
          / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
  FROM cand c
  JOIN l_sig sa ON c.l_doc = sa.l_doc
  JOIN r_sig sb ON c.r_doc = sb.r_doc
),
kept AS (
  SELECT l_doc, r_doc, jaccard,
    row_number() OVER (PARTITION BY l_doc
      ORDER BY jaccard DESC, r_doc ASC) AS rn
  FROM ver WHERE jaccard >= {_FZ_THRESH}
)
SELECT l_doc, r_doc, jaccard FROM kept WHERE rn = 1"""


_DQ_PRICE_HI = 100_000


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit (pipeline/audit.py): key uniqueness,
    null policy, range, closed enum, regex shape, and FK integrity over
    orders->customer — one scan plus one anti-join, counts only."""
    from panoptes_spark.pipeline.audit import (
        accepted_values,
        in_range,
        matches_regex,
        not_null,
        referential,
        run_checks,
        unique,
    )

    o = fx.read_table(spark, sf_dir, "orders")
    c = fx.read_table(spark, sf_dir, "customer")
    return run_checks(
        o,
        [
            unique("o_orderkey"),
            not_null("o_custkey"),
            in_range("o_totalprice", 0, _DQ_PRICE_HI),
            accepted_values("o_orderstatus", ["O", "F"]),
            matches_regex("o_orderpriority", "^[1-3]-"),
            referential("o_custkey", c, "c_custkey"),
        ],
    )


O_DQ_CHECKS = f"""
SELECT ord, "check", target, n_violations, n_violations = 0 AS passed
FROM (
  SELECT CAST(0 AS BIGINT) AS ord, 'unique' AS "check",
    'o_orderkey' AS target,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 1, 'not_null', 'o_custkey',
    count(*) FILTER (o_custkey IS NULL) FROM orders
  UNION ALL
  SELECT 2, 'in_range', 'o_totalprice',
    count(*) FILTER (o_totalprice IS NOT NULL
      AND (o_totalprice < 0 OR o_totalprice > {_DQ_PRICE_HI}))
  FROM orders
  UNION ALL
  SELECT 3, 'accepted_values', 'o_orderstatus',
    count(*) FILTER (o_orderstatus IS NOT NULL
      AND o_orderstatus NOT IN ('O', 'F'))
  FROM orders
  UNION ALL
  SELECT 4, 'matches_regex', 'o_orderpriority',
    count(*) FILTER (o_orderpriority IS NOT NULL
      AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
  FROM orders
  UNION ALL
  SELECT 5, 'referential', 'o_custkey->c_custkey',
    (SELECT count(*) FROM orders o
     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
)
"""

_DQ_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of lineitem (pipeline/audit.py):
    row/null/distinct counts + numeric min/max, long-form output; the
    string column proves the non-numeric NULL min/max path."""
    from panoptes_spark.pipeline.audit import profile_columns

    li = fx.read_table(spark, sf_dir, "lineitem")
    return profile_columns(li, _DQ_PROFILE_COLS)


O_DQ_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, CAST(count(*) AS DOUBLE) AS n_rows,
  CAST(count(*) FILTER ({c} IS NULL) AS DOUBLE) AS n_null,
  CAST(count(DISTINCT {c}) AS DOUBLE) AS n_distinct,
  min(TRY_CAST({c} AS DOUBLE)) AS min_value,
  max(TRY_CAST({c} AS DOUBLE)) AS max_value
FROM lineitem"""
    for c in _DQ_PROFILE_COLS
)


def q_trim_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal policy over the duplicated-span stats (same clone
    construction as dup_span_stats): every token covered by a corpus-
    duplicated k-gram window is dropped from every copy; output is the
    rebuilt normalized text + removal counts."""
    from panoptes_spark.pipeline.substrings import trim_duplicated_spans

    docs = fx.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    both = docs.unionByName(clones)
    return trim_duplicated_spans(both, "doc_id", "text", k=_SPAN_K).orderBy(
        "doc_id"
    )


O_TRIM_DUP_SPANS = f"""
WITH allrows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
),
tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM allrows
),
grams AS (
  SELECT doc_id,
    unnest(range(0, greatest(len(t) - {_SPAN_K - 1}, 0))) AS pos,
    unnest(CASE WHEN len(t) >= {_SPAN_K} THEN
      list_transform(range(1, len(t) - {_SPAN_K - 2}),
        i -> substr(md5(array_to_string(t[i : i + {_SPAN_K - 1}], ' ')), 1, 16))
      ELSE [] END) AS gh
  FROM tok
),
dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2
),
starts AS (
  SELECT g.doc_id, list(g.pos ORDER BY g.pos) AS ps
  FROM grams g JOIN dup USING (gh)
  GROUP BY g.doc_id
),
cleaned AS (
  SELECT t.doc_id, t.t,
    list_filter(range(0, len(t.t)),
      i -> s.ps IS NULL OR
           len(list_filter(s.ps, p -> i >= p AND i < p + {_SPAN_K})) = 0)
      AS kept
  FROM tok t LEFT JOIN starts s USING (doc_id)
)
SELECT doc_id,
  -- empty list -> NULL in DuckDB's array_to_string; Spark's concat_ws -> ''
  coalesce(array_to_string(list_transform(kept, i -> t[i + 1]), ' '), '')
    AS clean_text,
  len(t) AS n_tokens,
  len(t) - len(kept) AS n_removed
FROM cleaned
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty of the eval slice (doc_id % 3 == 0) vs the
    rest of the corpus as reference: fraction of distinct word 3-grams
    unseen anywhere in the reference."""
    from panoptes_spark.pipeline.substrings import ngram_novelty

    docs = fx.read_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 3 == 0)
    ref = docs.where(F.col("doc_id") % 3 != 0)
    return ngram_novelty(ev, ref, k=_K).orderBy("doc_id")


O_NGRAM_NOVELTY = f"""
WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text, ' ')) < {_K}
      THEN [array_to_string(string_split(text, ' '), ' ')]
      ELSE list_transform(range(1, len(string_split(text, ' ')) - {_K} + 2),
           i -> array_to_string(string_split(text, ' ')[i:i+{_K - 1}], ' '))
      END) AS shingles
  FROM documents
),
gh AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS gh
  FROM sh
),
ref AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 3 <> 0),
ev AS (SELECT doc_id, gh FROM gh WHERE doc_id % 3 = 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
seen AS (
  SELECT e.doc_id, count(*) AS n_seen FROM ev e JOIN ref USING (gh)
  GROUP BY 1
)
SELECT t.doc_id, t.n_grams,
  CAST(coalesce(s.n_seen, 0) AS BIGINT) AS n_seen,
  round(1.0 - coalesce(s.n_seen, 0) / t.n_grams, 6) AS novelty
FROM tot t LEFT JOIN seen s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# r9 additions: CCNet perplexity buckets, robust length outliers,
# minhash estimator calibration, token-budget allocation
# ---------------------------------------------------------------------------

_PPLX_FRACS = (1 / 3, 2 / 3)


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail curation buckets (Wenzek et al., LREC
    2020): per-source exact grouped-quantile threshold cuts over the
    gate-proven bigram-LM score (r10 — windowless; the previous
    per-source rank window was a single-task sort of a whole source).
    Thresholds compare MICRO-INTEGER scores, engine-exact where float
    tercile boundaries are not."""
    from panoptes_spark.pipeline.lm import (
        perplexity_buckets,
        score_documents,
        train_bigram_lm,
    )

    docs = fx.read_table(spark, sf_dir, "documents")
    uni, bi, vocab = train_bigram_lm(docs)
    scored = score_documents(docs, uni, bi, vocab)
    return perplexity_buckets(scored, docs, fracs=_PPLX_FRACS).orderBy(
        "doc_id"
    )


def _o_perplexity_buckets() -> str:
    """Replays the exact grouped-quantile threshold recipe: micro-int
    scores (floor(x*1e6 + 0.5) on the 6 dp-rounded double is its exact
    integer representation on both engines), per-source cum-sum
    histograms, type-1 thresholds at ceil(frac * n) — the
    O_LENGTH_OUTLIERS pattern applied to LM scores."""
    from panoptes_spark.pipeline.lm import lm_oracle_sql

    lo, hi = _PPLX_FRACS
    return f"""
WITH scored AS ({lm_oracle_sql()}),
j AS (
  SELECT s.doc_id, d.source, s.avg_neg_logp,
    CAST(floor(s.avg_neg_logp * 1e6 + 0.5) AS BIGINT) AS us
  FROM scored s JOIN documents d USING (doc_id)
),
h AS (SELECT source, us, count(*) AS c FROM j GROUP BY 1, 2),
cum AS (
  SELECT source, us, sum(c) OVER (PARTITION BY source ORDER BY us) AS cm
  FROM h
),
tot AS (SELECT source, sum(c) AS n FROM h GROUP BY 1),
tlo AS (
  SELECT source, min(us) AS t FROM cum JOIN tot USING (source)
  WHERE cm >= CAST(ceil(CAST({lo!r} AS DOUBLE) * n) AS BIGINT)
  GROUP BY source
),
thi AS (
  SELECT source, min(us) AS t FROM cum JOIN tot USING (source)
  WHERE cm >= CAST(ceil(CAST({hi!r} AS DOUBLE) * n) AS BIGINT)
  GROUP BY source
)
SELECT doc_id, source, avg_neg_logp,
  CASE WHEN us <= tlo.t THEN 'head'
       WHEN us <= thi.t THEN 'middle'
       ELSE 'tail' END AS bucket
FROM j JOIN tlo USING (source) JOIN thi USING (source)
"""


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source outlier screen: modified z-score over document
    lengths with EXACT per-group median and MAD (grouped histogram
    folds — no sort, no sampling; Iglewicz & Hoaglin 1993). The screen
    that catches truncated/concatenated docs without the mean/stddev's
    own sensitivity to the outliers it hunts."""
    from panoptes_spark.pipeline.stats import length_outliers

    docs = fx.read_table(spark, sf_dir, "documents")
    return length_outliers(docs, ["source"], "n_chars").orderBy("doc_id")


O_LENGTH_OUTLIERS = """
WITH h AS (
  SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v) AS cm
  FROM h
),
tot AS (SELECT source, sum(c) AS n FROM h GROUP BY 1),
med AS (
  SELECT source, min(v) AS med
  FROM cum JOIN tot USING (source)
  WHERE cm >= CAST(ceil(0.5 * n) AS BIGINT) GROUP BY source
),
d AS (
  SELECT doc_id, d.source, n_chars, med,
         abs(n_chars - med) AS dev
  FROM documents d JOIN med USING (source)
),
h2 AS (SELECT source, dev AS v, count(*) AS c FROM d GROUP BY 1, 2),
cum2 AS (
  SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v) AS cm
  FROM h2
),
tot2 AS (SELECT source, sum(c) AS n FROM h2 GROUP BY 1),
mad AS (
  SELECT source, min(v) AS mad
  FROM cum2 JOIN tot2 USING (source)
  WHERE cm >= CAST(ceil(0.5 * n) AS BIGINT) GROUP BY source
),
z AS (
  -- floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): these small-integer
  -- rational products land exactly on .5 boundaries where the two
  -- engines' round() disagree; floor on the identical IEEE double is
  -- engine-exact. cast(0.6745 as double): a bare literal parses as
  -- DECIMAL in DuckDB (both caught by the r9 sf1 sweep)
  SELECT doc_id, d.source, n_chars,
    CASE WHEN mad > 0
         THEN floor(cast(0.6745 as double) * (n_chars - med)
              / mad * 1e6 + 0.5) / 1e6
    END AS mod_z
  FROM d JOIN mad USING (source)
)
SELECT doc_id, source, n_chars, mod_z,
  CASE WHEN mod_z IS NULL THEN FALSE ELSE abs(mod_z) > 3.5 END AS is_outlier
FROM z
"""


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the minhash signatures (Broder 1997:
    agreeing-coordinate fraction is an unbiased Jaccard estimate):
    estimated vs verified Jaccard for every pair in the dedup artifact
    — pair-sized joins of stored relations, text never rescanned."""
    idx = _dedup_artifact(spark, sf_dir)
    return dedup.minhash_estimate(
        idx.pairs(), idx.signatures(), "doc_id", _NH
    ).orderBy("a", "b")


O_MINHASH_CALIBRATION = f"""
WITH {_MINHASH_CTES.strip()},
p AS (SELECT a, b, jaccard FROM ver WHERE jaccard >= {_THRESH}),
e AS (
  SELECT p.a, p.b, p.jaccard,
    round(len(list_filter(range(1, {_NH + 1}),
          i -> sa.minhash[i] = sb.minhash[i])) / {_NH}, 6) AS est_jaccard
  FROM p
  JOIN sig sa ON p.a = sa.doc_id
  JOIN sig sb ON p.b = sb.doc_id
)
SELECT a, b, jaccard, est_jaccard,
  round(abs(jaccard - est_jaccard), 6) AS abs_err
FROM e
"""


_BUDGET_TOKENS = 1_000_000
_BUDGET_CAP = 4.0


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token allocation under a fixed training budget with
    the data-constrained-scaling epoch cap (Muennighoff et al.,
    NeurIPS 2023) — saturated sources report their unspent remainder
    instead of silently absorbing it."""
    from panoptes_spark.pipeline.selection import token_budget_allocation

    docs = fx.read_table(spark, sf_dir, "documents")
    return token_budget_allocation(
        docs, _BUDGET_TOKENS, max_epochs=_BUDGET_CAP
    ).orderBy("source")


O_TOKEN_BUDGET = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
      AS n_tokens
  FROM documents GROUP BY 1
),
k AS (SELECT count(*) AS k FROM per),
a AS (
  SELECT source, n_docs, n_tokens,
    round(CAST(1.0 AS DOUBLE) / k, 6) AS weight,
    round(least(CAST({_BUDGET_CAP!r} AS DOUBLE),
          CAST({float(_BUDGET_TOKENS)!r} AS DOUBLE)
          * round(CAST(1.0 AS DOUBLE) / k, 6) / n_tokens), 6)
      AS epochs
  FROM per CROSS JOIN k
),
b AS (
  SELECT *, CAST(floor(epochs * n_tokens) AS BIGINT) AS alloc_tokens
  FROM a
),
t AS (SELECT sum(alloc_tokens) AS ta FROM b)
SELECT source, n_docs, n_tokens, weight, epochs, alloc_tokens,
  CAST({_BUDGET_TOKENS} - ta AS BIGINT) AS unallocated
FROM b CROSS JOIN t
"""

_BOILER_TOP = 5


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate report: top word k-grams by document
    frequency — the diagnostic read before tuning dedup caps or
    trimming policies (headers/templates surface as grams present in a
    large share of a source's docs)."""
    from panoptes_spark.pipeline.substrings import frequent_ngrams

    docs = fx.read_table(spark, sf_dir, "documents")
    return frequent_ngrams(docs, k=_K, top_n=_BOILER_TOP).orderBy(
        "source", "rank"
    )


O_BOILERPLATE_NGRAMS = f"""
WITH sh AS (
  SELECT doc_id, source,
    list_distinct(CASE WHEN len(string_split(text, ' ')) < {_K}
      THEN [array_to_string(string_split(text, ' '), ' ')]
      ELSE list_transform(range(1, len(string_split(text, ' ')) - {_K} + 2),
           i -> array_to_string(string_split(text, ' ')[i:i+{_K - 1}], ' '))
      END) AS shingles
  FROM documents
),
g AS (SELECT source, unnest(shingles) AS gram FROM sh),
c AS (SELECT source, gram, count(*) AS df FROM g GROUP BY 1, 2),
r AS (
  SELECT source, gram, df,
    CAST(row_number() OVER (PARTITION BY source
         ORDER BY df DESC, gram ASC) AS INT) AS rank
  FROM c
)
SELECT source, gram, df, rank FROM r WHERE rank <= {_BOILER_TOP}
"""


def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language balance with Wilson 95% intervals — the
    class-prior audit; the Wilson expression text is shared verbatim
    with the oracle so both engines evaluate identical double ops."""
    from panoptes_spark.pipeline.audit import label_balance

    docs = fx.read_table(spark, sf_dir, "documents")
    return label_balance(docs, "source", "lang").orderBy("source", "lang")


def _o_label_balance() -> str:
    from panoptes_spark.pipeline.audit import (
        WILSON_CENTER,
        WILSON_HALF,
        WILSON_Q6,
    )

    args = dict(
        x="cast(n_class as double)", n="cast(n_total as double)", z=repr(1.96)
    )
    center = WILSON_CENTER.format(**args)
    half = WILSON_HALF.format(**args)
    # identical quantization TEXT as the Spark operator (WILSON_Q6):
    # floor(x*1e6 + 0.5) on the same doubles is engine-exact where
    # round(x, 6) tie-breaks differently per engine (r9 ADVICE)
    share = WILSON_Q6.format(v="cast(n_class as double) / n_total")
    lo = WILSON_Q6.format(v=f"greatest(0.0, {center} - {half})")
    hi = WILSON_Q6.format(v=f"least(1.0, {center} + {half})")
    return f"""
WITH c AS (
  SELECT source, lang, count(*) AS n_class FROM documents GROUP BY 1, 2
),
t AS (
  SELECT source, CAST(sum(n_class) AS BIGINT) AS n_total FROM c GROUP BY 1
)
SELECT source, lang, n_class, n_total,
  {share} AS share,
  {lo} AS ci_lo,
  {hi} AS ci_hi
FROM c JOIN t USING (source)
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram + survivorship over the dedup artifact's
    component labels — 'how deep do the near-dup clusters go, and how
    many docs does one-representative-per-cluster remove'."""
    from panoptes_spark.pipeline.components import cluster_size_stats

    return cluster_size_stats(_dedup_artifact(spark, sf_dir).components())


def _o_dedup_cluster_stats() -> str:
    return f"""
SELECT cluster_size, n_clusters,
  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
  CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removed
FROM (
  SELECT cluster_size, count(*) AS n_clusters FROM (
    SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
    FROM ({O_DEDUP_COMPONENTS}) comp GROUP BY component
  ) s GROUP BY cluster_size
) h
"""


def q_dedup_best_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based representative selection over the dedup artifact's
    clusters: keep the LONGEST member of each near-dup cluster (ties ->
    lowest id) — the policy that drops truncated copies instead of
    whichever id happens to be smallest."""
    from panoptes_spark.pipeline.components import keep_best_representatives

    docs = fx.read_table(spark, sf_dir, "documents")
    comps = _dedup_artifact(spark, sf_dir).components()
    return keep_best_representatives(docs, comps, "n_chars").select(
        "doc_id", "component", "n_chars"
    ).orderBy("doc_id")


def _o_dedup_best_representatives() -> str:
    return f"""
SELECT doc_id, component, n_chars FROM (
  SELECT d.doc_id, c.component, d.n_chars,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN ({O_DEDUP_COMPONENTS}) c ON d.doc_id = c.node
) WHERE rn = 1
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash,
    "dedup_simhash": q_simhash,
    "dedup_representatives": q_dedup_representatives,
    "text_features": q_text_features,
    "text_fingerprint": q_text_fingerprint,
    "ann_cosine_topk": q_ann_topk,
    "ann_ivf_topk": q_ivf_topk,
    "ann_lsh_topk": q_lsh_topk,
    "ann_kmeans_refine": q_kmeans_refine,
    "ann_recall": q_ann_recall,
    "vocab_coverage": q_vocab_coverage,
    "embedding_neardup": q_embedding_neardup,
    "semdedup": q_semdedup,
    "multimodal_features": q_multimodal_features,
    "media_audio_decode": q_media_audio_decode,
    "media_frame_sample": q_media_frame_sample,
    "dedup_simhash_pairs": q_simhash_pairs,
    "dedup_components": q_dedup_components,
    "split_assignment": q_split_assignment,
    "weighted_sample": q_weighted_sample,
    "temperature_mixture": q_temperature_mixture,
    "pack_sequences": q_pack_sequences,
    "token_frequencies": q_token_frequencies,
    "chunk_documents": q_chunk_documents,
    "bm25_search": q_bm25_search,
    "incremental_dedup": q_incremental_dedup,
    "global_quantiles": q_global_quantiles,
    "split_leakage": q_split_leakage,
    "curation_e2e": q_curation_e2e,
    "lm_perplexity": q_lm_perplexity,
    "corpus_divergence": q_corpus_divergence,
    "source_overlap": q_source_overlap,
    "skew_report": q_skew_report,
    "binned_quantiles": q_binned_quantiles,
    "zorder_codes": q_zorder_codes,
    "ks_drift": q_ks_drift,
    "text_repetition": q_text_repetition,
    "text_pii_scrub": q_text_pii_scrub,
    "line_dedup": q_line_dedup,
    "nfc_normalize": q_nfc_normalize,
    "corpus_stats": q_corpus_stats,
    "cap_per_group": q_cap_per_group,
    "url_features": q_url_features,
    "quality_filter": q_quality_filter,
    "decontaminate": q_decontaminate,
    "dup_span_stats": q_dup_spans,
    "bpe_train": q_bpe_train,
    "embedding_quantize": q_embedding_quantize,
    "compaction_plan": q_compaction_plan,
    "pagerank_centrality": q_pagerank,
    "bpe_encode": q_bpe_encode,
    "dq_checks": q_dq_checks,
    "dq_profile": q_dq_profile,
    "fuzzy_join": q_fuzzy_join,
    "sample_per_group": q_sample_per_group,
    "text_readability": q_text_readability,
    "text_tfidf": q_text_tfidf,
    # --- r5 additions (keep chronological: the entry harness reverses each
    # family so the sampling driver's prefix reads newest gates first) ---
    "hybrid_search": q_hybrid_search,
    "leakage_safe_splits": q_leakage_safe_splits,
    # --- r6 additions ---
    "hybrid_search_ivf": q_hybrid_search_ivf,
    "pq_encode": q_pq_encode,
    "pq_recall": q_pq_recall,
    "ann_ivfpq_topk": q_ivfpq_topk,
    # --- r7 additions ---
    "pq_recall_trained": q_pq_recall_trained,
    # --- r8 additions ---
    "ann_index_topk": q_ann_index_topk,
    "dedup_incremental_pairs": q_dedup_incremental_pairs,
    "dedup_winnow_pairs": q_winnow_pairs,
    "dsir_weights": q_dsir_weights,
    "dsir_select": q_dsir_select,
    "cluster_topics": q_cluster_topics,
    "domain_mixture": q_domain_mixture,
    "training_shards": q_training_shards,
    "embedding_drift": q_embedding_drift,
    "trim_dup_spans": q_trim_dup_spans,
    "ngram_novelty": q_ngram_novelty,
    "dedup_stream_pairs": q_dedup_stream_pairs,
    "ivf_recall_trained": q_ivf_recall_trained,
    "perplexity_buckets": q_perplexity_buckets,
    "length_outliers": q_length_outliers,
    "minhash_calibration": q_minhash_calibration,
    "token_budget": q_token_budget,
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "label_balance": q_label_balance,
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "ann_index_append_topk": q_ann_index_append_topk,
    "dedup_best_representatives": q_dedup_best_representatives,
    # --- r10 additions ---
    "dedup_log_compacted_pairs": q_dedup_log_compacted_pairs,
    "ann_index_compacted_topk": q_ann_index_compacted_topk,
    "ann_stream_topk": q_ann_stream_topk,
    # r11: generation lifecycle — drift-triggered retrain + atomic swap
    "ann_retrain_swap": q_ann_retrain_swap,
    # r11: metadata-filtered search (filter before scoring, two
    # selectivities)
    "ann_filtered_topk": q_ann_filtered_topk,
}

ORACLES = {
    "dedup_exact": O_DEDUP_EXACT,
    "dedup_minhash_pairs": O_DEDUP_MINHASH,
    "dedup_simhash": O_SIMHASH,
    "dedup_representatives": O_DEDUP_REPRESENTATIVES,
    "text_features": O_TEXT_FEATURES,
    "text_fingerprint": O_TEXT_FINGERPRINT,
    "ann_cosine_topk": O_ANN_TOPK,
    "ann_ivf_topk": O_IVF_TOPK,
    "ann_lsh_topk": O_LSH_TOPK,
    "ann_kmeans_refine": O_KMEANS_REFINE,
    "ann_recall": _o_ann_recall(),
    "vocab_coverage": _o_vocab_coverage(),
    "embedding_neardup": O_EMBEDDING_NEARDUP,
    "semdedup": O_SEMDEDUP,
    "multimodal_features": O_MULTIMODAL_FEATURES,
    "media_audio_decode": O_MEDIA_AUDIO_DECODE,
    "media_frame_sample": O_MEDIA_FRAME_SAMPLE,
    "dedup_simhash_pairs": O_SIMHASH_PAIRS,
    "dedup_components": O_DEDUP_COMPONENTS,
    "split_assignment": _o_split_assignment(),
    "weighted_sample": _o_weighted_sample(),
    "temperature_mixture": _o_temperature_mixture(),
    "pack_sequences": O_PACK_SEQUENCES,
    "token_frequencies": O_TOKEN_FREQUENCIES,
    "chunk_documents": O_CHUNK_DOCUMENTS,
    "bm25_search": _o_bm25_search(),
    "incremental_dedup": O_INCREMENTAL_DEDUP,
    "global_quantiles": O_GLOBAL_QUANTILES,
    "split_leakage": _o_split_leakage(),
    "curation_e2e": _o_curation_e2e(),
    "lm_perplexity": _o_lm_perplexity(),
    "corpus_divergence": O_CORPUS_DIVERGENCE,
    "source_overlap": _o_source_overlap(),
    "skew_report": O_SKEW_REPORT,
    "binned_quantiles": O_BINNED_QUANTILES,
    "zorder_codes": _o_zorder_codes(),
    "ks_drift": _o_ks_drift(),
    "text_repetition": O_TEXT_REPETITION,
    "text_pii_scrub": _o_text_pii_scrub(),
    "line_dedup": O_LINE_DEDUP,
    "nfc_normalize": O_NFC_NORMALIZE,
    "corpus_stats": O_CORPUS_STATS,
    "cap_per_group": _o_cap_per_group(),
    "url_features": _o_url_features(),
    "quality_filter": _o_quality_filter(),
    "decontaminate": O_DECONTAMINATE,
    "dup_span_stats": O_DUP_SPANS,
    "bpe_train": _o_bpe_train(),
    "embedding_quantize": O_EMBEDDING_QUANTIZE,
    "compaction_plan": O_COMPACTION_PLAN,
    "pagerank_centrality": _o_pagerank(),
    "bpe_encode": _o_bpe_encode(),
    "dq_checks": O_DQ_CHECKS,
    "dq_profile": O_DQ_PROFILE,
    "fuzzy_join": _o_fuzzy_join(),
    "sample_per_group": _o_sample_per_group(),
    "text_readability": O_TEXT_READABILITY,
    "text_tfidf": O_TEXT_TFIDF,
    # --- r5 additions (chronological; see QUERIES note) ---
    "hybrid_search": _o_hybrid_search(),
    "leakage_safe_splits": _o_leakage_safe_splits(),
    # --- r6 additions ---
    "hybrid_search_ivf": _o_hybrid_search_ivf(),
    "pq_encode": O_PQ_ENCODE,
    "pq_recall": _o_pq_recall(),
    "ann_ivfpq_topk": _o_ivfpq_topk(),
    # --- r7 additions ---
    "pq_recall_trained": _o_pq_recall_trained(),
    # --- r8 additions ---
    "ann_index_topk": _o_ivfpq_topk(),
    # the incremental update must equal the full rebuild, so its oracle
    # is the FULL-corpus pair replay
    "dedup_incremental_pairs": O_DEDUP_MINHASH,
    "dedup_winnow_pairs": O_WINNOW_PAIRS,
    "dsir_weights": _o_dsir_weights(),
    "dsir_select": _o_dsir_select(),
    "cluster_topics": O_CLUSTER_TOPICS,
    "domain_mixture": _o_domain_mixture(),
    "training_shards": _o_training_shards(),
    "embedding_drift": O_EMBEDDING_DRIFT,
    "trim_dup_spans": O_TRIM_DUP_SPANS,
    "ngram_novelty": O_NGRAM_NOVELTY,
    # the streamed multi-append fold must equal the one-shot rebuild,
    # so its oracle IS the full-corpus pair replay
    "dedup_stream_pairs": O_DEDUP_MINHASH,
    "ivf_recall_trained": _o_ivf_recall_trained(),
    "perplexity_buckets": _o_perplexity_buckets(),
    "length_outliers": O_LENGTH_OUTLIERS,
    "minhash_calibration": O_MINHASH_CALIBRATION,
    "token_budget": O_TOKEN_BUDGET,
    "boilerplate_ngrams": O_BOILERPLATE_NGRAMS,
    "label_balance": _o_label_balance(),
    "dedup_cluster_stats": _o_dedup_cluster_stats(),
    "ann_index_append_topk": _o_ivfpq_topk(_ANN_APPEND_PRED),
    # r10: compaction must be invisible to query answers — the compacted
    # artifacts answer the SAME oracles as their uncompacted sources
    "dedup_log_compacted_pairs": O_DEDUP_MINHASH,
    "ann_index_compacted_topk": _o_ivfpq_topk(_ANN_APPEND_PRED),
    "ann_stream_topk": _o_ivfpq_topk(_ANN_APPEND_PRED),
    "ann_retrain_swap": _o_ann_retrain_swap(),
    "ann_filtered_topk": _o_ann_filtered_topk(),
    "dedup_best_representatives": _o_dedup_best_representatives(),
}
