"""Product quantization (PQ) for ANN at 100 TB — the FAISS IVF-PQ code
path's compression half.

Scalar SQ8 (``pipeline/quantize.py``) cuts storage 4×; PQ cuts it
~dim·4/m bytes per vector (a 64-dim float32 vector becomes m=8 one-byte
codes: 32×) while keeping distance computation CHEAPER than on raw
vectors: a query precomputes an (m × n_codes) distance table once, and
every corpus vector's approximate distance is m table lookups + adds
(asymmetric distance computation, ADC — Jégou/Douze/Schmid, PAMI'11).

Scale shape:

- ``pq_train``: SEED codebooks — the first ``n_codes`` vectors'
  subvectors (the same deterministic seed rule as
  ``similarity.seed_centroids``; ``orderBy().limit()`` plans as
  TakeOrderedAndProject so only ``n_codes`` rows reach the driver).
  ``pq_train_kmeans`` is the recommended production trainer: it Lloyd-
  refines the seeds per subspace (real PQ recall comes from trained
  codebooks — Jégou §III; the ``pq_recall_trained`` gate records the
  lift). The codebook is (m · n_codes) rows — a dim table either way.
- ``pq_encode``: one NARROW Arrow pass — each batch reshapes to
  (rows, m, ds) and scores against the broadcast codebook tensor with a
  single vectorized distance computation; no shuffle, no per-row SQL.
- ``pq_adc_topk``: the query set (guarded by estimated TABLE BYTES,
  nq·m·n_codes·8 — a row-only guard would admit multi-GiB broadcasts at
  large m/n_codes) becomes broadcast integer distance TABLES; each
  corpus partition streams its codes through vectorized cross-probe
  lookup-sums and emits a tie-safe partition-local top-k, pruned to the
  global top-k by a keyed window — the corpus itself never shuffles,
  and what does move is (query, nbr, int distance) rows,
  ≤ queries·(k+1+ties) per partition.

Engine parity: all distances are integers — the per-subspace squared-L2
is scaled by 1e6 and floored once (``floor(x·1e6 + 0.5)``), so the ADC
sum is exact integer arithmetic with no float-order sensitivity at any
parallelism; ranking ties break (adist asc, nbr_id asc). The DuckDB
oracle replays train/encode/ADC with the same literals
(``gate_queries._o_pq_recall``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "pq_train",
    "pq_train_kmeans",
    "pq_encode",
    "pq_adc_topk",
    "pq_adc_topk_sharded",
    "ivfpq_topk",
]

#: integer distance scale: 6 decimal places survive exactly in int64 for
#: any realistic squared-L2 magnitude (unit vectors: <= 4 per subspace)
_DIST_SCALE = 1_000_000

#: default cap on the broadcast ADC table (nq × m × n_codes int64). The
#: guard is BYTE-based, not row-based: at m=8 / n_codes=256 a row-only
#: guard of 1M queries would admit a ~16 GiB broadcast.
MAX_ADC_TABLE_BYTES = 1 << 30


def _guard_adc_broadcast(
    n_queries: int, m: int, n_codes: int, max_table_bytes: int
) -> None:
    est = n_queries * m * n_codes * 8
    if est > max_table_bytes:
        max_rows = max(1, max_table_bytes // (m * n_codes * 8))
        raise ValueError(
            f"estimated ADC table is {est} bytes "
            f"({n_queries} queries x {m} subspaces x {n_codes} codes x 8) "
            f"> max_table_bytes={max_table_bytes}; shard the probe set "
            f"into batches of <= {max_rows} queries, run the top-k per "
            "batch, and union the results (per-query ranks are "
            "independent, so sharding is exact)"
        )


def _adc_scores_chunked(tabs, codes, k: int):
    """Yield tie-safe local top-k candidates for a block of queries
    against a block of PQ codes, vectorized across ALL probes.

    tabs: (nq, m, n_codes) int64 query distance tables;
    codes: (nc, m) int64 corpus codes. Yields (q_idx, c_idx, dist)
    index arrays per probe-chunk, where the keep-set per probe is every
    candidate at or below its (k+1)-th smallest distance — boundary ties
    included, so a downstream exact ranking (the global window) sees
    every row the (adist asc, nbr_id asc) total order could place in the
    top-k regardless of partition layout. Probes are chunked so the
    (chunk, nc, m) gather stays ~32 MB.
    """
    import numpy as np

    nq = tabs.shape[0]
    nc, m = codes.shape
    if nq == 0 or nc == 0:
        return
    sub = np.arange(m)
    top = min(k + 1, nc)
    step = max(1, (4 << 20) // max(nc * m, 1))
    for s in range(0, nq, step):
        tq = tabs[s : s + step]
        d = tq[:, sub[None, :], codes].sum(axis=2)  # (chunk, nc)
        bound = np.partition(d, top - 1, axis=1)[:, top - 1]
        mask = d <= bound[:, None]
        rows, cols = np.nonzero(mask)
        yield s + rows, cols, d[rows, cols]


def _dims(df: DataFrame, vec_col: str, m: int) -> int:
    row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not row:
        raise ValueError("empty corpus")
    dim = int(row[0].d)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return dim


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: (subspace, code_id, codevec) from the
    first ``n_codes`` vectors by id, split into ``m`` subspaces."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    dim = _dims(corpus, vec_col, m)
    ds = dim // m
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_codes)
        .collect()
    )
    out = []
    for code_id, r in enumerate(rows):
        vec = [float(x) for x in r[1]]
        for sub in range(m):
            out.append((sub, code_id, vec[sub * ds:(sub + 1) * ds]))
    schema = StructType(
        [
            StructField("subspace", IntegerType(), False),
            StructField("code_id", IntegerType(), False),
            StructField("codevec", ArrayType(DoubleType()), False),
        ]
    )
    return corpus.sparkSession.createDataFrame(out, schema)


def pq_train_kmeans(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined PQ codebooks — the recommended production trainer
    (r7; ``pq_train`` seeds alone are deterministic but weak: real PQ
    recall comes from k-means-trained subspace codebooks, Jégou §III).

    Per iteration, ALL ``m`` subspaces train in one pass: a narrow Arrow
    encode assigns every subvector to its nearest codeword, then ONE
    (subspace, code_id, pos)-keyed partial-agg shuffle computes the new
    codeword means — the same MapReduce-Lloyd shape (and the same
    DECIMAL(30,12) order-independent mean arithmetic, 6dp-rounded) as
    ``similarity.kmeans_refine``, so a SQL oracle replays it exactly and
    results are partition-layout-independent. Codewords left empty keep
    their previous value (Lloyd convention). Shuffle volume per round is
    ~corpus·dim rows with map-side combine; iterations fixed and small.

    Each round's codebook is a registered LAZY persist (r11): it is
    (m · n_codes) rows — a dim table by parameter — but as an
    unpersisted plan every downstream collect (``pq_encode`` and
    ``pq_adc_topk`` each do one via ``_codebook_tensor``) re-runs the
    whole training round from the corpus scan. Trained codebooks always
    have ≥ 2 collecting consumers, and the paired A/B inside
    ``pq_recall_trained`` measured the persist 1.0 s faster on the
    one-row-group sf0.1 corpus (4.42 → 3.44 s median). The IVF
    centroids of ``kmeans_refine`` stay unpersisted instead: there the
    recompute measured cheaper than the persist.
    """
    from .dedup import persist_registered

    dim = _dims(corpus, vec_col, m)
    ds = dim // m
    cbs = pq_train(corpus, m, n_codes, id_col, vec_col)
    for _ in range(int(iters)):
        enc = _pq_encode_with_vec(corpus, cbs, id_col, vec_col)
        comps = (
            enc.select(
                "codes", F.posexplode(F.col(vec_col)).alias("gpos", "comp")
            )
            .withColumn("subspace", F.expr(f"CAST(gpos DIV {ds} AS INT)"))
            .select(
                "subspace",
                F.expr("codes[CAST(subspace AS INT)]").alias("code_id"),
                (F.col("gpos") % ds).cast("int").alias("pos"),
                "comp",
            )
        )
        means = comps.groupBy("subspace", "code_id", "pos").agg(
            F.round(
                F.sum(
                    F.col("comp").cast("double").cast("decimal(30,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mval")
        )
        new_cv = means.groupBy("subspace", "code_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s.mval,
            ).alias("new_cv")
        )
        nxt = (
            cbs.join(F.broadcast(new_cv), ["subspace", "code_id"], "left")
            .select(
                "subspace",
                "code_id",
                F.coalesce("new_cv", "codevec").alias("codevec"),
            )
        )
        cbs = persist_registered(nxt)
    return cbs


def _pq_encode_with_vec(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``pq_encode`` that carries the vector through — the training pass
    needs (codes, components) side by side without re-joining the corpus."""
    import numpy as np

    cb = _codebook_tensor(codebooks)
    m, _, ds = cb.shape
    bc = corpus.sparkSession.sparkContext.broadcast(cb)

    def encode(batches):
        import pandas as pd

        cbl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64).reshape(
                len(pdf), m, ds
            )
            d = ((x[:, :, None, :] - cbl[None]) ** 2).sum(-1)
            dint = np.floor(d * _DIST_SCALE + 0.5).astype(np.int64)
            codes = dint.argmin(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "codes": list(codes),
                }
            )

    vec_type = corpus.schema[vec_col].dataType.simpleString()
    return corpus.select(id_col, vec_col).mapInPandas(
        encode,
        schema=f"{id_col} long, {vec_col} {vec_type}, codes array<int>",
    )


def _codebook_tensor(codebooks: DataFrame):
    import numpy as np

    rows = codebooks.select("subspace", "code_id", "codevec").collect()
    m = max(r.subspace for r in rows) + 1
    n_codes = max(r.code_id for r in rows) + 1
    ds = len(rows[0].codevec)
    cb = np.zeros((m, n_codes, ds), dtype=np.float64)
    for r in rows:
        cb[r.subspace, r.code_id] = r.codevec
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): per-subspace nearest-codeword ids.

    Ties break on the LOWER code_id (np.argmin first-min over integer
    distances — the same (dist asc, code asc) order the oracle's
    row_number uses)."""
    import numpy as np

    cb = _codebook_tensor(codebooks)
    m, _, ds = cb.shape
    bc = corpus.sparkSession.sparkContext.broadcast(cb)

    def encode(batches):
        import pandas as pd

        cbl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64).reshape(
                len(pdf), m, ds
            )
            # (rows, m, n_codes): integer-scaled squared L2 per subspace
            d = ((x[:, :, None, :] - cbl[None]) ** 2).sum(-1)
            dint = np.floor(d * _DIST_SCALE + 0.5).astype(np.int64)
            codes = dint.argmin(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def pq_assign_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents_rows=None,
    cb=None,
) -> DataFrame:
    """(id, cell_id, codes): coarse-cell assignment AND PQ encoding in
    ONE narrow Arrow pass — the (cell, codes) index relation every
    IVF-PQ consumer builds. The previous composition ran two separate
    mapInPandas passes (``ivf_assign`` + ``pq_encode``) and re-united
    them with an id-keyed JOIN — a corpus-sized shuffle that exists
    only because the two kernels were separate; fused, the corpus is
    read once, never shuffled, and crosses the Python boundary once
    (r11, guide §2.4/§4). Arithmetic, rounding and tie-breaks are
    identical to the two-pass form (same centroid lexsort, same
    integer-scaled argmin), so results are row-for-row equal.

    ``cents_rows``/``cb``: callers that already hold the collected
    centroid rows / codebook tensor (``ivfpq_topk``, the index handle)
    pass them through so the dim tables are collected ONCE per call —
    each redundant collect is a Spark job, and when the centroid frame
    is an unpersisted trained chain it replays the whole Lloyd lineage
    (r12)."""
    import numpy as np

    spark = corpus.sparkSession
    cents = (
        cents_rows
        if cents_rows is not None
        else centroids.select("cell_id", "centroid").collect()
    )
    c_ids = np.array([r.cell_id for r in cents], dtype=np.int64)
    c_mat = np.array([r.centroid for r in cents], dtype=np.float64)
    c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
    if cb is None:
        cb = _codebook_tensor(codebooks)
    m, _, ds = cb.shape
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norms, cb))

    def fused(batches):
        import pandas as pd

        b_cids, b_cmat, b_cnorms, cbl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            ccos = np.round(
                (mat @ b_cmat.T) / np.outer(norms, b_cnorms), 6
            )
            order = np.lexsort(
                (np.broadcast_to(b_cids, ccos.shape), -ccos), axis=1
            )[:, 0]
            x = mat.reshape(len(pdf), m, ds)
            d = ((x[:, :, None, :] - cbl[None]) ** 2).sum(-1)
            dint = np.floor(d * _DIST_SCALE + 0.5).astype(np.int64)
            codes = dint.argmin(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell_id": b_cids[order].astype(np.int32),
                    "codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        fused, schema=f"{id_col} long, cell_id int, codes array<int>"
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1_000_000,
    max_table_bytes: int = MAX_ADC_TABLE_BYTES,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: (query_id, nbr_id,
    adist, rank). ``adist`` is the exact INTEGER sum of the per-subspace
    scaled distances (smaller = closer); self-matches excluded.

    The query-set broadcast is guarded by BYTES of the ADC table
    (nq·m·n_codes·8), not just rows — the error message says how to
    shard oversized probe sets. Per-partition scoring is vectorized
    across all probes with a tie-safe boundary cut
    (:func:`_adc_scores_chunked`)."""
    import numpy as np

    cb = _codebook_tensor(codebooks)
    m, n_codes, ds = cb.shape
    spark = corpus_codes.sparkSession
    qrows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"query set exceeds max_query_rows={max_query_rows}; "
            "shard the probe set"
        )
    _guard_adc_broadcast(len(qrows), m, n_codes, max_table_bytes)
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64).reshape(
        len(qrows), m, ds
    )
    # (nq, m, n_codes) integer distance tables — the whole query-side
    # work, done once and broadcast
    tabs = np.floor(
        ((q_mat[:, :, None, :] - cb[None]) ** 2).sum(-1) * _DIST_SCALE + 0.5
    ).astype(np.int64)
    bc = spark.sparkContext.broadcast((q_ids, tabs))

    def adc(batches):
        import pandas as pd

        b_qids, b_tabs = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            for qi, ci, d in _adc_scores_chunked(b_tabs, codes, k):
                keep = c_ids[ci] != b_qids[qi]
                yield pd.DataFrame(
                    {
                        "query_id": b_qids[qi][keep],
                        "nbr_id": c_ids[ci][keep],
                        "adist": d[keep],
                    }
                )

    scored = corpus_codes.select(id_col, "codes").mapInPandas(
        adc, schema="query_id long, nbr_id long, adist long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "adist", "rank")
    )


def pq_adc_topk_sharded(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_table_bytes: int = MAX_ADC_TABLE_BYTES,
) -> DataFrame:
    """``pq_adc_topk`` for probe sets too large to broadcast in one ADC
    table: shards the query set into byte-budgeted batches, runs the
    top-k per shard, and unions the results — EXACT, because per-query
    ranks are independent of every other query. This closes the loop the
    byte guard's error message describes; prefer it as the entry point
    when the probe-set size is unknown.

    Scale shape: ceil(nq / shard) corpus scans, each with a
    ≤ ``max_table_bytes`` broadcast. For probe sets that large, the
    IVF-PQ composition (cells prune the corpus per probe) is usually the
    better plan — this is the flat-scan fallback.

    Driver-memory bound (r8): the probe set is NEVER collected whole —
    at the sizes this entry point exists for, a full ``collect()`` is
    itself the OOM the byte guard protects against. The probe frame is
    repartitioned to ~shard-sized partitions and streamed through
    ``toLocalIterator`` (the driver holds ≤ ~2 shards of vectors at any
    instant); each shard's result is eagerly materialized
    (``localCheckpoint``) so its ADC-table broadcast is released before
    the next shard builds its own — shard broadcasts never accumulate."""
    cb = _codebook_tensor(codebooks)
    m, n_codes, _ = cb.shape
    shard = max(1, max_table_bytes // (m * n_codes * 8))
    spark = corpus_codes.sparkSession
    qsel = queries.select(id_col, vec_col)
    nq = qsel.count()
    if nq == 0:
        # consistent with pq_adc_topk on the same input: empty result,
        # not an error — the sharded form is a drop-in superset
        return spark.createDataFrame(
            [], "query_id long, nbr_id long, adist long, rank int"
        )
    n_batches = -(-nq // shard)
    if n_batches == 1:
        return pq_adc_topk(
            corpus_codes, qsel, codebooks, k=k, id_col=id_col,
            vec_col=vec_col, max_query_rows=shard,
            max_table_bytes=max_table_bytes,
        )
    parts = []
    buf: list = []

    def flush():
        batch = spark.createDataFrame(buf, qsel.schema)
        part = pq_adc_topk(
            corpus_codes, batch, codebooks, k=k, id_col=id_col,
            vec_col=vec_col, max_query_rows=shard,
            max_table_bytes=max_table_bytes,
        )
        # eager: results are probe-sized (≤ shard·(k+ties) rows); the
        # checkpoint cuts the lineage so the shard's broadcast is GC-able
        parts.append(part.localCheckpoint(eager=True))
        buf.clear()

    for row in qsel.repartition(n_batches).toLocalIterator():
        buf.append(row)
        if len(buf) >= shard:
            flush()
    if buf:
        flush()
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1_000_000,
    max_table_bytes: int = MAX_ADC_TABLE_BYTES,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN plan — coarse cells prune the
    corpus (each query touches ~nprobe/n_cells of it), PQ codes stand in
    for the vectors inside each cell, and scoring is pure integer table
    lookups (ADC). Returns (query_id, nbr_id, adist, rank).

    Scale shape (r11): the corpus is touched by exactly ONE fused
    narrow Arrow pass (``pq_assign_encode`` — cell assignment AND PQ
    encoding, no id-keyed re-join) producing the (cell, nbr, codes)
    index — the production artifact a real deployment materializes
    once and reuses per query batch. Per probe batch, the only work is
    a narrow per-cell lookup-sum over the broadcast integer distance
    tables (``_adc_rank_broadcast`` — the index never shuffles),
    vectorized across ALL probes of the cell; candidate rows leaving
    Python are
    ≤ |queries|·nprobe·(k+1+ties). Exactness of the local prune: a
    corpus vector lives in exactly one cell, the local keep-set is
    boundary-tie-widened (every candidate at or below the k-th best
    distance survives), and both ranking levels share the
    (adist asc, nbr_id asc) total order — so the result equals all-pair
    ADC at any partition layout. The ADC broadcast is guarded by BYTES
    (nq·m·n_codes·8, ``max_table_bytes``); shard oversized probe sets
    per the error message.
    """
    import numpy as np

    cb = _codebook_tensor(codebooks)
    m, n_codes, ds = cb.shape
    spark = corpus.sparkSession

    qrows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"query set exceeds max_query_rows={max_query_rows}; "
            "shard the probe set"
        )
    _guard_adc_broadcast(len(qrows), m, n_codes, max_table_bytes)
    # centroid rows collected ONCE for both consumers below — a second
    # collect is a Spark job, and on a trained (unpersisted) centroid
    # chain it replays the whole Lloyd lineage (r12)
    cents_rows = centroids.select("cell_id", "centroid").collect()
    # (id, cell, codes) in ONE fused narrow pass — the previous
    # composition (separate assign + encode passes re-united by an
    # id-keyed join, then a cogroup exchange of the whole index by
    # cell) shuffled the corpus twice per probe batch; the index
    # relation now never shuffles at all (r11)
    c_idx = pq_assign_encode(
        corpus, centroids, codebooks, id_col, vec_col,
        cents_rows=cents_rows, cb=cb,
    ).select(F.col(id_col).alias("nbr_id"), "cell_id", "codes")
    return _adc_rank_broadcast(c_idx, qrows, cents_rows, cb, k, nprobe)


def _adc_rank_broadcast(
    c_idx: DataFrame,
    qrows,
    centroids: DataFrame,
    cb,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Rank an (nbr_id, cell_id, codes) index relation against a
    driver-resident probe batch: the queries' cell probes and integer
    ADC distance tables are computed driver-side (identical arithmetic
    and tie-breaks to ``ivf_assign``/the cogrouped kernel), broadcast,
    and applied in ONE narrow Arrow pass over the index — each batch
    groups its rows by cell and scores exactly the queries probing
    that cell with the tie-safe chunked lookup-sum. That pass runs as
    ONE wave of at most ``defaultParallelism`` Python tasks (a
    shuffle-free ``coalesce`` of the scan's splits): the scan has a
    split per probed cell file per segment, and a task per split would
    pay a Python task's fixed start cost per split, not per row. The
    global window prunes the boundary-widened local keep-sets to the exact
    (adist asc, nbr_id asc) top-k — identical results to the cogroup
    plan at any partition layout, with no index shuffle and one fewer
    Python stage.

    ``centroids`` may be the centroid DataFrame or its already-collected
    rows — callers holding the rows pass them through so the dim table
    is collected once per top-k call (r12)."""
    import numpy as np

    spark = c_idx.sparkSession
    out_schema = "query_id long, nbr_id long, adist long, rank int"
    if not qrows:
        return spark.createDataFrame([], out_schema)
    m = cb.shape[0]
    ds = cb.shape[2]
    cents = (
        centroids
        if isinstance(centroids, list)
        else centroids.select("cell_id", "centroid").collect()
    )
    cc_ids = np.array([r.cell_id for r in cents], dtype=np.int64)
    cc_mat = np.array([r.centroid for r in cents], dtype=np.float64)
    cc_norms = np.sqrt((cc_mat * cc_mat).sum(axis=1))
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_flat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norms = np.sqrt((q_flat * q_flat).sum(axis=1))
    # driver-side probe assignment — same rounding + lexsort tie order
    # as ivf_assign(nprobe=nprobe)
    qcos = np.round((q_flat @ cc_mat.T) / np.outer(q_norms, cc_norms), 6)
    np_k = min(int(nprobe), len(cents))
    order = np.lexsort(
        (np.broadcast_to(cc_ids, qcos.shape), -qcos), axis=1
    )[:, :np_k]
    probe_of: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for cell in cc_ids[order[qi]]:
            probe_of.setdefault(int(cell), []).append(qi)
    probe_idx = {
        c: np.array(v, dtype=np.int64) for c, v in probe_of.items()
    }
    q_mat = q_flat.reshape(len(qrows), m, ds)
    tabs = np.floor(
        ((q_mat[:, :, None, :] - cb[None]) ** 2).sum(-1) * _DIST_SCALE + 0.5
    ).astype(np.int64)
    bc = spark.sparkContext.broadcast((q_ids, tabs, probe_idx))
    probed = sorted(probe_idx)

    def adc(batches):
        import pandas as pd

        b_qids, b_tabs, b_probe = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf["cell_id"].to_numpy(dtype=np.int64)
            ids = pdf["nbr_id"].to_numpy(dtype=np.int64)
            codes_all = np.array(list(pdf["codes"]), dtype=np.int64)
            for cell in np.unique(cells):
                qidx = b_probe.get(int(cell))
                if qidx is None:
                    continue
                rows = np.nonzero(cells == cell)[0]
                c_ids = ids[rows]
                codes = codes_all[rows]
                cell_tabs = b_tabs[qidx]
                for qi, ci, d in _adc_scores_chunked(cell_tabs, codes, k):
                    keep = c_ids[ci] != b_qids[qidx][qi]
                    yield pd.DataFrame(
                        {
                            "query_id": b_qids[qidx][qi][keep],
                            "nbr_id": c_ids[ci][keep],
                            "adist": d[keep],
                        }
                    )

    # one Python wave (see docstring). On a 4-core box a trivial
    # mapInPandas costs ~2.0 s over 26 partitions and ~0.3 s over 1,
    # against ~0.15 s for a JVM-only stage over 26 partitions.
    scored = (
        c_idx.where(F.col("cell_id").isin(probed))
        .select("nbr_id", "cell_id", "codes")
        .coalesce(spark.sparkContext.defaultParallelism)
        .mapInPandas(adc, schema="query_id long, nbr_id long, adist long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "adist", "rank")
    )
