"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline. Query set × corpus
  cross join restricted by a block hint; all arithmetic via higher-order
  array functions (JVM-side, no Python).
- IVF (inverted-file) top-k: coarse quantization to deterministic seed
  centroids, probe only the nearest ``nprobe`` cells — the 100 TB path:
  the corpus is partitioned by cell, each query touches a few cells
  instead of every row.
- random-hyperplane LSH bucketing for cosine near-dup blocking.

Engine-parity notes: cosine is computed as a left-to-right fold and
rounded to 6dp so Spark/DuckDB float sums compare equal; top-k ties break
on (rounded cosine desc, id asc) making row_number deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate({a}, cast(0.0 as double),"
    " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
)


def cosine_expr(a: str, b: str) -> str:
    return (
        f"round({DOT.format(a=a, b=b)} / "
        f"({NORM.format(a=a)} * {NORM.format(a=b)}), 6)"
    )


#: brute-force collects the QUERY set to the driver for broadcast; refuse
#: query sets past this bound and point the caller at ivf_topk instead.
MAX_BROADCAST_QUERY_ROWS = 1_000_000

#: ivf_topk's broadcast fast path is additionally BYTE-bounded: the row
#: cap alone admits multi-GB driver collects at realistic dims (1M rows
#: × dim 512 × 8B = 4 GB). The probe collect pulls at most
#: PROBE_CHUNK_ROWS full rows first (covers every retrieval-norm batch
#: in one job); only if that cap is hit is the row width known and the
#: byte budget applied, so the data-sized fallback never collects more
#: than max(PROBE_CHUNK_ROWS rows, MAX_BROADCAST_QUERY_BYTES).
MAX_BROADCAST_QUERY_BYTES = 1 << 28
PROBE_CHUNK_ROWS = 65_536


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_query_rows: int = MAX_BROADCAST_QUERY_ROWS,
) -> DataFrame:
    """Exact top-k neighbors per query (self excluded).

    The query matrix is collected and broadcast — guarded by
    ``max_query_rows`` (broadcast of the *query* set is the design here:
    the corpus side streams through partition-local BLAS matmuls and is
    never materialized). Each corpus partition scores its block and emits
    a partition-local top-k, pruned to the global top-k by a window.
    Exactness baseline; the IVF variant is the 100 TB path.
    """
    import numpy as np

    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"query set exceeds max_query_rows={max_query_rows}; "
            "route large query sets through ivf_topk instead of the "
            "broadcast brute-force path"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def block(batches):
        import pandas as pd

        b_qids, b_qmat, b_qnorms = bc.value
        nq = len(b_qids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
            cos = np.round(
                (b_qmat @ c_mat.T) / np.outer(b_qnorms, c_norms), 6
            )
            # partition-local top-k for ALL queries in one vectorized
            # partition along axis 1 (the per-query python loop was
            # the sf1 bottleneck at 800 probes x many Arrow batches);
            # +1 headroom for the self-match dropped below. TIE-SAFE:
            # every candidate at or above the boundary score is kept
            # (argpartition alone picks arbitrarily among equals, which
            # could drop the tie-order-preferred lower nbr_id and make
            # the result partition-layout-dependent); the global window
            # prunes to the true top-k with the (cosine desc, nbr_id
            # asc) total order.
            top = min(k + 1, cos.shape[1])
            bound = -np.partition(-cos, top - 1, axis=1)[:, top - 1]
            mask = cos >= bound[:, None]
            mask &= c_ids[None, :] != b_qids[:, None]
            rows, cols = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": b_qids[rows],
                    "nbr_id": c_ids[cols],
                    "cosine": cos[rows, cols],
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        block, schema="query_id long, nbr_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells
    (by cosine). centroids: (cell_id, centroid array<float>) — dim-table
    sized, broadcast as a numpy matrix.

    One NARROW pass: each Arrow batch scores against the centroid matrix
    with a single BLAS matmul and emits ``nprobe`` rows per vector — no
    |cells|× crossJoin row explosion, no shuffle, no per-row SQL fold.
    Ties break (cosine desc, cell_id asc) via lexsort, matching the
    row_number ordering the DuckDB oracle uses. Rounding (6dp) matches
    the brute-force path, whose oracle equality is gate-proven.

    ``keep_cols`` pass extra input columns through unchanged (r11) —
    callers tagging rows (e.g. drift's old/new snapshot flag) can then
    assign a UNION in one pass instead of one pass per tag.
    """
    import numpy as np

    keep = list(keep_cols or [])
    spark = df.sparkSession
    cents = centroids.select("cell_id", "centroid").collect()
    c_ids = np.array([r.cell_id for r in cents], dtype=np.int64)
    c_mat = np.array([r.centroid for r in cents], dtype=np.float64)
    c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norms))
    k = min(nprobe, len(cents))

    def assign(batches):
        import pandas as pd

        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = np.round((mat @ b_mat.T) / np.outer(norms, b_norms), 6)
            # per row: order by (-cosine, cell_id) and take the first k
            order = np.lexsort((np.broadcast_to(b_ids, cos.shape), -cos), axis=1)
            top = order[:, :k]
            rows = np.repeat(np.arange(len(pdf)), k)
            cells = top.ravel()
            out = {
                id_col: pdf[id_col].to_numpy()[rows],
                vec_col: pdf[vec_col].to_numpy()[rows],
                "cell_id": b_ids[cells].astype(np.int32),
                "cell_cos": cos[rows, cells],
            }
            for kc in keep:
                out[kc] = pdf[kc].to_numpy()[rows]
            yield pd.DataFrame(out)

    vec_type = df.schema[vec_col].dataType.simpleString()
    keep_schema = "".join(
        f", {kc} {df.schema[kc].dataType.simpleString()}" for kc in keep
    )
    return df.select(id_col, vec_col, *keep).mapInPandas(
        assign,
        schema=(
            f"{id_col} long, {vec_col} {vec_type},"
            f" cell_id int, cell_cos double{keep_schema}"
        ),
    )


def ivf_auto_cells(n_rows: int, target_cell_rows: int = 8192) -> int:
    """Size the coarse quantizer so ONE CELL fits an executor's cogroup:
    the ivf_topk/semdedup kernels load a whole cell (~|C|/n_cells rows
    with full embeddings) as one in-memory pandas group, so n_cells must
    GROW with the corpus. Power-of-two ≥ |C|/target_cell_rows, floor 16
    — at target 8192 rows × 64-dim float64 a cell is ~4 MB; FAISS's
    √|C| heuristic lands in the same decade for corpora ≤ ~1e9."""
    n = max(int(n_rows), 1)
    cells = 16
    while cells * int(target_cell_rows) < n:
        cells <<= 1
    return cells


def seed_limit_frame(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The bounded seed selection as a DataFrame: orderBy().limit() plans
    as TakeOrderedAndProject (partition-local top-n, NO global window, NO
    single-partition shuffle) — exposed separately so tests can assert
    the physical plan."""
    return (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("centroid"))
        .orderBy(F.col("__id").asc())
        .limit(n_cells)
    )


def seed_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse centroids: the first ``n_cells`` vectors by id
    (a fixed, reproducible choice — k-means would drift between engines).

    ``orderBy().limit()`` plans as TakeOrderedAndProject: each partition
    keeps its local top-``n_cells``, and exactly ``n_cells`` rows reach the
    driver — never the corpus, and no single-partition global window
    (``WindowExec: No Partition Defined``). Centroids are a dim table by
    construction (bounded by the parameter, not the data), so enumerating
    the ``n_cells`` rows driver-side for the 0-based cell_id is safe at any
    corpus size.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = corpus.sparkSession
    rows = seed_limit_frame(corpus, n_cells, id_col, vec_col).collect()
    vec_type = corpus.schema[vec_col].dataType
    schema = StructType(
        [
            StructField("cell_id", IntegerType(), False),
            StructField("centroid", vec_type, True),
        ]
    )
    return spark.createDataFrame(
        [(i, r.centroid) for i, r in enumerate(rows)], schema
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of coarse IVF centroids: ``iters`` rounds of
    (assign to nearest cell by cosine) → (per-cell component mean).
    Returns (cell_id, centroid array<double>).

    The deterministic twin of MLlib's KMeans for the IVF seeding path —
    fixed iteration count, fixed seeds (``seed_centroids``), and
    cross-engine-exact arithmetic so a SQL oracle can replay it:
    component sums go through DECIMAL(30,12) (order-independent), the
    mean is a single correctly-rounded double division, rounded to 6dp
    like every cosine in this module.

    Scale shape per iteration: one narrow Arrow-batched assignment pass
    (`ivf_assign` — broadcast centroid matmul, no shuffle) + one
    partial-aggregating shuffle of N×dim (cell_id, pos, comp) rows keyed
    by (cell_id, pos) — the classic MapReduce k-means; shuffle volume is
    ~the corpus itself, map-side combine collapses it to |cells|×dim per
    partition. Cells left empty by an iteration keep their previous
    centroid (Lloyd convention).

    The result is one lazy, unpersisted plan chained over the rounds.
    Each round's ``ivf_assign`` collects the previous round's centroids
    (|cells| rows), so round r replays the r-1 earlier rounds from the
    corpus scan. At the small fixed iteration counts used here (1-2)
    that recompute measured cheaper than pinning each round (paired A/B
    at sf0.1: unpersisted 2.39 s vs persist 3.26 s vs driver-collect
    4.74 s).
    """
    cents = centroids
    for _ in range(int(iters)):
        assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
        means = (
            assigned.select(
                "cell_id", F.posexplode(F.col(vec_col)).alias("pos", "comp")
            )
            .groupBy("cell_id", "pos")
            .agg(
                # float -> double first (exact widening) so both engines
                # quantize the same binary value to DECIMAL, not Spark's
                # shortest-string float repr
                F.round(
                    F.sum(
                        F.col("comp").cast("double").cast("decimal(30,12)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
        )
        new_cents = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("new_centroid")
        )
        cents = (
            cents.select(
                "cell_id",
                F.transform(
                    F.col("centroid"), lambda x: x.cast("double")
                ).alias("centroid"),
            )
            .join(F.broadcast(new_cents), "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce("new_centroid", "centroid").alias("centroid"),
            )
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    filter=None,
) -> DataFrame:
    """Approximate top-k: corpus assigned to 1 cell, queries probe
    ``nprobe`` cells, scored CELL-LOCALLY — per-query work drops from
    |C| to |C| * nprobe / n_cells.

    ``filter`` (r11): SQL expr/Column over the CORPUS rows, applied
    before assignment/scoring — metadata-filtered retrieval ("top-k
    WHERE lang='en'") with the FAISS IDSelector semantics: results are
    the true top-k of the filtered corpus, never a post-truncation
    filter of unfiltered ranks. ``centroids`` stay whatever the caller
    built (typically full-corpus geometry), so a highly selective
    filter empties probed cells — raise ``nprobe`` as selectivity
    drops.

    Scale shape (r11): probe sets within the broadcast guard (the
    retrieval norm — a query batch, not a corpus) take the
    `_ivf_topk_broadcast` plan: query cell-probes computed driver-side,
    ONE fused narrow Arrow pass over the corpus (assign + per-cell
    score + tie-safe local top-k), no corpus shuffle at all; only
    candidate rows (≤ |queries|·nprobe·(k+1+ties)) reach the global
    rank window. Probe sets PAST the guard fall back to the cogroup
    plan: two narrow assignment passes, one shuffle keying both sides
    by cell_id for a cogrouped per-cell BLAS matmul emitting each
    query's local top-k within the cell (plus boundary ties).
    Exactness of either prune: a query's global top-k ⊆ union of its
    fragment-local boundary-widened top-k (the local keep-set contains
    every candidate tied-or-above its k-th best score, so no row the
    global (cosine desc, nbr_id asc) order would rank ≤ k can be
    dropped locally) — results are identical to all-pair scoring at any
    partition layout; the DuckDB oracle still scores all pairs.

    Per-cell memory bound: the cogroup loads ONE cell — all corpus rows
    assigned to it plus the queries probing it — as a single in-memory
    pandas group (~|C|/n_cells rows with full embeddings). Size
    ``n_cells`` so a cell fits an executor (e.g. grow it ~√|C| or
    |C|·dim·8 / target_bytes); the cell matmul is then a bounded-block
    BLAS call, never a corpus-sized allocation.
    """
    import numpy as np

    if filter is not None:
        corpus = corpus.where(filter)
    # bounded probe sets (the retrieval norm: a query BATCH, not a
    # corpus) take the broadcast plan — the probe set and its cell
    # assignment live driver-side, the corpus streams through ONE fused
    # narrow Arrow pass (assign + per-cell score + tie-safe local
    # top-k), and the only exchange is the candidate rows feeding the
    # global rank window (≤ |Q|·nprobe·(k+1+ties)). The cogroup plan
    # below shuffles the ASSIGNED CORPUS by cell_id every call — at
    # 100 TB that is a full corpus shuffle per probe batch, at bench SF
    # it is two extra Python stages and an exchange; it remains the
    # right plan only when the probe set itself is data-sized (guide
    # §3.1: broadcast the side that fits).
    # Probe in two byte-bounded steps rather than collecting up to the
    # full row cap blind: a data-sized probe set must not pull GBs of
    # embeddings to the driver just to learn it is data-sized.
    q_proj = queries.select(id_col, vec_col)
    probe_cap = min(MAX_BROADCAST_QUERY_ROWS, PROBE_CHUNK_ROWS)
    qrows = q_proj.limit(probe_cap + 1).collect()
    if len(qrows) <= probe_cap:
        return _ivf_topk_broadcast(
            corpus, qrows, centroids, id_col, vec_col, k, nprobe
        )
    dim = max(1, len(qrows[0][1] or ()))
    cap = min(MAX_BROADCAST_QUERY_ROWS, MAX_BROADCAST_QUERY_BYTES // (dim * 8))
    if cap > probe_cap:
        qrows = q_proj.limit(cap + 1).collect()
        if len(qrows) <= cap:
            return _ivf_topk_broadcast(
                corpus, qrows, centroids, id_col, vec_col, k, nprobe
            )
    del qrows
    c_assigned = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("cv"), "cell_id"
    )
    q_assigned = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell_id"
    )

    def cell_topk(left, right):
        import pandas as pd

        empty = pd.DataFrame({"query_id": [], "nbr_id": [], "cosine": []})
        if len(left) == 0 or len(right) == 0:
            return empty
        q_ids = left["query_id"].to_numpy(dtype=np.int64)
        q_mat = np.array(list(left["qv"]), dtype=np.float64)
        c_ids = right["nbr_id"].to_numpy(dtype=np.int64)
        c_mat = np.array(list(right["cv"]), dtype=np.float64)
        q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
        c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
        cos = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 6)
        # local top-k for ALL probing queries at once, TIE-SAFE: keep
        # every candidate at or above the k-th best score (+1 headroom
        # for the self-match) — an argpartition-only cut picks
        # arbitrarily among boundary ties, dropping rows the global
        # (cosine desc, nbr_id asc) order prefers. The global window
        # does the exact ranking over the widened keep-set.
        top = min(k + 1, cos.shape[1])
        bound = -np.partition(-cos, top - 1, axis=1)[:, top - 1]
        mask = cos >= bound[:, None]
        mask &= c_ids[None, :] != q_ids[:, None]
        rows, cols = np.nonzero(mask)
        return pd.DataFrame(
            {
                "query_id": q_ids[rows],
                "nbr_id": c_ids[cols],
                "cosine": cos[rows, cols],
            }
        )

    scored = (
        q_assigned.groupBy("cell_id")
        .cogroup(c_assigned.groupBy("cell_id"))
        .applyInPandas(cell_topk, schema="query_id long, nbr_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def _ivf_topk_broadcast(
    corpus: DataFrame,
    qrows,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The bounded-probe IVF plan: queries and their cell probes are
    computed driver-side from the collected centroid matrix (identical
    arithmetic and (cosine desc, cell_id asc) tie-break to
    ``ivf_assign``), then ONE fused narrow Arrow pass over the corpus
    assigns each batch row to its cell and scores it against exactly
    the queries probing that cell, emitting a tie-safe local top-k per
    (query, batch fragment). The global window prunes to the exact
    per-query top-k — identical to the cogroup plan at any partition
    layout (the fragment-local keep-set is boundary-tie-widened, so no
    row the (cosine desc, nbr_id asc) total order ranks ≤ k can be
    dropped locally; a corpus vector lives in exactly one cell, so no
    pair appears twice). No corpus shuffle, no second Python stage."""
    import numpy as np

    spark = corpus.sparkSession
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    out_schema = "query_id long, nbr_id long, cosine double, rank int"
    if not qrows:
        return spark.createDataFrame([], out_schema)
    cents = centroids.select("cell_id", "centroid").collect()
    c_ids = np.array([r.cell_id for r in cents], dtype=np.int64)
    c_mat = np.array([r.centroid for r in cents], dtype=np.float64)
    c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
    # driver-side query probes — same rounding + lexsort tie order as
    # ivf_assign(nprobe=nprobe)
    qcos = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 6)
    np_k = min(int(nprobe), len(cents))
    order = np.lexsort(
        (np.broadcast_to(c_ids, qcos.shape), -qcos), axis=1
    )[:, :np_k]
    probe_of: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for cell in c_ids[order[qi]]:
            probe_of.setdefault(int(cell), []).append(qi)
    probe_idx = {
        c: np.array(v, dtype=np.int64) for c, v in probe_of.items()
    }
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, q_norms, probe_idx, c_ids, c_mat, c_norms)
    )

    def fused(batches):
        import pandas as pd

        b_qids, b_qmat, b_qnorms, b_probe, b_cids, b_cmat, b_cnorms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            ccos = np.round(
                (mat @ b_cmat.T) / np.outer(norms, b_cnorms), 6
            )
            a_order = np.lexsort(
                (np.broadcast_to(b_cids, ccos.shape), -ccos), axis=1
            )[:, 0]
            cell_of = b_cids[a_order]
            for cell in np.unique(cell_of):
                qidx = b_probe.get(int(cell))
                if qidx is None:
                    continue
                rows = np.nonzero(cell_of == cell)[0]
                s_ids = ids[rows]
                s_mat = mat[rows]
                s_norms = norms[rows]
                cos = np.round(
                    (b_qmat[qidx] @ s_mat.T)
                    / np.outer(b_qnorms[qidx], s_norms),
                    6,
                )
                top = min(k + 1, cos.shape[1])
                bound = -np.partition(-cos, top - 1, axis=1)[:, top - 1]
                mask = cos >= bound[:, None]
                mask &= s_ids[None, :] != b_qids[qidx][:, None]
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "query_id": b_qids[qidx][r],
                        "nbr_id": s_ids[c],
                        "cosine": cos[r, c],
                    }
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        fused, schema="query_id long, nbr_id long, cosine double"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH top-k (the bucketed ANN alternative to IVF)
# ---------------------------------------------------------------------------

LSH_PLANES_TAG = "rhp"


def lsh_auto_planes(n_rows: int, bands: int = 4) -> int:
    """Standard LSH sizing: bits-per-band ``r`` grows with log2|C| so
    per-band bucket occupancy (|C| / 2^r) stays roughly CONSTANT
    (~16-32 docs) instead of growing linearly with the corpus — with a
    fixed r the candidate count per query is bands·|C|/2^r, which the
    r6 sf1 soak measured as the gate's superlinear tail (10.6× at 10×
    data). ``r = max(6, floor(log2 |C|) - 4)``; ``n_planes = bands·r``.

    Integer-exact (bit_length, no float log) so the DuckDB oracle's
    ``floor(log2(count(*)))`` twin computes the identical ``r`` at any
    corpus size."""
    r = max(6, min(max(int(n_rows), 1).bit_length() - 1 - 4, 30))
    return bands * r


def lsh_hyperplanes(
    dim: int, n_planes: int, tag: str = LSH_PLANES_TAG
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — reproducible in any
    engine (the DuckDB oracle embeds the same literals), no RNG state."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{tag}:{p}:{j}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _planes_sql_literal(planes: list[list[float]]) -> str:
    rows = ",".join(
        "array(" + ",".join(f"cast({x} as double)" for x in row) + ")"
        for row in planes
    )
    return f"array({rows})"


def lsh_band_codes(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, band, code): the sign pattern of ``planes`` grouped into
    ``bands`` integer codes per vector. ±1 components make each plane dot a
    signed sum of coordinates — bit-identical across engines for the same
    fold order, so the sign (and hence the bucket) is oracle-reproducible.

    Narrow (pure projection + explode): one pass, no shuffle."""
    n = len(planes)
    chunk = n // bands
    lit = _planes_sql_literal(planes)
    codes = (
        f"transform(sequence(0, {bands - 1}), b -> struct(b as band,"
        f" aggregate(zip_with(slice({lit}, b*{chunk}+1, {chunk}),"
        f" sequence(0, {chunk - 1}), (pl, i) -> CASE WHEN"
        f" aggregate(zip_with(cast({vec_col} as array<double>), pl,"
        f" (x, y) -> x * y), cast(0.0 as double), (a, v) -> a + v) >= 0"
        f" THEN shiftleft(1, i) ELSE 0 END), 0, (a, v) -> a + v) as code))"
    )
    return (
        df.select(id_col, vec_col, F.explode(F.expr(codes)).alias("bc"))
        .select(id_col, vec_col, "bc.band", "bc.code")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int | None = None,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH banding: a candidate is
    any corpus vector agreeing with the query on ALL bits of ≥1 band
    (``n_planes/bands``-bit chunks). Exact cosine re-ranks candidates.

    ``n_planes=None`` (default) AUTO-SIZES the bit budget from the
    corpus size (:func:`lsh_auto_planes`): bits-per-band ≈ log2|C| - 4,
    keeping per-band bucket occupancy — and therefore per-query
    candidate cost — roughly constant as the corpus grows. Pass an
    explicit ``n_planes`` to pin recall/cost manually.

    The 100 TB shape: both sides get band codes in a narrow pass, the only
    shuffle is the (band, code) equi-join — per-query work is the bucket
    occupancy, not |C|. Recall tunes with bands (more, shorter bands =
    higher recall, more candidates); the IVF variant is the partition-
    pruned alternative when a coarse quantizer fits the data better."""
    import numpy as np

    if n_planes is None:
        n_planes = lsh_auto_planes(corpus.count(), bands)
    planes = lsh_hyperplanes(dim, n_planes)
    c = lsh_band_codes(corpus, planes, bands, id_col, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("cv"), "band", "code"
    )
    q = lsh_band_codes(queries, planes, bands, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "band", "code"
    )
    pairs = q.join(c, ["band", "code"]).where(
        F.col("query_id") != F.col("nbr_id")
    )

    # vectorized per-batch einsum (Arrow) like ivf_topk — the SQL array
    # fold was interpreted per element and dominated at sf1, where a
    # clustered corpus makes bucket occupancy (hence the candidate pair
    # count) grow superlinearly
    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(list(pdf["qv"]), dtype=np.float64)
            cm = np.array(list(pdf["cv"]), dtype=np.float64)
            dots = np.einsum("ij,ij->i", qm, cm)
            qn = np.sqrt((qm * qm).sum(axis=1))
            cn = np.sqrt((cm * cm).sum(axis=1))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "nbr_id": pdf["nbr_id"],
                    "cosine": np.round(dots / (qn * cn), 6),
                }
            )

    scored = (
        pairs.mapInPandas(
            score, schema="query_id long, nbr_id long, cosine double"
        )
        # a pair agreeing on several bands appears once per band; collapse
        # BEFORE ranking or duplicates occupy top-k slots
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def semdedup_prune(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDedup-style semantic pruning: coarse-cluster the embeddings,
    find near-duplicate pairs WITHIN each cluster, drop the higher id of
    every pair. Returns the surviving rows of ``corpus``.

    The point vs ``embedding_neardup_pairs``: the pair search is confined
    to a cluster, so compute is sum of per-cell |cell|² instead of the
    full |C|² grid — the standard accuracy/cost trade (cross-cluster
    duplicates are deliberately not searched). Scale: one narrow
    assignment pass (broadcast centroid matmul), one shuffle on cell_id,
    one BLAS matmul per cell; size ``n_cells`` so a cell fits an
    executor's Arrow group (~|C|/n_cells rows).
    """

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"a": [], "b": [], "cosine": []})
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        ai, bi = np.where(cos >= threshold)
        mask = ids[ai] < ids[bi]
        return pd.DataFrame(
            {"a": ids[ai][mask], "b": ids[bi][mask], "cosine": cos[ai, bi][mask]}
        )

    cents = seed_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
    pairs = assigned.groupBy("cell_id").applyInPandas(
        cell_pairs, schema="a long, b long, cosine double"
    )
    dropped = pairs.select(F.col("b").alias(id_col)).distinct()
    return corpus.join(dropped, id_col, "left_anti")


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Exact block-grid self-join — the 100 TB path, no driver collect:

    - every vector gets a block ``blk = pmod(hash(id), n_blocks)``;
    - each row is replicated to the ``n_blocks`` grid cells
      ``(min(blk, j), max(blk, j))`` it participates in, so every
      unordered pair of vectors co-locates in exactly ONE grid cell;
    - ``applyInPandas`` per cell runs one BLAS matmul (block_i × block_j,
      or the strict upper triangle when i == j) and keeps pairs over the
      threshold, oriented a < b.

    Replication factor is ``n_blocks``; per-task memory is two blocks
    (~2·|C|/n_blocks rows), so size ``n_blocks`` to the executor, not the
    driver. Compute is the same O(|C|²) matmul either way, now spread over
    n_blocks·(n_blocks+1)/2 independent tasks.
    """

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        gi, gj = int(pdf["gi"].iloc[0]), int(pdf["gj"].iloc[0])

        def matrix(sub):
            ids = sub[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(sub[vec_col]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            return ids, mat, norms

        empty = pd.DataFrame({"a": [], "b": [], "cosine": []})
        if gi == gj:
            ids, mat, norms = matrix(pdf)
            if len(ids) < 2:
                return empty
            cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
            ai, bi = np.where(cos >= threshold)
            mask = ids[ai] < ids[bi]  # strict upper triangle by id
        else:
            left, right = pdf[pdf["blk"] == gi], pdf[pdf["blk"] == gj]
            if len(left) == 0 or len(right) == 0:
                return empty
            l_ids, l_mat, l_norms = matrix(left)
            r_ids, r_mat, r_norms = matrix(right)
            cos = np.round((l_mat @ r_mat.T) / np.outer(l_norms, r_norms), 6)
            ai, bi = np.where(cos >= threshold)
            lo = np.minimum(l_ids[ai], r_ids[bi])
            hi = np.maximum(l_ids[ai], r_ids[bi])
            return pd.DataFrame({"a": lo, "b": hi, "cosine": cos[ai, bi]})
        return pd.DataFrame(
            {"a": ids[ai][mask], "b": ids[bi][mask], "cosine": cos[ai, bi][mask]}
        )

    blocks = corpus.select(id_col, vec_col).withColumn(
        "blk", F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks))
    )
    grid = blocks.select(
        id_col,
        vec_col,
        "blk",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, {n_blocks - 1}),"
                " j -> struct(least(blk, j) as gi, greatest(blk, j) as gj)))"
            )
        ).alias("cell"),
    ).select(id_col, vec_col, "blk", "cell.gi", "cell.gj")
    return grid.groupBy("gi", "gj").applyInPandas(
        cell_pairs, schema="a long, b long, cosine double"
    )
