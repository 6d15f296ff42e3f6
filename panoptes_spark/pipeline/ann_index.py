"""Persisted IVF-PQ index: build once, query many times.

``pq.ivfpq_topk`` recomputes cell assignment and PQ codes per call —
fine for a gate, wasteful for the production pattern its docstring
describes (an index a deployment materializes once and reuses per probe
batch). This module is that artifact, parquet-native and engine-free:

Layout under ``path``::

    MANIFEST.json            {"m", "n_codes", "n_cells", "dim",
                              "segments": [...], ...}
    centroids.parquet        (cell_id int, centroid array<double>)
    codebooks.parquet        (subspace int, code_id int, codevec array<double>)
    index.parquet            (nbr_id long, cell_id int, codes array<int>)
                             — the build segment, partitioned by
                             cell_id, so a probe batch's nprobe cells
                             prune at the SCAN (partition pruning), not
                             in memory.
    seg-<n>/                 one additional cell-partitioned segment per
                             committed ``append``.

    Readers union ONLY the segments the manifest references (format v3):
    a crash mid-append leaves an orphan segment directory that no read
    ever includes — the torn-write discipline the reconcile/TTL stores
    use, applied to index appends. The next append garbage-collects
    unreferenced ``seg-*`` dirs before staging its own.

Build cost: ONE fused narrow Arrow pass (``pq.pq_assign_encode`` —
assignment + encoding, no id-keyed re-join), once. Query cost:
partition-pruned scan of the probed cells + the broadcast narrow
integer-ADC kernel (no index shuffle) — identical results to
``ivfpq_topk`` over the same corpus (asserted in
``tests/test_pipeline.py::test_ann_index_roundtrip``), because both
share codebooks, centroids, tie-safe pruning, and the
(adist asc, nbr_id asc) total order.

At 100 TB: the index is ~(8 + 4 + m) bytes per vector (32× smaller
than float32 embeddings at m=8/dim=64), cells are parquet partitions so
probing IO ~ nprobe/n_cells of the index, and the builder accepts
pre-trained codebooks (``pq_train_kmeans``) and auto-sized cell counts
(``similarity.ivf_auto_cells``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from . import pq as _pq
from .similarity import ivf_auto_cells, kmeans_refine, seed_centroids

__all__ = ["build_ivfpq_index", "IvfPqIndex"]

#: bump when the on-disk layout changes; handles refuse unknown versions.
#: v3 (r9): manifest carries ``segments`` — the list of data directories a
#: read may include — so torn appends can never be silently read back.
_FORMAT_VERSION = 3

#: the relation every index segment holds, ``cell_id`` being its
#: partition column. Writers cast to it and readers declare it, so a
#: read never runs a schema-inference job per segment.
_SEGMENT_COLS = (("nbr_id", "long"), ("codes", "array<int>"), ("cell_id", "int"))
_SEGMENT_SCHEMA = ", ".join(f"{c} {t}" for c, t in _SEGMENT_COLS)


def _segment_rows(encoded: DataFrame, id_col: str) -> DataFrame:
    """``pq_assign_encode`` output as segment rows (``_SEGMENT_SCHEMA``)."""
    return encoded.withColumnRenamed(id_col, "nbr_id").select(
        *[F.col(c).cast(t) for c, t in _SEGMENT_COLS]
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int | None = None,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "IvfPqIndex":
    """Materialize the IVF-PQ index for ``corpus`` at ``path``.

    ``train_iters`` Lloyd rounds train BOTH halves of the index (r8):
    the PQ codebooks per subspace (``pq_train_kmeans``) AND the coarse
    cell centroids (``kmeans_refine`` over the deterministic seeds —
    untrained seed cells skew cell occupancy, which is exactly what
    hurts IVF recall and pruning at scale;
    ``tests/test_pipeline.py::test_trained_index_improves_recall``
    records the lift at equal geometry). ``train_iters=0`` keeps the
    deterministic seeds for both (the oracle-replayable configuration
    the ``ann_index_topk`` gate checks). ``n_cells`` auto-sizes from the
    corpus when omitted."""
    spark = corpus.sparkSession
    n_rows = corpus.count()
    if n_rows == 0:
        raise ValueError(
            "cannot build an IVF-PQ index over an EMPTY corpus: no "
            "dimensionality, no centroids, no codebooks"
        )
    if n_cells is None:
        n_cells = ivf_auto_cells(n_rows)
    cents = seed_centroids(corpus, n_cells, id_col, vec_col)
    if train_iters > 0:
        cents = kmeans_refine(
            corpus, cents, iters=train_iters, id_col=id_col, vec_col=vec_col
        )
        cbs = _pq.pq_train_kmeans(
            corpus, m, n_codes, iters=train_iters,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        cbs = _pq.pq_train(corpus, m, n_codes, id_col, vec_col)

    os.makedirs(path, exist_ok=True)
    cents_d = cents.select(
        "cell_id",
        F.expr("transform(centroid, x -> cast(x as double))").alias(
            "centroid"
        ),
    )
    cents_d.write.mode("overwrite").parquet(os.path.join(path, "centroids.parquet"))
    cbs.write.mode("overwrite").parquet(os.path.join(path, "codebooks.parquet"))

    # fused assign+encode: one narrow corpus pass, no id-keyed re-join
    # (r11 — the separate-pass composition shuffled the corpus to unite
    # (cell, codes); see pq.pq_assign_encode)
    idx = _segment_rows(
        _pq.pq_assign_encode(corpus, cents, cbs, id_col, vec_col), id_col
    )
    (
        idx.write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(os.path.join(path, "index.parquet"))
    )
    dim = int(corpus.select(F.size(vec_col)).limit(1).collect()[0][0])
    # record the ACTUAL built geometry, not the request: a corpus smaller
    # than n_codes trains fewer codewords, and the byte guard / integrity
    # checks must size against what is on disk
    actual = cbs.agg(
        (F.max("code_id") + 1).alias("nc"), (F.max("subspace") + 1).alias("m")
    ).collect()[0]
    manifest = {
        "format_version": _FORMAT_VERSION,
        "m": int(actual["m"]),
        "n_codes": int(actual["nc"]),
        "n_cells": int(n_cells),
        "dim": dim,
        "n_rows": int(n_rows),
        "train_iters": int(train_iters),
        "id_col": id_col,
        "vec_col": vec_col,
        "segments": ["index.parquet"],
        "generation": 0,
        "centroids_file": "centroids.parquet",
        "codebooks_file": "codebooks.parquet",
    }
    tmp = os.path.join(path, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "MANIFEST.json"))
    return IvfPqIndex(spark, path)


class IvfPqIndex:
    """Handle over a built index directory; ``topk`` runs probe batches."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "MANIFEST.json")) as f:
            self.meta = json.load(f)
        ver = int(self.meta.get("format_version", 1))
        if ver > _FORMAT_VERSION:
            raise ValueError(
                f"index at {path} has format_version={ver}, newer than "
                f"this reader ({_FORMAT_VERSION}); rebuild or upgrade"
            )

    # collected dim tables: every probe batch and segment write needs
    # them, and each redundant collect is a fixed-latency job (r12). One
    # slot per (kind, index dir); a rebuild or retrain replaces it
    def _cents_rows(self):
        fname = self.meta.get("centroids_file", "centroids.parquet")
        return memo.cached(
            self.spark, ("cents", self.path),
            [os.path.join(self.path, fname)],
            lambda: self.centroids().select("cell_id", "centroid").collect(),
        )

    def _cb_tensor(self):
        fname = self.meta.get("codebooks_file", "codebooks.parquet")
        return memo.cached(
            self.spark, ("cb", self.path), [os.path.join(self.path, fname)],
            lambda: _pq._codebook_tensor(self.codebooks()),
        )

    def centroids(self) -> DataFrame:
        # manifest-resolved (r11): a retrain_swap repoints these to the
        # new generation's files in the same atomic commit as the
        # segment list, so readers can never mix generations
        return self.spark.read.parquet(
            os.path.join(
                self.path,
                self.meta.get("centroids_file", "centroids.parquet"),
            )
        )

    def codebooks(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(
                self.path,
                self.meta.get("codebooks_file", "codebooks.parquet"),
            )
        )

    def segments(self) -> list[str]:
        """Data directories a read may include — ONLY what the manifest
        references (v2 manifests predate segments and mean the single
        build directory). Orphan ``seg-*`` dirs from torn appends are
        invisible here by construction."""
        return list(self.meta.get("segments", ["index.parquet"]))

    def _index_df(self) -> DataFrame:
        """Every manifest-referenced segment, each read with the declared
        segment schema: no schema-inference job per segment, so a
        query's job count does not grow with the commit count."""
        parts = [
            self.spark.read.schema(_SEGMENT_SCHEMA).parquet(
                os.path.join(self.path, seg)
            )
            for seg in self.segments()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _gc_orphan_segments(self) -> list[str]:
        """Delete data dirs the manifest does not reference — the
        leavings of appends/retrains that crashed between stage and
        manifest commit, or the previous generation's files after a
        committed ``retrain_swap`` (the one-generation grace: the swap
        itself never deletes, the NEXT mutating op GCs). Returns the
        removed names."""
        import shutil

        live = set(self.segments())
        live.add(self.meta.get("centroids_file", "centroids.parquet"))
        live.add(self.meta.get("codebooks_file", "codebooks.parquet"))
        removed = []
        for name in sorted(os.listdir(self.path)):
            # index.parquet is a data dir too: after a compaction the
            # manifest stops referencing it and it becomes an orphan;
            # centroids-g*/codebooks-g* are per-generation dirs (r11)
            is_data = (
                name.startswith("seg-")
                or name == "index.parquet"
                or name.startswith("centroids")
                or name.startswith("codebooks")
            )
            if is_data and name not in live:
                shutil.rmtree(
                    os.path.join(self.path, name), ignore_errors=True
                )
                removed.append(name)
        return removed

    def _free_segment_name(self) -> str:
        """Next ``seg-<n>`` not referenced by the manifest. Counting
        alone collided after compaction (a compacted manifest holds one
        segment whose number exceeds len(segments)); orphans were GC'd
        by the caller, so manifest-referenced names are the only ones
        on disk."""
        live = set(self.segments())
        n = len(live)
        while f"seg-{n}" in live:
            n += 1
        return f"seg-{n}"

    def append(self, new_corpus: DataFrame) -> "IvfPqIndex":
        """Append vectors to the index WITHOUT retraining: new rows are
        assigned to the EXISTING coarse cells and encoded with the
        EXISTING codebooks, then written as a NEW cell-partitioned
        segment that becomes visible only when the manifest commit
        (write-tmp + atomic ``os.replace``) references it. A crash
        mid-append leaves an orphan segment no read includes — the next
        append GCs it (``test_ann_index_torn_append_invisible``); the
        previous unmanifested append-mode write was silently read back
        after a crash, duplicate/partial vectors included (r8 verdict).
        Result ranks identically to an index built over the combined
        corpus with these same centroids/codebooks
        (``test_ann_index_append_matches_combined``).

        The production growth path at 100 TB: write volume is the new
        rows' (8+4+m) bytes each; the frozen-codebook trade-off is the
        standard one (FAISS ``add`` semantics) — retrain+rebuild when
        the data distribution drifts, which the manifest's n_rows growth
        makes observable."""
        n_new = new_corpus.count()
        if n_new == 0:
            return self
        self._gc_orphan_segments()
        seg = self._free_segment_name()
        self._write_segment(new_corpus, seg)
        self.meta["n_rows"] = int(self.meta["n_rows"]) + int(n_new)
        self.meta["segments"] = self.segments() + [seg]
        self.meta["format_version"] = _FORMAT_VERSION
        tmp = os.path.join(self.path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.meta, f, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, "MANIFEST.json"))
        return self

    def compact(self) -> "IvfPqIndex":
        """Merge every manifest-referenced segment into ONE
        cell-partitioned segment — the in-engine answer to append read
        amplification (one parquet root per committed append; r9
        prescribed offline rebuild). Rows, centroids, and codebooks are
        untouched, so ``topk`` ranks identically before and after
        (``test_ann_index_compaction_*``); probing IO drops back to one
        partition-pruned scan.

        Same torn-write discipline as ``append``: the merged segment
        stages unreferenced, the manifest commit (write-tmp + atomic
        ``os.replace``) flips all reads to it, and the old segments —
        now orphans, including the original ``index.parquet`` build
        dir — are GC'd afterwards. A crash before the commit leaves an
        invisible orphan; after it, the old segments are the orphans."""
        if len(self.segments()) == 1:
            self._gc_orphan_segments()
            return self
        self._gc_orphan_segments()
        seg = self._free_segment_name()
        self._index_df().write.mode("overwrite").partitionBy(
            "cell_id"
        ).parquet(os.path.join(self.path, seg))
        self.meta["segments"] = [seg]
        self.meta["format_version"] = _FORMAT_VERSION
        tmp = os.path.join(self.path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.meta, f, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, "MANIFEST.json"))
        self._gc_orphan_segments()
        return self

    def retrain_swap(
        self,
        corpus: DataFrame,
        sample_filter=None,
        train_iters: int | None = None,
        m: int | None = None,
        n_codes: int | None = None,
        n_cells: int | None = None,
        if_generation: int | None = None,
    ) -> "IvfPqIndex":
        """Drift-triggered generation lifecycle (r10 verdict #1): train
        generation N+1's coarse cells AND PQ codebooks on (a sample of)
        the CURRENT corpus, re-encode the full corpus, and atomically
        repoint the manifest — the in-engine answer to the frozen-
        codebook trade-off ``append``/``AnnIndexSink`` document (FAISS
        ``add`` semantics drift until you retrain; ``pipeline.drift``
        detects it, this commits the fix).

        ``corpus`` is the source-of-truth vector table: the index
        stores only (cell, codes), so retraining — like FAISS's
        train+add rebuild — needs the original embeddings.
        ``sample_filter`` (SQL expr/Column) restricts TRAINING input
        only; encoding always covers the full ``corpus``. Geometry
        (m/n_codes/n_cells/train_iters) defaults to the built values.

        Torn-write discipline, same as ``append``/``compact``: the new
        generation's centroids/codebooks/segment stage UNREFERENCED
        (``centroids-g<g>.parquet`` etc.), then ONE atomic manifest
        replace flips centroids_file + codebooks_file + segments +
        generation together — readers can never mix generations. A
        crash before the swap leaves invisible orphans; after it, the
        old generation's files are the orphans. Neither is deleted
        HERE: the next mutating op GCs them (one-generation grace), so
        a reader holding the old manifest keeps working through the
        swap. ``last_batch_id``/``lineage`` carry over, so a streaming
        sink's replay protection survives the retrain.

        ``if_generation`` is compare-and-swap: when the manifest's
        current generation differs, the call is a NO-OP returning self
        — a replayed/raced retrain can never double-bump.

        Cost at 100 TB: training reads the sample twice (seeds + one
        Arrow pass per half), encoding is the same two narrow broadcast
        passes + one keyed join a fresh build pays — all
        linear-in-corpus, no index-sized shuffle beyond the
        cell-partitioned segment write."""
        g_cur = int(self.meta.get("generation", 0))
        if if_generation is not None and g_cur != if_generation:
            return self  # CAS miss: someone already swapped
        g = g_cur + 1
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        m = int(m or self.meta["m"])
        n_codes = int(n_codes or self.meta["n_codes"])
        n_cells = int(n_cells or self.meta["n_cells"])
        if train_iters is None:
            train_iters = int(self.meta.get("train_iters", 0))
        n_rows = corpus.count()
        if n_rows == 0:
            raise ValueError("cannot retrain an index on an EMPTY corpus")
        sample = corpus
        if sample_filter is not None:
            sample = corpus.where(sample_filter)
            if sample.isEmpty():
                raise ValueError(
                    "retrain_swap sample_filter selected ZERO rows - "
                    "nothing to train the new generation on"
                )

        cents = seed_centroids(sample, n_cells, id_col, vec_col)
        if train_iters > 0:
            cents = kmeans_refine(
                sample, cents, iters=train_iters,
                id_col=id_col, vec_col=vec_col,
            )
            cbs = _pq.pq_train_kmeans(
                sample, m, n_codes, iters=train_iters,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            cbs = _pq.pq_train(sample, m, n_codes, id_col, vec_col)

        # stage generation g fully unreferenced
        self._gc_orphan_segments()  # torn earlier retrain/append, if any
        cents_file = f"centroids-g{g}.parquet"
        cbs_file = f"codebooks-g{g}.parquet"
        seg = f"seg-g{g}"
        cents_d = cents.select(
            "cell_id",
            F.expr("transform(centroid, x -> cast(x as double))").alias(
                "centroid"
            ),
        )
        cents_d.write.mode("overwrite").parquet(
            os.path.join(self.path, cents_file)
        )
        cbs.write.mode("overwrite").parquet(
            os.path.join(self.path, cbs_file)
        )
        idx = _segment_rows(
            _pq.pq_assign_encode(corpus, cents, cbs, id_col, vec_col), id_col
        )
        idx.write.mode("overwrite").partitionBy("cell_id").parquet(
            os.path.join(self.path, seg)
        )
        actual = cbs.agg(
            (F.max("code_id") + 1).alias("nc"),
            (F.max("subspace") + 1).alias("m"),
        ).collect()[0]

        self.meta.update(
            {
                "format_version": _FORMAT_VERSION,
                "generation": g,
                "centroids_file": cents_file,
                "codebooks_file": cbs_file,
                "segments": [seg],
                "m": int(actual["m"]),
                "n_codes": int(actual["nc"]),
                "n_cells": n_cells,
                "n_rows": int(n_rows),
                "train_iters": int(train_iters),
            }
        )
        tmp = os.path.join(self.path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.meta, f, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, "MANIFEST.json"))
        # GC deliberately deferred: one-generation grace (see docstring)
        return self

    def _write_segment(self, new_corpus: DataFrame, seg: str) -> None:
        """Stage one append segment (no manifest commit — callers commit;
        the torn-append chaos test calls this alone to forge a crash)."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        # the memoized rows/tensor stand in for the dim-table frames,
        # which are never built here (each read would infer a schema)
        idx = _segment_rows(
            _pq.pq_assign_encode(
                new_corpus, None, None, id_col, vec_col,
                cents_rows=self._cents_rows(), cb=self._cb_tensor(),
            ),
            id_col,
        )
        idx.write.mode("overwrite").partitionBy("cell_id").parquet(
            os.path.join(self.path, seg)
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        max_table_bytes: int = _pq.MAX_ADC_TABLE_BYTES,
        filter=None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """(query_id, nbr_id, adist, rank) — same ranking as
        ``pq.ivfpq_topk`` over the indexed corpus: the probed cells are
        read back partition-pruned, scored in ONE narrow Arrow pass
        with the broadcast tie-safe integer-ADC kernel
        (``pq._adc_rank_broadcast`` — the index rows never shuffle),
        and window-ranked in the (adist asc, nbr_id asc) total order.

        Metadata-filtered search (r11, verdict #3 — "top-k WHERE
        lang='en' AND split='train'"): ``filter`` is a SQL expr/Column
        over the index relation (``nbr_id``/``cell_id``);
        ``filter_ids`` is a DataFrame of allowed ids (its FIRST column,
        left_semi-joined) for predicates living in an external metadata
        table — join your metadata, filter it, pass the id column. Both
        apply to the cell-member scan BEFORE scoring (the FAISS
        IDSelector semantics): the k results are the true top-k of the
        filtered corpus, never a post-truncation filter of unfiltered
        ranks. Recall caveat: cell geometry is built on the FULL
        corpus, so a highly selective filter empties probed cells —
        raise ``nprobe`` as selectivity drops (at 1/s selectivity,
        nprobe*s cells' worth of survivors is the coverage heuristic).

        Probe sets whose ADC tables exceed ``max_table_bytes`` are
        auto-sharded EXACTLY (per-query ranks are independent): the
        probe frame streams through shard-sized partitions, so the
        driver never holds more than ~2 shards of vectors (r8 — the
        previous unbounded ``collect()`` was itself the OOM at the
        probe sizes the guard exists for); each shard's result is
        eagerly materialized so shard broadcasts never accumulate."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        m, n_codes = self.meta["m"], self.meta["n_codes"]
        shard = max(1, max_table_bytes // (m * n_codes * 8))
        qsel = queries.select(id_col, vec_col)
        # bounded probe: collect at most one shard (+1 row to detect
        # overflow) — never the whole probe set
        head = qsel.limit(shard + 1).collect()
        if not head:
            return self.spark.createDataFrame(
                [], "query_id long, nbr_id long, adist long, rank int"
            )
        if len(head) <= shard:
            return self._topk_batch(head, k, nprobe, filter, filter_ids)
        nq = qsel.count()
        n_batches = -(-nq // shard)
        parts = []
        buf: list = []

        def flush():
            parts.append(
                self._topk_batch(buf, k, nprobe, filter, filter_ids)
                .localCheckpoint(eager=True)
            )
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

    def _topk_batch(
        self, qrows, k: int, nprobe: int,
        filter=None, filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Score one byte-budget-sized list of probe rows.

        The probe batch is already driver-resident, so its cell
        assignment and integer ADC tables are computed driver-side and
        broadcast (``pq._adc_rank_broadcast``); the probed cells' index
        rows stream through ONE narrow Arrow pass. Previously the
        probe batch round-tripped through a createDataFrame +
        ``ivf_assign`` Python stage, a distinct().collect() of the
        probed cells, and a cogroup EXCHANGE of the index rows — three
        extra jobs and an index shuffle per batch (r11). Partition
        pruning is unchanged: the ``cell_id IN (probed)`` filter pushes
        through the segment union to each cell-partitioned parquet
        root, and only manifest-referenced segments are read (torn
        appends invisible)."""
        cb = self._cb_tensor()
        c_idx = self._index_df()
        # metadata filter lands on the member scan BEFORE scoring —
        # never after rank truncation (the plan-audit test locks the
        # filter below the Arrow scoring node)
        if filter is not None:
            c_idx = c_idx.where(filter)
        if filter_ids is not None:
            allowed = filter_ids.select(
                F.col(filter_ids.columns[0]).alias("nbr_id")
            )
            c_idx = c_idx.join(allowed, "nbr_id", "left_semi")
        return _pq._adc_rank_broadcast(
            c_idx, qrows, self._cents_rows(), cb, k, nprobe
        )
