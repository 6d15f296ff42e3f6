"""Correctness, checked once per process outside the timed region.

Gates are compared with their ``oracle_sql()`` DuckDB twins through the
canonical form of ``tools/check.py``. The ingest workload's final state
is compared with a one-shot rebuild of the same inputs.
"""

from __future__ import annotations

import os
import sys

import pandas as pd


def _canon_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames have the same canonical form."""
    from tools.check import ComplexCell, canon_pdf

    try:
        g_rows, g_cols, g_kinds = canon_pdf(got)
        w_rows, w_cols, w_kinds = canon_pdf(want)
    except ComplexCell as e:
        return f"complex-typed cell ({e})"
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if g_kinds != w_kinds:
        return f"dtype kinds {g_kinds} != {w_kinds}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows != {len(w_rows)}"
    if g_rows != w_rows:
        diff = next((a, b) for a, b in zip(g_rows, w_rows) if a != b)
        return f"values differ, first: {diff}"
    return None


class GateOracle:
    """DuckDB views over the generated tables plus every gate's SQL twin."""

    def __init__(self, sf_dir: str):
        import duckdb

        import __spark_entry__ as entry
        from tools.check import TABLES

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self.sql = entry.oracle_sql()

    def compare(self, name: str, got: pd.DataFrame) -> str | None:
        if name not in self.sql:
            return "no oracle"
        return _canon_mismatch(got, self.con.sql(self.sql[name]).df())

    def close(self):
        self.con.close()


class IngestInputs:
    """The ingest workload's micro-batches, cut from the generated
    tables in id order (time order for events, as a live stream
    delivers them), and the one-shot rebuilds its committed state is
    checked against.

    ``batches[sink][i]`` is the i-th micro-batch for a sink: a lazy scan
    of the generated files, so every commit reads its input afresh. Id
    ranges come from the parquet footers, so cutting the stream runs no
    Spark job. The first quarter of the embeddings trains the ANN index;
    the rest streams in."""

    BATCHES = 32
    SINKS = ("dedup", "ann", "store", "reconcile")
    DEDUP = dict(
        id_col="doc_id", text_col="text",
        k_shingle=3, num_hashes=32, bands=8, threshold=0.7,
    )
    ANN = dict(m=8, n_codes=16, n_cells=16, train_iters=0)
    STORE = dict(key_cols=["user_id", "event_type"], ts_col="ts_ms", n_buckets=4)
    RECONCILE = dict(scope_cols=["resource_plugin", "resource_site"])
    TOPK = dict(k=10, nprobe=4)

    def __init__(self, spark, sf_dir: str):
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from panoptes_spark.sources import tpch_fixtures as fx

        self.spark, self.sf_dir = spark, sf_dir
        docs = fx.read_table(spark, sf_dir, "documents").select("doc_id", "text")
        emb = fx.read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        events = fx.read_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "event_id", "value",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").alias("ts_ms"),
        )
        lo, hi = self._id_range("embeddings", "vec_id")
        n_base = lo + (hi - lo + 1) // 4
        self.ann_base = emb.where(F.col("vec_id") < n_base)
        self.queries = emb.where(F.col("vec_id") % 20 == 0)
        self._slots = {
            "dedup": (docs, self._slot("doc_id", *self._id_range("documents", "doc_id"))),
            "ann": (emb, self._slot("vec_id", n_base, hi)),
            "store": (events, self._slot("event_id", *self._id_range("events", "event_id"))),
        }
        self.batches = {
            sink: [df.where(slot == i) for i in range(self.BATCHES)]
            for sink, (df, slot) in self._slots.items()
        }
        self._flat = fx.resources_flat(spark, sf_dir)
        regions = pq.read_table(
            os.path.join(sf_dir, "region.parquet"), columns=["r_name"]
        )
        sites = sorted(regions.column(0).to_pylist())
        self.batches["reconcile"] = [
            self._resource_set(i, sites) for i in range(self.BATCHES)
        ]
        self._rows = None

    def _id_range(self, table: str, col: str) -> tuple[int, int]:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(os.path.join(self.sf_dir, f"{table}.parquet"))
        i = f.schema_arrow.get_field_index(col)
        stats = [
            f.metadata.row_group(g).column(i).statistics
            for g in range(f.metadata.num_row_groups)
        ]
        return min(s.min for s in stats), max(s.max for s in stats)

    def _slot(self, col: str, lo: int, hi: int):
        """Batch number of a row: ``BATCHES`` equal-width id ranges over
        [lo, hi]; rows outside the range get none."""
        from pyspark.sql import functions as F

        width = (hi - lo) // self.BATCHES + 1
        return F.when(F.col(col) >= lo, F.floor((F.col(col) - lo) / width))

    def _resource_set(self, i: int, sites: list[str]):
        """Batch i carries the full resource set of two of the sites,
        with a batch-dependent fifth of each site's resources absent
        (deletes) and every row newer than the previous batch's
        (updates)."""
        from pyspark.sql import functions as F

        carried = [sites[i % len(sites)], sites[(i + 1) % len(sites)]]
        key = F.col("resource_creation_timestamp") % 5
        return (
            self._flat.where(F.col("resource_site").isin(carried))
            .where(key != i % 5)
            .withColumn("resource_creation_timestamp", F.lit(float(i + 1)))
            .withColumn("resource_set_creation_timestamp", F.lit(i + 1.5))
        )

    def rows(self, sink: str, i: int) -> int:
        """Input rows of batch i of a sink; counted once, after the
        timed passes, with one aggregate per table."""
        if self._rows is None:
            self._rows = {
                sink: dict(df.groupBy(slot.alias("b")).count().collect())
                for sink, (df, slot) in self._slots.items()
            }
            self._rows["reconcile"] = {}
        if sink == "reconcile" and i not in self._rows[sink]:
            self._rows[sink][i] = self.batches[sink][i].count()
        return self._rows[sink].get(i, 0)

    @classmethod
    def paths(cls, base: str) -> dict:
        return {s: os.path.join(base, s) for s in cls.SINKS}

    # -- the one-shot rebuilds of the first n batches ----------------------

    def _union(self, sink: str, n: int):
        df, *rest = self.batches[sink][:n]
        for part in rest:
            df = df.unionByName(part)
        return df

    def _expected_pairs(self, n, scratch):
        from panoptes_spark.pipeline.dedup_index import build_dedup_index

        return build_dedup_index(
            self._union("dedup", n), os.path.join(scratch, "dedup"),
            **self.DEDUP,
        ).pairs()

    def _expected_topk(self, n, trained):
        """The index as trained in set-up, plus one append of every
        streamed batch."""
        from panoptes_spark.pipeline.ann_index import IvfPqIndex

        idx = IvfPqIndex(self.spark, trained).append(self._union("ann", n))
        return idx.topk(self.queries, **self.TOPK)

    def _expected_store(self, n) -> pd.DataFrame:
        """Latest row per key over the batches, by (ts, other columns)."""
        pdf = self._union("store", n).toPandas()
        keys = self.STORE["key_cols"]
        rest = sorted(c for c in pdf.columns if c not in keys and c != "ts_ms")
        pdf = pdf.sort_values(["ts_ms", *rest], kind="mergesort")
        return pdf.groupby(keys, as_index=False).tail(1)

    def _expected_resources(self, n) -> pd.DataFrame:
        """Per site, the set of the last batch that carried it."""
        latest: dict[str, pd.DataFrame] = {}
        for df in self.batches["reconcile"][:n]:
            pdf = df.drop("resource_set_creation_timestamp").toPandas()
            for site, part in pdf.groupby("resource_site"):
                latest[site] = part
        return pd.concat(latest.values(), ignore_index=True)

    def check(self, paths: dict, n: int, trained: str, report) -> set[str]:
        """Names of the sinks whose state after ``n`` committed batches
        differs from the rebuild; a check that raises is reported and
        counts as a difference. ``trained`` is a copy of the ANN index
        as set-up built it, before any batch was appended."""
        from panoptes_spark.pipeline.ann_index import IvfPqIndex
        from panoptes_spark.streaming.dedup_stream import DedupIndexLog
        from panoptes_spark.streaming.reconcile_stream import (
            ExactlyOnceResourceStoreWriter,
        )
        from panoptes_spark.streaming.store_sink import ParquetStoreSink

        spark = self.spark
        scratch = paths["dedup"] + "-rebuild"
        cases = {
            "dedup": lambda: (
                DedupIndexLog(spark, paths["dedup"]).pairs().toPandas(),
                self._expected_pairs(n, scratch).toPandas(),
            ),
            "ann": lambda: (
                IvfPqIndex(spark, paths["ann"])
                .topk(self.queries, **self.TOPK)
                .toPandas(),
                self._expected_topk(n, trained).toPandas(),
            ),
            "store": lambda: (
                ParquetStoreSink(spark, paths["store"], **self.STORE)
                .read()
                .toPandas(),
                self._expected_store(n),
            ),
            "reconcile": lambda: (
                ExactlyOnceResourceStoreWriter(
                    spark, paths["reconcile"], **self.RECONCILE
                )
                .read()
                .toPandas(),
                self._expected_resources(n),
            ),
        }
        wrong = set()
        for sink, case in cases.items():
            try:
                problem = _canon_mismatch(*case())
            except Exception:
                report(f"ingest check {sink}")
                problem = "raised"
            if problem:
                print(f"# WRONG ingest {sink}: {problem}", file=sys.stderr)
                wrong.add(sink)
        return wrong
