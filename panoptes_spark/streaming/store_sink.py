"""Exactly-once keyed store sink: idempotent ``foreachBatch`` MERGE with
an atomic parquet-manifest swap (r5 verdict "What's missing #2").

The reference's enrichment/resource stores are Redis upserts
(``framework/utilities/key_value_store.py`` ``set(...)``,
``enrichment_plugin_agent.py:151-199``); SURVEY §1.2 maps them to
"Delta/parquet MERGE INTO with TTL column". The batch operators
(``sources/stores.py``, ``operators/reconcile.py``) are join-rewrite
folds returning DataFrames — correct for every gate, but a production
store must be an idempotent, atomically-swapped TABLE a streaming query
can MERGE into exactly once per epoch. This module is that sink, with no
Delta dependency:

Layout (all under ``path``)::

    MANIFEST                    <- tiny JSON, swapped atomically (os.replace)
    data/b{bucket}-e{epoch}.parquet   <- immutable bucket snapshots

- The store is hash-partitioned into ``n_buckets`` buckets by key
  (murmur3 ``pmod(hash(key), n)`` — Spark's own shuffle placement, so a
  cluster-side MERGE co-locates for free).
- Per micro-batch, only the buckets the batch TOUCHES are rewritten,
  by ONE plan: one scan of every dirty bucket's current snapshot (read
  with the batch's data schema, so no schema-inference job), unioned
  with the batch's reduced rows and repartitioned by bucket; per key
  the batch's row replaces the stored one (the anti-join of the stored
  rows against the batch's keys plus the batch's rows, in one shuffle —
  a key fixes its bucket, so this equals the per-bucket merges),
  tombstones are dropped, and the result is written once with
  ``partitionBy("__bucket")`` into a staging dir whose leaves are then
  renamed to each bucket's NEW snapshot name keyed by epoch (one file
  per bucket). The commit costs a fixed handful of Spark jobs however
  many buckets it touches. Untouched buckets keep their old files —
  write volume is O(dirty buckets), not O(store).
- Exactly-once = epoch-id-keyed dedup + atomic swap:

  * a replayed epoch (``epoch_id <= manifest["last_epoch"]``) is a no-op
    — Spark's foreachBatch contract guarantees the same epoch id carries
    the same data, so skipping is safe;
  * snapshot paths are DETERMINISTIC in (bucket, epoch), so a crashed
    attempt's partial files are simply overwritten by the retry;
  * readers resolve bucket files through MANIFEST only, and the manifest
    is swapped with ``os.replace`` (atomic on POSIX) AFTER every dirty
    bucket's snapshot is fully written and renamed into place — a crash
    at any instant leaves the previous consistent version visible (a
    retry re-stages and replaces any leaf the crashed attempt renamed).

Merge semantics (changelog-shaped input): the batch is first reduced to
one row per key — latest by (ts_col, then the full row tuple, a total
order so ties are layout-independent); a reduced row with
``tombstone_col = true`` DELETEs the key, anything else upserts. This is
exactly the ``upsert_with_ttl`` + ``expire`` fold's per-event rule, so a
stream of store updates MERGEd here converges on the batch fold (chaos
test: ``tests/test_store_sink.py`` kills the query mid-stream, restarts
from the checkpoint, and compares byte-for-byte).

Scale: bucket count sizes the rewrite unit (pick so a bucket fits an
executor; 4096 buckets over a 10 TB store = ~2.4 GB rewrites); the
manifest is O(n_buckets) JSON. Driver-side file ops are the manifest
swap and one directory rename per dirty bucket — data moves through
distributed Spark jobs. Superseded bucket
snapshots are garbage-collected with a one-generation grace (r7: the
``retired`` manifest list) so long-running streams hold ~2x the live
store, not unbounded history.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ParquetStoreSink", "write_snapshots"]

_MANIFEST = "MANIFEST"


def write_snapshots(
    df: DataFrame, part_col: str, data_dir: str, tag: str, names: dict
) -> None:
    """Write ``df`` ONCE, partitioned by ``part_col``, and move the
    leaf of each partition value ``v`` to ``data_dir/names[v]``.

    The staging dir ``data_dir/_stage-<tag>`` is deterministic, so a
    crashed attempt's leftovers are overwritten by the retry, and it is
    removed before returning. A value with no rows gets no leaf from
    the partitioned write; it gets a schema-only snapshot instead, so
    its name still reads as empty."""
    stage = os.path.join(data_dir, f"_stage-{tag}")
    df.write.mode("overwrite").partitionBy(part_col).parquet(stage)
    empty = []
    for value, fname in names.items():
        leaf = os.path.join(stage, f"{part_col}={value}")
        dest = os.path.join(data_dir, fname)
        shutil.rmtree(dest, ignore_errors=True)  # a crashed attempt's copy
        if os.path.isdir(leaf):
            os.rename(leaf, dest)
        else:
            empty.append(dest)
    if empty:
        schema = df.drop(part_col).schema
        df.sparkSession.createDataFrame([], schema).write.parquet(empty[0])
        for dest in empty[1:]:
            shutil.copytree(empty[0], dest)
    shutil.rmtree(stage)


class ParquetStoreSink:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        ts_col: str = "ts_ms",
        tombstone_col: str | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.tombstone_col = tombstone_col
        self.n_buckets = int(n_buckets)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                m = json.load(f)
        except FileNotFoundError:
            return {"last_epoch": -1, "buckets": {}, "retired": []}
        m.setdefault("retired", [])
        return m

    def _swap_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # the atomic commit point

    # -- read side ----------------------------------------------------------

    def read(self) -> DataFrame:
        """The current committed store (manifest-resolved bucket files)."""
        m = self.manifest()
        files = [os.path.join(self.path, "data", v) for v in m["buckets"].values()]
        if not files:
            raise ValueError(f"store at {self.path} has no committed data yet")
        return self.spark.read.parquet(*files).drop("__bucket")

    # -- write side ----------------------------------------------------------

    def _bucket_col(self):
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets))

    def _reduce_batch(self, batch: DataFrame) -> DataFrame:
        """One row per key: latest by (ts, full row) — a TOTAL order, so
        the winner is independent of partition/batch layout."""
        data_cols = [c for c in batch.columns if c not in self.key_cols]
        rest = sorted(c for c in data_cols if c != self.ts_col)
        ordered = F.struct(
            F.col(self.ts_col), *[F.col(c) for c in rest]
        )
        return (
            batch.groupBy(*self.key_cols)
            .agg(F.max(ordered).alias("__w"))
            .select(*self.key_cols, *[F.col(f"__w.{c}").alias(c) for c in data_cols])
        )

    def foreach_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Pass as ``.foreachBatch(sink.foreach_batch)``."""
        m = self.manifest()
        if int(epoch_id) <= int(m["last_epoch"]):
            return  # replayed epoch: already merged and committed — no-op

        reduced = self._reduce_batch(batch).withColumn(
            "__bucket", self._bucket_col()
        )
        # local checkpoint: the merge below reads `reduced` once and the
        # bucket list once more; pinning it avoids recomputing the source
        # batch (which may not be replayable from inside foreachBatch)
        reduced = reduced.localCheckpoint(eager=True)
        dirty = sorted(
            r[0] for r in reduced.select("__bucket").distinct().collect()
        )
        if not dirty:
            m["last_epoch"] = int(epoch_id)
            self._swap_manifest(m)
            return

        data = os.path.join(self.path, "data")
        rows = reduced.withColumn("__new", F.lit(True))
        old_files = [
            m["buckets"][str(b)] for b in dirty if str(b) in m["buckets"]
        ]
        if old_files:
            # explicit data schema: no inference job, and files written
            # before the partitioned layout (which still carry a
            # __bucket column) read the same as current ones
            old = (
                self.spark.read.schema(reduced.drop("__bucket").schema)
                .parquet(*[os.path.join(data, f) for f in old_files])
                .withColumn("__bucket", self._bucket_col())
                .withColumn("__new", F.lit(False))
            )
            rows = old.unionByName(rows)
        # per key, the batch's row (__new) replaces the stored one.
        # Grouping on (__bucket, key) after the bucket repartition needs
        # no second shuffle, and each bucket lands in one task: one
        # snapshot file per bucket, whatever the layout of the old files
        # and of the batch.
        data_cols = [
            c for c in reduced.columns if c not in self.key_cols + ["__bucket"]
        ]
        merged = (
            rows.repartition("__bucket")
            .groupBy("__bucket", *self.key_cols)
            .agg(F.max(F.struct("__new", *data_cols)).alias("__w"))
            .select(
                "__bucket",
                *self.key_cols,
                *[F.col(f"__w.{c}").alias(c) for c in data_cols],
            )
        )
        if self.tombstone_col:
            merged = merged.where(~F.coalesce(
                F.col(self.tombstone_col), F.lit(False)
            ))
        names = {b: f"b{b}-e{int(epoch_id)}.parquet" for b in dirty}
        write_snapshots(merged, "__bucket", data, f"e{int(epoch_id)}", names)

        prev_retired = list(m.get("retired", []))
        retired_now: list[str] = []
        new_buckets = dict(m["buckets"])
        for b, fname in names.items():
            old_file = m["buckets"].get(str(b))
            if old_file is not None and old_file != fname:
                retired_now.append(old_file)
            new_buckets[str(b)] = fname

        # GC with a one-generation grace: files superseded at the
        # PREVIOUS commit are unreachable to any reader that resolved
        # the manifest after that commit — delete them now; the files
        # retired just now survive until the next commit (in-flight
        # readers may still hold the old manifest). A long-running
        # stream's storage is therefore bounded by ~2x the live store.
        # Deletion runs BEFORE the swap and survivors stay in the
        # manifest's retired list (r8): the old swap-then-delete order
        # leaked prev_retired permanently on a crash in between —
        # referenced by no manifest, deleted by no one.
        still: list[str] = []
        for fname in prev_retired:
            p = os.path.join(self.path, "data", fname)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                try:
                    os.remove(p)
                except OSError:
                    pass
            if os.path.exists(p):
                still.append(fname)
        m["buckets"] = new_buckets
        m["last_epoch"] = int(epoch_id)
        m["retired"] = retired_now + still
        self._swap_manifest(m)
