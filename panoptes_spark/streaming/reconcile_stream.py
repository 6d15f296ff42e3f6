"""Streaming resource reconciliation (§3.3 resource-manager pipeline).

The reference's resource manager is a Kafka consumer whose callback runs
the set-reconciliation merge per (plugin, site) batch
(``resources/manager.py:165-187`` -> ``handle_resources`` :46-142). In
Spark this is ``foreachBatch`` over the validated resource stream: each
micro-batch is one "incoming set" per reconciliation SCOPE, merged into
the store table with the same timestamp guards (operators/reconcile.py).

Two writers:

- :class:`ExactlyOnceResourceStoreWriter` — the DEFAULT (r7): epoch-id
  keyed dedup (replayed epochs no-op) + deterministic snapshot paths +
  an ``os.replace`` manifest swap as the single atomic commit point,
  the same recipe as ``streaming/store_sink.ParquetStoreSink``. The
  rewrite unit is the reconciliation SCOPE (``scope_cols``, e.g.
  ``["resource_plugin", "resource_site"]`` exactly as in the
  reference): an epoch rewrites ONLY the scopes it carries — a scope
  absent from the batch keeps its previous snapshot file byte-for-byte
  (absence of a whole scope is "no news", not a delete; absence of a
  resource WITHIN a carried scope is a delete, the reference's
  ``handle_resources`` rule). Superseded snapshot files are
  garbage-collected with a one-generation grace (the previous epoch's
  files survive until the NEXT commit, so in-flight readers that
  resolved the old manifest can finish).
- :class:`ResourceStoreWriter` — DEPRECATED: the original
  write-then-swap rewrite (works anywhere, NOT crash-atomic: a failure
  between the two ``mode("overwrite")`` writes can leave a torn store,
  and a replayed epoch re-applies its merge). Kept only for plain
  single-directory stores; emits a ``DeprecationWarning``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.reconcile import apply_reconciliation
from ..schemas import RESOURCE_IDENTITY_COLS
from .store_sink import write_snapshots

#: the reference's reconciliation scope: resources/manager.py:46-142
#: reconciles each (plugin, site) result set independently
DEFAULT_SCOPE_COLS = ["resource_plugin", "resource_site"]


class ResourceStoreWriter:
    """DEPRECATED foreachBatch callback maintaining a plain-parquet
    reconciled resource store. NOT crash-atomic (torn between its two
    overwrites) and NOT replay-idempotent — use
    :class:`ExactlyOnceResourceStoreWriter` (the ``reconcile_stream``
    default since r7)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        identity_cols: list[str] | None = None,
        ts_col: str = "resource_creation_timestamp",
        set_ts_col: str = "resource_set_creation_timestamp",
    ):
        warnings.warn(
            "ResourceStoreWriter is deprecated: it is not crash-atomic "
            "and re-applies replayed epochs; use "
            "ExactlyOnceResourceStoreWriter (reconcile_stream's default)",
            DeprecationWarning,
            stacklevel=2,
        )
        self.spark = spark
        self.store_path = store_path
        self.identity = identity_cols or RESOURCE_IDENTITY_COLS
        self.ts_col = ts_col
        self.set_ts_col = set_ts_col

    def _load(self, like: DataFrame) -> DataFrame:
        try:
            return self.spark.read.parquet(self.store_path)
        except Exception:
            return self.spark.createDataFrame([], like.schema)

    def __call__(self, batch: DataFrame, epoch_id: int):
        # one driver action per micro-batch: emptiness + both candidate
        # set-timestamps come back in a single scalar agg row
        has_set_ts = self.set_ts_col in batch.columns
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.max(self.set_ts_col) if has_set_ts else F.lit(None)
            ).alias("set_ts"),
            F.max(self.ts_col).alias("row_ts"),
        ).collect()[0]
        if stats["n"] == 0:
            return
        incoming = batch.drop(self.set_ts_col) if has_set_ts else batch
        set_ts = stats["set_ts"]
        if set_ts is None:
            set_ts = stats["row_ts"] or 0.0
        current = self._load(incoming)
        merged = apply_reconciliation(
            current, incoming, float(set_ts), self.identity, self.ts_col
        )
        # write-then-swap: localized to the store path; Delta MERGE replaces
        # this whole dance in production
        tmp = self.store_path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        final = self.spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(self.store_path)


class ExactlyOnceResourceStoreWriter:
    """Crash-atomic, epoch-idempotent, SCOPE-partitioned reconciling
    store — the production shape and the ``reconcile_stream`` default.

    Layout under ``store_path``::

        MANIFEST                 {"last_epoch": E,
                                  "scopes": {scope_key: "s<key>-e<E>.parquet"},
                                  "retired": [...]}
        data/s{key}-e{epoch}.parquet   immutable per-scope snapshots

    Per epoch: skip if already committed; otherwise merge the rows of
    EVERY scope the batch carries (``scope_cols``; default single global
    scope) into those scopes' manifest-resolved snapshots in ONE
    ``apply_reconciliation`` plan — the join key is the identity plus
    the scope key, so each scope is reconciled only against its own
    snapshot, with its own set timestamp guarding deletes (absence of a
    resource within a carried scope ⇒ delete, per the reference's
    per-(plugin, site) ``handle_resources``). The plan is written ONCE,
    partitioned by scope, and each scope's leaf is renamed to a NEW
    snapshot at a deterministic (scope, epoch)-keyed path (a crashed
    attempt's partial files are clobbered by the retry, never read),
    then the manifest is ``os.replace``d ONCE — readers see the previous
    consistent store until that instant. The commit costs a fixed
    handful of Spark jobs however many scopes it carries. Scopes absent
    from the batch keep their snapshot files untouched
    (byte-identical): write volume is O(scopes carried), not O(store).
    Files superseded by this commit are retired and deleted at the NEXT
    commit (one-generation grace for in-flight readers).
    Chaos-tested in ``tests/test_snmp_and_reconcile_stream.py``.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        identity_cols: list[str] | None = None,
        ts_col: str = "resource_creation_timestamp",
        set_ts_col: str = "resource_set_creation_timestamp",
        scope_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.store_path = store_path
        self.identity = identity_cols or RESOURCE_IDENTITY_COLS
        self.ts_col = ts_col
        self.set_ts_col = set_ts_col
        self.scope_cols = list(scope_cols) if scope_cols else []
        os.makedirs(os.path.join(store_path, "data"), exist_ok=True)

    def manifest(self) -> dict:
        try:
            with open(os.path.join(self.store_path, "MANIFEST")) as f:
                m = json.load(f)
        except FileNotFoundError:
            return {"last_epoch": -1, "scopes": {}, "retired": []}
        if "scopes" not in m:  # pre-r7 single-snapshot manifest
            snap = m.get("snapshot")
            # reserved key, never produced by _scope_key (those are
            # '<slug>-<hash>' / 'scope-<hash>'): the first scoped commit
            # migrates it — splitting per scope or renaming to
            # _scope_key([]) — and retires the legacy file. Mapping it to
            # "" (pre-r8 bug) matched NO _scope_key, so the first
            # post-upgrade merge ran against an empty store and read()
            # resurrected deleted resources from the stale snapshot.
            m["scopes"] = {"__legacy__": snap} if snap else {}
            m.pop("snapshot", None)
        m.setdefault("retired", [])
        return m

    def _swap_manifest(self, m: dict) -> None:
        tmp = os.path.join(self.store_path, "MANIFEST.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.store_path, "MANIFEST"))

    def _scope_key(self, values) -> str:
        raw = "\x1f".join("\x00" if v is None else str(v) for v in values)
        slug = re.sub(r"[^A-Za-z0-9_.-]", "_", raw)[:48]
        h = hashlib.md5(raw.encode()).hexdigest()[:8]
        return f"{slug}-{h}" if slug else f"scope-{h}"

    def read(self) -> DataFrame:
        m = self.manifest()
        files = [
            os.path.join(self.store_path, "data", v)
            for v in m["scopes"].values()
        ]
        if not files:
            raise ValueError(f"store at {self.store_path} has no commits yet")
        return self.spark.read.parquet(*files)

    def _gc(self, previously_retired: list[str]) -> list[str]:
        """Delete files retired at the PREVIOUS commit (no reader that
        started after that commit can reference them); files superseded
        just now stay on disk one more generation. Returns the names
        that STILL exist after the attempt (delete failures) — the
        caller keeps them in the manifest's retired list so they are
        retried next commit instead of leaking forever."""
        import shutil

        still: list[str] = []
        for fname in previously_retired:
            p = os.path.join(self.store_path, "data", fname)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                try:
                    os.remove(p)
                except OSError:
                    pass
            if os.path.exists(p):
                still.append(fname)
        return still

    def _merge_scopes(
        self, batch: DataFrame, carried: list, scopes: dict,
        retired_now: list, epoch_id: int,
    ) -> None:
        """Reconcile every carried scope in ONE plan and ONE write.

        Each scope's rows are reconciled only against that scope's
        snapshot: the join key is the identity plus ``__scope``, the
        scope's ``_scope_key``. Both sides get it from a CASE over the
        carried scopes' values as the per-scope stats returned them,
        with null-safe equality, so a null scope value still finds its
        scope and ``__scope`` is never null. The delete guard compares
        against each scope's own set timestamp, looked up by
        ``__scope``. Both lookups are literals in the plan, so they cost
        no job (a broadcast join against a frame of the stats rows ran
        one, and measured ~0.3 s slower per commit); their per-row cost
        grows with the scopes one batch carries, which plugins x sites
        bounds. The result is written partitioned by ``__scope`` and
        each leaf is renamed to the scope's snapshot name;
        ``scopes``/``retired_now`` are updated in place."""
        data = os.path.join(self.store_path, "data")
        incoming = batch.drop(self.set_ts_col)  # no-op when absent
        keys, set_ts, scope_of = [], [], None
        for srow in carried:
            vals = [srow[c] for c in self.scope_cols]
            skey = self._scope_key(vals)
            ts = srow["__set_ts"]
            if ts is None:
                ts = srow["__row_ts"] or 0.0
            keys.append(skey)
            set_ts += [F.lit(skey), F.lit(float(ts))]
            match = F.lit(True)
            for c, v in zip(self.scope_cols, vals):
                match = match & F.col(c).eqNullSafe(F.lit(v))
            scope_of = (F if scope_of is None else scope_of).when(
                match, F.lit(skey)
            )

        old_files = [scopes[k] for k in keys if k in scopes]
        if old_files:
            # explicit schema: one scan, no schema-inference job
            current = self.spark.read.schema(incoming.schema).parquet(
                *[os.path.join(data, f) for f in old_files]
            )
        else:
            current = self.spark.createDataFrame([], incoming.schema)
        merged = apply_reconciliation(
            current.withColumn("__scope", scope_of),
            incoming.withColumn("__scope", scope_of),
            F.create_map(*set_ts)[F.col("__scope")],
            list(self.identity) + ["__scope"],
            self.ts_col,
        )
        names = {k: f"s{k}-e{int(epoch_id)}.parquet" for k in keys}
        write_snapshots(merged, "__scope", data, f"e{int(epoch_id)}", names)
        for k, fname in names.items():
            old_file = scopes.get(k)
            if old_file is not None and old_file != fname:
                retired_now.append(old_file)
            scopes[k] = fname

    def __call__(self, batch: DataFrame, epoch_id: int):
        m = self.manifest()
        if int(epoch_id) <= int(m["last_epoch"]):
            return  # replayed epoch: already committed — no-op
        has_set_ts = self.set_ts_col in batch.columns
        # pin the batch: it feeds one scope-stats action plus the merge,
        # and a foreachBatch source may not be cheaply re-computable
        batch = batch.localCheckpoint(eager=True)
        # one driver action: per-scope row count + candidate set
        # timestamps (scope count is bounded by plugins x sites)
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            (
                F.max(self.set_ts_col) if has_set_ts else F.lit(None)
            ).alias("__set_ts"),
            F.max(self.ts_col).alias("__row_ts"),
        ]
        if self.scope_cols:
            stats = batch.groupBy(*self.scope_cols).agg(*aggs).collect()
        else:
            stats = batch.agg(*aggs).collect()

        prev_retired = list(m.get("retired", []))
        retired_now: list[str] = []
        scopes = dict(m["scopes"])
        # one-time migration of a pre-r7 single-snapshot store, committed
        # atomically WITH this epoch's manifest swap: unscoped writers
        # keep the file (key rename only); scoped writers split it into
        # per-scope snapshots so every scope's history/timestamp guards
        # survive the upgrade, then retire the legacy file.
        if "__legacy__" in scopes:
            legacy_file = scopes.pop("__legacy__")
            if not self.scope_cols:
                scopes[self._scope_key([])] = legacy_file
            else:
                legacy = self.spark.read.parquet(
                    os.path.join(self.store_path, "data", legacy_file)
                )
                for lrow in sorted(
                    legacy.select(*self.scope_cols).distinct().collect(),
                    key=lambda r: [str(v) for v in r],
                ):
                    lvals = [lrow[c] for c in self.scope_cols]
                    lkey = self._scope_key(lvals)
                    part = legacy
                    for c, v in zip(self.scope_cols, lvals):
                        part = part.where(F.col(c).eqNullSafe(F.lit(v)))
                    # 'm' suffix: migration names never collide with this
                    # epoch's merge snapshots (s<key>-e<E>.parquet)
                    fname = f"s{lkey}-e{int(epoch_id)}m.parquet"
                    part.write.mode("overwrite").parquet(
                        os.path.join(self.store_path, "data", fname)
                    )
                    scopes[lkey] = fname
                retired_now.append(legacy_file)
        carried = sorted(
            (r for r in stats if r["__n"] > 0),
            key=lambda r: [str(r[c]) for c in self.scope_cols],
        )
        if carried:
            self._merge_scopes(batch, carried, scopes, retired_now, epoch_id)

        # GC BEFORE the swap, and carry any survivor names forward: the
        # previous ordering (swap, then delete) dropped prev_retired from
        # the manifest first — a crash in between left them referenced by
        # nothing and deleted by no one, a permanent leak. Deleting here
        # keeps the same one-generation grace (these files were
        # superseded a full commit ago); a crash after the deletes and
        # before the swap just makes the epoch's retry re-attempt
        # already-gone names (the exists-checks no-op).
        still_retired = self._gc(prev_retired)
        m_new = {
            "last_epoch": int(epoch_id),
            "scopes": scopes,
            "retired": retired_now + still_retired,
        }
        self._swap_manifest(m_new)


def reconcile_stream(
    resources_stream: DataFrame,
    spark: SparkSession,
    store_path: str,
    checkpoint: str,
    exactly_once: bool = True,
    **writer_kwargs,
):
    """Attach the reconciling writer to a validated resource stream.

    ``exactly_once=True`` (the default since r7) routes to the
    crash-atomic, scope-partitioned
    :class:`ExactlyOnceResourceStoreWriter`; pass ``scope_cols``
    (e.g. ``DEFAULT_SCOPE_COLS``) so an epoch rewrites only the
    (plugin, site) scopes it carries. ``exactly_once=False`` keeps the
    deprecated plain-parquet writer for legacy single-directory stores.
    """
    cls = ExactlyOnceResourceStoreWriter if exactly_once else ResourceStoreWriter
    writer = cls(spark, store_path, **writer_kwargs)
    return (
        resources_stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
