"""Resource reconciliation (J5 / W5) — set-diff merge with timestamp
conflict resolution.

Reference: ``/root/reference/yahoo_panoptes/resources/manager.py:46-142``.
Per (plugin, site), the incoming resource set is reconciled against the
current store on the 5-field identity (``resources.py:284-292``):

- **delete**: in store, not incoming — SKIPPED when the stored
  ``resource_creation_timestamp`` > the incoming *set* timestamp
  (out-of-order protection, :80-93).
- **add**: in incoming, not in store (:96-107).
- **update**: in both — SKIPPED when stored ts > incoming *resource* ts
  (:109-135); otherwise the incoming row replaces the stored one.

Spark-first: a single full-outer join on the identity columns computes all
three actions in one shuffle; ``apply_reconciliation`` materializes the new
store state (the Delta-style ``MERGE`` without needing Delta). At 100 TB
the join shuffles by identity hash; both sides are pre-filterable by
(plugin, site) partition columns, which is the reference's key-glob
pushdown (S6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import RESOURCE_IDENTITY_COLS


def reconcile(
    current: DataFrame,
    incoming: DataFrame,
    incoming_set_ts: float | Column,
    identity_cols: list[str] | None = None,
    ts_col: str = "resource_creation_timestamp",
) -> DataFrame:
    """Full-outer reconciliation plan.

    Returns one row per identity with an ``action`` column in
    {'add', 'update', 'delete', 'keep_newer', 'skip_update'} plus the
    winning row's non-identity columns.

    ``incoming_set_ts`` is the incoming set's timestamp, or a Column
    evaluated per joined row over the identity columns — how one plan
    reconciles several sets at once, each with its own timestamp
    (``streaming.reconcile_stream`` keys it on the scope column).

    ``keep_newer``   — delete suppressed by the stored-ts guard
    ``skip_update``  — update suppressed by the stored-ts guard
    """
    ident = identity_cols or RESOURCE_IDENTITY_COLS
    cur = current.select(
        *ident, *[F.col(c).alias(f"cur_{c}") for c in current.columns if c not in ident]
    )
    inc = incoming.select(
        *ident, *[F.col(c).alias(f"inc_{c}") for c in incoming.columns if c not in ident]
    )
    j = cur.join(inc, ident, "full_outer")

    cur_ts = F.col(f"cur_{ts_col}")
    inc_ts = F.col(f"inc_{ts_col}")
    in_cur = cur_ts.isNotNull()
    in_inc = inc_ts.isNotNull()

    action = (
        F.when(in_cur & ~in_inc & (cur_ts > F.lit(incoming_set_ts)), "keep_newer")
        .when(in_cur & ~in_inc, "delete")
        .when(~in_cur & in_inc, "add")
        .when(in_cur & in_inc & (cur_ts > inc_ts), "skip_update")
        .otherwise("update")
    )
    return j.withColumn("action", action)


def scd2_history(
    snapshots: DataFrame,
    identity_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "ts_ms",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse a pile of timestamped snapshots into SCD2 history: one
    row per (identity, attribute-change) with ``valid_from`` /
    ``valid_to`` (exclusive, NULL = open) and ``is_current``.

    The temporal materialization of the reconcile family (W5): where
    ``apply_reconciliation`` keeps only the latest winning row, this
    keeps every distinct state with its validity interval — the shape
    warehouses call a type-2 slowly-changing dimension.

    A row opens a new interval iff any ``attr_cols`` value IS DISTINCT
    FROM the previous snapshot of the same identity (null-safe), or it
    is the identity's first snapshot. One hash shuffle on the identity;
    both windows (the change flag and the ``lead`` close-off) share that
    partitioning, so the plan is Exchange-once + two sorts.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*identity_cols).orderBy(*order)
    changed = F.lag(ts_col).over(w).isNull()  # first snapshot
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    ch = (
        snapshots.withColumn("__chg", changed)
        .where(F.col("__chg"))
        .drop("__chg")
    )
    return ch.select(
        *identity_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def apply_reconciliation(
    current: DataFrame,
    incoming: DataFrame,
    incoming_set_ts: float | Column,
    identity_cols: list[str] | None = None,
    ts_col: str = "resource_creation_timestamp",
) -> DataFrame:
    """Materialize the post-merge store state (same schema as inputs).
    ``incoming_set_ts`` may be a Column, as in :func:`reconcile`."""
    ident = identity_cols or RESOURCE_IDENTITY_COLS
    plan = reconcile(current, incoming, incoming_set_ts, ident, ts_col)
    other = [c for c in current.columns if c not in ident]
    winners = plan.where(F.col("action") != "delete").select(
        *ident,
        *[
            F.when(
                F.col("action").isin("add", "update"), F.col(f"inc_{c}")
            )
            .otherwise(F.col(f"cur_{c}"))
            .alias(c)
            for c in other
        ],
    )
    return winners
