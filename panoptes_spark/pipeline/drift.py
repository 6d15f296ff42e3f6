"""Distribution-drift detection: per-key two-sample Kolmogorov–Smirnov.

The monitoring question between two corpus snapshots or telemetry
windows: "did the value distribution change, per key?" The KS statistic
``max_v |F_a(v) - F_b(v)|`` is the standard nonparametric answer.

This operator is the engine's ``cogroup`` showcase: the two sides are
grouped on the key and each (group_a, group_b) pandas pair is scored in
one vectorized numpy pass (sort + searchsorted ECDFs over the union
grid) — Arrow-batched, keyed, no driver involvement. The statistic is
fully deterministic (exact rational cumulative counts, one correctly-
rounded division per grid point, 6 dp rounding), so a pure-SQL twin —
RANGE-framed cumulative counts over the pooled points — reproduces it
hash-exactly; the gate proves the two formulations agree.

Keys present on only one side emit nothing (no distribution to compare);
callers wanting them use an anti-join on the key sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["ks_drift", "ks_oracle_sql"]


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key KS statistic between ``a`` and ``b``'s ``value_col``
    distributions. Returns key cols + (n_a, n_b, ks)."""
    import numpy as np
    import pandas as pd

    if not key_cols:
        raise ValueError("ks_drift requires key columns")
    ktypes = dict(a.dtypes)
    schema = (
        ", ".join(f"{k} {ktypes[k]}" for k in key_cols)
        + ", n_a long, n_b long, ks double"
    )

    def ks(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        na, nb = len(pa), len(pb)
        if na == 0 or nb == 0:
            return pd.DataFrame(
                columns=list(key_cols) + ["n_a", "n_b", "ks"]
            )
        va = np.sort(pa[value_col].to_numpy(dtype=np.float64))
        vb = np.sort(pb[value_col].to_numpy(dtype=np.float64))
        grid = np.union1d(va, vb)
        fa = np.searchsorted(va, grid, side="right") / np.float64(na)
        fb = np.searchsorted(vb, grid, side="right") / np.float64(nb)
        stat = round(float(np.max(np.abs(fa - fb))), 6)
        return pd.DataFrame(
            [list(key) + [na, nb, stat]],
            columns=list(key_cols) + ["n_a", "n_b", "ks"],
        )

    return (
        a.select(*key_cols, value_col)
        .groupBy(*key_cols)
        .cogroup(b.select(*key_cols, value_col).groupBy(*key_cols))
        .applyInPandas(ks, schema)
    )


def ks_oracle_sql(
    a_sql: str, b_sql: str, key: str, value: str = "v"
) -> str:
    """DuckDB twin: pooled points, RANGE-framed cumulative counts (ties
    collapse under RANGE), max |ECDF_a - ECDF_b| per key."""
    return f"""
WITH pa AS ({a_sql}), pb AS ({b_sql}),
pts AS (
  SELECT {key}, {value} AS v, 1 AS ia, 0 AS ib FROM pa
  UNION ALL
  SELECT {key}, {value}, 0, 1 FROM pb
),
cum AS (
  SELECT {key}, v,
    sum(ia) OVER (PARTITION BY {key} ORDER BY v
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
    sum(ib) OVER (PARTITION BY {key} ORDER BY v
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM pts
),
tot AS (SELECT {key}, sum(ia) AS n_a, sum(ib) AS n_b FROM pts GROUP BY 1)
-- CAST AS BIGINT: DuckDB sum() is HUGEINT, which pandas widens to
-- float64 and the driver's exact-hash canon rejects vs Spark's bigint
SELECT {key}, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(max(abs(ca / CAST(n_a AS DOUBLE) - cb / CAST(n_b AS DOUBLE))), 6)
    AS ks
FROM cum JOIN tot USING ({key})
WHERE n_a > 0 AND n_b > 0
GROUP BY {key}, n_a, n_b
"""


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell embedding drift between two corpus snapshots — the
    embedding-space complement to :func:`ks_drift`.

    Cells are seeded from the OLD snapshot (the reference frame), both
    snapshots assign by broadcast-matmul (`similarity.ivf_assign`, no
    shuffle), and each cell reports:

    - ``n_old`` / ``n_new`` — cell populations;
    - ``pop_shift`` — ``n_new/N_new − n_old/N_old`` (occupancy drift);
    - ``centroid_shift`` — ``1 − cos(mean_old, mean_new)`` of the
      per-cell component means (semantic drift of the cell's content);
      NULL when a side left the cell empty.

    Cross-engine exactness: per-(cell, pos) means go through the
    DECIMAL(30,12) sum + one correctly-rounded division + 6 dp rounding
    (the ``kmeans_refine`` recipe), so the cosine of two mean vectors
    is a sum of 64 reproducible doubles, rounded at 6 dp.

    Scale (r11 single-pass shape — the oracle's own CTE structure):
    the two snapshots UNION with an ``__is_old`` tag and assign in ONE
    broadcast-matmul pass (``ivf_assign(keep_cols=...)``); one
    cell-keyed conditional aggregate yields both populations, one
    (cell, pos)-keyed conditional aggregate yields both mean vectors —
    the previous per-side subtrees ran two assignment passes, four
    eager materializations, and two mean shuffles for the same answer.
    The count frame feeds both the totals and the fractions unpersisted:
    a paired A/B measured its eager fill slower than the recompute of
    the cell-count-sized aggregate (SCALE.md, "Build-time persists")."""
    from pyspark.sql import functions as F

    from .similarity import ivf_assign, seed_centroids

    cents = seed_centroids(old, n_cells, id_col, vec_col)
    both = old.select(
        id_col, vec_col, F.lit(True).alias("__is_old")
    ).unionByName(new.select(id_col, vec_col, F.lit(False).alias("__is_old")))
    asg = ivf_assign(
        both, cents, id_col, vec_col, nprobe=1, keep_cols=["__is_old"]
    ).select("cell_id", "__is_old", vec_col)

    counts = asg.groupBy("cell_id").agg(
        F.count_if(F.col("__is_old")).alias("n_old"),
        F.count_if(~F.col("__is_old")).alias("n_new"),
    )
    totals = counts.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )

    def _mean(flag):
        # per-(cell, pos) component mean of ONE side out of the shared
        # aggregate: decimal-exact sum over that side's rows / its
        # count — identical arithmetic to the per-side relations
        comp_dec = F.col("comp").cast("double").cast("decimal(30,12)")
        side_sum = F.sum(F.when(flag, comp_dec)).cast("double")
        side_n = F.count_if(flag)
        return F.round(side_sum / side_n, 6)

    m = (
        asg.select(
            "cell_id",
            "__is_old",
            F.posexplode(F.col(vec_col)).alias("pos", "comp"),
        )
        .groupBy("cell_id", "pos")
        .agg(
            _mean(F.col("__is_old")).alias("ma"),
            _mean(~F.col("__is_old")).alias("mb"),
        )
    )
    # a side absent from a cell leaves its mean NULL at every pos, so
    # the sums below go NULL and centroid_shift is NULL — the same
    # semantics the per-side inner join + left join produced
    shift = m.groupBy("cell_id").agg(
        F.round(
            1.0
            - F.sum(F.col("ma") * F.col("mb"))
            / F.sqrt(
                F.sum(F.col("ma") * F.col("ma"))
                * F.sum(F.col("mb") * F.col("mb"))
            ),
            6,
        ).alias("centroid_shift")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "pop_shift",
            F.round(
                F.col("n_new") / F.col("t_new")
                - F.col("n_old") / F.col("t_old"),
                6,
            ),
        )
        .join(shift, "cell_id", "left")
        .select("cell_id", "n_old", "n_new", "pop_shift", "centroid_shift")
    )
