"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares the way the DRIVER does:
both results go through pandas, columns sorted by name, rows sorted by
all columns, cells compared EXACTLY (no significant-digit rounding).

Additional guards the r4 post-mortem demanded (VERDICT r4 #6):
- pandas-dtype parity: an int64 vs float64 skew (e.g. a DuckDB HUGEINT
  sum widened to float) is a FAIL even when the values print the same.
- complex-typed cells (list/dict/ndarray) are a FAIL on sight: the
  driver's canonicalizer dies with "unhashable type" on them, which
  counts as a failed gate.

Usage: python tools/check.py [sf_dir] [query_name ...]

Set ``CHECK_SHUFFLE_PARTITIONS`` to run the sweep under a different
shuffle-partition count (e.g. 7), and/or ``CHECK_MASTER`` to run under a
different core count (e.g. ``local[5]``): every gate must produce the
identical canon regardless of partition layout — a partition-dependence
soak that catches collect_list/first-style ordering bugs the
default-layout run can mask.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from panoptes_spark.session import get_spark, release  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class ComplexCell(Exception):
    pass


def norm_cell(v):
    """Exact canonical string for a cell — NO float rounding."""
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise ComplexCell(type(v).__name__)
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == 0:
            return "0"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def canon_pdf(pdf: pd.DataFrame):
    """(sorted rows, sorted cols, dtype map) — driver-shaped canon."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # dtype KIND parity ('i' int / 'f' float / 'O' object / 'b' bool):
    # the driver's stringified-cell hash survives width skew (int32 vs
    # int64 — text_features passed in r4) but NOT kind skew (HUGEINT →
    # float64 vs bigint — vocab_coverage failed in r4)
    dtypes = {c: pdf[c].dtype.kind for c in cols}
    rows = []
    for r in pdf.itertuples(index=False, name=None):
        rows.append(tuple(norm_cell(v) for v in r))
    rows.sort()
    return rows, cols, dtypes


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    nshuf = int(os.environ.get("CHECK_SHUFFLE_PARTITIONS", "0"))
    master = os.environ.get("CHECK_MASTER") or None
    spark = get_spark(
        app_name="check", master=master, shuffle_partitions=nshuf or None
    )
    if nshuf or master:
        print(f"(layout override: master={master} shuffle_partitions={nshuf})")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # drop per-gate persists so a full sweep keeps memory flat
            # (file-backed artifacts like the dedup index survive this)
            release(spark)
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        try:
            s_rows, s_cols, s_dt = canon_pdf(spdf)
        except ComplexCell as e:
            print(f"FAIL {name}: complex-typed cell on SPARK side ({e}) — "
                  "the driver's canonicalizer cannot hash this")
            n_fail += 1
            continue
        try:
            o_rows, o_cols, o_dt = canon_pdf(opdf)
        except ComplexCell as e:
            print(f"FAIL {name}: complex-typed cell on ORACLE side ({e}) — "
                  "the driver's canonicalizer cannot hash this")
            n_fail += 1
            continue

        dt = time.time() - t0
        if s_cols != o_cols:
            print(f"FAIL {name}: columns differ spark={s_cols} duckdb={o_cols}")
            n_fail += 1
        elif s_dt != o_dt:
            skew = {
                c: (s_dt[c], o_dt[c]) for c in s_cols if s_dt[c] != o_dt[c]
            }
            print(f"FAIL {name}: dtype skew (spark, duckdb): {skew} — "
                  "the driver's exact hash will mismatch")
            n_fail += 1
        elif len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} "
                  f"duckdb={len(o_rows)}")
            n_fail += 1
        elif s_rows != o_rows:
            diffs = [
                (a, b) for a, b in zip(s_rows, o_rows) if a != b
            ][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({dt:.1f}s)")
            n_pass += 1

    unknown = only - set(qs)
    if unknown:
        print(f"FAIL: unknown query name(s): {sorted(unknown)}")
        n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
