"""Per-gate profiling harness for the optimization rounds.

Usage: python tools/profile_gate.py <sf_dir>[,<sf_dir>...] <gate> [<gate> ...] [--runs N]
       python tools/profile_gate.py <sf_dir> --plans-dir plans/r11 --suffix before <gate>...

For each (scale factor, gate) pair: runs the gate through bench.py's
``run_gate`` (best-of-N with ``count()`` as the action, one release
after the N runs — the battery's own loop, so the numbers compare with
BENCH_DETAIL.json) and reports seconds AND the Spark jobs of the best
run (the fixed-overhead signal at small SF: a gate whose time is
job-count-bound, not data-bound, needs fewer actions/passes, not faster
kernels). A comma-separated SF list is a scale-factor sweep: a gate
flat across 100x data is fixed-overhead-bound, one growing ~linearly
with rows is scan/shuffle-bound, anything super-linear is a red flag.

``--plans-dir`` also writes ``<plans_dir>/<gate>_<suffix>.txt`` with
the ``explain("formatted")`` physical plan at the FIRST SF listed.
Prints one JSON line ``{sf_dir: {gate: {"sec", "jobs", "rows"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import run_gate  # noqa: E402
from panoptes_spark.session import get_spark, release  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", help="one SF dir, or a comma-separated list")
    ap.add_argument("gates", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    sf_dirs = args.sf_dirs.split(",")

    qs = entrymod.queries()
    unknown = [g for g in args.gates if g not in qs]
    if unknown:
        sys.exit(f"unknown gate(s): {unknown}")
    spark = get_spark(app_name="panoptes_profile")
    spark.read.parquet(os.path.join(sf_dirs[0], "nation.parquet")).count()

    out = {}
    for sf_dir in sf_dirs:
        out[sf_dir] = {}
        for name in args.gates:
            r = run_gate(spark, qs[name], sf_dir, args.runs)
            out[sf_dir][name] = {**r, "sec": round(r["sec"], 3)}
            print(
                f"# {sf_dir} {name}: {r['rows']} rows in {r['sec']:.2f}s,"
                f" {r['jobs']} jobs",
                file=sys.stderr,
            )
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
        for name in args.gates:
            df = qs[name](spark, sf_dirs[0])
            plan = df._jdf.queryExecution().explainString(
                mode.fromString("formatted")
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
            release(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
