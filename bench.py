"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE compact JSON line as the
LAST line of stdout:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The driver keeps only the TAIL of the merged output stream, so the
summary line must come last and stay small. The full per-query timing
map, and the Spark jobs of each query's best run, are written to
BENCH_DETAIL.json next to this file; the stdout summary carries the
slowest 10 queries only.

Noise discipline (r8): the box shows ±40% window swings on identical
code, which erodes every round-over-round trend judgement. The battery
(all queries, best-of-2 each) now repeats ``SPARK_GRAFT_BENCH_REPEATS``
times (default 3); the committed "value" is the MEDIAN battery total,
and every battery's total is recorded in the artifact (``run_totals``)
so drift can be separated from noise without re-deriving it.
Per-query times are the per-battery medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from panoptes_spark.session import get_spark, release, spark_jobs

# Headline set: representative of each operator family; the full inventory
# runs in the correctness gate, the bench tracks throughput of the big ones.
HEADLINE = [
    "p1_dsl_metadata_like",
    "j1_enrichment_join",
    "j6_rate_batch",
    "a_pricing_summary",
]


def run_gate(spark, fn, sf_dir, runs=2):
    """Best-of-``runs`` wall seconds of ``fn(spark, sf_dir).count()``,
    with the Spark jobs and rows of that best run. A release follows
    every run, even one that raises, so each run builds against an
    empty cache: a gate that persists pays its fill on every run, as a
    single call of it does, and no run reads blocks an earlier run
    cached. Jobs are read from the status store outside the timed
    interval."""
    best = None
    for _ in range(runs):
        try:
            with spark_jobs(spark) as window:
                t0 = time.time()
                rows = fn(spark, sf_dir).count()
                sec = time.time() - t0
        finally:
            release(spark)
        if best is None or sec < best["sec"]:
            best = {"sec": sec, "jobs": window["jobs"], "rows": rows}
    return best


def run_battery(spark, qs, names, sf_dir):
    timings, jobs = {}, {}
    total = 0.0
    for name in names:
        # best-of-2: first run pays codegen/classloader warmup per query;
        # sub-second queries otherwise show 20-50% run-to-run JVM noise
        r = run_gate(spark, qs[name], sf_dir)
        timings[name] = round(r["sec"], 3)
        jobs[name] = r["jobs"]
        total += r["sec"]
        # per-query progress on stderr only; stdout must end with the JSON
        print(
            f"# {name}: {r['rows']} rows in {r['sec']:.2f}s, {r['jobs']} jobs",
            file=sys.stderr,
        )
    return timings, jobs, round(total, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    spark = get_spark(app_name="panoptes_bench")

    # JVM/codegen warmup so the first timed query isn't charged for it
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in qs if n not in HEADLINE
    ]

    # r9 (VERDICT r8 #5): a one-query count() does NOT absorb the
    # first-compile cost of ~140 distinct plans — battery 1 of the r8
    # window ran 41% hot. Policy: one THROWAWAY battery at a tiny SF
    # (default sf0.001) compiles every gate's codegen/classloaders
    # before the timed batteries; its wall time is recorded in the
    # artifact, never in the battery totals. SPARK_GRAFT_BENCH_WARM=0
    # disables (or point it at another warm dir).
    warm_dir = os.environ.get(
        "SPARK_GRAFT_BENCH_WARM", "/root/testdata/sf0.001"
    )
    warm_sec = None
    if warm_dir not in ("", "0") and os.path.isdir(warm_dir):
        t0 = time.time()
        print(f"## warm battery @ {warm_dir} (untimed)", file=sys.stderr)
        for name in names:
            try:
                run_gate(spark, qs[name], warm_dir, runs=1)
            except Exception as e:  # a warm failure must not kill the bench
                print(f"# warm {name} failed: {e}", file=sys.stderr)
        warm_sec = round(time.time() - t0, 3)

    batteries = []
    battery_jobs = []
    run_totals = []
    for b in range(repeats):
        print(f"## battery {b + 1}/{repeats}", file=sys.stderr)
        timings, gate_jobs, total = run_battery(spark, qs, names, sf_dir)
        batteries.append(timings)
        battery_jobs.append(gate_jobs)
        run_totals.append(total)

    # median across batteries, per query and for the battery total
    timings = {
        name: round(statistics.median(bt[name] for bt in batteries), 3)
        for name in names
    }
    jobs = {
        name: statistics.median_low(bj[name] for bj in battery_jobs)
        for name in names
    }
    total = statistics.median(run_totals)

    # shared build-once artifacts (e.g. the dedup pair index) amortize out
    # of per-query bests; surface their one-time build cost explicitly
    from panoptes_spark import memo

    build_sec = round(memo.build_s("dedup"), 3)
    fold_sec = round(memo.build_s("dedup_stream"), 3)
    ann_stream_sec = round(memo.build_s("ann_stream"), 3)

    # the plain BENCH_DETAIL.json name is reserved for the driver's
    # default SF so off-SF runs (e.g. the sf1 soak) never clobber the
    # committed artifact; realpath so trailing slashes / relative
    # spellings / symlinks of the same directory don't flip the name
    default_dir = os.path.realpath(sf_dir) == os.path.realpath(
        "/root/testdata/sf0.1"
    )
    detail_name = (
        "BENCH_DETAIL.json" if default_dir else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(timings),
                "queries": timings,
                "jobs": jobs,
                "sf": sf_val,
                "run_totals": run_totals,
                "dedup_index_build_sec": build_sec,
                "dedup_stream_fold_sec": fold_sec,
                "ann_stream_build_sec": ann_stream_sec,
                "warmup": {
                    "policy": f"full-battery@{warm_dir}"
                    if warm_sec is not None
                    else "disabled",
                    "sec": warm_sec,
                },
            },
            f,
            indent=1,
        )

    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    # compact summary LAST on stdout (tail-truncation-proof, < 1 KiB)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(timings),
                "queries": slowest,
                "sf": sf_val,
                "run_totals": run_totals,
                "dedup_index_build_sec": build_sec,
                "dedup_stream_fold_sec": fold_sec,
                "ann_stream_build_sec": ann_stream_sec,
                "warm_sec": warm_sec,
                "detail": detail_name,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
