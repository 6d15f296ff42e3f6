"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE compact JSON line as the
LAST line of stdout:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The driver keeps only the TAIL of the merged output stream, so the
summary line must come last and stay small. The full per-query timing
map is written to BENCH_DETAIL.json next to this file; the stdout
summary carries the slowest 10 queries only.

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
from panoptes_spark.session import get_spark

# Headline set: representative of each operator family; the full inventory
# runs in the correctness gate, the bench tracks throughput of the big ones.
HEADLINE = [
    "p1_dsl_metadata_like",
    "j1_enrichment_join",
    "j6_rate_batch",
    "a_pricing_summary",
]


def _release_between_queries(spark):
    """Drop per-query persists so memory stays flat across the battery:
    clearCache drops the blocks, release_materialized clears the persist
    markers materialize_once registered (otherwise re-running a gate
    logs 'already cached' and re-fills against cold storage)."""
    import gc

    from panoptes_spark.pipeline import dedup

    dedup.release_materialized()
    spark.catalog.clearCache()
    # localCheckpoint blocks (the sharded ANN top-k paths) are freed by
    # the ContextCleaner only after the Python-side frames are GC'd —
    # without this, a long battery accumulates checkpoint RDD blocks
    # and late gates pay the memory pressure (r9: pq_encode 13.2 s
    # in-battery at sf1 vs 1.5 s isolated, same plan)
    gc.collect()


def run_battery(spark, qs, names, sf_dir):
    timings = {}
    total = 0.0
    for name in names:
        fn = qs[name]
        # best-of-2: first run pays codegen/classloader warmup per query;
        # sub-second queries otherwise show 20-50% run-to-run JVM noise
        best, n = None, 0
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        _release_between_queries(spark)
        timings[name] = round(best, 3)
        total += best
        # per-query progress on stderr only; stdout must end with the JSON
        print(f"# {name}: {n} rows in {best:.2f}s", file=sys.stderr)
    return timings, round(total, 3)


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
                qs[name](spark, warm_dir).count()
            except Exception as e:  # a warm failure must not kill the bench
                print(f"# warm {name} failed: {e}", file=sys.stderr)
            _release_between_queries(spark)
        warm_sec = round(time.time() - t0, 3)

    batteries = []
    run_totals = []
    for b in range(repeats):
        print(f"## battery {b + 1}/{repeats}", file=sys.stderr)
        timings, total = run_battery(spark, qs, names, sf_dir)
        batteries.append(timings)
        run_totals.append(total)

    # median across batteries, per query and for the battery total
    timings = {
        name: round(statistics.median(bt[name] for bt in batteries), 3)
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
