"""Shuffle-budget regression guard for the flagship gates.

test_plan_audit.py rejects categorically bad shapes (cartesians,
unpartitioned windows); this locks the NUMBER of shuffles for the gates
whose single-shuffle / zero-shuffle design is the point. A refactor that
silently adds an Exchange to one of these fails here, not in a 100 TB
run."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

#: gate -> max hash/range Exchanges allowed in the executed plan
BUDGETS = {
    # map-only families: zero shuffles, full pushdown
    "p1_dsl_field_filter": 0,
    "f_scalar_functions": 0,
    "split_assignment": 0,
    "text_pii_scrub": 0,
    "chunk_documents": 0,
    "w6_uniform_splay": 0,
    # single-keyed-shuffle designs (budget covers gate-level extras:
    # sessionize's final orderBy adds a range exchange; the asof gate
    # pre-aggregates its right side — the operator cores are separately
    # asserted at 1 in tests/test_sessions.py / tests/test_temporal.py)
    "w_sessionize_events": 2,
    "j6_rate_batch": 1,
    "j8_asof_align": 2,
    "w5_scd2_history": 1,
    "w8_rank_suite": 1,
    "w7_moving_avg": 1,
    "a_pricing_summary": 1,
    # broadcast-dim joins: the one shuffle is the gate's group rollup
    "j1_enrichment_join": 1,
    "a13_above_nation_avg": 1,
    # top-k via TakeOrderedAndProject, not a sort: key + 0 extra
    "weighted_sample": 0,
    # PQ encode is one narrow Arrow pass — ANY shuffle is a regression
    "pq_encode": 0,
    # cogrouped ANN kernels (r6): both sides keyed by cell (2) + the
    # global top-k window (1); the pair relation never materializes
    "ann_ivf_topk": 3,
    "ann_ivfpq_topk": 3,
    # LSH: (band, code) equi-join + top-k window
    "ann_lsh_topk": 2,
    # one unpersisted plan shape per trainer: the LM's bigram/unigram
    # counts + union-arm vocab + per-doc scoring, and two Lloyd rounds
    "lm_perplexity": 6,
    "ann_kmeans_refine": 4,
}


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan))


@pytest.fixture(scope="module")
def spark_plans(spark):
    qs = entrymod.queries()
    out = {}
    for name in BUDGETS:
        out[name] = (
            qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
    return out


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark_plans, name):
    got = _shuffles(spark_plans[name])
    assert got <= BUDGETS[name], (
        f"{name}: {got} shuffles > budget {BUDGETS[name]}\n"
        + spark_plans[name][:2000]
    )


#: gate -> max DISTINCT Exchange nodes in the plan of a ``count()`` run
#: after ``session.release`` — the state every benchmark op and bench.py
#: gate runs in (a release drops every persist, so nothing cached may
#: stand in for a subtree). Distinct exchange text = exchanges that
#: actually execute. Each DSL gate compiles to one pass over its oid
#: tables: their own (device_id, idx) aggregate, the compiler's one
#: device_id exchange, and the count's final single-partition exchange.
UNIQUE_BUDGETS = {
    "dsl_metric_program": 3,
    "p7_empty_dimension_policy": 3,
    "s2_scalar_get_program": 3,
}

#: max Spark jobs of one post-release ``count()`` of each DSL gate
DSL_JOB_BUDGET = 4


def _unique_shuffles(plan: str) -> int:
    uniq = set()
    for line in plan.splitlines():
        s = re.sub(r"^[ :+\-*()0-9]*", "", line)
        if re.match(r"Exchange (?:hash|range|SinglePartition)", s):
            uniq.add(s)
    return len(uniq)


def _released_count_plan(spark, name: str) -> str:
    from panoptes_spark.session import release

    df = entrymod.queries()[name](spark, SF)
    release(spark)
    return (
        df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    )


@pytest.mark.parametrize("name", sorted(UNIQUE_BUDGETS))
def test_unique_shuffle_budget(spark, name):
    plan = _released_count_plan(spark, name)
    got = _unique_shuffles(plan)
    assert got <= UNIQUE_BUDGETS[name], (
        f"{name}: {got} distinct exchanges > budget {UNIQUE_BUDGETS[name]}"
    )
    scans = re.findall(r"FileScan parquet [^\n]*lineitem\.parquet", plan)
    assert len(scans) == 1, f"{name}: {len(scans)} lineitem scans\n{plan}"


@pytest.mark.parametrize("name", sorted(UNIQUE_BUDGETS))
def test_dsl_gate_jobs_after_release(spark, name):
    """A post-release ``count()`` runs the same jobs every time — no
    cache to fill on one run and hit on the next — and few of them."""
    from panoptes_spark.session import release, spark_jobs

    qs = entrymod.queries()
    jobs = []
    for _ in range(3):
        df = qs[name](spark, SF)
        release(spark)
        with spark_jobs(spark) as window:
            df.count()
        jobs.append(window["jobs"])
    assert len(set(jobs)) == 1, f"{name}: jobs per run {jobs}"
    assert jobs[0] <= DSL_JOB_BUDGET, (
        f"{name}: {jobs[0]} jobs > budget {DSL_JOB_BUDGET}"
    )


# -- indexed-aggregate compiler plan (juniper power_units_on) -----------

_JNP = "/root/reference/tests/plugins/polling/generic/snmp/juniper/data"


def test_indexed_aggregate_plan_budget(spark):
    """The r4 indexed-aggregate path (power_units_on: driving frame ×
    device-dim agg table, _indexed_aggregate_values): the per-device
    cross join must stay a bounded dim×dim join keyed on device_id —
    never a CartesianProduct — and the whole mx2020 program (cpu,
    memory, environment incl. the aggregate, disk) must hold a distinct-
    exchange budget."""
    import os

    import pytest as _pytest

    if not os.path.isdir(_JNP):
        _pytest.skip("reference corpus not available")

    from panoptes_spark.dsl import corpus
    from panoptes_spark.dsl.metric_compiler import MetricDSLCompiler

    program = corpus.load_program(f"{_JNP}/mx2020_enrichment")
    snmprec = corpus.parse_snmprec(f"{_JNP}/recording/mx2020.snmprec")
    oid_maps, _events = corpus.build_oid_fixture(
        program, snmprec, service_active=True
    )
    tables = corpus.oid_tables_df(spark, oid_maps, program, "127.0.0.1")
    devices = spark.createDataFrame([("127.0.0.1",)], "device_id string")
    comp = MetricDSLCompiler(
        spark, program, tables, interval_sec=60,
        schema_version="0.1", static_devices=devices,
    )
    plan = comp.compile()._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = _unique_shuffles(plan)
    # 25 at lock time: the program has TWO aggregate targets (indexed
    # power_units_on + top-level fans_ok), a table subscript, member
    # flags, and four groups incl. disk. Every exchanged frame is
    # device-dim or entity-dim sized (never walk-corpus sized) and
    # keyed on device_id / (device_id, index) — the natural parallelism
    # — so the count locks REGRESSION, not an efficiency target.
    assert got <= 25, f"mx2020 program: {got} distinct exchanges > 25\n"
