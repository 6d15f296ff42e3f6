"""Physical-plan audit across the ENTIRE gate surface.

Scale guards the judge's plan review checks by hand, automated: every
`queries()` entry is planned at sf0.001 and its executed plan asserted
free of the two classic single-node-only shapes:

- ``CartesianProduct`` — an unkeyed join that explodes at scale;
- unpartitioned ``Window`` — "WindowExec: No Partition Defined" drags the
  whole input to one partition (the round-1/2 `seed_centroids` bug class).

Plan-shape note: a Window node prints its top-level bracket groups
`Window [exprs], [partition], [order]`, leaving out an empty one: an
unpartitioned window prints `Window [exprs], [order]` (or `[exprs]` alone),
a partitioned one without ordering `Window [exprs], [partition]`. Order
items end in `ASC`/`DESC NULLS FIRST|LAST`; partition items never do.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _top_level_groups(s: str) -> list[str]:
    """The top-level [...] groups in a plan line after 'Window '."""
    depth = 0
    groups = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups.append("")
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
        elif depth:
            groups[-1] += ch
    return groups


def _unpartitioned(line: str) -> bool:
    """Whether a Window plan line has no partition spec: after the
    expression group, the next group is absent or holds sort orders."""
    groups = _top_level_groups(line.split("Window ", 1)[1])
    return len(groups) < 2 or bool(
        re.search(r" (?:ASC|DESC) NULLS (?:FIRST|LAST)", groups[1])
    )


def _window_lines(plan: str) -> list[str]:
    return [
        line.strip()
        for line in plan.splitlines()
        if re.search(r"\bWindow\b \[", line) and "windowspecdefinition" in line
    ]


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in entrymod.queries().items():
        out[name] = (
            fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
    return out


def test_no_cartesian_products(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == []


def test_no_unpartitioned_windows(plans):
    offenders = {}
    for name, plan in plans.items():
        for line in _window_lines(plan):
            if _unpartitioned(line):
                offenders.setdefault(name, []).append(line[:120])
    assert offenders == {}


def test_window_detector_flags_global_window(spark):
    """Self-test: the detector must flag deliberately global windows,
    ordered or not, else the audit above is vacuous — and must pass
    partitioned ones, with or without ordering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    for spec, flagged in (
        (Window.orderBy("id"), True),
        (Window.partitionBy(), True),
        (Window.partitionBy("g").orderBy("id"), False),
        (Window.partitionBy("g"), False),
    ):
        plan = df.withColumn("m", F.max("id").over(spec))._jdf
        lines = _window_lines(plan.queryExecution().executedPlan().toString())
        assert lines and all(_unpartitioned(x) == flagged for x in lines), (
            spec, lines
        )


def test_enrichment_join_is_broadcast(plans):
    assert "BroadcastHashJoin" in plans["j1_enrichment_join"]


def test_store_scan_pushdown_reaches_parquet(plans):
    # the site/plugin filter must reach the scan, not sit in a Filter above
    assert "PushedFilters: [" in plans["s6_store_scan_pushdown"]
