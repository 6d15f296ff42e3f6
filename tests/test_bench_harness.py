"""bench.py's ``run_gate`` is the one loop that times a gate (the
battery, the warm battery and tools/profile_gate.py run through it):
it counts the same rows as a plain ``count()``, reads the same nonzero
job count on every call, and leaves no persist behind. The job window
it reads survives a status store that evicts stages. Every tool still
imports after a helper moves."""

import glob
import importlib.util
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
import bench
from panoptes_spark.pipeline import dedup

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", ["j1_enrichment_join", "p1_dsl_metadata_like"])
def test_run_gate_counts_jobs_and_releases(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    rows = fn(spark, sf_dir).count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    seen = []
    for _ in range(2):
        r = bench.run_gate(spark, fn, sf_dir)
        assert r["rows"] == rows
        assert r["jobs"] > 0
        assert not dedup._MATERIALIZED
        assert cache.isEmpty()
        seen.append(r["jobs"])
    assert seen[0] == seen[1], seen


# a job that reuses a shuffle skips its map stage; once the store is
# past spark.ui.retainedStages, the next job's stages evict that
# skipped stage while the window is still open
EVICTED_STAGE = """
from operator import add
from panoptes_spark.session import get_spark, spark_jobs
spark = get_spark(master="local[2]", extra_conf={"spark.ui.retainedStages": "4"})
sc = spark.sparkContext
def shuffled(n):
    return sc.parallelize(range(n), 4).map(lambda x: (x % 3, 1)).reduceByKey(add)
reused = shuffled(100)
reused.count()
for _ in range(4):
    shuffled(10).count()
with spark_jobs(spark) as window:
    reused.count()
    shuffled(10).count()
print(window["jobs"], len(window["stages"]))
"""


def test_job_window_survives_evicted_stages():
    out = subprocess.run(
        [sys.executable, "-c", EVICTED_STAGE],
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # 2 jobs; the reused job's result stage plus the second job's two
    assert out.stdout.split()[-2:] == ["2", "3"], out.stdout


@pytest.mark.parametrize(
    "path",
    [os.path.join(ROOT, "bench.py")]
    + sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))),
    ids=os.path.basename,
)
def test_tool_imports(path):
    """Importing a tool resolves every name it imports; main() is not run."""
    mod = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"_tool_{mod}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
