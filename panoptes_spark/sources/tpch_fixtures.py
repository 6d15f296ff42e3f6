"""Map the driver's TPC-H-ish testdata onto the telemetry data model.

The driver materializes deterministic tables (TESTDATA.md); the reference's
entities map as (FIXTURES.md §8): customer⋈nation⋈region → ``resources``
(entity table with metadata), small dims → enrichment lookups, ``events`` →
the metric-point stream.

Every derivation exists twice, by construction: a Spark DataFrame builder and
a DuckDB CTE string computing the identical relation — the correctness gate
runs both and hash-compares. Keep them in lockstep.

Scale notes: the derivation joins are dim-sized (nation 25, region 5) and
explicitly broadcast; the only big tables are lineitem/orders/events, which
are never collected to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet(f"{sf_dir}/{name}.parquet")``, resolved once
    per session and table content: re-planning a static path re-lists
    files and re-reads footers (~90 ms per call on local[32]), so a
    repeat read returns the same plan object until the table changes."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memo.cached(
        spark, ("relation", path), [path], lambda: spark.read.parquet(path)
    )


# ---------------------------------------------------------------------------
# resources <- customer ⋈ nation ⋈ region
# ---------------------------------------------------------------------------

# DuckDB CTE computing the flat resources relation (metadata as meta_* cols).
RESOURCES_CTE = """
resources_flat AS (
  SELECT
    r.r_name AS resource_site,
    CASE WHEN c.c_acctbal < 0 THEN 'system' ELSE 'network' END AS resource_class,
    lower(c.c_mktsegment) AS resource_subclass,
    CASE c.c_custkey % 4 WHEN 0 THEN 'arista' WHEN 1 THEN 'cisco'
         WHEN 2 THEN 'juniper' ELSE 'generic' END AS resource_type,
    c.c_name AS resource_id,
    c.c_name || '.example.com' AS resource_endpoint,
    CAST(c.c_custkey AS DOUBLE) AS resource_creation_timestamp,
    'discovery_tpch' AS resource_plugin,
    CASE c.c_custkey % 4 WHEN 0 THEN 'Arista' WHEN 1 THEN 'Cisco'
         WHEN 2 THEN 'Juniper' ELSE 'Generic' END AS meta_make,
    'model-' || CAST(c.c_custkey % 7 AS VARCHAR) AS meta_model,
    CAST(c.c_custkey % 4 + 1 AS VARCHAR) || '.' ||
        CAST(c.c_custkey % 10 AS VARCHAR) AS meta_os_version
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
)
"""

_FLAT_COLS = [
    "resource_site",
    "resource_class",
    "resource_subclass",
    "resource_type",
    "resource_id",
    "resource_endpoint",
    "resource_creation_timestamp",
    "resource_plugin",
    "meta_make",
    "meta_model",
    "meta_os_version",
]


def resources_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat resources relation (metadata as meta_* columns) — must equal the
    RESOURCES_CTE relation row-for-row."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    make = (
        F.when(F.col("c_custkey") % 4 == 0, "Arista")
        .when(F.col("c_custkey") % 4 == 1, "Cisco")
        .when(F.col("c_custkey") % 4 == 2, "Juniper")
        .otherwise("Generic")
    )
    return joined.select(
        F.col("r_name").alias("resource_site"),
        F.when(F.col("c_acctbal") < 0, "system")
        .otherwise("network")
        .alias("resource_class"),
        F.lower("c_mktsegment").alias("resource_subclass"),
        F.lower(make).alias("resource_type"),
        F.col("c_name").alias("resource_id"),
        F.concat(F.col("c_name"), F.lit(".example.com")).alias("resource_endpoint"),
        F.col("c_custkey").cast("double").alias("resource_creation_timestamp"),
        F.lit("discovery_tpch").alias("resource_plugin"),
        make.alias("meta_make"),
        F.concat(F.lit("model-"), (F.col("c_custkey") % 7).cast("string")).alias(
            "meta_model"
        ),
        F.concat(
            (F.col("c_custkey") % 4 + 1).cast("string"),
            F.lit("."),
            (F.col("c_custkey") % 10).cast("string"),
        ).alias("meta_os_version"),
    )


def resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed resources DataFrame with MapType metadata (the engine's native
    shape, schemas.RESOURCE_SCHEMA)."""
    flat = resources_flat(spark, sf_dir)
    return flat.select(
        *[c for c in _FLAT_COLS if not c.startswith("meta_")],
        F.create_map(
            F.lit("make"), F.col("meta_make"),
            F.lit("model"), F.col("meta_model"),
            F.lit("os_version"), F.col("meta_os_version"),
            F.lit("_resource_ttl"), F.lit("604800"),
        ).alias("resource_metadata"),
    )


def flat_view(df: DataFrame) -> DataFrame:
    """Project the MapType metadata back to flat meta_* columns (for oracle
    comparison of DSL query results)."""
    return df.select(
        *[c for c in _FLAT_COLS if not c.startswith("meta_")],
        F.element_at("resource_metadata", F.lit("make")).alias("meta_make"),
        F.element_at("resource_metadata", F.lit("model")).alias("meta_model"),
        F.element_at("resource_metadata", F.lit("os_version")).alias("meta_os_version"),
    )


# ---------------------------------------------------------------------------
# metric points <- events
# ---------------------------------------------------------------------------

# Events as counter samples: series identity (reference _make_key,
# polling_plugin_agent.py:157-171) = (device=user_id, group=event_type).
# ts_ms as BIGINT on both engines avoids float-epoch drift in hashes.
EVENTS_POINTS_CTE = """
metric_points AS (
  SELECT
    'user-' || CAST(user_id AS VARCHAR) AS resource_id,
    event_type AS metrics_group_type,
    epoch_ms(ts) AS ts_ms,
    value AS metric_value,
    event_id
  FROM events
)
"""


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; read nanos as long (runtime conf) and expose both the
    raw ``ts_ns`` and an epoch-ms ``ts_ms`` column."""
    path = os.path.join(sf_dir, "events.parquet")
    return memo.cached(
        spark, ("events", sf_dir), [path], lambda: _events_ts_ms(spark, sf_dir)
    )


def _events_ts_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = read_table(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":
        # integer div: nanos exceed 2^53, double division would round
        ts_ms = F.expr("ts div 1000000")
    else:
        # micros-precision TIMESTAMP or TIMESTAMP_NTZ; the session timezone
        # is pinned to UTC (session.py) so the NTZ->LTZ cast is epoch-faithful
        # and matches DuckDB's epoch_ms() on the same naive timestamps.
        ts_ms = F.expr("unix_micros(cast(ts as timestamp)) div 1000")
    return e.withColumn("ts_ms", ts_ms)


def metric_points_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_events(spark, sf_dir)
    return e.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("resource_id"),
        F.col("event_type").alias("metrics_group_type"),
        "ts_ms",
        F.col("value").alias("metric_value"),
        "event_id",
    )


# ---------------------------------------------------------------------------
# enrichment <- customer (per-device lookup, broadcast-sized)
# ---------------------------------------------------------------------------

ENRICHMENT_CTE = """
enrichment_flat AS (
  SELECT
    'user-' || CAST(c_custkey AS VARCHAR) AS resource_id,
    'interface' AS namespace,
    CAST(c_custkey % 8 AS VARCHAR) AS key,
    lower(c_mktsegment) AS segment,
    CAST((c_custkey % 4 + 1) * 10000 AS BIGINT) AS configured_speed
  FROM customer
)
"""


# ---------------------------------------------------------------------------
# OID tables <- lineitem (long-format input for the metric-computation DSL)
# ---------------------------------------------------------------------------

# Five devices; per (device, sensor-index) a reading (max quantity) and, for
# every 4th index, a scale factor — giving the indices_from-subset shape the
# DSL doc exercises (Generic_SNMP_Polling_DSL.md "indices_from").
OID_TABLES_CTE = """
oid_base AS (
  SELECT 'dev-' || CAST(l_suppkey % 5 AS VARCHAR) AS device_id,
         l_partkey % 40 AS idx,
         CAST(max(l_quantity) AS BIGINT) AS maxq
  FROM lineitem GROUP BY 1, 2
),
sensor_value AS (
  SELECT device_id, CAST(idx AS VARCHAR) AS index, CAST(maxq AS VARCHAR) AS value
  FROM oid_base
),
sensor_scale AS (
  SELECT device_id, CAST(idx AS VARCHAR) AS index,
         CAST(idx % 3 + 1 AS VARCHAR) AS value
  FROM oid_base WHERE idx % 4 = 0
),
sensor_name AS (
  SELECT device_id, CAST(idx AS VARCHAR) AS index,
         CASE WHEN idx % 9 = 0 THEN '' ELSE 'S' || CAST(idx AS VARCHAR) END AS value
  FROM oid_base
)
"""


def oid_tables_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    base = (
        li.select(
            F.concat(F.lit("dev-"), (F.col("l_suppkey") % 5).cast("string")).alias(
                "device_id"
            ),
            (F.col("l_partkey") % 40).alias("idx"),
            "l_quantity",
        )
        .groupBy("device_id", "idx")
        .agg(F.max("l_quantity").cast("long").alias("maxq"))
    )
    # one scan, one shuffle: the three OID tables are row variants of the
    # same aggregate, so explode an inline array instead of unioning three
    # branches (a union of uncached branches re-scans lineitem per branch —
    # 3x the I/O, which at 100 TB is the whole cost)
    idx_s = F.col("idx").cast("string")
    variants = F.array(
        F.struct(
            F.lit("sensor_value").alias("table_name"),
            idx_s.alias("index"),
            F.col("maxq").cast("string").alias("value"),
        ),
        F.struct(
            F.lit("sensor_scale").alias("table_name"),
            idx_s.alias("index"),
            (F.col("idx") % 3 + 1).cast("string").alias("value"),
        ),
        F.struct(
            F.lit("sensor_name").alias("table_name"),
            idx_s.alias("index"),
            F.when(F.col("idx") % 9 == 0, "")
            .otherwise(F.concat(F.lit("S"), idx_s))
            .alias("value"),
        ),
    )
    return (
        base.select("device_id", "idx", F.explode(variants).alias("t"))
        .where(
            (F.col("t.table_name") != "sensor_scale")
            | (F.col("idx") % 4 == 0)
        )
        .select("device_id", "t.table_name", "t.index", "t.value")
    )


def enrichment_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        F.concat(F.lit("user-"), F.col("c_custkey").cast("string")).alias(
            "resource_id"
        ),
        F.lit("interface").alias("namespace"),
        (F.col("c_custkey") % 8).cast("string").alias("key"),
        F.lower("c_mktsegment").alias("segment"),
        ((F.col("c_custkey") % 4 + 1) * 10000).cast("long").alias("configured_speed"),
    )
